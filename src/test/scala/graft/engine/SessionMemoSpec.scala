package graft.engine

import graft.SparkSuite
import java.util.concurrent.atomic.AtomicInteger

/** The session memo's own contract, with no queries: namespace- and
  * session-scoped clears, exactly-once releases, nested builds, build
  * seconds that do not double-count nested builds, and no entry left by
  * a failed build. Each test uses fresh sessions (sharing the suite's
  * SparkContext) and its own namespaces, so clears never touch the
  * query registry's state.
  */
class SessionMemoSpec extends SparkSuite {

  private def fresh() = spark.newSession()

  /** A slot whose release counts per value. */
  private def counted(ns: SessionMemo.Namespace, name: String,
      released: collection.mutable.Map[String, Int]) =
    ns.slot[String, String](name)((_, v) => released.synchronized {
      released(v) = released.getOrElse(v, 0) + 1
    })

  test("clear(s, ns) releases only that namespace's entries, only for that session") {
    val (s1, s2) = (fresh(), fresh())
    val released = collection.mutable.Map.empty[String, Int]
    val a = counted(SessionMemo.namespace("memo-spec-a"), "x", released)
    val b = counted(SessionMemo.namespace("memo-spec-b"), "x", released)
    a.getOrElseUpdate((s1, "k"), "a1")
    a.getOrElseUpdate((s2, "k"), "a2")
    b.getOrElseUpdate((s1, "k"), "b1")
    SessionMemo.clear(s1, "memo-spec-a")
    assert(released.toMap == Map("a1" -> 1), s"released: $released")
    assert(a.get((s1, "k")).isEmpty)
    assert(a.get((s2, "k")).contains("a2"), "another session's entry was dropped")
    assert(b.get((s1, "k")).contains("b1"), "another namespace's entry was dropped")
    SessionMemo.clear(s1)
    assert(released.toMap == Map("a1" -> 1, "b1" -> 1), s"released: $released")
    assert(a.get((s2, "k")).contains("a2"))
    SessionMemo.clear(s2)
    assert(released.toMap == Map("a1" -> 1, "b1" -> 1, "a2" -> 1))
  }

  test("each release runs exactly once") {
    val s = fresh()
    val released = collection.mutable.Map.empty[String, Int]
    val ns = SessionMemo.namespace("memo-spec-once")
    val x = counted(ns, "x", released)
    x.getOrElseUpdate((s, "k1"), "v1")
    x.getOrElseUpdate((s, "k2"), "v2")
    x.remove((s, "k1"))
    x.remove((s, "k1"))
    ns.clear(s)
    ns.clear(s)
    SessionMemo.clear(s)
    // a put that replaces a value releases the replaced one, once
    x.put((s, "k3"), "v3")
    x.put((s, "k3"), "v3b")
    ns.clear(s)
    assert(released.toMap == Map("v1" -> 1, "v2" -> 1, "v3" -> 1, "v3b" -> 1),
      s"released: $released")
  }

  test("a slot whose build reads another slot works") {
    val s = fresh()
    val ns = SessionMemo.namespace("memo-spec-nest")
    val builds = new AtomicInteger()
    val inner = ns.forget[String, Int]("inner")
    val outer = ns.forget[String, Int]("outer")
    def innerOf(k: String) = inner.getOrElseUpdate((s, k), { builds.incrementAndGet(); 20 })
    def outerOf(k: String) = outer.getOrElseUpdate((s, k), innerOf(k) + 1)
    assert(outerOf("k") == 21)
    assert(outerOf("k") == 21 && innerOf("k") == 20)
    assert(builds.get == 1, "the nested slot was rebuilt despite its entry")
    assert(inner.get((s, "k")).contains(20) && outer.get((s, "k")).contains(21))
    ns.clear(s)
  }

  test("nested build time is not counted twice") {
    val s = fresh()
    val ns = SessionMemo.namespace("memo-spec-time")
    val inner = ns.forget[String, Int]("inner")
    val outer = ns.forget[String, Int]("outer")
    val t0 = System.nanoTime()
    outer.getOrElseUpdate((s, "k"), {
      Thread.sleep(100)
      inner.getOrElseUpdate((s, "k"), { Thread.sleep(300); 1 }) + 1
    })
    val wall = (System.nanoTime() - t0) / 1e9
    val secs = ns.buildSeconds(s)
    assert(secs.keySet == Set("inner", "outer"), s"$secs")
    assert(secs("inner") >= 0.3, s"$secs")
    assert(secs("outer") >= 0.1 && secs("outer") < 0.3,
      s"outer build absorbed the nested build: $secs")
    assert(secs.values.sum <= wall + 1e-3, s"$secs sum past the wall time $wall")
    // recorded (not built) values carry no build seconds
    ns.forget[String, Int]("recorded").put((s, "k"), 7)
    assert(ns.buildSeconds(s).keySet == Set("inner", "outer"))
    ns.clear(s)
    assert(ns.buildSeconds(s).isEmpty)
  }

  test("a build that throws leaves no entry, so the next call rebuilds") {
    val s = fresh()
    val ns = SessionMemo.namespace("memo-spec-fail")
    val slot = ns.forget[String, Int]("x")
    val outer = ns.forget[String, Int]("outer")
    val attempts = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      slot.getOrElseUpdate((s, "k"), {
        attempts.incrementAndGet(); throw new IllegalStateException("boom")
      })
    }
    assert(e.getMessage == "boom")
    assert(slot.get((s, "k")).isEmpty, "a failed build left an entry")
    assert(slot.getOrElseUpdate((s, "k"), { attempts.incrementAndGet(); 5 }) == 5)
    assert(attempts.get == 2)
    // a failed nested build leaves the enclosing build's timing sane
    intercept[IllegalStateException] {
      outer.getOrElseUpdate((s, "k"),
        slot.getOrElseUpdate((s, "other"), throw new IllegalStateException("inner")))
    }
    assert(outer.get((s, "k")).isEmpty && slot.get((s, "other")).isEmpty)
    assert(outer.getOrElseUpdate((s, "k"), 9) == 9)
    ns.clear(s)
  }
}
