package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** The one memo for derived per-session state (persisted frames, on-disk
  * indexes, broadcasts, measured tuning choices), keyed by (session,
  * namespace, slot, key). Each entry carries its value, the release its
  * slot declared, and its build seconds; [[clear]] removes and releases
  * every entry of a session (and namespace), so declaring a slot IS
  * registering its release — no memo can be left out of a clear.
  *
  * Semantics are those of a per-module `TrieMap`: sessions compare by
  * identity and are held strongly (a weak key would never be collected —
  * a memoized DataFrame refers back to its session); a build runs outside
  * any lock (`TrieMap.getOrElseUpdate`), so it may read other slots, and
  * a build that throws leaves no entry. Build seconds exclude the builds
  * of nested slots, so no stage is counted twice.
  */
object SessionMemo {
  private final case class Key(s: SparkSession, ns: String, slot: String, k: Any)
  private final class Entry(val value: Any, val release: () => Unit, val secs: Double)

  private val entries = TrieMap.empty[Key, Entry]
  // per thread: the nested-build nanos of each enclosing running build
  private val nested = ThreadLocal.withInitial[List[Array[Long]]](() => Nil)

  private def timed[V](build: => V): (V, Double) = {
    val outer = nested.get
    val inner = Array(0L)
    nested.set(inner :: outer)
    val t0 = System.nanoTime()
    try {
      val v = build
      (v, (System.nanoTime() - t0 - inner(0)) / 1e9)
    } finally {
      nested.set(outer)
      outer.headOption.foreach(_(0) += System.nanoTime() - t0)
    }
  }

  /** One slot: values `V` per (session, key `K`), with the `TrieMap` API. */
  final class Slot[K, V] private[SessionMemo] (
      ns: String, name: String, release: (SparkSession, V) => Unit) {
    private def key(sk: (SparkSession, K)) = Key(sk._1, ns, name, sk._2)
    private def entry(sk: (SparkSession, K), v: V, secs: Double) =
      new Entry(v, () => release(sk._1, v), secs)

    def getOrElseUpdate(sk: (SparkSession, K), build: => V): V =
      entries.getOrElseUpdate(key(sk), {
        val (v, secs) = timed(build)
        entry(sk, v, secs)
      }).value.asInstanceOf[V]
    def get(sk: (SparkSession, K)): Option[V] = entries.get(key(sk)).map(_.value.asInstanceOf[V])
    def apply(sk: (SparkSession, K)): V = get(sk).get
    /** Record a value built elsewhere (no build seconds); releases a replaced one. */
    def put(sk: (SparkSession, K), v: V): Unit =
      entries.put(key(sk), entry(sk, v, Double.NaN)).foreach(_.release())
    def remove(sk: (SparkSession, K)): Unit = entries.remove(key(sk)).foreach(_.release())
    /** Remove and release matching keys in EVERY session (shared on-disk state). */
    def removeKeys(p: K => Boolean): Unit =
      releaseWhere(k => k.ns == ns && k.slot == name && p(k.k.asInstanceOf[K]))
  }

  /** A module's slots, each declared with its release. */
  final class Namespace private[SessionMemo] (name: String) {
    def slot[K, V](slot: String)(release: (SparkSession, V) => Unit): Slot[K, V] =
      new Slot(name, slot, release)
    /** Driver-side state: dropping the entry is the whole release. */
    def forget[K, V](slot: String): Slot[K, V] = this.slot(slot)((_, _) => ())
    def frames[K, V](slot: String)(fs: V => Seq[DataFrame]): Slot[K, V] =
      this.slot(slot)((_, v) => fs(v).foreach(_.unpersist()))
    def frame[K](slot: String): Slot[K, DataFrame] = frames[K, DataFrame](slot)(Seq(_))
    /** On-disk stores: drop the catalog tables, delete the root and take it
      * out of the exit reap set (the set keeps only live paths).
      */
    def store[K, V](slot: String)(tables: V => Seq[String], root: V => String): Slot[K, V] =
      this.slot(slot) { (s, v) =>
        tables(v).foreach(t => s.sql(s"DROP TABLE IF EXISTS `$t`"))
        MultiAnalyzer.deleteRecursively(new java.io.File(root(v)))
        TempReaper.unregister(root(v))
      }
    def clear(s: SparkSession): Unit = SessionMemo.clear(s, name)
    /** Build seconds per slot of `s`, summed over the slot's keys. */
    def buildSeconds(s: SparkSession): Map[String, Double] =
      entries.toSeq.collect {
        case (k, e) if (k.s eq s) && k.ns == name && !e.secs.isNaN => k.slot -> e.secs
      }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def namespace(name: String): Namespace = new Namespace(name)

  def clear(s: SparkSession, ns: String): Unit = releaseWhere(k => (k.s eq s) && k.ns == ns)
  def clear(s: SparkSession): Unit = releaseWhere(_.s eq s)

  /** Whoever removes an entry releases it, so each release runs once. */
  private def releaseWhere(p: Key => Boolean): Unit =
    entries.keys.toSeq.filter(p).foreach(k => entries.remove(k).foreach(_.release()))
}
