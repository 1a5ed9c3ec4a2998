package perfbench

import graft.queries.GQuery
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The operator registry: `SparkEntry.queries` over the oracle tables.
  *
  * Rounds of three passes are timed, for the run's time and at least one:
  *
  *  - build: after clearing the memoized session state, every memoized frame
  *    and index is rebuilt by its first consumer;
  *  - reload: the same pass with the memoized state held;
  *  - edit: the pass after clearing one module's memoized state (Text, which
  *    holds most of it), so only its consumers rebuild.
  *
  * The first build pass is the JVM's first run of every query, as in a
  * user's job, so it pays JIT and code-generation warm-up too. A phase's
  * time is the sum over queries of each query's median over rounds. After
  * the timed passes, an untimed pass checks every query's row count against
  * the oracle.
  *
  * The passes run a fixed sample of the registry, stratified by module
  * (`Stride`), in an order drawn from the seed. `--queries all` runs all of
  * it, one round and no overhead passes, for the full per-query record.
  */
final class RegistryBench(opts: Opts) extends Workload(opts) {
  import RegistryBench._

  private def clearMemo(): Unit = {
    graft.queries.Text.clearCaches(spark)
    graft.queries.Tokenize.clearCaches(spark)
    graft.queries.Vectors.clearIndexCache(spark)
    graft.queries.Relational.clearBucketedCache(spark)
  }

  private def pass(ph: String, order: Seq[(String, GQuery)]): Map[String, Double] = {
    tr.phase = ph
    order.flatMap { case (module, q) =>
      attempted += 1
      try {
        val dt = tr.timed(s"queries.$module", q.name)(Common.noop(q.fn(spark, o.data)))._2
        Main.progress(f"$ph%-8s ${q.name}%-40s $dt%8.3f s")
        Some(q.name -> dt)
      } catch {
        case e: Exception =>
          failures += ((s"$ph/${q.name}", Tracer.describe(e)))
          None
      }
    }.toMap
  }

  /** Untimed: runs each query once and returns its exact output row count. */
  private def rowCounts(order: Seq[(String, GQuery)]): Map[String, Long] =
    order.flatMap { case (_, q) =>
      attempted += 1
      try {
        val obs = Observation("rows")
        Common.noop(q.fn(spark, o.data).observe(obs, count(lit(1)).as("rows")))
        Some(q.name -> obs.get("rows").asInstanceOf[Long])
      } catch {
        case e: Exception =>
          failures += ((s"rows/${q.name}", Tracer.describe(e)))
          None
      }
    }.toMap

  def run(): Outcome = {
    val (s, registry, setupTimes) = Common.setup(o) { _ => modules() }
    spark = s
    tr = new Tracer(spark, o.trace)
    val chosen = if (o.allQueries) registry else sample(registry)
    val order = new scala.util.Random(o.seed).shuffle(chosen)

    tr.attach()
    val t0 = System.nanoTime()
    val rounds = ArrayBuffer.empty[Round]
    var stored = 0L
    var memoBuild = Map.empty[String, Double]
    var counters = Counters()
    var wall = 0.0
    while (rounds.isEmpty || (!o.allQueries && (System.nanoTime() - t0) / 1e9 < o.seconds)) {
      clearMemo()
      val (build, bw, cb) = tr.region(pass("build", order))
      if (rounds.isEmpty) {
        stored = Common.retainedBytes(spark) + Common.dirBytes(System.getProperty("java.io.tmpdir"))
        memoBuild = graft.queries.Text.buildTimings(spark)
      }
      val (reload, rw, cr) = tr.region(pass("reload", order))
      graft.queries.Text.clearCaches(spark)
      val (edit, ew, ce) = tr.region(pass("edit", order))
      if (rounds.isEmpty) { counters = cb + cr + ce; wall = bw + rw + ew }
      rounds += Round(build, reload, edit)
    }
    val overhead = if (o.trace && !o.allQueries)
      Some(tr.overhead(pass("overhead", order).values.sum)) else None
    tr.detach()

    val rows = rowCounts(order)
    val oracle = OracleRows.load(s"${o.data}/../oracle_rows.json")
    val wrong = order.map(_._2.name).filter(n => !rows.get(n).exists(r => oracle.get(n).contains(r)))
    check("every query's row count equals its oracle row count", wrong.isEmpty,
      wrong.map(n => s"$n: ${rows.get(n)} vs ${oracle.get(n)}").mkString("; "))
    spark.stop()

    val names = order.map(_._2.name)
    def perQuery(f: Round => Map[String, Double]): Seq[(String, Double)] =
      names.flatMap(n => Some(rounds.flatMap(r => f(r).get(n)).toSeq).filter(_.nonEmpty)
        .map(n -> Common.median(_)))
    val build = perQuery(_.build)
    val reload = perQuery(_.reload)
    val edit = perQuery(_.edit)
    val endToEnd = Seq(
      ("setup_s", Common.median(setupTimes), "s"),
      ("build_s", build.map(_._2).sum, "s"),
      ("reload_s", reload.map(_._2).sum, "s"),
      ("edit_s", edit.map(_._2).sum, "s"),
      // over the two warm passes: in the cold one, which query runs first
      // decides which pays most of the warm-up
      ("query_p50_s", Common.median((reload ++ edit).map(_._2)), "s"),
      ("stored_mb", stored / 1e6, "MB"))
    val perLayer = Tracer.runtimeMetrics(counters, wall, o.cores)
      .map { case (n, v) => (n, v, Main.unitOf(n)) } ++ Main.overheadMetrics(overhead)

    val buildSpans = tr.spans.filter(_.phase == "build").take(order.size).toSeq
    val detail: scala.collection.Map[String, Any] = if (!o.trace) Map.empty else {
      val m = mutable.LinkedHashMap.empty[String, Any]
      val moduleOf = order.map { case (module, q) => q.name -> module }.toMap
      for (module <- Modules)
        m(s"queries.${module}_s") = build.filter(b => moduleOf(b._1) == module).map(_._2).sum
      m("memo.build_s") = memoBuild.values.sum
      for ((stage, sec) <- memoBuild.toSeq.sortBy(_._1)) m(s"memo.$stage.build_s") = sec
      m
    }
    val queries = if (!o.trace) Nil else buildSpans.map { sp =>
      val d = sp.delta
      Map(
        "query" -> sp.call, "module" -> sp.layer.stripPrefix("queries."),
        "wall_s" -> sp.wallS, "plan_ms" -> d.planMs, "jobs" -> d.jobs, "stages" -> d.stages,
        "tasks" -> d.tasks, "exec_run_s" -> d.runMs / 1e3, "exec_cpu_s" -> d.cpuNs / 1e9,
        "shuffle_write_bytes" -> d.shuffleWriteB, "shuffle_read_bytes" -> d.shuffleReadB,
        "spill_bytes" -> d.spillB, "gc_s" -> d.gcMs / 1e3, "rows_out" -> rows.get(sp.call),
        "build_median_s" -> build.toMap.get(sp.call),
        "reload_median_s" -> reload.toMap.get(sp.call),
        "edit_median_s" -> edit.toMap.get(sp.call),
        "error" -> sp.error)
    }
    Outcome(endToEnd, perLayer, attempted, failures.toSeq, checks.toSeq, Map(
      "queries_run" -> names,
      "query_times_s" -> Map("build" -> build.toMap, "reload" -> reload.toMap, "edit" -> edit.toMap),
      "setup_times_s" -> setupTimes,
      "rounds" -> rounds.size,
      "layers" -> detail,
      "per_query" -> queries))
  }

}

object RegistryBench {
  final case class Round(
      build: Map[String, Double], reload: Map[String, Double], edit: Map[String, Double])

  /** Query modules in registry order, as `SparkEntry.registry` lists them. */
  val Modules = Seq("Relational", "Spikes", "Text", "Vectors", "Engine", "Media", "Tokenize")

  /** One query in `Stride` per module, at least one per module. */
  val Stride = 18

  def modules(): Seq[(String, GQuery)] = {
    import graft.queries._
    val byModule = Seq(Relational.all, Spikes.all, Text.all, Vectors.all, Engine.all,
      Media.all, Tokenize.all)
    val listed = Modules.zip(byModule).flatMap { case (m, qs) => qs.map(m -> _) }
    require(listed.map(_._2.name).toSet == graft.SparkEntry.queries.keySet,
      "the module lists and SparkEntry.queries disagree")
    listed
  }

  /** A fixed sample: per module, the first ceil(n / Stride) queries in the
    * order of the MD5 of their names, so it does not depend on run time.
    */
  def sample(all: Seq[(String, GQuery)]): Seq[(String, GQuery)] =
    all.groupBy(_._1).toSeq.sortBy(m => Modules.indexOf(m._1)).flatMap { case (_, qs) =>
      qs.sortBy(q => md5(q._2.name)).take((qs.size + Stride - 1) / Stride)
    }

  private def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
    .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

/** Row counts of every registry query on the oracle tables, as the DuckDB
  * oracle computed them (a flat JSON object of name to count).
  */
object OracleRows {
  def load(path: String): Map[String, Long] = {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    """"([^"]+)"\s*:\s*(\d+)""".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}
