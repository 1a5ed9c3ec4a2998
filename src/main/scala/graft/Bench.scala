package graft

/** Benchmark main: per-query wall seconds at SPARK_GRAFT_SF_DIR.
  *
  * Protocol (documented in BASELINE.md):
  *   - pass 0 is TIMED and reported as `cold`: first execution of each
  *     query in this JVM — JIT/codegen warm-up, parquet footers, and (for
  *     the memoized dedup/ANN pipelines) the persisted-frame/index BUILD
  *     cost all land here. `pipeline_build` attributes the dedup-pipeline
  *     build stages (shingles/candidates/scored_pairs) separately so the
  *     first-alphabetical consumer's cold number is interpretable.
  *   - passes 1 and 2 are timed and the min is reported per query (the
  *     `queries` map + `total`): steady-state plan cost, where memoized
  *     frames are persisted-frame READS — the production shape for a
  *     pipeline that shares those frames across consumers.
  *   - between passes the session's persisted state is dropped and
  *     rebuilt once (pass 1 rebuilds, pass 2 reuses).
  *
  * Output contract:
  *   - stdout, line 1: the full per-query contract line —
  *     {"metric","value","unit","n_failed","failed_queries","queries",
  *     "total_with_build","sf"} (warm numbers only). With 135 queries this
  *     line is ~4,000 chars and does NOT survive a bounded tail capture —
  *     which is why it is printed FIRST, not last.
  *   - stdout, LAST line: a compact (<300 byte) summary —
  *     {"metric","value","unit","n_failed","total_with_build","gc_sec",
  *     "load","sf"} — so any bounded stdout-tail capture (the driver keeps
  *     ~2,000 chars) always ends with one complete, parseable JSON record
  *     that also self-identifies a contaminated window (gc/load).
  *   - target/bench.json: the FULL record (warm + cold + gc_sec + load +
  *     pipeline_build + errors), written atomically before the stdout
  *     lines. Stdout tails get truncated; the file is the canonical
  *     artifact. `errors` maps each failed query to its first failure's
  *     `Class: message`, in the form of Verify's errors.json.
  *   - `gc_sec` (per-pass JVM collection-time delta) and `load` (per-pass
  *     1-min system load average at pass start, from the OS MXBean) make a
  *     contended run self-identifying: identical code with gc_sec or load
  *     far above the committed BASELINE.md values is a poisoned
  *     measurement, not a regression.
  *
  * All number formatting is Locale.ROOT: a comma-decimal default locale
  * must not emit invalid JSON.
  */
object Bench {
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }
  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def obj(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "perfbench/data/sf0.01")
    val spark = Main.session()
    // local-iteration filter (mirrors GRAFT_VERIFY_ONLY); driver runs unset
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def time(name: String): Double = {
      val t0 = System.nanoTime()
      try { SparkEntry.queries(name)(spark, sfDir).count() }
      catch { case e: Throwable =>
        errors.getOrElseUpdate(name, Verify.describe(e))
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    def pass(): (Map[String, Double], Double, Double) = {
      val g0 = gcMillis
      val l0 = loadAvg
      val r = names.map(n => n -> time(n)).toMap
      (r, (gcMillis - g0) / 1e3, l0)
    }
    val (cold, gcCold, loadCold) = pass() // cold: first execution + state builds
    val build = queries.Text.buildTimings(spark).toSeq.sortBy(_._1)
    engine.SessionMemo.clear(spark)
    val (r1, gc1, load1) = pass() // rebuilds memoized state once
    val (r2, gc2, load2) = pass() // steady state: persisted-frame reads
    val warm = names.map(n => n -> math.min(r1(n), r2(n))).toMap
    def fmt(m: Map[String, Double]) = obj(names.map(n => n -> m(n)))
    val total = warm.values.sum
    // failures (timed as -1) are named explicitly in EVERY record — a
    // majority-failed run must not be mistakable for a clean one
    val failed = names.filter(n => warm(n) < 0 || cold(n) < 0)
    val failedJson =
      s""""n_failed":${failed.size},"failed_queries":[${failed.map("\"" + _ + "\"").mkString(",")}]"""
    // total_with_build folds the memoized pipelines' pass-1 rebuild cost
    // back into a comparable headline: memoization can improve `value`
    // only by moving work into pipeline_build, and this number catches it
    val totalWithBuild = total + build.map(_._2).sum
    val head =
      s""""metric":"total","value":${num(total)},"unit":"sec",$failedJson,"queries":${fmt(warm)}""" +
      s""","total_with_build":${num(totalWithBuild)}"""
    val gcJson = s""""gc_sec":[${num(gcCold)},${num(gc1)},${num(gc2)}]"""
    val loadJson = s""""load":[${num(loadCold)},${num(load1)},${num(load2)}]"""
    val full = "{" + head +
      s""","cold":${fmt(cold)},"cold_total":${num(cold.values.sum)}""" +
      s""","pipeline_build":${obj(build)}""" +
      s""",$gcJson,$loadJson""" +
      s""","errors":${Verify.jsonObj(errors.toSeq)}""" +
      s""","sf":"$sfDir"}"""
    val out = java.nio.file.Paths.get("target", "bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
    spark.stop()
    // full per-query contract line FIRST (a bounded tail evicts its head),
    // compact summary LAST: a ~2,000-char tail capture always ends with a
    // complete parseable record carrying the total + window fingerprint.
    // The compact line stays bounded (<300 bytes) even on a majority-failed
    // run: failure count only, names live in the full record.
    println("{" + head + s""","sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","n_failed":${failed.size},"total_with_build":${num(totalWithBuild)},$gcJson,$loadJson,"sf":"$sfDir"}""")
    System.out.flush()
  }
}
