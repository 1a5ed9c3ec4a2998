package graft.engine

import graft.SparkSuite
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A cache hit costs no Spark job: each parquet frame's schema is stored in
  * the manifest at write time, so a warm `MultiAnalyzer` reads every frame
  * and every feature without an inference job. Manifests written before
  * schemas were recorded reload without a recompute, and a torn manifest
  * rebuilds instead of throwing.
  */
class CacheHitJobsSpec extends SparkSuite {

  /** The campaign's inputs, written once for the suite. */
  private lazy val inputs: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cachehit").toString
    for (s <- 0 until 2)
      (1 to 200).map(k => (k * 4.0 + s, ((k * 7 + s) % 10).toLong))
        .toDF("time", "gid").write.parquet(s"$dir/sim$s")
    (0L until 10L).map(g => (g, g % 2)).toDF("gid", "etype").write.parquet(s"$dir/nodes")
    Files.writeString(Paths.get(dir, "campaign.yaml"),
      s"""name: c
         |attrs: {path_prefix: "$dir"}
         |data:
         |  - {simulation_path: sim0, circuit_path: "$dir/nodes", ca: 1.0}
         |  - {simulation_path: sim1, circuit_path: "$dir/nodes", ca: 2.0}
         |""".stripMargin)
    dir
  }

  /** An analysis config caching under `root`; returns it and the cache dir. */
  private def config(root: String): (String, String) = {
    val cfg = Paths.get(root, "analysis.yaml")
    Files.writeString(cfg,
      s"""simulation_campaign: $inputs/campaign.yaml
         |cache: {path: $root/cache}
         |analysis:
         |  s:
         |    extraction:
         |      report: {type: spikes}
         |      neuron_classes: {exc: {query: {etype: 0}}, all: {}}
         |      windows:
         |        full: {bounds: [0, 1000]}
         |        trials: {bounds: [0, 100], n_trials: 2, trial_steps_value: 200}
         |    features:
         |      - groupby: [simulation_id, circuit_id, neuron_class, window]
         |        function: mean_firing_rates
         |      - groupby: [simulation_id, circuit_id, neuron_class, window]
         |        function: histograms
         |        params_product: {bin_size: [20.0, 50.0]}
         |""".stripMargin)
    (cfg.toString, s"$root/cache/s")
  }

  /** Opens the campaign, hands out the five frames and every feature
    * (no action), closes it, and returns the frames.
    */
  private def open(cfg: String): Map[String, DataFrame] = {
    val ma = MultiAnalyzer.fromFile(spark, cfg)
    try {
      val a = ma("s")
      val repo = Repository.Names.map(n => s"repo/$n" -> a.df(n))
      val feats = a.calculateFeatures()
      (repo ++ feats.keys.map(k => s"features/$k" -> feats(k))).toMap
    } finally ma.close()
  }

  /** Order-free checksum of each frame: row count and summed row hash. */
  private def sums(frames: Map[String, DataFrame]): Map[String, (Long, BigDecimal)] =
    frames.map { case (k, df) =>
      val h = xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")
      val r = df.agg(count(lit(1)), sum(h)).head()
      k -> ((r.getLong(0), BigDecimal(r.getDecimal(1))))
    }

  /** Data-file names per cached frame: a rewrite gives new part names. */
  private def listing(cache: String): Map[String, Set[String]] =
    (for {
      kind <- Seq("repo", "features")
      entry <- Files.list(Paths.get(cache, kind)).iterator().asScala.toList
    } yield s"$kind/${entry.getFileName}" ->
      Files.list(entry).iterator().asScala.map(_.getFileName.toString)
        .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet).toMap

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def manifest(cache: String): Map[String, String] =
    mapper.readTree(Paths.get(cache, "manifest.json").toFile)
      .properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap

  /** The stored-file digest as first written: every part read whole. */
  private def legacyDigest(p: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val dir = Paths.get(p)
    val files = Files.list(dir).iterator().asScala
      .map(f => dir.relativize(f).toString).toSeq.sorted
    for (f <- files.filterNot(n =>
        n.endsWith(".crc") || n.startsWith("_") || n.startsWith("."))) {
      md.update(f.getBytes("UTF-8"))
      md.update(java.security.MessageDigest.getInstance("MD5")
        .digest(Files.readAllBytes(dir.resolve(f))))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** A cache built once for the suite, and the build's checksums. */
  private lazy val built: (String, Map[String, (Long, BigDecimal)]) = {
    val (cfg, cache) = config(Files.createTempDirectory("graft-cachehit-built").toString)
    val sums0 = sums(open(cfg))
    assert(sums0.size > Repository.Names.size, s"frames: ${sums0.keys}")
    assert(sums0.values.forall(_._1 > 0))
    (cache, sums0)
  }

  /** A copy of the built cache under a fresh root: its config, its cache
    * dir and the build's checksums.
    */
  private def warm(): (String, String, Map[String, (Long, BigDecimal)]) = {
    val (src, sums0) = built
    val (cfg, cache) = config(Files.createTempDirectory("graft-cachehit-warm").toString)
    val from = Paths.get(src)
    Files.createDirectories(Paths.get(cache).getParent)
    Files.walk(from).iterator().asScala.foreach { f =>
      Files.copy(f, Paths.get(cache).resolve(from.relativize(f).toString))
    }
    (cfg, cache, sums0)
  }

  test("a warm cache hit launches no Spark job") {
    val (cfg, cache, built) = warm()
    val before = listing(cache)
    val (reloaded, jobs) = JobCounter(spark.sparkContext)(open(cfg))
    assert(jobs == 0, s"a cache hit launched $jobs Spark jobs")
    assert(sums(reloaded) == built)
    assert(listing(cache) == before, "a reload rewrote the cache")
    val m = manifest(cache)
    val frames = m.keys.filterNot(_.contains("#"))
    assert(frames.size == built.size)
    assert(frames.forall(k => m.contains(s"$k#schema")), s"manifest: ${m.keys}")
  }

  test("a manifest without schemas reloads without a recompute and records them") {
    val (cfg, cache, built) = warm()
    val m = manifest(cache)
    // the digest is unchanged from the whole-file form, so caches written
    // before it was streamed stay valid
    for (k <- m.keys.filter(_.endsWith("#files")))
      assert(m(k) == legacyDigest(s"$cache/${k.stripSuffix("#files")}.parquet"), k)
    // the manifest as first written: flat, no schemas
    val legacy = m.filterNot(_._1.endsWith("#schema")).toSeq.sorted
      .map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
    Files.writeString(Paths.get(cache, "manifest.json"), legacy)
    val before = listing(cache)
    assert(sums(open(cfg)) == built)
    assert(listing(cache) == before, "a legacy manifest forced a recompute")
    val m2 = manifest(cache)
    assert(m2 == m, "the inferred schemas differ from those written at build")
    val (_, jobs) = JobCounter(spark.sparkContext)(open(cfg))
    assert(jobs == 0, s"after the schemas were recorded a reload launched $jobs jobs")
  }

  test("a truncated manifest rebuilds the cache and does not throw") {
    val (cfg, cache, built) = warm()
    val mp = Paths.get(cache, "manifest.json")
    val txt = Files.readString(mp)
    Files.writeString(mp, txt.take(txt.length / 2))
    val before = listing(cache)
    assert(sums(open(cfg)) == built)
    val after = listing(cache)
    assert(before.keys.forall(k => after(k) != before(k)), "a frame was not rebuilt")
    assert(manifest(cache).keys.count(!_.contains("#")) == built.size)
    assert(!Files.list(Paths.get(cache)).iterator().asScala
      .exists(_.getFileName.toString.endsWith(".tmp")), "a temp manifest was left behind")
  }
}
