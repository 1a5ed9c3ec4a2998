package perfbench

import graft.engine.{MultiAnalyzer, Repository}
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The paper's workload: a multi-simulation campaign analysed through
  * `MultiAnalyzer`, in three phases per cycle.
  *
  *  - build: a fresh `MultiAnalyzer` on an empty cache extracts the five
  *    frames and computes every feature, writing each through the cache;
  *  - reload: a fresh `MultiAnalyzer` on the filled cache loads them all;
  *  - edit: a fresh `MultiAnalyzer` on a config with one feature's params
  *    changed and a narrower simulations filter, so the cache must reuse
  *    every frame but the edited feature; then an in-memory `applyFilter`.
  *
  * One cycle runs all three phases. Then reload and edit repeat for the
  * run's time, at least `MinRepeats` times, each pair on a copy of the cache
  * the build left, so every repeat does the cycle's reload and edit work
  * again. The reload and edit metrics are medians over the cycle and the
  * repeats. Every frame is materialized with a `noop` write. The generated
  * inputs live in `<work>/inputs` (see gen_campaign.py).
  */
final class CampaignBench(opts: Opts) extends Workload(opts) {
  import CampaignBench._

  private val inputs = s"${o.work}/inputs"
  private val config = s"$inputs/analysis.yaml"
  private val editConfig = s"$inputs/analysis_edit.yaml"
  private val cacheDir = s"${o.work}/cache"
  private val builtCache = s"${o.work}/cache-built"

  private var reportRows = 0L

  /** One materialized frame: its public call, then a full read. */
  private def frame(ph: String, name: String, layer: String, call: String,
      get: => DataFrame): Option[(DataFrame, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val df = tr.span(layer, call)(get)
      tr.span("Cache", s"read($name)")(Common.noop(df))
      val dt = (System.nanoTime() - t0) / 1e9
      Main.progress(f"$ph%-6s $name%-40s $dt%8.3f s")
      Some((df, dt))
    } catch {
      case e: Exception =>
        failures += ((s"$ph/$name", Tracer.describe(e)))
        None
    }
  }

  /** Runs one phase and returns its timings and the frames it handed out. */
  private def phase(ph: String, cfg: String, label: String = ""): PhaseRun = {
    tr.phase = if (label.nonEmpty) label else ph
    val before = cacheListing()
    val perFrame = mutable.LinkedHashMap.empty[String, Double]
    val frames = mutable.LinkedHashMap.empty[String, DataFrame]
    var wall = 0.0
    def keep(name: String, r: Option[(DataFrame, Double)]): Unit = r.foreach { case (df, dt) =>
      wall += dt
      perFrame(name) = dt
      frames(name) = df
    }
    val (ma, openS) = tr.timed("Model", "MultiAnalyzer.fromFile")(MultiAnalyzer.fromFile(spark, cfg))
    wall += openS
    try {
      val a = ma.analyzers.values.head
      val fresh = ph == "build"
      for (n <- Repository.Names)
        keep(s"repo/$n", frame(ph, s"repo/$n", if (fresh) "Repository" else "Cache",
          s"Analyzer.df($n)", a.df(n)))
      val (feats, planS) =
        tr.timed("Analyzer", "Analyzer.calculateFeatures")(a.calculateFeatures())
      wall += planS
      for (k <- feats.keys)
        keep(s"features/$k", frame(ph, s"features/$k", if (fresh) "Features" else "Cache",
          s"feature($k)", feats(k)))
      if (ph == "edit") {
        val t0 = System.nanoTime()
        val filtered = tr.span("Analyzer", "MultiAnalyzer.applyFilter")(ma.applyFilter()).values.head
        frame(ph, "applyFilter/report", "Analyzer", "FilteredAnalyzer.report", filtered.report)
        frame(ph, "applyFilter/by_neuron_class", "Analyzer", "FilteredAnalyzer.calculateFeatures",
          filtered.calculateFeatures()("by_neuron_class"))
        wall += (System.nanoTime() - t0) / 1e9
      }
    } finally ma.close()
    val after = cacheListing()
    val recomputed = perFrame.keySet.filter(k => before.get(k) != after.get(k)).toSet
    Main.progress(f"${tr.phase}%-14s phase $wall%8.3f s")
    val uncached = perFrame.keySet.filterNot(after.contains)
    check(s"$ph: every frame is in the cache", uncached.isEmpty,
      s"not in the cache: ${uncached.mkString(", ")}")
    PhaseRun(wall, perFrame.toMap, recomputed, perFrame.size, frames.toMap)
  }

  /** Data-file names per cached frame (`<cache>/<analysis>/<kind>/<name>`):
    * a rewrite gives new part names.
    */
  private def cacheListing(): Map[String, Set[String]] = {
    def list(p: java.nio.file.Path): List[java.nio.file.Path] =
      if (!Files.isDirectory(p)) Nil
      else {
        val st = Files.list(p)
        try st.iterator().asScala.toList finally st.close()
      }
    def visible(p: java.nio.file.Path) = {
      val n = p.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_")
    }
    (for {
      analysis <- list(Paths.get(cacheDir))
      kind <- Seq("repo", "features")
      entry <- list(analysis.resolve(kind))
    } yield {
      val parts = if (Files.isDirectory(entry)) list(entry).filter(visible)
        .map(_.getFileName.toString).toSet
      else Set(entry.getFileName.toString)
      s"$kind/${entry.getFileName.toString.stripSuffix(".parquet")}" -> parts
    }).toMap
  }

  /** Checksums of a phase's frames, taken after its timing and before the
    * next phase can rewrite the cache files they read.
    */
  private def checksums(p: PhaseRun): Map[String, (Long, BigDecimal)] =
    p.frames.map { case (k, df) => k -> Common.checksum(df) }

  /** Build, reload, edit, with the output checks. Checksums are taken right
    * after each phase, before the next one can rewrite the cache files they
    * read. The cache the build leaves is kept for the repeats.
    */
  private def cycle(): Cycle = {
    Common.deleteTree(cacheDir)
    val (build, _, cBuild) = tr.region(phase("build", config))
    val storedB = Common.dirBytes(cacheDir) + Common.retainedBytes(spark)
    val buildSums = checksums(build)
    Common.copyTree(cacheDir, builtCache)
    val (reload, _, cReload) = tr.region(phase("reload", config))
    val reloadSums = checksums(reload)
    val (edit, _, cEdit) = tr.region(phase("edit", editConfig))
    val editedSum = edit.frames.get(EditedKey).map(Common.checksum)
    checkOutputs(build, buildSums, reloadSums, edit, editedSum)
    checkRecomputed(reload, edit)
    Cycle(build, reload, edit, storedB, cBuild + cReload + cEdit,
      buildSums.get("repo/report").map(_._1).getOrElse(0L))
  }

  /** Reload and edit again on the cache the build left. */
  private def repeat(): (PhaseRun, PhaseRun) = {
    Common.deleteTree(cacheDir)
    Common.copyTree(builtCache, cacheDir)
    val reload = phase("reload", config, "reload.repeat")
    val edit = phase("edit", editConfig, "edit.repeat")
    checkRecomputed(reload, edit)
    (reload, edit)
  }

  private def checkRecomputed(reload: PhaseRun, edit: PhaseRun): Unit = {
    check("reload recomputes nothing", reload.recomputed.isEmpty,
      s"recomputed on reload: ${reload.recomputed.mkString(", ")}")
    check("edit recomputes only the edited feature", edit.recomputed == Set(EditedKey),
      s"recomputed on edit: ${edit.recomputed.mkString(", ")}")
  }

  /** Correctness of the cycle's outputs, checked outside any timing. */
  private def checkOutputs(build: PhaseRun, b: Map[String, (Long, BigDecimal)],
      reload: Map[String, (Long, BigDecimal)], edit: PhaseRun,
      edited: Option[(Long, BigDecimal)]): Unit = {
    check("every frame is non-empty", b.nonEmpty && b.values.forall(_._1 > 0),
      s"empty: ${b.filter(_._2._1 == 0).keys.mkString(", ")}")
    check("build produced all frames", b.size == build.accessed && b.size >= 6,
      s"${b.size} checksums for ${build.accessed} frames")
    val diff = b.keys.filter(k => reload.get(k) != b.get(k))
    check("reload checksums equal build checksums", diff.isEmpty, s"differ: ${diff.mkString(", ")}")
    val n = edit.accessed
    check("edit hit ratio is (n-1)/n", edit.hitRatio == (n - 1).toDouble / n,
      s"hit ratio ${edit.hitRatio} over $n frames")
    val fresh = MultiAnalyzer.fromFile(spark, editConfig, useCache = false)
    val expected = Common.checksum(fresh(fresh.analyzers.keys.head).calculateFeatures()(EditedFeature))
    check("edited feature equals a fresh compute", edited.contains(expected),
      s"cached $edited vs fresh $expected")
  }

  def run(): Outcome = {
    val (s, _, setupTimes) = Common.setup(o) { s => MultiAnalyzer.fromFile(s, config).close() }
    spark = s
    tr = new Tracer(spark, o.trace)
    tr.attach()
    // The cycle is the JVM's first, as in a user's analysis run; it is
    // timed, and its outputs are checked after each phase.
    val first = cycle()
    reportRows = first.reportRows
    val repeats = ArrayBuffer.empty[(PhaseRun, PhaseRun)]
    val t0 = System.nanoTime()
    while (repeats.size < MinRepeats || (System.nanoTime() - t0) / 1e9 < o.seconds)
      repeats += repeat()
    // Reloads of the edit config: the last edit phase left all of it in the
    // cache, so each of the four runs does the same work. (The build config
    // would recompute the edited feature on the first run.)
    val overhead = if (!o.trace) None else Some(tr.overhead {
      val p = phase("reload", editConfig, "overhead")
      check("overhead reload recomputes nothing", p.recomputed.isEmpty,
        s"recomputed: ${p.recomputed.mkString(", ")}")
      p.wall
    })
    tr.detach()
    spark.stop()
    Common.deleteTree(cacheDir)
    Common.deleteTree(builtCache)

    val reloads = first.reload +: repeats.map(_._1).toSeq
    val edits = first.edit +: repeats.map(_._2).toSeq
    /** Each frame's median time over the runs of one phase. */
    def frameMedians(runs: Seq[PhaseRun]): Map[String, Double] =
      runs.head.perFrame.keys.map(n =>
        n -> Common.median(runs.flatMap(_.perFrame.get(n)))).toMap
    val endToEnd = Seq(
      ("setup_s", Common.median(setupTimes), "s"),
      ("build_s", first.build.wall, "s"),
      ("reload_s", Common.median(reloads.map(_.wall)), "s"),
      ("edit_s", Common.median(edits.map(_.wall)), "s"),
      ("query_p50_s", Common.median(first.build.perFrame.values.toSeq), "s"),
      ("stored_mb", first.storedBytes / 1e6, "MB"))
    val perLayer = Tracer.runtimeMetrics(first.counters, first.wall, o.cores)
      .map { case (n, v) => (n, v, Main.unitOf(n)) } ++ Main.overheadMetrics(overhead)
    Outcome(endToEnd, perLayer, attempted, failures.toSeq, checks.toSeq, Map(
      "repeats" -> repeats.size,
      "setup_times_s" -> setupTimes,
      "reload_times_s" -> reloads.map(_.wall),
      "edit_times_s" -> edits.map(_.wall),
      "report_rows" -> reportRows,
      "frame_times_s" -> Map("build" -> first.build.perFrame,
        "reload" -> frameMedians(reloads), "edit" -> frameMedians(edits)),
      "layers" -> (if (o.trace) layerDetail(first) else Map.empty),
      "spans" -> (if (o.trace) Main.spansJson(tr.spans.toSeq) else Nil)))
  }

  /** The engine-layer metrics, from the spans of the cycle. */
  private def layerDetail(c: Cycle): scala.collection.Map[String, Any] = {
    val byPhase = tr.spans.filter(_.error.isEmpty).groupBy(_.phase)
    def inPhase(ph: String)(f: Span => Boolean): Double =
      byPhase.getOrElse(ph, Nil).filter(f).map(_.wallS).sum
    val m = mutable.LinkedHashMap.empty[String, Any]
    for (n <- Repository.Names)
      m(s"Repository.${n}_s") = inPhase("build")(s => s.call == s"Analyzer.df($n)")
    m("Repository.report_rows") = reportRows
    val featureNames = c.build.perFrame.keys.filter(_.startsWith("features/"))
      .map(_.stripPrefix("features/"))
    for (k <- featureNames)
      m(s"Features.${k}_s") = inPhase("build")(s => s.call == s"feature($k)")
    m("Features.shuffle_mb") = byPhase.getOrElse("build", Nil).filter(_.layer == "Features")
      .map(_.delta.shuffleWriteB).sum / 1e6
    m("Cache.write_s") = byPhase.getOrElse("build", Nil).map(_.delta.fileWriteNs).sum / 1e9
    m("Cache.write_mb") = c.storedBytes / 1e6
    m("Cache.load_s") = inPhase("reload")(_.layer == "Cache")
    m("Cache.hit_ratio") = c.edit.hitRatio
    m("Analyzer.features_plan_s") = inPhase("reload")(s =>
      s.call == "Analyzer.calculateFeatures" || s.call.startsWith("feature("))
    m("Analyzer.narrow_s") = inPhase("edit")(_.call.startsWith("MultiAnalyzer.applyFilter")) +
      inPhase("edit")(_.call.startsWith("FilteredAnalyzer"))
    m
  }
}

object CampaignBench {
  /** Reload and edit repeats after the cycle, at the least. */
  val MinRepeats = 1
  val EditedFeature = "smoothed_histograms"
  val EditedKey = s"features/$EditedFeature"

  final case class PhaseRun(
      wall: Double, perFrame: Map[String, Double], recomputed: Set[String], accessed: Int,
      frames: Map[String, DataFrame]) {
    def hitRatio: Double = (accessed - recomputed.size).toDouble / accessed
  }
  final case class Cycle(build: PhaseRun, reload: PhaseRun, edit: PhaseRun,
      storedBytes: Long, counters: Counters, reportRows: Long) {
    def wall: Double = build.wall + reload.wall + edit.wall
  }
}
