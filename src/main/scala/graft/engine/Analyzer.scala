package graft.engine

import graft.dsl.{Q, QSpec, QTrue}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One analysis: extraction repository + features, with write-through
  * caching and dependency-ordered invalidation
  * (reference facade: src/blueetl/analysis.py:24-326 Analyzer).
  */
final class Analyzer(
    val spark: SparkSession,
    val cfg: SingleAnalysisConfig,
    val campaign: Campaign,
    val adapter: DataAdapter,
    val simulationsFilter: QSpec = QTrue,
    val cache: Option[CacheManager] = None,
    /** cache.skip_features (reference CacheConfig): compute features but
      * never write them to the cache folder.
      */
    val skipFeatures: Boolean = false) {

  /** C3 decision (reference: cache.py:575-610): the cached frames may have
    * been built with a *broader* simulations filter — reuse them and
    * re-filter at load (P8) when the requested filter is a subfilter;
    * equal filters load as-is; anything else rebuilds under the new
    * filter's key. `baseFilter` is what the Repository computes with (the
    * stored filter when reusing, so fresh computations stay consistent
    * with the cache they're written to); `refilter` is applied to every
    * frame handed out.
    */
  private val (baseFilter, filterKey, refilter): (QSpec, String, Option[QSpec]) = {
    val dictOpt =
      try Some(Describe.specDict(simulationsFilter))
      catch { case _: IllegalArgumentException => None }
    (cache, dictOpt) match {
      case (Some(cm), Some(dict)) =>
        val canon = ConfigIO.canonical(dict)
        cm.loadStoredFilterDict() match {
          case Some(stored) =>
            val storedCanon = ConfigIO.canonical(stored)
            val storedSpec = Q.parse(stored)
            if (canon == storedCanon)
              (simulationsFilter, canon, None)
            else if (Q.isSubfilter(simulationsFilter, storedSpec))
              (storedSpec, storedCanon, Some(simulationsFilter))
            else {
              cm.saveStoredFilterDict(dict)
              (simulationsFilter, canon, None)
            }
          case None =>
            cm.saveStoredFilterDict(dict)
            (simulationsFilter, canon, None)
        }
      case _ =>
        // unserializable filter or no cache: key by checksum, never reuse
        (simulationsFilter, ConfigIO.checksum(Describe.spec(simulationsFilter)), None)
    }
  }

  val repo = new Repository(spark, campaign, cfg, adapter, baseFilter)

  private val baseChain: String =
    ConfigIO.checksum(Describe.analysis(cfg, campaign))

  /** Chained checksum per extraction name: base config + the dependency
    * prefix, so upstream edits invalidate downstream (C2); the (possibly
    * reused) filter key participates.
    */
  private def chain(name: String): String = {
    val idx = Repository.Names.indexOf(name)
    ConfigIO.checksum(Seq(baseChain, filterKey) ++ Repository.Names.take(idx + 1))
  }

  /** Cache-loaded frame WITHOUT the narrowing refilter — what feature
    * computations consume (their outputs are cached under the stored
    * filter's key, so they must cover its full row set).
    */
  private def rawDf(name: String): DataFrame = cache match {
    case Some(cm) => cm.loadOrCompute("repo", name, chain(name), repo.df(name))
    case None => repo.df(name)
  }

  /** Simulation ids selected by the narrowing filter (None = no narrowing). */
  private lazy val refilterIds: Option[Seq[Int]] = refilter.map { f =>
    Q.q(rawDf("simulations"), f).select("simulation_id").collect().map(_.getInt(0)).toSeq
  }

  /** Frame names already warned about as unnarrowable: once per frame. */
  private val unnarrowed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def narrowed(name: String, df: DataFrame): DataFrame =
    refilterIds match {
      case Some(ids) if df.columns.contains("simulation_id") =>
        df.filter(col("simulation_id").isin(ids: _*))
      case Some(_) =>
        // A narrowing refilter is active but this output has no
        // simulation_id column — silently serving the broader stored-filter
        // aggregate would be wrong. Surface it loudly.
        if (unnarrowed.add(name))
          Analyzer.log.warn(
            s"narrowing filter cannot be applied to '$name' (no simulation_id " +
              "column): result covers the broader stored-filter simulation set")
        df
      case _ => df
    }

  /** Extraction accessor, cached when a cache manager is attached. */
  def df(name: String): DataFrame = narrowed(name, rawDf(name))

  def simulations: DataFrame = df("simulations")

  /** All campaign rows with their CURRENT three-valued `_status` (COMPLETE /
    * INCOMPLETE / MISSING) — never cached: status is a live disk probe
    * (reference extract/simulations.py re-evaluates it on every load).
    */
  def simulationsWithStatus: DataFrame = repo.simulationsWithStatus
  def neurons: DataFrame = df("neurons")
  def neuronClasses: DataFrame = df("neuron_classes")
  def windows: DataFrame = df("windows")
  def report: DataFrame = df("report")

  def extractRepo(): Unit = Repository.Names.foreach(df)

  /** Scope the report to a features spec's windows/neuron_classes (P6 —
    * reference: features.py:473-515 `_filter_by_value`).
    */
  private def scoped(report: DataFrame, spec: FeaturesSpec): DataFrame = {
    var r = report
    if (spec.windows.nonEmpty) r = r.filter(col("window").isin(spec.windows: _*))
    if (spec.neuronClasses.nonEmpty)
      r = r.filter(col("neuron_class").isin(spec.neuronClasses: _*))
    r
  }

  /** Compute all configured features: map of `<fnOutput><suffix>` →
    * DataFrame (reference: features.py:233-305). Cached per feature-config
    * checksum (C2's per-FeaturesConfig keys, cache.py:378-382).
    */
  def calculateFeatures(): LazyFrames = {
    // computed over the raw (stored-filter) frames so cached outputs cover
    // the cache's full row set; narrowing applies on the way out. Read
    // once per call and shared by every spec.
    lazy val report = rawDf("report")
    lazy val windows = rawDf("windows")
    lazy val neurons = rawDf("neurons")
    lazy val neuronClasses = rawDf("neuron_classes")
    val raw: Seq[(String, () => DataFrame, String)] = cfg.features.flatMap { spec =>
      val fn = FeatureFns.resolve(spec.function)
      val ctx = FeatureCtx(
        spark, spec.groupby, spec.params, scoped(report, spec),
        windows, neurons, neuronClasses)
      val specSum = ConfigIO.checksum(Seq(chain("report"), Describe.features(spec)))
      fn.computeLazy(ctx).map { case (outName, thunk) =>
        (s"$outName${spec.suffix}", thunk, specSum)
      }
    }
    // duplicate output names would silently shadow each other in the map
    // (and collide in the cache folder) — the reference rejects them too
    // (features.py:58 "Duplicate feature_name"). Validated BEFORE any
    // cache write: loadOrCompute runs the Spark job, so a late check
    // would let both colliding specs compute and fight over one file.
    val dups = raw.map(_._1).groupBy(identity).collect {
      case (n, vs) if vs.size > 1 => n
    }
    require(dups.isEmpty,
      s"duplicate feature output name(s): ${dups.mkString(", ")} — " +
        "rename the feature function output or use params_product suffixes")
    // lazily-valued map: the frame a caller never touches is never planned,
    // never cache-written (full-dump callers iterate, which forces all)
    LazyFrames(raw.map { case (name, thunk, specSum) =>
      name -> { () =>
        // skipFeatures only skips the dump; a warm cache is still loaded
        // (reference cache.py:550-565 skip_features semantics)
        val result = cache match {
          case Some(cm) =>
            cm.loadOrCompute("features", name, specSum, thunk(), store = !skipFeatures)
          case _ => thunk()
        }
        narrowed(name, result)
      }
    })
  }

  /** In-memory re-scope (P7 — reference: analysis.py:126-145 apply_filter):
    * a new Analyzer whose five frames and features are filtered by the
    * simulation ids selected by `extra`, never written to cache.
    */
  def applyFilter(extra: QSpec): FilteredAnalyzer = {
    val ids = Q.q(simulations, extra)
      .select("simulation_id").collect().map(_.getInt(0)).toSeq
    new FilteredAnalyzer(this, ids)
  }
}

/** Result of applyFilter: same surface, frames filtered by simulation_id
  * (reference: repository.py:383-418 FilteredRepository).
  */
final class FilteredAnalyzer(base: Analyzer, simIds: Seq[Int]) {
  private def f(df: DataFrame): DataFrame =
    df.filter(col("simulation_id").isin(simIds: _*))
  def simulations: DataFrame = f(base.simulations)
  def neurons: DataFrame = base.neurons // circuit-level, no simulation_id
  def neuronClasses: DataFrame = base.neuronClasses
  def windows: DataFrame = f(base.windows)
  def report: DataFrame = f(base.report)
  /** Feature outputs already warned about as unnarrowable: once per output. */
  private val unnarrowed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def calculateFeatures(): Map[String, DataFrame] =
    // mapFrames, not .map: keeps untouched sibling frames unconstructed
    base.calculateFeatures().mapFrames { (k, v) =>
      if (v.columns.contains("simulation_id")) f(v)
      else {
        if (unnarrowed.add(k))
          Analyzer.log.warn(
            s"applyFilter cannot narrow feature output '$k' (no simulation_id " +
              "column): it covers the unfiltered simulation set")
        v
      }
    }
}

object Analyzer {
  private[engine] val log = org.slf4j.LoggerFactory.getLogger(classOf[Analyzer])
}

/** Multi-analysis facade (reference: analysis.py MultiAnalyzer +
  * run_from_file): loads config + campaign, builds one Analyzer per
  * configured analysis, with optional caching under `<output>/<name>`.
  */
final class MultiAnalyzer(
    val spark: SparkSession,
    val config: MultiAnalysisConfig,
    val adapter: DataAdapter,
    val useCache: Boolean = true) {

  val analyzers: Map[String, Analyzer] = {
    val campaign = ConfigIO.loadCampaign(config.campaignPath)
    val resolved = MultiAnalyzer.resolveWindowRefs(config.analyses)
    val cs = config.cacheSettings
    resolved.map { a =>
      val cm =
        if (useCache && config.cacheRoot.nonEmpty) {
          val d = s"${config.cacheRoot}/${a.name}"
          if (cs.clear) MultiAnalyzer.deleteRecursively(new java.io.File(d))
          Some(new CacheManager(spark, d, readonly = cs.readonly, storeType = cs.storeType,
            bucketSpec =
              if (cs.bucketGids > 0) Map("repo/report" -> ((cs.bucketGids, Seq("gid"))))
              else Map.empty))
        } else None
      a.name -> new Analyzer(spark, a, campaign, adapter, config.simulationsFilter, cm,
        skipFeatures = cs.skipFeatures)
    }.toMap
  }

  def apply(name: String): Analyzer = analyzers(name)
  def extractRepo(): Unit = analyzers.values.foreach(_.extractRepo())
  def calculateFeatures(): Map[String, Map[String, DataFrame]] =
    analyzers.map { case (n, a) => n -> a.calculateFeatures() }

  /** In-memory re-scope of every analysis (reference: analysis.py:126-145
    * MultiAnalyzer.apply_filter): `extra` when given, else the config's
    * `simulations_filter_in_memory`. Never written to cache.
    */
  def applyFilter(extra: QSpec = null): Map[String, FilteredAnalyzer] = {
    val q = Option(extra).getOrElse(config.simulationsFilterInMemory)
    analyzers.map { case (n, a) => n -> a.applyFilter(q) }
  }

  def close(): Unit = analyzers.values.foreach(_.cache.foreach(_.close()))
}

object MultiAnalyzer {
  def fromFile(spark: SparkSession, path: String, adapter: DataAdapter = new ParquetAdapter,
      useCache: Boolean = true): MultiAnalyzer =
    new MultiAnalyzer(spark, ConfigIO.loadAnalysis(path), adapter, useCache)

  /** cache.clear: wipe the analysis cache dir before attaching. */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Resolve cross-analysis window references (C7 — reference:
    * src/blueetl/config/analysis.py:68-129): a window declared as the
    * string `"<analysis>.extraction.windows.<window>"` becomes a copy of
    * the referenced spec. The analyses must form a DAG (topological
    * resolution; cycles rejected).
    */
  def resolveWindowRefs(analyses: Seq[SingleAnalysisConfig]): Seq[SingleAnalysisConfig] = {
    val byName = analyses.map(a => a.name -> a).toMap
    val resolving = scala.collection.mutable.Set.empty[String]
    val done = scala.collection.mutable.Map.empty[String, SingleAnalysisConfig]
    def resolve(name: String): SingleAnalysisConfig = done.getOrElseUpdate(name, {
      require(resolving.add(name), s"window reference cycle through '$name'")
      val a = byName(name)
      val extra = a.windowRefs.map { case (wn, ref) =>
        val parts = ref.split('.')
        require(parts.length >= 2, s"bad window reference '$ref'")
        val (srcAnalysis, srcWindow) = (parts.head, parts.last)
        val src = resolve(srcAnalysis)
        wn -> src.windows.getOrElse(srcWindow,
          throw new IllegalArgumentException(
            s"window reference '$ref': no window '$srcWindow' in analysis '$srcAnalysis'"))
      }
      resolving.remove(name)
      a.copy(windows = a.windows ++ extra, windowRefs = Map.empty)
    })
    analyses.map(a => resolve(a.name))
  }
}
