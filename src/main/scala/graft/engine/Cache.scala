package graft.engine

import graft.dsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Canonical, order-stable description of config pieces for checksumming
  * (the reference checksums YAML dumps — cache.py:288-304; a Scala Map's
  * toString is hash-ordered, so everything goes through sorted canonical
  * JSON).
  */
object Describe {
  def spec(q: QSpec): Any = q match {
    case QTrue => null
    case QAnd(m) => m.toSeq.sortBy(_._1).map { case (k, c) => Seq(k, cond(c)) }
    case QOr(ss) => Map("or" -> ss.map(spec))
    case QAllOf(ss) => Map("all" -> ss.map(spec))
  }

  /** Round-trippable dict form of a spec (the reference's native config
    * shape): parseable back via `Q.parse`, so a cache manifest can store
    * the filter it was built with and later test subfilter-ness against a
    * new one (C3). Values keep JSON types.
    */
  def specDict(q: QSpec): Any = Q.normalize(q) match {
    case QTrue => null
    case QAnd(m) => m.map { case (k, c) =>
      val ops = c.ops.map {
        case QEq(v) => "eq" -> v
        case QNe(v) => "ne" -> v
        case QLe(v) => "le" -> v
        case QLt(v) => "lt" -> v
        case QGe(v) => "ge" -> v
        case QGt(v) => "gt" -> v
        case QIsIn(vs) => "isin" -> vs
        case QRegex(p) => "regex" -> p
      }
      // a repeated op on one column would collapse in map form and make the
      // stored filter LOOK weaker than it was — refuse (caller falls back
      // to no-reuse)
      require(ops.map(_._1).distinct.size == ops.size, s"repeated op on '$k'")
      k -> ops.toMap
    }
    case QOr(ss) => ss.map(specDict)
    case other => throw new IllegalArgumentException(s"unserializable spec: $other")
  }
  private def cond(c: QCond): Any = c.ops.map {
    case QEq(v) => s"eq:$v"
    case QNe(v) => s"ne:$v"
    case QLe(v) => s"le:$v"
    case QLt(v) => s"lt:$v"
    case QGe(v) => s"ge:$v"
    case QGt(v) => s"gt:$v"
    case QIsIn(vs) => s"isin:${vs.mkString("|")}"
    case QRegex(p) => s"regex:$p"
  }

  def window(w: WindowSpec): Any = Map(
    "bounds" -> Seq(w.bounds._1, w.bounds._2), "initial_offset" -> w.initialOffset,
    "n_trials" -> w.nTrials, "trial_steps_value" -> w.trialStepsValue,
    "window_type" -> w.windowType, "t_step" -> w.tStep)

  def neuronClass(c: NeuronClassSpec): Any = Map(
    "query" -> spec(c.query), "node_id" -> c.nodeId.map(_.mkString(",")).orNull,
    "limit" -> c.limit.map(_.toString).orNull,
    "node_set" -> c.nodeSet.orNull)

  def features(f: FeaturesSpec): Any = Map(
    "groupby" -> f.groupby, "function" -> f.function,
    "params" -> f.params.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" },
    "windows" -> f.windows, "neuron_classes" -> f.neuronClasses, "suffix" -> f.suffix)

  def analysis(cfg: SingleAnalysisConfig, campaign: Campaign): Map[String, Any] = Map(
    "campaign" -> campaign.rows,
    "report_type" -> cfg.reportType,
    "windows" -> cfg.windows.toSeq.sortBy(_._1).map { case (k, w) => Seq(k, window(w)) },
    "neuron_classes" -> cfg.neuronClasses.toSeq.sortBy(_._1)
      .map { case (k, c) => Seq(k, neuronClass(c)) },
    "limit" -> cfg.limit.map(_.toString).orNull,
    "seed" -> cfg.seed)
}

/** Materialized-extraction cache: one parquet per name under
  * `<dir>/{repo,features}/`, a JSON manifest of config checksums, a
  * dependency-ordered invalidation chain, and narrowing-filter reuse
  * (reference: src/blueetl/cache.py — C1 manager, C2 invalidation DAG,
  * C3 `_is_subfilter` reuse, C5 lock).
  */
final class CacheManager(
    val spark: SparkSession, val dir: String, readonly: Boolean = false,
    storeType: String = "parquet",
    bucketSpec: Map[String, (Int, Seq[String])] = Map.empty) {
  require(storeType == "parquet" || storeType == "feather" || storeType == "hdf",
    s"bad store: $storeType")
  require(bucketSpec.isEmpty || storeType == "parquet",
    "bucketSpec requires the parquet store")
  private val manifestPath = Paths.get(dir, "manifest.json")
  Files.createDirectories(Paths.get(dir, "repo"))
  Files.createDirectories(Paths.get(dir, "features"))
  // zstd ≈ snappy CPU at a better ratio — the reference's cache default
  // (store/parquet.py:74-79)
  spark.conf.set("spark.sql.parquet.compression.codec", "zstd")

  private val lockChannel =
    if (readonly) None
    else {
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(dir, ".lock"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      Option(ch.tryLock()) match {
        case Some(_) => Some(ch)
        case None => throw new IllegalStateException(s"cache dir locked: $dir")
      }
    }
  def close(): Unit = lockChannel.foreach(_.close())

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(new com.fasterxml.jackson.module.scala.DefaultScalaModule)

  // manifest: flat JSON object of strings — `<kind>/<name>` -> config
  // checksum, `#files` -> stored-file digest, `#schema` -> the parquet
  // schema's JSON (so a hit reads with `.schema(...)`, no inference job)
  private var manifest: Map[String, String] = loadManifest()
  private def loadManifest(): Map[String, String] =
    if (!Files.exists(manifestPath)) Map.empty
    else
      try {
        val node = mapper.readTree(manifestPath.toFile)
        require(node.isObject, "not a JSON object")
        node.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      } catch {
        case scala.util.control.NonFatal(e) =>
          // a torn or hand-truncated manifest must not brick the cache:
          // every entry misses, so each frame is rebuilt and re-recorded
          CacheManager.log.warn(
            s"unparsable cache manifest $manifestPath (${e.getMessage}); " +
              "treating it as empty and rebuilding")
          Map.empty
      }
  private def saveManifest(): Unit =
    writeAtomically(manifestPath, mapper.writeValueAsString(
      scala.collection.immutable.TreeMap(manifest.toSeq: _*)))

  /** Temp sibling + rename, so a reader (or a crash) never sees a
    * truncated-then-rewritten file. Only the lock holder writes, so one
    * fixed temp name per target suffices.
    */
  private def writeAtomically(target: Path, text: String): Unit = {
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  // the hdf store keeps the reference's .h5 extension (store/hdf.py:24-25)
  private val ext = if (storeType == "hdf") "h5" else storeType
  private def path(kind: String, name: String) = s"$dir/$kind/$name.$ext"

  /** Digest of the stored files (C4 — reference checksums each stored
    * file, cache.py:412-476): md5 over sorted (name, size, md5) triples so
    * on-disk tampering/corruption forces a rebuild. A feather store is one
    * flat file; a parquet store is a directory of parts.
    */
  private def filesDigest(p: String): String = {
    val dir = Paths.get(p)
    if (Files.isRegularFile(dir)) return fileMd5(dir).map("%02x".format(_)).mkString
    if (!Files.isDirectory(dir)) return ""
    val md = java.security.MessageDigest.getInstance("MD5")
    // names are hashed relative to the parquet dir so moving/renaming a
    // cache directory keeps entries valid as long as contents are intact
    val stream = Files.list(dir)
    val files =
      try stream.toArray
        .map(f => dir.relativize(f.asInstanceOf[java.nio.file.Path]).toString).sorted
      finally stream.close()
    // hash DATA files only: dot/underscore names are maintenance control
    // state, invisible to Spark's own scans (.maintlock/.maintlease from
    // RootLock, _SUCCESS, compaction markers) — a lock file appearing
    // after the write-time digest must not read as corruption (C4 is
    // about the data, and bit it in r20 when register() grew the lock)
    for (f <- files.filterNot(n =>
        n.endsWith(".crc") || n.startsWith("_") || n.startsWith("."))) {
      md.update(f.getBytes("UTF-8"))
      md.update(fileMd5(dir.resolve(f)))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** MD5 of one file, streamed through a fixed buffer: a stored part is
    * never pulled whole into the driver heap.
    */
  private def fileMd5(f: Path): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = new java.security.DigestInputStream(Files.newInputStream(f), md)
    try {
      val buf = new Array[Byte](1 << 16)
      while (in.read(buf) != -1) {}
    } finally in.close()
    md.digest()
  }

  /** Load `name` if its config checksum AND stored-file digest match;
    * else compute and write through. `chain` must already fold in upstream
    * checksums so a config change upstream invalidates everything
    * downstream (C2); the file digest catches on-disk corruption (C4).
    * `store=false` keeps the cache-read path but skips the dump — the
    * reference's skip_features semantics (cache.py:550-565 only bypasses
    * the write; a warm cache is still loaded).
    */
  def loadOrCompute(kind: String, name: String, chain: String, compute: => DataFrame,
      store: Boolean = true): DataFrame = {
    val key = s"$kind/$name"
    val p = path(kind, name)
    // hash-clustered frames (e.g. repo/report by gid): loads re-attach the
    // bucket spec through the session catalog — a plain read.parquet of
    // the same files would silently lose co-location and shuffle again
    val bucketed = bucketSpec.get(key)
    // the bucket layout participates in the invalidation chain: changing
    // bucket_gids over a warm cache must REBUILD, not re-register a wrong
    // bucket count over the old files (Spark trusts filename bucket ids —
    // a mismatched register would silently drop join rows)
    val chainEff = bucketed match {
      case Some((n, keys)) => s"$chain|bucket:$n:${keys.mkString(",")}"
      case None => chain
    }
    def bucketTable = "graft_cache_" + java.security.MessageDigest
      .getInstance("MD5").digest(s"$dir/$key".getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    // the schema recorded at write time: a hit launches no inference job
    def schema(): StructType = manifest.get(s"$key#schema") match {
      case Some(js) => DataType.fromJson(js).asInstanceOf[StructType]
      case None =>
        // a manifest written before schemas were recorded: infer once
        val s = spark.read.parquet(p).schema
        manifest += s"$key#schema" -> s.json
        if (!readonly) saveManifest()
        s
    }
    def load(): DataFrame = (storeType, bucketed) match {
      case ("feather", _) => graft.sources.FeatherIO.read(spark, p)
      case ("hdf", _) => graft.sources.PandasHdf.read(spark, p, Some(name))
      case (_, Some((n, keys))) =>
        graft.sources.Bucketed.register(spark, bucketTable, p, n, keys, schema())
      case _ => spark.read.schema(schema()).parquet(p)
    }
    val fresh = manifest.get(key).contains(chainEff) && Files.exists(Paths.get(p)) &&
      manifest.get(s"$key#files").forall(_ == filesDigest(p))
    if (fresh)
      load()
    else {
      val df = compute
      if (!readonly && store) {
        (storeType, bucketed) match {
          case ("feather", _) => graft.sources.FeatherIO.write(df, p)
          case ("hdf", _) => graft.sources.PandasHdf.write(df, p, name)
          case (_, Some((n, keys))) =>
            graft.sources.Bucketed.write(df, bucketTable, p, n, keys)
          case _ => df.write.mode("overwrite").parquet(p)
        }
        manifest += key -> chainEff
        manifest += s"$key#files" -> filesDigest(p)
        if (storeType == "parquet")
          manifest += s"$key#schema" -> spark.read.parquet(p).schema.json
        saveManifest()
        load()
      } else df
    }
  }

  /** Simulations-filter reuse decision (C3): cached data built with filter
    * `old` can serve a request with filter `next` iff next ⊆ old — then the
    * loaded frames are just re-filtered (P8). Returns true when reusable.
    */
  def filterReusable(next: QSpec, old: QSpec): Boolean = Q.isSubfilter(next, old)

  // The dict form of the simulations filter the cached frames were built
  // with, stored beside the manifest (C3 state).
  private val filterPath = Paths.get(dir, "filter.json")

  def loadStoredFilterDict(): Option[Any] =
    if (!Files.exists(filterPath)) None
    else Some(mapper
      .readValue(Files.readString(filterPath), classOf[Map[String, Any]])
      .getOrElse("filter", null))

  def saveStoredFilterDict(dict: Any): Unit =
    if (!readonly)
      writeAtomically(filterPath, ConfigIO.canonical(Map("filter" -> dict)))
}

object CacheManager {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[CacheManager])
}
