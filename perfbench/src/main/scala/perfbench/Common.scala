package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}

/** Command-line options, as `run.py` passes them. */
final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean, cores: Int,
    work: String, data: String, out: String, allQueries: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(
      workload = m("workload"), seed = m("seed").toLong, seconds = m("seconds").toDouble,
      trace = m.getOrElse("trace", "0") == "1", cores = m("cores").toInt,
      work = m("work"), data = m.getOrElse("data", ""), out = m("out"),
      allQueries = m.getOrElse("queries", "sample") == "all")
  }
}

/** State every workload keeps: the session, the tracer, and the attempts,
  * failures and checks that go into the run record.
  */
abstract class Workload(val o: Opts) {
  protected var spark: SparkSession = _
  protected var tr: Tracer = _
  protected var attempted = 0
  protected val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  protected val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]

  protected def check(name: String, ok: Boolean, detail: => String): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  def run(): Outcome
}

/** What a workload hands back to [[Main]] for the run record. */
final case class Outcome(
    endToEnd: Seq[(String, Double, String)],
    perLayer: Seq[(String, Double, String)],
    attempted: Int,
    failures: Seq[(String, String)],
    checks: Seq[(String, Boolean, String)],
    record: Map[String, Any])

object Common {
  /** Sessions are created repeatedly in one run to time set-up. */
  val SetupRepeats = 9

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Creates the session `SetupRepeats` times, each followed by `load`, and
    * keeps the last one. Returns it with every set-up time; the first one
    * also pays the JVM's one-time initialisation.
    */
  def setup[T](o: Opts)(load: SparkSession => T): (SparkSession, T, Seq[Double]) = {
    var last: (SparkSession, T) = null
    val times = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val s = session(o)
      val v = load(s)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupRepeats) s.stop() else last = (s, v)
      dt
    }
    (last._1, last._2, times)
  }

  /** Materializes the whole result; `count()` would let Catalyst prune
    * every aggregate and projection the count does not need.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally st.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val st = Files.walk(src)
    try st.forEach { f =>
      val t = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally st.close()
  }

  /** Bytes held by persisted data in the block manager, memory plus disk. */
  def retainedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Order-independent checksum of a frame: row count and the sum of a
    * 64-bit hash of every row (columns in name order).
    */
  def checksum(df: DataFrame): (Long, BigDecimal) = {
    import org.apache.spark.sql.functions._
    val h = xxhash64(df.columns.sorted.toSeq.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}
