package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Regression diagnosis for the late-alphabet bench cluster: run the full
  * suite once (building all memoized/persisted state, as the bench warm-up
  * does), then time target queries repeatedly WITH the state resident,
  * then again after clearing it. Separates "persisted-state/GC pressure"
  * from "inherent query cost".
  *
  * Usage: runMain graft.tools.Diag <sfDir> <query...>
  */
object Diag {
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val targets = args.tail.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = SparkEntry.queries.keys.toSeq.sorted
    def time(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    def sample(tag: String): Unit = targets.foreach { n =>
      val g0 = gcMillis
      val ts = (1 to 5).map(_ => time(n))
      println(f"[diag] $tag $n: ${ts.map(t => f"$t%.2f").mkString(" ")} " +
        f"(gc ${(gcMillis - g0) / 1e3}%.1fs)")
    }
    println(s"[diag] full-suite pass (${names.length} queries) ...")
    val g0 = gcMillis
    val t0 = System.nanoTime()
    names.foreach(n => try time(n) catch { case _: Throwable => })
    println(f"[diag] suite done in ${(System.nanoTime() - t0) / 1e9}%.1fs " +
      f"(gc ${(gcMillis - g0) / 1e3}%.1fs)")
    val sc = spark.sparkContext
    println(s"[diag] persisted RDDs: ${sc.getPersistentRDDs.size}")
    sample("state-resident")
    graft.engine.SessionMemo.clear(spark)
    System.gc()
    println(s"[diag] persisted RDDs after clear: ${sc.getPersistentRDDs.size}")
    sample("state-cleared")
    spark.stop()
  }
}
