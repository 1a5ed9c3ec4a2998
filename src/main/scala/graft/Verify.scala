package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{"k": "v", ...}` with both sides escaped by [[q]]. */
  private[graft] def jsonObj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  /** A failure as `Class: message`, the message capped at 500 chars. */
  private[graft] def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"

  /** Runs every selected query, dumps results + oracle_sql.json +
    * errors.json under `outDir`; returns name → error for failed queries.
    * Failed queries are NOT silently absent from the artifacts: errors.json
    * names each one, so a half-broken run can't masquerade as a fully green
    * gate.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Option[Set[String]] = None): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = describe(e)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObj(SparkEntry.oracleSql.toSeq))
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonObj(errors.toSeq))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed: ${errors.keys.mkString(", ")}")
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Main.session()
    // local-iteration filter; the driver leaves this unset and gets all
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    run(spark, sfDir, outDir, only)
    spark.stop()
  }
}
