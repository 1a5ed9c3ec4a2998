package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-up data generator for the BASELINE.md scaling study: synthesizes
  * the four tables that drive the expensive queries (documents, embeddings,
  * events, lineitem) at a chosen multiplier of the sf0.1 row counts,
  * deterministic (murmur-hash of ids — no RNG state), with CONSTANT dup /
  * near-dup / skew rates so a 10× multiplier means 10× the work, not a
  * different workload. Scaling exponents are measured within this
  * generator family (x1 vs x10), never across generators.
  *
  * The distributions mirror the driver's sf0.1 shapes (TESTDATA.md):
  * ~50-word tech-vocab docs with a ~0.2% exact-dup and 0.2% near-dup rate,
  * 64-dim float embeddings, a 30-day 5-type event stream with a fixed
  * events-per-user density, and a 4-lines-per-order lineitem.
  *
  * Usage: runMain graft.tools.GenScale <outBase> <multiplier...>
  *   (writes <outBase>/x<m>/{documents,embeddings,events,lineitem}.parquet;
  *   GRAFT_TABLES=events,embeddings restricts generation — an x1000
  *   lineitem is ~45 GB of parquet nobody profiling the event/vector
  *   paths needs)
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val outBase = args.head
    val multipliers = args.tail.map(_.toInt).toSeq
    val tables = sys.env.get("GRAFT_TABLES")
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("documents", "embeddings", "events", "lineitem"))
    val spark = graft.Main.session()
    multipliers.foreach(m => generate(spark, s"$outBase/x$m", m, tables))
    spark.stop()
  }

  def generate(
      spark: SparkSession, dir: String, m: Int,
      tables: Set[String] = Set("documents", "embeddings", "events", "lineitem")): Unit = {
    val t0 = System.nanoTime()
    if (tables("documents")) {

    // ---- documents: 5000 * m ------------------------------------------
    val vocab = Seq("batch", "part", "spark", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "query", "agg", "table",
      "hash", "join", "shuffle", "filter", "index", "merge", "read",
      "write", "plan", "stage", "task", "row", "group", "key", "data",
      "block").map(w => s"'$w'").mkString("array(", ", ", ")")
    // constant dup rates: every 500th doc repeats its predecessor exactly,
    // the one before near-repeats (one word dropped) — LSH bucket sizes
    // stay O(1) at every scale, so t6/t7/t9/t11 work scales linearly.
    // ~1 word in 9 is doc-UNIQUE (u<seed>x<j>, the names/numbers of real
    // corpora): without it shingle diversity saturates at the small vocab
    // and chance bucket collisions — hence pair counts — grow
    // quadratically with corpus size, a generator artifact rather than a
    // workload property.
    spark.range(5000L * m)
      .withColumn("seed", expr(
        """CASE WHEN pmod(id, 500) = 499 THEN id - 1
          |     WHEN pmod(id, 500) = 498 THEN id - 2 ELSE id END""".stripMargin))
      .withColumn("arr", expr(
        s"""transform(sequence(1, 10 + pmod(abs(hash(seed)), 80)),
           |  j -> CASE WHEN pmod(abs(hash(seed * 37 + j)), 9) = 0
           |       THEN concat('u', seed, 'x', j)
           |       ELSE element_at($vocab, pmod(abs(hash(seed * 131 + j)), 30) + 1) END)""".stripMargin))
      .withColumn("text", expr(
        """CASE WHEN pmod(id, 500) = 498
          |     THEN concat_ws(' ', slice(arr, 1, size(arr) - 1))
          |     ELSE concat_ws(' ', arr) END""".stripMargin))
      .select(
        col("id").as("doc_id"),
        col("text"),
        expr("""CASE WHEN pmod(abs(hash(id * 7)), 10) < 8 THEN 'en'
                ELSE element_at(array('de','fr','es','it','pt'),
                                pmod(abs(hash(id * 9)), 5) + 1) END""").as("lang"),
        concat(lit("src"), pmod(abs(hash(col("id") * 11)), lit(20))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }

    // ---- embeddings: 2000 * m, 64-dim ---------------------------------
    // clustered, with cluster count ∝ scale (more data = more distinct
    // content regions): label center + per-vector noise. Uniform random
    // vectors would make LSH bucket density — and candidate pair counts —
    // grow quadratically at fixed band width.
    if (tables("embeddings")) {
    val nLabels = 10 * m
    spark.range(2000L * m)
      .withColumn("label", pmod(abs(hash(col("id") * 17)), lit(nLabels)))
      .select(
        col("id").as("vec_id"),
        expr("""transform(sequence(0, 63),
                 d -> cast(hash(label * 64 + d) / 2.147483647E9 * 0.8
                         + hash(id * 64 + d) / 2.147483647E9 * 0.3 as float))""")
          .as("embedding"),
        col("label").cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }

    // ---- events: 100000 * m over 30 days, 1500 * m users --------------
    // ts is int64 NANOS (the driver's TIMESTAMP(NANOS) reads as long via
    // nanosAsLong; a plain long column reads identically in Tables.events)
    if (tables("events")) {
    val nEv = 100000L * m
    val stepNs = 2592000000000000L / nEv // 30 days of nanos
    spark.range(nEv)
      .select(
        col("id").as("event_id"),
        (lit(1704067200000000000L) + col("id") * stepNs +
          pmod(abs(hash(col("id") * 3)), lit(20000000000L))).as("ts"),
        pmod(abs(hash(col("id") * 5)), lit(1500L * m)).as("user_id"),
        expr("""element_at(array('click','view','purchase','signup','error'),
                pmod(abs(hash(id * 7)), 5) + 1)""").as("event_type"),
        (pmod(abs(hash(col("id") * 11)), lit(20000L)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(abs(hash(col("id") * 13)), lit(100)),
          lit("}")).as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }

    // ---- lineitem: 600000 * m -----------------------------------------
    if (tables("lineitem")) {
    spark.range(600000L * m)
      .select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        pmod(abs(hash(col("id") * 3)), lit(20000L * m)).as("l_partkey"),
        pmod(abs(hash(col("id") * 5)), lit(1000L * m)).as("l_suppkey"),
        (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
        (pmod(abs(hash(col("id") * 7)), lit(50)) + 1).cast("double").as("l_quantity"),
        (pmod(abs(hash(col("id") * 9)), lit(9000000L)) / 100.0 + 1000.0).as("l_extendedprice"),
        (pmod(abs(hash(col("id") * 11)), lit(11)) / 100.0).as("l_discount"),
        (pmod(abs(hash(col("id") * 13)), lit(9)) / 100.0).as("l_tax"),
        expr("element_at(array('A','N','R'), pmod(abs(hash(id * 17)), 3) + 1)").as("l_returnflag"),
        expr("element_at(array('O','F'), pmod(abs(hash(id * 19)), 2) + 1)").as("l_linestatus"),
        expr("timestamp_micros(694224000000000 + pmod(abs(hash(id * 23)), 2400) * 86400000000)")
          .as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    }

    println(f"[genscale] x$m written to $dir in ${(System.nanoTime() - t0) / 1e9}%.1fs")
  }
}
