package graft.queries

import graft.Tables
import graft.dsl._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core of the SURVEY §2 inventory over the synthetic star
  * schema: the P1 filter DSL, projections, joins (J1/J3/J5), basic
  * aggregations (A18/A19), sorts/top-k (O-group via window functions),
  * SQL-window operators (§2.5).
  *
  * Every query keeps the plan fully declarative so Catalyst pushes filters
  * into the parquet scan and picks broadcast joins for the dimension side.
  * Double sums go through `dsum`/`davg` (exact decimal) so results are
  * independent of partial-aggregation order — required both for the DuckDB
  * hash-compare and for run-to-run determinism on a real cluster.
  */
object Relational {

  private val ts = "TIMESTAMP '2000-12-01 00:00:00'"

  val all: Seq[GQuery] = Seq(

    // ---- A-group: pricing summary (classic full-scan agg; tests partial agg,
    // decimal-exact sums, filter pushdown to parquet) ----
    GQuery(
      "q1_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
         |  CAST(SUM(CAST(l_discount AS DECIMAL(20,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= $ts
         |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2000-12-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    // ---- P1: the etl.q dict-filter DSL compiled to one Catalyst predicate
    // (reference: blueetl-core etl.q; SURVEY §2.2 P1) ----
    GQuery(
      "p1_dsl_ops",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
        |FROM lineitem
        |WHERE l_quantity >= 10 AND l_quantity < 30
        |  AND l_returnflag IN ('A', 'N') AND l_linestatus <> 'X'""".stripMargin) { (s, dir) =>
      val spec = QAnd(
        "l_quantity" -> QCond(Seq(QGe(10), QLt(30))),
        "l_returnflag" -> QCond(QIsIn(Seq("A", "N"))),
        "l_linestatus" -> QCond(QNe("X")))
      Q.q(Tables.lineitem(s, dir), spec)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus")
    },

    // P1 list-of-dicts form: union (OR) of row sets + unanchored regex
    GQuery(
      "p1_dsl_union_regex",
      """SELECT p_partkey, p_name, p_type, p_size, p_retailprice FROM part
        |WHERE (p_size IN (1, 5, 11) AND regexp_matches(p_name, 'w.dget'))
        |   OR (p_retailprice > 1500.0)""".stripMargin) { (s, dir) =>
      val spec = QOr(Seq(
        QAnd(
          "p_size" -> QCond(QIsIn(Seq(1, 5, 11))),
          "p_name" -> QCond(QRegex("w.dget"))),
        QAnd("p_retailprice" -> QCond(QGt(1500.0)))))
      Q.q(Tables.part(s, dir), spec)
        .select("p_partkey", "p_name", "p_type", "p_size", "p_retailprice")
    },

    // ---- J1: equi-join chain, dimensions broadcast (SURVEY §2.3 J1) ----
    GQuery(
      "j1_join_chain",
      """SELECT n_name, r_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name, r_name""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name", "r_name")
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
    },

    // ---- J3: anti-join — "missing simulations" pattern
    // (reference: src/blueetl/repository.py:354-374) ----
    GQuery(
      "j3_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)""".stripMargin) {
      (s, dir) =>
        Tables.customer(s, dir)
          .join(
            Tables.orders(s, dir).filter(col("o_totalprice") > 250000),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
    },

    // ---- J5: semi-join — node-id intersection pattern
    // (reference: src/blueetl/extract/neurons.py:79-80) ----
    GQuery(
      "j5_semi_join",
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_suppkey = s_suppkey AND l_quantity > 45)""".stripMargin) {
      (s, dir) =>
        Tables.supplier(s, dir)
          .join(
            Tables.lineitem(s, dir).filter(col("l_quantity") > 45),
            col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select("s_suppkey", "s_name")
    },

    // ---- A18: distinct / dropDuplicates (reference: parallel.py:30) ----
    GQuery(
      "a18_distinct",
      "SELECT DISTINCT event_type, user_id FROM events") { (s, dir) =>
      Tables.events(s, dir).select("event_type", "user_id").distinct()
    },

    // ---- A19: import stats — single wide agg
    // (reference: converters/convert_spikes.py:110-130) ----
    GQuery(
      "a19_import_stats",
      """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_ids,
        |  MIN(user_id) AS min_id, MAX(user_id) AS max_id,
        |  MIN(ts) AS min_ts, MAX(ts) AS max_ts
        |FROM events""".stripMargin) { (s, dir) =>
      Tables.events(s, dir).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_ids"),
        min(col("user_id")).as("min_id"),
        max(col("user_id")).as("max_id"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"))
    },

    // ---- O/top-k via deterministic window ranking (SURVEY §2.5/§2.6) ----
    GQuery(
      "o1_topk_per_group",
      """SELECT event_type, user_id, total_value FROM (
        |  SELECT event_type, user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |                       ORDER BY CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) DESC,
        |                                user_id) AS rn
        |  FROM events GROUP BY event_type, user_id
        |) WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val totals = Tables.events(s, dir)
        .groupBy("event_type", "user_id")
        .agg(dsum(col("value")).as("total_value"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("total_value").desc, col("user_id"))
      totals.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("event_type", "user_id", "total_value")
    },

    // ---- As-of join: attribute every event to the same user's most
    // recent preceding 'signup' event. Composed from a running last_value
    // window (SURVEY custom-op tier (a): built-ins express the semantics —
    // no custom operator needed; one shuffle by user). ----
    GQuery(
      "j8_asof_join",
      """SELECT event_id, user_id, event_type,
        |  last_value(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_signup_us
        |FROM events""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("t", unix_micros(col("ts")))
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select(
        col("event_id"), col("user_id"), col("event_type"),
        last(when(col("event_type") === "signup", col("t")), ignoreNulls = true)
          .over(w).as("asof_signup_us"))
    },

    // ---- Multi-granularity in one pass: ROLLUP (the reference computes
    // by_gid/by_class/by_trial grains as separate passes — SURVEY §2.4
    // notes grouping sets are the one-pass form) ----
    GQuery(
      "g1_rollup",
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
    },

    // ---- g2: CUBE + explicit GROUPING SETS — the other multi-grain
    // aggregation shapes (g1 covers ROLLUP's prefix lattice). One pass
    // produces every grain with map-side partials (Catalyst Expand);
    // grouping() disambiguates a real NULL key from a subtotal row,
    // which COALESCE alone cannot. ----
    GQuery(
      "g2_cube_grouping_sets",
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rf,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS ls,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
        |                        (l_linestatus), ())""".stripMargin) { (s, dir) =>
      // cube(a, b) == GROUPING SETS of all 4 subsets; the oracle spells
      // the sets out because DuckDB and Spark agree on CUBE too — the
      // explicit form also documents the expansion the plan performs
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
          grouping("l_returnflag").cast("long").as("g_rf"),
          grouping("l_linestatus").cast("long").as("g_ls"))
        .select(
          when(col("g_rf") === 1, lit("ALL")).otherwise(col("l_returnflag")).as("rf"),
          when(col("g_ls") === 1, lit("ALL")).otherwise(col("l_linestatus")).as("ls"),
          col("g_rf"), col("g_ls"), col("sum_qty"), col("n"))
    },

    // ---- Skew pattern: two-stage salted aggregation. event_type has only
    // 5 values — at 100 TB a plain groupBy funnels everything through 5
    // reducers. Stage 1 aggregates on (key, salt) [32-way fan-out,
    // map-side partials], stage 2 merges the tiny salted partials. Result
    // identical to the plain GROUP BY, which is the oracle. ----
    GQuery(
      "k1_salted_agg",
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
        |  MAX(value) AS max_value
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      val salted = Tables.events(s, dir)
        .withColumn("salt", pmod(xxhash64(col("event_id")), lit(32)))
        .groupBy("event_type", "salt")
        .agg(
          count(lit(1)).as("n0"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 6))).as("s0"),
          max("value").as("m0"))
      salted.groupBy("event_type")
        .agg(
          sum("n0").as("n"),
          sum("s0").cast("double").as("sum_value"),
          max("m0").as("max_value"))
    },

    // ---- Exact interpolated percentiles (distribution stats an ingest
    // pipeline needs; Spark percentile == DuckDB quantile_cont) ----
    GQuery(
      "k2_percentiles",
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.9) AS p90,
        |  quantile_cont(value, 0.99) AS p99
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          expr("percentile(value, 0.99)").as("p99"))
    },

    // ---- Approximate sketches: HLL++ distinct + approx quantiles — the
    // 100 TB replacements for their exact forms (a19's countDistinct and
    // k2's exact percentile both buffer full value sets per group; these
    // are constant-memory mergeable sketches). Sketch outputs can't
    // hash-match a non-sketch oracle, so the gate is made deterministic:
    // the engine emits the EXACT value plus a boolean recording whether
    // its own sketch landed inside the published error bound (HLL++
    // rsd=0.02 → 4σ = 8%; percentile_approx accuracy=5000 → rank error
    // ≤ 1/5000, checked against exact quantiles ±0.001 — 5× margin).
    // The oracle emits the exact value and literal TRUE: the hash matches
    // iff every bound held. ApproxStatsSpec additionally bounds the raw
    // sketch error. ----
    GQuery(
      "x1_approx_stats",
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  TRUE AS users_ok, TRUE AS p50_ok, TRUE AS p99_ok
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.02).as("_au"),
          percentile_approx(col("value"), lit(0.5), lit(5000)).as("_p50"),
          percentile_approx(col("value"), lit(0.99), lit(5000)).as("_p99"),
          expr("percentile(value, array(0.499, 0.501, 0.989, 0.991))").as("_pb"))
        .select(
          col("event_type"), col("exact_users"),
          (abs(col("_au") - col("exact_users")) <=
            lit(0.08) * col("exact_users")).as("users_ok"),
          col("_p50").between(col("_pb")(0), col("_pb")(1)).as("p50_ok"),
          col("_p99").between(col("_pb")(2), col("_pb")(3)).as("p99_ok"))
    },

    // ---- §2.5: lag over event-time partitions (ISI pattern —
    // reference: external/bluecv/gid.py:38-51) ----
    GQuery(
      "w1_lag_intervals",
      """SELECT user_id AS gid, event_id,
        |  epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                         ORDER BY epoch_us(ts), event_id) AS isi
        |FROM events""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("t", unix_micros(col("ts")))
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
      ev.select(
        col("user_id").as("gid"),
        col("event_id"),
        (col("t") - lag(col("t"), 1).over(w)).as("isi"))
    },

    // ---- Bucketed co-located join (graft.sources.Bucketed): both sides
    // hash-clustered by gid at WRITE time, so the repeated report⋈nodes
    // join — the reference's hottest join shape, re-run per window ×
    // neuron-class — needs no shuffle exchange on either side. The write
    // is memoized per (session, dir) like the IVF index (v7): the gate
    // measures the steady-state read path, which is the point of paying
    // the one-time clustered write. The builder REQUIREs the exchange-free
    // plan, so a silent loss of the bucketed-scan property fails the gate
    // rather than just running slower. ----
    GQuery(
      "j10_bucketed_colocated",
      """WITH g AS (
        |  SELECT DISTINCT user_id AS gid FROM events WHERE user_id % 2 = 0)
        |SELECT g.gid % 7 AS klass, count(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        |FROM events e JOIN g ON g.gid = e.user_id
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val (spikesT, dimT) = bucketedTables(s, dir)
      // merge hint: force the shuffled-join path even though the dim side
      // is broadcast-small at gate scale — at 100 TB both sides exceed the
      // broadcast threshold, which is the case bucketing exists for
      val joined = graft.sources.Bucketed.table(s, spikesT).hint("merge")
        .join(graft.sources.Bucketed.table(s, dimT).hint("merge"), "gid")
      require(!graft.sources.Bucketed.hasShuffle(joined),
        s"bucketed co-located join shuffled:\n${joined.queryExecution.executedPlan}")
      joined.groupBy("klass")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select("klass", "n", "sum_value")
    }
  )

  /** One-time bucketed write of the events projection + even-gid dimension
    * (8 buckets on gid, one file per bucket), memoized per (session, dir).
    */
  private val Memo = graft.engine.SessionMemo.namespace("relational")
  private val bucketCache = Memo.store[String, (String, String, String)](
    "bucketed")(v => Seq(v._1, v._2), _._3)
  private val sessionTokens = Memo.forget[Unit, String]("session_token")

  /** Drop this session's memoized bucketed tables (catalog entries +
    * cache keys) AND their temp files — the store path is stable per
    * (session, dir), so a multi-pass bench that clears between passes
    * rewrites in place instead of leaking one full copy per pass.
    */
  def clearBucketedCache(s: org.apache.spark.sql.SparkSession): Unit = Memo.clear(s)

  private def bucketedTables(s: org.apache.spark.sql.SparkSession, dir: String): (String, String) = {
    val (t1, t2, _) = bucketCache.getOrElseUpdate((s, dir), {
      // md5 of the dir, not dir.hashCode: a 31-bit collision between two
      // data dirs in one session would overwrite the shared catalog names
      // while both memoized entries keep serving them. The session token
      // keys the CATALOG names the same way the memo is keyed: two
      // sessions sharing one catalog (newSession / shared metastore) on
      // the same dir must not overwrite each other's tables.
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
      // per-session random token, NOT identityHashCode: identity hashes
      // are a 32-bit space with no uniqueness guarantee, and two
      // concurrent JVMs could land on the same value — sharing one live
      // store path means overwrite-under-reader. 64 random bits per
      // session are unique across sessions AND processes.
      val sess = sessionTokens.getOrElseUpdate((s, ()),
        java.lang.Long.toHexString(
          java.util.concurrent.ThreadLocalRandom.current().nextLong()))
      // stable per-(session, dir) path: rebuilds overwrite in place
      val base = s"${System.getProperty("java.io.tmpdir")}/graft-bucketed-${sess}_$tag"
      graft.engine.TempReaper.register(base)
      val ev = Tables.events(s, dir)
        .select(col("user_id").as("gid"), col("event_id"), col("value"))
      val spikesT = s"graft_b_spikes_${sess}_$tag"
      val dimT = s"graft_b_gdim_${sess}_$tag"
      graft.sources.Bucketed.write(ev, spikesT, s"$base/spikes", 8, Seq("gid"))
      val dim = ev.select("gid").distinct().filter(col("gid") % 2 === 0)
        .withColumn("klass", col("gid") % 7)
      graft.sources.Bucketed.write(dim, dimT, s"$base/gdim", 8, Seq("gid"))
      (spikesT, dimT, base)
    })
    (t1, t2)
  }
}
