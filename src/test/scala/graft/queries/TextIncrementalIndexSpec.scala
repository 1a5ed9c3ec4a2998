package graft.queries

import graft.SparkSuite
import graft.sources.Bucketed
import org.apache.spark.sql.functions._

/** t26's maintenance half: the gate proves a shard dedups against the
  * persisted index exchange-free; this spec proves the index can then be
  * MAINTAINED — the accepted shard's signatures appended into the same
  * bucketed table — so the next arriving shard dedups against
  * corpus ∪ shard without ever rebuilding. Pins: (1) index-after-append
  * equals the index rebuilt from the full corpus (row multiset), and
  * (2) a subsequent shard's join against the appended index still adds
  * zero exchanges (the bucket spec survives the insert).
  */
class TextIncrementalIndexSpec extends SparkSuite {

  test("append shard signatures == rebuilt index; next shard still exchange-free") {
    val s = spark
    val docs = graft.Tables.documents(s, sf0001)
    try {
      val tok = java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      val name = s"graft_t26_spec_$tok"
      val path = s"${System.getProperty("java.io.tmpdir")}/$name"
      try {
        // the production build/maintain pair: capped build, then the
        // delta capped against the live index's occupancy before append
        // (no bucket crosses the cap at this scale, so the result must
        // equal the UNcapped full rebuild exactly)
        val corpus = Text.signatureFrame(docs.filter(col("doc_id") % 10 =!= 7))
        Bucketed.writePrepared(Text.cappedIndexFrame(corpus, 8), name, path,
          8, Seq("bk"), Seq("bk", "doc_id"))
        // two arriving shards exercise BOTH insert paths: the first half
        // through plain append (repartition inside), the second through
        // cappedDelta -> appendPrepared (the one-shuffle maintenance
        // recipe); rebuild equality below pins them jointly
        val delta = docs.filter(col("doc_id") % 10 === 7)
        Bucketed.append(
          Text.signatureFrame(delta.filter(col("doc_id") % 20 === 7)),
          name, 8, Seq("bk"))
        Bucketed.appendPrepared(
          Text.cappedDelta(Bucketed.table(s, name),
            Text.signatureFrame(delta.filter(col("doc_id") % 20 =!= 7)), 8),
          name)

        val got = Bucketed.table(s, name)
        val want = Text.signatureFrame(docs)
        assert(got.count() == want.count(), "appended index row count drifted")
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          "appended index rows differ from the full-corpus rebuild")

        // a SECOND shard (re-using the delta's signatures as a stand-in)
        // must still join the appended index with zero added exchanges
        val shard2 = Text.signatureFrame(delta)
          .withColumnRenamed("doc_id", "doc2")
          .repartition(8, col("bk"))
        val joined = Bucketed.table(s, name).hint("merge")
          .join(shard2.hint("merge"), "bk")
        assert(Bucketed.shuffleCount(joined) == Bucketed.shuffleCount(shard2),
          s"append broke the exchange-free scan:\n${joined.queryExecution.executedPlan}")
        // appends add one file per (insert, bucket): the scan must now
        // see 2 files per bucket and still read bucketed
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true") || plan.contains("SelectedBucketsCount"),
          s"not a bucketed scan after append:\n$plan")
      } finally {
        s.sql(s"DROP TABLE IF EXISTS `$name`")
        graft.engine.MultiAnalyzer.deleteRecursively(new java.io.File(path))
      }
    } finally ()
  }

  test("occupancy cap: skewed bucket keeps the cap smallest ids; append respects remaining room") {
    val s = spark
    import s.implicits._
    // one mega-bucket (200 rows > cap 16), one small bucket (3 rows)
    val sigs = ((1L to 200L).map(i => ("0|hot", i)) ++
      Seq(("1|cold", 10L), ("1|cold", 11L), ("1|cold", 12L)))
      .toDF("bk", "doc_id")
    val capped = Text.cappedIndexFrame(sigs, 4, cap = 16)
    val byBk = capped.groupBy("bk").agg(
      count(lit(1)).as("n"), max(col("doc_id")).as("mx")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byBk("0|hot") == ((16L, 16L)), "hot bucket must keep the 16 smallest ids")
    assert(byBk("1|cold") == ((3L, 12L)), "under-cap bucket must be untouched")

    // delta against a live index: hot bucket is full (nothing accepted),
    // cold has room for 13 more — smallest delta ids win
    val delta = ((300L to 310L).map(i => ("0|hot", i)) ++
      (100L to 120L).map(i => ("1|cold", i))).toDF("bk", "doc_id")
    val kept = Text.cappedDelta(capped, delta, 4, cap = 16)
    val byBk2 = kept.groupBy("bk").agg(
      count(lit(1)).as("n"), max(col("doc_id")).as("mx")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!byBk2.contains("0|hot"), "full bucket must accept no delta rows")
    assert(byBk2("1|cold") == ((13L, 112L)),
      "partially-filled bucket must accept the smallest delta ids up to the cap")
  }

  test("non-monotone delta into a crossing bucket trips the undercut sentinel") {
    val s = spark
    import s.implicits._
    // hot bucket capped at 16 (kept ids 1..16, imax = 16); cold open
    val sigs = ((1L to 200L).map(i => ("0|hot", i)) ++
      Seq(("1|cold", 10L), ("1|cold", 11L), ("1|cold", 12L)))
      .toDF("bk", "doc_id")
    val capped = Text.cappedIndexFrame(sigs, 4, cap = 16)
    // doc 5 arrives AFTER the index was built with ids 1..16 kept — a
    // rebuild-with-cap would keep 5 and evict 16; append cannot. doc 100
    // into cold is monotone and must append cleanly.
    val delta = Seq(("0|hot", 5L), ("1|cold", 100L)).toDF("bk", "doc_id")
    val obs = org.apache.spark.sql.Observation(
      s"undercut_${java.util.UUID.randomUUID().toString.take(8)}")
    val kept = Text.cappedDelta(capped, delta, 4, cap = 16, obs = Some(obs))
    val rows = kept.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val m = obs.get
    assert(m("dropped_ids") == 1L, s"hot-bucket delta row must be capped out: $m")
    assert(m("undercut_ids") == 1L,
      s"out-of-order id below the bucket's kept max must trip the sentinel: $m")
    // exactness still holds bucket-locally where no cap crossed
    assert(rows == Set(("1|cold", 100L)),
      s"uncapped bucket must append exactly its monotone row: $rows")
  }

  test("gate-scale index build drops nothing — the license for the uncapped oracle") {
    val s = spark
    Text.indexForTesting(s, sf0001)
    val stats = Text.idxCapStats.get((s, sf0001))
    assert(stats.nonEmpty, "index build recorded no cap stats")
    assert(stats.exists(_._1 == 0L),
      s"occupancy cap dropped signature rows at gate scale $stats — " +
        "t26/s7's uncapped full-recompute oracles are no longer valid here")
  }

  test("per-row closed-form signatures == the shingle-explode + groupBy form") {
    val s = spark
    val sh = Text.shingles(s, sf0001, 3)
    val viaAgg = Text.lshBuckets(sh)
      .select(concat_ws("|", col("band"), col("bkey")).as("bk"), col("doc_id"))
    val viaRow = Text.rowLshKeys(graft.Tables.documents(s, sf0001))
    assert(viaRow.count() == viaAgg.count())
    assert(viaRow.exceptAll(viaAgg).isEmpty && viaAgg.exceptAll(viaRow).isEmpty,
      "rowLshKeys diverges from the aggregate signature form")

    // and at a non-default banding (the x1000 study's variable-depth probes, BASELINE.md)
    val aggD3 = Text.lshBuckets(sh, bands = 3, rowsPerBand = 3)
      .select(concat_ws("|", col("band"), col("bkey")).as("bk"), col("doc_id"))
    val rowD3 = Text.rowLshKeysAt(graft.Tables.documents(s, sf0001), 3, 3)
    assert(rowD3.exceptAll(aggD3).isEmpty && aggD3.exceptAll(rowD3).isEmpty,
      "rowLshKeysAt(3,3) diverges from lshBuckets(3,3)")
  }

  test("GenScale x10 maintenance: the delta append's loss AND exactness sentinels are zero") {
    // the x10 oracle sweep licenses uncapped-recompute oracles at this
    // scale; this pins the maintenance half of that license — a skewed
    // or out-of-order production delta must fail a SPEC, not warn into
    // a void (dropped = rows the cap rejected; undercut = non-monotone
    // arrivals breaking append==rebuild exactness)
    val x10 = "/tmp/scale/x10"
    assume(new java.io.File(s"$x10/documents.parquet").exists(),
      "GenScale x10 fixture absent (tools/runtool.sh graft.tools.GenScale)")
    val s = spark
    val (idx, buckets) = Text.indexWithBucketsForTesting(s, x10)
    val deltaSigs = Text.rowLshKeys(
      graft.Tables.documents(s, x10).filter(col("doc_id") % 10 === 7))
    val obs = org.apache.spark.sql.Observation(
      s"x10_delta_${java.util.UUID.randomUUID().toString.take(8)}")
    val accepted = Text.cappedDelta(idx, deltaSigs, buckets, obs = Some(obs))
      .count()
    val m = obs.get
    assert(accepted > 0, "x10 delta appended nothing")
    assert(m("dropped_ids") == 0L && m("undercut_ids") == 0L,
      s"x10 maintenance sentinels nonzero: $m — append has diverged " +
        "from rebuild at sweep scale")
  }

  test("append → compact → append cycle keeps the index exact and exchange-free") {
    // VERDICT r19 missing #3's done-criterion: the maintained index
    // survives a full maintenance cycle — a delta append fragments
    // buckets, compactBuckets restores one file per bucket through the
    // commit-marker rewrite, a SECOND delta appends onto the compacted
    // store — and at every step the index equals the monotone rebuild
    // and the probe join stays exchange-free on the corpus side.
    val s = spark
    val docs = graft.Tables.documents(s, sf0001)
    val tok = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong())
    val name = s"graft_t26_cycle_$tok"
    val path = s"${System.getProperty("java.io.tmpdir")}/$name"
    try {
      val corpus = Text.signatureFrame(docs.filter(col("doc_id") % 10 =!= 7))
      graft.sources.Bucketed.writePrepared(
        Text.cappedIndexFrame(corpus, 8), name, path, 8, Seq("bk"),
        Seq("bk", "doc_id"))
      val delta = docs.filter(col("doc_id") % 10 === 7)
      graft.sources.Bucketed.append(
        Text.signatureFrame(delta.filter(col("doc_id") % 20 === 7)),
        name, 8, Seq("bk"))
      assert(graft.sources.Bucketed.bucketFileCounts(s, name)
        .values.exists(_ > 1), "append did not fragment — cycle vacuous")
      assert(graft.sources.Bucketed.compactBuckets(s, name) > 0)
      assert(graft.sources.Bucketed.bucketFileCounts(s, name)
        .values.forall(_ == 1), "compaction left fragmented buckets")
      graft.sources.Bucketed.appendPrepared(
        Text.cappedDelta(graft.sources.Bucketed.table(s, name),
          Text.signatureFrame(delta.filter(col("doc_id") % 20 =!= 7)), 8),
        name)
      val got = graft.sources.Bucketed.table(s, name)
      val want = Text.signatureFrame(docs)
      assert(got.count() == want.count(),
        "index row count drifted across the append→compact→append cycle")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "index rows differ from the full rebuild after the cycle")
      // the t26 probe shape is still exchange-free over the cycled store
      val shard = Text.signatureFrame(delta)
        .withColumnRenamed("doc_id", "doc2").repartition(8, col("bk"))
      val joined = got.hint("merge").join(shard.hint("merge"), "bk")
      assert(graft.sources.Bucketed.shuffleCount(joined) ==
          graft.sources.Bucketed.shuffleCount(shard),
        s"cycle broke the exchange-free scan:\n" +
          joined.queryExecution.executedPlan)
    } finally {
      s.sql(s"DROP TABLE IF EXISTS `$name`")
      graft.engine.MultiAnalyzer.deleteRecursively(new java.io.File(path))
    }
  }
}
