package graft.tools

import org.apache.spark.sql.functions._

/** Second-process residual-serving probe (VERDICT r18 next #1's
  * cross-process "done" condition): opens an EXISTING index root's
  * persisted residual tier and serves one ADC probe, then prints
  *
  *   `residual_serve trains=<n> cells=<c> code_rows=<r> probe_rows=<p>`
  *
  * ResidualPersistSpec builds the root in the suite JVM, runs this in a
  * genuinely separate JVM (the runtool classpath), and asserts
  * `trains=0` — the artifacts on disk, not a session memo, are what the
  * second process serves from. A missing tier would retrain (trains=1)
  * and still serve, which is exactly the silent re-pay the persisted
  * family exists to eliminate.
  */
object ResidualServeProbe {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val spark = graft.Main.session()
    val (cent, nCells, codes, _, cbRows) =
      graft.queries.Vectors.residualPqOpen(spark, root)
    // one served probe: the root's own first few vectors as queries,
    // routed + residual-ADC'd per row (the s13 serving shape)
    val cents = cent.orderBy("cell").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    val q = spark.read.parquet(s"$root/vectors")
      .orderBy("vec_id").limit(8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probe = graft.queries.Vectors.rowResidualAdcProbe(
      graft.queries.Vectors.rowRoute(q, cents), cbRows, cents).drop("q_emb")
    val served = codes.join(broadcast(probe), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id")).count()
    println(s"residual_serve trains=${graft.queries.Vectors.residualTrains.get()} " +
      s"cells=$nCells code_rows=${codes.count()} probe_rows=$served")
    spark.stop()
  }
}
