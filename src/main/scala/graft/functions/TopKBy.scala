package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k state for [[TopKBy]]: at most k (score, id) pairs kept
  * ascending by (score, id). Insertion is O(k) — k is a small literal
  * (3-5 in the ANN gates), so a heap would be slower than the array walk.
  */
final class TopKBuffer(val k: Int) {
  var n: Int = 0
  val scores: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)

  // Ordering matches Spark SQL's: NaN sorts greater than every other
  // double (incl. +Inf) and equal to itself; -0.0 == 0.0. A plain
  // primitive `<` would let a NaN freeze or corrupt the sorted buffer
  // (all NaN comparisons are false), diverging from the rank-window
  // plan this aggregate replaces.
  @inline private def lt(s: Double, i: Long, j: Int): Boolean = {
    val t = scores(j)
    if (s < t) true
    else if (s == t) i < ids(j)
    else if (s != s) t != t && i < ids(j) // s NaN: below only a NaN tie on id
    else t != t                           // s finite, t NaN: s ranks first
  }

  def insert(s: Double, i: Long): Unit = {
    if (n == k && !lt(s, i, n - 1)) return
    var pos = if (n < k) n else n - 1
    while (pos > 0 && lt(s, i, pos - 1)) {
      scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
    }
    scores(pos) = s; ids(pos) = i
    if (n < k) n += 1
  }
}

/** `topk_by(score, id, k)`: the k smallest (score, id) pairs per group,
  * ascending, as `array<struct<score double, id bigint>>` — a partial
  * aggregate replacement for `row_number() OVER (PARTITION BY g ORDER BY
  * score, id) <= k`. Spark 4's WindowGroupLimit rule already bounds the
  * window form's SHUFFLE (a partial group-limit runs before the exchange),
  * but it still SORTS every map partition in full to apply that limit,
  * then sorts again after the exchange — at ANN scale (corpus × queries
  * ADC rows, 1.6 B at x100) those sorts dominate and spill. This
  * aggregate replaces them with a streaming O(k)-state insertion walk
  * inside a hash aggregate: no sort, no spill, same bounded exchange
  * (measured: v1 brute 466 s → 62.6 s, v10 ADC 117 s → 64 s at x100;
  * shuffle rows identical to the window's: BASELINE.md, Round-13
  * CapProfile entry; the tool is in git history).
  * Ties break on id, matching the window's deterministic ORDER BY.
  */
case class TopKBy(
    score: Expression,
    id: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(score, id, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "topk_by"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = score.dataType == DoubleType &&
      (id.dataType == LongType || id.dataType == IntegerType) &&
      kExpr.foldable && kExpr.dataType == IntegerType
    // eval() only after the shape checks pass, and null-guarded: a
    // foldable CAST(NULL AS INT) must yield this failure, not an NPE.
    val kVal = if (ok) kExpr.eval() else null
    if (kVal != null && kVal.asInstanceOf[Number].intValue() > 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "topk_by expects (score double, id bigint|int, k int-literal > 0), got " +
        s"(${score.dataType}, ${id.dataType}, $kExpr)")
  }

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Number].longValue())
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var j = 0
    while (j < other.n) { buf.insert(other.scores(j), other.ids(j)); j += 1 }
    buf
  }

  override def eval(buf: TopKBuffer): Any =
    new GenericArrayData((0 until buf.n).map { j =>
      InternalRow(buf.scores(j), buf.ids(j))
    }.toArray[Any])

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.n * 16)
    bb.putInt(buf.n)
    var j = 0
    while (j < buf.n) { bb.putDouble(buf.scores(j)); bb.putLong(buf.ids(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    var j = 0
    while (j < n) { buf.insert(bb.getDouble, bb.getLong); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKBy =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKBy =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKBy =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}
