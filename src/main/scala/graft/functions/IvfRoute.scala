package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** The two-level IVF router's quantizer state, distributed as ONE Spark
  * broadcast: aligned by super POSITION — `superIds(i)`/`superCents(i)`
  * is super i, `kidIds(i)(j)`/`kidCents(i)(j)` its j-th child cell.
  * Broadcast (torrent, once per executor) is the correct distribution
  * for quantizer-sized static state: plan literals re-serialize with
  * every task batch and break past ~thousands of cells, and a broadcast
  * JOIN materializes the children arrays into every joined row — the
  * r15 RouteProfile rows in BASELINE.md (the tool is in git history)
  * measured that copy at ~√cells·dims·16 B PER QUERY
  * ROW (42 s for 20k queries at 65k cells), which this expression
  * eliminates entirely.
  */
case class IvfRouterState(
    superIds: Array[Int],
    superCents: Array[Array[Double]],
    kidIds: Array[Array[Int]],
    kidCents: Array[Array[Array[Double]]])

/** `ivf_route2(q_emb)`: per-row TWO-LEVEL IVF routing as one scalar
  * expression — picks the top-`nprobe` super-cells by dot product over
  * the broadcast super-centroids, then the best child cell across those
  * supers, in tight JVM loops over primitive arrays. Append-mode legal
  * (a deterministic scalar over one row: no join, no aggregate, no
  * exchange) and bit-identical to the batch hierarchical route: the
  * dots accumulate left-to-right exactly like [[ArrayDot]], and both
  * argmax levels break ties by SMALLEST id under
  * `SQLOrderingUtil.compareDoubles` — the `max_by(struct(dp, -id))`
  * algebra of `routeQueries`/the old join form, re-expressed as loops.
  * CodegenFallback: the eval IS the kernel (~(1+nprobe)·√cells fused
  * dots); there is no per-element expression tree for codegen to beat.
  *
  * `nprobe` is THE recall/latency knob (FAISS ships it as the primary
  * IVF tuning parameter): a boundary query whose best cell's super
  * loses the super-argmax re-ranks inside `nprobe` Voronoi neighbors —
  * deeper probes raise routing recall at ~√cells extra dots each.
  * Default 2 preserves the original boundary semantics
  * (RoutingHierarchySpec pins bit-parity with the batch route there).
  */
case class IvfTwoLevelRoute(
    child: Expression,
    state: Broadcast[IvfRouterState],
    nprobe: Int = 2)
  extends UnaryExpression with CodegenFallback {

  require(nprobe >= 1, s"ivf_route2: nprobe must be >= 1, got $nprobe")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "ivf_route2"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_route2 expects array<float|double>, got $other")
  }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // (dp, id) strictly better than (bestDp, bestId): larger dot wins,
  // ties to the smaller id — max_by(struct(dp, -id)) exactly, including
  // NaN/-0.0 handling via Spark's own double ordering
  private def better(dp: Double, id: Int, bestDp: Double, bestId: Int): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(dp, bestDp)
    c > 0 || (c == 0 && id < bestId)
  }

  // ArrayDot's exact accumulation: left-to-right, shorter length wins
  private def dot(q: Array[Double], c: Array[Double]): Double = {
    val n = math.min(q.length, c.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += q(i) * c(i); i += 1 }
    acc
  }

  override def nullSafeEval(q: Any): Any = {
    val ad = q.asInstanceOf[ArrayData]
    val st = state.value
    val n = ad.numElements()
    val qd = new Array[Double](n)
    var i = 0
    if (isFloat) while (i < n) { qd(i) = ad.getFloat(i).toDouble; i += 1 }
    else while (i < n) { qd(i) = ad.getDouble(i); i += 1 }
    // level 1: top-`nprobe` supers, kept ordered by (dp desc, id asc) —
    // insertion into two parallel arrays (k is small: the recall knob)
    val k = math.min(nprobe, st.superIds.length)
    val topIdx = new Array[Int](k)
    val topDp = new Array[Double](k)
    var filled = 0
    i = 0
    while (i < st.superIds.length) {
      val dp = dot(qd, st.superCents(i))
      var pos = filled
      while (pos > 0 && better(dp, st.superIds(i), topDp(pos - 1),
          st.superIds(topIdx(pos - 1)))) pos -= 1
      if (pos < k) {
        var j = math.min(filled, k - 1)
        while (j > pos) { topIdx(j) = topIdx(j - 1); topDp(j) = topDp(j - 1); j -= 1 }
        topIdx(pos) = i; topDp(pos) = dp
        if (filled < k) filled += 1
      }
      i += 1
    }
    // level 2: best cell across all probed supers' children
    var bestCell = 0; var bestDp = 0.0; var found = false
    var p = 0
    while (p < filled) {
      val ids = st.kidIds(topIdx(p)); val cents = st.kidCents(topIdx(p))
      var j = 0
      while (j < ids.length) {
        val dp = dot(qd, cents(j))
        if (!found || better(dp, ids(j), bestDp, bestCell)) {
          found = true; bestCell = ids(j); bestDp = dp
        }
        j += 1
      }
      p += 1
    }
    require(found, "ivf_route2: empty hierarchy")
    bestCell
  }

  override protected def withNewChildInternal(newChild: Expression): IvfTwoLevelRoute =
    copy(child = newChild)
}

/** `ivf_route_cells(q_emb)`: per-row top-`k` CELLS (with their
  * centroids) across the top-`superProbe` supers of the broadcast
  * hierarchy — the routing form RESIDUAL serving needs, because the
  * residual subtraction requires the routed cell's CENTROID per row and
  * plan literals stop scaling past a few thousand cells (s13's
  * documented ceiling, VERDICT r18 missing #3). Emits
  * `array<struct<cell int, centroid array<double>>>` ranked by
  * (dp desc, cell asc) — [[IvfTwoLevelRoute]]'s exact ordering algebra
  * extended from argmax to top-k, so k=1 over the same state routes
  * bit-identically to `ivf_route2`.
  *
  * With the DEGENERATE one-super state ([[graft.queries.Vectors]]'
  * `flatRouterState`) level 1 is trivial and level 2 scans every cell:
  * the emitted top-k is the EXACT flat (dp desc, id asc) top-k — the
  * batch `multiRoute`'s semantics — which is how gate-scale indexes
  * serve (and how the DuckDB oracles stay exact) while 65k-cell indexes
  * switch to the hierarchical state with the same expression. All
  * quantizer state rides ONE broadcast; per-row work ≈
  * (supers + probed kids) fused dots; append-mode legal.
  */
case class IvfRouteCells(
    child: Expression,
    state: Broadcast[IvfRouterState],
    superProbe: Int = 2,
    k: Int = 1)
  extends UnaryExpression with CodegenFallback {

  require(superProbe >= 1, s"ivf_route_cells: superProbe must be >= 1")
  require(k >= 1, s"ivf_route_cells: k must be >= 1")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("centroid", ArrayType(DoubleType, containsNull = false),
      nullable = false))), containsNull = false)
  override def prettyName: String = "ivf_route_cells"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_route_cells expects array<float|double>, got $other")
  }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def better(dp: Double, id: Int, bestDp: Double, bestId: Int): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(dp, bestDp)
    c > 0 || (c == 0 && id < bestId)
  }

  private def dot(q: Array[Double], c: Array[Double]): Double = {
    val n = math.min(q.length, c.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += q(i) * c(i); i += 1 }
    acc
  }

  override def nullSafeEval(q: Any): Any = {
    val ad = q.asInstanceOf[ArrayData]
    val st = state.value
    val n = ad.numElements()
    val qd = new Array[Double](n)
    var i = 0
    if (isFloat) while (i < n) { qd(i) = ad.getFloat(i).toDouble; i += 1 }
    else while (i < n) { qd(i) = ad.getDouble(i); i += 1 }
    // level 1: top-`superProbe` supers by (dp desc, id asc) insertion
    val sk = math.min(superProbe, st.superIds.length)
    val topIdx = new Array[Int](sk)
    val topDp = new Array[Double](sk)
    var filled = 0
    i = 0
    while (i < st.superIds.length) {
      val dp = dot(qd, st.superCents(i))
      var pos = filled
      while (pos > 0 && better(dp, st.superIds(i), topDp(pos - 1),
          st.superIds(topIdx(pos - 1)))) pos -= 1
      if (pos < sk) {
        var j = math.min(filled, sk - 1)
        while (j > pos) { topIdx(j) = topIdx(j - 1); topDp(j) = topDp(j - 1); j -= 1 }
        topIdx(pos) = i; topDp(pos) = dp
        if (filled < sk) filled += 1
      }
      i += 1
    }
    // level 2: top-`k` cells across the probed supers' children, same
    // ordered-insertion walk — (superIdx, kidIdx) pairs so the centroid
    // array is referenced, never copied, until emission
    val ck = k
    val cSup = new Array[Int](ck)
    val cKid = new Array[Int](ck)
    val cId = new Array[Int](ck)
    val cDp = new Array[Double](ck)
    var cFilled = 0
    var p = 0
    while (p < filled) {
      val ids = st.kidIds(topIdx(p)); val cents = st.kidCents(topIdx(p))
      var j = 0
      while (j < ids.length) {
        val dp = dot(qd, cents(j))
        var pos = cFilled
        while (pos > 0 && better(dp, ids(j), cDp(pos - 1), cId(pos - 1))) pos -= 1
        if (pos < ck) {
          var m = math.min(cFilled, ck - 1)
          while (m > pos) {
            cSup(m) = cSup(m - 1); cKid(m) = cKid(m - 1)
            cId(m) = cId(m - 1); cDp(m) = cDp(m - 1); m -= 1
          }
          cSup(pos) = topIdx(p); cKid(pos) = j; cId(pos) = ids(j); cDp(pos) = dp
          if (cFilled < ck) cFilled += 1
        }
        j += 1
      }
      p += 1
    }
    require(cFilled > 0, "ivf_route_cells: empty hierarchy")
    val out = new Array[Any](cFilled)
    i = 0
    while (i < cFilled) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        cId(i),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          st.kidCents(cSup(i))(cKid(i))))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): IvfRouteCells =
    copy(child = newChild)
}
