package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native integer-vector kernels. The declarative equivalents
  * (`aggregate(zip_with(...))`) are higher-order functions, which
  * Catalyst evaluates outside whole-stage codegen; these expressions
  * generate a tight static loop call instead — the dot product is the
  * O(candidates × dims) hot path of ANN/embedding-dedup, so it must
  * stay inside the generated loop. Semantics are identical (exact
  * bigint sums), so oracle parity is unchanged. */
object VectorKernels {
  def intDot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  def intNormSq(a: ArrayData): Long = {
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) { val x = a.getLong(i); s += x * x; i += 1 }
    s
  }

  /** Count of array elements strictly below `v` — the RankSplit cell
    * kernel (see [[CountBelow]]); one flavor per supported cell type. */
  def countBelowLong(arr: ArrayData, v: Long): Int = {
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) { if (v > arr.getLong(i)) c += 1; i += 1 }
    c
  }

  def countBelowInt(arr: ArrayData, v: Int): Int = {
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) { if (v > arr.getInt(i)) c += 1; i += 1 }
    c
  }

  def countBelowDouble(arr: ArrayData, v: Double): Int = {
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) { if (v > arr.getDouble(i)) c += 1; i += 1 }
    c
  }

  /** Σ_m lut[m][codes[m]] — the PQ asymmetric-distance lookup fold:
    * `lut` is the per-query M×K integer distance table
    * (array<array<bigint>>), `codes` a candidate's M one-byte codes
    * (array<int>). Evaluated once per ADC candidate row — the PQ
    * search hot path. STRICT where the declarative
    * `aggregate(zip_with(...))` twin was silently NULL: a length
    * mismatch or out-of-range code means a corrupt/mismatched codes
    * row, and scoring it as NULL would silently drop it from ranking
    * — fail loudly instead. */
  def pqAdc(lut: ArrayData, codes: ArrayData): Long = {
    val m = lut.numElements()
    if (codes.numElements() != m)
      throw new IllegalArgumentException(
        s"pq_adc: codes length ${codes.numElements()} != lut subspaces $m — " +
          "corrupt codes row or model/table mismatch")
    var s = 0L
    var i = 0
    while (i < m) {
      val c = codes.getInt(i)
      val row = lut.getArray(i)
      if (c < 0 || c >= row.numElements())
        throw new IllegalArgumentException(
          s"pq_adc: code $c out of range [0, ${row.numElements()}) in subspace $i — " +
            "corrupt codes row or model/table mismatch")
      s += row.getLong(c)
      i += 1
    }
    s
  }

  /** All [[m]] PQ codes of one vector in a single pass: per subspace,
    * argmin over k of `‖c‖² − 2·x·c` (exact bigint; `cc` carries the
    * precomputed ‖c‖² terms). Strict `<` keeps the FIRST minimum —
    * identical tie-break to the declarative
    * `array_position(d, array_min(d))` (lowest centroid id). `cb` is
    * the codebook flattened as [(m·k + k')·sub + d]. */
  def pqEncode(iv: ArrayData, cb: Array[Long], cc: Array[Long],
    m: Int, k: Int, sub: Int): ArrayData = {
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      var best = Long.MaxValue
      var bestK = 0
      var ki = 0
      while (ki < k) {
        var dot = 0L
        val base = (mi * k + ki) * sub
        var d = 0
        while (d < sub) { dot += iv.getLong(mi * sub + d) * cb(base + d); d += 1 }
        val score = cc(mi * k + ki) - 2L * dot
        if (score < best) { best = score; bestK = ki }
        ki += 1
      }
      codes(mi) = bestK
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }
}

/** Σ a_i·b_i over two integer-scaled (bigint array) vectors. */
case class IntVecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "int_vec_dot"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.intDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.intDot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): IntVecDot =
    copy(left = l, right = r)
}

/** Σ_m lut[m][codes[m]] — PQ ADC scoring as a native codegen kernel;
  * the declarative `aggregate(zip_with(lut, codes, …))` twin is an
  * interpreted higher-order function evaluated per candidate row. */
case class PqAdc(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc"
  override def nullSafeEval(lut: Any, codes: Any): Any =
    VectorKernels.pqAdc(lut.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.pqAdc($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdc =
    copy(left = l, right = r)
}

/** PQ-encode a vector against a literal codebook: array<int> of
  * [[cent]].size codes, each the subspace argmin of `‖c‖² − 2·x·c`
  * (ties → lowest centroid id). One native pass replaces the
  * declarative M×K [[IntVecDot]]-over-slice + array_min +
  * array_position tree — the encode is evaluated per corpus row per
  * Lloyd iteration, and the composed tree was both the per-row cost
  * and a whole-stage-codegen size problem (the generated method grew
  * with M·K literal slices). `cent` is a Seq (structural equality →
  * Catalyst canonicalization/subexpression elimination stay sound,
  * which an Array field would silently break). */
case class PqEncode(child: Expression, cent: Seq[Seq[Seq[Long]]])
  extends UnaryExpression {
  private val m = cent.size
  private val k = cent.head.size
  private val sub = cent.head.head.size
  @transient private lazy val cbFlat: Array[Long] =
    cent.flatten.flatten.toArray
  @transient private lazy val ccFlat: Array[Long] =
    cent.flatten.map(c => c.map(x => x * x).sum).toArray
  // containsNull = true: the kernel never emits nulls, but the stored
  // pq_codes tables read back from parquet as array<int> WITH nullable
  // elements, and Store.append's drift guard compares exact types
  // — declaring false would wedge every append against an existing
  // store (and the pre-native encode declared true as well).
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = true)
  override def prettyName: String = "pq_encode"
  override def nullSafeEval(a: Any): Any =
    VectorKernels.pqEncode(a.asInstanceOf[ArrayData], cbFlat, ccFlat, m, k, sub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCb", cbFlat, "long[]")
    val cc = ctx.addReferenceObj("pqCc", ccFlat, "long[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VectorKernels.pqEncode($a, $cb, $cc, $m, $k, $sub)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Σ a_i² over an integer-scaled (bigint array) vector. */
case class IntVecNormSq(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "int_vec_norm_sq"
  override def nullSafeEval(a: Any): Any =
    VectorKernels.intNormSq(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorKernels.intNormSq($a)")
  override protected def withNewChildInternal(newChild: Expression): IntVecNormSq =
    copy(child = newChild)
}

/** Count of split points strictly below `v` — the RankSplit cell
  * assignment (`aggregate(__sps, 0, (acc, b) -> acc + IF(v > b, 1, 0))`)
  * as a native codegen kernel (r19 opt round): the higher-order
  * `aggregate` is evaluated OUTSIDE whole-stage codegen with a
  * per-element lambda-variable dance, and it runs once per input row
  * of every RankSplit consumer — measured ~2.2 s of q_weighted_median's
  * 6.9 s at sf0.1 for a 31-element split array over 600k rows. The
  * kernel is the identical strict `v > element` count (monotone in the
  * sort key, tie values share a cell), dispatched on the cell column's
  * type; the split array and the cell value always share one type by
  * construction (approx_percentile preserves its input type). */
case class CountBelow(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "count_below"
  private def kernel: String = right.dataType match {
    case LongType => "countBelowLong"
    case org.apache.spark.sql.types.IntegerType => "countBelowInt"
    case org.apache.spark.sql.types.DoubleType => "countBelowDouble"
    case other => throw new IllegalArgumentException(
      s"count_below: unsupported cell type $other")
  }
  override def nullSafeEval(arr: Any, v: Any): Any = right.dataType match {
    case LongType =>
      VectorKernels.countBelowLong(arr.asInstanceOf[ArrayData],
        v.asInstanceOf[Long])
    case org.apache.spark.sql.types.IntegerType =>
      VectorKernels.countBelowInt(arr.asInstanceOf[ArrayData],
        v.asInstanceOf[Int])
    case org.apache.spark.sql.types.DoubleType =>
      VectorKernels.countBelowDouble(arr.asInstanceOf[ArrayData],
        v.asInstanceOf[Double])
    case other => throw new IllegalArgumentException(
      s"count_below: unsupported cell type $other")
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, v) => s"graft.functions.VectorKernels.$kernel($a, $v)")
  override protected def withNewChildrenInternal(l: Expression,
    r: Expression): CountBelow = copy(left = l, right = r)
}
