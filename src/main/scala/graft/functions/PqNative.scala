package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native single-pass quantizer primitives (IVF cell assignment, PQ
  * encode/score/distortion).
  *
  * The declarative forms — `array_min(array(struct(dist, cell)...))` per
  * centroid and per-subspace `slice` + `element_at(typedlit)` + ldot chains
  * — are algebraically identical but allocate one struct per centroid and
  * one sliced array per (row, subspace[, centroid]) inside the hottest
  * projections of the ANN family (corpus encode runs per corpus row; the
  * asymmetric score runs per candidate PAIR). Each expression here computes
  * the same integers in one allocation-free codegen'd loop over the flat
  * vector, with the same tie-break (strict `<` keeps the LOWEST centroid
  * index — exactly `array_min`'s lexicographic (distance, cell) order) and
  * the same slice semantics (a slice past the end of a short vector
  * contributes only its in-bounds elements, like `slice` + ldot's
  * min-length loop).
  *
  * Configs (centroid tables) are baked into the expression as Seq literals
  * — structural equality for plan canonicalization — and converted to flat
  * primitive arrays once per task (@transient lazy val), the
  * StopwordCount/PredictedLang pattern.
  */
object PqNative {

  /** `m`, once `codes` holds exactly one code per codebook. A mismatch
    * means codes and codebooks come from different encoders (wrong m, or
    * stale codes against refreshed codebooks): a plausible-but-wrong score,
    * so it fails instead of truncating to the shorter of the two. */
  private[functions] def codeCount(codes: ArrayData, m: Int): Int = {
    require(codes.numElements() == m,
      s"PQ codes have ${codes.numElements()} entries for $m codebooks")
    m
  }

  /** argmin_i (‖c_i‖² − 2·⟨v[off..off+subDim), c_i⟩): ‖v‖² is constant per
    * row so this ranks exactly ‖v−c_i‖²; strict `<` keeps the lowest index
    * on ties. `cb` is the flat ksub×subDim centroid table, `norms` its
    * per-centroid self-dots. */
  private[functions] def argmin(
      v: ArrayData, off: Int, subDim: Int,
      cb: Array[Long], norms: Array[Long], ksub: Int): Int = {
    val vLen = v.numElements()
    val effLen = math.max(0, math.min(subDim, vLen - off))
    var best = 0
    var bestD = Long.MaxValue
    var i = 0
    while (i < ksub) {
      var dot = 0L
      var j = 0
      val base = i * subDim
      while (j < effLen) {
        dot += cb(base + j) * v.getLong(off + j)
        j += 1
      }
      val d = norms(i) - 2L * dot
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }
}

/** IVF cell assignment: argmin centroid index of an `array<bigint>` vector
  * against a literal centroid table — the native form of
  * `array_min(array(struct(‖c‖²−2·ldot(v,c), i)...)).cell`. */
case class CellArgmin(child: Expression, centroids: Seq[Seq[Long]])
    extends UnaryExpression {
  require(centroids.nonEmpty, "CellArgmin needs at least one centroid")

  @transient private lazy val subDim: Int =
    centroids.map(_.length).max
  @transient private lazy val flat: Array[Long] = {
    val a = new Array[Long](centroids.length * subDim)
    centroids.zipWithIndex.foreach { case (c, i) =>
      c.zipWithIndex.foreach { case (x, j) => a(i * subDim + j) = x }
    }
    a
  }
  @transient private lazy val norms: Array[Long] =
    centroids.map(c => c.map(x => x * x).sum).toArray

  def compute(v: ArrayData): Int =
    PqNative.argmin(v, 0, subDim, flat, norms, centroids.length)

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_cell_argmin"

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellArgmin", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): CellArgmin =
    copy(child = newChild)
}

/** All `m` PQ codes of a vector in one pass: code_s = argmin centroid of
  * subspace slice `v[s·subDim .. (s+1)·subDim)` against codebook_s —
  * native form of m × `array_min(array(struct(..., slice(v, ...))))`
  * columns, with zero slice/struct allocation. */
case class PqEncode(child: Expression, codebooks: Seq[Seq[Seq[Long]]], subDim: Int)
    extends UnaryExpression {
  require(codebooks.nonEmpty && subDim >= 1, "PqEncode needs codebooks and subDim >= 1")

  @transient private lazy val flat: Array[Array[Long]] =
    codebooks.map { cb =>
      val a = new Array[Long](cb.length * subDim)
      cb.zipWithIndex.foreach { case (c, i) =>
        c.zipWithIndex.foreach { case (x, j) => a(i * subDim + j) = x }
      }
      a
    }.toArray
  @transient private lazy val norms: Array[Array[Long]] =
    codebooks.map(cb => cb.map(c => c.map(x => x * x).sum).toArray).toArray
  @transient private lazy val ksubs: Array[Int] = codebooks.map(_.length).toArray

  def compute(v: ArrayData): ArrayData = {
    val m = flat.length
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      codes(s) = PqNative.argmin(v, s * subDim, subDim, flat(s), norms(s), ksubs(s))
      s += 1
    }
    new GenericArrayData(codes)
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Asymmetric PQ score Σ_s ⟨q[s·subDim..), codebook_s[code_s]⟩ over a query
  * vector and a code array — the per-candidate-PAIR hot expression of
  * pqTopK/ivfPqTopK; native form of m × slice+element_at(typedlit)+ldot. */
case class PqApproxDot(left: Expression, right: Expression,
    codebooks: Seq[Seq[Seq[Long]]], subDim: Int) extends BinaryExpression {
  require(codebooks.nonEmpty && subDim >= 1, "PqApproxDot needs codebooks and subDim >= 1")

  @transient private lazy val flat: Array[Array[Long]] =
    codebooks.map { cb =>
      val a = new Array[Long](cb.length * subDim)
      cb.zipWithIndex.foreach { case (c, i) =>
        c.zipWithIndex.foreach { case (x, j) => a(i * subDim + j) = x }
      }
      a
    }.toArray

  /** qv: quantized query vector; codes: m PQ codes. */
  def compute(qv: ArrayData, codes: ArrayData): Long = {
    val m = PqNative.codeCount(codes, flat.length)
    val qLen = qv.numElements()
    var total = 0L
    var s = 0
    while (s < m) {
      val off = s * subDim
      val effLen = math.max(0, math.min(subDim, qLen - off))
      val base = codes.getInt(s) * subDim
      val cb = flat(s)
      var dot = 0L
      var j = 0
      while (j < effLen) {
        dot += qv.getLong(off + j) * cb(base + j)
        j += 1
      }
      total += dot
      s += 1
    }
    total
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_pq_approx_dot"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqApproxDot", this)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.compute($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqApproxDot =
    copy(left = newLeft, right = newRight)
}

/** Per-subspace PQ reconstruction error `‖v_s‖² − 2⟨v_s, cw_s⟩ + ‖cw_s‖²`
  * (cw_s = codebook_s[code_s]) as an array<bigint> of length m — native form
  * of the per-subspace slice/element_at/ldot distortion structs. */
case class PqSubDistortions(left: Expression, right: Expression,
    codebooks: Seq[Seq[Seq[Long]]], subDim: Int) extends BinaryExpression {
  require(codebooks.nonEmpty && subDim >= 1, "PqSubDistortions needs codebooks and subDim >= 1")

  @transient private lazy val flat: Array[Array[Long]] =
    codebooks.map { cb =>
      val a = new Array[Long](cb.length * subDim)
      cb.zipWithIndex.foreach { case (c, i) =>
        c.zipWithIndex.foreach { case (x, j) => a(i * subDim + j) = x }
      }
      a
    }.toArray

  def compute(v: ArrayData, codes: ArrayData): ArrayData = {
    val m = PqNative.codeCount(codes, flat.length)
    val vLen = v.numElements()
    val out = new Array[Long](m)
    var s = 0
    while (s < m) {
      val off = s * subDim
      val effLen = math.max(0, math.min(subDim, vLen - off))
      val base = codes.getInt(s) * subDim
      val cb = flat(s)
      var vv = 0L
      var vc = 0L
      var j = 0
      while (j < effLen) {
        val x = v.getLong(off + j)
        vv += x * x
        vc += x * cb(base + j)
        j += 1
      }
      // ‖cw‖² over the FULL codebook row (slice semantics: ldot(cw, cw)
      // never truncates — the codebook row is always subDim long)
      var cc = 0L
      var k = 0
      while (k < subDim) {
        val c = cb(base + k)
        cc += c * c
        k += 1
      }
      out(s) = vv - 2L * vc + cc
      s += 1
    }
    new GenericArrayData(out)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_sub_distortions"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqSubDistortions", this)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.compute($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqSubDistortions =
    copy(left = newLeft, right = newRight)
}
