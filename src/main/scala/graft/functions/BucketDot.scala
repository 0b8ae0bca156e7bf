package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native hashed-feature linear scoring: folds
  * `Σ_i weights[ids[i] mod |weights|]` left-to-right over an
  * `ARRAY<LONG>` id column — the inner product `x·w` of a
  * feature-hashed bag-of-words `x` (unnormalized counts) with a dense
  * weight vector `w`, without ever materializing `x`. This is the
  * fastText-style quality-classifier kernel (q73): one fused loop per
  * row, map-only, inside whole-stage codegen, where the
  * `aggregate(transform(...))` SQL formulation evaluates an
  * interpreted lambda per token (the measured trap the other kernels
  * in this package exist to avoid).
  *
  * The bucket index uses floor-Mod, so negative ids land in
  * `[0, |weights|)` rather than out of range; the q73 ids are
  * poly-hashes in `[0, 1e9+7)`, where floorMod ≡ `%` in both engines.
  * Out-of-range never occurs by construction, and an empty weight
  * array yields NULL (no bucket to score into).
  */
case class BucketDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  // Can yield NULL even from non-null inputs (empty weight array, or a
  // NULL element when the child type allows them) — without this
  // override, nullSafeCodeGen's non-nullable branch renders ev.isNull
  // as the literal `false` and the generated `false = true;` fails
  // Janino compilation (ADVICE r5).
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bucket_dot expects (ARRAY<BIGINT>, ARRAY<DOUBLE>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  /** A NULL element propagates NULL, matching the SQL higher-order
    * fold this kernel replaces. */
  private def elemsNullable: Boolean =
    ArrayKernels.elemsNullable(left.dataType, right.dataType)

  override def prettyName: String = "bucket_dot"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val ids = l.asInstanceOf[ArrayData]
    val w = r.asInstanceOf[ArrayData]
    val v = BucketDot.compute(ids, w, elemsNullable)
    if (BucketDot.isNull(v, ids, w, elemsNullable)) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ids, w) => s"""
      |${ev.value} = graft.functions.BucketDot.compute($ids, $w, $elemsNullable);
      |${ev.isNull} = graft.functions.BucketDot.isNull(${ev.value}, $ids, $w, $elemsNullable);
    """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BucketDot =
    copy(left = newLeft, right = newRight)
}

object BucketDot {
  val info: ExpressionInfo =
    new ExpressionInfo(classOf[BucketDot].getName, null, "bucket_dot")

  private def bucket(id: Long, m: Int): Int =
    java.lang.Math.floorMod(id, m.toLong).toInt

  /** `Σ_i w[floorMod(ids[i], |w|)]`, folded left-to-right. An empty
    * weight array, or (only when `checkElems`) a NULL id or a NULL
    * weight at a bucket some id hits, stops the fold with NaN, which
    * [[isNull]] tells apart from a NaN sum. */
  def compute(ids: ArrayData, w: ArrayData, checkElems: Boolean): Double = {
    val m = w.numElements()
    if (m == 0) return Double.NaN
    val n = ids.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (checkElems && ids.isNullAt(i)) return Double.NaN
      val b = bucket(ids.getLong(i), m)
      if (checkElems && w.isNullAt(b)) return Double.NaN
      acc += w.getDouble(b)
      i += 1
    }
    acc
  }

  /** Whether [[compute]]'s result `v` stands for NULL: only a NaN can,
    * so the NULL pre-scan runs only then. */
  def isNull(v: Double, ids: ArrayData, w: ArrayData, checkElems: Boolean): Boolean = {
    if (!v.isNaN) return false
    val m = w.numElements()
    if (m == 0) return true
    if (checkElems) {
      val n = ids.numElements()
      var i = 0
      while (i < n) {
        if (ids.isNullAt(i) || w.isNullAt(bucket(ids.getLong(i), m))) return true
        i += 1
      }
    }
    false
  }
}
