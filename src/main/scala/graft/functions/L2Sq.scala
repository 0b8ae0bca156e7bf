package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native squared-Euclidean distance over two embedding columns —
  * the k-means assignment kernel (q72): every vector is scored against
  * K broadcast centroids per Lloyd iteration, so this sits in the hot
  * loop exactly like [[CosineSim]] does for the cosine family.
  *
  * Unlike [[CosineSim]] it accepts `ARRAY<FLOAT>` or `ARRAY<DOUBLE>`
  * on EITHER side independently: corpus vectors arrive as float32
  * parquet, while recomputed Lloyd centroids are double averages —
  * forcing a cast of the corpus side would materialize a doubled copy
  * of every vector per iteration.
  *
  * Semantics (bit-parity with the DuckDB oracle's left-to-right
  * `list_reduce` fold over `(a[i]-b[i])*(a[i]-b[i])` on doubles):
  * every element widens to double, the accumulator folds
  * left-to-right in one pass, and mismatched lengths score the common
  * prefix.
  */
case class L2Sq(left: Expression, right: Expression)
  extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  /** A NULL element propagates NULL, matching the SQL higher-order fold
    * (`aggregate`/`list_reduce`) this kernel is bit-pinned to. */
  private def elemsNullable: Boolean =
    ArrayKernels.elemsNullable(left.dataType, right.dataType)

  // NULL can arise from non-null inputs when elements are nullable;
  // the override also keeps nullSafeCodeGen's isNull a variable (the
  // non-nullable branch renders it as a literal `false`, which the
  // generated assignment would fail to compile against).
  override def nullable: Boolean = super.nullable || elemsNullable

  override def checkInputDataTypes(): TypeCheckResult =
    ArrayKernels.checkVectors(prettyName, left.dataType, right.dataType)

  override def dataType: DataType = DoubleType

  override def prettyName: String = "l2_sq"

  private def aFloat = ArrayKernels.isFloat(left.dataType)
  private def bFloat = ArrayKernels.isFloat(right.dataType)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val v = L2Sq.compute(a, b, aFloat, bFloat, elemsNullable)
    if (L2Sq.isNull(v, a, b, elemsNullable)) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val value = s"${ev.value} = graft.functions.L2Sq.compute(" +
        s"$a, $b, $aFloat, $bFloat, $elemsNullable);"
      if (!elemsNullable) value
      else s"""
        |$value
        |${ev.isNull} = graft.functions.L2Sq.isNull(${ev.value}, $a, $b, true);
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Sq =
    copy(left = newLeft, right = newRight)
}

object L2Sq {
  val info: ExpressionInfo =
    new ExpressionInfo(classOf[L2Sq].getName, null, "l2_sq")

  /** `Σ (a[i] − b[i])²` over the common prefix, folded left-to-right in
    * double. With `checkNulls`, a NULL element stops the fold with NaN,
    * which [[isNull]] tells apart from a NaN sum. */
  def compute(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean,
      checkNulls: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (a.isNullAt(i) || b.isNullAt(i))) return Double.NaN
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    acc
  }

  /** Whether [[compute]]'s result `v` stands for NULL: only a NaN can,
    * so the NULL pre-scan runs only then. */
  def isNull(v: Double, a: ArrayData, b: ArrayData, checkNulls: Boolean): Boolean =
    checkNulls && v.isNaN && ArrayKernels.nullInPrefix(a, b)
}
