package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** `pq_subdists(v, c, numSub)` — squared L2 distance between two
  * embedding vectors PER SUBSPACE: the vectors split into `numSub`
  * equal contiguous blocks, out[s] = Σ_j (v[j]−c[j])² over block s,
  * accumulating ascending-index in double like the oracle's
  * `list_reduce` fold (floats widen to double first — identical values
  * both engines). The kernel of product-quantization encode (argmin
  * over centroids per subspace) and ADC lookup-table build — one fused
  * loop per (vector, centroid) pair, the same native-kernel treatment
  * as [[CosineSim]]/[[HyperplaneDots]].
  *
  * Like [[L2Sq]] it accepts `ARRAY<FLOAT>` or `ARRAY<DOUBLE>` on EITHER
  * side independently: corpus vectors arrive as float32 parquet, while
  * TRAINED codebook centroids (the q72 Lloyd artifact the production
  * ANN variants quantize against) are double averages — forcing a cast
  * of the corpus side would materialize a doubled copy of every vector.
  *
  * A null ELEMENT in either input nulls every subspace (SQL-fold
  * parity); mismatched or non-divisible lengths are an error.
  */
case class PqSubDists(left: Expression, right: Expression, numSub: Int)
  extends BinaryExpression {
  require(numSub > 0, s"pq_subdists: numSub must be positive, got $numSub")
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    ArrayKernels.checkVectors(prettyName, left.dataType, right.dataType)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "pq_subdists"

  private def aFloat = ArrayKernels.isFloat(left.dataType)
  private def bFloat = ArrayKernels.isFloat(right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    PqSubDists.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      numSub, aFloat, bFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.PqSubDists.compute($a, $b, $numSub, $aFloat, $bFloat)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqSubDists =
    copy(left = newLeft, right = newRight)
}

object PqSubDists {
  val info: ExpressionInfo =
    new ExpressionInfo(classOf[PqSubDists].getName, null, "pq_subdists")

  def compute(a: ArrayData, b: ArrayData, numSub: Int,
      aFloat: Boolean, bFloat: Boolean): ArrayData = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"pq_subdists: length mismatch ${b.numElements()} vs $n")
    require(n % numSub == 0,
      s"pq_subdists: $n dims not divisible into $numSub subspaces")
    if (ArrayKernels.nullInPrefix(a, b))
      return new GenericArrayData(new Array[Any](numSub))
    val sub = n / numSub
    val out = new Array[Double](numSub)
    var s = 0
    while (s < numSub) {
      var acc = 0.0
      var j = s * sub
      val end = j + sub
      while (j < end) {
        val x = if (aFloat) a.getFloat(j).toDouble else a.getDouble(j)
        val y = if (bFloat) b.getFloat(j).toDouble else b.getDouble(j)
        val d = x - y
        acc += d * d
        j += 1
      }
      out(s) = acc
      s += 1
    }
    new GenericArrayData(out)
  }
}
