package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** `numPlanes` deterministic hyperplane dot products over one
  * `ARRAY<FLOAT>` embedding:
  *
  *   dots[h] = Σ_d emb[d] · p(h,d),
  *   p(h,d)  = ((h·64 + d) · 2654435761 mod 2³²) / 2³¹ − 1   ∈ [−1, 1)
  *
  * This is the signature step of the hyperplane-LSH family (q26 ANN
  * buckets, q33 embedding near-dup): map-only, zero shuffle. The SQL
  * formulation (`transform(sequence, h -> aggregate(zip_with(...)))`)
  * has identical semantics but evaluates interpreted higher-order
  * lambdas — ~5 ms/row at 64 dims × 12 planes, 4× the whole-query cost.
  * This native expression is one fused loop (`compute`) with a single
  * `double[]` allocation per row; the generated code calls it, so the
  * surrounding project/filter stays inside whole-stage codegen (brief:
  * native `Expression` with `doGenCode` > UDF).
  *
  * Bit-parity with the DuckDB oracle's `list_transform(range(0, nH),
  * h -> list_reduce(...))` twin: floats widen to double, terms
  * accumulate in ascending-d order, and the plane arithmetic is exact
  * 64-bit integer math — all three identical here, so hashes match.
  */
case class HyperplaneDots(child: Expression, numPlanes: Int)
  extends UnaryExpression {

  require(numPlanes > 0 && numPlanes <= 64,
    s"hyperplane_dots: numPlanes must be in [1, 64], got $numPlanes")

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"hyperplane_dots expects ARRAY<FLOAT>, got $t")
    }

  // containsNull: a null EMBEDDING ELEMENT nulls every plane's dot —
  // exactly what the SQL fold formulation does (the zip_with product is
  // NULL, and SUM-style aggregate folds propagate it).
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def prettyName: String = "hyperplane_dots"

  override protected def nullSafeEval(input: Any): Any =
    HyperplaneDots.compute(input.asInstanceOf[ArrayData], numPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.HyperplaneDots.compute($a, $numPlanes)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneDots =
    copy(child = newChild)
}

object HyperplaneDots {
  val info: ExpressionInfo =
    new ExpressionInfo(classOf[HyperplaneDots].getName, null, "hyperplane_dots")

  def compute(a: ArrayData, numPlanes: Int): ArrayData = {
    val n = a.numElements()
    var d0 = 0
    while (d0 < n) {
      if (a.isNullAt(d0)) return new GenericArrayData(new Array[Any](numPlanes))
      d0 += 1
    }
    val out = new Array[Double](numPlanes)
    var h = 0
    while (h < numPlanes) {
      var acc = 0.0
      var d = 0
      while (d < n) {
        val p = ((h.toLong * 64 + d) * 2654435761L % 4294967296L) /
          2147483648.0 - 1.0
        acc += a.getFloat(d).toDouble * p
        d += 1
      }
      out(h) = acc
      h += 1
    }
    new GenericArrayData(out)
  }
}
