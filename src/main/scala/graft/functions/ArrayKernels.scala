package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Input-type rules and the NULL pre-scan shared by the array kernels.
  *
  * Each kernel writes its loop once, as a Scala body in its companion
  * object; `nullSafeEval` and `doGenCode` both call that body, so the
  * interpreted and generated paths cannot drift apart ([[CosineSim]]
  * alone keeps a generated loop; its `doGenCode` says why). A kernel whose
  * result can be NULL never boxes it: an array-valued body pre-scans
  * for NULL before its loop, and a scalar body stops its loop with NaN
  * at a NULL, so the pre-scan runs only for a NaN result.
  *
  * Each body reads its elements itself (`getFloat`/`getDouble` on its
  * own call sites), not through a shared read helper: the JIT profiles
  * a call site's receiver types per method, and one helper read by
  * every kernel sees `UnsafeArrayData`, `ColumnarArray` and
  * `GenericArrayData` at once and stops inlining the reads.
  */
private[functions] object ArrayKernels {

  /** `ARRAY<FLOAT>` or `ARRAY<DOUBLE>`, the embedding types. Corpus
    * vectors arrive as float32 parquet while trained centroids are
    * double averages, so each side is accepted independently and
    * floats widen to double element by element. */
  def isVector(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  def isFloat(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Whether any of the array types admits NULL elements; only then do
    * kernels pay a NULL pre-scan. Parquet schemas mark elements
    * nullable even when no nulls exist, so the case must be handled,
    * not rejected. */
  def elemsNullable(dts: DataType*): Boolean = dts.exists {
    case ArrayType(_, n) => n
    case _ => false
  }

  def checkVectors(name: String, l: DataType, r: DataType): TypeCheckResult =
    if (isVector(l) && isVector(r)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects ARRAY<FLOAT|DOUBLE> on both sides, got ($l, $r)")

  /** Whether `a` or `b` holds a NULL within their common prefix. */
  def nullInPrefix(a: ArrayData, b: ArrayData): Boolean = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return true
      i += 1
    }
    false
  }
}
