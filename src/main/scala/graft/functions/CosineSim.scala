package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native cosine similarity over two embedding columns.
  *
  * The engine-extension ops (SURVEY §2.2 north star) score embeddings in
  * their hot loops; the SQL-function formulation
  * (`aggregate(zip_with(...))`) walks the arrays three times and
  * allocates an intermediate product array per row. This expression is
  * the preferred Catalyst form (brief: native `Expression` with
  * `doGenCode` > UDF): one fused loop, no allocation, generated inline
  * in whole-stage codegen, so the surrounding filter/project stays in
  * one generated function. Elements are not null-checked: a NULL slot's
  * stored value is read as is (0.0 in an `UnsafeArrayData`, undefined
  * in a reused columnar batch).
  *
  * Like [[L2Sq]]/[[PqSubDists]] it accepts `ARRAY<FLOAT>` or
  * `ARRAY<DOUBLE>` on EITHER side independently: corpus vectors arrive
  * as float32 parquet, while TRAINED codebook centroids (the q72 Lloyd
  * artifact the production ANN variants route against) are double
  * averages — forcing a cast of the corpus side would materialize a
  * doubled copy of every vector.
  *
  * Semantics (bit-parity with the DuckDB oracle's
  * `list_dot_product(a,b) / (sqrt(list_dot_product(a,a)) *
  * sqrt(list_dot_product(b,b)))` on double lists): every float is
  * widened to double, the three accumulators fold left-to-right in one
  * pass, mismatched lengths score the common prefix, and a zero norm
  * yields NaN — identical to the SQL-fold formulation it replaces.
  */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  // Not ExpectsInputTypes (its signature type is private[sql] in Spark
  // 4); embeddings arrive as ARRAY<FLOAT|DOUBLE> so no implicit casts
  // needed — just validate.
  override def checkInputDataTypes(): TypeCheckResult =
    ArrayKernels.checkVectors(prettyName, left.dataType, right.dataType)

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  private def aFloat = ArrayKernels.isFloat(left.dataType)
  private def bFloat = ArrayKernels.isFloat(right.dataType)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val af = aFloat
    val bf = bFloat
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // The one kernel that keeps a generated twin of its loop (guarded by
  // CosineSimSpec's codegen-vs-interpreted bit check): q33's band-join
  // verify ran ~15% slower end to end when the generated code called
  // one shared Scala body instead (tools/ab.sh, sf0.1, 4 cores).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val getA = if (aFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (bFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
        |final int $n = Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0, $na = 0.0, $nb = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  final double $x = $getA;
        |  final double $y = $getB;
        |  $dot += $x * $y;
        |  $na += $x * $x;
        |  $nb += $y * $y;
        |}
        |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  val info: ExpressionInfo =
    new ExpressionInfo(classOf[CosineSim].getName, null, "cosine_sim")
}
