package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.expr

/** Helpers for specs that pin a kernel's generated code against its
  * interpreted eval. */
object Codegen {

  /** Runs `body` with the codegen factory pinned to `mode`
    * (CODEGEN_ONLY makes a generate-or-compile failure THROW instead
    * of silently falling back; NO_CODEGEN forces the interpreted
    * eval), restoring the session confs after. */
  def withCodegen[T](spark: SparkSession, mode: String, wholeStage: Boolean)(
      body: => T): T =
    withConfs(spark, "spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> wholeStage.toString)(body)

  private def withConfs[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `body`'s result with whole-stage codegen under CODEGEN_ONLY and
    * then with NO_CODEGEN. The optimizer would otherwise fold a
    * projection or filter over a local relation (`Seq(...).toDF`) into a
    * new local relation, evaluated interpreted in both modes. */
  def inBothModes[T](spark: SparkSession)(body: => T): (T, T) =
    withConfs(spark, "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") {
      (withCodegen(spark, "CODEGEN_ONLY", wholeStage = true)(body),
        withCodegen(spark, "NO_CODEGEN", wholeStage = false)(body))
    }

  /** `df`'s rows, sorted by its first (LONG) column, compiled and then
    * interpreted ([[inBothModes]]). */
  def compiledAndInterpreted(spark: SparkSession, df: => DataFrame): (Seq[Row], Seq[Row]) =
    inBothModes(spark)(df.collect().toSeq.sortBy(_.getLong(0)))

  /** A DOUBLE cell's raw bits (NaN and -0.0 compare exactly); NULL is None. */
  def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))

  /** Vector pairs for the binary embedding kernels: `id`, then each
    * side as `ARRAY<FLOAT>` (`af`, `bf`) and as its exact `ARRAY<DOUBLE>`
    * widening (`ad`, `bd`). Rows: equal lengths, each side longer, a
    * zero vector (cosine 0/0 = NaN), two empty arrays and a NULL array;
    * with `nullElems` the element types are nullable and two more rows
    * hold a NULL element, inside and past the common prefix. */
  def vectorPairs(spark: SparkSession, nullElems: Boolean): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def v(n: Int): Seq[Float] = Seq.fill(n)(rnd.nextFloat() * 2f - 1f)
    val pairs: Seq[(Long, Option[Seq[Float]], Option[Seq[Float]])] = Seq(
      (0L, Some(v(16)), Some(v(16))),
      (1L, Some(v(5)), Some(v(3))),
      (2L, Some(v(3)), Some(v(7))),
      (3L, Some(Seq.fill(4)(0f)), Some(v(4))),
      (4L, Some(Nil), Some(Nil)),
      (5L, None, Some(v(4))))
    val base =
      if (!nullElems) pairs.toDF("id", "a", "b")
      else {
        def opt(s: Option[Seq[Float]]) = s.map(_.map(Option(_)))
        (pairs.map { case (i, a, b) => (i, opt(a), opt(b)) } ++ Seq(
          (6L, Some(Seq(Some(0.5f), None, Some(2f))), Some(v(3).map(Option(_)))),
          (7L, Some(v(2).map(Option(_))), Some(Seq(Some(1f), Some(-2f), None)))))
          .toDF("id", "a", "b")
      }
    base.select($"id", $"a".as("af"), $"b".as("bf"),
      expr("transform(a, x -> CAST(x AS DOUBLE))").as("ad"),
      expr("transform(b, x -> CAST(x AS DOUBLE))").as("bd"))
  }
}
