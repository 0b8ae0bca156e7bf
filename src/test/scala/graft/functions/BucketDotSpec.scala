package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.gsheets.Fixtures

/** [[BucketDot]]: generated code against interpreted eval, and both
  * against the left-to-right `Σ weights[floorMod(id, |weights|)]` fold,
  * on every NULL rule of the kernel and on NaN weights. */
class BucketDotSpec extends AnyFunSuite {

  private lazy val spark = Fixtures.spark
  import spark.implicits._

  /** NULL for empty weights, a NULL id, or a NULL weight at a bucket
    * some id hits; otherwise the fold in id order. */
  private def fold(ids: Seq[Any], w: Seq[Any]): Option[Long] = {
    val m = w.length
    def at(id: Any) = w(java.lang.Math.floorMod(id.asInstanceOf[Long], m.toLong).toInt)
    if (m == 0 || ids.exists(id => id == null || at(id) == null)) None
    else Some(java.lang.Double.doubleToLongBits(
      ids.foldLeft(0.0)((acc, id) => acc + at(id).asInstanceOf[Double])))
  }

  test("interpreted eval agrees with codegen bit-for-bit on every NULL rule") {
    val w = Seq(0.25, -1.5, 3.0e-3, 7.0, 0.1)
    val rows = Seq[(Long, Seq[Long], Seq[Double])](
      (0L, Seq(3L, 1000000006L, 42L, 3L), w),
      (1L, Seq(-1L, -7L, Long.MinValue), w), // floorMod of negative ids
      (2L, Nil, w),
      (3L, Seq(1L, 2L), Nil),                // empty weights: NULL
      (8L, Seq(1L, 4L), w.updated(1, Double.NaN))) // NaN weight, hit
    val withNulls = Seq[(Long, Seq[Option[Long]], Seq[Option[Double]])](
      (4L, Seq(Some(1L), None), w.map(Some(_))),        // NULL id
      (5L, Seq(Some(2L), Some(6L)),                     // NULL weight, hit
        w.map(Some(_)).updated(1, None)),
      (6L, Seq(Some(2L), Some(3L)),                     // NULL weight, missed
        w.map(Some(_)).updated(1, None)),
      (7L, Seq(Some(9L)), w.map(Some(_))),
      (9L, Seq(Some(1L), Some(4L)),                     // NaN weight, hit
        w.map(Some(_)).updated(1, Some(Double.NaN))),
      (10L, Seq(Some(1L), Some(2L)),                    // NaN, then NULL weight
        w.map(Some(_)).updated(1, Some(Double.NaN)).updated(2, None)))
    val nullIds = Seq(rows.toDF("id", "ids", "w") -> rows.length,
        withNulls.toDF("id", "ids", "w") -> withNulls.length).flatMap { case (in, n) =>
      val df = in.select($"id", $"ids", $"w", GraftFunctions.bucketDot($"ids", $"w"))
      val (compiled, interpreted) = Codegen.compiledAndInterpreted(spark, df)
      assert(compiled.length == n)
      for ((c, i) <- compiled.zip(interpreted)) {
        assert(Codegen.bits(c, 3) == Codegen.bits(i, 3),
          s"codegen/interpreted divergence: id ${c.getLong(0)}")
        assert(Codegen.bits(c, 3) == fold(c.getSeq[Any](1), c.getSeq[Any](2)),
          s"id ${c.getLong(0)}")
      }
      compiled.filter(_.isNullAt(3)).map(_.getLong(0))
    }
    assert(nullIds == Seq(3L, 4L, 5L, 10L))
  }
}
