package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.gsheets.Fixtures

/** [[L2Sq]]: generated code against interpreted eval, and both against
  * the fold the DuckDB oracle runs, on every edge rule of the kernel. */
class L2SqSpec extends AnyFunSuite {

  private lazy val spark = Fixtures.spark
  import spark.implicits._

  /** Left-to-right `Σ (x−y)²` over the common prefix in double; a NULL
    * element inside the prefix makes the result NULL. */
  private def fold(a: Seq[Any], b: Seq[Any]): Option[Long] = {
    val n = math.min(a.length, b.length)
    val pre = a.take(n).zip(b.take(n))
    if (pre.exists { case (x, y) => x == null || y == null }) None
    else Some(java.lang.Double.doubleToLongBits(pre.foldLeft(0.0) {
      case (acc, (x, y)) =>
        val d = x.asInstanceOf[Float].toDouble - y.asInstanceOf[Float].toDouble
        acc + d * d
    }))
  }

  test("interpreted eval agrees with codegen bit-for-bit on every edge rule") {
    for (nullElems <- Seq(false, true)) {
      val pairs = Codegen.vectorPairs(spark, nullElems)
      assert(pairs.schema("af").dataType == ArrayType(FloatType, nullElems))
      val df = pairs.select($"id", $"af", $"bf",
        GraftFunctions.l2Sq($"af", $"bf"), GraftFunctions.l2Sq($"af", $"bd"),
        GraftFunctions.l2Sq($"ad", $"bf"), GraftFunctions.l2Sq($"ad", $"bd"))
      val (compiled, interpreted) = Codegen.compiledAndInterpreted(spark, df)
      assert(compiled.length == (if (nullElems) 8 else 6))
      for ((c, i) <- compiled.zip(interpreted)) {
        val want =
          if (c.isNullAt(1) || c.isNullAt(2)) None
          else fold(c.getSeq[Any](1), c.getSeq[Any](2))
        for (k <- 3 to 6) {
          assert(Codegen.bits(c, k) == Codegen.bits(i, k),
            s"codegen/interpreted divergence: id ${c.getLong(0)} column $k")
          assert(Codegen.bits(c, k) == want, s"id ${c.getLong(0)} column $k")
        }
      }
      val byId = compiled.map(r => r.getLong(0) -> r).toMap
      assert(byId(4L).getDouble(3) == 0.0) // two empty arrays
      if (nullElems) {
        assert(byId(6L).isNullAt(3))  // NULL element inside the prefix
        assert(!byId(7L).isNullAt(3)) // NULL element past it
      }
    }
  }

  test("a NaN sum stays NaN and a NULL element after a NaN is still NULL") {
    val nan = Float.NaN
    val inf = Float.PositiveInfinity
    val rows = Seq[(Long, Seq[Option[Float]], Seq[Option[Float]])](
      (0L, Seq(Some(nan), Some(1f), Some(2f)), Seq(Some(0f), Some(1f), Some(2f))),
      (1L, Seq(Some(inf)), Seq(Some(inf))),                     // inf − inf
      (2L, Seq(Some(nan), Some(1f), None), Seq(Some(0f), Some(1f), Some(2f))),
      (3L, Seq(Some(1f), None), Seq(Some(nan), Some(1f))),
      (4L, Seq(Some(nan), Some(1f)), Seq(Some(0f), Some(1f), None))) // NULL past the prefix
    val nonNull = rows.take(2).map { case (i, a, b) => (i, a.map(_.get), b.map(_.get)) }
    for (in <- Seq(rows.toDF("id", "a", "b"), nonNull.toDF("id", "a", "b"))) {
      val df = in.select($"id", $"a", $"b", GraftFunctions.l2Sq($"a", $"b"))
      val (compiled, interpreted) = Codegen.compiledAndInterpreted(spark, df)
      for ((c, i) <- compiled.zip(interpreted)) {
        assert(Codegen.bits(c, 3) == Codegen.bits(i, 3),
          s"codegen/interpreted divergence: id ${c.getLong(0)}")
        assert(Codegen.bits(c, 3) == fold(c.getSeq[Any](1), c.getSeq[Any](2)),
          s"id ${c.getLong(0)}")
      }
      assert(compiled.filter(_.isNullAt(3)).map(_.getLong(0)) ==
        (if (compiled.length == 5) Seq(2L, 3L) else Nil))
    }
  }
}
