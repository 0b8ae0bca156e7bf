package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.gsheets.Fixtures

/** Native CosineSim expression: value parity with the SQL-fold
  * formulation it replaced, codegen vs interpreted agreement, null
  * handling, and SQL-text reachability through the session extension.
  */
class CosineSimSpec extends AnyFunSuite {

  private lazy val spark = Fixtures.spark
  import spark.implicits._

  private val foldCos =
    """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                 CAST(0 AS DOUBLE), (acc, v) -> acc + v)
       / (sqrt(aggregate(a, CAST(0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
          * sqrt(aggregate(b, CAST(0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"""

  test("matches the SQL-fold cosine bit-for-bit on random vectors") {
    val rnd = new scala.util.Random(42)
    val data = Seq.fill(200)((
      Array.fill(64)(rnd.nextFloat() * 2f - 1f),
      Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val df = data.toDF("a", "b")
      .withColumn("native", GraftFunctions.cosineSim($"a", $"b"))
      .withColumn("fold", expr(foldCos))
    // Bit-identical, not just approximately equal: same accumulation order.
    assert(df.filter($"native" =!= $"fold").count() == 0)
  }

  test("known values") {
    val df = Seq((Array(1f, 2f), Array(2f, 4f)), (Array(1f, 0f), Array(0f, 1f)))
      .toDF("a", "b")
      .withColumn("c", round(GraftFunctions.cosineSim($"a", $"b"), 10))
    assert(df.collect().map(_.getDouble(2)).toSeq == Seq(1.0, 0.0))
  }

  test("null inputs propagate to null") {
    val df = Seq((Some(Array(1f, 2f)), None: Option[Array[Float]]))
      .toDF("a", "b")
      .withColumn("c", GraftFunctions.cosineSim($"a", $"b"))
    assert(df.collect().head.isNullAt(2))
  }

  test("interpreted eval agrees with codegen") {
    // The three sums fold left-to-right over the common prefix in
    // double; a zero norm gives NaN. The kernel does not null-check
    // elements, so a NULL inside the common prefix reads whatever its
    // slot holds: such a row is only checked codegen against
    // interpreted, never against a value.
    def fold(a: Seq[Any], b: Seq[Any]): Option[Option[Long]] = {
      val n = math.min(a.length, b.length)
      if ((0 until n).exists(i => a(i) == null || b(i) == null)) None
      else {
        def at(s: Seq[Any], i: Int) = s(i).asInstanceOf[Float].toDouble
        var (dot, na, nb) = (0.0, 0.0, 0.0)
        for (i <- 0 until n) {
          val (x, y) = (at(a, i), at(b, i))
          dot += x * y; na += x * x; nb += y * y
        }
        Some(Some(java.lang.Double.doubleToLongBits(dot / (math.sqrt(na) * math.sqrt(nb)))))
      }
    }
    for (nullElems <- Seq(false, true)) {
      val df = Codegen.vectorPairs(spark, nullElems).select($"id", $"af", $"bf",
        GraftFunctions.cosineSim($"af", $"bf"), GraftFunctions.cosineSim($"af", $"bd"),
        GraftFunctions.cosineSim($"ad", $"bf"), GraftFunctions.cosineSim($"ad", $"bd"))
      val (compiled, interpreted) = Codegen.compiledAndInterpreted(spark, df)
      assert(compiled.length == (if (nullElems) 8 else 6))
      for ((c, i) <- compiled.zip(interpreted)) {
        val want =
          if (c.isNullAt(1) || c.isNullAt(2)) Some(None)
          else fold(c.getSeq[Any](1), c.getSeq[Any](2))
        for (k <- 3 to 6) {
          assert(Codegen.bits(c, k) == Codegen.bits(i, k),
            s"codegen/interpreted divergence: id ${c.getLong(0)} column $k")
          want.foreach(w => assert(Codegen.bits(c, k) == w, s"id ${c.getLong(0)} column $k"))
        }
      }
      assert(compiled.find(_.getLong(0) == 3L).get.getDouble(3).isNaN) // zero norm
    }
  }

  test("reachable from SQL text via the session extension") {
    val got = spark.sql(
      "SELECT cosine_sim(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
      "array(CAST(2 AS FLOAT), CAST(4 AS FLOAT)))").collect().head.getDouble(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("ensureRegistered is idempotent and enables SQL on bare sessions") {
    GraftFunctions.ensureRegistered(spark)
    GraftFunctions.ensureRegistered(spark)
    val got = spark.sql(
      "SELECT cosine_sim(array(CAST(3 AS FLOAT)), array(CAST(7 AS FLOAT)))")
      .collect().head.getDouble(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }
}
