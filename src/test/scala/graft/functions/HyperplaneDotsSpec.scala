package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.gsheets.Fixtures

/** [[HyperplaneDots]] — the native signature step of the hyperplane-LSH
  * family (q26/q33). The ground truth is the SQL higher-order-function
  * fold with identical semantics; the native expression must match it
  * bit-for-bit in both interpreted and codegen evaluation.
  */
class HyperplaneDotsSpec extends AnyFunSuite {

  private lazy val spark = Fixtures.spark
  import spark.implicits._

  /** The (slow, interpreted) SQL formulation the expression replaces. */
  private def foldExpr(nH: Int): String =
    s"""transform(sequence(0, ${nH - 1}), h ->
          aggregate(
            zip_with(embedding, sequence(0, size(embedding) - 1),
              (ev, d) -> CAST(ev AS DOUBLE) *
                ((CAST(h AS BIGINT) * 64 + d) * 2654435761 % 4294967296
                 / 2147483648.0D - 1.0D)),
            CAST(0 AS DOUBLE), (acc, x) -> acc + x))"""

  private def vecs = Seq(
    (1L, Array(0.5f, -1.25f, 3.0f, 0.0f)),
    (2L, Array.tabulate(64)(i => (i * 0.37f - 11.0f))),
    (3L, Array(42.0f)),
    (4L, Array.empty[Float])
  ).toDF("vec_id", "embedding")

  /** Each plane of column `i` as its raw bits; a NULL plane is None. */
  private def planes(r: org.apache.spark.sql.Row, i: Int): Seq[Option[Long]] =
    r.getSeq[Any](i).map(d =>
      Option(d).map(x => java.lang.Double.doubleToLongBits(x.asInstanceOf[Double])))

  test("matches the SQL fold bit-for-bit (codegen path)") {
    for (nH <- Seq(1, 8, 12)) {
      val (compiled, _) = Codegen.compiledAndInterpreted(spark, vecs.select($"vec_id",
        GraftFunctions.hyperplaneDots($"embedding", nH), expr(foldExpr(nH))))
      for (r <- compiled) {
        val (native, fold) = (planes(r, 1), planes(r, 2))
        assert(native.length == nH && fold.length == nH, s"vec ${r.getLong(0)}")
        // Bit-equality, not epsilon: the oracle hash compare needs it.
        // One known difference: for the empty embedding (vec 4) the
        // Spark fold reads NULL (zip_with pads it against
        // sequence(0, -1) = [0, -1]), while the kernel's empty sum is
        // 0.0, as is the DuckDB oracle's (`hyperDotsSql` folds from
        // list_prepend(0.0)).
        if (r.getLong(0) == 4L)
          assert(fold == Seq.fill(nH)(None) && native == Seq.fill(nH)(Some(0L)),
            s"empty embedding nH=$nH")
        else assert(native == fold, s"vec ${r.getLong(0)} nH=$nH")
      }
    }
  }

  test("interpreted eval matches codegen") {
    val nullable = Seq[(Long, Seq[Option[Float]])](
      (5L, Seq(Some(0.5f), Some(-1.25f), Some(3.0f))),
      (6L, Seq(Some(1.0f), None)),
      (7L, Nil)).toDF("vec_id", "embedding")
    for (in <- Seq(vecs, nullable); nH <- Seq(1, 12, 64)) {
      val df = in.select($"vec_id",
        GraftFunctions.hyperplaneDots($"embedding", nH), expr(foldExpr(nH)))
      val (compiled, interpreted) = Codegen.compiledAndInterpreted(spark, df)
      for ((c, i) <- compiled.zip(interpreted)) {
        assert(planes(c, 1) == planes(i, 1),
          s"codegen/interpreted divergence: vec ${c.getLong(0)} nH=$nH")
        // The fold reads NULL for an empty embedding (zip_with pads it
        // against sequence(0, -1)); the kernel's empty sum is 0.0.
        val want =
          if (Set(4L, 7L)(c.getLong(0))) Seq.fill(nH)(Some(0L)) else planes(c, 2)
        assert(planes(c, 1) == want, s"vec ${c.getLong(0)} nH=$nH")
      }
    }
  }

  test("a null array ELEMENT nulls every plane's dot, like the SQL fold") {
    val df = spark.sql(
      "SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS embedding")
      .withColumn("native", GraftFunctions.hyperplaneDots($"embedding", 4))
      .withColumn("fold", expr(foldExpr(4)))
    val r = df.collect().head
    val native = r.getSeq[Any](1)
    val fold = r.getSeq[Any](2)
    assert(native.length == 4 && native.forall(_ == null))
    assert(native == fold)
  }

  test("null embedding yields null; SQL registration works") {
    GraftFunctions.ensureRegistered(spark)
    val df = Seq((1L, Some(Array(1.0f))), (2L, None))
      .toDF("vec_id", "embedding")
      .selectExpr("vec_id", "hyperplane_dots(embedding, 4) AS d")
      .orderBy("vec_id")
    val rows = df.collect()
    assert(rows(0).getSeq[Double](1).length == 4)
    assert(rows(1).isNullAt(1))
  }

  test("rejects wrong input type and non-literal plane count") {
    val e = intercept[Exception] {
      Seq((1L, "nope")).toDF("vec_id", "embedding")
        .select(GraftFunctions.hyperplaneDots($"embedding", 4)).collect()
    }
    assert(e.getMessage.contains("hyperplane_dots") ||
           e.getMessage.contains("ARRAY<FLOAT>"))
    GraftFunctions.ensureRegistered(spark)
    val e2 = intercept[Exception] {
      Seq((1L, Array(1.0f))).toDF("vec_id", "embedding")
        .selectExpr("hyperplane_dots(embedding, vec_id)").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("literal"))
  }
}
