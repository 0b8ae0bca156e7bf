package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.gsheets.Fixtures

/** Native text-sketch kernels (poly_hash, poly_hash_array, minhash_sigs,
  * sliding_min, simhash32, shingles3): value parity with the SQL
  * higher-order-function formulations they replaced — the same
  * formulations the DuckDB oracle mirrors, so these pins are what keep
  * the CORRECTNESS hashes honest — plus edge cases the corpus doesn't
  * exercise (empties, nulls, non-ASCII).
  */
class TextSketchSpec extends AnyFunSuite {

  private lazy val spark = Fixtures.spark
  import spark.implicits._

  /** The SQL fold poly_hash replaced (and the oracle's twin of). */
  private val foldHash =
    """aggregate(sequence(1, length(s)), CAST(0 AS BIGINT),
       (h, i) -> (h * 131 + ascii(substring(s, i, 1))) % 1000000007)"""

  /** A test whose body runs compiled and then interpreted: each body
    * reads a `Seq(...).toDF` relation, which would otherwise run
    * interpreted only. */
  private def parity(name: String)(body: => Unit): Unit =
    test(name)(Codegen.inBothModes(spark)(body))

  private def randWords(rnd: scala.util.Random, n: Int): Seq[String] =
    Seq.fill(n)(Seq.fill(1 + rnd.nextInt(8))(
      ('a' + rnd.nextInt(26)).toChar).mkString)

  parity("poly_hash matches the SQL fold on random ASCII strings") {
    val rnd = new scala.util.Random(7)
    val data = randWords(rnd, 500) ++ Seq("", "a", " leading", "trailing ")
    val df = data.toDF("s")
      .withColumn("native", GraftFunctions.polyHash($"s"))
      .withColumn("fold", expr(foldHash))
    assert(df.filter($"native" =!= $"fold").count() == 0)
  }

  parity("poly_hash matches the SQL fold on non-ASCII code points") {
    // length/substring/ascii walk code points; the kernel's non-ASCII
    // path must fold the same sequence. (The corpus is ASCII — this
    // pins the general contract.)
    val data = Seq("café", "über maß", "日本語",
      "mixed é日x", "😀 emoji")
    val df = data.toDF("s")
      .withColumn("native", GraftFunctions.polyHash($"s"))
      .withColumn("fold", expr(foldHash))
    assert(df.filter($"native" =!= $"fold").count() == 0)
  }

  parity("poly_hash_array = transform(arr, poly_hash); null elements stay null") {
    val rnd = new scala.util.Random(11)
    val data = Seq.fill(100)(randWords(rnd, rnd.nextInt(20)).toArray)
    val df = data.toDF("arr")
      .withColumn("native", GraftFunctions.polyHashArray($"arr"))
      .withColumn("viaTransform", transform($"arr",
        s => GraftFunctions.polyHash(s)))
    assert(df.filter(not($"native" <=> $"viaTransform")).count() == 0)

    val withNull = Seq(Seq(Some("a"), None, Some("b"))).toDF("arr")
      .select(GraftFunctions.polyHashArray($"arr").as("h"))
      .collect().head.getSeq[Any](0)
    assert(withNull(1) == null && withNull(0) != null)
  }

  parity("minhash_sigs = the 16 groupBy-min hashes, empty/all-null -> empty") {
    val rnd = new scala.util.Random(13)
    val data = (0 until 80).map(i => (i,
      Array.fill(1 + rnd.nextInt(40))(rnd.nextLong(1000000007L))))
    val arr = data.toDF("id", "sids")
    val native = arr
      .select($"id", GraftFunctions.minhashSigs($"sids", 16).as("mh"))
      .select($"id" +: (0 until 16).map(h => $"mh" (h).as(s"mh$h")): _*)
    val viaAgg = arr.select($"id", explode($"sids").as("sid"))
      .groupBy($"id")
      .agg((0 until 16).map(h =>
        min((lit(37L * h + 7L) * $"sid" + lit(101L * h + 3L)) % 1000000007L)
          .as(s"mh$h")).head,
        (0 until 16).map(h =>
          min((lit(37L * h + 7L) * $"sid" + lit(101L * h + 3L)) % 1000000007L)
            .as(s"mh$h")).tail: _*)
    assert(native.except(viaAgg).isEmpty && viaAgg.except(native).isEmpty)

    val empties = Seq(
      (1, Array.empty[Long], null.asInstanceOf[Array[java.lang.Long]]),
      (2, Array(5L), Array[java.lang.Long](null, null)))
    val e = empties.toDF("id", "a", "b")
      .select(size(GraftFunctions.minhashSigs($"a", 16)).as("na"),
        size(GraftFunctions.minhashSigs($"b", 16)).as("nb"))
      .collect()
    assert(e(0).getInt(0) == 0)   // empty -> empty
    assert(e(0).isNullAt(1))      // null input -> null (nullIntolerant)
    assert(e(1).getInt(0) == 16)
    assert(e(1).getInt(1) == 0)   // all-null elements -> empty
  }

  parity("sliding_min matches the per-row window formulation") {
    val rnd = new scala.util.Random(17)
    val data = (0 until 60).map(i => (i.toLong, Array.fill(rnd.nextInt(12))(rnd.nextLong(1000))))
    val arr = data.toDF("id", "sids")
    val native = arr.select($"id",
        explode(GraftFunctions.slidingMin($"sids", 4)).as("wmin"))
      .select($"id", $"wmin")
    val viaWindow = arr
      .select($"id", posexplode($"sids").as(Seq("pos", "sid")))
      .withColumn("wmin", min($"sid").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"id")
          .orderBy($"pos").rowsBetween(0, 3)))
      .withColumn("mx", max($"pos").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"id")))
      .filter($"pos" <= $"mx" - 3)
      .select($"id", $"wmin")
    assert(native.except(viaWindow).isEmpty && viaWindow.except(native).isEmpty)
    // n < w => empty (those ids simply absent from the exploded output)
    assert(arr.filter(size($"sids") < 4)
      .select(size(GraftFunctions.slidingMin($"sids", 4)).as("n"))
      .filter($"n" =!= 0).count() == 0)
  }

  parity("simhash32 = the weighted two-agg formulation") {
    val rnd = new scala.util.Random(19)
    val docs = (0 until 50).map(i =>
      (i.toLong, randWords(rnd, 1 + rnd.nextInt(60))))
    val df = docs.toDF("doc_id", "toks")
    val native = df.select($"doc_id", GraftFunctions.simhash32(
      GraftFunctions.polyHashArray($"toks")).as("simhash"))
    // The original q24 shape: per-(doc, token) counts, 32 signed sums.
    val cnt = df.select($"doc_id", explode($"toks").as("tk"))
      .groupBy($"doc_id", $"tk").agg(count(lit(1)).as("w"))
      .withColumn("tid", GraftFunctions.polyHash($"tk"))
      .withColumn("h", ($"tid" * 2654435761L) % 4294967296L)
    val sgnCols = (0 until 32).map { b =>
      sum(when(expr(s"(h DIV ${1L << b}) % 2") === 1, $"w")
        .otherwise(-$"w")).as(s"sgn$b")
    }
    val packed = (0 until 32).map { b =>
      when(col(s"sgn$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    val viaAgg = cnt.groupBy($"doc_id").agg(sgnCols.head, sgnCols.tail: _*)
      .select($"doc_id", packed.as("simhash"))
    assert(native.except(viaAgg).isEmpty && viaAgg.except(native).isEmpty)
  }

  parity("shingles3 = the transform+concat_ws formulation") {
    val rnd = new scala.util.Random(23)
    val data = Seq.fill(100)(randWords(rnd, rnd.nextInt(10)).toArray) ++
      Seq(Array("a", "b"), Array("a", "b", "c"), Array.empty[String])
    val df = data.toDF("toks")
      .withColumn("native", GraftFunctions.shingles3($"toks"))
      .withColumn("viaLambda", expr("""CASE WHEN size(toks) >= 3
        THEN transform(sequence(0, size(toks)-3),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        ELSE array() END"""))
    assert(df.filter(not($"native" <=> $"viaLambda")).count() == 0)
  }

  parity("shingles_k(2) = the transform+concat_ws bigram formulation") {
    val rnd = new scala.util.Random(29)
    val data = Seq.fill(100)(randWords(rnd, rnd.nextInt(8)).toArray) ++
      Seq(Array("a"), Array("a", "b"), Array.empty[String])
    val df = data.toDF("toks")
      .withColumn("native", GraftFunctions.shinglesK($"toks", 2))
      .withColumn("viaLambda", expr("""CASE WHEN size(toks) >= 2
        THEN transform(sequence(0, size(toks)-2),
                       i -> concat_ws(' ', toks[i], toks[i+1]))
        ELSE array() END"""))
    assert(df.filter(not($"native" <=> $"viaLambda")).count() == 0)
    // shingles3 is the k=3 special case
    val both = data.toDF("toks")
      .withColumn("s3", GraftFunctions.shingles3($"toks"))
      .withColumn("sk", GraftFunctions.shinglesK($"toks", 3))
    assert(both.filter(not($"s3" <=> $"sk")).count() == 0)
  }

  parity("sorted_count_in = size(array_intersect) for distinct inputs") {
    val rnd = new scala.util.Random(31)
    val set = (0 until 2000).map(_ => rnd.nextLong(100000L)).distinct.sorted.toArray
    val data = Seq.fill(200)(
      (0 until rnd.nextInt(50)).map(_ => rnd.nextLong(100000L)).distinct.toArray)
    val df = data.toDF("sids")
      .withColumn("native",
        GraftFunctions.sortedCountIn($"sids", lit(set)))
      .withColumn("viaIntersect", size(array_intersect($"sids", lit(set))))
    assert(df.filter($"native" =!= $"viaIntersect").count() == 0)
    // empty probe array -> 0; null input -> null
    val e = Seq((Array.empty[Long], Option(Array(1L)))).toDF("a", "b")
      .select(GraftFunctions.sortedCountIn($"a", lit(set)).as("ea"),
        GraftFunctions.sortedCountIn(lit(null).cast("array<long>"), lit(set)).as("nb"))
      .collect().head
    assert(e.getInt(0) == 0 && e.isNullAt(1))
  }

  parity("pq_subdists matches the SQL slice-fold bit-for-bit") {
    val rnd = new scala.util.Random(37)
    val data = Seq.fill(100)((
      Array.fill(64)(rnd.nextFloat() * 2f - 1f),
      Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val fold = (0 until 8).map(s =>
      s"""aggregate(sequence(${s * 8}, ${s * 8 + 7}), CAST(0 AS DOUBLE),
          (acc, j) -> acc + (CAST(a[j] AS DOUBLE) - CAST(b[j] AS DOUBLE))
                          * (CAST(a[j] AS DOUBLE) - CAST(b[j] AS DOUBLE)))""")
      .mkString("array(", ",", ")")
    val df = data.toDF("a", "b")
      .withColumn("native", GraftFunctions.pqSubDists($"a", $"b", 8))
      .withColumn("viaFold", expr(fold))
    assert(df.filter(not($"native" <=> $"viaFold")).count() == 0)
  }

  parity("rle_tf_stats matches the groupBy formulation it replaced") {
    // The kernel's (sid, tf) set and n2 must be integer-identical to
    // an explode + count aggregation — that equivalence is q103's
    // oracle-compatibility argument. Random multisets with repeats.
    val rnd = new scala.util.Random(31)
    val data = Seq.fill(300)(
      Seq.fill(rnd.nextInt(40))(rnd.nextInt(12).toLong)) ++
      Seq(Seq.empty[Long], Seq(7L), Seq(5L, 5L, 5L))
    val df = data.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "arr")
    val native = df
      .select($"id", explode(GraftFunctions.rleTfStats($"arr")).as("x"))
      .select($"id", $"x.sid", $"x.tf", $"x.n2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val model = data.zipWithIndex.flatMap { case (a, i) =>
      val counts = a.groupBy(identity).map { case (v, xs) =>
        (v, xs.size.toLong) }
      val n2 = counts.values.map(t => t * t).sum
      counts.map { case (v, tf) => (i.toLong, v, tf, n2) }
    }.toSet
    assert(native == model)
    // Ascending sid order within each row (the collect_list downstream
    // sorts anyway, but the kernel contract says ascending).
    val rows = df.select($"id", GraftFunctions.rleTfStats($"arr").as("st"))
      .collect()
    rows.foreach { r =>
      val sids = r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0))
      assert(sids == sids.sorted, s"row ${r.getLong(0)} not ascending")
    }
  }

  parity("rle_tf_str matches the groupBy formulation it replaced") {
    // The kernel's (token, tf) set must be integer-identical to an
    // explode + count aggregation — q49's oracle-compatibility
    // argument. Random multisets with repeats, empty docs included.
    val rnd = new scala.util.Random(47)
    val vocab = Vector("the", "a", "tok", "zz", "Aa", "b c", "", "é")
    val data = Seq.fill(300)(
      Seq.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size)))) ++
      Seq(Seq.empty[String], Seq("solo"), Seq("x", "x", "x"))
    val df = data.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "arr")
    val native = df
      .select($"id", explode(GraftFunctions.rleTfStr($"arr")).as("x"))
      .select($"id", $"x.token", $"x.tf")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    val model = data.zipWithIndex.flatMap { case (a, i) =>
      a.groupBy(identity).map { case (v, xs) =>
        (i.toLong, v, xs.size.toLong) }
    }.toSet
    assert(native == model)
  }

  test("rle_tf_str skips null elements") {
    val df = Seq(1).toDF("i").select(
      GraftFunctions.rleTfStr(
        expr("array('b', CAST(NULL AS STRING), 'b', 'a')")).as("st"))
    val st = df.collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(st.toSet == Set(("a", 1L), ("b", 2L)))
  }

  test("rle_tf_stats skips null elements") {
    val df = Seq(1).toDF("i").select(
      GraftFunctions.rleTfStats(
        expr("array(3L, CAST(NULL AS BIGINT), 3L, 1L)")).as("st"))
    val st = df.collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(st == Seq((1L, 1L, 5L), (3L, 2L, 5L)))
  }

  test("kernels are reachable from SQL text") {
    GraftFunctions.ensureRegistered(spark)
    val r = spark.sql(
      """SELECT poly_hash('abc') h,
                minhash_sigs(poly_hash_array(array('a b c', 'd e f')), 16) mh,
                sliding_min(array(5L, 3L, 9L, 1L, 7L), 4) sm,
                simhash32(array(1L, 2L, 3L)) sh,
                shingles3(array('x', 'y', 'z', 'w')) s3""").collect().head
    assert(r.getLong(0) == ((('a' * 131 + 'b') % 1000000007L) * 131 + 'c') % 1000000007L)
    assert(r.getSeq[Long](1).size == 16)
    assert(r.getSeq[Long](2) == Seq(1L, 1L))
    assert(r.getSeq[String](4) == Seq("x y z", "y z w"))
  }
}
