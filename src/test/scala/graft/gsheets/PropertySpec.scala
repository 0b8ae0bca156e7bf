package graft.gsheets

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.sources.gsheets.GSheetsBind
import graft.sources.gsheets.core._

/** Property tests promised by SURVEY §5: generated inputs against the
  * A1 FSM, the type-inference rules, and the JSON codec round-trip.
  * (Plain ScalaCheck sampling — the scalatest/scalacheck bridge artifact
  * isn't in the offline cache.)
  */
class PropertySpec extends AnyFunSuite {

  /** Deterministic `samples`-sample sweep of `gen` through `check`. */
  private def forAll[A](gen: Gen[A], samples: Int = 200)(check: A => Unit): Unit = {
    var seed = Seed(42L)
    var produced = 0
    var attempts = 0
    while (produced < samples && attempts < 10 * samples) {
      gen.apply(Gen.Parameters.default, seed) match {
        case Some(a) => check(a); produced += 1
        case None    => ()
      }
      seed = seed.next
      attempts += 1
    }
    assert(produced >= samples / 2, s"generator too sparse: $produced samples")
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(check: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb)) { case (a, b) => check(a, b) }

  // --- A1 grammar generators ---------------------------------------

  private val colGen: Gen[String] = for {
    abs <- Gen.oneOf("", "$")
    n <- Gen.choose(1, 3)
    cs <- Gen.listOfN(n, Gen.alphaChar)
  } yield abs + cs.mkString

  // No `$` prefix: the reference FSM (range.cpp COL_ABS) requires `$` to
  // be followed by column LETTERS — `$167` rejects; row-absolute exists
  // only as `A$1` (cellGen's middle form).
  private val rowGen: Gen[String] = for {
    n <- Gen.choose(1, 7)
    ds <- Gen.listOfN(n, Gen.numChar)
  } yield ds.mkString

  /** `A1`, `$B$2`, `C`, `7` — single cell/col/row refs. The FSM accepts
    * `$` only before the leading column letters or row digits.
    */
  private val cellGen: Gen[String] = Gen.oneOf(
    for { c <- colGen; r <- rowGen } yield c + "$" + r,
    for { c <- colGen; r <- rowGen } yield c + r,
    colGen, rowGen)

  private val rangeGen: Gen[String] = Gen.oneOf(
    cellGen,
    for { a <- cellGen; b <- cellGen } yield s"$a:$b")

  private val quotedNameGen: Gen[String] = for {
    n <- Gen.choose(1, 8)
    cs <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.const(' '), 1 -> Gen.const('!')))
  } yield cs.mkString

  test("property: grammar-generated A1 strings validate") {
    forAll(rangeGen) { r => assert(A1Range(r).isValid, r) }
    forAll(quotedNameGen, rangeGen) { (name, r) =>
      val quoted = "'" + name.replace("'", "''") + "'"
      assert(A1Range(quoted).isValid, quoted)
      assert(A1Range(s"$quoted!$r").isValid, s"$quoted!$r")
    }
  }

  test("property: structural corruptions reject") {
    // A second ':' or '!' is always invalid.
    forAll(rangeGen) { r =>
      assert(!A1Range(s"$r:A1:B2").isValid)
      assert(!A1Range(s"Sheet1!$r!A1").isValid)
    }
    // Characters outside the cell grammar reject outside quotes.
    forAll(rangeGen, Gen.oneOf('#', ' ', '*', '(', '@', '%')) { (r, bad) =>
      assert(!A1Range(bad + r).isValid)
    }
  }

  test("property: splitSheetParam round-trips quoted names") {
    forAll(quotedNameGen) { name =>
      val (got, rest) = A1Range.splitSheetParam("'" + name.replace("'", "''") + "'")
      assert(got == name && rest.isEmpty)
    }
  }

  // --- type inference ----------------------------------------------

  private val cellValueGen: Gen[String] = Gen.oneOf(
    Gen.const("TRUE"), Gen.const("FALSE"),
    Gen.choose(-1e6, 1e6).map(_.toString),
    Gen.alphaStr.map(s => "w" + s),
    Gen.const(""))

  test("property: all_varchar forces every column to VARCHAR") {
    forAll(Gen.listOfN(4, Gen.listOfN(3, cellValueGen))) { rows0 =>
      val rows = rows0.map(_.toVector).toVector
      val schema = GSheetsBind.inferSchema(rows, header = false, allVarchar = true)
      assert(schema.fields.forall(_.dataType ==
        org.apache.spark.sql.types.StringType))
    }
  }

  test("property: width = max(header, first data row); columnN fallback names") {
    forAll(Gen.choose(0, 5), Gen.choose(1, 6)) { (hw, dw) =>
      val header = (1 to hw).map(i => s"h$i").toVector
      val data = (1 to dw).map(_ => "1").toVector
      val schema = GSheetsBind.inferSchema(Vector(header, data), header = true,
        allVarchar = false)
      assert(schema.size == math.max(hw, dw))
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (i < hw) assert(f.name == s"h${i + 1}")
        else assert(f.name == s"column${i + 1}")
      }
    }
  }

  // --- one column map: pushdowns agree with the plain scan ----------

  /** A sheet with duplicate and case-variant header names, blank cells
    * and ragged rows, read with an optional declared schema. `pick`
    * chooses the column and `op` the predicate the checks use.
    */
  private final case class Grid(rows: Vector[Vector[String]],
      declared: Option[StructType], pick: Int, op: Int)

  private val gridGen: Gen[Grid] = for {
    width <- Gen.choose(1, 4)
    header <- Gen.listOfN(width, Gen.oneOf("x", "X", "y", "Y", "x_1"))
    n <- Gen.choose(0, 5)
    data <- Gen.listOfN(n, Gen.choose(0, width + 1).flatMap(k => Gen.listOfN(k,
      Gen.frequency(2 -> Gen.const(""), 3 -> Gen.oneOf("1", "2", "10", "2.5", "-1")))))
    declared <- Gen.option(Gen.choose(1, 3).flatMap(k => Gen.listOfN(k,
      Gen.zip(Gen.oneOf("x", "X", "y", "x_1", "z"), Gen.oneOf(StringType, DoubleType)))))
    pick <- Gen.choose(0, 9)
    op <- Gen.choose(0, 4)
  } yield Grid((header +: data).map(_.toVector).toVector,
    declared.map(fs => StructType(fs.distinctBy(_._1.toLowerCase)
      .map { case (name, dt) => StructField(name, dt) })), pick, op)

  private var gridCount = 0

  test("property: filter, top-N, limit/offset, aggregate and numPartitions agree with the plain scan") {
    import org.apache.spark.sql.{Column, DataFrame, Row}
    import org.apache.spark.sql.functions._
    val spark = Fixtures.spark
    forAll(gridGen, samples = 40) { grid =>
      gridCount += 1
      val mock = new MockHttp
      mock.addRoutedJson("/values/", Fixtures.valueRangeJson("G!A1:Z1000", grid.rows))
      val transport = s"mock-property-grid-$gridCount"
      TransportRegistry.register(transport, mock)
      def load(options: (String, String)*): DataFrame = {
        val r = (("sheet" -> "G") +: options).foldLeft(spark.read.format("gsheets")
          .option("transport", transport).option("token", "test-token")) {
          case (r, (k, v)) => r.option(k, v)
        }
        grid.declared.fold(r)(r.schema).load(Fixtures.SpreadsheetId)
      }
      val df = load()
      val plain = df.collect().toSeq
      val ctx = s"$grid ${df.schema.simpleString}"

      // The plain scan itself reads column i of an inferred schema from
      // sheet column i.
      if (grid.declared.isEmpty) {
        val expected = grid.rows.drop(1).map(row => Row.fromSeq(df.schema.fields.indices.map { i =>
          val cell = if (i < row.size) row(i) else ""
          if (cell.isEmpty) null
          else if (df.schema(i).dataType == DoubleType) cell.toDouble else cell
        }))
        assert(plain == expected, ctx)
      }

      // The same sheet split into 3 snapshot blocks reads the same rows
      // in the same order, plain and under every query below.
      val split = load("numPartitions" -> "3")
      assert(split.collect().toSeq == plain, ctx)

      val ref = spark.createDataFrame(java.util.Arrays.asList(plain: _*), df.schema)
      def same(query: DataFrame => DataFrame, ordered: Boolean): Unit = {
        val want = query(ref).collect().toSeq
        for (scan <- Seq(df, split)) {
          val got = query(scan).collect().toSeq
          if (ordered) assert(got == want, ctx)
          else assert(got.sortBy(_.toString) == want.sortBy(_.toString), ctx)
        }
      }

      val c = df.schema(grid.pick % df.schema.size)
      val numeric = c.dataType == DoubleType
      val pred: Column = (grid.op, numeric) match {
        case (0, true) => col(c.name) === 2.0
        case (0, false) => col(c.name) === "2"
        case (1, true) => col(c.name) > 1.5
        case (1, false) => col(c.name) < "2"
        case (2, true) => col(c.name).isin(1.0, 10.0)
        case (2, false) => col(c.name).isin("1", "10")
        case (3, _) => col(c.name).isNull
        case _ => col(c.name).isNotNull
      }
      same(_.filter(pred), ordered = false)
      val others = df.columns.filterNot(_ == c.name).map(col)
      same(_.orderBy(col(c.name).desc +: others: _*).limit(2), ordered = true)
      same(_.orderBy(col(c.name) +: others: _*).limit(2), ordered = true)
      same(_.limit(2), ordered = true)
      same(_.offset(1).limit(2), ordered = true)
      val aggs = Seq(count(lit(1)), count(col(c.name)), min(col(c.name)), max(col(c.name))) ++
        (if (numeric) Seq(sum(col(c.name)), avg(col(c.name))) else Nil)
      same(_.agg(aggs.head, aggs.tail: _*), ordered = true)
      same(_.filter(pred).agg(aggs.head, aggs.tail: _*), ordered = true)
    }
  }

  // --- JSON round-trip ---------------------------------------------

  private val jsonLeafGen: Gen[JValue] = Gen.oneOf(
    Gen.const(JNull), Gen.oneOf(JBool(true), JBool(false)),
    Gen.choose(-1e9.toLong, 1e9.toLong).map(n => JNum(n.toString)),
    Gen.asciiPrintableStr.map(JStr(_)))

  private def jsonGen(depth: Int): Gen[JValue] =
    if (depth <= 0) jsonLeafGen
    else Gen.frequency(
      3 -> jsonLeafGen,
      1 -> Gen.listOfN(3, jsonGen(depth - 1)).map(v => JArr(v.toVector)),
      1 -> Gen.listOfN(3, Gen.zip(Gen.identifier, jsonGen(depth - 1)))
        .map(kvs => JObj(kvs.toVector)))

  test("property: Json.parse(Json.write(v)) == v") {
    forAll(jsonGen(3)) { v =>
      assert(Json.parse(Json.write(v)) == v)
    }
  }
}
