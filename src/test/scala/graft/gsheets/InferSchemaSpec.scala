package graft.gsheets

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.sources.gsheets.GSheetsBind

/** Type-inference rules parity with `src/gsheets_read.cpp:14-29,196-238`. */
class InferSchemaSpec extends AnyFunSuite {

  private def v(rows: Seq[String]*): Vector[Vector[String]] =
    rows.map(_.toVector).toVector

  test("first-data-row sniffing: BOOLEAN/DOUBLE/VARCHAR") {
    val s = GSheetsBind.inferSchema(
      v(Seq("a", "b", "c", "d"), Seq("TRUE", "1.5", "hello", "FALSE")),
      header = true, allVarchar = false)
    assert(s.fields.map(_.dataType).toSeq ==
      Seq(BooleanType, DoubleType, StringType, BooleanType))
    assert(s.fieldNames.toSeq == Seq("a", "b", "c", "d"))
    assert(s.fields.forall(_.nullable))
  }

  test("TRUE/FALSE must be exact (case-sensitive)") {
    val s = GSheetsBind.inferSchema(
      v(Seq("a", "b"), Seq("true", "False")), header = true, allVarchar = false)
    assert(s.fields.map(_.dataType).toSeq == Seq(StringType, StringType))
  }

  test("numeric forms accepted by stod") {
    for (n <- Seq("1", "-3.2", "1e5", "+.5", "1.", "inf", "NaN", " 7"))
      assert(GSheetsBind.isValidNumber(n), s"expected number: '$n'")
    for (x <- Seq("", "1x", "x1", "1 ", "--1", "TRUE", "1e", "e5"))
      assert(!GSheetsBind.isValidNumber(x), s"expected non-number: '$x'")
  }

  test("width = max(header, first data row) when header=true") {
    val s = GSheetsBind.inferSchema(
      v(Seq("a", "b", "c", "d"), Seq("x", "y")), header = true, allVarchar = false)
    assert(s.size == 4)
    val s2 = GSheetsBind.inferSchema(
      v(Seq("a", "b"), Seq("x", "y", "z")), header = true, allVarchar = false)
    assert(s2.size == 3)
  }

  test("columnN fallback for missing header cells (1-based)") {
    val s = GSheetsBind.inferSchema(
      v(Seq("a", "b"), Seq("x", "y", "", "w")), header = true, allVarchar = false)
    assert(s.fieldNames.toSeq == Seq("a", "b", "column3", "column4"))
  }

  test("header=false names all columns columnN") {
    val s = GSheetsBind.inferSchema(
      v(Seq("10", "x")), header = false, allVarchar = false)
    assert(s.fieldNames.toSeq == Seq("column1", "column2"))
    assert(s.fields.map(_.dataType).toSeq == Seq(DoubleType, StringType))
  }

  test("blank in first data row → VARCHAR") {
    val s = GSheetsBind.inferSchema(
      v(Seq("a", "b", "c"), Seq("1", "", "2")), header = true, allVarchar = false)
    assert(s.fields.map(_.dataType).toSeq == Seq(DoubleType, StringType, DoubleType))
  }

  test("short first data row → trailing columns VARCHAR") {
    val s = GSheetsBind.inferSchema(
      v(Seq("a", "b", "c"), Seq("1")), header = true, allVarchar = false)
    assert(s.fields.map(_.dataType).toSeq == Seq(DoubleType, StringType, StringType))
  }

  test("all_varchar forces VARCHAR everywhere") {
    val s = GSheetsBind.inferSchema(
      v(Seq("a", "b"), Seq("TRUE", "1.5")), header = true, allVarchar = true)
    assert(s.fields.map(_.dataType).toSeq == Seq(StringType, StringType))
  }

  test("header-only sheet: schema from header, all VARCHAR") {
    val s = GSheetsBind.inferSchema(
      v(Seq("h1", "h2")), header = true, allVarchar = false)
    assert(s.fieldNames.toSeq == Seq("h1", "h2"))
    assert(s.fields.map(_.dataType).toSeq == Seq(StringType, StringType))
  }

  test("duplicate names de-duplicate case-insensitively, as DuckDB names them") {
    def names(header: String*): Seq[String] =
      GSheetsBind.inferSchema(v(header, header.map(_ => "v")),
        header = true, allVarchar = false).fieldNames.toSeq
    // DuckDB 1.0: `SELECT * FROM (SELECT 1 AS x, 2 AS X, 3 AS x)`.
    assert(names("x", "X", "x") == Seq("x", "X_1", "x_2"))
    // A suffixed name already taken keeps counting up.
    assert(names("x", "X", "x_1", "x") == Seq("x", "X_1", "x_1_1", "x_2"))
    assert(names("a", "a", "a_1") == Seq("a", "a_1", "a_1_1"))
    assert(names("a", "b", "A", "B", "a") == Seq("a", "b", "A_1", "B_1", "a_2"))
  }

  test("a columnN fallback name de-duplicates against a header name") {
    val s = GSheetsBind.inferSchema(
      v(Seq("column2"), Seq("x", "y")), header = true, allVarchar = false)
    assert(s.fieldNames.toSeq == Seq("column2", "column2_1"))
  }
}
