package graft.gsheets

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.gsheets.core.{MockHttp, TransportRegistry}

/** `_sheet_row` metadata column: row provenance for read-modify-write
  * flows. Hidden unless selected, synthesized from grid position
  * through every selection path (filters, top-N, limit, numPartitions
  * blocks), shadowed by a real column of the same name.
  */
class MetadataColumnSpec extends AnyFunSuite {

  import Fixtures._

  private def sheetDf(tag: String, json: String = sheet1Json()) = {
    val mock = new MockHttp
    mock.addJson(metadataJson)
    mock.addJson(json)
    TransportRegistry.register(tag, mock)
    (spark.read.format("gsheets")
      .option("token", "test-token").option("transport", tag)
      .load(s"https://docs.google.com/spreadsheets/d/$SpreadsheetId/edit#gid=0"),
      mock)
  }

  test("_sheet_row is hidden unless selected, and maps to grid rows") {
    val (df, _) = sheetDf("mock-meta-1")
    // Hidden from the default schema.
    assert(!df.schema.fieldNames.contains("_sheet_row"))
    // Selected: header is sheet row 1, so data row i is row i+1.
    val got = df.select("name", "_sheet_row").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("Alice", 2L), ("Bob", 3L), ("Charlie", 4L),
      ("Drake", 5L), (null, 6L), ("Archie", 7L)))
  }

  test("_sheet_row survives pushed filter + top-N selection") {
    val (df, _) = sheetDf("mock-meta-2")
    import org.apache.spark.sql.functions.{col, desc}
    // Top-2 by age DESC: Archie (sheet row 7), Charlie (sheet row 4) —
    // positions from the ORIGINAL grid, not post-selection indices.
    val top = df.select(col("name"), col("age"), col("_sheet_row"))
      .orderBy(desc("age")).limit(2).collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(top == Seq(("Archie", 7L), ("Charlie", 4L)))

    val filtered = df.filter(col("age") > 26)
      .select(col("name"), col("_sheet_row")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(filtered == Seq(("Alice", 2L), ("Charlie", 4L), ("Archie", 7L)))
  }

  test("_sheet_row across numPartitions snapshot blocks") {
    val mock = new MockHttp
    mock.addJson(metadataJson)
    mock.addJson(sheet1Json())
    TransportRegistry.register("mock-meta-3", mock)
    val split = spark.read.format("gsheets")
      .option("token", "test-token").option("transport", "mock-meta-3")
      .option("numPartitions", "2")
      .load(s"https://docs.google.com/spreadsheets/d/$SpreadsheetId/edit#gid=0")
      .select("name", "_sheet_row")
    // Each block carries its rows' own grid positions, so the second
    // block starts at sheet row 5, not at its first local index.
    val scan = split.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val blocks = scan.inputPartitions.collect {
      case p: graft.sources.gsheets.GSheetsInputPartition => p.rows.map(_(1)).toSeq
    }
    assert(blocks == Seq(Seq("2", "3", "4"), Seq("5", "6", "7")))
    val rows = split.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("Alice", 2L), ("Bob", 3L), ("Charlie", 4L),
      ("Drake", 5L), (null, 6L), ("Archie", 7L)))
  }

  test("a real sheet column named _sheet_row shadows the metadata column") {
    val (df, _) = sheetDf("mock-meta-5",
      valueRangeJson("Sheet1!A1:Z1000", Seq(
        Seq("_sheet_row", "v"), Seq("99", "a"), Seq("88", "b"))))
    // The DATA column wins: values come from cells, not grid positions.
    val got = df.select("_sheet_row", "v").collect()
      .map(r => (r.getDouble(0), r.getString(1))).toSeq
    assert(got == Seq((99.0, "a"), (88.0, "b")))
  }
}
