package graft.gsheets

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.gsheets.GSheetsUrlResolution
import graft.sources.gsheets.core.{MockHttp, TransportRegistry}

/** R2 coverage: SQL-text replacement scan
  * (`src/gsheets_extension.cpp:29-46`) — a back-quoted Sheets URL in
  * `FROM` resolves to the gsheets relation, with connector options drawn
  * from `spark.gsheets.*` session conf.
  */
class ExtensionsSpec extends AnyFunSuite {

  import Fixtures._

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("FROM `<url>` resolves through the replacement-scan rule") {
    val mock = new MockHttp
    mock.addJson(metadataJson) // GetSheetById(0)
    mock.addJson(sheet1Json())
    TransportRegistry.register("mock-ext-1", mock)

    withConf(
      "spark.gsheets.token" -> "test-token",
      "spark.gsheets.transport" -> "mock-ext-1") {
      val url = s"https://docs.google.com/spreadsheets/d/$SpreadsheetId/edit#gid=0"
      val df = spark.sql(s"SELECT name, age FROM `$url` WHERE age > 26")
      val got = df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(got == Seq(("Alice", 30.0), ("Charlie", 45.0), ("Archie", 99.0)))
    }
  }

  test("URL basename becomes the relation alias, like the reference") {
    val mock = new MockHttp
    mock.addJson(metadataJson)
    mock.addJson(sheet1Json())
    TransportRegistry.register("mock-ext-2", mock)

    withConf(
      "spark.gsheets.token" -> "test-token",
      "spark.gsheets.transport" -> "mock-ext-2") {
      val url = s"https://docs.google.com/spreadsheets/d/$SpreadsheetId/edit"
      // DuckDB's replacement scan aliases by basename ("edit" here);
      // qualified column refs through that alias must resolve.
      val df = spark.sql(s"SELECT edit.name FROM `$url` WHERE edit.age = 25")
      assert(df.collect().map(_.getString(0)).toSeq == Seq("Bob"))
    }
  }

  test("non-sheets relations are untouched by the rule") {
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM `https://example.com/not-a-sheet`").collect()
    }
    // Still the stock missing-table error, not a gsheets bind failure.
    assert(err.getMessage.toLowerCase.contains("table or view"))
  }

  test("CREATE TABLE ... USING gsheets registers a catalog table") {
    // CREATE TABLE binds to infer the schema; the SELECT resolves the
    // table again, which binds the sheet as it is then.
    val mock = new MockHttp
    (1 to 2).foreach { _ =>
      mock.addJson(metadataJson)
      mock.addJson(sheet1Json())
    }
    TransportRegistry.register("mock-ext-3", mock)

    spark.sql(
      s"""CREATE TABLE gsheets_people USING gsheets OPTIONS (
         |  path 'https://docs.google.com/spreadsheets/d/$SpreadsheetId/edit#gid=0',
         |  token 'test-token', transport 'mock-ext-3')""".stripMargin)
    try {
      val got = spark.sql(
        "SELECT name FROM gsheets_people WHERE age > 40 ORDER BY name")
        .collect().map(_.getString(0)).toSeq
      assert(got == Seq("Archie", "Charlie"))
      assert(mock.recordedRequests.size == 4)
    } finally spark.sql("DROP TABLE gsheets_people")
  }

  test("exact scan statistics auto-broadcast a sheet-dimension join") {
    val mock = new MockHttp
    mock.addJson(metadataJson)
    mock.addJson(sheet1Json())
    TransportRegistry.register("mock-ext-stats", mock)

    val sheet = spark.read.format("gsheets")
      .option("token", "test-token").option("transport", "mock-ext-stats")
      .load(s"https://docs.google.com/spreadsheets/d/$SpreadsheetId/edit#gid=0")

    // SupportsReportStatistics: exact rowCount from the bind snapshot
    // (sheet1 has 6 data rows) and a payload-scale sizeInBytes — not the
    // "unknown" default that would block broadcast planning.
    val stats = sheet.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(6)))
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 10000)

    // Fact side estimates ~800 KB (range of 100k longs), over a 1 KB
    // threshold; the sheet (~200 B) is the only broadcastable side. NO
    // broadcast() hint anywhere — the planner must pick it from stats.
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      import org.apache.spark.sql.functions.col
      val fact = spark.range(100000)
        .withColumn("age", (col("id") % 100).cast("double"))
      val joined = fact.join(sheet, "age")
      assert(joined.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
        s"expected BroadcastHashJoin in:\n${joined.queryExecution.sparkPlan}")
      assert(joined.count() == 4000) // ages 25/30/45/99 × 1000 each; NULL ages drop
    }
  }

  test("basename strips query, fragment, and extension") {
    import GSheetsUrlResolution.basename
    assert(basename("https://docs.google.com/spreadsheets/d/X/edit?gid=1#r") == "edit")
    assert(basename("https://docs.google.com/spreadsheets/d/X/report.csv") == "report")
    assert(basename("https://docs.google.com/spreadsheets/d/X/") == "X")
  }
}
