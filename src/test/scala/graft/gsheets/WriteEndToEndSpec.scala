package graft.gsheets

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.sources.gsheets.core.{HttpMethod, MockHttp, TransportRegistry}

/** End-to-end write scenarios replaying `test/sql/copy_to.test`,
  * `copy_to_range_flags.test` and `copy_multiple_vectors.test` against
  * MockHttp: request sequences, clear/header/append semantics, option
  * precedence, 2048-row batching. The header rides in the first append
  * with the rows, so an overwrite of n rows is 1 + ⌈(n + 1) / 2048⌉
  * calls.
  *
  * Note: Spark's V2 write path hands the DataFrame schema straight to
  * `getTable` (`supportsExternalMetadata=true`), so — like the reference's
  * COPY, and unlike the read path — no bind/fetch happens before a write:
  * the first HTTP call is the clear/create/append of the global init.
  */
class WriteEndToEndSpec extends AnyFunSuite {

  import Fixtures._

  private var counter = 0

  private def writer(mock: MockHttp, df: DataFrame): (org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row], String) = {
    counter += 1
    val name = s"mock-write-$counter"
    TransportRegistry.register(name, mock)
    (df.write.format("gsheets")
      .option("transport", name)
      .option("token", "test-token"), name)
  }

  private def companies: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      ("Microsoft", "Excel", 1985L),
      ("Google", "Google Sheets", 2006L),
      ("Apple", "Numbers", 1984L),
      ("LibreOffice", "Calc", 2000L))
      .toDF("company", "product", "year_founded")
      .coalesce(1)
  }

  private val appendReply =
    """{"spreadsheetId":"x","tableRange":"t","updates":{"updatedCells":1}}"""
  private val clearReply =
    """{"spreadsheetId":"x","clearedRange":"write_fixture"}"""

  test("overwrite mode: clear sheet, header, then data (reference COPY default)") {
    val mock = new MockHttp
    mock.addJson(clearReply)   // clear whole sheet
    mock.addJson(appendReply)  // header + data append
    val (w, _) = writer(mock, companies)
    w.option("sheet", "write_fixture").mode("overwrite").save(SpreadsheetId)

    val reqs = mock.recordedRequests
    assert(reqs.size == 2)
    assert(reqs(0).method == HttpMethod.POST)
    assert(reqs(0).url.endsWith("/values/write_fixture:clear"))
    assert(reqs(0).body == "{}")
    assert(reqs(1).url.endsWith("/values/write_fixture:append?valueInputOption=USER_ENTERED"))
    assert(reqs(1).body ==
      """{"majorDimension":"ROWS","range":"write_fixture","values":[["company","product","year_founded"],["Microsoft","Excel","1985"],["Google","Google Sheets","2006"],["Apple","Numbers","1984"],["LibreOffice","Calc","2000"]]}""")
  }

  /** The rows of each recorded append body. */
  private def appendedRows(mock: MockHttp): Seq[Seq[Seq[String]]] =
    mock.recordedRequests.filter(_.url.contains(":append")).map(r =>
      graft.sources.gsheets.core.Json.parse(r.body)("values").arr.map(_.arr.map(_.str)))

  private def kinds(mock: MockHttp): Seq[String] = mock.recordedRequests.map(r =>
    if (r.url.contains(":clear")) "clear" else if (r.url.contains(":append")) "append" else "other")

  test("overwrite of an empty DataFrame: clear, then a header-only append") {
    val mock = new MockHttp
    mock.addJson(clearReply)
    mock.addJson(appendReply)
    val (w, _) = writer(mock, companies.limit(0))
    w.option("sheet", "write_fixture").mode("overwrite").save(SpreadsheetId)
    assert(kinds(mock) == Seq("clear", "append"))
    assert(appendedRows(mock) == Seq(Seq(Seq("company", "product", "year_founded"))))
  }

  test("overwrite with header=false sends only the rows") {
    val mock = new MockHttp
    mock.addJson(clearReply)
    mock.addJson(appendReply)
    val (w, _) = writer(mock, companies)
    w.option("sheet", "write_fixture").option("header", "false")
      .mode("overwrite").save(SpreadsheetId)
    assert(kinds(mock) == Seq("clear", "append"))
    assert(appendedRows(mock).map(_.map(_.head)) ==
      Seq(Seq("Microsoft", "Google", "Apple", "LibreOffice")))
  }

  test("overwrite of 2,048 rows: 2,047 after the header, then 1") {
    val s = spark
    import s.implicits._
    val df = s.range(2048).toDF("i").coalesce(1)
    val mock = new MockHttp
    mock.addJson(clearReply)
    (1 to 2).foreach(_ => mock.addJson(appendReply))
    val (w, _) = writer(mock, df)
    w.option("sheet", "write_fixture").mode("overwrite").save(SpreadsheetId)
    assert(kinds(mock) == Seq("clear", "append", "append"))
    val appends = appendedRows(mock)
    assert(appends.map(_.size) == Seq(2048, 1))
    assert(appends.head.head == Seq("i"))
    assert(appends.flatten.tail.map(_.head.toInt).sorted == (0 until 2048))
  }

  test("overwrite_range=true clears only the range (precedence over overwrite_sheet)") {
    val mock = new MockHttp
    mock.addJson(metadataJson) // init: gid → sheet name lookup
    mock.addJson(clearReply)   // clear range only
    mock.addJson(appendReply)  // header (default true under overwrite_range) + data
    val (w, _) = writer(mock, companies)
    w.option("overwrite_range", "true").option("overwrite_sheet", "false")
      .mode("append")
      .save(s"https://docs.google.com/spreadsheets/d/$SpreadsheetId/edit?gid=341836654#gid=341836654&range=C6:E10")

    val reqs = mock.recordedRequests
    assert(reqs.size == 3)
    assert(reqs(0).method == HttpMethod.GET)
    assert(reqs(1).url.endsWith("/values/write_fixture!C6:E10:clear"))
    // body range uses the unencoded sheet name (reference `:163-175`)
    assert(reqs(2).body.contains(""""range":"write_fixture!C6:E10""""))
    assert(appendedRows(mock).head.head == Seq("company", "product", "year_founded"))
  }

  test("plain append mode: no clear, no header") {
    val mock = new MockHttp
    mock.addJson(appendReply) // data only
    val (w, _) = writer(mock, companies)
    w.option("sheet", "write_fixture").mode("append").save(SpreadsheetId)

    val reqs = mock.recordedRequests
    assert(reqs.size == 1)
    assert(reqs(0).method == HttpMethod.POST)
    assert(reqs(0).url.contains(":append"))
    assert(appendedRows(mock).map(_.map(_.head)) ==
      Seq(Seq("Microsoft", "Google", "Apple", "LibreOffice")))
  }

  test("header=true in append mode is honored (explicit beats default)") {
    val mock = new MockHttp
    mock.addJson(appendReply) // header + data
    val (w, _) = writer(mock, companies)
    w.option("sheet", "write_fixture").option("header", "true")
      .mode("append").save(SpreadsheetId)
    assert(mock.recordedRequests.size == 1)
    assert(appendedRows(mock).head.map(_.head) ==
      Seq("company", "Microsoft", "Google", "Apple", "LibreOffice"))
  }

  test("an append to a tab titled like a cell (B2) quotes the title") {
    val mock = new MockHttp
    mock.addJson(appendReply)
    val (w, _) = writer(mock, companies)
    w.option("sheet", "B2").option("range", "A1:C4").mode("append").save(SpreadsheetId)
    val reqs = mock.recordedRequests
    assert(reqs.size == 1)
    assert(java.net.URLDecoder.decode(reqs(0).url, "UTF-8")
      .endsWith("/values/'B2'!A1:C4:append?valueInputOption=USER_ENTERED"))
    assert(reqs(0).body.contains(""""range":"'B2'!A1:C4""""))
  }

  test("sheet/range params take precedence over the URL query string") {
    val mock = new MockHttp
    mock.addJson(appendReply) // data; no gid lookup since sheet param given
    val (w, _) = writer(mock, companies)
    w.option("sheet", "write_fixture").option("range", "C6:E10")
      .mode("append")
      .save(s"https://docs.google.com/spreadsheets/d/$SpreadsheetId/edit?gid=0#gid=0&range=A1:B2")

    val reqs = mock.recordedRequests
    assert(reqs.size == 1)
    assert(reqs(0).url.endsWith("/values/write_fixture!C6:E10:append?valueInputOption=USER_ENTERED"))
  }

  test("multi-chunk append: 5000 rows → 2048+2048+904 in three POSTs") {
    val s = spark
    import s.implicits._
    val df = s.range(5000).toDF("i")
    val mock = new MockHttp
    (1 to 3).foreach(_ => mock.addJson(appendReply))
    val (w, _) = writer(mock, df)
    w.option("sheet", "write_fixture").mode("append").save(SpreadsheetId)

    val appends = mock.recordedRequests.filter(_.url.contains(":append"))
    assert(appends.size == 3)
    def nRows(body: String): Int = body.sliding(2).count(_ == "[\"")
    assert(nRows(appends(0).body) == 2048)
    assert(nRows(appends(1).body) == 2048)
    assert(nRows(appends(2).body) == 904)
  }

  test("create_if_not_exists creates a missing sheet then appends") {
    val mock = new MockHttp
    mock.addJson(metadataJson)  // init: create check (missing → create)
    mock.addJson("""{"replies":[{"addSheet":{"properties":{"sheetId":77,"title":"NewSheet","index":10,"sheetType":"GRID"}}}]}""")
    mock.addJson(appendReply)   // data
    val (w, _) = writer(mock, companies)
    w.option("sheet", "NewSheet").option("create_if_not_exists", "true")
      .mode("append").save(SpreadsheetId)

    val reqs = mock.recordedRequests
    assert(reqs.size == 3)
    assert(reqs(1).url.endsWith(":batchUpdate"))
    assert(reqs(1).body == """{"requests":[{"addSheet":{"properties":{"title":"NewSheet"}}}]}""")
    assert(reqs(2).url.contains("/values/NewSheet:append"))
  }

  test("create_if_not_exists without sheet errors like the reference bind") {
    val mock = new MockHttp
    val (w, _) = writer(mock, companies)
    val e = intercept[Throwable] {
      w.option("create_if_not_exists", "true").mode("append").save(SpreadsheetId)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("Must provide sheet name")))
    assert(mock.recordedRequests.isEmpty)
  }

  test("NULLs serialize as empty cells; typed values render as cell text") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Option("x"), Option(true), Option(1.5), Option(java.sql.Date.valueOf("2024-02-29")),
        Option(java.sql.Timestamp.valueOf("2024-02-29 12:34:56"))),
      (None: Option[String], None: Option[Boolean], None: Option[Double],
        None: Option[java.sql.Date], None: Option[java.sql.Timestamp]))
      .toDF("s", "b", "d", "dt", "ts").coalesce(1)
    val mock = new MockHttp
    mock.addJson(appendReply)
    val (w, _) = writer(mock, df)
    w.option("sheet", "write_fixture").mode("append").save(SpreadsheetId)

    val body = mock.recordedRequests.last.body
    assert(body.contains("""["x","true","1.5","2024-02-29","2024-02-29 12:34:56"]"""))
    assert(body.contains("""["","","","",""]"""))
  }

  test("multi-partition input still writes through a single writer") {
    val s = spark
    import s.implicits._
    val df = s.range(100).toDF("i").repartition(4)
    val mock = new MockHttp
    mock.addJson(appendReply)
    val (w, _) = writer(mock, df)
    w.option("sheet", "write_fixture").mode("append").save(SpreadsheetId)
    // exactly one data append despite 4 input partitions
    assert(mock.recordedRequests.count(_.url.contains(":append")) == 1)
  }
}
