package graft.gsheets

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger

import graft.sources.gsheets.core.{HttpMethod, MockHttp, TransportRegistry}

/** Streaming tail-read of a sheet: each poll re-fetches the grid with
  * one values GET of the range the stream's table resolved, and emits
  * only rows past the committed row offset; a checkpoint-sharing second
  * run picks up exactly the newly appended rows. Every scenario pins its
  * request sequence: the schema bind of a gid URL is metadata + values
  * (of a named sheet, values only), a poll is values only.
  */
class StreamReadSpec extends AnyFunSuite {

  import Fixtures._

  private def newCheckpoint(): String =
    Files.createTempDirectory("gsheets-stream-ckpt").toString

  private val SheetUrl =
    s"https://docs.google.com/spreadsheets/d/$SpreadsheetId/edit#gid=0"

  /** The mock's recorded requests as `metadata` / `values` GETs. */
  private def calls(mock: MockHttp): Seq[String] =
    mock.recordedRequests.map { r =>
      assert(r.method == HttpMethod.GET, s"unexpected ${r.method.name} ${r.url}")
      if (r.url.contains("/values/")) "values" else "metadata"
    }

  private val baseRows = Seq(
    Seq("name", "age", "city"),
    Seq("Alice", "30", "Toronto"),
    Seq("Bob", "25", "New York"))

  private val appendedRows = baseRows ++ Seq(
    Seq("Charlie", "45", "Chicago"),
    Seq("Dina", "33", "Berlin"))

  // Parquet sink: the memory sink can't recover from a checkpoint, and
  // checkpoint recovery (run 2 resuming run 1's row offset) is exactly
  // what these tests exercise.
  private def runOnce(transport: String, outDir: String,
      checkpoint: String): Unit = {
    val stream = spark.readStream.format("gsheets")
      .option("transport", transport)
      .option("token", "test-token")
      .load(SheetUrl)
    val q = stream.writeStream
      .format("parquet")
      .outputMode("append")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
  }

  private def sinkRows(outDir: String): Seq[(String, Double)] =
    spark.read.parquet(outDir).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq.sortBy(_._1)

  test("AvailableNow run emits all current rows; restart emits only appended rows") {
    val ckpt = newCheckpoint()
    val out = Files.createTempDirectory("gsheets-stream-out").toString

    // Run 1: sheet has 2 data rows.
    val mock1 = new MockHttp
    mock1.addJson(metadataJson)                                 // schema bind: metadata
    mock1.addJson(valueRangeJson("Sheet1!A1:Z1000", baseRows))  // schema bind: values
    mock1.addJson(valueRangeJson("Sheet1!A1:Z1000", baseRows))  // poll: values
    TransportRegistry.register("mock-stream-1", mock1)
    runOnce("mock-stream-1", out, ckpt)

    assert(sinkRows(out) == Seq(("Alice", 30.0), ("Bob", 25.0)))
    assert(calls(mock1) == Seq("metadata", "values", "values"))

    // Run 2, same checkpoint: sheet grew by 2 rows → only those arrive
    // (no duplicate Alice/Bob in the cumulative sink).
    val mock2 = new MockHttp
    mock2.addJson(metadataJson)                                      // schema bind
    mock2.addJson(valueRangeJson("Sheet1!A1:Z1000", appendedRows))
    mock2.addJson(valueRangeJson("Sheet1!A1:Z1000", appendedRows))  // poll
    TransportRegistry.register("mock-stream-1", mock2)
    runOnce("mock-stream-1", out, ckpt)

    assert(sinkRows(out) == Seq(
      ("Alice", 30.0), ("Bob", 25.0), ("Charlie", 45.0), ("Dina", 33.0)))
    assert(calls(mock2) == Seq("metadata", "values", "values"))
  }

  test("AvailableNow with max_rows_per_trigger drains in multiple committed batches") {
    val ckpt = newCheckpoint()
    val out = Files.createTempDirectory("gsheets-stream-out").toString

    // 4 data rows, 2-row batches → the AvailableNow run must commit two
    // micro-batches (the SupportsTriggerAvailableNow path; the plain
    // fallback would collapse to one unbounded batch).
    val mock1 = new MockHttp
    mock1.addJson(metadataJson)                                      // schema bind
    mock1.addJson(valueRangeJson("Sheet1!A1:Z1000", appendedRows))
    mock1.addJson(valueRangeJson("Sheet1!A1:Z1000", appendedRows))  // prepare pin
    TransportRegistry.register("mock-stream-3", mock1)

    val stream = spark.readStream.format("gsheets")
      .option("transport", "mock-stream-3")
      .option("token", "test-token")
      .option("max_rows_per_trigger", "2")
      .load(SheetUrl)
    val q = stream.writeStream
      .format("parquet").outputMode("append")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    assert(sinkRows(out) == Seq(
      ("Alice", 30.0), ("Bob", 25.0), ("Charlie", 45.0), ("Dina", 33.0)))
    // Two committed batches (0 and 1), each bounded at 2 rows — the
    // checkpoint commit log is the witness that the run was multi-batch.
    val commits = new java.io.File(s"$ckpt/commits")
      .listFiles().map(_.getName).filter(_.forall(_.isDigit)).sorted.toSeq
    assert(commits == Seq("0", "1"))
    // One pinned poll for both batches.
    assert(calls(mock1) == Seq("metadata", "values", "values"))

    // Restart against a grown sheet: offsets resume past the 4 emitted
    // rows; only the newly appended row arrives (again under the pinned
    // prepare snapshot).
    val grownRows = appendedRows :+ Seq("Edith", "52", "Oslo")
    val mock2 = new MockHttp
    mock2.addJson(metadataJson)
    mock2.addJson(valueRangeJson("Sheet1!A1:Z1000", grownRows))
    mock2.addJson(valueRangeJson("Sheet1!A1:Z1000", grownRows))
    TransportRegistry.register("mock-stream-3", mock2)
    val stream2 = spark.readStream.format("gsheets")
      .option("transport", "mock-stream-3")
      .option("token", "test-token")
      .option("max_rows_per_trigger", "2")
      .load(SheetUrl)
    val q2 = stream2.writeStream
      .format("parquet").outputMode("append")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    assert(sinkRows(out) == Seq(
      ("Alice", 30.0), ("Bob", 25.0), ("Charlie", 45.0),
      ("Dina", 33.0), ("Edith", 52.0)))
    assert(calls(mock2) == Seq("metadata", "values", "values"))
  }

  test("unchanged sheet on restart emits an empty batch") {
    val ckpt = newCheckpoint()
    val out = Files.createTempDirectory("gsheets-stream-out").toString

    def unchanged(): MockHttp = {
      val mock = new MockHttp
      mock.addJson(metadataJson)
      (1 to 2).foreach(_ => mock.addJson(valueRangeJson("Sheet1!A1:Z1000", baseRows)))
      mock
    }
    val mock1 = unchanged()
    TransportRegistry.register("mock-stream-2", mock1)
    runOnce("mock-stream-2", out, ckpt)
    assert(sinkRows(out).size == 2)
    assert(calls(mock1) == Seq("metadata", "values", "values"))

    val mock2 = unchanged()
    TransportRegistry.register("mock-stream-2", mock2)
    runOnce("mock-stream-2", out, ckpt)
    assert(sinkRows(out).size == 2)
    assert(calls(mock2) == Seq("metadata", "values", "values"))
  }

  /** One stream DataFrame (one table, bound once) restarted from its
    * checkpoint by successive AvailableNow queries. `sheet` addresses
    * the tab by name when given, else the URL's gid does; `columns`,
    * when given, are the stream's projection.
    */
  private final class Restarts(transport: String, mock: MockHttp,
      sheet: Option[String] = None, columns: Seq[String] = Nil) {
    TransportRegistry.register(transport, mock)
    private val reader = spark.readStream.format("gsheets")
      .option("transport", transport)
      .option("token", "test-token")
    private val loaded = sheet.fold(reader)(reader.option("sheet", _)).load(SheetUrl)
    private val stream =
      if (columns.isEmpty) loaded else loaded.select(columns.map(loaded.col): _*)
    private val ckpt = newCheckpoint()
    val out: String = Files.createTempDirectory("gsheets-stream-out").toString

    def run(): Unit = {
      val q = stream.writeStream
        .format("parquet").outputMode("append")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      q.exception.foreach(e => throw e)
    }

    def rows(): Seq[(String, Double)] = sinkRows(out)
  }

  test("restart from a checkpoint on the same stream: one values GET, offsets resume") {
    val mock = new MockHttp
    mock.addJson(metadataJson)                                      // schema bind
    mock.addJson(valueRangeJson("Sheet1!A1:Z1000", baseRows))
    mock.addJson(valueRangeJson("Sheet1!A1:Z1000", baseRows))      // run 1 poll
    mock.addJson(valueRangeJson("Sheet1!A1:Z1000", appendedRows))  // run 2 poll
    val r = new Restarts("mock-stream-4", mock,
      columns = Seq("name", "age", "_sheet_row"))
    r.run()
    assert(r.rows() == Seq(("Alice", 30.0), ("Bob", 25.0)))
    r.run()
    // Only the two appended rows arrive.
    assert(r.rows() == Seq(
      ("Alice", 30.0), ("Bob", 25.0), ("Charlie", 45.0), ("Dina", 33.0)))
    assert(calls(mock) == Seq("metadata", "values", "values", "values"))
    // `_sheet_row` is each row's grid row: the header is row 1.
    assert(spark.read.parquet(r.out).select("name", "_sheet_row").collect()
      .map(x => (x.getString(0), x.getLong(1))).toSeq.sortBy(_._2) ==
      Seq(("Alice", 2L), ("Bob", 3L), ("Charlie", 4L), ("Dina", 5L)))
  }

  test("a tab deleted between polls: the poll falls back to the bind, which names the sheet") {
    val withoutSheet2 =
      metadataJson.linesIterator.filterNot(_.contains("\"Sheet2\"")).mkString("\n")
    val mock = new MockHttp
    mock.addJson(valueRangeJson("Sheet2!A1:Z1000", baseRows))      // schema bind
    mock.addJson(valueRangeJson("Sheet2!A1:Z1000", baseRows))      // run 1 poll
    mock.addJson("""{"error":{"code":400,"message":"Unable to parse range: Sheet2"}}""", 400)
    mock.addJson(withoutSheet2)                                     // fallback bind
    val r = new Restarts("mock-stream-5", mock, sheet = Some("Sheet2"))
    r.run()
    val e = intercept[Exception](r.run())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("Sheet not found: Sheet2")), e)
    assert(calls(mock) == Seq("values", "values", "values", "metadata"))
    assert(r.rows().size == 2)
  }

  test("a 429 on a poll costs one request and names 429") {
    val mock = new MockHttp
    mock.addJson(valueRangeJson("Sheet2!A1:Z1000", baseRows))      // schema bind
    mock.addJson(valueRangeJson("Sheet2!A1:Z1000", baseRows))      // run 1 poll
    mock.addJson("""{"error":{"code":429,"message":"Quota exceeded"}}""", 429)
    val r = new Restarts("mock-stream-429", mock, sheet = Some("Sheet2"))
    r.run()
    val e = intercept[Exception](r.run())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("429")), e)
    assert(calls(mock) == Seq("values", "values", "values"))
  }

  test("a tab renamed between polls is re-resolved through its gid") {
    val renamed = metadataJson.replace("\"title\": \"Sheet1\",", "\"title\": \"Renamed\",")
    val mock = new MockHttp
    mock.addJson(metadataJson)                                      // schema bind
    mock.addJson(valueRangeJson("Sheet1!A1:Z1000", baseRows))
    mock.addJson(valueRangeJson("Sheet1!A1:Z1000", baseRows))      // run 1 poll
    mock.addJson("""{"error":{"code":400,"message":"Unable to parse range: Sheet1"}}""", 400)
    mock.addJson(renamed)                                           // fallback bind
    mock.addJson(valueRangeJson("Renamed!A1:Z1000", appendedRows))
    val grown = appendedRows :+ Seq("Edith", "52", "Oslo")
    mock.addJson(valueRangeJson("Renamed!A1:Z1000", grown))        // run 3 poll
    val r = new Restarts("mock-stream-6", mock)
    r.run()
    r.run()
    assert(r.rows().map(_._1) == Seq("Alice", "Bob", "Charlie", "Dina"))
    assert(calls(mock) ==
      Seq("metadata", "values", "values", "values", "metadata", "values"))
    assert(mock.recordedRequests.last.url.contains("/values/Renamed"))
    // A later query on the same stream DataFrame starts from the range
    // the fallback found: one values GET of the new name.
    r.run()
    assert(r.rows().map(_._1) == Seq("Alice", "Bob", "Charlie", "Dina", "Edith"))
    assert(calls(mock).drop(6) == Seq("values"))
    assert(mock.recordedRequests.last.url.contains("/values/Renamed"))
  }

  test("a stream poll leaves no snapshot behind: a later batch load() binds its own") {
    val mock = new MockHttp
    mock.addJson(metadataJson)                                      // stream schema bind
    mock.addJson(valueRangeJson("Sheet1!A1:Z1000", baseRows))
    mock.addJson(valueRangeJson("Sheet1!A1:Z1000", baseRows))      // poll
    mock.addJson(metadataJson)                                      // batch bind
    mock.addJson(valueRangeJson("Sheet1!A1:Z1000", appendedRows))
    val r = new Restarts("mock-stream-7", mock)
    r.run()
    assert(r.rows().size == 2)

    val batch = spark.read.format("gsheets")
      .option("transport", "mock-stream-7")
      .option("token", "test-token")
      .load(SheetUrl)
    assert(batch.collect().map(_.getString(0)).toSeq.sorted ==
      Seq("Alice", "Bob", "Charlie", "Dina"))
    assert(calls(mock) == Seq("metadata", "values", "values", "metadata", "values"))
  }
}
