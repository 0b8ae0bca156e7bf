package graft.gsheets

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.sources.gsheets.{GSheetsOptions, GSheetsRowsMessage, GSheetsStreamingWrite}
import graft.sources.gsheets.core.{Json, MockHttp, TransportRegistry}

/** Streaming gsheets sink: per-epoch appends in append mode, per-epoch
  * clear-and-rewrite in complete mode (one clear, then the header and
  * the state rows together in 2048-row appends).
  */
class StreamWriteSpec extends AnyFunSuite {

  private lazy val spark = Fixtures.spark
  import Fixtures.SpreadsheetId
  import spark.implicits._

  private def appendReply(range: String): String =
    s"""{"spreadsheetId":"$SpreadsheetId","updates":{"updatedRange":"$range"}}"""

  /** Each recorded request as `clear` / `append` / `other`. */
  private def kinds(mock: MockHttp): Seq[String] = mock.recordedRequests.map(r =>
    if (r.url.contains(":clear")) "clear" else if (r.url.contains(":append")) "append" else "other")

  /** The rows of each recorded append body. */
  private def appendedRows(mock: MockHttp): Seq[Seq[Seq[String]]] =
    mock.recordedRequests.filter(_.url.contains(":append")).map(r =>
      Json.parse(r.body)("values").arr.map(_.arr.map(_.str)))

  test("append mode: one values:append per epoch, sheet grows monotonically") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val mock = new MockHttp
    mock.addJson(appendReply("write_fixture!A1:B2")) // epoch 0
    mock.addJson(appendReply("write_fixture!A3:B3")) // epoch 1
    TransportRegistry.register("mock-swrite-1", mock)

    val q = input.toDS().toDF("name", "score").writeStream
      .format("gsheets")
      .outputMode(OutputMode.Append())
      .option("transport", "mock-swrite-1")
      .option("token", "test-token")
      .option("sheet", "write_fixture")
      .option("checkpointLocation",
        Files.createTempDirectory("gsheets-swrite-ckpt").toString)
      .option("path", SpreadsheetId)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      input.addData(("a", 1.0), ("b", 2.0))
      q.processAllAvailable()
      input.addData(("c", 3.0))
      q.processAllAvailable()
    } finally q.stop()

    val appends = mock.recordedRequests.filter(_.url.contains(":append"))
    assert(appends.size == 2)
    assert(appends(0).body.contains("""["a","1.0"]""") &&
      appends(0).body.contains("""["b","2.0"]"""))
    assert(appends(1).body.contains("""["c","3.0"]"""))
    // append mode, no header requested → no clears, no header row
    assert(!mock.recordedRequests.exists(_.url.contains(":clear")))
    assert(!appends.exists(_.body.contains("\"name\"")))
  }

  test("complete mode: each epoch clears, rewrites header, then appends state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val mock = new MockHttp
    (1 to 2).foreach { _ =>
      mock.addJson("{}")                                // clear
      mock.addJson(appendReply("write_fixture!A1:B2"))  // header + rows
    }
    TransportRegistry.register("mock-swrite-2", mock)

    val agg = input.toDS().toDF("name", "score")
      .groupBy($"name").agg(sum($"score").as("total"))

    val q = agg.writeStream
      .format("gsheets")
      .outputMode(OutputMode.Complete())
      .option("transport", "mock-swrite-2")
      .option("token", "test-token")
      .option("sheet", "write_fixture")
      .option("checkpointLocation",
        Files.createTempDirectory("gsheets-swrite-ckpt").toString)
      .option("path", SpreadsheetId)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      input.addData(("a", 1.0), ("a", 2.0))
      q.processAllAvailable()
      input.addData(("a", 4.0))
      q.processAllAvailable()
    } finally q.stop()

    assert(kinds(mock) == Seq("clear", "append", "clear", "append"))
    // header rewritten per epoch, ahead of the state; the final epoch
    // shows the updated total
    assert(appendedRows(mock) == Seq(
      Seq(Seq("name", "total"), Seq("a", "3.0")),
      Seq(Seq("name", "total"), Seq("a", "7.0"))))
  }

  /** One complete-mode epoch commit on the driver, the tasks' rows
    * carried by `messages`; returns the mock that recorded it.
    */
  private def commitEpoch(transport: String, extra: Map[String, String],
      messages: Seq[Seq[Seq[String]]]): MockHttp = {
    val mock = new MockHttp
    TransportRegistry.register(transport, mock)
    (0 until 4).foreach(_ => mock.addJson(appendReply("write_fixture!A1:B1")))
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("total", DoubleType)))
    val write = new GSheetsStreamingWrite(schema, GSheetsOptions(Map(
      "transport" -> transport, "token" -> "test-token",
      "sheet" -> "write_fixture", "path" -> SpreadsheetId) ++ extra),
      truncateMode = true)
    write.commit(0L, messages.map(m => GSheetsRowsMessage(m.map(_.toVector).toVector)).toArray)
    mock
  }

  test("complete mode with header=false: the epoch sends only its rows") {
    val mock = commitEpoch("mock-swrite-4", Map("header" -> "false"),
      Seq(Seq(Seq("a", "3.0"))))
    assert(kinds(mock) == Seq("clear", "append"))
    assert(appendedRows(mock) == Seq(Seq(Seq("a", "3.0"))))

    val empty = commitEpoch("mock-swrite-4", Map("header" -> "false"), Seq(Nil))
    assert(kinds(empty) == Seq("clear"))
  }

  test("complete mode with an empty state still writes the header") {
    val mock = commitEpoch("mock-swrite-5", Map.empty, Seq(Nil, Nil))
    assert(kinds(mock) == Seq("clear", "append"))
    assert(appendedRows(mock) == Seq(Seq(Seq("name", "total"))))
  }

  test("complete mode chunks header + state into 2048-row appends") {
    // 2,048 state rows from two tasks + the header = 2,049 rows: the
    // first append carries the header and 2,047 rows, the second the last.
    val rows = (0 until 2048).map(i => Seq(s"k$i", s"$i.0"))
    val mock = commitEpoch("mock-swrite-6", Map.empty, Seq(rows.take(1000), rows.drop(1000)))
    assert(kinds(mock) == Seq("clear", "append", "append"))
    val appends = appendedRows(mock)
    assert(appends.map(_.size) == Seq(2048, 1))
    assert(appends.flatten == Seq("name", "total") +: rows)
  }

  test("complete mode: createWriter has no sheet side effects (retry-safe)") {
    // A task RETRY or speculative attempt re-invokes createWriter after a
    // prior attempt ran — if the clear lived there, one epoch could
    // interleave clear/header/data. The sheet mutation must belong to the
    // driver-side per-epoch commit alone.
    val mock = new MockHttp
    TransportRegistry.register("mock-swrite-3", mock)
    val schema = StructType(Seq(StructField("name", StringType)))
    val factory = new graft.sources.gsheets.GSheetsStreamingWriterFactory(
      Map("transport" -> "mock-swrite-3", "token" -> "test-token",
        "path" -> SpreadsheetId),
      SpreadsheetId, "write_fixture", "write_fixture", schema,
      truncateMode = true)
    // Two attempts of the same (partition, epoch) — e.g. a retry.
    val w1 = factory.createWriter(0, taskId = 1L, epochId = 0L)
    val w2 = factory.createWriter(0, taskId = 2L, epochId = 0L)
    assert(mock.recordedRequests.isEmpty,
      s"createWriter touched the sheet: ${mock.recordedRequests.map(_.url)}")
    // The abandoned attempt's buffered rows die with its message; only
    // what reaches commit() is applied.
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("x"))
    w1.write(row); w2.write(row)
    w1.abort()
    assert(mock.recordedRequests.isEmpty)
  }
}
