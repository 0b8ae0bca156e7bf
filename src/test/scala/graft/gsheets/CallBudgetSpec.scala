package graft.gsheets

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.sources.gsheets.core.{MockHttp, TransportRegistry}

/** Sheets API calls per op for the three shapes the benchmark
  * (`perfbench/`) measures, counted from the mock's recorded requests:
  * a named-sheet read, a result overwrite, and a streaming tail into a
  * complete-mode summary sheet. A change that adds a round trip to any
  * of them fails here.
  */
class CallBudgetSpec extends AnyFunSuite {

  import Fixtures._

  private val appendReply =
    """{"spreadsheetId":"x","tableRange":"t","updates":{"updatedCells":1}}"""
  private val clearReply =
    """{"spreadsheetId":"x","clearedRange":"write_fixture"}"""

  private def register(name: String, mock: MockHttp): String = {
    TransportRegistry.register(name, mock)
    name
  }

  test("a named-sheet load() plus an action: 1 request") {
    val mock = new MockHttp
    mock.addJson(valueRangeJson("Sheet2!A1:Z1000", sheet2Rows))
    val t = register("mock-budget-read", mock)
    val df = spark.read.format("gsheets")
      .option("transport", t).option("token", "test-token")
      .option("sheet", "Sheet2").load(SpreadsheetId)
    assert(df.groupBy("region").agg(count(lit(1))).collect().length == 3)
    assert(mock.recordedRequests.size == 1)
  }

  test("an overwrite of n rows: 1 + ⌈(n + 1) / 2048⌉ requests") {
    for (n <- Seq(0, 1, 2047, 2048, 5000)) {
      val mock = new MockHttp
      mock.addRoutedJson(":clear", clearReply)
      mock.addRoutedJson(":append", appendReply)
      val t = register(s"mock-budget-write-$n", mock)
      spark.range(n).toDF("i").write.format("gsheets")
        .option("transport", t).option("token", "test-token")
        .option("sheet", "write_fixture").mode("overwrite").save(SpreadsheetId)
      assert(mock.recordedRequests.size == 1 + (n + 1 + 2047) / 2048, s"n=$n")
    }
  }

  test("an AvailableNow tail poll plus one complete-mode epoch: 3 requests") {
    val base = Seq(Seq("name", "age", "city"), Seq("Alice", "30", "Toronto"))
    val mock = new MockHttp
    mock.addJson(valueRangeJson("Sheet1!A1:Z1000", base))     // load()
    val t = register("mock-budget-tail", mock)
    val stream = spark.readStream.format("gsheets")
      .option("transport", t).option("token", "test-token")
      .option("sheet", "Sheet1").load(SpreadsheetId)
    val ckpt = Files.createTempDirectory("gsheets-budget-ckpt")
    try {
      var rows = base
      for (op <- 1 to 2) {
        rows = rows :+ Seq(s"P$op", "40", "Oslo")
        mock.addJson(valueRangeJson("Sheet1!A1:Z1000", rows)) // poll
        mock.addJson(clearReply)                               // epoch: clear
        mock.addJson(appendReply)                              // epoch: header + state
        val before = mock.recordedRequests.size
        val q = stream.groupBy("city").agg(count(lit(1)).as("n")).writeStream
          .format("gsheets").outputMode(OutputMode.Complete())
          .option("transport", t).option("token", "test-token")
          .option("sheet", "write_fixture").option("path", SpreadsheetId)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(60000)
        q.exception.foreach(e => throw e)
        assert(mock.recordedRequests.size - before == 3, s"op $op")
      }
    } finally deleteRecursively(ckpt)
  }
}
