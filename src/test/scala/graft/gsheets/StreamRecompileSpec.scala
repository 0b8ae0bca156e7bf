package graft.gsheets

import java.nio.file.Files

import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.gsheets.core.{MockHttp, TransportRegistry}

/** A streaming restart reuses the generated classes of the run before
  * it. Spark keys its codegen cache by (class loader, code), and each
  * `start()` clones the session; with Spark's default of per-session
  * artifact isolation every clone got its own executor class loader, so
  * every start recompiled its task classes. `GraftExtensions` defaults
  * the isolation off, and this pins that a second start of the same
  * query compiles nothing.
  */
class StreamRecompileSpec extends AnyFunSuite {

  import Fixtures._

  test("a second AvailableNow start on one checkpoint compiles 0 classes") {
    val base = Seq(Seq("name", "age", "city"), Seq("Alice", "30", "Toronto"))
    val mock = new MockHttp
    mock.addJson(valueRangeJson("Sheet1!A1:Z1000", base))     // load()
    TransportRegistry.register("mock-recompile-tail", mock)
    val stream = spark.readStream.format("gsheets")
      .option("transport", "mock-recompile-tail").option("token", "test-token")
      .option("sheet", "Sheet1").load(SpreadsheetId)
    val ckpt = Files.createTempDirectory("gsheets-recompile-ckpt")
    try {
      var rows = base
      val compiles = (1 to 2).map { op =>
        rows = rows :+ Seq(s"P$op", "40", "Oslo")
        mock.addJson(valueRangeJson("Sheet1!A1:Z1000", rows)) // poll
        mock.addJson("""{"spreadsheetId":"x","clearedRange":"write_fixture"}""")
        mock.addJson(
          """{"spreadsheetId":"x","tableRange":"t","updates":{"updatedCells":1}}""")
        val (before, _) = Bridge.codegenCompiles()
        val q = stream.groupBy("city").agg(count(lit(1)).as("n")).writeStream
          .format("gsheets").outputMode(OutputMode.Complete())
          .option("transport", "mock-recompile-tail").option("token", "test-token")
          .option("sheet", "write_fixture").option("path", SpreadsheetId)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(60000)
        q.exception.foreach(e => throw e)
        Bridge.codegenCompiles()._1 - before
      }
      assert(compiles(1) == 0, s"compiles per start: $compiles")
    } finally deleteRecursively(ckpt)
  }
}
