package graft.streaming

import java.util.UUID

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException,
  StreamingQueryProgress, StreamingQueryStatus}

/** `capturePlan` records a finished run's plan and batch durations; a
  * capture that fails must not leave an earlier run's entries behind
  * for Bench or the plan audit to read as this run's. */
class CapturePlanSpec extends AnyFunSuite {

  /** A terminated query whose `explain()` prints `plan`, or throws when
    * `plan` is None. No progress, so its batch durations are empty. */
  private def stub(plan: Option[String]): StreamingQuery = new StreamingQuery {
    def name: String = "stub"
    val id: UUID = UUID.randomUUID()
    val runId: UUID = UUID.randomUUID()
    def sparkSession: SparkSession = null
    def isActive: Boolean = false
    def exception: Option[StreamingQueryException] = None
    def status: StreamingQueryStatus = null
    def recentProgress: Array[StreamingQueryProgress] = Array.empty
    def lastProgress: StreamingQueryProgress = null
    def awaitTermination(): Unit = ()
    def awaitTermination(timeoutMs: Long): Boolean = true
    def processAllAvailable(): Unit = ()
    def stop(): Unit = ()
    def explain(): Unit = explain(extended = false)
    def explain(extended: Boolean): Unit =
      println(plan.getOrElse(throw new IllegalStateException("no plan")))
  }

  test("a failed capture drops the query's earlier plan and batch durations") {
    val name = "capture_plan_spec"
    try {
      StreamingQueries.capturePlan(name, stub(Some("plan-1")))
      assert(StreamingQueries.executedPlans.get(name).map(_.trim)
        .contains("plan-1"))
      assert(StreamingQueries.batchDurationsMs.get(name).contains(Nil))

      StreamingQueries.capturePlan(name, stub(None))
      assert(StreamingQueries.executedPlans.get(name).isEmpty)
      assert(StreamingQueries.batchDurationsMs.get(name).isEmpty)
    } finally {
      StreamingQueries.executedPlans.remove(name)
      StreamingQueries.batchDurationsMs.remove(name)
    }
  }
}
