package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters summed from listener events, and the events' spans on the
  * System.nanoTime clock the harness's spans use (Spark stamps events in
  * epoch milliseconds).
  */
trait EventTotals {
  private val nanosMinusMillis = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val totals = new ConcurrentHashMap[String, java.lang.Double]()
  val eventSpans = new ConcurrentLinkedQueue[(String, Long, Long)]()

  protected def add(k: String, v: Double): Unit = totals.merge(k, v, (a, b) => a + b)
  def get(k: String): Double = Option(totals.get(k)).map(_.doubleValue).getOrElse(0.0)

  protected def addSpan(name: String, startMs: Long, endMs: Long): Unit =
    eventSpans.add((name, startMs * 1000000L + nanosMinusMillis, endMs * 1000000L + nanosMinusMillis))
}

/** Spark task totals from the public listener events, installed only for
  * the traced phase. `scan` stages are the ones reading the connector's
  * partitions (a DataSourceRDD in the stage). A job started while the
  * local property [[SparkTotalsListener.KindKey]] names an op kind also
  * adds its stages' totals under `<kind>.<counter>`.
  */
final class SparkTotalsListener extends SparkListener with EventTotals {
  private val scanStages = ConcurrentHashMap.newKeySet[Int]()
  private val stageKind = new ConcurrentHashMap[Int, String]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    add("stages", 1)
    if (e.stageInfo.rddInfos.exists(_.name.contains("DataSourceRDD"))) scanStages.add(id)
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkTotalsListener.KindKey)))
      .foreach(stageKind.put(id, _))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    for (start <- info.submissionTime; end <- info.completionTime)
      addSpan(if (scanStages.contains(info.stageId)) "spark.scan_stage" else "spark.stage", start, end)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val prefixes = "" +: Option(stageKind.get(e.stageId)).map(_ + ".").toSeq
      def addAll(k: String, v: Double): Unit = prefixes.foreach(p => add(p + k, v))
      addAll("tasks", 1)
      addAll("task_cpu_ms", m.executorCpuTime / 1e6)
      addAll("gc_ms", m.jvmGCTime.toDouble)
      addAll("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      addAll("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      if (scanStages.contains(e.stageId)) {
        add("scan_tasks", 1)
        add("scan_deser_ms", m.executorDeserializeTime.toDouble)
      }
    }
  }
}

object SparkTotalsListener {
  val KindKey = "perfbench.kind"
}

/** Streaming phase durations and state size from query progress events. */
final class ProgressListener extends StreamingQueryListener with EventTotals {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    add("progress", 1)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    addSpan("spark.progress", start, start + p.durationMs.getOrDefault("triggerExecution", 0L))
    p.durationMs.asScala.foreach { case (k, v) => add(k, v.doubleValue) }
    add("state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
    add("state_bytes", p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
  }
}
