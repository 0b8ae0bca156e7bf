package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.sources.gsheets.GSheetsBind
import graft.sources.gsheets.GSheetsDataWriter
import graft.sources.gsheets.core.{HttpMethod, HttpRequest, JdkHttp, Json, Model, ValueRange}

/** The system-under-test JVM of the benchmark. `perfbench/run.py` starts
  * the fake API and this process, then prints what this one writes to
  * `out=`. Arguments are `key=value`:
  *
  *   workload, api (fake API base URL), seconds, trace (0|1), workdir,
  *   out, warmup (ops per set-up), setups, tail_rows, launch_ns (the
  *   System.nanoTime-compatible moment run.py started the set-up).
  */
object Harness {

  /** One op's latency, its kind, and whether it ran traced. */
  final case class Sample(kind: String, traced: Boolean, ms: Double)

  final case class Phase(samples: Seq[Sample], kinds: Seq[String], attempted: Int, failed: Int,
      cpuNs: Long, allocBytes: Long, gcMs: Long,
      stats0: JsonNode, stats1: JsonNode, firstRoundBytes: Long) {
    def delta(k: String): Double = stats1.path(k).asDouble - stats0.path(k).asDouble
    def tracedOps: Int = samples.count(_.traced)
    /** Quantile `q` of one kind's op latency. */
    def kindP(kind: String, q: Double, traced: Boolean = false): Double =
      Stats.hdQuantile(samples.filter(s => s.kind == kind && s.traced == traced)
        .map(_.ms).sorted.toIndexedSeq, q)
    /** Geometric mean over the op kinds of each kind's own quantile `q`:
      * different kinds are never pooled into one percentile.
      */
    def p(q: Double, traced: Boolean = false): Double =
      math.exp(kinds.map(k => math.log(kindP(k, q, traced))).sum / kinds.size)
  }

  private def bytes(s: JsonNode): Long =
    s.path("req_bytes").asLong + s.path("resp_bytes").asLong

  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val workDir = a("workdir")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"

    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // Spark's status store keeps every job, stage and query it saw up to
      // these limits; small limits stop that bookkeeping from growing
      // with the number of ops in a run.
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "20")
      .config("spark.sql.streaming.numRecentProgressUpdates", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ctl = new Control(a("api"))
    val tracer = new Tracer
    val env = new Env(spark, a("api"), ctl, tracer, workDir)
    val tailRows = a("tail_rows").toInt
    val w = Workloads(a("workload"), env, tailRows)
    val heap = new HeapProbe
    val launchToSession = (System.nanoTime() - a("launch_ns").toLong) / 1e9

    // Set-up is repeated and its median kept. A failed untimed op
    // (warm-up or heap probe) fails the run.
    var untimedFailed = 0
    def untimedOp(i: Int): Unit =
      try { w.op(); if (!w.verify(i)) untimedFailed += 1 }
      catch { case e: Exception => untimedFailed += 1; e.printStackTrace() }
    var warmupMs = IndexedSeq.empty[Double]
    val setups = (1 to a("setups").toInt).map { k =>
      val t0 = System.nanoTime()
      ctl.post("reset")
      w.prepare(k)
      warmupMs = (0 until a("warmup").toInt).map { i =>
        val t1 = System.nanoTime()
        untimedOp(i)
        (System.nanoTime() - t1) / 1e6
      }
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = launchToSession + Stats.median(setups)
    System.err.println(f"[perfbench] session $launchToSession%.2f s, set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s")

    // The heap probe runs a fixed number of ops between the set-ups and
    // the timed phase, in every run, so each run has the same schedule
    // and the same sheet sizes when timing starts. Its full GCs would
    // distort latency and CPU, so it is neither set-up nor timed; its ops
    // also warm the program. A sampler collects about twelve times per op
    // of the last set-up's median length. The upper quartile is the peak
    // an op holds for a while: a live-heap spike shorter than the
    // sampling interval is caught only by chance, and the largest sample
    // moved by half between engine runs.
    val everyMs = math.max(25L, (Stats.median(warmupMs) / 12).toLong)
    val live = heap.liveSamples(everyMs, ops = 2)(untimedOp(0))

    /** Times ops for `secs`, then finishes the round of the op rotation
      * under way, so every kind has a sample and the first round's API
      * bytes are always measured. With `alternate`, rounds of the op rotation
      * run untraced, traced, traced, untraced, and so on, so traced and
      * untraced ops share one stretch of time and a steady drift in op
      * time cancels out of their difference.
      */
    def phase(secs: Double, alternate: Boolean): Phase = {
      val s0 = ctl.get(s"stats?keep_log=${if (alternate) 1 else 0}&take_log=1")
      heap.start()
      val cpu0 = Cpu.nanos()
      val samples = ArrayBuffer.empty[Sample]
      var attempted, failed = 0
      var firstRoundBytes = 0L
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      while (System.nanoTime() < deadline || attempted % w.kinds.size != 0) {
        val i = attempted
        attempted += 1
        tracer.enabled = alternate && Set(1, 2)((i / w.kinds.size) % 4)
        val t0 = System.nanoTime()
        val ran =
          try {
            tracer("op") { w.op() }
            samples += Sample(w.kind, tracer.enabled, (System.nanoTime() - t0) / 1e6)
            true
          } catch { case e: Exception => e.printStackTrace(); false }
        tracer.enabled = false
        if (i == w.kinds.size - 1) firstRoundBytes = bytes(ctl.get("stats")) - bytes(s0)
        if (!ran || !w.verify(i)) failed += 1
      }
      val cpuNs = Cpu.nanos() - cpu0
      val (alloc, gcMs) = heap.stop()
      val s1 = ctl.get("stats?take_log=1")
      System.err.println(s"[perfbench] op ms in order: ${samples.map(x => f"${x.ms}%.0f").mkString(" ")}")
      Phase(samples.toSeq, w.kinds, attempted, failed, cpuNs, alloc, gcMs, s0, s1, firstRoundBytes)
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val (attempted, failed) = if (!traced) {
      val ph = phase(seconds, alternate = false)
      metrics("setup_s") = (setupS, "s")
      metrics("op_p50_ms") = (ph.p(0.5), "ms")
      metrics("op_p90_ms") = (ph.p(0.9), "ms")
      metrics("cpu_ms_per_op") = (ph.cpuNs / 1e6 / ph.attempted, "ms")
      metrics("api_calls_per_op") = (ph.delta("requests") / ph.attempted, "count")
      // The tail sheet grows by op, so the first round's bytes are the
      // ones every run measures at the same sheet size.
      metrics("api_mb_per_op") = (ph.firstRoundBytes / 1e6 / w.kinds.size, "MB")
      metrics("heap_peak_mb") = (Stats.hdQuantile(live, 0.75) / 1e6, "MB")
      System.err.println(s"[perfbench] ${ph.attempted} ops timed, ${ph.failed} failed")
      (ph.attempted, ph.failed)
    } else {
      org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
      val sparkTotals = new SparkTotalsListener
      val progress = new ProgressListener
      spark.sparkContext.addSparkListener(sparkTotals)
      spark.streams.addListener(progress)
      val ph = phase(seconds, alternate = true)
      org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkTotals)
      spark.streams.removeListener(progress)
      // Listener spans first, so API requests nest under the stage or
      // streaming trigger that made them.
      (progress.eventSpans.asScala ++ sparkTotals.eventSpans.asScala).foreach {
        case (name, start, end) => tracer.attach(name, start, end)
      }
      ph.stats1.path("log").elements().asScala.foreach { e =>
        tracer.attach("api." + e.get(0).asText(), e.get(1).asLong, e.get(2).asLong)
      }
      tracer.write(s"$workDir/trace-${a("workload")}.json")

      // Listener and API counters cover every op of the phase; the
      // harness's own spans only the traced ones.
      val ops = ph.attempted.toDouble
      val tracedOps = math.max(ph.tracedOps, 1).toDouble
      def m(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
      m("http.requests", ph.delta("requests") / ops, "count")
      m("http.req_mb", ph.delta("req_bytes") / 1e6 / ops, "MB")
      m("http.resp_mb", ph.delta("resp_bytes") / 1e6 / ops, "MB")
      m("http.connections", ph.delta("connections") / ops, "count")
      m("http.server_ms", ph.delta("server_ns") / 1e6 / ops, "ms")
      val replay = Replays(env, w)
      Seq("http.fetch_ms" -> "ms", "json.decode_ns_per_cell" -> "ns",
        "json.alloc_b_per_cell" -> "B", "json.encode_ns_per_cell" -> "ns",
        "bind.infer_ms" -> "ms", "scan.convert_ns_per_cell" -> "ns",
        "write.serialize_ns_per_cell" -> "ns").foreach { case (k, u) =>
        m(k, replay.getOrElse(k, 0.0), u)
      }
      m("bind.ms", tracer.totalMs("bind") / tracedOps, "ms")
      m("scan.exec_ms", tracer.totalMs("exec") / tracedOps, "ms")
      m("scan.task_deser_ms", sparkTotals.get("scan_deser_ms") / ops, "ms")
      m("scan.tasks", sparkTotals.get("scan_tasks") / ops, "count")
      val saveMs = tracer.totalMs("write")
      m("write.ms", (if (saveMs > 0) saveMs else sinkCommitMs(tracer)) / tracedOps, "ms")
      m("write.append_calls", ph.delta("append") / ops, "count")
      m("stream.fetch_amplification",
        if (w.newCellsPerOp > 0) ph.delta("cells_served") / (ops * w.newCellsPerOp) else 0.0, "ratio")
      Seq("stream.latest_offset_ms" -> "latestOffset", "stream.query_planning_ms" -> "queryPlanning",
        "stream.add_batch_ms" -> "addBatch", "stream.wal_commit_ms" -> "walCommit",
        "stream.commit_offsets_ms" -> "commitOffsets", "stream.trigger_ms" -> "triggerExecution")
        .foreach { case (k, d) => m(k, progress.get(d) / ops, "ms") }
      m("stream.start_ms", tracer.totalMs("start") / tracedOps, "ms")
      val batches = math.max(progress.get("progress"), 1.0)
      m("state.rows_total", progress.get("state_rows") / batches, "count")
      m("state.memory_mb", progress.get("state_bytes") / 1e6 / batches, "MB")
      // Spark task totals of every op, whatever the workload.
      m("spark.task_cpu_ms", sparkTotals.get("task_cpu_ms") / ops, "ms")
      m("spark.shuffle_mb", sparkTotals.get("shuffle_bytes") / 1e6 / ops, "MB")
      m("spark.spill_mb", sparkTotals.get("spill_bytes") / 1e6 / ops, "MB")
      m("spark.gc_ms", sparkTotals.get("gc_ms") / ops, "ms")
      m("spark.tasks", sparkTotals.get("tasks") / ops, "count")
      m("spark.stages", sparkTotals.get("stages") / ops, "count")
      // The engine queries, each on its own (0 on the sheet workloads).
      EngineMix.Queries.foreach { q =>
        val n = ph.samples.count(_.kind == q).toDouble
        def per(k: String, scale: Double): Double = if (n == 0) 0.0 else sparkTotals.get(s"$q.$k") / scale / n
        m(s"engine.$q.p50_ms", if (n == 0) 0.0 else ph.kindP(q, 0.5), "ms")
        m(s"engine.$q.task_cpu_ms", per("task_cpu_ms", 1), "ms")
        m(s"engine.$q.shuffle_mb", per("shuffle_bytes", 1e6), "MB")
        m(s"engine.$q.spill_mb", per("spill_bytes", 1e6), "MB")
        m(s"engine.$q.gc_ms", per("gc_ms", 1), "ms")
        m(s"engine.$q.tasks", per("tasks", 1), "count")
      }
      m("jvm.gc_ms", ph.gcMs / ops, "ms")
      m("jvm.alloc_mb", ph.allocBytes / 1e6 / ops, "MB")
      m("trace.op_p50_ms", ph.p(0.5, traced = true), "ms")
      m("trace.overhead_ms", ph.p(0.5, traced = true) - ph.p(0.5), "ms")
      System.err.println(s"[perfbench] ${ph.attempted} ops, ${ph.tracedOps} traced")
      (ph.attempted, ph.failed)
    }

    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("correct", failed == 0 && untimedFailed == 0)
    result.put("attempted", attempted)
    result.put("failed", failed)
    // A run whose every op failed has no latency: report 0, never NaN.
    result.put("metrics", metrics.map { case (k, (v, u)) =>
      k -> Map("value" -> (if (v.isNaN) 0.0 else v), "unit" -> u).asJava
    }.asJava)
    new ObjectMapper().writeValue(new java.io.File(a("out")), result)
    System.err.println(f"[perfbench] result written ${(System.nanoTime() - a("launch_ns").toLong) / 1e9}%.2f s after launch")
    spark.stop()
  }

  /** The streaming sink's per-epoch commit: from its clear to its last
    * append, summed over the traced ops.
    */
  private def sinkCommitMs(tracer: Tracer): Double = {
    val spans = tracer.spans
    spans.filter(_.name == "op").map { op =>
      val inOp = spans.filter(s => s.start >= op.start && s.end <= op.end)
      inOp.find(_.name == "api.clear") match {
        case Some(clear) =>
          val end = inOp.filter(s => s.name == "api.append" && s.start >= clear.start).map(_.end)
          if (end.isEmpty) 0.0 else (end.max - clear.start) / 1e6
        case None => 0.0
      }
    }.sum
  }
}

/** Replays, in the traced run only, of the public functions an op calls,
  * on the same bytes and grid the op used. Each figure is a median of a
  * few repetitions.
  */
object Replays {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private def medianNs(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble
    })

  private def serializeAndEncode(schema: StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): Map[String, Double] = {
    val sers = schema.fields.map(f => GSheetsDataWriter.cellSerializer(f.dataType))
    def serialize(): Vector[Vector[String]] = rows.iterator.map { r =>
      Vector.tabulate(sers.length)(i => if (r.isNullAt(i)) "" else sers(i)(r, i))
    }.toVector
    val cells = rows.size.toDouble * sers.length
    var chunk = Vector.empty[Vector[String]]
    val serNs = medianNs(5) { chunk = serialize() }
    val encNs = medianNs(5) { Model.valueRangeBody(ValueRange("Out", "ROWS", chunk)) }
    Map("write.serialize_ns_per_cell" -> serNs / cells,
      "json.encode_ns_per_cell" -> encNs / chunk.map(_.size).sum)
  }

  def apply(env: Env, w: Workload): Map[String, Double] = w.readSheet match {
    case Some(sheet) =>
      val http = new JdkHttp()
      val req = HttpRequest(HttpMethod.GET,
        s"${env.api}/v4/spreadsheets/${env.spreadsheetId}/values/$sheet",
        Map("Authorization" -> s"Bearer ${env.token}", "Accept" -> "application/json"))
      var body = ""
      val fetchNs = medianNs(5) { body = http.execute(req).body }
      var vr: ValueRange = null
      val decodeNs = medianNs(3) { vr = Model.valueRange(Json.parse(body)) }
      val alloc0 = threads.getCurrentThreadAllocatedBytes
      Model.valueRange(Json.parse(body))
      val alloc = threads.getCurrentThreadAllocatedBytes - alloc0
      val cells = vr.values.map(_.size).sum.toDouble
      val inferNs = medianNs(5) { GSheetsBind.inferSchema(vr.values, header = true, allVarchar = false) }
      val schema = GSheetsBind.inferSchema(vr.values, header = true, allVarchar = false)
      val data = vr.values.drop(1)
      var rows: Seq[org.apache.spark.sql.catalyst.InternalRow] = Nil
      val convNs = medianNs(3) { rows = Workloads.converted(data, schema) }
      Map("http.fetch_ms" -> fetchNs / 1e6,
        "json.decode_ns_per_cell" -> decodeNs / cells,
        "json.alloc_b_per_cell" -> alloc / cells,
        "bind.infer_ms" -> inferNs / 1e6,
        "scan.convert_ns_per_cell" -> convNs / (data.size.toDouble * schema.size)) ++
        serializeAndEncode(schema, rows.take(GSheetsDataWriter.BatchRows))
    case None =>
      w.writtenRows(GSheetsDataWriter.BatchRows)
        .map { case (schema, rows) => serializeAndEncode(schema, rows) }
        .getOrElse(Map.empty)
  }
}
