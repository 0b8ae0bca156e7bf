package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.net.{HttpURLConnection, URI}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.management.GarbageCollectionNotificationInfo

/** The fake API's control channel (`/_bench/...`). It uses its own
  * HttpURLConnection, never the program's transport, and the fake API
  * leaves these requests out of every count.
  */
final class Control(base: String) {
  private val mapper = new ObjectMapper()

  def get(path: String): JsonNode = call("GET", path, "")
  def post(path: String, body: String = ""): JsonNode = call("POST", path, body)

  private def call(method: String, path: String, body: String): JsonNode = {
    val c = URI.create(s"$base/_bench/$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    if (method == "POST") {
      c.setDoOutput(true)
      val out = c.getOutputStream
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    val in = c.getInputStream
    try mapper.readTree(in) finally in.close()
  }

  /** Passes a control check (`check?sheet=...`), failing with its detail. */
  def check(sheet: String): Boolean = {
    val r = get(s"check?sheet=$sheet")
    if (!r.path("ok").asBoolean(false))
      System.err.println(s"[perfbench] check of $sheet failed: ${r.path("detail").asText()}")
    r.path("ok").asBoolean(false)
  }
}

/** Process CPU time of this JVM, all threads, in nanoseconds. */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def nanos(): Long = os.getProcessCpuTime
}

/** Allocation and GC time over one phase, and the live heap of an op.
  *
  * Allocation is what the young collections freed from eden, plus eden's
  * growth over the phase.
  */
final class HeapProbe {
  private val edenPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Eden")).map(_.getName).toSet
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  @volatile private var active = false
  private var edenFreed = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val freed = edenPools.toSeq.map { p =>
          info.getMemoryUsageBeforeGc.get(p).getUsed - info.getMemoryUsageAfterGc.get(p).getUsed
        }.sum
        HeapProbe.this.synchronized { edenFreed += freed }
      }
  }
  gcBeans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  private def edenUsed(): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => edenPools(p.getName)).map(_.getUsage.getUsed).sum
  private def gcMillis(): Long = gcBeans.map(_.getCollectionTime).sum

  private var eden0 = 0L
  private var gc0 = 0L

  def start(): Unit = {
    synchronized { edenFreed = 0L }
    gc0 = gcMillis()
    eden0 = edenUsed()
    active = true
  }

  /** Ends the phase: (bytes allocated, GC ms). */
  def stop(): (Long, Long) = {
    active = false
    (synchronized(edenFreed) + edenUsed() - eden0, gcMillis() - gc0)
  }

  /** Heap occupancy right after a full GC, sampled while `op` runs `ops`
    * times; returned sorted. A sampler collects every `everyMs`, so each
    * sample is live data only: young-collection samples also hold
    * garbage that has not yet been tenured, which made them vary by a
    * quarter between runs.
    */
  def liveSamples(everyMs: Long, ops: Int)(op: => Unit): IndexedSeq[Double] = {
    @volatile var running = true
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val sampler = new Thread(() => {
      while (running) {
        System.gc()
        samples.add(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble)
        Thread.sleep(everyMs)
      }
    }, "perfbench-heap-sampler")
    sampler.setDaemon(true)
    sampler.start()
    val t0 = System.nanoTime()
    try (1 to ops).foreach(_ => op)
    finally { running = false; sampler.join() }
    val out = samples.asScala.map(_.doubleValue).toIndexedSeq.sorted
    System.err.println(f"[perfbench] heap probe: $ops ops, ${out.size} full-GC samples " +
      f"(MB: ${out.map(b => f"${b / 1e6}%.0f").mkString(" ")}), ${(System.nanoTime() - t0) / 1e9}%.1f s")
    out
  }
}

/** In-memory spans, written out when the benchmark ends. Disabled, it
  * only runs the body.
  */
final class Tracer {
  import Tracer.Span

  var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  /** Adds a span measured elsewhere (the fake API's request log, which
    * shares this clock) under the innermost span that contains it.
    */
  def attach(name: String, start: Long, end: Long): Unit = {
    val parents = spans.filter(s => s.start <= start && end <= s.end)
    val parent = if (parents.isEmpty) -1 else parents.minBy(s => s.end - s.start).id
    spans += Span(next, parent, name, start, end)
    next += 1
  }

  /** Total duration of spans named `name`, in milliseconds. */
  def totalMs(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => (s.end - s.start) / 1e6).sum

  def write(path: String): Unit = {
    val rows = spans.sortBy(_.start).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end).asJava
    }.asJava
    new ObjectMapper().writeValue(new java.io.File(path), rows)
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
}

object Stats {
  /** Linear-interpolated quantile of a sorted sample. */
  def quantile(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted.toIndexedSeq, 0.5)

  /** Harrell-Davis estimate of quantile `q` of a sorted sample: a
    * Beta-weighted mean of every order statistic. On the 20-70 op
    * samples a run holds it varies much less than one order statistic.
    */
  def hdQuantile(sorted: IndexedSeq[Double], q: Double): Double = {
    val n = sorted.size
    if (n == 0) Double.NaN
    else if (n == 1) sorted(0)
    else {
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        q * (n + 1), (1 - q) * (n + 1))
      var acc = 0.0
      var prev = 0.0
      for (i <- 1 to n) {
        val cdf = beta.cumulativeProbability(i.toDouble / n)
        acc += (cdf - prev) * sorted(i - 1)
        prev = cdf
      }
      acc
    }
  }
}
