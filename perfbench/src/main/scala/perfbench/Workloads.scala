package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.sources.gsheets.GSheetsPartitionReader

/** What every workload shares: the connector options pointing at the
  * fake API, and the group-by summary the read and tail workloads run.
  */
final class Env(val spark: SparkSession, val api: String, val ctl: Control,
    val tracer: Tracer, val workDir: String) {
  val spreadsheetId = "perfbench"
  val token = "perfbench-token"
  def options(sheet: String): Map[String, String] =
    Map("token" -> token, "baseUrl" -> s"$api/v4", "sheet" -> sheet)
}

object Summary {
  /** Per key: row count; for each number column the sum of 4*x (exact,
    * as the fixture holds quarters) and its non-NULL count; TRUE counts
    * for booleans; total length for strings. Nothing here can be pushed
    * into the scan, so the engine reads and converts every cell.
    */
  def of(df: DataFrame): DataFrame = {
    val aggs = count(lit(1)).as("cnt") +: df.schema.fields.toSeq.flatMap { f =>
      val c = col(f.name)
      f.dataType match {
        case DoubleType => Seq(sum((c * 4).cast(LongType)).as(s"${f.name}_sum4"),
          count(c).as(s"${f.name}_cnt"))
        case BooleanType => Seq(count(when(c, 1)).as(s"${f.name}_true"))
        case StringType if f.name != "key" => Seq(sum(length(c)).as(s"${f.name}_len"))
        case _ => Nil
      }
    }
    df.groupBy("key").agg(aggs.head, aggs.tail: _*)
  }

  def canonical(rows: Seq[Row]): Seq[String] =
    rows.map(r => (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|")).sorted
}

/** Ops run closed-loop, one in flight. A workload of several op kinds
  * runs them in a fixed rotation; each kind gets its own percentiles.
  */
trait Workload {
  /** The op kinds, in rotation order. */
  def kinds: Seq[String] = Seq("op")
  /** The kind of the op run last. */
  def kind: String = kinds.head
  /** Sheet whose values GET the traced run replays, if the op reads one. */
  def readSheet: Option[String]
  /** Per set-up `k` (the fake API was just reset). */
  def prepare(k: Int): Unit
  /** One op. Throws on failure; its output is checked by [[verify]]. */
  def op(): Unit
  /** Checks op number `i` of the timed phase (0 = first). */
  def verify(i: Int): Boolean
  /** Cells a streaming op newly emits (0 for batch ops). */
  def newCellsPerOp: Double = 0
  /** Typed rows the op writes, for the serializer replay. */
  def writtenRows(n: Int): Option[(StructType, Seq[InternalRow])] = None
}

/** `load()` of a 20-column sheet, then a group-by summary collected to the
  * driver. Bind, HTTP, JSON decode and cell conversion do most of the work.
  */
final class SheetRead(env: Env) extends Workload {
  import env._
  private lazy val expected: Seq[String] =
    ctl.get("expected").elements().asScala.map(_.elements().asScala.map(_.asText()).mkString("|"))
      .toSeq.sorted
  private var last: Seq[Row] = Nil

  override def readSheet: Option[String] = Some("Data")
  override def prepare(k: Int): Unit = ()
  override def op(): Unit = {
    val df = tracer("bind") {
      spark.read.format("gsheets").options(options("Data")).load(spreadsheetId)
    }
    last = tracer("exec") { Summary.of(df).collect().toSeq }
  }
  override def verify(i: Int): Boolean = {
    val ok = Summary.canonical(last) == expected
    if (!ok) System.err.println("[perfbench] sheet_read: summary differs from the expected answer")
    ok
  }
}

/** A source sheet grows by `rowsPerOp` rows per op; one streaming query
  * (gsheets source, group-by, gsheets sink in complete mode) catches up
  * with Trigger.AvailableNow on one checkpoint. An op runs from the append
  * to the summary being written.
  */
final class SheetTail(env: Env, rowsPerOp: Int) extends Workload {
  import env._
  private var summary: DataFrame = _
  private var checkpoint = ""
  private var width = 0

  override def readSheet: Option[String] = Some("Source")

  override def prepare(k: Int): Unit = {
    // Earlier set-ups' state-store providers stay loaded until unloaded.
    org.apache.spark.sql.graft.Bridge.unloadStateStores()
    checkpoint = s"$workDir/tail-checkpoint-$k"
    val source = spark.readStream.format("gsheets").options(options("Source")).load(spreadsheetId)
    width = source.schema.size
    summary = Summary.of(source)
    runOnce()
    if (!ctl.check("Summary")) throw new IllegalStateException("initial summary is wrong")
  }

  private def runOnce(): Unit = {
    val q = tracer("start") {
      summary.writeStream.format("gsheets").options(options("Summary"))
        .outputMode("complete").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint).start(spreadsheetId)
    }
    tracer("await") { q.awaitTermination() }
    q.exception.foreach(e => throw e)
  }

  override def op(): Unit = {
    ctl.post(s"tail_append?rows=$rowsPerOp")
    tracer("trigger") { runOnce() }
  }
  override def verify(i: Int): Boolean = ctl.check("Summary")
  override def newCellsPerOp: Double = rowsPerOp.toDouble * width
}

/** A fixed-order rotation over engine registry queries on the seeded
  * parquet tables the fake API wrote. Each result is written to its own
  * sheet by one task (so the API bytes do not depend on task order), and
  * the fake API checks it against DuckDB's answer to the query's
  * `SparkEntry.oracleSql`. The queries are batch queries: no state store
  * is loaded between rounds.
  */
final class EngineMix(env: Env) extends Workload {
  import env._
  private val queries = EngineMix.Queries
  private val dataDir = s"$workDir/engine"
  private var next = 0

  override def kinds: Seq[String] = queries
  override def kind: String = queries((next + queries.size - 1) % queries.size)
  override def readSheet: Option[String] = None
  override def prepare(k: Int): Unit = {
    next = 0
    if (k == 1) queries.foreach(q => ctl.post(s"oracle?sheet=$q", SparkEntry.oracleSql(q)))
  }
  override def op(): Unit = {
    val q = queries(next % queries.size)
    next += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(SparkTotalsListener.KindKey, q)
    try tracer("query") {
      SparkEntry.queries(q)(spark, dataDir).coalesce(1)
        .write.format("gsheets").options(options(q)).mode("overwrite").save(spreadsheetId)
    } finally sc.setLocalProperty(SparkTotalsListener.KindKey, null)
  }
  override def verify(i: Int): Boolean = ctl.check(kind)
  override def writtenRows(n: Int): Option[(StructType, Seq[InternalRow])] = {
    val df = SparkEntry.queries(queries.head)(spark, dataDir)
    val conv = CatalystTypeConverters.createToCatalystConverter(df.schema)
    Some((df.schema, df.limit(n).collect().toSeq.map(r => conv(r).asInstanceOf[InternalRow])))
  }
}

object EngineMix {
  /** The registry queries of the rotation, in order. Their per-layer
    * metrics are listed on every workload.
    */
  val Queries = Seq("q60_ann_pq", "q130_rrf_fusion")
}

object Workloads {
  def apply(name: String, env: Env, tailRows: Int): Workload = name match {
    case "sheet_read"  => new SheetRead(env)
    case "sheet_tail"  => new SheetTail(env, tailRows)
    case "engine_mix"  => new EngineMix(env)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Rows of a values GET converted as the scan does, as InternalRows. */
  def converted(values: Seq[Seq[String]], schema: StructType): Seq[InternalRow] =
    values.map { row =>
      InternalRow.fromSeq(schema.fields.indices.map { c =>
        GSheetsPartitionReader.convert(if (c < row.size) row(c) else null, schema(c).dataType)
      })
    }
}
