package graft.sources.gsheets

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{LongType, StructType}

/** Streaming read of a sheet as an append-only tail
  * (`spark.readStream.format("gsheets").load(url)`).
  *
  * The reference is batch-only (`src/include/gsheets_read.hpp:14`,
  * SURVEY §2.2 "Streaming"); this is the Spark-native extension SURVEY
  * §3.2/§4.3 sketches: each micro-batch re-polls the sheet with one
  * `values.get` of the range its table resolved and emits only the data
  * rows past the last committed row offset. A poll the API answers with
  * 400 (the range names no tab) falls back once to the full bind, which
  * re-resolves a renamed tab or fails with the bind's own message. The stream starts from, and hands a
  * re-resolved range back to, its table's `tail`. Offsets are plain row
  * counts, so checkpoint/restart resumes where the last run stopped and
  * a `Trigger.AvailableNow` run over an unchanged sheet emits nothing.
  *
  * Admission control ([[SupportsTriggerAvailableNow]]):
  *   - `Trigger.AvailableNow` pins the target offset at
  *     [[prepareForTriggerAvailableNow]] — ONE fetch bounds the whole
  *     run (no per-batch re-poll, no mid-run sheet growth bleed-in),
  *     and the run is genuine multi-batch rather than the
  *     single-batch-fallback WARN path Spark uses for plain sources;
  *   - `max_rows_per_trigger` caps each micro-batch's row count (a
  *     [[ReadLimit.maxRows]] default limit), so a large backlog drains
  *     in bounded, checkpointed steps in both AvailableNow and
  *     continuous-trigger modes.
  *
  * Rows already emitted are assumed immutable (append-only sheet) — the
  * same contract as a file tail; in-place edits of old rows are not
  * re-emitted. A shrunken sheet yields an empty batch, never an error.
  */
final class GSheetsMicroBatchStream(
    tail: AtomicReference[BoundSheet],
    options: GSheetsOptions,
    required: StructType) extends MicroBatchStream with SupportsTriggerAvailableNow {

  import GSheetsMicroBatchStream.RowOffset

  private val initial = tail.get()

  // Latest polled grid; planInputPartitions slices it by row offset.
  @volatile private var latest: BoundSheet = initial

  // Spark never calls pruneColumns on a micro-batch scan, so `required`
  // is the table schema, while the relation appends `_sheet_row` to its
  // output when a query selects it (a real sheet column of that name
  // shadows it). Rows carry the column at the end either way: the scan's
  // projection reads its output by position, so an unselected trailing
  // cell is never read.
  private val columns: StructType =
    if (required.fieldNames.exists(_.equalsIgnoreCase(GSheetsScan.SheetRowCol))) required
    else required.add(GSheetsScan.SheetRowCol, LongType)

  // Row count pinned by prepareForTriggerAvailableNow; -1 = unbounded
  // (continuous triggers re-poll on every latestOffset call).
  @volatile private var availableNowCap: Long = -1L

  private lazy val client = options.newClient()

  /** One values GET of the latest range; if the API answers 400 (the
    * range names no tab), the reference's bind re-resolves the tab (or
    * fails with the bind's message), and a re-resolved range goes back
    * to the table, so the next query on the same stream DataFrame polls
    * it directly. Any other failure surfaces from the poll. */
  private def refresh(): Unit = {
    latest = Some(latest).filter(_.error.isEmpty)
      .flatMap(l => GSheetsBind.tryValues(client, l).map(GSheetsBind.withGrid(l, _)))
      .getOrElse {
        val rebound = GSheetsBind.lookupBind(options, client)
        if (rebound.error.isEmpty) tail.set(rebound.copy(values = Vector.empty))
        rebound
      }
    latest.error.foreach(msg => throw new IllegalStateException(msg))
  }

  override def prepareForTriggerAvailableNow(): Unit = {
    refresh()
    availableNowCap = latest.dataRows.size.toLong
  }

  override def getDefaultReadLimit: ReadLimit =
    options.maxRowsPerTrigger
      .map(n => ReadLimit.maxRows(n))
      .getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = RowOffset(0L)

  // Admission-control sources are driven through latestOffset(start,
  // limit); Spark never calls the no-arg form (same contract as the
  // built-in Kafka source).
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[RowOffset].rows
    val target =
      if (availableNowCap >= 0L) availableNowCap // pinned; no re-poll mid-run
      else { refresh(); latest.dataRows.size.toLong }
    val end = limit match {
      case r: ReadMaxRows => math.min(target, from + r.maxRows())
      case _              => target
    }
    RowOffset(end)
  }

  override def reportLatestOffset(): Offset =
    RowOffset(latest.dataRows.size.toLong)

  override def deserializeOffset(json: String): Offset = RowOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[RowOffset].rows.toInt
    val until = end.asInstanceOf[RowOffset].rows.toInt
    val rows = latest.dataRows
    if (until <= from || from >= rows.size) return Array.empty
    // Project to the pruned columns using the *streaming* schema (fixed
    // at stream start) through the batch path's column map; later-added
    // columns are ignored, ragged rows pad with NULL. `_sheet_row` works
    // on the stream too: the source's row offsets ARE grid positions, so
    // batch row i carries the absolute sheet row it was tailed from.
    val colIdx = GSheetsScan.columnIndexes(latest, columns)
    val baseRow = GSheetsScan.firstDataRow(latest) + from
    val slice = rows.slice(from, until).zipWithIndex
      .map { case (row, ri) => GSheetsScan.project(row, colIdx, baseRow + ri) }.toArray
    Array(GSheetsInputPartition(slice, columns.fields.map(_.dataType)))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GSheetsReaderFactory

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String =
    s"GSheetsMicroBatchStream(${initial.spreadsheetId} ${initial.apiRange})"
}

object GSheetsMicroBatchStream {
  /** Row-count offset: `json` is the count itself. */
  final case class RowOffset(rows: Long) extends Offset {
    override def json(): String = rows.toString
  }
}
