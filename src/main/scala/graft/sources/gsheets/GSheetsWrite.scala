package graft.sources.gsheets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.SortOrder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types._

import graft.sources.gsheets.core._

/** Write path, port of the reference COPY sink (`src/gsheets_copy.cpp`).
  *
  * Option semantics (reference `:30-52`):
  *   - `overwrite_range` (default false) takes precedence over
  *     `overwrite_sheet` at clear time (`:98-104`);
  *   - `header` defaults to the overwrite mode — append ⇒ no header
  *     (`:43-44`);
  *   - `create_if_not_exists` requires `sheet` (`:46-48`).
  *
  * SaveMode mapping: `.mode("overwrite")` (DSV2 truncate) defaults
  * `overwrite_sheet=true` — the reference COPY default; `.mode("append")`
  * defaults both overwrite flags false — the reference's append
  * configuration. Explicit options always win.
  *
  * Execution: a single ordered writer task
  * ([[RequiresDistributionAndOrdering]] `requiredNumPartitions=1`,
  * matching the reference's single-threaded sink) appending in
  * 2048-row batches (`:129-181`). Sheets appends are not transactional;
  * like the reference, a failed write may leave partial data (abort is
  * best-effort, SURVEY §7.3).
  */
final class GSheetsWriteBuilder(info: LogicalWriteInfo, options: GSheetsOptions)
  extends WriteBuilder with SupportsTruncate {

  private var truncateMode = false

  override def truncate(): WriteBuilder = { truncateMode = true; this }

  override def build(): Write =
    new GSheetsWrite(info.schema(), options, truncateMode)
}

final class GSheetsWrite(schema: StructType, options: GSheetsOptions,
    truncateMode: Boolean) extends Write with RequiresDistributionAndOrdering {

  // Spark rejects numPartitions with an unspecified distribution, so
  // cluster on the first column — with requiredNumPartitions=1 every row
  // reaches the single writer no matter the clustering key. Callers who
  // need exact row order should coalesce(1)/sort upstream (the Sheets
  // append API offers no ordering guarantee across requests anyway).
  override def requiredDistribution(): Distribution =
    if (schema.isEmpty) Distributions.unspecified()
    else Distributions.clustered(Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(
        schema.fieldNames.head)))
  override def requiredOrdering(): Array[SortOrder] = Array.empty
  override def requiredNumPartitions(): Int = if (schema.isEmpty) 0 else 1

  override def toBatch: BatchWrite = new GSheetsBatchWrite(schema, options, truncateMode)

  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new GSheetsStreamingWrite(schema, options, truncateMode)

  override def description(): String = s"gsheets ${options.url}"
}

final case class GSheetsCommitMessage(rowsWritten: Long) extends WriterCommitMessage

/** Complete-mode streaming commit payload: the task's serialized rows,
  * carried to the driver so the sheet mutation happens exactly once per
  * epoch (see [[GSheetsStreamingWrite.commit]]).
  */
final case class GSheetsRowsMessage(rows: Vector[Vector[String]])
  extends WriterCommitMessage

/** Where a write lands: the spreadsheet, the tab title and the A1 range
  * inside the tab (empty for the whole tab). Ranges name the tab by
  * [[A1Range.rangeTitle]], so a tab titled like a cell is not read as one.
  */
private final case class WriteTarget(spreadsheetId: String, sheetName: String,
    sheetRange: String) {
  private def title: String = A1Range.rangeTitle(sheetName)
  def encodedName: String = Urls.urlEncode(title)
  /** The range in the request URL. */
  def apiRange: String =
    if (sheetRange.nonEmpty) s"$encodedName!$sheetRange" else encodedName
  /** The range in the request body, with the title unencoded (`:163-175`). */
  def bodyRange: String =
    if (sheetRange.nonEmpty) s"$title!$sheetRange" else title
}

private object WriteTarget {

  /** The batch and streaming sinks' one sheet resolution, port of the
    * reference's (`src/gsheets_copy.cpp:54-97`): the `sheet` param, else
    * the URL gid's title; with `create_if_not_exists`, the tab is
    * created when a metadata probe does not find it; the `range` param,
    * else the URL's. `client` is first used after the params are checked.
    */
  def resolve(options: GSheetsOptions,
      client: => GoogleSheetsClient): WriteTarget = {
    if (options.createIfNotExists && options.sheet.isEmpty)
      throw new IllegalArgumentException("Must provide sheet name")
    val url = options.url
    val spreadsheetId = Urls.extractSpreadsheetId(url)
    val c = client
    // Param takes precedence over the URL query string (`:72-78`).
    val sheetName =
      if (options.sheet.nonEmpty) options.sheet
      else c.getSheetById(spreadsheetId, Urls.extractSheetId(url)).properties.title
    if (options.createIfNotExists) {
      try { c.getSheetByName(spreadsheetId, sheetName); () }
      catch {
        case _: SheetNotFoundException => c.createSheet(spreadsheetId, sheetName)
      }
    }
    val sheetRange =
      if (options.range.nonEmpty) options.range
      else Urls.extractSheetRange(url)
    WriteTarget(spreadsheetId, sheetName, sheetRange)
  }
}

final class GSheetsBatchWrite(schema: StructType, options: GSheetsOptions,
    truncateMode: Boolean) extends BatchWrite {

  /** Driver-side global init, port of `GSheetWriteInitializeGlobal`
    * (`src/gsheets_copy.cpp:54-122`): resolve the sheet, optionally
    * create it, and clear range-or-sheet, exactly once before any task
    * writes.
    *
    * The reference also appends the header row here, as a call of its
    * own. Here the header rides in the writer task's first append
    * instead: `requiredNumPartitions` is 1 and a V2 write always runs at
    * least one task, so partition 0 puts it at the head of its buffer.
    * An overwrite of n rows then costs 1 + ⌈(n + 1) / 2048⌉ calls, not
    * 2 + ⌈n / 2048⌉, and an empty result still gets a header-only
    * append. A retried writer task re-sends its header just as it
    * re-sends its rows: Sheets appends are not transactional (SURVEY
    * §7.3).
    */
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val overwriteSheet = options.overwriteSheet.getOrElse(truncateMode)
    val overwriteRange = options.overwriteRange.getOrElse(false)
    val header = options.headerOpt.getOrElse(overwriteRange || overwriteSheet)

    lazy val client = options.newClient()
    val target = WriteTarget.resolve(options, client)
    val spreadsheetId = target.spreadsheetId

    // OVERWRITE_RANGE takes precedence: defaults false and is less
    // destructive (`:98-104`).
    if (overwriteRange)
      client.valuesClear(spreadsheetId,
        A1Range(s"${target.encodedName}!${target.sheetRange}"))
    else if (overwriteSheet)
      client.valuesClear(spreadsheetId, A1Range(target.encodedName))

    new GSheetsWriterFactory(options.raw, spreadsheetId, target.apiRange,
      target.bodyRange, schema, header)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  override def useCommitCoordinator(): Boolean = false
}

/** Streaming sink (Spark-native extension; the reference COPY sink is
  * batch-only): each micro-batch epoch appends its rows. In append
  * output mode the sheet grows monotonically — the mirror image of the
  * tail-read source; in complete mode (`truncateMode`) each epoch
  * replaces the sheet with the latest aggregate state.
  *
  * Complete mode mutates the sheet ONLY in the driver-side
  * [[commit]] (tasks just serialize rows into their commit message):
  * `createWriter` runs per task ATTEMPT, so a retry or speculative
  * attempt clearing the sheet there could interleave clear/header/data
  * with a prior attempt's appends (ADVICE r2). Epoch commit remains
  * best-effort like the batch path — Sheets appends are not
  * transactional (SURVEY §7.3), so a driver crash mid-commit may leave
  * partial rows; exactly-once would need an idempotent key column,
  * which the reference offers no analog for.
  */
final class GSheetsStreamingWrite(schema: StructType, options: GSheetsOptions,
    truncateMode: Boolean)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  // Sheet resolution + create_if_not_exists, once per query (lazy: the
  // factory and the per-epoch commits need it, whichever runs first).
  private lazy val target = WriteTarget.resolve(options, driverClient)

  // Append-mode header (explicit opt-in only, like the reference's
  // append COPY) is written once at stream start, guarded in case the
  // engine re-creates the factory per epoch.
  @volatile private var headerWritten = false

  // One driver-side client for the stream's lifetime: constructing per
  // epoch would pay a service-account JWT round-trip on every commit
  // (Auth already refreshes tokens 60 s early, so reuse is safe).
  private lazy val driverClient = options.newClient()

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val t = target
    if (!truncateMode && options.headerOpt.getOrElse(false) && !headerWritten) {
      driverClient.valuesAppend(t.spreadsheetId, A1Range(t.apiRange),
        ValueRange(t.bodyRange, "ROWS", Vector(schema.fieldNames.toVector)))
      headerWritten = true
    }
    new GSheetsStreamingWriterFactory(options.raw, t.spreadsheetId, t.apiRange,
      t.bodyRange, schema, truncateMode)
  }

  /** Complete mode: replace the sheet exactly once per epoch — one
    * clear, then the header (on by default, as in the batch overwrite
    * path) and the epoch's rows together in 2048-row appends, so an
    * epoch costs 1 + ⌈(rows + 1) / 2048⌉ calls. Runs on the driver after
    * every task attempt has finished, so no attempt can race the clear.
    */
  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = if (truncateMode) {
    val t = target
    driverClient.valuesClear(t.spreadsheetId, A1Range(t.encodedName))
    val header =
      if (options.headerOpt.getOrElse(true)) Vector(schema.fieldNames.toVector)
      else Vector.empty
    val rows = header ++ messages.iterator.collect {
      case GSheetsRowsMessage(r) => r
    }.flatten
    rows.grouped(GSheetsDataWriter.BatchRows).foreach { chunk =>
      driverClient.valuesAppend(t.spreadsheetId, A1Range(t.apiRange),
        ValueRange(t.bodyRange, "ROWS", chunk))
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
}

final class GSheetsStreamingWriterFactory(rawOptions: Map[String, String],
    spreadsheetId: String, apiRange: String, bodyRange: String,
    schema: StructType, truncateMode: Boolean)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    if (truncateMode) new GSheetsBufferingWriter(schema)
    else new GSheetsDataWriter(GSheetsOptions(rawOptions), spreadsheetId,
      apiRange, bodyRange, schema)
}

/** Complete-mode streaming writer: serializes rows but never touches
  * the sheet — the driver's per-epoch commit does (retry-safe).
  */
final class GSheetsBufferingWriter(schema: StructType)
  extends DataWriter[InternalRow] {

  private val serializers: Array[(InternalRow, Int) => String] =
    schema.fields.map(f => GSheetsDataWriter.cellSerializer(f.dataType))
  private val buffer = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]

  override def write(row: InternalRow): Unit =
    buffer += Vector.tabulate(serializers.length) { i =>
      if (row.isNullAt(i)) "" else serializers(i)(row, i)
    }

  override def commit(): WriterCommitMessage = GSheetsRowsMessage(buffer.toVector)
  override def abort(): Unit = buffer.clear()
  override def close(): Unit = ()
}

final class GSheetsWriterFactory(rawOptions: Map[String, String],
    spreadsheetId: String, apiRange: String, bodyRange: String,
    schema: StructType, header: Boolean) extends DataWriterFactory {

  // Only partition 0 writes the header. A write with columns has one
  // partition; one with no columns may have several, and gets one header.
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GSheetsDataWriter(GSheetsOptions(rawOptions), spreadsheetId,
      apiRange, bodyRange, schema, header && partitionId == 0)
}

/** Buffers rows and POSTs one `values:append` per 2048-row batch, the
  * reference's chunk shape (`src/gsheets_copy.cpp:129-181`). With
  * `header`, the column names head the first batch.
  */
final class GSheetsDataWriter(options: GSheetsOptions, spreadsheetId: String,
    apiRange: String, bodyRange: String, schema: StructType,
    header: Boolean = false)
  extends DataWriter[InternalRow] {

  import GSheetsDataWriter.BatchRows

  private lazy val client = options.newClient()
  private val buffer = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
  if (header) buffer += schema.fieldNames.toVector
  private var written = 0L

  private val serializers: Array[(InternalRow, Int) => String] =
    schema.fields.map(f => GSheetsDataWriter.cellSerializer(f.dataType))

  override def write(row: InternalRow): Unit = {
    val cells = Vector.tabulate(serializers.length) { i =>
      if (row.isNullAt(i)) "" else serializers(i)(row, i)
    }
    buffer += cells
    written += 1
    if (buffer.size >= BatchRows) flush()
  }

  private def flush(): Unit = {
    if (buffer.nonEmpty) {
      client.valuesAppend(spreadsheetId, A1Range(apiRange),
        ValueRange(bodyRange, "ROWS", buffer.toVector))
      buffer.clear()
    }
  }

  override def commit(): WriterCommitMessage = {
    flush()
    GSheetsCommitMessage(written)
  }

  override def abort(): Unit = buffer.clear()
  override def close(): Unit = ()
}

object GSheetsDataWriter {

  /** Reference chunk size = DuckDB STANDARD_VECTOR_SIZE. */
  val BatchRows = 2048

  /** Value → cell text, the analog of DuckDB `Value::ToString()` with
    * NULL→"" (`src/gsheets_copy.cpp:163-175`). Sent with
    * `valueInputOption=USER_ENTERED` so Google re-parses into native cell
    * types. Renderings follow JVM conventions where DuckDB's differ
    * (documented divergence, SURVEY §7.3: e.g. large doubles print
    * `1.0E20` here vs DuckDB `1e+20`).
    */
  def cellSerializer(dt: DataType): (InternalRow, Int) => String = dt match {
    case StringType  => (r, i) => r.getUTF8String(i).toString
    case BooleanType => (r, i) => if (r.getBoolean(i)) "true" else "false"
    case ByteType    => (r, i) => r.getByte(i).toString
    case ShortType   => (r, i) => r.getShort(i).toString
    case IntegerType => (r, i) => r.getInt(i).toString
    case LongType    => (r, i) => r.getLong(i).toString
    case FloatType   => (r, i) => r.getFloat(i).toString
    case DoubleType  => (r, i) => r.getDouble(i).toString
    case d: DecimalType =>
      (r, i) => r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString
    case DateType =>
      (r, i) => java.time.LocalDate.ofEpochDay(r.getInt(i).toLong).toString
    case TimestampType | TimestampNTZType => (r, i) => {
      val micros = r.getLong(i)
      val secs = java.lang.Math.floorDiv(micros, 1000000L)
      val frac = java.lang.Math.floorMod(micros, 1000000L)
      val ldt = java.time.LocalDateTime.ofEpochSecond(secs, frac.toInt * 1000,
        java.time.ZoneOffset.UTC)
      val base = ldt.format(GSheetsDataWriter.TsFormat)
      if (frac == 0) base
      else base + "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse
    }
    case other => (r, i) => String.valueOf(r.get(i, other))
  }

  private val TsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
}
