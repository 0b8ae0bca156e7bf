package graft.sources.gsheets

import java.util
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Google Sheets as a Spark DataSource V2 — the engine-native equivalent
  * of the reference's `read_gsheet` table function + `COPY TO (FORMAT
  * gsheet)` sink (registrations at reference
  * `src/gsheets_extension.cpp:55-59` and `src/gsheets_copy.cpp:23-28`).
  *
  * Usage parity:
  * {{{
  *   spark.read.format("gsheets")
  *     .option("token", t)             // or keyFilePath / email+privateKey
  *     .option("sheet", "Sheet1!A2:B7")  // optional, like read_gsheet params
  *     .option("header", "true").option("all_varchar", "false")
  *     .load("https://docs.google.com/spreadsheets/d/<id>/edit#gid=0")
  *
  *   df.write.format("gsheets").option("token", t)
  *     .mode("overwrite")              // = COPY default (overwrite_sheet)
  *     .save(url)                      // mode("append") = append, no header
  * }}}
  *
  * The reference's replacement scan (`FROM '<url>'`,
  * `src/gsheets_extension.cpp:29-46`) maps to `.load(url)` — Spark has no
  * bare-URL table resolution for non-catalog sources (SURVEY §3.2).
  *
  * Each `load()` binds once, in its own provider: Spark creates a provider
  * per `load()` and calls [[inferSchema]] and then [[getTable]] on it (as
  * does [[GSheetsUrlResolution]]). [[inferSchema]] binds and keeps the
  * [[BoundSheet]]; [[getTable]] hands it to the table when the options
  * match, the analog of the reference's `ReadSheetBindData`. Nothing is
  * cached across loads, so a second `load()` binds again.
  */
final class GSheetsDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "gsheets"

  override def supportsExternalMetadata(): Boolean = true

  // The bind inferSchema made, with the options it was made for.
  @volatile private var inferred: Option[(GSheetsOptions, BoundSheet)] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = GSheetsOptions(options.asCaseSensitiveMap().asScala.toMap)
    val bound = GSheetsBind.doBind(opts, opts.newClient())
    inferred = Some((opts, bound))
    bound.schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = GSheetsOptions(properties.asScala.toMap)
    new GSheetsTable(schema, options, inferred.collect {
      case (opts, bound) if opts == options => bound
    })
  }
}

/** One spreadsheet/sheet/range selection as a Spark `Table`. The sheet
  * (tab) concept maps per SURVEY §1.1: a table identified by
  * spreadsheet id + sheet + A1 range, schema inferred at bind.
  *
  * The table owns its bind snapshot: the `inferred` one its provider's
  * `inferSchema` made, or, when the schema was user-declared, one bound
  * at its first scan build. Every scan of this table (self-join and
  * union branches, repeated actions on one DataFrame) shares it, so one
  * query never mixes two sheet states; a new `load()` or table resolution
  * makes a new table, which binds the sheet as it is then. Writes never
  * bind.
  */
final class GSheetsTable(schema0: StructType, options: GSheetsOptions,
    inferred: Option[BoundSheet])
  extends Table with SupportsRead with SupportsWrite
  with SupportsMetadataColumns {

  override def name(): String = s"gsheets:${options.url}"

  override def schema(): StructType = schema0

  /** Row provenance: `_sheet_row` is the 1-based row of the sheet GRID
    * each record came from (range start + header offset + position), so
    * a read-modify-write flow can target the exact `A1` row to update.
    * Hidden unless selected (Spark metadata-column contract) and
    * shadowed by a real sheet column of the same name.
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name: String = GSheetsScan.SheetRowCol
      override def dataType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def comment: String =
        "1-based sheet row the record was read from"
    })

  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_READ,
    TableCapability.BATCH_WRITE,
    TableCapability.TRUNCATE,
    // Streaming tail-read + sink (Spark-native extensions; the
    // reference is batch-only) — see GSheetsMicroBatchStream and
    // GSheetsStreamingWrite.
    TableCapability.MICRO_BATCH_READ,
    TableCapability.STREAMING_WRITE,
    // Write-side accepts any DataFrame schema: cells are untyped strings
    // on the wire and every value is serialized (`ToString`-equivalent,
    // reference `src/gsheets_copy.cpp:163-175`), so no schema matching.
    TableCapability.ACCEPT_ANY_SCHEMA)

  private lazy val bound: BoundSheet =
    inferred.getOrElse(GSheetsBind.doBind(options, options.newClient()))

  // Where this table's streams start polling: the snapshot's range, until
  // a stream's fallback re-resolves it (a tab renamed under its gid).
  // Every later query on the same stream DataFrame, such as a restart
  // from its checkpoint, then polls the new range directly.
  private lazy val tail = new AtomicReference[BoundSheet](bound)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    // schema0 is the user-declared read schema when one was passed via
    // .schema(...) (supportsExternalMetadata), else the inferred one —
    // the scan must produce rows in the RELATION's schema, not the
    // inferred sheet schema.
    new GSheetsScanBuilder(bound, schema0, options, tail)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GSheetsWriteBuilder(info, options)
}
