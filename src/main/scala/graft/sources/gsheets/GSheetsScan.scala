package graft.sources.gsheets

import java.util.OptionalLong
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference, NullOrdering, SortDirection, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownOffset, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One resolved top-N sort key: row index in the SHEET's column order,
  * the read type it converts through, direction, and null placement.
  */
final case class GSheetsSortKey(
    colIdx: Int, dataType: DataType, ascending: Boolean, nullsFirst: Boolean)

/** Read path: bind-materialized grid → `InternalRow`s, with the
  * reference's scan-time conversion semantics
  * (`src/gsheets_read.cpp:31-84`): per-cell cast to the inferred
  * BOOLEAN/DOUBLE/VARCHAR, empty string → NULL, ragged (short) rows
  * padded with NULL.
  *
  * Spark-first deltas from the reference's single-cursor execute:
  *   - column pruning ([[SupportsPushDownRequiredColumns]]) narrows the
  *     emitted rows to the projected columns — Catalyst's `ReadSchema`
  *     then shows only what the query needs;
  *   - optional `numPartitions` splits the grid into row blocks for
  *     parallel downstream pipelines (a sheet caps at 10M cells, so a
  *     single partition is the order-preserving default).
  */
final class GSheetsScanBuilder(bound: BoundSheet, tableSchema: StructType,
    options: GSheetsOptions, tail: AtomicReference[BoundSheet])
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit with SupportsPushDownTopN
  with SupportsPushDownOffset
  with SupportsPushDownFilters with SupportsPushDownAggregates {

  // Bind errors (empty range, missing sheet) surface here with the
  // reference's message (`src/gsheets_read.cpp:190-192`).
  bound.error.foreach(msg => throw new IllegalArgumentException(msg))

  // A user-declared schema (.schema(...) on read) is validated at PLAN
  // time: every type must be cell-castable, so a bad schema fails here
  // with a clear message instead of deep in an executor task. Names that
  // don't exist in the sheet are tolerated and read as all-NULL columns
  // (same contract as the streaming tail-read path).
  tableSchema.fields.foreach { f =>
    if (!GSheetsPartitionReader.isSupportedReadType(f.dataType))
      throw new IllegalArgumentException(
        s"gsheets: unsupported read-schema type ${f.dataType.simpleString} " +
          s"for column '${f.name}' — supported: string, boolean, " +
          "double, float, long, int, short, byte, decimal, date, timestamp")
  }

  private var required: StructType = tableSchema
  private var limit: Int = -1

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Limit pushdown: `.load(url).limit(n)` truncates the bind snapshot
    * driver-side, so only the first n rows ship in task binaries.
    */
  override def pushLimit(l: Int): Boolean = { limit = l; true }

  private var offset: Int = 0

  /** Offset pushdown: `LIMIT n OFFSET m` arrives as `pushLimit(n+m)`
    * then `pushOffset(m)` (Spark folds the offset into the pushed
    * limit), so the scan selects the first n+m rows and drops the first
    * m — rows never ship in task binaries at all.
    */
  override def pushOffset(o: Int): Boolean = { offset = o; true }

  private var topN: Option[(Seq[GSheetsSortKey], Int)] = None
  private var pushed: Array[(Filter, Vector[String] => Boolean)] = Array.empty

  /** Filter pushdown: simple single-column comparisons prune snapshot
    * rows driver-side BEFORE they ship in task binaries (and before any
    * pushed top-N selects). Pruning is conservative-exact — a row is
    * dropped only when the predicate provably fails on its converted
    * cell; unconvertible cells are kept so scan-time cast errors still
    * surface — and every filter is ALSO returned as residual, so Spark
    * re-evaluates on top (same contract as parquet's pushed filters).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.flatMap(f =>
      GSheetsRowFilter.compile(f, bound, tableSchema).map(f -> _))
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed.map(_._1)

  /** The sheet column and read type a plain column reference compiles to. */
  private def sheetColumn(e: Expression): Option[(Int, DataType)] = e match {
    case nr: NamedReference if nr.fieldNames().length == 1 =>
      GSheetsScan.sheetColumn(bound, nr.fieldNames()(0), tableSchema)
    case _ => None
  }

  /** Top-N pushdown: `.load(url).orderBy(cols).limit(n)` sorts the bind
    * snapshot driver-side and ships only n rows to executors. Only
    * plain column references push (computed sort keys fall back to
    * Spark's own sort over the full scan). Spark keeps its Sort on top
    * (isPartiallyPushed), so ordering semantics are double-checked; the
    * SELECTION of the n rows is what must be exact here, and it uses
    * the same cell conversion + type comparators as the read path.
    */
  override def pushTopN(orders: Array[V2SortOrder], l: Int): Boolean = {
    val keys = orders.toSeq.map(o => sheetColumn(o.expression()).map {
      case (idx, dt) => GSheetsSortKey(idx, dt,
        o.direction() == SortDirection.ASCENDING,
        o.nullOrdering() == NullOrdering.NULLS_FIRST)
    })
    if (keys.exists(_.isEmpty)) false
    else { topN = Some((keys.flatten, l)); true }
  }

  override def isPartiallyPushed: Boolean = true

  private var pushedAgg: Option[Seq[GSheetsAggSpec]] = None

  /** Aggregate pushdown: an ungrouped COUNT(*)/COUNT(col)/MIN/MAX is
    * answered entirely from the bind snapshot — ONE row ships to ONE
    * task instead of the whole grid (a `count(*)` on a 10M-cell sheet
    * otherwise serializes every cell into task binaries just to count
    * them). Pushdown is COMPLETE (no partial re-agg: the snapshot is the
    * whole relation), using the same cell conversion and type
    * comparators as the read path, so COUNT skips exactly the cells a
    * full scan would return as NULL and MIN/MAX order exactly as Spark's
    * own aggregate would. Spark only offers aggregates when no residual
    * filters remain — this source marks every filter residual — so the
    * pushed aggregate always ranges over the full snapshot. GROUP BY,
    * DISTINCT, and other functions decline to Spark's own aggregation.
    */
  private def compileAgg(agg: Aggregation): Option[Seq[GSheetsAggSpec]] = {
    if (agg.groupByExpressions().nonEmpty) return None
    val specs = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(GSheetsAggSpec(GSheetsAggSpec.CountStar, -1, LongType))
      case f => for {
        (fn, column) <- aggColumn(f)
        (idx, dt) <- sheetColumn(column)
        if isNumericAgg(dt) || (fn != GSheetsAggSpec.SumCol && fn != GSheetsAggSpec.AvgCol)
      } yield GSheetsAggSpec(fn, idx, dt)
    }
    if (specs.exists(_.isEmpty)) None else Some(specs.flatten)
  }

  /** The tag and column of an aggregate pushed over one column. SUM and
    * AVG push only over numeric columns. The snapshot fold runs in sheet
    * row order — the same order a single-partition scan + aggregate would
    * fold in — so even floating-point sums are bit-identical to the
    * unpushed plan. Result types follow Spark's aggregates: SUM widens
    * integrals to BIGINT and fractionals to DOUBLE; AVG is DOUBLE; both
    * are NULL over zero non-null cells. DECIMAL declines (Spark's
    * precision-widening rules aren't worth mirroring here).
    */
  private def aggColumn(f: AggregateFunc): Option[(GSheetsAggSpec.Fn, Expression)] = f match {
    case c: Count if !c.isDistinct() => Some((GSheetsAggSpec.CountCol, c.column()))
    case m: Min => Some((GSheetsAggSpec.MinCol, m.column()))
    case m: Max => Some((GSheetsAggSpec.MaxCol, m.column()))
    case sm: Sum if !sm.isDistinct() => Some((GSheetsAggSpec.SumCol, sm.column()))
    case a: Avg if !a.isDistinct() => Some((GSheetsAggSpec.AvgCol, a.column()))
    case _ => None
  }

  private def isNumericAgg(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | LongType | IntegerType | ShortType |
         ByteType => true
    case _ => false
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    compileAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    val compiled = compileAgg(agg)
    pushedAgg = compiled
    compiled.isDefined
  }

  override def build(): Scan = pushedAgg match {
    case Some(specs) =>
      new GSheetsAggScan(bound, specs, pushed.toSeq.map(_._2))
    case None =>
      new GSheetsScan(bound, required, options.numPartitions, options, tail, limit,
        topN, pushed.toSeq.map(_._2), offset)
  }
}

/** One pushed aggregate: function tag, snapshot column index (-1 for
  * COUNT(*)), and the read type it converts/compares through.
  */
final case class GSheetsAggSpec(fn: GSheetsAggSpec.Fn, colIdx: Int, dataType: DataType)

object GSheetsAggSpec {
  /** The pushed aggregate function. Sealed, so every match over it is
    * checked for exhaustiveness.
    */
  sealed trait Fn
  case object CountStar extends Fn
  case object CountCol extends Fn
  case object MinCol extends Fn
  case object MaxCol extends Fn
  case object SumCol extends Fn
  case object AvgCol extends Fn

  /** SUM's result type, per Spark's `Sum.dataType` for non-decimal
    * inputs: integrals widen to BIGINT, fractionals to DOUBLE.
    */
  def sumType(in: DataType): DataType = in match {
    case DoubleType | FloatType => DoubleType
    case _ => LongType
  }
}

/** Completely-pushed ungrouped aggregate over the bind snapshot: the
  * driver folds the (filter-pruned) snapshot once and ships a single
  * one-row partition. NULL semantics match a full scan + Spark
  * aggregate exactly: empty/missing cells are NULL (skipped by COUNT
  * (col)/MIN/MAX); an unconvertible cell throws the same cast error the
  * scan itself would have thrown reading that column.
  */
final class GSheetsAggScan(bound: BoundSheet, specs: Seq[GSheetsAggSpec],
    rowFilters: Seq[Vector[String] => Boolean]) extends Scan with Batch {

  override def readSchema(): StructType = StructType(specs.map {
    case GSheetsAggSpec(GSheetsAggSpec.CountStar, _, _) =>
      StructField("count_star", LongType, nullable = false)
    case GSheetsAggSpec(GSheetsAggSpec.CountCol, i, _) =>
      StructField(s"count_col$i", LongType, nullable = false)
    case GSheetsAggSpec(GSheetsAggSpec.MinCol, i, dt) =>
      StructField(s"min_col$i", dt)
    case GSheetsAggSpec(GSheetsAggSpec.MaxCol, i, dt) =>
      StructField(s"max_col$i", dt)
    case GSheetsAggSpec(GSheetsAggSpec.SumCol, i, dt) =>
      StructField(s"sum_col$i", GSheetsAggSpec.sumType(dt))
    case GSheetsAggSpec(GSheetsAggSpec.AvgCol, i, _) =>
      StructField(s"avg_col$i", DoubleType)
  })

  private lazy val resultValues: Array[Any] = {
    val rows =
      if (rowFilters.isEmpty) bound.dataRows
      else bound.dataRows.filter(r => rowFilters.forall(p => p(r)))
    specs.map { spec =>
      spec.fn match {
        case GSheetsAggSpec.CountStar => rows.length.toLong
        case GSheetsAggSpec.CountCol =>
          var n = 0L
          rows.foreach { row =>
            if (GSheetsPartitionReader.convert(
                GSheetsScan.cell(row, spec.colIdx), spec.dataType) != null) n += 1
          }
          n
        case GSheetsAggSpec.MinCol | GSheetsAggSpec.MaxCol =>
          val cmp = graft.plans.AsOfJoinExec.typedComparator(spec.dataType)
          val wantMin = spec.fn == GSheetsAggSpec.MinCol
          var best: Any = null
          rows.foreach { row =>
            val v = GSheetsPartitionReader.convert(
              GSheetsScan.cell(row, spec.colIdx), spec.dataType)
            if (v != null &&
                (best == null || (if (wantMin) cmp(v, best) < 0 else cmp(v, best) > 0)))
              best = v
          }
          best
        case GSheetsAggSpec.SumCol | GSheetsAggSpec.AvgCol =>
          val fractional = GSheetsAggSpec.sumType(spec.dataType) == DoubleType
          var dsum = 0.0
          var lsum = 0L
          var n = 0L
          rows.foreach { row =>
            val v = GSheetsPartitionReader.convert(
              GSheetsScan.cell(row, spec.colIdx), spec.dataType)
            if (v != null) {
              n += 1
              if (fractional) dsum += v.asInstanceOf[Number].doubleValue()
              else lsum += v.asInstanceOf[Number].longValue()
            }
          }
          if (n == 0) null
          else if (spec.fn == GSheetsAggSpec.AvgCol)
            (if (fractional) dsum else lsum.toDouble) / n
          else if (fractional) dsum
          else lsum
      }
    }.toArray
  }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(GSheetsAggPartition(resultValues))

  override def createReaderFactory(): PartitionReaderFactory =
    new GSheetsReaderFactory

  override def description(): String =
    s"gsheets ${bound.spreadsheetId} ${bound.apiRange} agg=[" +
      specs.map { s =>
        val col = bound.schema.fieldNames.lift(s.colIdx).getOrElse("*")
        s.fn match {
          case GSheetsAggSpec.CountStar => "count(*)"
          case GSheetsAggSpec.CountCol => s"count($col)"
          case GSheetsAggSpec.MinCol => s"min($col)"
          case GSheetsAggSpec.MaxCol => s"max($col)"
          case GSheetsAggSpec.SumCol => s"sum($col)"
          case GSheetsAggSpec.AvgCol => s"avg($col)"
        }
      }.mkString(", ") + "]"
}

/** The single pre-aggregated row, in internal representation (UTF8String
  * / Decimal / primitives — all serializable).
  */
final case class GSheetsAggPartition(values: Array[Any]) extends InputPartition

/** Compiles v1 [[Filter]]s into predicates over raw snapshot rows.
  * Supported: Eq/Gt/Ge/Lt/Le/In/IsNull/IsNotNull on a plain column.
  * Comparison happens on the CONVERTED cell (same conversion as the
  * read path) with the same type comparators the as-of join uses; SQL
  * null semantics (a null cell fails every comparison, matches IsNull).
  */
object GSheetsRowFilter {

  /** Spark literal → the internal representation `convert` produces. */
  private def lit(value: Any, dt: DataType): Option[Any] = (value, dt) match {
    case (null, _) => None
    case (s: String, StringType) => Some(UTF8String.fromString(s))
    // Runtime (dynamic-pruning) filters can carry Catalyst-internal
    // strings; accept both representations.
    case (s: UTF8String, StringType) => Some(s)
    case (n: Number, DoubleType) => Some(n.doubleValue())
    case (n: Number, FloatType) => Some(n.floatValue())
    case (n: Number, LongType) => Some(n.longValue())
    case (n: Number, IntegerType) => Some(n.intValue())
    case (n: Number, ShortType) => Some(n.shortValue())
    case (n: Number, ByteType) => Some(n.byteValue())
    case (b: Boolean, BooleanType) => Some(b)
    case (d: java.sql.Date, DateType) => Some(d.toLocalDate.toEpochDay.toInt)
    case (d: java.time.LocalDate, DateType) => Some(d.toEpochDay.toInt)
    case (t: java.sql.Timestamp, TimestampType) =>
      Some(t.getTime * 1000L + (t.getNanos % 1000000) / 1000L)
    case (i: java.time.Instant, TimestampType) =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case (d: java.math.BigDecimal, _: DecimalType) => Some(Decimal(d))
    case (d: BigDecimal, _: DecimalType) => Some(Decimal(d))
    case _ => None
  }

  /** Row predicate (true = keep), or None when the filter cannot push:
    * another shape, no sheet column, or a literal of another type.
    * Unconvertible cells keep the row.
    */
  def compile(f: Filter, bound: BoundSheet,
      schema: StructType): Option[Vector[String] => Boolean] = {

    // The converted cell, or Sentinel when it cannot convert.
    def column(attr: String): Option[(Vector[String] => Any, DataType)] =
      GSheetsScan.sheetColumn(bound, attr, schema).map { case (idx, dt) =>
        (row => try GSheetsPartitionReader.convert(GSheetsScan.cell(row, idx), dt)
          catch { case _: IllegalArgumentException => Sentinel }, dt)
      }

    // Sentinel keeps the row; a null cell fails the comparison.
    def test(read: Vector[String] => Any)(p: Any => Boolean): Vector[String] => Boolean =
      row => read(row) match {
        case Sentinel => true
        case null => false
        case v => p(v)
      }

    def cmpPred(attr: String, value: Any)(keep: Int => Boolean) = for {
      (read, dt) <- column(attr)
      l <- lit(value, dt)
    } yield {
      val cmp = graft.plans.AsOfJoinExec.typedComparator(dt)
      test(read)(v => keep(cmp(v, l)))
    }

    f match {
      case EqualTo(a, v) => cmpPred(a, v)(_ == 0)
      case GreaterThan(a, v) => cmpPred(a, v)(_ > 0)
      case GreaterThanOrEqual(a, v) => cmpPred(a, v)(_ >= 0)
      case LessThan(a, v) => cmpPred(a, v)(_ < 0)
      case LessThanOrEqual(a, v) => cmpPred(a, v)(_ <= 0)
      case In(a, vs) => column(a).flatMap { case (read, dt) =>
        val lits = vs.toSeq.map(lit(_, dt))
        if (lits.exists(_.isEmpty)) None
        else { val set = lits.flatten.toSet; Some(test(read)(set.contains)) }
      }
      case IsNull(a) => column(a).map { case (read, _) =>
        row: Vector[String] => { val v = read(row); v == Sentinel || v == null } }
      case IsNotNull(a) => column(a).map { case (read, _) =>
        row: Vector[String] => { val v = read(row); v == Sentinel || v != null } }
      case _ => None
    }
  }

  private object Sentinel
}

final class GSheetsScan(bound: BoundSheet, required: StructType,
    numPartitions: Int, options: GSheetsOptions,
    tail: AtomicReference[BoundSheet], limit: Int = -1,
    topN: Option[(Seq[GSheetsSortKey], Int)] = None,
    rowFilters: Seq[Vector[String] => Boolean] = Nil,
    offset: Int = 0)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering {

  override def readSchema(): StructType = required

  /** Runtime (dynamic-pruning) filtering: when the sheet is the PROBE
    * side of a broadcast join, Spark re-offers the build side's join
    * keys at execution time as an `In` filter — rows that can never
    * join are dropped here, before they ship in task binaries. Applied
    * AFTER any pushed top-N/limit/offset (those fixed the selected row
    * set at planning; runtime pruning may only shrink it, never shift
    * it). Unsupported runtime filters are ignored — they are an
    * optimization, Spark re-applies the join itself. Only PROJECTED
    * columns may be advertised: the planner resolves these against the
    * scan's (pruned) output and fails analysis on anything else — and
    * as exact single-part references, NOT via `Expressions.column`,
    * which PARSES the name: a sheet header containing a dot ("rev.q1")
    * would advertise a nested field that can never resolve, failing
    * analysis for every join on that sheet.
    */
  override def filterAttributes(): Array[NamedReference] =
    required.fieldNames.map(org.apache.spark.sql.graft.Bridge.fieldReference)

  private var runtimePreds: Seq[Vector[String] => Boolean] = Nil

  // Runtime filters resolve through `required`: a runtime-pruning key
  // is always a projected column, so its read type (user-declared or
  // inferred) is what the cells convert through on the read path.
  override def filter(filters: Array[Filter]): Unit =
    runtimePreds = filters.toSeq.flatMap(GSheetsRowFilter.compile(_, bound, required))

  /** Snapshot data rows after pushed filters, top-N, limit and offset,
    * each PAIRED with its 0-based position in the bound range's data
    * rows — the position survives selection so the `_sheet_row`
    * metadata column reports the row's true grid coordinates, not its
    * post-selection index. Top-N is a full driver-side sort then
    * truncate — a sheet caps at 10M cells, so a bounded heap would save
    * nothing worth the code. Sort keys convert through the same cell
    * conversion as the read path and compare with Spark's type
    * semantics (binary UTF-8 strings, NaN greatest, explicit null
    * placement), so the selected n rows are exactly the rows Spark's
    * own Sort+Limit would keep.
    */
  private lazy val effectiveIndexedRows: Vector[(Vector[String], Int)] = {
    // Pushed filters prune first (the relation the pushed top-N/limit
    // then selects over, matching Spark's pushdown order).
    val indexed = bound.dataRows.zipWithIndex
    val filtered =
      if (rowFilters.isEmpty) indexed
      else indexed.filter(r => rowFilters.forall(p => p(r._1)))
    topN match {
    case Some((keys, n)) =>
      val cmps = keys.map(k => graft.plans.AsOfJoinExec.typedComparator(k.dataType))
      def keyed(row: Vector[String]): Array[Any] =
        keys.map(k => GSheetsPartitionReader.convert(
          GSheetsScan.cell(row, k.colIdx), k.dataType)).toArray
      val ord = new Ordering[(Array[Any], (Vector[String], Int))] {
        override def compare(a: (Array[Any], (Vector[String], Int)),
            b: (Array[Any], (Vector[String], Int))): Int = {
          var i = 0
          while (i < keys.length) {
            val k = keys(i)
            val av = a._1(i)
            val bv = b._1(i)
            val c =
              if (av == null && bv == null) 0
              else if (av == null) { if (k.nullsFirst) -1 else 1 }
              else if (bv == null) { if (k.nullsFirst) 1 else -1 }
              else { val v = cmps(i)(av, bv); if (k.ascending) v else -v }
            if (c != 0) return c
            i += 1
          }
          0
        }
      }
      // Pushed offset drops AFTER the top-N/limit selection — Spark
      // pushed limit+offset as one widened limit, so the first `offset`
      // of the selected rows are exactly the rows `OFFSET` skips.
      filtered.map(r => (keyed(r._1), r)).sorted(ord).take(n).drop(offset).map(_._2)
    case None =>
      (if (limit >= 0) filtered.take(limit) else filtered).drop(offset)
    }
  }

  private lazy val effectiveDataRows: Vector[Vector[String]] =
    effectiveIndexedRows.map(_._1)

  /** Exact relation statistics from the bind snapshot. The reference
    * registers no cardinality callback (`src/gsheets_extension.cpp:55-59`)
    * so DuckDB costs sheet scans blind; Spark-side we KNOW the grid — the
    * bind fetched every cell — so report exact `numRows` and the UTF-8
    * payload of the PRUNED columns as `sizeInBytes`. A sheet caps at 10M
    * cells, which keeps dimension sheets under the default 10 MB
    * auto-broadcast threshold: a sheet⋈fact join now plans
    * `BroadcastHashJoin` with no user hint (asserted by ExtensionsSpec).
    */
  override def estimateStatistics(): Statistics = stats

  // The sheet column feeding each required column, once per planned scan.
  private lazy val colIdx: Array[Int] = GSheetsScan.columnIndexes(bound, required)

  private lazy val stats: Statistics = {
    val rows = effectiveDataRows
    // Per-cell cost: string payload + fixed slot overhead (mirrors how
    // Spark's own estimators charge object headers); floor 1 so an empty
    // sheet never reports size 0 (which Spark treats as "unknown-cheap").
    var bytes = 0L
    rows.foreach { row =>
      colIdx.foreach { i =>
        bytes += 8L
        val cell = GSheetsScan.cell(row, i)
        if (cell != null) bytes += cell.length
      }
    }
    val rowCount = rows.length.toLong
    val size = math.max(bytes, 1L)
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(size)
      override def numRows(): OptionalLong = OptionalLong.of(rowCount)
    }
  }

  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GSheetsMicroBatchStream(tail, options, required)

  override def planInputPartitions(): Array[InputPartition] = {
    val baseRow = GSheetsScan.firstDataRow(bound)

    // Project to required columns here (driver-side, once) so
    // executors only ever see the pruned cells of the bind snapshot —
    // after pushed top-N / limit, so task binaries don't carry rows the
    // query can never emit. Runtime (dynamic-pruning) predicates apply
    // last: they may only SHRINK the planned row set. The `_sheet_row`
    // metadata cell is synthesized from the row's ORIGINAL grid
    // position (carried through the selection) as a numeric string —
    // the reader's LongType conversion parses it like any other cell.
    val rows =
      if (runtimePreds.isEmpty) effectiveIndexedRows
      else effectiveIndexedRows.filter(r => runtimePreds.forall(p => p(r._1)))
    val projected: Array[Array[String]] = rows.map { case (row, idx) =>
      GSheetsScan.project(row, colIdx, baseRow + idx)
    }.toArray

    val n = math.max(1, math.min(numPartitions, math.max(projected.length, 1)))
    val chunk = math.max(1, (projected.length + n - 1) / n)
    projected.grouped(chunk)
      .map(block => GSheetsInputPartition(block, required.fields.map(_.dataType)))
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GSheetsReaderFactory

  override def description(): String =
    s"gsheets ${bound.spreadsheetId} ${bound.apiRange}" +
      (if (limit >= 0) s" limit=$limit" else "") +
      (if (offset > 0) s" offset=$offset" else "") +
      topN.map { case (ks, n) =>
        s" topN=$n(${ks.map(k => bound.schema.fieldNames.lift(k.colIdx)
          .getOrElse("?") + (if (k.ascending) " ASC" else " DESC")).mkString(", ")})"
      }.getOrElse("")
}

object GSheetsScan {

  /** Name of the row-provenance metadata column. */
  val SheetRowCol = "_sheet_row"

  /** [[columnIndex]] of the `_sheet_row` metadata column. */
  val SheetRow = -2

  /** [[columnIndex]] of a column no sheet column feeds: it reads as NULL
    * (possible only with a user-declared schema).
    */
  val Absent = -1

  /** The sheet column that feeds the relation column `name`, for every
    * scan, pushdown and stream: the first case-insensitive match in the
    * bound schema (Spark's default resolution, so a header `Name`
    * satisfies `.schema("name STRING")`; inferred names never tie, see
    * [[GSheetsBind.dedupe]]); else [[SheetRow]] for `_sheet_row`, which a
    * real sheet column of that name shadows; else [[Absent]].
    */
  def columnIndex(bound: BoundSheet, name: String): Int = {
    val i = bound.schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
    if (i >= 0) i else if (name.equalsIgnoreCase(SheetRowCol)) SheetRow else Absent
  }

  def columnIndexes(bound: BoundSheet, schema: StructType): Array[Int] =
    schema.fieldNames.map(columnIndex(bound, _))

  /** The sheet column and read type a pushdown compiles the relation
    * column `name` to: the declared type when `schema` has the column,
    * else the inferred one. None when no sheet column feeds it.
    */
  def sheetColumn(bound: BoundSheet, name: String,
      schema: StructType): Option[(Int, DataType)] = {
    val i = columnIndex(bound, name)
    if (i < 0) None
    else Some((i, schema.find(_.name.equalsIgnoreCase(name))
      .getOrElse(bound.schema(i)).dataType))
  }

  /** Cell `i` of a sheet row; null for [[Absent]] or past a short row. */
  def cell(row: Vector[String], i: Int): String =
    if (i >= 0 && i < row.size) row(i) else null

  /** A partition row's cells from a sheet row, one per `colIdx` entry;
    * `_sheet_row` is `sheetRow`, the row's 1-based grid row, as text.
    */
  def project(row: Vector[String], colIdx: Array[Int], sheetRow: Long): Array[String] =
    colIdx.map(i => if (i == SheetRow) sheetRow.toString else cell(row, i))

  /** 1-based grid row of the FIRST data row of a bound selection: the
    * range's starting row (bare sheet = 1; explicit A1 = its first
    * cell's row digits, absent digits = 1) plus the header row if one
    * is consumed. `_sheet_row` for data row i is this + i.
    */
  def firstDataRow(bound: BoundSheet): Long = {
    val a1 = bound.apiRange
    val start =
      if (!a1.contains("!")) 1L
      else {
        val firstCell = a1.substring(a1.indexOf('!') + 1).split(":")(0)
        val digits = firstCell.dropWhile(!_.isDigit).takeWhile(_.isDigit)
        if (digits.isEmpty) 1L else digits.toLong
      }
    start + (if (bound.header) 1L else 0L)
  }
}

/** Rows are carried in the partition (driver fetched them once at bind,
  * exactly like the reference's `ReadSheetBindData`; bounded by the
  * Sheets 10M-cell product cap — SURVEY §7.3 scale note), each built by
  * [[GSheetsScan.project]] with one cell per type.
  */
final case class GSheetsInputPartition(
    rows: Array[Array[String]],
    types: Array[DataType]) extends InputPartition

final class GSheetsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: GSheetsAggPartition =>
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val r = !emitted; emitted = true; r }
          override def get(): InternalRow = new GenericInternalRow(p.values)
          override def close(): Unit = ()
        }
      case p: GSheetsInputPartition =>
        new GSheetsPartitionReader(p.rows, p.types)
    }
}

final class GSheetsPartitionReader(rows: Array[Array[String]],
    types: Array[DataType]) extends PartitionReader[InternalRow] {

  private var i = -1

  override def next(): Boolean = { i += 1; i < rows.length }

  override def get(): InternalRow = {
    val row = rows(i)
    val out = new Array[Any](types.length)
    var c = 0
    while (c < types.length) {
      out(c) = GSheetsPartitionReader.convert(row(c), types(c))
      c += 1
    }
    new GenericInternalRow(out)
  }

  override def close(): Unit = ()
}

object GSheetsPartitionReader {

  /** Types a user-declared read schema may use. Inference only ever
    * produces STRING/BOOLEAN/DOUBLE (the reference's three — SURVEY
    * §3.1); the wider set exists for `.schema(...)` callers reading
    * typed sheets (e.g. the 21-type round-trip the write path emits).
    */
  def isSupportedReadType(tpe: DataType): Boolean = tpe match {
    case StringType | BooleanType | DoubleType | FloatType | LongType |
         IntegerType | ShortType | ByteType | DateType | TimestampType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Cell conversion parity with `src/gsheets_read.cpp:49-75`: empty or
    * missing → NULL; else cast to the target type, throwing on
    * uncastable cells (DuckDB `DefaultCastAs` semantics).
    */
  def convert(cell: String, tpe: DataType): Any = {
    if (cell == null || cell.isEmpty) return null
    tpe match {
      case StringType => UTF8String.fromString(cell)
      // DuckDB `TryCast` string→BOOLEAN accepts exactly true/false and
      // t/f (case-insensitive) and 1/0 — NOT yes/no/y/n, and no
      // surrounding whitespace (verified against DuckDB 1.0; pinned by
      // ReadEndToEndSpec).
      case BooleanType => cell.toLowerCase match {
        case "true" | "t" | "1"  => true
        case "false" | "f" | "0" => false
        case _ => throw new IllegalArgumentException(
          s"Could not convert string '$cell' to BOOLEAN")
      }
      case DoubleType => parseDoubleCell(cell)
      case FloatType  => parseDoubleCell(cell).toFloat
      case LongType    => parseIntegral(cell, Long.MinValue, Long.MaxValue, "BIGINT")
      case IntegerType => parseIntegral(cell, Int.MinValue, Int.MaxValue, "INTEGER").toInt
      case ShortType   => parseIntegral(cell, Short.MinValue, Short.MaxValue, "SMALLINT").toShort
      case ByteType    => parseIntegral(cell, Byte.MinValue, Byte.MaxValue, "TINYINT").toByte
      case dt: DecimalType =>
        val d = try Decimal(new java.math.BigDecimal(cell.trim))
          catch { case _: NumberFormatException => throw new IllegalArgumentException(
            s"Could not convert string '$cell' to DECIMAL(${dt.precision},${dt.scale})") }
        if (!d.changePrecision(dt.precision, dt.scale))
          throw new IllegalArgumentException(
            s"Value '$cell' does not fit DECIMAL(${dt.precision},${dt.scale})")
        d
      case DateType =>
        try java.time.LocalDate.parse(cell.trim).toEpochDay.toInt
        catch { case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"Could not convert string '$cell' to DATE") }
      case TimestampType =>
        // ISO date / 'date time' / 'dateTtime', optional fraction; stored
        // as UTC micros (sheets carry no zone — same convention the write
        // path uses when serializing timestamps).
        val t = cell.trim.replace(' ', 'T')
        try {
          val ldt =
            if (t.contains("T")) java.time.LocalDateTime.parse(t)
            else java.time.LocalDate.parse(t).atStartOfDay()
          val ins = ldt.toInstant(java.time.ZoneOffset.UTC)
          ins.getEpochSecond * 1000000L + ins.getNano / 1000L
        } catch { case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"Could not convert string '$cell' to TIMESTAMP") }
      case other => throw new IllegalArgumentException(
        s"Unexpected gsheets column type $other")
    }
  }

  private def parseIntegral(cell: String, lo: Long, hi: Long, label: String): Long = {
    val v = try cell.trim.toLong
      catch { case _: NumberFormatException => throw new IllegalArgumentException(
        s"Could not convert string '$cell' to $label") }
    if (v < lo || v > hi) throw new IllegalArgumentException(
      s"Value '$cell' out of range for $label")
    v
  }

  private def parseDoubleCell(cell: String): Double = {
    val t = cell.trim
    val unsigned = t.stripPrefix("+").stripPrefix("-")
    val sign = if (t.startsWith("-")) -1.0 else 1.0
    unsigned.toLowerCase match {
      case "inf" | "infinity" => sign * Double.PositiveInfinity
      case "nan"              => Double.NaN
      case _ =>
        try t.toDouble
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"Could not convert string '$cell' to DOUBLE")
        }
    }
  }
}
