package graft.sources.gsheets

import org.apache.spark.sql.types._

import graft.sources.gsheets.core._

/** Parsed DSV2 options (string map → typed), covering the reference's
  * `read_gsheet` named params (`src/gsheets_read.cpp:114-158`) and COPY
  * options (`src/gsheets_copy.cpp:37-48`) plus connector plumbing
  * (auth, transport, baseUrl, numPartitions).
  */
final case class GSheetsOptions(raw: Map[String, String]) {
  private val lower = raw.map { case (k, v) => k.toLowerCase -> v }
  private def get(keys: String*): Option[String] =
    keys.iterator.flatMap(k => lower.get(k)).nextOption()

  private def boolOpt(name: String, keys: String*): Option[Boolean] =
    get(keys: _*).map { v =>
      v.toLowerCase match {
        case "true"  => true
        case "false" => false
        case _ => throw new IllegalArgumentException(
          s"Invalid value for '$name' parameter. Expected a boolean value.")
      }
    }

  def url: String = get("path", "url").getOrElse(
    throw new IllegalArgumentException(
      "gsheets: missing path — spark.read.format(\"gsheets\").load(<url or id>)"))

  def header: Boolean = boolOpt("header", "header").getOrElse(true)
  def allVarchar: Boolean =
    boolOpt("all_varchar", "all_varchar", "allvarchar").getOrElse(false)
  def sheet: String = get("sheet").getOrElse("")
  def range: String = get("range").getOrElse("")
  def numPartitions: Int =
    get("numpartitions", "num_partitions").fold(1) { v =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"gsheets: numPartitions must be a positive integer, got $v"))
    }

  /** Streaming admission control: cap rows emitted per micro-batch
    * (`ReadLimit.maxRows`). Unset = drain all available each trigger.
    */
  def maxRowsPerTrigger: Option[Long] =
    get("maxrowspertrigger", "max_rows_per_trigger").map { v =>
      val n = v.toLong
      if (n <= 0) throw new IllegalArgumentException(
        s"gsheets: max_rows_per_trigger must be positive, got $n")
      n
    }

  // write-side (COPY) options; None = unset (defaults depend on SaveMode)
  def overwriteSheet: Option[Boolean] =
    boolOpt("overwrite_sheet", "overwrite_sheet", "overwritesheet")
  def overwriteRange: Option[Boolean] =
    boolOpt("overwrite_range", "overwrite_range", "overwriterange")
  def createIfNotExists: Boolean = boolOpt("create_if_not_exists",
    "create_if_not_exists", "createifnotexists").getOrElse(false)
  def headerOpt: Option[Boolean] = boolOpt("header", "header")

  def baseUrl: String =
    get("baseurl", "base_url").getOrElse(GoogleSheetsClient.DefaultBaseUrl)
  def transport: Option[String] = get("transport")

  def proxy: Option[ProxyConfig] = get("httpproxy", "http_proxy").map { h =>
    ProxyConfig.parse(h,
      get("httpproxyusername", "http_proxy_username").getOrElse(""),
      get("httpproxypassword", "http_proxy_password").getOrElse(""))
  }

  def newHttp(): SheetsHttp = TransportRegistry.resolve(transport, proxy)
  def newClient(): GoogleSheetsClient = {
    val http = newHttp()
    new GoogleSheetsClient(http, AuthFactory.fromOptions(raw, http), baseUrl)
  }
}

/** Result of the bind step (the analog of the reference's
  * `ReadSheetBindData`, `src/include/gsheets_read.hpp:10-21`): resolved
  * identifiers, the eagerly fetched grid, and the inferred schema.
  *
  * `error` carries a deferred bind failure (empty range, sheet not
  * found) so explicit-schema reads and edge paths can still plan; reads
  * surface the error at scan build with the reference's exact message.
  * (Writes never bind: Spark's V2 write path passes the DataFrame schema
  * straight to `getTable` since `supportsExternalMetadata` is true.)
  */
final case class BoundSheet(
    spreadsheetId: String,
    sheetName: String,
    apiRange: String,
    header: Boolean,
    allVarchar: Boolean,
    schema: StructType,
    values: Vector[Vector[String]],
    error: Option[String]) {

  /** Data rows (header row skipped when `header=true`). */
  def dataRows: Vector[Vector[String]] = if (header) values.drop(1) else values
}

object GSheetsBind {

  /** Port of `ReadSheetBind` (`src/gsheets_read.cpp:86-241`), minus a
    * round trip for a tab addressed by name: the reference checks a
    * `sheet` name with a metadata GET before it reads the values, but
    * the values GET names the tab itself, and the API echoes the tab's
    * title in the response's `range`. So a named read is one values GET,
    * accepted only when that title equals the requested name exactly. A
    * failed GET, or another title (a case mismatch, or a name like `B2`
    * that the API reads as a cell of the first tab), runs [[lookupBind]],
    * the reference's path, so a missing sheet, an empty range and an API
    * error read as they always did. A gid or first-sheet read has no
    * title to ask for without the metadata GET, so it keeps it.
    */
  private[gsheets] def doBind(options: GSheetsOptions,
      client: GoogleSheetsClient): BoundSheet = {
    val direct =
      if (options.sheet.isEmpty) None
      else {
        val sheet = resolve(options, client, checkName = false)
        tryValues(client, sheet)
          .filter(valueRange => namesTab(valueRange.range, sheet.sheetName))
          .map(withGrid(sheet, _))
      }
    direct.getOrElse(lookupBind(options, client))
  }

  /** One values GET of `sheet`'s range, or None when the API answers 400,
    * its reply to a range that names no tab. Any other failure, such as a
    * 429 quota error, surfaces from this call instead of spending more.
    */
  private[gsheets] def tryValues(client: GoogleSheetsClient,
      sheet: BoundSheet): Option[ValueRange] =
    try Some(client.valuesGet(sheet.spreadsheetId, A1Range(sheet.apiRange)))
    catch { case e: SheetsApiException if e.statusCode == 400 => None }

  /** Whether a response `range` (`<title>!<cells>`) has the title `name`.
    * The API quotes a title that needs it, doubling its `'`s (`'Bob''s'`);
    * [[A1Range.splitSheetParam]] would stop at the first of those.
    */
  private def namesTab(range: String, name: String): Boolean =
    Seq(name, "'" + name.replace("'", "''") + "'")
      .exists(title => range == title || range.startsWith(title + "!"))

  /** The reference's bind: a metadata GET resolves (or, for a `sheet`
    * name, checks) the tab, then a values GET of its range. A stream's
    * failed poll falls back to this directly, as its values GET of the
    * range has just failed.
    */
  private[gsheets] def lookupBind(options: GSheetsOptions,
      client: GoogleSheetsClient): BoundSheet = {
    val sheet = resolve(options, client, checkName = true)
    if (sheet.error.isDefined) sheet
    else withGrid(sheet, client.valuesGet(sheet.spreadsheetId, A1Range(sheet.apiRange)))
  }

  /** The tab and range to read, values not fetched. A gid or first-sheet
    * read looks the title up with a metadata GET; a `sheet` name is
    * checked with one only when `checkName`.
    */
  private def resolve(options: GSheetsOptions, client: GoogleSheetsClient,
      checkName: Boolean): BoundSheet = {
    val url = options.url
    // Validate params before any network round-trip, like the reference's
    // named-parameter loop (`:114-158`) which throws on bad booleans.
    val header = options.header
    val allVarchar = options.allVarchar
    val spreadsheetId = Urls.extractSpreadsheetId(url)
    var sheetRange = Urls.extractSheetRange(url)
    var sheetName = ""
    var deferredError: Option[String] = None

    if (options.sheet.nonEmpty) {
      // `sheet` may embed A1 notation after the (possibly quoted) name
      // (`src/gsheets_read.cpp:127-150`).
      val (name, embedded) = A1Range.splitSheetParam(options.sheet)
      sheetName = name
      if (embedded.nonEmpty) sheetRange = embedded
      // Validate for better error messaging, like the reference; missing
      // sheet is deferred (write path + create_if_not_exists needs it).
      if (checkName)
        try client.getSheetByName(spreadsheetId, sheetName)
        catch {
          case e: SheetNotFoundException => deferredError = Some(e.getMessage)
        }
    } else {
      val gid = Urls.extractSheetId(url)
      if (gid.isEmpty) {
        sheetName = client.getSheetByIndex(spreadsheetId, 0).properties.title
      } else {
        sheetName = client.getSheetById(spreadsheetId, gid).properties.title
      }
    }

    // Explicit `range` option wins over URL/sheet-embedded ranges.
    if (options.range.nonEmpty) sheetRange = options.range

    val apiRange = {
      val enc = Urls.urlEncode(A1Range.rangeTitle(sheetName))
      if (sheetRange.nonEmpty) s"$enc!$sheetRange" else enc
    }

    BoundSheet(spreadsheetId, sheetName, apiRange, header,
      allVarchar, StructType(Nil), Vector.empty, deferredError)
  }

  /** `sheet` with the grid a values GET returned, and its schema. */
  private[gsheets] def withGrid(sheet: BoundSheet, valueRange: ValueRange): BoundSheet =
    if (valueRange.values.isEmpty)
      // Reference bind error (`src/gsheets_read.cpp:190-192`), deferred to
      // scan build so an overwrite of an empty sheet still plans.
      sheet.copy(schema = StructType(Nil), values = Vector.empty,
        error = Some(s"Range ${valueRange.range} is empty"))
    else
      sheet.copy(schema = inferSchema(valueRange.values, sheet.header,
        sheet.allVarchar), values = valueRange.values, error = None)

  /** First-data-row type sniffing, port of
    * `src/gsheets_read.cpp:196-238`:
    *   - width = max(first-data-row, header row) when `header=true`;
    *   - names from header cells, `columnN` (1-based) fallback, made
    *     unique by [[dedupe]];
    *   - `TRUE`/`FALSE` (exact) → BOOLEAN; stod-parseable → DOUBLE;
    *     blank-in-first-row / `allVarchar` / anything else → VARCHAR.
    */
  def inferSchema(values: Vector[Vector[String]], header: Boolean,
      allVarchar: Boolean): StructType = {
    require(values.nonEmpty, "inferSchema requires at least one row")
    val startIndex = if (header) 1 else 0
    val firstDataRow =
      if (startIndex >= values.size) Vector.empty[String] else values(startIndex)
    val headerRow = if (header) values(0) else Vector.empty[String]
    val width = math.max(firstDataRow.size, headerRow.size)

    val names = dedupe((0 until width).map { i =>
      if (header && i < headerRow.size) headerRow(i) else s"column${i + 1}"
    })
    val fields = names.zipWithIndex.map { case (name, i) =>
      val tpe: DataType =
        if (i >= firstDataRow.size || allVarchar) StringType
        else {
          val v = firstDataRow(i)
          if (v == "TRUE" || v == "FALSE") BooleanType
          else if (isValidNumber(v)) DoubleType
          else StringType
        }
      StructField(name, tpe, nullable = true)
    }
    StructType(fields)
  }

  /** Column names made unique case-insensitively, as DuckDB names the
    * columns of a subquery, a VALUES alias or `read_csv`: a name already
    * taken gets `_k`, k counting up from its previous suffix until the
    * name is free (`x, X, x` → `x, X_1, x_2`; `a, a, a_1` → `a, a_1,
    * a_1_1`). So no two relation columns name one sheet column.
    */
  private[gsheets] def dedupe(names: Seq[String]): Seq[String] = {
    val taken = scala.collection.mutable.Map.empty[String, Int]
    names.map { name =>
      val low = name.toLowerCase(java.util.Locale.ROOT)
      taken.get(low) match {
        case None => taken(low) = 1; name
        case Some(from) =>
          val k = Iterator.from(from)
            .find(k => !taken.contains(s"${low}_$k")).get
          taken(low) = k
          taken(s"${low}_$k") = 1
          s"${name}_$k"
      }
    }
  }

  /** `IsValidNumber` (`src/gsheets_read.cpp:14-29`): true iff C++
    * `std::stod` consumes the whole string — decimal/scientific forms,
    * `inf`/`infinity`/`nan` (any case, optional sign), leading (not
    * trailing) whitespace, and hex floats.
    */
  private val NumberRe =
    """^[\s]*[+-]?(((\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?)|(0[xX][0-9a-fA-F]+(\.[0-9a-fA-F]*)?([pP][+-]?\d+)?)|((?i)inf(inity)?|nan))$""".r

  def isValidNumber(value: String): Boolean =
    value.nonEmpty && NumberRe.matches(value)
}
