package graft.sources.gsheets.core

/** A1-notation range value class with the reference's validator semantics.
  *
  * Reimplements the 10-state FSM of reference `src/sheets/range.cpp:6-156`
  * as a tail-recursive state machine: quoted sheet names with `''`
  * escapes, `$` absolute column/row markers, at most one `!`, at most one
  * `:`. Accepting terminal states are COL (`A:A`, bare sheet name), ROW
  * (`A1`, `Sheet1!A1:B2`, bare `1:5`), and a closed quoted sheet name
  * (`'My Sheet'`).
  */
final case class A1Range(range: String) extends AnyVal {
  def isValid: Boolean = A1Range.validate(range)
  def isEmpty: Boolean = range.isEmpty
  override def toString: String = range
}

object A1Range {

  private sealed trait State
  private case object Start extends State
  private case object QuotedName extends State
  private case object QuotedNameClosed extends State
  private case object AfterBang extends State
  private case object ColAbs extends State
  private case object Col extends State
  private case object RowAbs extends State
  private case object Row extends State
  private case object AfterColon extends State

  private def isAsciiAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isAsciiDigit(c: Char): Boolean = c >= '0' && c <= '9'

  def validate(range: String): Boolean = {
    if (range.isEmpty) return false

    var state: State = Start
    var seenBang = false
    var seenColon = false
    var i = 0
    val n = range.length

    // null marks a reject; mapped to `return false` by the caller below
    def startCell(c: Char): State =
      if (c == '$') ColAbs
      else if (isAsciiAlpha(c)) Col
      else if (isAsciiDigit(c)) Row
      else null

    while (i < n) {
      val c = range.charAt(i)
      val next: State = state match {
        case Start =>
          if (c == '\'') QuotedName else startCell(c)
        case QuotedName =>
          if (c == '\'') {
            if (i + 1 < n && range.charAt(i + 1) == '\'') { i += 1; QuotedName }
            else QuotedNameClosed
          } else QuotedName
        case QuotedNameClosed =>
          if (c == '!' && !seenBang) { seenBang = true; AfterBang } else null
        case AfterBang =>
          startCell(c)
        case ColAbs =>
          if (isAsciiAlpha(c)) Col else null
        case Col =>
          if (isAsciiAlpha(c)) Col
          else if (c == '$') RowAbs
          else if (isAsciiDigit(c)) Row
          else if (c == '!' && !seenBang) { seenBang = true; AfterBang }
          else if (c == ':' && !seenColon) { seenColon = true; AfterColon }
          else null
        case RowAbs =>
          if (isAsciiDigit(c)) Row else null
        case Row =>
          if (isAsciiDigit(c)) Row
          else if (c == ':' && !seenColon) { seenColon = true; AfterColon }
          else if (c == '!' && !seenBang) { seenBang = true; AfterBang }
          else null
        case AfterColon =>
          startCell(c)
      }
      if (next == null) return false
      state = next
      i += 1
    }

    state == Col || state == Row || state == QuotedNameClosed
  }

  /** A tab title as a range names it: quoted (`'B2'`) when the title reads
    * as a cell reference, column letters then row digits, which the API
    * would otherwise take as that cell of the first tab. A column has at
    * most three letters (the last is ZZZ), so `Sheet1` is no cell. Such a
    * title holds no `'` to double. Every other title is left as it is.
    */
  def rangeTitle(title: String): String =
    if (CellTitle.matches(title)) s"'$title'" else title

  private val CellTitle = "[A-Za-z]{1,3}[0-9]+".r

  /** Splits a `sheet` parameter that may embed A1 notation, per reference
    * `src/gsheets_read.cpp:127-150`:
    *   - `'Name!'!A2:B7` → (`Name!`, `A2:B7`)  (quoted name may hold `!`)
    *   - `'My Sheet'`    → (`My Sheet`, "")
    *   - `Sheet1!A2:B7`  → (`Sheet1`, `A2:B7`) (split at first `!`)
    *   - `Sheet1`        → (`Sheet1`, "")
    */
  def splitSheetParam(param: String): (String, String) = {
    if (param.nonEmpty && param.charAt(0) == '\'') {
      val closing = param.indexOf('\'', 1)
      if (closing >= 0) {
        val range =
          if (closing + 1 < param.length && param.charAt(closing + 1) == '!')
            param.substring(closing + 2)
          else ""
        (param.substring(1, closing), range)
      } else (param, "")
    } else {
      val bang = param.indexOf('!')
      if (bang >= 0) (param.substring(0, bang), param.substring(bang + 1))
      else (param, "")
    }
  }
}
