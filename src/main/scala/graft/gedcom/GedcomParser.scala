package graft.gedcom

/** One parsed GEDCOM line. `lineNo` orders the lines of a file. */
final case class GedLine(
    lineNo: Long,
    level: Int,
    xref: Option[String],
    tag: String,
    value: String)

/** GEDCOM line parser (reference capability R2-R4, SURVEY §2.1; the
  * reference delegates tokenizing to the external `gedcom-stream` package
  * — index.js:5,70,77).
  *
  * Grammar per line: `LEVEL [@XREF@] TAG [VALUE]`. Which record a line
  * belongs to is decided by its position, not here: each split of the text
  * groups its lines at every level-0 line, and the driver stitches the
  * records that cross split boundaries ([[GedcomGraph.containedRecords]]).
  */
object GedcomParser {

  private val LineRe = """^\s*(\d+)\s+(?:@([^@]+)@\s+)?(\S+)(?:\s(.*))?$""".r

  /** Reference grammar as a regex — kept as the spec; `parseLine` is the
    * equivalent hand-rolled scanner (~6x faster on the hot path; the two
    * are property-tested identical in GedcomParserProps). */
  def parseLineRegex(raw: String, lineNo: Long): Option[GedLine] = raw match {
    case LineRe(level, xref, tag, value) =>
      Some(GedLine(lineNo, level.toInt, Option(xref), tag,
        Option(value).getOrElse("")))
    case _ => None
  }

  // \s of java.util.regex, minus \n (lines are already split)
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\f' || c == '\r' || c == '\u000B'

  /** Parse a single raw line; None for unparseable/blank lines. */
  def parseLine(raw: String, lineNo: Long): Option[GedLine] = {
    val n = raw.length
    var i = 0
    while (i < n && isWs(raw.charAt(i))) i += 1
    // level: \d+ then mandatory \s+ (digit cap: the regex form would
    // throw converting absurd levels; such lines are simply not GEDCOM)
    val ls = i
    var level = 0
    while (i < n && raw.charAt(i) >= '0' && raw.charAt(i) <= '9') {
      level = level * 10 + (raw.charAt(i) - '0'); i += 1
    }
    if (i == ls || i - ls > 9 || i >= n || !isWs(raw.charAt(i))) return None
    while (i < n && isWs(raw.charAt(i))) i += 1
    if (i >= n) return None
    // optional @xref@ followed by \s+ AND a following tag — otherwise the
    // whole token is the tag, as the regex's backtracking would decide
    var xref: String = null
    if (raw.charAt(i) == '@') {
      val close = raw.indexOf('@', i + 1)
      if (close > i + 1 && close + 1 < n && isWs(raw.charAt(close + 1))) {
        var k = close + 1
        while (k < n && isWs(raw.charAt(k))) k += 1
        if (k < n) { xref = raw.substring(i + 1, close); i = k }
      }
    }
    // tag: \S+
    val ts = i
    while (i < n && !isWs(raw.charAt(i))) i += 1
    if (i == ts) return None
    val tag = raw.substring(ts, i)
    // value: exactly one whitespace then the rest verbatim
    val value = if (i < n) raw.substring(i + 1) else ""
    Some(GedLine(lineNo, level, Option(xref), tag, value))
  }
}
