package graft.gedcom

import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.udf

/** GEDCOM date grammar parser — the reference's own TODO ("Convert dates to
  * more useful format", README.md:55); SURVEY M3.
  *
  * Grammar handled:
  *   [qualifier] [day] [month] year        e.g. "ABT 12 JAN 1900", "1900"
  *   BET a AND b / FROM a TO b             ranges (second date captured)
  * Qualifiers: ABT EST CAL BEF AFT FROM TO INT BET.
  * Unparseable strings yield a null date with qualifier "RAW".
  */
object GedcomDates {

  final case class GedDate(
      qualifier: String,      // EXACT/ABT/EST/CAL/BEF/AFT/FROM/TO/BET/INT/RAW
      year: Option[Int],
      month: Option[Int],
      day: Option[Int],
      year2: Option[Int],     // range end (BET..AND / FROM..TO)
      month2: Option[Int],
      day2: Option[Int])

  private val Months = Seq("JAN", "FEB", "MAR", "APR", "MAY", "JUN",
    "JUL", "AUG", "SEP", "OCT", "NOV", "DEC").zipWithIndex.map { case (m, i) => m -> (i + 1) }.toMap

  private val Simple = """(?:(\d{1,2})\s+)?(?:([A-Za-z]{3,4})\s+)?(\d{3,4})(?:/\d{1,4})?""".r
  private val Qualified = """(ABT|EST|CAL|BEF|AFT|FROM|TO|INT)\.?\s+(.*)""".r
  private val Between = """(?:BET|BETWEEN)\.?\s+(.*?)\s+AND\s+(.*)""".r
  private val FromTo = """FROM\s+(.*?)\s+TO\s+(.*)""".r
  private val Phrase = """(.*?)\s*\(.*\)""".r // "INT 1900 (guessed from census)"

  private def part(s: String): Option[(Option[Int], Option[Int], Option[Int])] =
    s.trim.toUpperCase match {
      case Simple(day, mon, year) =>
        val m = Option(mon).flatMap(x => Months.get(x.take(3)))
        if (mon != null && m.isEmpty) None
        else Some((Some(year.toInt), m, Option(day).map(_.toInt)))
      case _ => None
    }

  def parse(raw: String): GedDate = {
    val s = Option(raw).getOrElse("").trim.toUpperCase
    def made(q: String, a: Option[(Option[Int], Option[Int], Option[Int])],
             b: Option[(Option[Int], Option[Int], Option[Int])] = None): GedDate =
      GedDate(q,
        a.flatMap(_._1), a.flatMap(_._2), a.flatMap(_._3),
        b.flatMap(_._1), b.flatMap(_._2), b.flatMap(_._3))
    // trailing date phrases ("(guessed from census)") are descriptive only
    val cleaned = s match {
      case Phrase(core) if core.nonEmpty => core
      case other => other
    }
    cleaned match {
      case "" => made("RAW", None)
      case Between(a, b) if part(a).isDefined && part(b).isDefined =>
        made("BET", part(a), part(b))
      case FromTo(a, b) if part(a).isDefined && part(b).isDefined =>
        made("FROM", part(a), part(b))
      case Qualified(q, rest) if part(rest).isDefined => made(q, part(rest))
      case other if part(other).isDefined => made("EXACT", part(other))
      case _ => made("RAW", None)
    }
  }

  /** Best-effort java.sql.Date (missing month/day floor to 1);
    * calendar-invalid combinations like "31 FEB 1900" yield None rather
    * than throwing. */
  def toDate(d: GedDate): Option[Date] = toLocalDate(d).map(Date.valueOf)

  /** [[toDate]] as a proleptic-Gregorian `LocalDate` — what a `DateType`
    * value holds (its epoch day), with no `java.sql.Date` calendar hop. */
  def toLocalDate(d: GedDate): Option[LocalDate] =
    d.year.flatMap { y =>
      try Some(LocalDate.of(y, d.month.getOrElse(1), d.day.getOrElse(1)))
      catch { case _: java.time.DateTimeException => None }
    }

  private val parseUdf = udf { s: String =>
    val d = parse(s)
    (d.qualifier, d.year, d.month, d.day, d.year2, d.month2, d.day2)
  }

  /** Flattened property keys that carry the GEDCOM date grammar: the DATE
    * tag maps to "Date" (Dictionaries), so composite keys end in " Date"
    * ("Birth Date", "Marriage Date", EVEN's "undefined Date"). */
  def isDateKey(k: String): Boolean = k == "Date" || k.endsWith(" Date")

  /** Best-effort `DateType` column from a raw GEDCOM date string column
    * (missing month/day floor to 1; calendar-invalid combos and RAW
    * strings go null). The typed-date mode of [[GedcomGraph.nodesWide]] /
    * [[CsvSink.write]] — the reference's own TODO (README.md:55 "Convert
    * dates to more useful format") realized as a column beside the raw
    * string, never replacing it. */
  def typedDateCol(raw: Column): Column = {
    import org.apache.spark.sql.functions._
    val g = parseUdf(raw)
    when(g.getField("_2").isNotNull,
      try_to_date(format_string("%04d-%02d-%02d",
        g.getField("_2"), coalesce(g.getField("_3"), lit(1)),
        coalesce(g.getField("_4"), lit(1)))))
  }

  /** Qualifier column (EXACT/ABT/EST/CAL/BEF/AFT/FROM/TO/BET/INT/RAW) for
    * a raw GEDCOM date string column; null where the raw value is null
    * (records without that date keep an all-null typed pair). */
  def qualifierCol(raw: Column): Column = {
    import org.apache.spark.sql.functions._
    when(raw.isNotNull, parseUdf(raw).getField("_1"))
  }

  /** Adds `<out>_qualifier` / `<out>_date` / `<out>_year2` columns parsed
    * from a raw GEDCOM date column (`year2` = the range end of BET..AND /
    * FROM..TO dates, null otherwise). (A udf is acceptable here: date
    * parsing is off the hot path and the grammar is too irregular for a
    * regexp cascade to stay readable.) */
  def withParsedDate(df: DataFrame, dateCol: Column, out: String): DataFrame = {
    import org.apache.spark.sql.functions._
    df.withColumn("_g", parseUdf(dateCol))
      .withColumn(s"${out}_qualifier", col("_g._1"))
      .withColumn(s"${out}_date",
        when(col("_g._2").isNotNull,
          // try_to_date: calendar-invalid day/month combos (e.g. 31 FEB)
          // must become null, not an ANSI runtime error
          try_to_date(format_string("%04d-%02d-%02d",
            col("_g._2"), coalesce(col("_g._3"), lit(1)), coalesce(col("_g._4"), lit(1))))))
      .withColumn(s"${out}_year2", col("_g._5"))
      .drop("_g")
  }
}
