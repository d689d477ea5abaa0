package graft

import graft.qcew.Layout

/** Synthesizes QCEW fixed-width raw lines per FIXTURES.md §1:
  * one record = one 1060-char latin-1 line, fields space-padded to
  * their exact (position, length) slots.
  */
object QcewFixtures {

  private val layout: Map[String, (Int, Int)] =
    Layout.fields.map { case (n, p, l) => n -> (p, l) }.toMap

  /** Build one record line from a (field -> value) map; unspecified
    * fields are blank. Values are left-aligned and space-padded/truncated
    * to the field width.
    */
  def line(values: Map[String, String]): String = {
    val buf = Array.fill(Layout.recordWidth)(' ')
    values.foreach { case (name, v) =>
      val (pos, len) = layout(name)
      val s = v.take(len)
      s.copyToArray(buf, pos - 1)
    }
    new String(buf)
  }

  /** A plausible establishment record. */
  def record(year: Int, qtr: Int, naics: String, m1: String, m2: String,
             m3: String, wages: String, name: String = "ACME CORP"): String =
    line(Map(
      "trans_code" -> "A",
      "state_fips" -> "72",
      "year" -> year.toString,
      "qtr" -> qtr.toString,
      "leg_corp_name" -> name,
      "naics_code" -> naics,
      "first_month_employment" -> m1,
      "second_month_employment" -> m2,
      "third_month_employment" -> m3,
      "total_wages" -> wages,
      "taxable_wages" -> wages,
      "latitude" -> "18.22083",
      "longitude" -> "-66.59015"
    ))

  /** Dirty raw lines, each a case the decoder must slice like a
    * per-field `String.substring`: high latin-1 bytes before and after
    * position 850, a CRLF line, a short line ending mid `naics_code`, an
    * overlong line, and blank lines (spaces only, tab only, CR only).
    */
  val dirtyLines: Seq[String] = {
    val base = record(2023, 2, "722511", "3", "4", "5", "777", name = "PANADERÍA LA ÑAPA")
    Seq(
      base.updated(849, 'Ñ').updated(919, 'é').updated(1059, 'ÿ'),
      base + "\r",
      base.take(595),
      base + "EXTRA TAIL ß",
      " " * Layout.recordWidth,
      "\t",
      "\r")
  }

  /** A line a raw read drops: every char at or below a space. */
  def blank(line: String): Boolean = line.forall(_ <= ' ')
}
