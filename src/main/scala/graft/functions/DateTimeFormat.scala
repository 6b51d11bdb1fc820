package graft.functions

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatterBuilder
import java.time.temporal.{ChronoField, WeekFields}

import org.apache.spark.sql.functions.udf

/** MySQL-style `%`-spec date/time formatting and parsing — the reference's
  * `formatDateTime(t, format)` / `parseDateTime(s, format)` pair
  * (`/root/reference/src/Functions/formatDateTime.cpp:1005-1380`,
  * `parseDateTime.cpp`). The spec table below mirrors the 23.3 switch
  * exactly, including the %M=minute pinning (later ClickHouse releases
  * changed %M to month-name; the reference is 23.3) and the four
  * NOT_IMPLEMENTED week specs (%U %v %x %X).
  *
  * Deviation: %f prints 6 fractional digits — Spark's TimestampType is
  * micros, i.e. the DateTime64(6) column type; the reference prints
  * `scale` digits per column type (0 digits → "0" for DateTime).
  */
object DateTimeFormat {

  private val shortDow = Array("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
  private val longDow =
    Array("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")
  private val shortMon = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  private def p2(n: Int): String = f"$n%02d"

  /** Render one timestamp through a mysql-%-spec format string (UTC). */
  def formatCH(ts: java.sql.Timestamp, fmt: String): String = {
    if (ts == null || fmt == null) return null
    val dt = LocalDateTime.ofInstant(ts.toInstant, ZoneOffset.UTC)
    val iso = WeekFields.ISO
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c != '%') { sb.append(c); i += 1 }
      else {
        if (i + 1 >= fmt.length)
          throw new IllegalArgumentException(
            "formatDateTime: '%' must not be the last character in the format string")
        val h12 = { val h = dt.getHour % 12; if (h == 0) 12 else h }
        fmt.charAt(i + 1) match {
          case 'a' => sb.append(shortDow(dt.getDayOfWeek.getValue - 1))
          case 'b' => sb.append(shortMon(dt.getMonthValue - 1))
          case 'c' => sb.append(p2(dt.getMonthValue))
          case 'C' => sb.append(p2(dt.getYear / 100))
          case 'd' => sb.append(p2(dt.getDayOfMonth))
          case 'D' => sb.append(p2(dt.getMonthValue)).append('/')
            .append(p2(dt.getDayOfMonth)).append('/').append(p2(dt.getYear % 100))
          case 'e' => sb.append(f"${dt.getDayOfMonth}% 2d")
          case 'f' => sb.append(f"${dt.getNano / 1000}%06d")
          case 'F' => sb.append(f"${dt.getYear}%04d-${dt.getMonthValue}%02d-${dt.getDayOfMonth}%02d")
          case 'g' => sb.append(p2(dt.get(iso.weekBasedYear()) % 100))
          case 'G' => sb.append(f"${dt.get(iso.weekBasedYear())}%04d")
          case 'h' => sb.append(p2(h12))
          case 'H' => sb.append(p2(dt.getHour))
          case 'i' => sb.append(p2(dt.getMinute))
          case 'I' => sb.append(p2(h12))
          case 'j' => sb.append(f"${dt.getDayOfYear}%03d")
          case 'k' => sb.append(p2(dt.getHour))
          case 'l' => sb.append(p2(h12))
          case 'm' => sb.append(p2(dt.getMonthValue))
          case 'M' => sb.append(p2(dt.getMinute)) // 23.3: minute, not month name
          case 'n' => sb.append('\n')
          case 'p' => sb.append(if (dt.getHour < 12) "AM" else "PM")
          case 'Q' => sb.append((dt.getMonthValue + 2) / 3)
          case 'r' => sb.append(p2(h12)).append(':').append(p2(dt.getMinute))
            .append(' ').append(if (dt.getHour < 12) "AM" else "PM")
          case 'R' => sb.append(p2(dt.getHour)).append(':').append(p2(dt.getMinute))
          case 's' => sb.append(p2(dt.getSecond))
          case 'S' => sb.append(p2(dt.getSecond))
          case 't' => sb.append('\t')
          case 'T' => sb.append(p2(dt.getHour)).append(':')
            .append(p2(dt.getMinute)).append(':').append(p2(dt.getSecond))
          case 'u' => sb.append(dt.getDayOfWeek.getValue)
          case 'V' => sb.append(p2(dt.get(iso.weekOfWeekBasedYear())))
          case 'w' => sb.append(dt.getDayOfWeek.getValue % 7)
          case 'W' => sb.append(longDow(dt.getDayOfWeek.getValue - 1))
          case 'y' => sb.append(p2(dt.getYear % 100))
          case 'Y' => sb.append(f"${dt.getYear}%04d")
          case 'z' => sb.append("+0000") // session timezone is UTC
          case '%' => sb.append('%')
          case bad @ ('U' | 'v' | 'x' | 'X') =>
            throw new IllegalArgumentException(
              s"formatDateTime: %$bad is not supported (WEEK/YEAR-for-week forms)")
          case bad =>
            throw new IllegalArgumentException(
              s"formatDateTime: symbol '%$bad' is not supported")
        }
        i += 2
      }
    }
    sb.toString
  }

  /** Translate a mysql-%-spec into a java.time pattern for parsing. */
  private def toJavaPattern(fmt: String): String = {
    val sb = new StringBuilder
    def lit(s: String): Unit =
      if (s.nonEmpty) sb.append('\'').append(s.replace("'", "''")).append('\'')
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c != '%') { lit(c.toString); i += 1 }
      else {
        if (i + 1 >= fmt.length)
          throw new IllegalArgumentException(
            "parseDateTime: '%' must not be the last character in the format string")
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("uuuu")
          case 'y' => sb.append("uu")
          case 'm' | 'c' => sb.append("MM")
          case 'd' => sb.append("dd")
          case 'e' => sb.append("d")
          case 'H' | 'k' => sb.append("HH")
          case 'h' | 'I' | 'l' => sb.append("hh")
          case 'i' | 'M' => sb.append("mm") // 23.3: %M is minute
          case 's' | 'S' => sb.append("ss")
          case 'f' => sb.append("SSSSSS")
          case 'p' => sb.append("a")
          case 'j' => sb.append("DDD")
          case 'a' => sb.append("EEE")
          case 'b' => sb.append("MMM")
          case 'W' => sb.append("EEEE")
          case 'F' => sb.append("uuuu-MM-dd")
          case 'D' => sb.append("MM/dd/uu")
          case 'T' => sb.append("HH:mm:ss")
          case 'R' => sb.append("HH:mm")
          case 'Q' => sb.append("Q")
          case '%' => lit("%")
          case 'n' => lit("\n")
          case 't' => lit("\t")
          case bad =>
            throw new IllegalArgumentException(
              s"parseDateTime: symbol '%$bad' is not supported for parsing")
        }
        i += 2
      }
    }
    sb.toString
  }

  /** Parse with missing-component defaults (1970-01-01 00:00:00), like
    * the reference's two-pass fill of unset DateParts. */
  def parseCH(s: String, fmt: String): java.sql.Timestamp = {
    if (s == null || fmt == null) return null
    val b = new DateTimeFormatterBuilder().appendPattern(toJavaPattern(fmt))
    val f = b
      .parseDefaulting(ChronoField.YEAR, 1970)
      .parseDefaulting(ChronoField.MONTH_OF_YEAR, 1)
      .parseDefaulting(ChronoField.DAY_OF_MONTH, 1)
      .parseDefaulting(ChronoField.HOUR_OF_DAY, 0)
      .parseDefaulting(ChronoField.MINUTE_OF_HOUR, 0)
      .parseDefaulting(ChronoField.SECOND_OF_MINUTE, 0)
      .toFormatter(java.util.Locale.US)
    val dt = LocalDateTime.parse(s, f)
    java.sql.Timestamp.from(dt.toInstant(ZoneOffset.UTC))
  }

  def parseCHOrNull(s: String, fmt: String): java.sql.Timestamp =
    try parseCH(s, fmt) catch { case _: Exception => null }

  def parseCHOrZero(s: String, fmt: String): java.sql.Timestamp =
    try {
      val r = parseCH(s, fmt)
      if (r == null) java.sql.Timestamp.from(Instant.EPOCH) else r
    } catch { case _: Exception => java.sql.Timestamp.from(Instant.EPOCH) }

  def register(r: FunctionSurface.Registrar): Unit = {
    r.udf("formatDateTime", udf(
      (t: java.sql.Timestamp, f: String) => formatCH(t, f)))
    r.udf("parseDateTime", udf(
      (s: String, f: String) => parseCH(s, f)))
    r.udf("parseDateTimeOrNull", udf(
      (s: String, f: String) => parseCHOrNull(s, f)))
    r.udf("parseDateTimeOrZero", udf(
      (s: String, f: String) => parseCHOrZero(s, f)))
    // parseDateTimeInJodaSyntax / formatDateTimeInJodaSyntax stay SQL
    // macros in ClickHouseCompat (Joda patterns ≈ java.time's grammar).
  }
}
