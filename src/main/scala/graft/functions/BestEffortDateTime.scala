package graft.functions

import org.apache.spark.sql.functions.udf

/** Behavior port of the reference's best-effort datetime scanner
  * (`src/IO/parseDateTimeBestEffort.cpp`): digit-group driven — 13
  * digits = unix millis, 10/9 = unix seconds, 14 = YYYYMMDDhhmmss, 8 =
  * YYYYMMDD, 6 = YYYYMM or hhmmss, 4 = year then delimiter-repeated
  * month/day, 1-2 = hh:mm[:ss] / DD·MM·YYYY (or MM·DD for the US
  * variant, with the >12 swap) / bare day; alphabetical month names,
  * AM/PM, weekday names skipped (RFC 2822), Z/UTC/GMT/MSK/MSD and
  * ±hh[:mm] zone offsets applied toward UTC, fractional seconds after
  * '.'. Missing fields default to 2000-01-01; the final date is
  * validated (including leap years) exactly like the reference.
  */
object BestEffortDateTime {

  private object Fail extends RuntimeException { override def fillInStackTrace(): Throwable = this }

  private val monthsAbbrev = Seq("jan", "feb", "mar", "apr", "may", "jun",
    "jul", "aug", "sep", "oct", "nov", "dec")
  private val weekdays = Set("mon", "tue", "wed", "thu", "fri", "sat", "sun")

  /** Epoch micros (UTC) or None when unparseable. */
  def parseMicros(input: String, usStyle: Boolean,
      keepFraction: Boolean = true): Option[Long] = {
    if (input == null) return None
    try {
      val us = run(input.trim, usStyle)
      Some(if (keepFraction) us else Math.floorDiv(us, 1000000L) * 1000000L)
    } catch { case Fail => None; case _: Exception => None }
  }

  private def run(s: String, us: Boolean): Long = {
    var pos = 0
    val n = s.length
    def eof = pos >= n
    def peek = s.charAt(pos)
    def fail(): Nothing = throw Fail
    def readDigits(max: Int = 19): String = {
      val start = pos
      while (!eof && pos - start < max && peek.isDigit) pos += 1
      s.substring(start, pos)
    }
    def readAlpha(max: Int): String = {
      val start = pos
      while (!eof && pos - start < max && peek.isLetter) pos += 1
      s.substring(start, pos)
    }
    def checkChar(c: Char): Boolean =
      if (!eof && peek == c) { pos += 1; true } else false

    var year = 0; var month = 0; var day = 0
    var hour = 0; var minute = 0; var second = 0
    var hasTime = false
    var hasTz = false; var tzNeg = false; var tzH = 0; var tzM = 0
    var isAm = false; var isPm = false
    var hasComma = false
    var fracMicros = 0L
    var breakLoop = false

    def alphaMonth(a: String): Boolean = {
      val i = monthsAbbrev.indexOf(a.toLowerCase.take(3))
      if (i >= 0) { month = i + 1; true } else false
    }

    while (!eof && !breakLoop) {
      var continueLoop = false
      if ((year != 0 && !hasTime) || (year == 0 && hasTime)) {
        if (peek == ',') { hasComma = true; pos += 1 }
      }
      if (eof) breakLoop = true
      else {
        var numDigits = 0
        var digits = ""
        if (year == 0 || !hasTime) {
          digits = readDigits(); numDigits = digits.length
          if (numDigits == 13 && year == 0 && !hasTime) {
            // unix timestamp with milliseconds (whole input must be consumed
            // — the reference's conversion wrapper rejects trailing bytes)
            if (!eof) fail()
            return digits.take(10).toLong * 1000000L + digits.substring(10, 13).toLong * 1000L
          } else if ((numDigits == 10 || numDigits == 9) && year == 0 && !hasTime) {
            if (!eof) fail()
            return digits.toLong * 1000000L // unix timestamp
          } else if (numDigits == 14 && year == 0 && !hasTime) {
            year = digits.substring(0, 4).toInt
            month = digits.substring(4, 6).toInt
            day = digits.substring(6, 8).toInt
            hour = digits.substring(8, 10).toInt
            minute = digits.substring(10, 12).toInt
            second = digits.substring(12, 14).toInt
            hasTime = true
          } else if (numDigits == 8 && year == 0) {
            year = digits.substring(0, 4).toInt
            month = digits.substring(4, 6).toInt
            day = digits.substring(6, 8).toInt
          } else if (numDigits == 6) {
            if (year == 0 && month == 0) {
              year = digits.substring(0, 4).toInt
              month = digits.substring(4, 6).toInt
            } else if (!hasTime) {
              hour = digits.substring(0, 2).toInt
              minute = digits.substring(2, 4).toInt
              second = digits.substring(4, 6).toInt
              hasTime = true
            } else fail()
          } else if (numDigits == 4 && year == 0) {
            year = digits.toInt
            if (!eof) {
              val delim = peek
              if (delim < 0x20 || delim == ',' || delim == ';' ||
                  delim == '\'' || delim == '"') breakLoop = true
              else if (month != 0) continueLoop = true
              else {
                pos += 1
                digits = readDigits(); numDigits = digits.length
                if (numDigits == 2 || numDigits == 1) month = digits.toInt
                else if (delim == ' ') continueLoop = true
                else fail()
                if (!continueLoop && day == 0 && checkChar(delim)) {
                  digits = readDigits(); numDigits = digits.length
                  if (numDigits == 2 || numDigits == 1) day = digits.toInt
                  else if (delim == ' ') continueLoop = true
                  else fail()
                }
              }
            }
          } else if (numDigits == 2 || numDigits == 1) {
            val v = digits.toInt
            if (checkChar(':')) {
              if (hasTime) fail()
              hour = v; hasTime = true
              digits = readDigits(); numDigits = digits.length
              if (numDigits == 2 || numDigits == 1) minute = digits.toInt else fail()
              if (checkChar(':')) {
                digits = readDigits(); numDigits = digits.length
                if (numDigits == 2 || numDigits == 1) second = digits.toInt else fail()
              }
            } else if (checkChar(',')) {
              if (month != 0 && day == 0) day = v
            } else if (checkChar('/') || checkChar('.') || checkChar('-')) {
              val delim = s.charAt(pos - 1)
              if (day != 0) fail()
              if (month != 0) fail()
              if (us) {
                month = v
                digits = readDigits(); numDigits = digits.length
                if (numDigits == 2 || numDigits == 1) day = digits.toInt else fail()
              } else {
                day = v
                digits = readDigits(); numDigits = digits.length
                if (numDigits == 2 || numDigits == 1) month = digits.toInt
                else if (numDigits == 0) {
                  val alpha = readAlpha(9)
                  if (alpha.length < 3) fail()
                  if (!alphaMonth(alpha)) fail()
                } else fail()
              }
              if (month > 12) { val t = month; month = day; day = t }
              if (checkChar('/') || checkChar('.') || checkChar('-')) {
                if (year != 0) fail()
                digits = readDigits(); numDigits = digits.length
                if (numDigits == 4) year = digits.toInt
                else if (numDigits == 2) {
                  year = digits.toInt
                  year = if (year >= 70) year + 1900 else year + 2000
                } else fail()
              }
              // silence the unused warning for the recorded delimiter
              locally(delim)
            } else {
              if (day != 0) hour = v else day = v
            }
          } else if (numDigits != 0) fail()
        }
        if (!breakLoop && !continueLoop && numDigits == 0) {
          if (eof) breakLoop = true
          else {
            val c = peek
            if (c == ' ' || (c == 'T' && year != 0 && !hasTime)) pos += 1
            else if (c == 'Z') { pos += 1; hasTz = true }
            else if (c == '.') {
              if (!hasTime) fail()
              pos += 1
              digits = readDigits()
              val d6 = digits.take(6).padTo(6, '0')
              fracMicros = if (d6.isEmpty) 0L else d6.toLong
            } else if (c == '+' || c == '-') {
              pos += 1
              digits = readDigits(); numDigits = digits.length
              if (numDigits == 6 && !hasTime && year != 0 && month != 0 && day != 0) {
                hour = digits.substring(0, 2).toInt
                minute = digits.substring(2, 4).toInt
                second = digits.substring(4, 6).toInt
                hasTime = true
              } else {
                hasTz = true
                if (c == '-') tzNeg = true
                // the reference's readDecimalNumber ADDS into the existing
                // field, so stacked zones accumulate (e.g. 'MSK+0100' = +4)
                if (numDigits == 4) {
                  tzH += digits.substring(0, 2).toInt
                  tzM += digits.substring(2, 4).toInt
                } else if (numDigits == 3) {
                  tzH += digits.substring(0, 1).toInt
                  tzM += digits.substring(1, 3).toInt
                } else if (numDigits == 2 || numDigits == 1) tzH += digits.toInt
                else fail()
                if (numDigits < 3 && checkChar(':')) {
                  digits = readDigits(); numDigits = digits.length
                  if (numDigits == 2 || numDigits == 1) tzM += digits.toInt else fail()
                }
              }
            } else {
              val alpha = readAlpha(3)
              if (alpha.isEmpty) breakLoop = true
              else if (alpha.length == 1) fail()
              else if (alpha.length == 2) {
                if (alpha(1) == 'M' || alpha(1) == 'm') {
                  if (alpha(0) == 'A' || alpha(0) == 'a') isAm = true
                  else if (alpha(0) == 'P' || alpha(0) == 'p') isPm = true
                  else fail()
                } else fail()
              } else {
                val lower = alpha.toLowerCase
                var hasDayOfWeek = false
                if (alphaMonth(alpha)) {}
                else if (lower == "utc" || lower == "gmt") hasTz = true
                else if (lower == "msk") { hasTz = true; tzH = 3 } // assigns
                else if (lower == "msd") { hasTz = true; tzH = 4 } // (digit zones accumulate)
                else if (weekdays.contains(lower)) hasDayOfWeek = true
                else fail()
                while (!eof && peek.isLetter) pos += 1
                if (hasDayOfWeek) checkChar(',')
              }
            }
          }
        }
      }
    }

    if (!eof) fail() // conversion wrapper requires full consumption
    if (hasComma && (!hasTime || year == 0 || month == 0 || day == 0)) fail()
    if (year == 0 && month == 0 && day == 0 && !hasTime) fail()
    if (year == 0) year = 2000
    if (month == 0) month = 1
    if (day == 0) day = 1
    val isLeap = (year % 400 == 0) || (year % 100 != 0 && year % 4 == 0)
    val maxDay = month match {
      case 1 | 3 | 5 | 7 | 8 | 10 | 12 => 31
      case 2 => if (isLeap) 29 else 28
      case 4 | 6 | 9 | 11 => 30
      case _ => fail()
    }
    if (day < 1 || day > maxDay) fail()
    if (hour > 23 || minute > 59 || second > 59) fail()
    if (isAm && hour == 12) hour = 0
    if (isPm && hour < 12) hour += 12
    var epochSec = java.time.LocalDateTime
      .of(year, month, day, hour, minute, second)
      .toEpochSecond(java.time.ZoneOffset.UTC)
    if (hasTz) {
      val off = tzH * 3600L + tzM * 60L
      epochSec = if (tzNeg) epochSec + off else epochSec - off
    }
    epochSec * 1000000L + fracMicros
  }

  def parseTs(input: String, usStyle: Boolean): java.sql.Timestamp =
    parseMicros(input, usStyle) match {
      case Some(us) =>
        val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
        ts
      case None =>
        throw new IllegalArgumentException(s"Cannot parse DateTime from '$input'")
    }

  def parseTsOrNull(input: String, usStyle: Boolean): java.sql.Timestamp =
    parseMicros(input, usStyle) match {
      case Some(us) =>
        val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
        ts
      case None => null
    }

  def register(r: FunctionSurface.Registrar): Unit = {
    // 32/64 forms share the scanner; DateTime64 keeps the fractional part
    for (base <- Seq("parseDateTimeBestEffort", "parseDateTime32BestEffort",
        "parseDateTime64BestEffort")) {
      r.udf(base, udf((s: String) => parseTs(s, usStyle = false)))
      r.udf(s"${base}OrNull", udf((s: String) => parseTsOrNull(s, usStyle = false)))
      r.udf(s"${base}OrZero", udf((s: String) => {
        val r = parseTsOrNull(s, usStyle = false)
        if (r == null) new java.sql.Timestamp(0L) else r
      }))
    }
    for (base <- Seq("parseDateTimeBestEffortUS", "parseDateTime64BestEffortUS")) {
      r.udf(base, udf((s: String) => parseTs(s, usStyle = true)))
      r.udf(s"${base}OrNull", udf((s: String) => parseTsOrNull(s, usStyle = true)))
      r.udf(s"${base}OrZero", udf((s: String) => {
        val r = parseTsOrNull(s, usStyle = true)
        if (r == null) new java.sql.Timestamp(0L) else r
      }))
    }
  }
}
