package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fronts for the reference's declared types that Spark lacks natively
  * (registered at `/root/reference/src/DataTypes/DataTypeFactory.cpp:
  * 270-293`):
  *
  *  - **Enum** → dictionary-checked string: out-of-dictionary values are
  *    rejected at ingest (the reference rejects such INSERTs), with a
  *    code lookup for compact storage/compare;
  *  - **UUID** → canonical lowercase string + 16-byte coding functions;
  *  - **IPv4** → UInt32 carried as BIGINT (tranche-6 coding functions);
  *  - **IPv6** → 16-byte binary with strict parse (no DNS fallback) and
  *    RFC 5952 canonical text form.
  *
  * Documented deviations (IMPLEMENTATION.md §types): Decimal256 is out
  * of scope — Spark's DecimalType caps at 38 digits. (U)Int128/
  * (U)Int256 live in [[WideInt]] (order-preserving binary encoding,
  * 01440-golden-pinned). LowCardinality needs no surface (Parquet
  * dictionary encoding).
  */
object TypeFronts {

  val UuidRe: String =
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"

  /** Enum ingest constraint: the value must be NULL or in the declared
    * dictionary, else the row errors (reference Enum insert behavior).
    */
  def enumCheck(c: Column, dictionary: Seq[String]): Column =
    when(c.isNull || c.isin(dictionary.map(lit(_)): _*), c)
      .otherwise(raise_error(concat(lit("value not in Enum dictionary: "), c)))

  /** Enum('a' = 1, ...) code lookup — NULL for out-of-dictionary (pair
    * with [[enumCheck]] when ingest must reject instead).
    */
  def enumCode(c: Column, dictionary: Seq[(String, Int)]): Column =
    dictionary.foldLeft(lit(null).cast("int")) { case (acc, (name, code)) =>
      when(c === name, lit(code)).otherwise(acc)
    }

  /** Inverse of [[enumCode]]. */
  def enumName(c: Column, dictionary: Seq[(String, Int)]): Column =
    dictionary.foldLeft(lit(null).cast("string")) { case (acc, (name, code)) =>
      when(c === code, lit(name)).otherwise(acc)
    }

  /** UUID ingest constraint: canonical (lowercase) form or error. */
  def uuidCheck(c: Column): Column =
    when(c.isNull || c.rlike(UuidRe), lower(c))
      .otherwise(raise_error(concat(lit("invalid UUID: "), c)))

  // ---------- IPv6 natives (strict textual parse — never a DNS lookup,
  // unlike java.net.InetAddress.getByName on a non-literal) ----------

  /** Parse an IPv6 literal (optionally with an embedded dotted-quad
    * tail) to its 16 bytes; IllegalArgumentException on anything else.
    */
  private[graft] def ipv6Parse(s0: String): Array[Byte] = {
    def fail(): Nothing =
      throw new IllegalArgumentException(s"invalid IPv6 '$s0'")
    if (s0 == null || s0.isEmpty) fail()
    var s = s0
    // embedded IPv4 tail → two trailing hex groups
    if (s.contains('.')) {
      val lastColon = s.lastIndexOf(':')
      if (lastColon < 0) fail()
      val parts = s.substring(lastColon + 1).split("\\.", -1)
      if (parts.length != 4) fail()
      val nums = parts.map { p =>
        if (p.isEmpty || p.length > 3 || !p.forall(_.isDigit)) fail()
        val n = p.toInt
        if (n > 255) fail()
        n
      }
      s = s.substring(0, lastColon + 1) +
        f"${nums(0) * 256 + nums(1)}%x:${nums(2) * 256 + nums(3)}%x"
    }
    val dc = s.sliding(2).count(_ == "::")
    if (dc > 1) fail()
    def groups(part: String): Array[Int] =
      if (part.isEmpty) Array.empty
      else part.split(":", -1).map { g =>
        if (g.isEmpty || g.length > 4 ||
            !g.forall(ch => Character.digit(ch, 16) >= 0)) fail()
        Integer.parseInt(g, 16)
      }
    val all: Array[Int] = s.indexOf("::") match {
      case -1 =>
        val gs = groups(s)
        if (gs.length != 8) fail()
        gs
      case i =>
        val head = groups(s.substring(0, i))
        val tail = groups(s.substring(i + 2))
        val missing = 8 - head.length - tail.length
        if (missing < 1) fail()
        head ++ Array.fill(missing)(0) ++ tail
    }
    val out = new Array[Byte](16)
    var j = 0
    while (j < 8) {
      out(2 * j) = (all(j) >> 8).toByte
      out(2 * j + 1) = (all(j) & 0xff).toByte
      j += 1
    }
    out
  }

  /** RFC 5952 canonical text: lowercase hex, longest (leftmost) run of
    * two-or-more zero groups compressed to `::`.
    */
  private[graft] def ipv6Format(b: Array[Byte]): String = {
    require(b != null && b.length == 16, "IPv6 binary must be 16 bytes")
    val gs = Array.tabulate(8)(i => ((b(2 * i) & 0xff) << 8) | (b(2 * i + 1) & 0xff))
    // find the longest run of zeros (>= 2), leftmost on ties
    var bestStart = -1; var bestLen = 0
    var i = 0
    while (i < 8) {
      if (gs(i) == 0) {
        var j = i
        while (j < 8 && gs(j) == 0) j += 1
        if (j - i > bestLen) { bestStart = i; bestLen = j - i }
        i = j
      } else i += 1
    }
    if (bestLen < 2) gs.map(Integer.toHexString).mkString(":")
    else {
      val head = gs.take(bestStart).map(Integer.toHexString).mkString(":")
      val tail = gs.drop(bestStart + bestLen).map(Integer.toHexString).mkString(":")
      head + "::" + tail
    }
  }

  private[graft] def toIPv6OrNull(s: String): String =
    if (s == null) null
    else try ipv6Format(ipv6Parse(s)) catch { case _: IllegalArgumentException => null }

  /** Native registrations for the IPv6 front (the UUID/IPv4 fronts are
    * SQL lambdas in [[ClickHouseCompat.definitions]]).
    */
  def register(r: FunctionSurface.Registrar): Unit = {
    r.udf("toIPv6", udf((s: String) =>
      if (s == null) null else ipv6Format(ipv6Parse(s))))
    r.udf("toIPv6OrNull", udf((s: String) => toIPv6OrNull(s)))
    r.udf("IPv6StringToNum", udf((s: String) =>
      if (s == null) null else ipv6Parse(s)))
    r.udf("IPv6NumToString", udf((b: Array[Byte]) =>
      if (b == null) null else ipv6Format(b)))
    // cutIPv6 (src/Functions/FunctionsCoding.h): zero the trailing
    // bytesToCutForIPv6 bytes — or, for an IPv4-mapped address
    // (::ffff:a.b.c.d), the trailing bytesToCutForIPv4 bytes.
    r.udf("cutIPv6", udf((b: Array[Byte], cutV6: Int, cutV4: Int) =>
      if (b == null || b.length != 16) null
      else {
        val mapped = (0 until 10).forall(b(_) == 0) &&
          (b(10) & 0xff) == 0xff && (b(11) & 0xff) == 0xff
        val cut = math.max(0, math.min(16, if (mapped) cutV4 else cutV6))
        val out = b.clone()
        var i = 16 - cut
        while (i < 16) { out(i) = 0; i += 1 }
        ipv6Format(out)
      }))
    // IPv6CIDRToRange (FunctionIPv6CIDRToRange): lower/upper bound of the
    // prefix as formatted addresses.
    r.udf("IPv6CIDRToRange", udf((b: Array[Byte], prefix: Int) =>
      if (b == null || b.length != 16) null
      else {
        val p = math.max(0, math.min(128, prefix))
        val lo = b.clone(); val hi = b.clone()
        var i = 0
        while (i < 16) {
          val bits = math.max(0, math.min(8, p - 8 * i))
          val mask = (0xff << (8 - bits)) & 0xff
          lo(i) = (lo(i) & mask).toByte
          hi(i) = ((hi(i) & mask) | (~mask & 0xff)).toByte
          i += 1
        }
        (ipv6Format(lo), ipv6Format(hi))
      }))
  }
}
