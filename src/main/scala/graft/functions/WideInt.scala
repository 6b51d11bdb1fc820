package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.api.java.{UDF1, UDF2}
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType}
import org.apache.spark.sql.functions.udf

/** Int128 / UInt128 / Int256 / UInt256 — the reference's wide-integer
  * types (`src/DataTypes/DataTypeFactory.cpp:270-293`,
  * `src/Core/Types.h` Int128/Int256 via wide::integer), which Spark has
  * no native twin for (DecimalType caps at 38 digits ≈ 127 bits).
  *
  * Spark-first design: a wide value is a FIXED-WIDTH, ORDER-PRESERVING
  * binary encoding — `[1 tag byte][width bytes big-endian]`, where signed
  * values are stored offset-binary (two's complement with the sign bit
  * flipped). Within one type, Spark's native unsigned-lexicographic
  * BinaryType comparison IS numeric order, so ORDER BY / min / max /
  * GROUP BY / joins / DISTINCT on wide columns all work through stock
  * Catalyst operators with no UDF in the comparator — only construction,
  * arithmetic and printing go through the (driver-registered, scalar)
  * UDFs below. Arithmetic follows the reference's semantics, pinned to
  * its own test goldens in `WideIntSpec`:
  *
  *  - wraparound modulo 2^width on +, -, *, negate
  *    (`tests/queries/0_stateless/01440_big_int_arithm.sql`);
  *  - type promotion: width = max(128, widths), signed if either side is
  *    signed — e.g. Int128 op UInt256 → Int256, exactly the golden's
  *    `toTypeName` column (01440_big_int_arithm.reference);
  *  - `/` returns Float64 (same golden, Float64 rows);
  *  - intDiv/modulo truncate toward zero (C semantics:
  *    intDiv(toInt128(-1), toInt8(-1)) = 1 in the golden);
  *  - bitShiftLeft/Right wrap to the width; right shift is arithmetic
  *    for signed types (01440_big_int_shift.sql);
  *  - conversions wrap C-style, reinterpreting low bits — the
  *    01440_big_int_exotic_casts golden (toUInt256(-5) = 2^256-5,
  *    toInt128 of a huge UInt256 reinterprets low 128 bits);
  *  - least/greatest compare at the promoted type
  *    (01440_big_int_least_greatest.sql).
  *
  * Function names: constructors keep the reference's names
  * (toInt128/toUInt128/toInt256/toUInt256 + OrNull/OrZero); operators get
  * `wide*` fronts (widePlus, wideMinus, wideMultiply, wideDivide,
  * wideIntDiv, wideModulo, wideNegate, wideAbs, wideBitShiftLeft,
  * wideBitShiftRight, wideLeast, wideGreatest, wideToString,
  * wideToInt64, wideToFloat64, wideTypeName) because Spark SQL function
  * names don't overload by argument type the way ClickHouse operators do.
  * 100 TB posture: every function is a pure per-row scalar; the encoding
  * is what keeps comparisons/shuffles native.
  */
object WideInt {

  final case class Kind(bits: Int, signed: Boolean, tag: Byte, name: String) {
    val bytes: Int = bits / 8
    /** Value range (inclusive). */
    val min: BigInteger =
      if (signed) BigInteger.ONE.shiftLeft(bits - 1).negate else BigInteger.ZERO
    val max: BigInteger =
      if (signed) BigInteger.ONE.shiftLeft(bits - 1).subtract(BigInteger.ONE)
      else BigInteger.ONE.shiftLeft(bits).subtract(BigInteger.ONE)
    val modulus: BigInteger = BigInteger.ONE.shiftLeft(bits)
  }

  val Int128: Kind = Kind(128, signed = true, 0x10, "Int128")
  val UInt128: Kind = Kind(128, signed = false, 0x11, "UInt128")
  val Int256: Kind = Kind(256, signed = true, 0x20, "Int256")
  val UInt256: Kind = Kind(256, signed = false, 0x21, "UInt256")

  private val kindsByTag: Map[Byte, Kind] =
    Seq(Int128, UInt128, Int256, UInt256).map(k => k.tag -> k).toMap

  /** C-style wraparound into the kind's range (reinterpret low bits). */
  def wrap(v: BigInteger, kind: Kind): BigInteger = {
    val low = v.mod(kind.modulus) // non-negative in [0, 2^bits)
    if (kind.signed && low.testBit(kind.bits - 1)) low.subtract(kind.modulus)
    else low
  }

  /** Order-preserving encode: tag byte, then width bytes big-endian.
    * Signed values are offset-binary (sign bit XOR'd) so unsigned
    * byte-wise comparison equals numeric comparison.
    */
  def encode(v: BigInteger, kind: Kind): Array[Byte] = {
    val wrapped = wrap(v, kind)
    // two's-complement low `bits` bits as an unsigned magnitude
    val asUnsigned =
      if (wrapped.signum < 0) wrapped.add(kind.modulus) else wrapped
    val mag = asUnsigned.toByteArray // big-endian, possibly short or +1 pad
    val out = new Array[Byte](1 + kind.bytes)
    out(0) = kind.tag
    val copy = math.min(mag.length, kind.bytes)
    System.arraycopy(mag, mag.length - copy, out, 1 + kind.bytes - copy, copy)
    if (kind.signed) out(1) = (out(1) ^ 0x80).toByte // offset-binary
    out
  }

  def decode(b: Array[Byte]): (BigInteger, Kind) = {
    require(b != null && b.length >= 1, "empty wide-int value")
    val kind = kindsByTag.getOrElse(b(0),
      throw new IllegalArgumentException(
        s"not a wide-int value (tag ${b(0)}, length ${b.length})"))
    require(b.length == 1 + kind.bytes,
      s"corrupt ${kind.name}: ${b.length - 1} payload bytes, want ${kind.bytes}")
    val payload = java.util.Arrays.copyOfRange(b, 1, b.length)
    if (kind.signed) payload(0) = (payload(0) ^ 0x80).toByte
    val unsigned = new BigInteger(1, payload)
    val v =
      if (kind.signed && unsigned.testBit(kind.bits - 1))
        unsigned.subtract(kind.modulus)
      else unsigned
    (v, kind)
  }

  /** Operand view: a wide value or a narrow numeric treated as signed
    * 64-bit (the reference promotes UInt64 operands to the wide signed
    * result the same way — 01440_big_int_arithm Int128+UInt64 → Int128).
    */
  def operand(x: AnyRef): (BigInteger, Option[Kind]) = x match {
    case b: Array[Byte] =>
      val (v, k) = decode(b); (v, Some(k))
    case n: java.lang.Long    => (BigInteger.valueOf(n), None)
    case n: java.lang.Integer => (BigInteger.valueOf(n.longValue), None)
    case n: java.lang.Short   => (BigInteger.valueOf(n.longValue), None)
    case n: java.lang.Byte    => (BigInteger.valueOf(n.longValue), None)
    case n: java.math.BigDecimal => (n.toBigInteger, None)
    case n: java.lang.Double  => (truncToBigInt(n), None)
    case n: java.lang.Float   => (truncToBigInt(n.doubleValue), None)
    case s: String            => (new BigInteger(s.trim), None)
    case other => throw new IllegalArgumentException(
      s"wide-int operand of unsupported type ${other.getClass.getName}")
  }

  private def truncToBigInt(d: Double): BigInteger = {
    require(!d.isNaN && !d.isInfinite, s"cannot convert $d to a wide integer")
    java.math.BigDecimal.valueOf(d).toBigInteger // truncates toward zero
  }

  /** Promotion: width = max(128, operand widths); signed if either side
    * is signed (narrow numerics count as signed). Matches every
    * toTypeName row in 01440_big_int_arithm.reference.
    */
  private def promote(a: Option[Kind], b: Option[Kind]): Kind = {
    val bits = math.max(128, math.max(a.map(_.bits).getOrElse(64),
      b.map(_.bits).getOrElse(64)))
    val signed =
      a.map(_.signed).getOrElse(true) || b.map(_.signed).getOrElse(true)
    if (bits == 128) { if (signed) Int128 else UInt128 }
    else { if (signed) Int256 else UInt256 }
  }

  private def binop(x: AnyRef, y: AnyRef)(
      f: (BigInteger, BigInteger) => BigInteger): Array[Byte] = {
    val (va, ka) = operand(x)
    val (vb, kb) = operand(y)
    val kind = promote(ka, kb)
    encode(f(va, vb), kind)
  }

  // ---- conversions ----

  def convert(x: AnyRef, kind: Kind): Array[Byte] = {
    val (v, _) = operand(x)
    encode(v, kind)
  }

  /** convert, with any unconvertible VALUE becoming null (the OrNull /
    * OrZero contract): unparsable strings (NumberFormatException),
    * NaN/Infinity doubles and malformed binaries (both
    * IllegalArgumentException, of which NumberFormatException is a
    * subclass) — matching the pre-r17 behavior and WideDecimal's fronts.
    */
  def tryConvert(x: AnyRef, kind: Kind): Array[Byte] =
    try convert(x, kind)
    catch { case _: IllegalArgumentException => null }

  // ---- registration ----

  private def u1[R](f: AnyRef => R): UDF1[AnyRef, R] =
    new UDF1[AnyRef, R] { override def call(x: AnyRef): R = f(x) }
  private def u2[R](f: (AnyRef, AnyRef) => R): UDF2[AnyRef, AnyRef, R] =
    new UDF2[AnyRef, AnyRef, R] {
      override def call(a: AnyRef, b: AnyRef): R = f(a, b)
    }

  def register(r: FunctionSurface.Registrar): Unit = {
    def nullSafe1[R >: Null](f: AnyRef => R): AnyRef => R =
      x => if (x == null) null else f(x)
    def nullSafe2[R >: Null](f: (AnyRef, AnyRef) => R): (AnyRef, AnyRef) => R =
      (a, b) => if (a == null || b == null) null else f(a, b)

    // OrNull/OrZero accept every operand shape the plain front does —
    // numerics and wide binaries route through convert (a toString of an
    // Array[Byte] is "[B@..." and would silently null out exactly the
    // values the non-Or variant accepts); only an unparsable STRING is
    // the null/zero case, matching the reference's parse-failure contract
    Seq(Int128, UInt128, Int256, UInt256).foreach { k =>
      r.udf(s"to${k.name}", udf(u1(nullSafe1(convert(_, k))), BinaryType))
      r.udf(s"to${k.name}OrNull", udf(
        u1(nullSafe1(tryConvert(_, k))), BinaryType))
      r.udf(s"to${k.name}OrZero", udf(
        u1 { x: AnyRef =>
          if (x == null) encode(BigInteger.ZERO, k)
          else Option(tryConvert(x, k)).getOrElse(encode(BigInteger.ZERO, k))
        }, BinaryType))
    }

    r.udf("widePlus", udf(u2(nullSafe2(binop(_, _)(_.add(_)))), BinaryType))
    r.udf("wideMinus", udf(
      u2(nullSafe2(binop(_, _)(_.subtract(_)))), BinaryType))
    r.udf("wideMultiply", udf(
      u2(nullSafe2(binop(_, _)(_.multiply(_)))), BinaryType))
    // `/` on wide ints is Float64 in the reference (01440 golden), so a
    // zero divisor follows IEEE double division: ±inf by the sign of the
    // dividend, NaN for 0/0 — never an exception.
    r.udf("wideDivide", udf(u2(nullSafe2 { (a, b) =>
      val va = operand(a)._1; val vb = operand(b)._1
      java.lang.Double.valueOf(
        if (vb.signum == 0) {
          if (va.signum == 0) Double.NaN
          else if (va.signum > 0) Double.PositiveInfinity
          else Double.NegativeInfinity
        } else new java.math.BigDecimal(va)
          .divide(new java.math.BigDecimal(vb), java.math.MathContext.DECIMAL64)
          .doubleValue)
    }), DoubleType))
    r.udf("wideIntDiv", udf(u2(nullSafe2(binop(_, _) { (a, b) =>
      require(b.signum != 0, "wide intDiv by zero")
      a.divide(b) // BigInteger.divide truncates toward zero, like the ref
    })), BinaryType))
    r.udf("wideModulo", udf(u2(nullSafe2(binop(_, _) { (a, b) =>
      require(b.signum != 0, "wide modulo by zero")
      a.remainder(b) // sign of the dividend — C semantics
    })), BinaryType))
    r.udf("wideNegate", udf(u1(nullSafe1 { x =>
      val (v, k0) = operand(x)
      // negate of an unsigned kind yields the signed kind of the same
      // width (the reference: -toUInt256(1) is Int256 -1).
      val k = k0.getOrElse(Int128) match {
        case UInt128 => Int128
        case UInt256 => Int256
        case s       => s
      }
      encode(v.negate, k)
    }), BinaryType))
    r.udf("wideAbs", udf(u1(nullSafe1 { x =>
      val (v, k0) = operand(x)
      encode(v.abs, k0.getOrElse(Int128))
    }), BinaryType))
    r.udf("wideBitShiftLeft", udf(u2(nullSafe2 { (a, b) =>
      val (v, k0) = operand(a)
      val k = k0.getOrElse(Int128)
      val n = operand(b)._1.intValueExact
      require(n >= 0 && n <= 1024, s"shift amount $n out of range")
      encode(v.shiftLeft(n), k)
    }), BinaryType))
    r.udf("wideBitShiftRight", udf(u2(nullSafe2 { (a, b) =>
      val (v, k0) = operand(a)
      val k = k0.getOrElse(Int128)
      val n = operand(b)._1.intValueExact
      require(n >= 0 && n <= 1024, s"shift amount $n out of range")
      // BigInteger.shiftRight is arithmetic; unsigned values are
      // non-negative here so it degenerates to a logical shift for them.
      encode(v.shiftRight(n), k)
    }), BinaryType))
    r.udf("wideLeast", udf(u2(nullSafe2 { (a, b) =>
      val (va, ka) = operand(a); val (vb, kb) = operand(b)
      encode(va.min(vb), promote(ka, kb))
    }), BinaryType))
    r.udf("wideGreatest", udf(u2(nullSafe2 { (a, b) =>
      val (va, ka) = operand(a); val (vb, kb) = operand(b)
      encode(va.max(vb), promote(ka, kb))
    }), BinaryType))
    r.udf("wideToString", udf(
      u1(nullSafe1(x => decode(x.asInstanceOf[Array[Byte]])._1.toString)),
      StringType))
    r.udf("wideTypeName", udf(
      u1(nullSafe1(x => decode(x.asInstanceOf[Array[Byte]])._2.name)),
      StringType))
    r.udf("wideToInt64", udf(u1(nullSafe1 { x =>
      val (v, _) = decode(x.asInstanceOf[Array[Byte]])
      java.lang.Long.valueOf(v.longValue) // low 64 bits, C-style wrap
    }), LongType))
    r.udf("wideToFloat64", udf(u1(nullSafe1 { x =>
      val (v, _) = decode(x.asInstanceOf[Array[Byte]])
      java.lang.Double.valueOf(v.doubleValue)
    }), DoubleType))

    // sum over a wide column — result keeps the (promoted) input kind and
    // wraps mod 2^width like every other wide op (the reference:
    // sum(Int128) is Int128). Empty/all-null group → null (Spark's sum
    // contract; the reference returns 0 — callers coalesce if they need
    // that). Wrapping eagerly per step is sound: x ↦ x mod 2^bits is a
    // ring homomorphism, so partial/merge order cannot change the result.
    r.udf("wideSum", org.apache.spark.sql.functions.udaf(WideSumAgg))
  }
}

/** Aggregator behind `wideSum` (buffer = running tagged encoding; empty
  * array = "no input yet").
  */
object WideSumAgg extends org.apache.spark.sql.expressions.Aggregator[
    Array[Byte], Array[Byte], Array[Byte]] {
  import WideInt.{decode, encode}

  override def zero: Array[Byte] = Array.emptyByteArray

  private def add(acc: Array[Byte], x: Array[Byte]): Array[Byte] =
    if (x == null || x.isEmpty) acc
    else if (acc.isEmpty) x
    else {
      val (va, ka) = decode(acc)
      val (vb, kb) = decode(x)
      val kind =
        if (ka.bits >= kb.bits && (ka.signed || !kb.signed)) ka
        else if (kb.bits >= ka.bits && (kb.signed || !ka.signed)) kb
        else if (math.max(ka.bits, kb.bits) == 128) WideInt.Int128
        else WideInt.Int256
      encode(va.add(vb), kind)
    }

  override def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] = add(b, a)
  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = add(b1, b2)
  override def finish(r: Array[Byte]): Array[Byte] =
    if (r.isEmpty) null else r
  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
  override def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
}
