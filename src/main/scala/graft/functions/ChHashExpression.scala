package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Variadic, value-exact ClickHouse hash functions as a Catalyst
  * expression (`src/Functions/FunctionsHashing.h:113-166`):
  *
  *  - single argument: hash of that argument;
  *  - multiple arguments: left-fold with the function's OWN combinator
  *    (`combineHashes`), e.g. cityHash64 combines with Hash128to64 while
  *    murmurHash2_64 combines with `IntHash64Impl(h1) ^ h2`;
  *  - integers hash their little-endian binary of the DECLARED width
  *    (cast to TINYINT/SMALLINT to reproduce the reference's
  *    UInt8/UInt16 literals), except cityHash64/farmFingerprint64 which
  *    use the reference's `use_int_hash_for_pods` path
  *    (`IntHash64Impl` on the widened value — width-independent);
  *  - floats hash their raw IEEE-754 bytes;
  *  - any NULL argument makes the result NULL (matches
  *    `00803_xxhash.sql`: `xxHash64(NULL) is NULL`).
  *
  * Registered by [[HashParity.register]] as a registry builder so any
  * arity resolves. NOTE: `xxHash64` shadows
  * Spark's builtin `xxhash64` (names are case-insensitive) — the CH
  * semantics (per-argument XXH64 seed 0 + Hash128to64 combine) replace
  * Spark's seed-42 streaming hash in SQL; internal engine code that
  * wants Spark's builtin uses [[SparkHash.xxh64]] which binds the
  * Catalyst expression directly and is unaffected.
  *
  * Non-codegen (CodegenFallback): these names are compat surface, not
  * engine hot path — the dedup/minhash pipelines bind Spark's codegen'd
  * XxHash64 via [[SparkHash]].
  */
case class ChHash(fn: String, children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = LongType
  override def prettyName: String = fn

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (children.isEmpty)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$fn requires at least one argument")
    else {
      val bad = children.map(_.dataType).collectFirst {
        case dt if !ChHash.supported(dt) => dt
      }
      bad match {
        case Some(dt) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$fn does not support type ${dt.simpleString}")
        case None =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      }
    }
  }

  private val spec = ChHash.specs(fn)

  override def eval(input: InternalRow): Any = {
    var acc = 0L
    var first = true
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      val h = ChHash.hashOne(spec, v, children(i).dataType)
      acc = if (first) h else spec.combine(acc, h)
      first = false
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object ChHash {
  import HashParity._

  /** bytesHash: hash of a byte string; intPod: Some(f) when the function
    * hashes integers via the reference's int-pod path instead of their
    * little-endian bytes; combine: the function's combineHashes.
    */
  final case class Spec(
      bytesHash: Array[Byte] => Long,
      intPod: Option[Long => Long],
      combine: (Long, Long) => Long)

  private def intHash64Combine(h1: Long, h2: Long): Long = intHash64(h1) ^ h2
  private def intHash32Combine(h1: Long, h2: Long): Long = intHash32(h1) ^ h2

  private def halfMD5Combine(h1: Long, h2: Long): Long = {
    val buf = new Array[Byte](16)
    var i = 0
    while (i < 8) { buf(i) = ((h1 >>> (8 * i)) & 0xff).toByte; i += 1 }
    while (i < 16) { buf(i) = ((h2 >>> (8 * (i - 8))) & 0xff).toByte; i += 1 }
    halfMD5(buf)
  }

  private def sipCombine(h1: Long, h2: Long): Long = sipHash64Combine(h1, h2)

  val specs: Map[String, Spec] = Map(
    "cityHash64" -> Spec(cityHash64, Some(x => intHash64(x)), hash128to64),
    "farmFingerprint64" -> Spec(farmFingerprint64, Some(x => intHash64(x)), hash128to64),
    "farmHash64" -> Spec(farmFingerprint64, Some(x => intHash64(x)), hash128to64),
    "sipHash64" -> Spec(b => sipHash64(b), None, sipCombine),
    "xxHash64" -> Spec(b => xxHash64(b), None, hash128to64),
    "xxHash32" -> Spec(b => xxHash32(b), None, intHash32Combine),
    "murmurHash2_32" -> Spec(b => murmurHash2_32(b), None, intHash32Combine),
    "murmurHash2_64" -> Spec(b => murmurHash64A(b), None, intHash64Combine),
    "gccMurmurHash" -> Spec(gccMurmurHash, None, intHash64Combine),
    "murmurHash3_32" -> Spec(b => murmurHash3_32(b), None, intHash32Combine),
    "murmurHash3_64" -> Spec(murmurHash3_64, None, intHash64Combine),
    "halfMD5" -> Spec(halfMD5, None, halfMD5Combine),
    // round-12 tail (FunctionsHashing.h:711/1681/771): metro shares the
    // int-pod path like city/farm; wyHash64 combines by re-hashing
    // h1||h2; xxh3 hashes pod bytes directly
    "metroHash64" -> Spec(HashTail.metroHash64, Some(x => intHash64(x)), hash128to64),
    "wyHash64" -> Spec(HashTail.wyHash64, None, HashTail.wyHash64Combine),
    "xxh3" -> Spec(HashTail.xxh3_64, None, hash128to64))

  def supported(dt: DataType): Boolean = dt match {
    case StringType | BinaryType | ByteType | ShortType | IntegerType |
        LongType | FloatType | DoubleType | BooleanType | DateType |
        TimestampType | TimestampNTZType | NullType => true
    case _: DecimalType => false
    case _ => false
  }

  private def leBytes(v: Long, width: Int): Array[Byte] = {
    val out = new Array[Byte](width)
    var i = 0
    while (i < width) { out(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    out
  }

  def hashOne(spec: Spec, v: Any, dt: DataType): Long = dt match {
    case StringType => spec.bytesHash(v.asInstanceOf[UTF8String].getBytes)
    case BinaryType => spec.bytesHash(v.asInstanceOf[Array[Byte]])
    case ByteType =>
      val x = v.asInstanceOf[Byte]
      spec.intPod.map(_(x.toLong)).getOrElse(spec.bytesHash(leBytes(x.toLong, 1)))
    case ShortType =>
      val x = v.asInstanceOf[Short]
      spec.intPod.map(_(x.toLong)).getOrElse(spec.bytesHash(leBytes(x.toLong, 2)))
    case IntegerType =>
      val x = v.asInstanceOf[Int]
      spec.intPod.map(_(x.toLong)).getOrElse(spec.bytesHash(leBytes(x.toLong, 4)))
    case DateType =>
      // reference Date is UInt16 day-number (DataTypeDate.h) — 2 LE bytes
      val x = v.asInstanceOf[Int].toLong & 0xffffL
      spec.intPod.map(_(x)).getOrElse(spec.bytesHash(leBytes(x, 2)))
    case TimestampType | TimestampNTZType =>
      // reference DateTime is UInt32 epoch-seconds (DataTypeDateTime.h) —
      // 4 LE bytes; Spark stores micros, so truncate to seconds first
      val secs = Math.floorDiv(v.asInstanceOf[Long], 1000000L) & 0xffffffffL
      spec.intPod.map(_(secs)).getOrElse(spec.bytesHash(leBytes(secs, 4)))
    case LongType =>
      val x = v.asInstanceOf[Long]
      spec.intPod.map(_(x)).getOrElse(spec.bytesHash(leBytes(x, 8)))
    case BooleanType =>
      val x = if (v.asInstanceOf[Boolean]) 1L else 0L
      spec.intPod.map(_(x)).getOrElse(spec.bytesHash(leBytes(x, 1)))
    case FloatType =>
      val x = java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong
      spec.intPod.map(_(x)).getOrElse(spec.bytesHash(leBytes(x, 4)))
    case DoubleType =>
      val x = java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
      spec.intPod.map(_(x)).getOrElse(spec.bytesHash(leBytes(x, 8)))
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }

  /** Register every variadic hash name into the session registry. */
  def register(r: FunctionSurface.Registrar): Unit = specs.keys.foreach { name =>
    r.expr(name)(children => ChHash(name, children))
  }
}

/** Direct Catalyst bindings for SPARK's builtin hashes, immune to
  * function-registry name shadowing (ChHash claims `xxHash64`, which is
  * case-insensitively the same name as Spark's builtin). Engine-internal
  * code (dedup fingerprints, minhash perms, generateRandom) uses these
  * to keep Spark's codegen'd seed-42 semantics and performance.
  */
object SparkHash {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.shim

  def xxh64(cols: Column*): Column =
    shim.column(
      org.apache.spark.sql.catalyst.expressions.XxHash64(
        cols.map(shim.expression), 42L))
}
