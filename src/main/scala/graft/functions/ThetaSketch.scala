package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udf

/** KMV theta sketch — the published k-minimum-values distinct-count
  * sketch with set algebra (Beyer et al. 2007; the DataSketches theta
  * family), backing the reference's `uniqTheta` surface and its sketch
  * set operations `uniqThetaUnion` / `uniqThetaIntersect` /
  * `uniqThetaNot` (`src/AggregateFunctions/AggregateFunctionUniq*`,
  * `src/Functions/UniqTheta.cpp`). The HLL++ sketch that serves the
  * plain `uniqTheta` aggregate cannot intersect, so the set-algebra
  * names ride on an explicit sketch state instead:
  *
  *   state = (theta, hashes): `hashes` are the retained 64-bit value
  *   hashes, all strictly below the sampling threshold `theta` (a
  *   fraction of the unsigned 64-bit hash space; 1.0 while the sketch is
  *   exact). Estimate = |hashes| / theta.
  *
  *   union:     merge below min-theta, re-trim to k
  *   intersect: keep hashes present in both, below min-theta
  *   a-not-b:   keep hashes of a absent from b, below min-theta
  *
  * All set ops are tiny array kernels over broadcast-sized states; the
  * aggregate itself is a Spark `Aggregator` with an O(1)-amortized
  * insert (unsorted buffer, compacted at 2k), so the sketch scales to
  * arbitrarily large groups with k-bounded memory.
  */
object ThetaSketch extends Serializable {

  final val DefaultK = 4096

  /** unsigned-order key for a signed 64-bit hash */
  @inline private def uord(h: Long): Long = h ^ Long.MinValue

  /** fraction of the unsigned hash space below h (in (0,1]) */
  private def frac(h: Long): Double =
    (uord(h).toDouble - Long.MinValue.toDouble) / math.pow(2.0, 64)

  final case class State(theta: Double, hashes: Array[Long])

  /** sorted-unique (unsigned order) retained set → finished state */
  private def finish(sorted: Array[Long], k: Int): State =
    if (sorted.length <= k) State(1.0, sorted)
    else State(frac(sorted(k)), sorted.take(k))

  def estimate(s: State): Long =
    if (s.theta >= 1.0) s.hashes.length.toLong
    else math.round(s.hashes.length / s.theta)

  private def trim(hashes: Array[Long], theta: Double, k: Int): State = {
    val kept =
      if (theta >= 1.0) hashes
      else hashes.filter(h => frac(h) < theta)
    if (kept.length <= k) State(theta, kept)
    else State(frac(kept(k)), kept.take(k))
  }

  def union(a: State, b: State, k: Int = DefaultK): State = {
    val t = math.min(a.theta, b.theta)
    val merged = (a.hashes ++ b.hashes).distinct.sortBy(uord)
    trim(merged, t, k)
  }

  def intersect(a: State, b: State, k: Int = DefaultK): State = {
    val t = math.min(a.theta, b.theta)
    val bs = b.hashes.toSet
    val kept = a.hashes.filter(h => bs.contains(h) &&
      (t >= 1.0 || frac(h) < t)).sortBy(uord)
    State(t, kept) // intersection cannot exceed k entries of either side
  }

  def aNotB(a: State, b: State, k: Int = DefaultK): State = {
    val t = math.min(a.theta, b.theta)
    val bs = b.hashes.toSet
    val kept = a.hashes.filter(h => !bs.contains(h) &&
      (t >= 1.0 || frac(h) < t)).sortBy(uord)
    State(t, kept)
  }

  /** 64-bit value hash (same spread class as the reference's value hash) */
  def hash(v: String): Long =
    if (v == null) 0L
    else HashParity.xxHash64(
      v.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Buffer: unsorted overflow on top of a compacted prefix; compacted
    * whenever it reaches 2k so inserts stay O(1) amortized.
    */
  final case class Buf(var items: Array[Long])

  final class ThetaAgg(k: Int) extends Aggregator[String, Buf, State] {
    def zero: Buf = Buf(Array.empty)
    private def compact(b: Buf): Buf = {
      val s = b.items.distinct.sortBy(uord)
      Buf(if (s.length <= k) s else s.take(k + 1)) // keep k+1: theta witness
    }
    def reduce(b: Buf, v: String): Buf = {
      if (v == null) return b
      val h = hash(v)
      b.items = b.items :+ h
      if (b.items.length >= 2 * k) compact(b) else b
    }
    def merge(x: Buf, y: Buf): Buf = compact(Buf(x.items ++ y.items))
    def finish(b: Buf): State = {
      val s = compact(b).items
      ThetaSketch.finish(s, k)
    }
    def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    def outputEncoder: Encoder[State] = Encoders.product[State]
  }

  def register(r: FunctionSurface.Registrar): Unit = {
    r.udf("uniqThetaSketch",
      org.apache.spark.sql.functions.udaf(new ThetaAgg(DefaultK)))
    r.udf("uniqThetaEstimate", udf(
      (theta: Double, hashes: Seq[Long]) =>
        estimate(State(theta, hashes.toArray))))
    def st(t: Double, hs: Seq[Long]) = State(t, hs.toArray)
    r.udf("uniqThetaUnion", udf(
      (t1: Double, h1: Seq[Long], t2: Double, h2: Seq[Long]) =>
        union(st(t1, h1), st(t2, h2))))
    r.udf("uniqThetaIntersect", udf(
      (t1: Double, h1: Seq[Long], t2: Double, h2: Seq[Long]) =>
        intersect(st(t1, h1), st(t2, h2))))
    r.udf("uniqThetaNot", udf(
      (t1: Double, h1: Seq[Long], t2: Double, h2: Seq[Long]) =>
        aNotB(st(t1, h1), st(t2, h2))))
  }
}
