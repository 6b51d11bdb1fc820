package graft.functions

import org.apache.spark.sql.functions.udf

/** Value-exact port of the reference's ngram/wordShingle SimHash/MinHash
  * scalar family (`/root/reference/src/Functions/FunctionsStringHash.{h,cpp}`,
  * `ExtractString.h`): document-level similarity sketches over byte
  * n-grams or ≥4-byte word shingles, hashed with chained CRC32-C (the
  * x86 `_mm_crc32_*` / ARM `__crc32c*` instruction semantics — the
  * Castagnoli polynomial, reflected, no pre/post complement beyond the
  * caller's `-1` seed). Validated against the reference's own
  * `01016_simhash_minhash.reference` expected outputs (the x86/ARM CRC32C
  * truth; the ppc variant differs by design).
  *
  * Layout notes mirrored from the reference:
  *  - `shingleHash` consumes a byte range in 1/2/4-byte prologue lanes
  *    (size&1, size&2, size&4) then 8-byte chunks, all little-endian;
  *    case-insensitive variants OR 0x20 into every lane.
  *  - SimHash: per-shingle hash votes ±1 per bit; bit set iff sum > 0.
  *  - MinHash: the K smallest and K largest distinct shingle hashes
  *    (unsigned order), each set folded with CityHash `Hash128to64` —
  *    K-smallest in descending order, K-largest ascending (the map
  *    iteration orders of the reference's two heap comparators).
  *  - Words: runs of bytes between ASCII non-alphanumeric separators,
  *    kept only if ≥ 4 bytes (`min_word_size`).
  */
object StringSketchHash {

  private val MinWordSize = 4

  // ---- CRC32-C (reflected, poly 0x82F63B78), `vec_crc32.h` semantics ----
  private val crcTable: Array[Int] = {
    val t = new Array[Int](256)
    var n = 0
    while (n < 256) {
      var c = n; var k = 0
      while (k < 8) { c = if ((c & 1) != 0) 0x82F63B78 ^ (c >>> 1) else c >>> 1; k += 1 }
      t(n) = c; n += 1
    }
    t
  }
  @inline private def crcByte(crc: Int, b: Int): Int =
    crcTable((crc ^ b) & 0xff) ^ (crc >>> 8)

  /** `Hash::shingleHash(crc, start, size)`: the lane-decomposed chained
    * CRC over one byte range. State is the low 32 bits, like the
    * hardware instruction; the returned value is zero-extended.
    */
  private def shingleHash(crc0: Long, buf: Array[Byte], start: Int, size: Int,
      ci: Boolean): Long = {
    if (size == 0) return crc0 // no lane touched: the 64-bit seed passes through
    var crc = crc0.toInt
    var off = start; var sz = size
    @inline def lane(n: Int): Unit = {
      var i = 0
      while (i < n) {
        var b = buf(off + i) & 0xff
        if (ci) b |= 0x20
        crc = crcByte(crc, b)
        i += 1
      }
      off += n; sz -= n
    }
    if ((sz & 1) != 0) lane(1)
    if ((sz & 2) != 0) lane(2)
    if ((sz & 4) != 0) lane(4)
    while (sz > 0) lane(8)
    crc & 0xffffffffL
  }

  /** `shingleHash(words, offset)`: chain the ring buffer starting at
    * `offset`, wrapping — each word goes through the lane decomposition
    * separately, exactly like the reference's per-word loop.
    */
  private def shingleHashWords(buf: Array[Byte], words: Array[(Int, Int)],
      n: Int, offset: Int, ci: Boolean): Long = {
    var crc = -1L
    var i = offset
    while (i < n) { crc = shingleHash(crc, buf, words(i)._1, words(i)._2, ci); i += 1 }
    i = 0
    while (i < offset) { crc = shingleHash(crc, buf, words(i)._1, words(i)._2, ci); i += 1 }
    crc
  }

  // ---- byte / codepoint / word scanners (ExtractString.h) ----
  @inline private def isSep(b: Int): Boolean = {
    val c = b & 0xff
    c < 128 && !(c >= '0' && c <= '9') && !(c >= 'A' && c <= 'Z') &&
      !(c >= 'a' && c <= 'z')
  }
  @inline private def seqLength(b: Int): Int = {
    val c = b & 0xff
    if (c < 0x80 || c >= 0xF8) 1
    else {
      val firstZero = 31 - Integer.numberOfLeadingZeros(~c & 0xff)
      7 - firstZero
    }
  }

  /** All (start, length) word spans ≥ MinWordSize bytes. */
  private def words(buf: Array[Byte]): Array[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var pos = 0
    while (pos < buf.length) {
      while (pos < buf.length && isSep(buf(pos))) pos += 1
      val start = pos
      while (pos < buf.length && !isSep(buf(pos))) pos += 1
      if (pos - start >= MinWordSize) out += ((start, pos - start))
    }
    out.toArray
  }

  // ---- SimHash ----
  @inline private def vote(fv: Array[Long], h: Long): Unit = {
    var i = 0
    while (i < 64) { fv(i) += (if (((h >>> i) & 1) != 0) 1 else -1); i += 1 }
  }
  @inline private def collapse(fv: Array[Long]): Long = {
    var r = 0L; var i = 0
    while (i < 64) { if (fv(i) > 0) r |= 1L << i; i += 1 }
    r
  }

  def ngramSimHash(s: String, shingle: Int, ci: Boolean, utf8: Boolean): Long = {
    val buf = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (!utf8) {
      if (buf.length < shingle) return shingleHash(-1L, buf, 0, buf.length, ci)
      val fv = new Array[Long](64)
      var pos = 0
      while (pos + shingle <= buf.length) {
        vote(fv, shingleHash(-1L, buf, pos, shingle, ci)); pos += 1
      }
      collapse(fv)
    } else {
      // sliding window of `shingle` CODEPOINTS
      var wordEnd = 0; var i = 0
      while (i < shingle) {
        if (wordEnd >= buf.length) return shingleHash(-1L, buf, 0, buf.length, ci)
        wordEnd += math.min(seqLength(buf(wordEnd)), buf.length - wordEnd)
        i += 1
      }
      val fv = new Array[Long](64)
      var wordStart = 0
      while (wordEnd < buf.length) {
        wordStart += math.min(seqLength(buf(wordStart)), buf.length - wordStart)
        wordEnd += math.min(seqLength(buf(wordEnd)), buf.length - wordEnd)
        vote(fv, shingleHash(-1L, buf, wordStart, wordEnd - wordStart, ci))
      }
      collapse(fv)
    }
  }

  def wordShingleSimHash(s: String, shingle: Int, ci: Boolean): Long = {
    val buf = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ws = words(buf)
    if (ws.isEmpty) return 0L
    val fv = new Array[Long](64)
    val n = math.min(shingle, ws.length)
    val ring = java.util.Arrays.copyOfRange(ws, 0, n)
    vote(fv, shingleHashWords(buf, ring, n, 0, ci))
    var offset = 0; var next = n
    while (next < ws.length) {
      ring(offset) = ws(next)
      offset += 1
      if (offset >= n) offset = 0
      vote(fv, shingleHashWords(buf, ring, n, offset, ci))
      next += 1
    }
    collapse(fv)
  }

  // ---- MinHash ----
  private final class Heaps(limit: Int) {
    val mins = new java.util.TreeMap[java.lang.Long, (Int, Int)](
      (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.compareUnsigned(a, b))
    val maxs = new java.util.TreeMap[java.lang.Long, (Int, Int)](
      (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.compareUnsigned(a, b))
    def update(h: Long, ref: (Int, Int)): Unit = {
      if (!mins.containsKey(h)) {
        mins.put(h, ref)
        if (mins.size > limit) mins.remove(mins.lastKey) // keep K smallest
      }
      if (!maxs.containsKey(h)) {
        maxs.put(h, ref)
        if (maxs.size > limit) maxs.remove(maxs.firstKey) // keep K largest
      }
    }
    // MinHeap (greater<>) iterates descending; MaxHeap (less<>) ascending.
    def minHash: Long = fold(mins.descendingKeySet.iterator)
    def maxHash: Long = fold(maxs.keySet.iterator)
    private def fold(it: java.util.Iterator[java.lang.Long]): Long = {
      var res = 0L
      while (it.hasNext) res = HashParity.hash128to64(res, it.next())
      res
    }
    def minArgs(buf: Array[Byte]): Array[String] = args(buf, mins.descendingMap)
    def maxArgs(buf: Array[Byte]): Array[String] = args(buf, maxs)
    private def args(buf: Array[Byte],
        m: java.util.NavigableMap[java.lang.Long, (Int, Int)]): Array[String] = {
      val out = new Array[String](limit)
      val it = m.values.iterator
      var i = 0
      while (i < limit) {
        out(i) = if (it.hasNext) {
          val (st, ln) = it.next()
          new String(buf, st, ln, java.nio.charset.StandardCharsets.UTF_8)
        } else ""
        i += 1
      }
      out
    }
  }

  private def minHashHeaps(s: String, shingle: Int, k: Int, ci: Boolean,
      utf8: Boolean, word: Boolean): (Heaps, Array[Byte]) = {
    val buf = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val hp = new Heaps(k)
    if (word) {
      val ws = words(buf)
      if (ws.isEmpty) return (hp, buf)
      val n = math.min(shingle, ws.length)
      val ring = java.util.Arrays.copyOfRange(ws, 0, n)
      hp.update(shingleHashWords(buf, ring, n, 0, ci),
        (ring(0)._1, ring(n - 1)._1 + ring(n - 1)._2 - ring(0)._1))
      var offset = 0; var next = n
      while (next < ws.length) {
        ring(offset) = ws(next)
        val shingleEnd = ws(next)._1 + ws(next)._2
        offset += 1
        if (offset >= n) offset = 0
        val shingleStart = ring(offset)._1
        hp.update(shingleHashWords(buf, ring, n, offset, ci),
          (shingleStart, shingleEnd - shingleStart))
        next += 1
      }
    } else if (!utf8) {
      if (buf.length < shingle) {
        hp.update(shingleHash(-1L, buf, 0, buf.length, ci), (0, buf.length))
        return (hp, buf)
      }
      var pos = 0
      while (pos + shingle <= buf.length) {
        hp.update(shingleHash(-1L, buf, pos, shingle, ci), (pos, shingle))
        pos += 1
      }
    } else {
      var wordEnd = 0; var i = 0
      var short = false
      while (i < shingle && !short) {
        if (wordEnd >= buf.length) {
          hp.update(shingleHash(-1L, buf, 0, buf.length, ci), (0, buf.length))
          short = true
        } else {
          wordEnd += math.min(seqLength(buf(wordEnd)), buf.length - wordEnd)
          i += 1
        }
      }
      if (!short) {
        var wordStart = 0
        while (wordEnd < buf.length) {
          wordStart += math.min(seqLength(buf(wordStart)), buf.length - wordStart)
          wordEnd += math.min(seqLength(buf(wordEnd)), buf.length - wordEnd)
          hp.update(shingleHash(-1L, buf, wordStart, wordEnd - wordStart, ci),
            (wordStart, wordEnd - wordStart))
        }
      }
    }
    (hp, buf)
  }

  def minHash(s: String, shingle: Int, k: Int, ci: Boolean, utf8: Boolean,
      word: Boolean): (Long, Long) = {
    val (hp, _) = minHashHeaps(s, shingle, k, ci, utf8, word)
    (hp.minHash, hp.maxHash)
  }

  def minHashArg(s: String, shingle: Int, k: Int, ci: Boolean, utf8: Boolean,
      word: Boolean): (Array[String], Array[String]) = {
    val (hp, buf) = minHashHeaps(s, shingle, k, ci, utf8, word)
    (hp.minArgs(buf), hp.maxArgs(buf))
  }

  /** Register the 24-name grid. Pragmatic typed signatures (the compat
    * convention): SimHash takes (s, shingleSize), MinHash[Arg] takes
    * (s, shingleSize, numHashes) — pass the reference defaults (3, 6)
    * for the 1-argument behavior.
    */
  def register(r: FunctionSurface.Registrar): Unit = {
    val grid = Seq(
      ("ngram", false), ("wordShingle", true))
    for ((prefix, word) <- grid; (suffix, ci, utf8) <- Seq(
        ("", false, false), ("CaseInsensitive", true, false),
        ("UTF8", false, true), ("CaseInsensitiveUTF8", true, true))) {
      r.udf(s"${prefix}SimHash$suffix", udf((s: String, sh: Int) =>
        if (s == null) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(
          if (word) wordShingleSimHash(s, sh, ci)
          else ngramSimHash(s, sh, ci, utf8))))
      r.udf(s"${prefix}MinHash$suffix", udf((s: String, sh: Int, k: Int) =>
        if (s == null) null else minHash(s, sh, k, ci, utf8, word)))
      r.udf(s"${prefix}MinHashArg$suffix", udf(
        (s: String, sh: Int, k: Int) =>
          if (s == null) null else minHashArg(s, sh, k, ci, utf8, word)))
    }
  }
}
