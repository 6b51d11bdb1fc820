package graft.functions

import org.apache.spark.sql.functions.udf

/** Value-exact ports of the last two digest algorithms the reference
  * exposes that the JDK lacks: MD4 (RFC 1320; reference registers MD4 in
  * `FunctionsHashing.h` via OpenSSL) and BLAKE3 (the published BLAKE3
  * spec; reference `rust/supercrate/libs/blake3` binding). Both pinned
  * against their published test vectors in HashParitySpec.
  */
object Blake3Md4 {

  // ---------------------------------------------------------------- //
  // MD4 (RFC 1320)
  // ---------------------------------------------------------------- //
  def md4(data: Array[Byte]): Array[Byte] = {
    var a = 0x67452301
    var b = 0xefcdab89
    var c = 0x98badcfe
    var d = 0x10325476
    val msgLen = data.length
    val padded = {
      val rem = (msgLen + 1) % 64
      val padLen = if (rem <= 56) 56 - rem else 120 - rem
      val out = new Array[Byte](msgLen + 1 + padLen + 8)
      System.arraycopy(data, 0, out, 0, msgLen)
      out(msgLen) = 0x80.toByte
      val bits = msgLen.toLong * 8
      var i = 0
      while (i < 8) { out(out.length - 8 + i) = ((bits >>> (8 * i)) & 0xff).toByte; i += 1 }
      out
    }
    val x = new Array[Int](16)
    var off = 0
    while (off < padded.length) {
      var i = 0
      while (i < 16) {
        x(i) = (padded(off + 4 * i) & 0xff) |
          ((padded(off + 4 * i + 1) & 0xff) << 8) |
          ((padded(off + 4 * i + 2) & 0xff) << 16) |
          ((padded(off + 4 * i + 3) & 0xff) << 24)
        i += 1
      }
      val (aa, bb, cc, dd) = (a, b, c, d)
      @inline def rl(v: Int, s: Int) = Integer.rotateLeft(v, s)
      @inline def ff(A: Int, B: Int, C: Int, D: Int, k: Int, s: Int) =
        rl(A + ((B & C) | (~B & D)) + x(k), s)
      @inline def gg(A: Int, B: Int, C: Int, D: Int, k: Int, s: Int) =
        rl(A + ((B & C) | (B & D) | (C & D)) + x(k) + 0x5a827999, s)
      @inline def hh(A: Int, B: Int, C: Int, D: Int, k: Int, s: Int) =
        rl(A + (B ^ C ^ D) + x(k) + 0x6ed9eba1, s)
      // round 1
      for (i0 <- 0 until 4) {
        a = ff(a, b, c, d, 4 * i0, 3); d = ff(d, a, b, c, 4 * i0 + 1, 7)
        c = ff(c, d, a, b, 4 * i0 + 2, 11); b = ff(b, c, d, a, 4 * i0 + 3, 19)
      }
      // round 2
      for (i0 <- 0 until 4) {
        a = gg(a, b, c, d, i0, 3); d = gg(d, a, b, c, i0 + 4, 5)
        c = gg(c, d, a, b, i0 + 8, 9); b = gg(b, c, d, a, i0 + 12, 13)
      }
      // round 3 (order 0,8,4,12,2,10,6,14,1,9,5,13,3,11,7,15)
      for (i0 <- Seq(0, 2, 1, 3)) {
        a = hh(a, b, c, d, i0, 3); d = hh(d, a, b, c, i0 + 8, 9)
        c = hh(c, d, a, b, i0 + 4, 11); b = hh(b, c, d, a, i0 + 12, 15)
      }
      a += aa; b += bb; c += cc; d += dd
      off += 64
    }
    val out = new Array[Byte](16)
    for ((v, i) <- Seq(a, b, c, d).zipWithIndex; j <- 0 until 4)
      out(4 * i + j) = ((v >>> (8 * j)) & 0xff).toByte
    out
  }

  // ---------------------------------------------------------------- //
  // BLAKE3 (default 32-byte hash, published spec)
  // ---------------------------------------------------------------- //
  private val IV = Array(0x6A09E667, 0xBB67AE85, 0x3C6EF372, 0xA54FF53A,
    0x510E527F, 0x9B05688C, 0x1F83D9AB, 0x5BE0CD19)
  private val MsgPerm = Array(2, 6, 3, 10, 7, 0, 4, 13, 1, 11, 12, 5, 9, 14, 15, 8)
  private val ChunkStart = 1
  private val ChunkEnd = 2
  private val Parent = 4
  private val Root = 8

  private def compress(cv: Array[Int], block: Array[Int], counter: Long,
      blockLen: Int, flags: Int): Array[Int] = {
    val st = new Array[Int](16)
    System.arraycopy(cv, 0, st, 0, 8)
    System.arraycopy(IV, 0, st, 8, 4)
    st(12) = counter.toInt
    st(13) = (counter >>> 32).toInt
    st(14) = blockLen
    st(15) = flags
    var m = block
    @inline def rotr(x: Int, r: Int) = Integer.rotateRight(x, r)
    @inline def g(a: Int, b: Int, c: Int, d: Int, mx: Int, my: Int): Unit = {
      st(a) = st(a) + st(b) + mx
      st(d) = rotr(st(d) ^ st(a), 16)
      st(c) = st(c) + st(d)
      st(b) = rotr(st(b) ^ st(c), 12)
      st(a) = st(a) + st(b) + my
      st(d) = rotr(st(d) ^ st(a), 8)
      st(c) = st(c) + st(d)
      st(b) = rotr(st(b) ^ st(c), 7)
    }
    var round = 0
    while (round < 7) {
      g(0, 4, 8, 12, m(0), m(1)); g(1, 5, 9, 13, m(2), m(3))
      g(2, 6, 10, 14, m(4), m(5)); g(3, 7, 11, 15, m(6), m(7))
      g(0, 5, 10, 15, m(8), m(9)); g(1, 6, 11, 12, m(10), m(11))
      g(2, 7, 8, 13, m(12), m(13)); g(3, 4, 9, 14, m(14), m(15))
      round += 1
      if (round < 7) {
        val nm = new Array[Int](16)
        var i = 0
        while (i < 16) { nm(i) = m(MsgPerm(i)); i += 1 }
        m = nm
      }
    }
    val out = new Array[Int](16)
    var i = 0
    while (i < 8) {
      out(i) = st(i) ^ st(i + 8)
      out(i + 8) = st(i + 8) ^ cv(i)
      i += 1
    }
    out
  }

  private def wordsOf(b: Array[Byte], off: Int, len: Int): Array[Int] = {
    val w = new Array[Int](16)
    var i = 0
    while (i < len) {
      w(i / 4) |= (b(off + i) & 0xff) << (8 * (i % 4))
      i += 1
    }
    w
  }

  /** One chunk (≤1024 bytes) → its 8-word chaining value. */
  private def chunkCv(data: Array[Byte], off: Int, len: Int, counter: Long,
      rootIfSingle: Boolean): Array[Int] = {
    var cv = IV.clone()
    var pos = 0
    val nBlocks = math.max(1, (len + 63) / 64)
    var bi = 0
    while (bi < nBlocks) {
      val blockLen = math.min(64, len - pos)
      var flags = 0
      if (bi == 0) flags |= ChunkStart
      if (bi == nBlocks - 1) {
        flags |= ChunkEnd
        if (rootIfSingle) flags |= Root
      }
      val out = compress(cv, wordsOf(data, off + pos, blockLen), counter,
        blockLen, flags)
      cv = out.take(8)
      pos += 64
      bi += 1
    }
    cv
  }

  private def parentCv(l: Array[Int], r: Array[Int], root: Boolean): Array[Int] = {
    val block = new Array[Int](16)
    System.arraycopy(l, 0, block, 0, 8)
    System.arraycopy(r, 0, block, 8, 8)
    compress(IV.clone(), block, 0L, 64, Parent | (if (root) Root else 0)).take(8)
  }

  def blake3(data: Array[Byte]): Array[Byte] = {
    val n = data.length
    val nChunks = math.max(1, (n + 1023) / 1024)
    if (nChunks == 1) return cvBytes(chunkCv(data, 0, n, 0L, rootIfSingle = true))
    // binary left-complete tree over chunk CVs: eager trailing-zeros
    // merge for all chunks EXCEPT the last (the final parent compression
    // must carry the ROOT flag, so the last chunk's merges are deferred
    // and run right-to-left with ROOT on the topmost one)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    var i = 0L
    var off = 0
    while (n - off > 1024) {
      var cv = chunkCv(data, off, 1024, i, rootIfSingle = false)
      var total = i + 1
      while ((total & 1L) == 0L) {
        cv = parentCv(stack.remove(stack.length - 1), cv, root = false)
        total >>= 1
      }
      stack += cv
      i += 1
      off += 1024
    }
    var cv = chunkCv(data, off, n - off, i, rootIfSingle = false)
    while (stack.nonEmpty) {
      val left = stack.remove(stack.length - 1)
      cv = parentCv(left, cv, root = stack.isEmpty)
    }
    cvBytes(cv)
  }

  private def cvBytes(cv: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 32) { out(i) = ((cv(i / 4) >>> (8 * (i % 4))) & 0xff).toByte; i += 1 }
    out
  }

  def register(r: FunctionSurface.Registrar): Unit = {
    r.udf("MD4", udf((s: String) =>
      if (s == null) null else md4(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
    r.udf("BLAKE3", udf((s: String) =>
      if (s == null) null else blake3(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
  }
}
