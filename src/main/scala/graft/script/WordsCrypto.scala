package graft.script

/** Crypto/compression word tail: the digest registrations beyond
  * MD5/SHA1/SHA256/SHA512 (WarpScriptLib DIGEST list — SHA3 via the
  * JDK provider), keyed HMAC words, the SipHash-2-4 HASH word
  * (crypto/SipHashInline.java re-derived from the public SipHash
  * spec), GZIP/UNGZIP/DEFLATE/INFLATE stack forms over
  * [[graft.sources.Compress]], and the EC suite (fn/ECGEN.java family
  * — JDK named-curve EC replaces BouncyCastle).
  */
private[script] object WordsCrypto {
  import WarpScriptEngine._

  /** SipHash-2-4 (Aumasson & Bernstein, public reference design;
    * matches crypto/SipHashInline.hash24). */
  private[script] def sipHash24(k0: Long, k1: Long, data: Array[Byte]): Long = {
    var v0 = 0x736f6d6570736575L ^ k0
    var v1 = 0x646f72616e646f6dL ^ k1
    var v2 = 0x6c7967656e657261L ^ k0
    var v3 = 0x7465646279746573L ^ k1
    def rotl(x: Long, b: Int): Long = (x << b) | (x >>> (64 - b))
    def round(): Unit = {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
    }
    val n = data.length
    val end = n - (n % 8)
    var i = 0
    while (i < end) {
      var m = 0L
      var j = 7
      while (j >= 0) { m = (m << 8) | (data(i + j) & 0xffL); j -= 1 }
      v3 ^= m; round(); round(); v0 ^= m
      i += 8
    }
    var last = (n.toLong & 0xff) << 56
    var j = n - 1
    while (j >= end) { last |= (data(j) & 0xffL) << (8 * (j - end)); j -= 1 }
    v3 ^= last; round(); round(); v0 ^= last
    v2 ^= 0xff
    round(); round(); round(); round()
    v0 ^ v1 ^ v2 ^ v3
  }

  /** Keccak-f[1600] sponge, re-derived from the public Keccak/FIPS 202
    * specification (the reference wraps BouncyCastle's KeccakDigest).
    * `padByte` 0x01 = original Keccak (KECCAK.* words), 0x06 = SHA-3.
    * Capacity = 2 × output bits, little-endian lanes. */
  private[script] def keccak(data: Array[Byte], outBits: Int,
      padByte: Byte = 0x01): Array[Byte] = {
    val RC = Array(
      0x0000000000000001L, 0x0000000000008082L, 0x800000000000808aL,
      0x8000000080008000L, 0x000000000000808bL, 0x0000000080000001L,
      0x8000000080008081L, 0x8000000000008009L, 0x000000000000008aL,
      0x0000000000000088L, 0x0000000080008009L, 0x000000008000000aL,
      0x000000008000808bL, 0x800000000000008bL, 0x8000000000008089L,
      0x8000000000008003L, 0x8000000000008002L, 0x8000000000000080L,
      0x000000000000800aL, 0x800000008000000aL, 0x8000000080008081L,
      0x8000000000008080L, 0x0000000080000001L, 0x8000000080008008L)
    val rotOff = Array( // rho offsets, state index x + 5y
      0, 1, 62, 28, 27, 36, 44, 6, 55, 20, 3, 10, 43, 25, 39,
      41, 45, 15, 21, 8, 18, 2, 61, 56, 14)
    def rotl(x: Long, n: Int): Long =
      if (n == 0) x else (x << n) | (x >>> (64 - n))
    val st = new Array[Long](25)
    def permute(): Unit = {
      var round = 0
      while (round < 24) {
        // theta
        val c = Array.tabulate(5)(x => st(x) ^ st(x + 5) ^ st(x + 10) ^ st(x + 15) ^ st(x + 20))
        var x = 0
        while (x < 5) {
          val d = c((x + 4) % 5) ^ rotl(c((x + 1) % 5), 1)
          var y = 0
          while (y < 5) { st(x + 5 * y) ^= d; y += 1 }
          x += 1
        }
        // rho + pi
        val b = new Array[Long](25)
        var i = 0
        while (i < 25) {
          val xx = i % 5; val yy = i / 5
          b(yy + 5 * ((2 * xx + 3 * yy) % 5)) = rotl(st(i), rotOff(i))
          i += 1
        }
        // chi
        var y = 0
        while (y < 5) {
          var x2 = 0
          while (x2 < 5) {
            st(x2 + 5 * y) = b(x2 + 5 * y) ^
              (~b((x2 + 1) % 5 + 5 * y) & b((x2 + 2) % 5 + 5 * y))
            x2 += 1
          }
          y += 1
        }
        // iota
        st(0) ^= RC(round)
        round += 1
      }
    }
    val rateBytes = (1600 - 2 * outBits) / 8
    // absorb with pad10*1
    val padded = {
      val padLen = rateBytes - (data.length % rateBytes)
      val p = java.util.Arrays.copyOf(data, data.length + padLen)
      p(data.length) = padByte
      p(p.length - 1) = (p(p.length - 1) | 0x80).toByte
      p
    }
    var off = 0
    while (off < padded.length) {
      var i = 0
      while (i < rateBytes / 8) {
        var lane = 0L
        var j = 7
        while (j >= 0) { lane = (lane << 8) | (padded(off + 8 * i + j) & 0xffL); j -= 1 }
        st(i) ^= lane
        i += 1
      }
      permute()
      off += rateBytes
    }
    // squeeze (single block suffices: outBits <= rate for all variants)
    val out = new Array[Byte](outBits / 8)
    var i = 0
    while (i < out.length) {
      out(i) = ((st(i / 8) >>> (8 * (i % 8))) & 0xff).toByte
      i += 1
    }
    out
  }

  /** MD4 (RFC 1320, re-derived — not in the JDK provider). */
  private[script] def md4(data: Array[Byte]): Array[Byte] = {
    val padded = mdPad(data)
    var (a, b, c, d) = (0x67452301, 0xefcdab89, 0x98badcfe, 0x10325476)
    def rotl(x: Int, n: Int) = (x << n) | (x >>> (32 - n))
    var off = 0
    while (off < padded.length) {
      val x = Array.tabulate(16) { i =>
        (padded(off + 4 * i) & 0xff) | ((padded(off + 4 * i + 1) & 0xff) << 8) |
          ((padded(off + 4 * i + 2) & 0xff) << 16) | ((padded(off + 4 * i + 3) & 0xff) << 24)
      }
      val (a0, b0, c0, d0) = (a, b, c, d)
      def f(x1: Int, y: Int, z: Int) = (x1 & y) | (~x1 & z)
      def g(x1: Int, y: Int, z: Int) = (x1 & y) | (x1 & z) | (y & z)
      def h(x1: Int, y: Int, z: Int) = x1 ^ y ^ z
      // round 1
      val s1 = Array(3, 7, 11, 19)
      var i = 0
      while (i < 16) {
        val t = rotl(a + f(b, c, d) + x(i), s1(i % 4))
        a = d; d = c; c = b; b = t
        i += 1
      }
      // round 2
      val s2 = Array(3, 5, 9, 13)
      val o2 = Array(0, 4, 8, 12, 1, 5, 9, 13, 2, 6, 10, 14, 3, 7, 11, 15)
      i = 0
      while (i < 16) {
        val t = rotl(a + g(b, c, d) + x(o2(i)) + 0x5a827999, s2(i % 4))
        a = d; d = c; c = b; b = t
        i += 1
      }
      // round 3
      val s3 = Array(3, 9, 11, 15)
      val o3 = Array(0, 8, 4, 12, 2, 10, 6, 14, 1, 9, 5, 13, 3, 11, 7, 15)
      i = 0
      while (i < 16) {
        val t = rotl(a + h(b, c, d) + x(o3(i)) + 0x6ed9eba1, s3(i % 4))
        a = d; d = c; c = b; b = t
        i += 1
      }
      a += a0; b += b0; c += c0; d += d0
      off += 64
    }
    leBytes(Array(a, b, c, d))
  }

  // RIPEMD message-word selection and rotation tables (Dobbertin/
  // Bosselaers/Preneel spec; the 128/256 variants use the first 64
  // entries, the 160/320 variants all 80)
  private val RmdR = Array(
      0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
      7, 4, 13, 1, 10, 6, 15, 3, 12, 0, 9, 5, 2, 14, 11, 8,
      3, 10, 14, 4, 9, 15, 8, 1, 2, 7, 0, 6, 13, 11, 5, 12,
      1, 9, 11, 10, 0, 8, 12, 4, 13, 3, 7, 15, 14, 5, 6, 2,
      4, 0, 5, 9, 7, 12, 2, 10, 14, 1, 3, 8, 11, 6, 15, 13)
  private val RmdRp = Array(
      5, 14, 7, 0, 9, 2, 11, 4, 13, 6, 15, 8, 1, 10, 3, 12,
      6, 11, 3, 7, 0, 13, 5, 10, 14, 15, 8, 12, 4, 9, 1, 2,
      15, 5, 1, 3, 7, 14, 6, 9, 11, 8, 12, 2, 10, 0, 4, 13,
      8, 6, 4, 1, 3, 11, 15, 0, 5, 12, 2, 13, 9, 7, 10, 14,
      12, 15, 10, 4, 1, 5, 8, 7, 6, 2, 13, 14, 0, 3, 9, 11)
  private val RmdS = Array(
      11, 14, 15, 12, 5, 8, 7, 9, 11, 13, 14, 15, 6, 7, 9, 8,
      7, 6, 8, 13, 11, 9, 7, 15, 7, 12, 15, 9, 11, 7, 13, 12,
      11, 13, 6, 7, 14, 9, 13, 15, 14, 8, 13, 6, 5, 12, 7, 5,
      11, 12, 14, 15, 14, 15, 9, 8, 9, 14, 5, 6, 8, 6, 5, 12,
      9, 15, 5, 11, 6, 8, 13, 12, 5, 12, 13, 14, 11, 8, 5, 6)
  private val RmdSp = Array(
      8, 9, 9, 11, 13, 15, 15, 5, 7, 7, 8, 11, 14, 14, 12, 6,
      9, 13, 15, 7, 12, 8, 9, 11, 7, 7, 12, 7, 6, 15, 13, 11,
      9, 7, 15, 11, 8, 6, 6, 14, 12, 13, 5, 14, 13, 13, 7, 5,
      15, 5, 8, 11, 14, 14, 6, 14, 6, 9, 12, 9, 12, 5, 15, 8,
      8, 5, 12, 9, 12, 5, 14, 6, 8, 13, 6, 5, 15, 13, 11, 11)

  private def rmdFj(j: Int, x: Int, y: Int, z: Int): Int = j / 16 match {
    case 0 => x ^ y ^ z
    case 1 => (x & y) | (~x & z)
    case 2 => (x | ~y) ^ z
    case 3 => (x & z) | (y & ~z)
    case _ => x ^ (y | ~z)
  }

  /** RIPEMD-160 (Dobbertin/Bosselaers/Preneel public specification —
    * the reference wraps BouncyCastle's RIPEMD160Digest). */
  private[script] def ripemd160(data: Array[Byte]): Array[Byte] = {
    val r = RmdR; val rp = RmdRp; val s = RmdS; val sp = RmdSp
    val K = Array(0x00000000, 0x5a827999, 0x6ed9eba1, 0x8f1bbcdc, 0xa953fd4e)
    val Kp = Array(0x50a28be6, 0x5c4dd124, 0x6d703ef3, 0x7a6d76e9, 0x00000000)
    def fj(j: Int, x: Int, y: Int, z: Int): Int = rmdFj(j, x, y, z)
    def rotl(x: Int, n: Int) = (x << n) | (x >>> (32 - n))
    val padded = mdPad(data)
    var h0 = 0x67452301; var h1 = 0xefcdab89; var h2 = 0x98badcfe
    var h3 = 0x10325476; var h4 = 0xc3d2e1f0
    var off = 0
    while (off < padded.length) {
      val x = Array.tabulate(16) { i =>
        (padded(off + 4 * i) & 0xff) | ((padded(off + 4 * i + 1) & 0xff) << 8) |
          ((padded(off + 4 * i + 2) & 0xff) << 16) | ((padded(off + 4 * i + 3) & 0xff) << 24)
      }
      var (a, b, c, d, e) = (h0, h1, h2, h3, h4)
      var (ap, bp, cp, dp, ep) = (h0, h1, h2, h3, h4)
      var j = 0
      while (j < 80) {
        var t = rotl(a + fj(j, b, c, d) + x(r(j)) + K(j / 16), s(j)) + e
        a = e; e = d; d = rotl(c, 10); c = b; b = t
        t = rotl(ap + fj(79 - j, bp, cp, dp) + x(rp(j)) + Kp(j / 16), sp(j)) + ep
        ap = ep; ep = dp; dp = rotl(cp, 10); cp = bp; bp = t
        j += 1
      }
      val t = h1 + c + dp
      h1 = h2 + d + ep; h2 = h3 + e + ap; h3 = h4 + a + bp
      h4 = h0 + b + cp; h0 = t
      off += 64
    }
    leBytes(Array(h0, h1, h2, h3, h4))
  }

  /** RIPEMD-128 (same spec family: two 4-register lines, 64 steps —
    * the 160 tables' first 64 entries, no rotl(c,10), right line runs
    * the round functions in reverse). */
  private[script] def ripemd128(data: Array[Byte]): Array[Byte] = {
    val K = Array(0x00000000, 0x5a827999, 0x6ed9eba1, 0x8f1bbcdc)
    val Kp = Array(0x50a28be6, 0x5c4dd124, 0x6d703ef3, 0x00000000)
    def rotl(x: Int, n: Int) = (x << n) | (x >>> (32 - n))
    val padded = mdPad(data)
    var h0 = 0x67452301; var h1 = 0xefcdab89
    var h2 = 0x98badcfe; var h3 = 0x10325476
    var off = 0
    while (off < padded.length) {
      val x = leWords(padded, off)
      var (a, b, c, d) = (h0, h1, h2, h3)
      var (ap, bp, cp, dp) = (h0, h1, h2, h3)
      var j = 0
      while (j < 64) {
        var t = rotl(a + rmdFj(j, b, c, d) + x(RmdR(j)) + K(j / 16), RmdS(j))
        a = d; d = c; c = b; b = t
        t = rotl(ap + rmdFj(63 - j, bp, cp, dp) + x(RmdRp(j)) + Kp(j / 16), RmdSp(j))
        ap = dp; dp = cp; cp = bp; bp = t
        j += 1
      }
      val t = h1 + c + dp
      h1 = h2 + d + ap; h2 = h3 + a + bp; h3 = h0 + b + cp; h0 = t
      off += 64
    }
    leBytes(Array(h0, h1, h2, h3))
  }

  /** RIPEMD-256: RIPEMD-128's two lines kept as independent states
    * (8 words out), one register swapped between lines after each
    * 16-step round; no final cross-add. */
  private[script] def ripemd256(data: Array[Byte]): Array[Byte] = {
    val K = Array(0x00000000, 0x5a827999, 0x6ed9eba1, 0x8f1bbcdc)
    val Kp = Array(0x50a28be6, 0x5c4dd124, 0x6d703ef3, 0x00000000)
    def rotl(x: Int, n: Int) = (x << n) | (x >>> (32 - n))
    val padded = mdPad(data)
    val h = Array(0x67452301, 0xefcdab89, 0x98badcfe, 0x10325476,
      0x76543210, 0xfedcba98, 0x89abcdef, 0x01234567)
    var off = 0
    while (off < padded.length) {
      val x = leWords(padded, off)
      var (a, b, c, d) = (h(0), h(1), h(2), h(3))
      var (ap, bp, cp, dp) = (h(4), h(5), h(6), h(7))
      var j = 0
      while (j < 64) {
        var t = rotl(a + rmdFj(j, b, c, d) + x(RmdR(j)) + K(j / 16), RmdS(j))
        a = d; d = c; c = b; b = t
        t = rotl(ap + rmdFj(63 - j, bp, cp, dp) + x(RmdRp(j)) + Kp(j / 16), RmdSp(j))
        ap = dp; dp = cp; cp = bp; bp = t
        j += 1
        if (j % 16 == 0) j / 16 match {
          case 1 => val u = a; a = ap; ap = u
          case 2 => val u = b; b = bp; bp = u
          case 3 => val u = c; c = cp; cp = u
          case _ => val u = d; d = dp; dp = u
        }
      }
      h(0) += a; h(1) += b; h(2) += c; h(3) += d
      h(4) += ap; h(5) += bp; h(6) += cp; h(7) += dp
      off += 64
    }
    leBytes(h)
  }

  /** RIPEMD-320: RIPEMD-160's two lines kept as independent states
    * (10 words out), one register swapped after each 16-step round. */
  private[script] def ripemd320(data: Array[Byte]): Array[Byte] = {
    val K = Array(0x00000000, 0x5a827999, 0x6ed9eba1, 0x8f1bbcdc, 0xa953fd4e)
    val Kp = Array(0x50a28be6, 0x5c4dd124, 0x6d703ef3, 0x7a6d76e9, 0x00000000)
    def rotl(x: Int, n: Int) = (x << n) | (x >>> (32 - n))
    val padded = mdPad(data)
    val h = Array(0x67452301, 0xefcdab89, 0x98badcfe, 0x10325476, 0xc3d2e1f0,
      0x76543210, 0xfedcba98, 0x89abcdef, 0x01234567, 0x3c2d1e0f)
    var off = 0
    while (off < padded.length) {
      val x = leWords(padded, off)
      var (a, b, c, d, e) = (h(0), h(1), h(2), h(3), h(4))
      var (ap, bp, cp, dp, ep) = (h(5), h(6), h(7), h(8), h(9))
      var j = 0
      while (j < 80) {
        var t = rotl(a + rmdFj(j, b, c, d) + x(RmdR(j)) + K(j / 16), RmdS(j)) + e
        a = e; e = d; d = rotl(c, 10); c = b; b = t
        t = rotl(ap + rmdFj(79 - j, bp, cp, dp) + x(RmdRp(j)) + Kp(j / 16), RmdSp(j)) + ep
        ap = ep; ep = dp; dp = rotl(cp, 10); cp = bp; bp = t
        j += 1
        if (j % 16 == 0) j / 16 match {
          case 1 => val u = b; b = bp; bp = u
          case 2 => val u = d; d = dp; dp = u
          case 3 => val u = a; a = ap; ap = u
          case 4 => val u = c; c = cp; cp = u
          case _ => val u = e; e = ep; ep = u
        }
      }
      h(0) += a; h(1) += b; h(2) += c; h(3) += d; h(4) += e
      h(5) += ap; h(6) += bp; h(7) += cp; h(8) += dp; h(9) += ep
      off += 64
    }
    leBytes(h)
  }

  /** 16 little-endian 32-bit words from a 64-byte block. */
  private def leWords(padded: Array[Byte], off: Int): Array[Int] =
    Array.tabulate(16) { i =>
      (padded(off + 4 * i) & 0xff) | ((padded(off + 4 * i + 1) & 0xff) << 8) |
        ((padded(off + 4 * i + 2) & 0xff) << 16) | ((padded(off + 4 * i + 3) & 0xff) << 24)
    }

  /** MD4/RIPEMD padding: 0x80, zeros, 64-bit little-endian bit count. */
  private def mdPad(data: Array[Byte]): Array[Byte] = {
    val bitLen = data.length.toLong * 8
    val padLen = ((55 - data.length % 64) + 64) % 64 + 1
    val out = java.util.Arrays.copyOf(data, data.length + padLen + 8)
    out(data.length) = 0x80.toByte
    var i = 0
    while (i < 8) { out(out.length - 8 + i) = ((bitLen >>> (8 * i)) & 0xff).toByte; i += 1 }
    out
  }

  private def leBytes(words: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](words.length * 4)
    var i = 0
    while (i < out.length) { out(i) = ((words(i / 4) >>> (8 * (i % 4))) & 0xff).toByte; i += 1 }
    out
  }

  /** RLP (public Ethereum wire spec): nested lists of byte
    * arrays/strings/longs ↔ bytes. */
  private[script] def rlpEncode(v: Any): Array[Byte] = v match {
    case b: Array[Byte] =>
      if (b.length == 1 && (b(0) & 0xff) < 0x80) b
      else rlpLen(b.length, 0x80) ++ b
    case s: String => rlpEncode(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case l: Long =>
      rlpEncode(if (l == 0) Array.empty[Byte]
        else java.math.BigInteger.valueOf(l).toByteArray.dropWhile(_ == 0))
    case items: Vector[Any @unchecked] =>
      val body = items.flatMap(rlpEncode).toArray
      rlpLen(body.length, 0xc0) ++ body
    case o => throw new IllegalArgumentException(s"RLP on $o")
  }

  private def rlpLen(n: Int, base: Int): Array[Byte] =
    if (n <= 55) Array((base + n).toByte)
    else {
      val lenBytes = java.math.BigInteger.valueOf(n.toLong).toByteArray.dropWhile(_ == 0)
      Array((base + 55 + lenBytes.length).toByte) ++ lenBytes
    }

  private[script] def rlpDecode(data: Array[Byte]): (Any, Int) = {
    val b0 = data(0) & 0xff
    if (b0 < 0x80) (Array(data(0)), 1)
    else if (b0 <= 0xb7) {
      val n = b0 - 0x80
      (data.slice(1, 1 + n), 1 + n)
    } else if (b0 <= 0xbf) {
      val ll = b0 - 0xb7
      val n = new java.math.BigInteger(1, data.slice(1, 1 + ll)).intValueExact()
      (data.slice(1 + ll, 1 + ll + n), 1 + ll + n)
    } else {
      val (ll, n) =
        if (b0 <= 0xf7) (0, b0 - 0xc0)
        else {
          val l = b0 - 0xf7
          (l, new java.math.BigInteger(1, data.slice(1, 1 + l)).intValueExact())
        }
      var off = 1 + ll
      val end = 1 + ll + n
      val items = Vector.newBuilder[Any]
      while (off < end) {
        val (item, used) = rlpDecode(data.slice(off, end))
        items += item
        off += used
      }
      (items.result(), end)
    }
  }

  private[script] def ecParams(curve: String): java.security.spec.ECParameterSpec = {
    val ap = java.security.AlgorithmParameters.getInstance("EC")
    ap.init(new java.security.spec.ECGenParameterSpec(curve))
    ap.getParameterSpec(classOf[java.security.spec.ECParameterSpec])
  }

  private def keyMap(st: State): Map[String, String] =
    st.pop().asInstanceOf[Map[Any, Any]]
      .map { case (k, v) => k.toString -> String.valueOf(v) }

  def register(words: WordTable): Unit = {
    // ---- digest tail (WarpScriptLib DIGEST registrations; the JDK
    // provider covers MD2 and the SHA-2/SHA-3 families)
    words("MD2", "SHA224", "SHA384", "SHA3.224", "SHA3.256", "SHA3.384",
      "SHA3.512") { (w, st, en) =>
      val algo = w match {
        case "MD2" => "MD2"
        case "SHA224" => "SHA-224"
        case "SHA384" => "SHA-384"
        case s => "SHA3-" + s.stripPrefix("SHA3.")
      }
      st.push(java.security.MessageDigest.getInstance(algo)
        .digest(en.popBytes(st)))
    }

    // KECCAK family (original 0x01 padding, as the reference's
    // BouncyCastle KeccakDigest — distinct from the JDK's SHA-3)
    words("KECCAK.128", "KECCAK.224", "KECCAK.256", "KECCAK.288", "KECCAK.384",
      "KECCAK.512") { (w, st, en) =>
      val bits = w.stripPrefix("KECCAK.").toInt
      st.push(keccak(en.popBytes(st), bits))
    }

    words("MD4") { (w, st, en) => st.push(md4(en.popBytes(st))) }
    words("WHIRLPOOL") { (w, st, en) => st.push(Whirlpool.digest(en.popBytes(st))) }
    words("TIGER") { (w, st, en) => st.push(Tiger.digest(en.popBytes(st))) }
    words("GOST") { (w, st, en) => st.push(Gost3411.digest(en.popBytes(st))) }

    // ARGON2 (fn ARGON2, script/functions/ARGON2.java): parameter
    // map {type/iterations/memory/parallelism/salt/secret/additional/
    // size/password} → tag bytes; same capability-gated limits as the
    // reference (argon2.maxiter/maxmem/maxpar/maxsize, defaults
    // 3/32KB/1/32)
    words("ARGON2") { (w, st, en) =>
      val m = st.pop() match {
        case mm: Map[Any @unchecked, Any @unchecked] => mm
        case o => throw new IllegalArgumentException(s"ARGON2 expects a map: $o")
      }
      def bytesOf(k: String): Array[Byte] = m.get(k) match {
        case Some(b: Array[Byte]) => b
        case Some(s: String) => s.getBytes("UTF-8")
        case _ => Array.emptyByteArray
      }
      def intOf(k: String, dflt: Int): Int = m.get(k) match {
        case Some(l: Long) => l.toInt
        case _ => dflt
      }
      def capGate(value: Int, dflt: Int, cap: String): Unit =
        if (value > dflt) {
          val limit = st.caps.getOrElse(cap, throw new IllegalArgumentException(
            s"ARGON2 missing capability '$cap'."))
          require(value <= limit.toLong,
            s"ARGON2 parameter exceeds capability '$cap' value.")
        }
      val tpe = String.valueOf(m.getOrElse("type", "id")) match {
        case "i" | "I" => Argon2.TypeI
        case "d" | "D" => Argon2.TypeD
        case _ => Argon2.TypeId
      }
      val iters = intOf("iterations", 3)
      val memKb = intOf("memory", 32)
      val par = intOf("parallelism", 1)
      val size = intOf("size", 32)
      capGate(iters, 3, "argon2.maxiter")
      capGate(memKb, 32, "argon2.maxmem")
      capGate(par, 1, "argon2.maxpar")
      capGate(size, 32, "argon2.maxsize")
      st.push(Argon2.hash(tpe, bytesOf("password"), bytesOf("salt"),
        bytesOf("secret"), bytesOf("additional"), iters, memKb, par, size))
    }
    words("RIPEMD160") { (w, st, en) => st.push(ripemd160(en.popBytes(st))) }
    words("RIPEMD128") { (w, st, en) => st.push(ripemd128(en.popBytes(st))) }
    words("RIPEMD256") { (w, st, en) => st.push(ripemd256(en.popBytes(st))) }
    words("RIPEMD320") { (w, st, en) => st.push(ripemd320(en.popBytes(st))) }

    // RLP arrows (public Ethereum recursive-length-prefix spec)
    words("->RLP") { (w, st, en) => st.push(rlpEncode(st.pop())) }
    words("RLP->") { (w, st, en) =>
      st.push(rlpDecode(st.pop().asInstanceOf[Array[Byte]])._1)
    }

    // keyed HMAC words (fn/SHA1HMAC.java, SHA256HMAC: data key →
    // mac bytes)
    words("SHA1HMAC", "SHA256HMAC") { (w, st, en) =>
      val key = en.popBytes(st)
      val data = en.popBytes(st)
      val algo = if (w == "SHA1HMAC") "HmacSHA1" else "HmacSHA256"
      st.push(graft.sources.Compress.hmacBytes(key, data, algo))
    }

    // HASH (fn/HASH.java): SipHash-2-4 of bytes/string under an
    // optional (k0, k1) LONG pair — default key (0, 0) stands in for
    // the platform's configured class-hash key
    words("HASH") { (w, st, en) =>
      var top = st.pop()
      var k0 = 0L; var k1 = 0L
      top match {
        case l: Long =>
          k1 = l; k0 = st.popLong(); top = st.pop()
        case _ =>
      }
      val data = top match {
        case b: Array[Byte] => b
        case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        case o => throw new IllegalArgumentException(s"HASH on $o")
      }
      st.push(sipHash24(k0, k1, data))
    }

    // ---- compression stack forms (fn/GZIP.java family over the
    // columnar Compress twins)
    words("GZIP") { (w, st, en) => st.push(graft.sources.Compress.gzipBytes(en.popBytes(st))) }
    words("UNGZIP") { (w, st, en) =>
      st.push(graft.sources.Compress.gunzipBytes(st.pop().asInstanceOf[Array[Byte]]))
    }
    words("DEFLATE") { (w, st, en) =>
      st.push(graft.sources.Compress.deflateBytes(en.popBytes(st)))
    }
    words("INFLATE") { (w, st, en) =>
      st.push(graft.sources.Compress.inflateBytes(st.pop().asInstanceOf[Array[Byte]]))
    }

    // ---- EC suite (fn/ECGEN.java, ECPRIVATE, ECPUBLIC, ECSIGN,
    // ECVERIFY, ECDH): JDK named curves; key maps carry
    // { 'curve', 'd' } (private scalar) / { 'curve', 'q' } (public
    // point, uncompressed hex), mirroring the reference's parameter
    // maps (Constants.KEY_CURVE / KEY_D / KEY_Q)
    words("ECGEN") { (w, st, en) =>
      val curve = st.popStr()
      val kpg = java.security.KeyPairGenerator.getInstance("EC")
      kpg.initialize(new java.security.spec.ECGenParameterSpec(curve))
      val kp = kpg.generateKeyPair()
      val priv = kp.getPrivate.asInstanceOf[java.security.interfaces.ECPrivateKey]
      val pub = kp.getPublic.asInstanceOf[java.security.interfaces.ECPublicKey]
      val fieldBytes = (priv.getParams.getCurve.getField.getFieldSize + 7) / 8
      def fix(bi: java.math.BigInteger): String = {
        val raw = bi.toByteArray.dropWhile(_ == 0)
        ("00" * (fieldBytes - raw.length)) + raw.map("%02x".format(_)).mkString
      }
      val q = "04" + fix(pub.getW.getAffineX) + fix(pub.getW.getAffineY)
      st.push(Map[Any, Any]("curve" -> curve, "d" -> priv.getS.toString))
      st.push(Map[Any, Any]("curve" -> curve, "q" -> q))
    }
    words("ECPRIVATE") { (w, st, en) =>
      val params = keyMap(st)
      val spec = new java.security.spec.ECPrivateKeySpec(
        new java.math.BigInteger(params("d")), ecParams(params("curve")))
      st.push(java.security.KeyFactory.getInstance("EC").generatePrivate(spec))
    }
    words("ECPUBLIC") { (w, st, en) =>
      val params = keyMap(st)
      val qHex = params("q")
      require(qHex.startsWith("04"), "ECPUBLIC expects an uncompressed point")
      val body = qHex.substring(2)
      val half = body.length / 2
      val x = new java.math.BigInteger(body.substring(0, half), 16)
      val y = new java.math.BigInteger(body.substring(half), 16)
      val spec = new java.security.spec.ECPublicKeySpec(
        new java.security.spec.ECPoint(x, y), ecParams(params("curve")))
      st.push(java.security.KeyFactory.getInstance("EC").generatePublic(spec))
    }
    // data alg key ECSIGN → DER signature bytes (e.g.
    // 'SHA256WITHECDSA', as the reference's BouncyCastle alg names)
    words("ECSIGN") { (w, st, en) =>
      val key = st.pop().asInstanceOf[java.security.PrivateKey]
      val alg = st.popStr().toUpperCase.replace("WITHECDSA", "withECDSA")
      val data = en.popBytes(st)
      val sig = java.security.Signature.getInstance(alg)
      sig.initSign(key); sig.update(data)
      st.push(sig.sign())
    }
    words("ECVERIFY") { (w, st, en) =>
      val key = st.pop().asInstanceOf[java.security.PublicKey]
      val alg = st.popStr().toUpperCase.replace("WITHECDSA", "withECDSA")
      val signature = st.pop().asInstanceOf[Array[Byte]]
      val data = en.popBytes(st)
      val sig = java.security.Signature.getInstance(alg)
      sig.initVerify(key); sig.update(data)
      st.push(sig.verify(signature))
    }
    // private public ECDH → shared secret as unpadded hex of the
    // agreed X coordinate (fn/ECDH.java: secret.toString(16))
    words("ECDH") { (w, st, en) =>
      val pub = st.pop().asInstanceOf[java.security.PublicKey]
      val priv = st.pop().asInstanceOf[java.security.PrivateKey]
      val ka = javax.crypto.KeyAgreement.getInstance("ECDH")
      ka.init(priv); ka.doPhase(pub, true)
      st.push(new java.math.BigInteger(1, ka.generateSecret()).toString(16))
    }
  }
}
