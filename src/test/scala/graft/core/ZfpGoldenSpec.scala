package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Golden-byte fixtures for the STANDARD-layout (libzfp) accuracy-mode
  * coder: the expected bitstreams below are derived BY HAND from the
  * published zfp format — independently re-assembled here with a
  * minimal LSB-first bit packer, never by calling the production coder
  * — and pinned byte-exact, so the std layout is locked against drift
  * even though no libzfp binary exists in this sandbox to diff against
  * (the MatBridgeSpec golden-byte pattern). Reference writer analog:
  * cpp/src/compression/zfp_compressor.cpp:48-134.
  *
  * Derivation for the constant 4x4 double field, all values 1.0,
  * tolerance 2^-10 (each step is the published algorithm):
  *
  *  1. HEADER (full): magic 'z','f','p', codec 5; 52-bit meta = ((((nx-1)<<24 | (ny-1)) << 2) | dims-1)
  *     << 2 | (type - int32) with nx=ny=4, dims=2, double=3;
  *     12-bit short mode = minexp - ZFP_MIN_EXP.
  *  2. zfp_stream_set_accuracy: tolerance 2^-10 -> minexp = -10
  *     (frexp exponent - 1), mode = -10 + 1074 = 1064.
  *  3. Block floating point: emax(1.0) = 1 (frexp convention), so the
  *     12-bit block header is 2*(emax+1023)+1 = 2049 (flag LSB = 1 set
  *     for a nonzero block, biased exponent above). Scale s =
  *     2^(62-emax) = 2^61: every iblock value = 2^61 exactly.
  *  4. Decorrelating lift (zfp fwd_lift, rows then columns): a
  *     CONSTANT 4-vector (a,a,a,a) maps to (a,0,0,0) —
  *       x+=w;x>>=1;w-=x  -> x=a, w=0
  *       z+=y;z>>=1;y-=z  -> z=a, y=0
  *       x+=z;x>>=1;z-=x  -> x=a, z=0
  *       w+=y;w>>=1;y-=w; w+=y>>1;y-=w>>1 -> w=y=0
  *     so the 2D transform leaves ONE DC coefficient 2^61, rest 0.
  *  5. Negabinary (u = (x+m)^m, m = 0xaaaa...aaaa): bit 61 of m is
  *     set, so the add carries into bit 62: u = 2^62 | 2^61.
  *  6. Precision: maxprec = min(64, emax - minexp + 2*(dims+1))
  *     = min(64, 1+10+6) = 17, so planes 63..47 are coded (kmin=47).
  *  7. Embedded plane coder (zfp encode_ints, group-tested):
  *       plane 63 (no bits set, n=0):       [0]
  *       plane 62 (DC bit set):             [1, 1, 0]
  *         (group-test 1, coeff-0 bit 1, next group-test 0; n -> 1)
  *       plane 61 (DC bit set, n=1):        [1, 0]
  *         (verbatim refinement bit, group-test 0)
  *       planes 60..47 (nothing set, n=1):  [0, 0] x 14
  *  8. Total 142 bits -> zero-padded to 3 LE 64-bit words = 24 bytes.
  */
class ZfpGoldenSpec extends AnyFunSuite {

  /** Minimal independent LSB-first/LE-word bit packer (NOT Zfp's
    * BitWriter — the point is two independent spellings of the spec).
    */
  private final class Packer {
    private val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(v: Long, m: Int): Unit =
      (0 until m).foreach(i => bits += ((v >>> i) & 1L).toInt)
    def bytes: Array[Byte] = {
      val words = (bits.size + 63) / 64
      val out = new Array[Byte](words * 8)
      bits.zipWithIndex.foreach { case (b, i) =>
        out(i / 8) = (out(i / 8) | (b << (i % 8))).toByte
      }
      out
    }
  }

  private def stdHeader(p: Packer, tpe: Long, mode: Long): Unit = {
    p.put('z'.toLong, 8); p.put('f'.toLong, 8); p.put('p'.toLong, 8)
    p.put(5L, 8) // codec version 5
    val meta = ((((3L << 24) | 3L) << 2) | 1L) << 2 | tpe // 4x4, 2D
    p.put(meta, 52)
    p.put(mode, 12)
  }

  test("std accuracy double, constant 1.0 block: byte-exact against the " +
      "hand-derived bitstream") {
    val p = new Packer
    stdHeader(p, tpe = 3L, mode = 1064L) // double; minexp -10 + 1074
    p.put(2049L, 12)                     // 2*(emax=1 + 1023) + 1
    p.put(0L, 1)                         // plane 63: empty group test
    p.put(1L, 1); p.put(1L, 1); p.put(0L, 1) // plane 62: DC becomes sig.
    p.put(1L, 1); p.put(0L, 1)           // plane 61: refinement + test
    (1 to 14).foreach { _ => p.put(0L, 1); p.put(0L, 1) } // planes 60..47
    val expected = p.bytes
    assert(expected.length == 24) // 142 bits -> 3 LE words

    val got = Zfp.compressDoubleLossy(
      Array.fill(16)(1.0), 4, 4, tolerance = 0.0009765625 /* 2^-10 */)
    assert(java.util.Arrays.equals(got, expected),
      s"encode drifted from the spec-derived stream:\n" +
        s"  got      ${got.map("%02x".format(_)).mkString}\n" +
        s"  expected ${expected.map("%02x".format(_)).mkString}")

    // and the EXPECTED bytes decode: a constant power-of-two block
    // reconstructs exactly (iblock 2^61, inverse scale 2^-61)
    Zfp.decompress(expected) match {
      case Zfp.DecodedDouble(nx, ny, data) =>
        assert(nx == 4 && ny == 4)
        data.foreach(v => assert(v == 1.0, s"reconstruction drifted: $v"))
      case other => fail(s"decoded wrong type: $other")
    }
  }

  test("std accuracy double, all-zero block: header + one clear bit") {
    // emax(0) = -1023 -> maxprec = min(64, max(0, -1023+10+6)) = 0 ->
    // the block is a single 0 flag bit; 97 bits -> 2 LE words
    val p = new Packer
    stdHeader(p, tpe = 3L, mode = 1064L)
    p.put(0L, 1)
    val expected = p.bytes
    assert(expected.length == 16)

    val got = Zfp.compressDoubleLossy(
      new Array[Double](16), 4, 4, tolerance = 0.0009765625)
    assert(java.util.Arrays.equals(got, expected))
    Zfp.decompress(expected) match {
      case Zfp.DecodedDouble(_, _, data) => data.foreach(v => assert(v == 0.0))
      case other => fail(s"decoded wrong type: $other")
    }
  }

  test("std accuracy float, constant 1.0 block: byte-exact against the " +
      "hand-derived bitstream") {
    // float twin of the double fixture: EBITS+1 = 9-bit block header
    // 2*(emax=1 + 127) + 1 = 257; scale 2^(30-emax) = 2^29 -> iblock =
    // 2^29; negabinary: bit 29 of 0xaaaaaaaa is SET (odd position), so
    // the add carries: u = 2^30 | 2^29; maxprec = min(32, 1+10+6) = 17
    // -> planes 31..15; DC bits at planes 30 and 29:
    //   plane 31: [0]; plane 30: [1,1,0]; plane 29: [1,0];
    //   planes 28..15 (14): [0,0]
    val p = new Packer
    stdHeader(p, tpe = 2L, mode = 1064L) // float
    p.put(257L, 9)
    p.put(0L, 1)
    p.put(1L, 1); p.put(1L, 1); p.put(0L, 1)
    p.put(1L, 1); p.put(0L, 1)
    (1 to 14).foreach { _ => p.put(0L, 1); p.put(0L, 1) }
    val expected = p.bytes
    assert(expected.length == 24) // 96+9+34 = 139 bits -> 3 LE words

    val got = Zfp.compressFloatLossy(
      Array.fill(16)(1.0f), 4, 4, tolerance = 0.0009765625)
    assert(java.util.Arrays.equals(got, expected),
      s"encode drifted from the spec-derived stream:\n" +
        s"  got      ${got.map("%02x".format(_)).mkString}\n" +
        s"  expected ${expected.map("%02x".format(_)).mkString}")
    Zfp.decompress(expected) match {
      case Zfp.DecodedFloat(_, _, data) =>
        data.foreach(v => assert(v == 1.0f))
      case other => fail(s"decoded wrong type: $other")
    }
  }
}
