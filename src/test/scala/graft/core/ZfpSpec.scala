package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Round-trip correctness of the JVM zfp reversible codec, mirroring the
  * reference's compressor tests (`cpp/src/tests/compressor_test.cpp:
  * 108-144`): the sine fixture (64 samples x 4096 channels, int16-scaled
  * sines — formula from `compressor_test.cpp:12-23`) must round-trip
  * bit-exactly for int16/float/double and compress to <= 90% of raw.
  * Plus partial-block shapes, adversarial values (the reinterpret
  * fallback), and header parsing.
  */
class ZfpSpec extends AnyFunSuite {

  private val nCh = 4096
  private val nSamp = 64

  /** compressor_test.cpp:12-23: sin(freqs * t / 10 + phases) * 2^14 as
    * int16, channels fastest (row-major t x ch). */
  private def sines(): Array[Short] = {
    val out = new Array[Short](nSamp * nCh)
    var t = 0
    while (t < nSamp) {
      var c = 0
      while (c < nCh) {
        val phase = math.Pi * c / (nCh - 1)
        val freq = 1.0 + 9.0 * c / (nCh - 1)
        out(t * nCh + c) =
          (math.sin(freq * t / 10.0 + phase) * 16384.0).toShort
        c += 1
      }
      t += 1
    }
    out
  }

  test("int16 sine fixture: exact round trip, <= 90% of raw") {
    val data = sines()
    val blob = Zfp.compressInt16(data, nCh, nSamp)
    assert(blob.length <= (0.9 * data.length * 2).toInt,
      s"compressed ${blob.length} of raw ${data.length * 2}")
    val (nx, ny, back) = Zfp.decompressInt16(blob)
    assert(nx == nCh && ny == nSamp)
    assert(java.util.Arrays.equals(back, data))
  }

  test("float sine fixture: exact round trip, <= 90% of raw") {
    val data = sines().map(_.toFloat)
    val blob = Zfp.compressFloat(data, nCh, nSamp)
    assert(blob.length <= (0.9 * data.length * 4).toInt)
    val Zfp.DecodedFloat(nx, ny, back) =
      Zfp.decompress(blob): @unchecked
    assert(nx == nCh && ny == nSamp)
    assert(java.util.Arrays.equals(back, data))
  }

  test("double sine fixture: exact round trip, <= 90% of raw") {
    val data = sines().map(_.toDouble)
    val blob = Zfp.compressDouble(data, nCh, nSamp)
    assert(blob.length <= (0.9 * data.length * 8).toInt)
    val Zfp.DecodedDouble(nx, ny, back) =
      Zfp.decompress(blob): @unchecked
    assert(nx == nCh && ny == nSamp)
    assert(java.util.Arrays.equals(back, data))
  }

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  test("lossless sine fixture blobs are byte-pinned for all four types") {
    val data = sines()
    val got = Seq(
      "int16" -> Zfp.compressInt16(data, nCh, nSamp),
      "int32" -> Zfp.compressInt32(data.map(_.toInt), nCh, nSamp),
      "float" -> Zfp.compressFloat(data.map(_.toFloat), nCh, nSamp),
      "double" -> Zfp.compressDouble(data.map(_.toDouble), nCh, nSamp))
      .map { case (t, b) => t -> sha256(b) }.toMap
    assert(got == LosslessSinePins, s"lossless bytes drifted: $got")
  }

  /** True sines, every mantissa bit live (not int16-truncated). */
  private def fullMantissaSines(): Array[Double] =
    Array.tabulate(nSamp * nCh) { i =>
      val (t, c) = (i / nCh, i % nCh)
      math.sin((1.0 + 9.0 * c / (nCh - 1)) * t / 10.0 +
        math.Pi * c / (nCh - 1)) * 16384.0
    }

  test("lossy float and double blobs are byte-pinned") {
    val d = fullMantissaSines()
    val got = Map(
      "float" -> sha256(Zfp.compressFloatLossy(
        d.map(_.toFloat), nCh, nSamp, 20.0)),
      "double" -> sha256(Zfp.compressDoubleLossy(d, nCh, nSamp, 0.5)))
    assert(got == LossySinePins, s"lossy bytes drifted: $got")
  }

  private val LosslessSinePins = Map(
    "int16" -> "dc275bf4224b034738996f5db21000d9bd88515b46e00e758d91d5aefc166598",
    "int32" -> "5cb33d6a5e5ade31b3aa706b8e290be8c3603501e1143e5115aadddb0bab3592",
    "float" -> "5860fbe3c881f550a1a6a098774d3b427ec8ce0b88df804bd01e38da301132d7",
    "double" -> "4549ac15b36ebe95f6a1d866237975ea60f8003de77f50949cea4d7d28d27e37")
  private val LossySinePins = Map(
    "float" -> "77bf13af97710a5d4a201d9279764797dbb2f282cf5040f0bf2043ff0e7b19e7",
    "double" -> "47b454f8786b1525c7c522bc42a5b0ed8cc896d72404dc004dc99a93a972ccf4")

  test("int32 round trip across partial-block shapes") {
    val rng = new scala.util.Random(7)
    for ((nx, ny) <- Seq((1, 1), (1, 7), (3, 4), (5, 5), (4, 4), (17, 9))) {
      val data = Array.fill(nx * ny)(rng.nextInt())
      val blob = Zfp.compressInt32(data, nx, ny)
      val Zfp.DecodedInt32(rx, ry, back) = Zfp.decompress(blob): @unchecked
      assert(rx == nx && ry == ny)
      assert(java.util.Arrays.equals(back, data), s"shape ($nx, $ny)")
    }
  }

  test("random int32 data round trips (incompressible worst case)") {
    val rng = new scala.util.Random(11)
    val data = Array.fill(128 * 32)(rng.nextInt())
    val blob = Zfp.compressInt32(data, 128, 32)
    val Zfp.DecodedInt32(_, _, back) = Zfp.decompress(blob): @unchecked
    assert(java.util.Arrays.equals(back, data))
  }

  test("adversarial doubles round trip via the reinterpret fallback") {
    // NaN / infinities / subnormals / wide dynamic range defeat the
    // block-floating-point conversion; blocks must fall back to raw-bit
    // reinterpretation and still round-trip to identical BITS
    val data = Array[Double](
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, -Double.MinPositiveValue,
      1e308, -1e308, 1e-300, math.Pi, -math.E,
      -0.0, 1.0, -1.0, 1e-8, 123456789.123456789, Double.MaxValue)
    val blob = Zfp.compressDouble(data, 4, 4)
    val Zfp.DecodedDouble(_, _, back) = Zfp.decompress(blob): @unchecked
    assert(back.length == data.length)
    for (i <- data.indices)
      assert(
        java.lang.Double.doubleToRawLongBits(back(i)) ==
          java.lang.Double.doubleToRawLongBits(data(i)),
        s"index $i: ${back(i)} != ${data(i)}")
  }

  test("adversarial floats round trip via the reinterpret fallback") {
    val data = Array[Float](
      Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      Float.MinPositiveValue, 3.4e38f, -3.4e38f, 1e-40f, math.Pi.toFloat,
      -0f, 1f, -1f, 1e-8f, 12345.678f, -0.001f, 2f, Float.MaxValue)
    val blob = Zfp.compressFloat(data, 4, 4)
    val Zfp.DecodedFloat(_, _, back) = Zfp.decompress(blob): @unchecked
    for (i <- data.indices)
      assert(
        java.lang.Float.floatToRawIntBits(back(i)) ==
          java.lang.Float.floatToRawIntBits(data(i)),
        s"index $i: ${back(i)} != ${data(i)}")
  }

  test("negative zero keeps its sign bit among plain values") {
    // regression: a -0.0 among ordinary values scales to integer 0 and
    // +0.0f == -0.0f under IEEE !=, so a value-equality exactness check
    // kept such blocks on the block-floating-point path and decode
    // returned +0.0 — the one bit pattern that path cannot represent.
    // The encoder must bit-compare and take the reinterpret fallback.
    val f = Array[Float](1f, 2f, 3f, -0f, 5f, 6f, 7f, 8f,
      9f, 10f, 11f, 12f, 13f, 14f, 15f, 16f)
    val Zfp.DecodedFloat(_, _, backF) =
      Zfp.decompress(Zfp.compressFloat(f, 4, 4)): @unchecked
    assert(java.lang.Float.floatToRawIntBits(backF(3)) ==
      java.lang.Float.floatToRawIntBits(-0f))
    val d = f.map(_.toDouble)
    val Zfp.DecodedDouble(_, _, backD) =
      Zfp.decompress(Zfp.compressDouble(d, 4, 4)): @unchecked
    assert(java.lang.Double.doubleToRawLongBits(backD(3)) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
  }

  test("int16 demotion clamps like the reference") {
    // zfp_compressor.cpp:163-166: (int32 >> 15) clamped to int16 range.
    // Promoted values are exact multiples of 2^15, so lossless round
    // trips never clamp; this exercises the demote helper directly via
    // a full-range fixture.
    val data = Array[Short](Short.MinValue, -1, 0, 1, Short.MaxValue,
      1000, -1000, 42, 0, 0, 0, 0, 0, 0, 0, 0)
    val blob = Zfp.compressInt16(data, 4, 4)
    val (_, _, back) = Zfp.decompressInt16(blob)
    assert(java.util.Arrays.equals(back, data))
  }

  test("header: expert (long) mode payloads are rejected loudly") {
    val blob = Zfp.compressInt32(Array.fill(16)(1), 4, 4)
    val r = new Zfp.BitReader(blob)
    val h = Zfp.readHeader(r)
    assert(h.reversible && h.tpe == Zfp.TypeInt32 && h.nx == 4 && h.ny == 4)
    val w = new Zfp.BitWriter
    w.writeBits('z'.toLong, 8); w.writeBits('f'.toLong, 8)
    w.writeBits('p'.toLong, 8); w.writeBits(5L, 8)
    w.writeBits((((3L << 24) | 3L) << 4) | (1L << 2) | 0L, 52)
    w.writeBits(0xfffL, 12)  // expert mode marker: 64-bit mode follows
    w.writeBits(0x123456L, 52)
    val expert = w.toBytes
    val ex = intercept[IllegalArgumentException](Zfp.decompress(expert))
    assert(ex.getMessage.contains("expert"))
  }

  // ---------------------------------------------- fixed-accuracy mode

  /** Pearson correlation, the reference lossy test's acceptance metric
    * (compressor_test.cpp:156-167). */
  private def corr(a: Array[Double], b: Array[Double]): Double = {
    val ma = a.sum / a.length
    val mb = b.sum / b.length
    var num = 0.0; var da = 0.0; var db = 0.0
    for (i <- a.indices) {
      num += (a(i) - ma) * (b(i) - mb)
      da += (a(i) - ma) * (a(i) - ma)
      db += (b(i) - mb) * (b(i) - mb)
    }
    num / math.sqrt(da) / math.sqrt(db)
  }

  test("lossy float sine fixture, tolerance 20: the reference's bounds") {
    // TestZfpLossy_Float (compressor_test.cpp:147-167): tolerance 20,
    // compressed to < 90% of raw, correlation >= 0.95. Plus zfp's
    // accuracy guarantee: |err| <= tol.
    val data = sines().map(_.toFloat)
    val blob = Zfp.compressFloatLossy(data, nCh, nSamp, 20.0)
    assert(blob.length <= (0.9 * data.length * 4).toInt,
      s"lossy compressed ${blob.length} of raw ${data.length * 4}")
    val Zfp.DecodedFloat(nx, ny, back) = Zfp.decompress(blob): @unchecked
    assert(nx == nCh && ny == nSamp)
    val maxErr = data.indices.map(i => math.abs(back(i) - data(i))).max
    assert(maxErr <= 20.0f, s"max abs err $maxErr > tolerance")
    val c = corr(data.map(_.toDouble), back.map(_.toDouble))
    assert(c >= 0.95, s"correlation $c < 0.95")
  }

  test("lossy full-mantissa floats: truncation beats lossless size") {
    // true sines (not int16-truncated): every mantissa bit is live, so
    // reversible mode must code ~all planes while tolerance-20 truncation
    // drops the low half
    val data = fullMantissaSines().map(_.toFloat)
    val lossy = Zfp.compressFloatLossy(data, nCh, nSamp, 20.0)
    val lossless = Zfp.compressFloat(data, nCh, nSamp)
    assert(lossy.length < (0.6 * lossless.length).toInt,
      s"lossy ${lossy.length} not well under lossless ${lossless.length}")
    val Zfp.DecodedFloat(_, _, back) = Zfp.decompress(lossy): @unchecked
    val maxErr = data.indices.map(i => math.abs(back(i) - data(i))).max
    assert(maxErr <= 20.0f, s"max abs err $maxErr > tolerance")
    assert(corr(data.map(_.toDouble), back.map(_.toDouble)) >= 0.95)
  }

  test("lossy double sine fixture, tolerance 1: bounded error") {
    val data = sines().map(_.toDouble)
    val blob = Zfp.compressDoubleLossy(data, nCh, nSamp, 1.0)
    assert(blob.length <= (0.9 * data.length * 8).toInt)
    val Zfp.DecodedDouble(_, _, back) = Zfp.decompress(blob): @unchecked
    val maxErr = data.indices.map(i => math.abs(back(i) - data(i))).max
    assert(maxErr <= 1.0, s"max abs err $maxErr > tolerance")
    assert(corr(data, back) >= 0.95)
  }

  test("lossy int16/int32: integer fields ignore tolerance, exact trip") {
    // zfp applies its tolerance to floating-point fields only, so a
    // ZFP_LOSSY integer batch is the reversible stream: byte for byte
    // the ZFP_LOSSLESS blob (the reference's default-lossy ephys int16
    // case decodes bit-exact)
    val data = sines()
    def rows(width: Int)(put: (java.nio.ByteBuffer, Int) => Unit) =
      (0 until nSamp).map { t =>
        val bb = java.nio.ByteBuffer.allocate(nCh * width)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until nCh).foreach(c => put(bb, t * nCh + c))
        bb.array()
      }
    for ((dt, width, tol) <- Seq(("int16", 2, 20.0), ("int32", 4, 0.5))) {
      val samples = rows(width) { (bb, i) =>
        if (width == 2) bb.putShort(data(i)) else bb.putInt(data(i).toInt)
      }
      val lossy = ZfpStreamCodec.compressBatch(
        ZfpStreamCodec.Params(dt, nCh, Some(tol)), samples)
      val lossless = ZfpStreamCodec.compressBatch(
        ZfpStreamCodec.Params(dt, nCh), samples)
      assert(java.util.Arrays.equals(lossy, lossless),
        s"lossy $dt blob differs from the lossless blob")
      val back = ZfpStreamCodec.expand(lossy)
      assert(back.indices.forall(t =>
        java.util.Arrays.equals(back(t), samples(t))), s"$dt round trip")
    }
  }

  test("lossy float: blocks entirely below tolerance decode to zeros") {
    // emax far under minexp drives precision() to 0: a single 0 bit
    val data = Array.fill(64)(1e-6f)
    val blob = Zfp.compressFloatLossy(data, 8, 8, 20.0)
    val Zfp.DecodedFloat(_, _, back) = Zfp.decompress(blob): @unchecked
    assert(back.forall(_ == 0f))
    // and well under the tolerance bound by construction
    assert(data.indices.forall(i => math.abs(back(i) - data(i)) <= 20.0f))
  }

  test("lossy tolerance-to-minexp map matches zfp_stream_set_accuracy") {
    assert(Zfp.minexpForTolerance(20.0) == 4)   // 16 <= 20 < 32
    assert(Zfp.minexpForTolerance(16.0) == 4)   // exact power of two
    assert(Zfp.minexpForTolerance(1.0) == 0)
    assert(Zfp.minexpForTolerance(0.25) == -2)
    assert(Zfp.minexpForTolerance(0.0) == Zfp.ZfpMinExp)
    // subnormal tolerances: getExponent alone pins at -1023; the frexp
    // rescale must recover the true exponent down to ZFP_MIN_EXP
    assert(Zfp.minexpForTolerance(java.lang.Double.MIN_NORMAL) == -1022)
    assert(Zfp.minexpForTolerance(java.lang.Double.MIN_NORMAL / 2) == -1023)
    assert(Zfp.minexpForTolerance(math.pow(2, -1030)) == -1030)
    assert(Zfp.minexpForTolerance(java.lang.Double.MIN_VALUE) == -1074)
  }

  test("lossy float and double reject NaN and infinities, naming the " +
      "column and row") {
    val f = Array.tabulate(32)(_.toFloat)
    f(13) = Float.NaN
    val ef = intercept[IllegalArgumentException](
      Zfp.compressFloatLossy(f, 4, 8, 0.5))
    assert(ef.getMessage.contains("column 1, row 3"), ef.getMessage)
    val d = Array.tabulate(32)(_.toDouble)
    d(30) = Double.NegativeInfinity
    val ed = intercept[IllegalArgumentException](
      Zfp.compressDoubleLossy(d, 4, 8, 0.5))
    assert(ed.getMessage.contains("column 2, row 7"), ed.getMessage)
  }

  test("header: a codec version other than 5 is rejected loudly, the " +
      "retired 0x85 lossy marker included") {
    val data = Array.tabulate(64)(i => (math.sin(i / 3.0) * 100).toFloat)
    val lossy = Zfp.compressFloatLossy(data, 8, 8, 0.5)
    assert(lossy(3) == 5, "accuracy streams carry the plain version byte")
    val marked = lossy.clone()
    marked(3) = 0x85.toByte
    val e = intercept[IllegalArgumentException](Zfp.decompress(marked))
    assert(e.getMessage.contains("unsupported codec version 133"),
      e.getMessage)
  }

  test("header: an accuracy-mode int32 stream is rejected loudly") {
    val w = new Zfp.BitWriter
    w.writeBits('z'.toLong, 8); w.writeBits('f'.toLong, 8)
    w.writeBits('p'.toLong, 8); w.writeBits(5L, 8)
    w.writeBits((((3L << 24) | 3L) << 4) | (1L << 2) | 0L, 52) // int32
    w.writeBits(1074L, 12) // accuracy mode, minexp 0
    w.writeBits(0L, 64)
    val e = intercept[IllegalArgumentException](Zfp.decompress(w.toBytes))
    assert(e.getMessage.contains("fixed-accuracy int32"), e.getMessage)
  }

  test("std layout: double sine within tolerance and smaller than " +
      "lossless") {
    val data = sines().map(_.toDouble)
    val tol = 1.0
    val blob = Zfp.compressDoubleLossy(data, nCh, nSamp, tol)
    val Zfp.DecodedDouble(nx, ny, back) = Zfp.decompress(blob): @unchecked
    assert(nx == nCh && ny == nSamp)
    var maxErr = 0.0
    data.indices.foreach { i =>
      maxErr = math.max(maxErr, math.abs(back(i) - data(i)))
    }
    assert(maxErr <= tol, s"std double accuracy error $maxErr > $tol")
    // size sanity: far below raw, and monotone in tolerance. (Lossless
    // reversible can still win on THIS fixture — whole-integer doubles
    // are its best case via the trailing-zero elision — so raw and
    // tolerance-monotonicity are the meaningful bars.)
    assert(blob.length < data.length * 8 / 4,
      "std accuracy stream should be well below raw size")
    val looser = Zfp.compressDoubleLossy(data, nCh, nSamp, 100.0)
    assert(looser.length < blob.length,
      "a looser tolerance must not enlarge the std stream")
  }

  test("std layout: partial-block shapes and all-below-tolerance zeros") {
    for ((nx, ny) <- Seq((1, 1), (3, 5), (4, 4), (5, 3), (7, 9), (13, 2))) {
      val data = Array.tabulate(nx * ny)(i => math.sin(i / 2.0) * 10.0)
      val Zfp.DecodedDouble(bx, by, back) =
        Zfp.decompress(Zfp.compressDoubleLossy(data, nx, ny, 0.01)): @unchecked
      assert(bx == nx && by == ny)
      data.indices.foreach { i =>
        assert(math.abs(back(i) - data(i)) <= 0.01, s"shape ($nx,$ny) i=$i")
      }
    }
    // a block entirely below tolerance codes as the single-bit zero block
    val tiny = Array.fill(16)(1.0e-9)
    val Zfp.DecodedDouble(_, _, z) =
      Zfp.decompress(Zfp.compressDoubleLossy(tiny, 4, 4, 1.0)): @unchecked
    assert(z.forall(_ == 0.0), "below-tolerance std block must decode to 0")
  }

  test("corrupt header dimensions are rejected before allocation") {
    // dims live in the 52-bit meta field (bits 32..83 of the stream =
    // bytes 4..10 after the 4-byte magic). Craft a valid tiny blob,
    // then rewrite meta to claim 2^24-1 x 2^24-1 (Int-overflowing
    // product) and, separately, plausible-but-unpayable dims.
    val good = Zfp.compressInt32(Array.tabulate(16)(identity), 4, 4)
    def withMeta(nx: Long, ny: Long): Array[Byte] = {
      val b = good.clone()
      val meta = (nx - 1) << 28 | (ny - 1) << 4 | (1L << 2) | 0L // int32
      var bit = 0
      while (bit < 52) { // meta is written LSB-first starting at bit 32
        val abs = 32 + bit
        val byteI = abs / 8; val bitI = abs % 8
        b(byteI) = ((b(byteI) & ~(1 << bitI)) |
          (((meta >>> bit) & 1L).toInt << bitI)).toByte
        bit += 1
      }
      b
    }
    // sanity: the crafting round-trips the original dims
    val Zfp.DecodedInt32(n4x, n4y, _) =
      Zfp.decompress(withMeta(4, 4)): @unchecked
    assert(n4x == 4 && n4y == 4)
    // Int-overflowing nx * ny
    val e1 = intercept[IllegalArgumentException](Zfp.decompress(
      withMeta((1 << 24) - 1, (1 << 24) - 1)))
    assert(e1.getMessage.contains("dimensions"), e1.getMessage)
    // 1000 x 1000 = 62.5k claimed blocks vs a few hundred stream bits
    val e2 = intercept[IllegalArgumentException](
      Zfp.decompress(withMeta(1000, 1000)))
    assert(e2.getMessage.contains("blocks"), e2.getMessage)
  }

  test("trailing junk bytes after the payload are ignored") {
    // the reference slices its buffer with +96 junk tail bytes
    // (zfp_compressor.cpp:129-133 adds the header BIT count to bytes)
    val data = sines()
    val blob = Zfp.compressInt16(data, nCh, nSamp)
    val padded = blob ++ Array.fill[Byte](96)(0x5a)
    val (_, _, back) = Zfp.decompressInt16(padded)
    assert(java.util.Arrays.equals(back, data))
  }
}
