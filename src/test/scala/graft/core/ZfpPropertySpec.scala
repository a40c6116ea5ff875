package graft.core

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property layer over the fixture-based [[ZfpSpec]]: the
  * fixtures pin the reference shapes (`compressor_test.cpp`), these pin
  * the ALGEBRA — any shape × any bit pattern round-trips losslessly,
  * and fixed-accuracy mode never exceeds zfp's |error| <= tolerance
  * bound. Seeded, so failures reproduce.
  */
class ZfpPropertySpec extends AnyFunSuite {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(120)
    .withInitialSeed(Seed(20260813L))

  private def check(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  private val shapeGen: Gen[(Int, Int)] = for {
    nx <- Gen.choose(1, 12)
    ny <- Gen.choose(1, 40)
  } yield (nx, ny)

  test("property: int16 lossless round trip, any shape x any values") {
    check(Prop.forAll(shapeGen.flatMap { case (nx, ny) =>
      Gen.containerOfN[Array, Short](nx * ny,
          Gen.chooseNum(Short.MinValue, Short.MaxValue))
        .map(d => (nx, ny, d))
    }) { case (nx, ny, data) =>
      val (rx, ry, back) = Zfp.decompressInt16(Zfp.compressInt16(data, nx, ny))
      rx == nx && ry == ny && java.util.Arrays.equals(back, data)
    })
  }

  test("property: int32 lossless round trip, full value range") {
    check(Prop.forAll(shapeGen.flatMap { case (nx, ny) =>
      Gen.containerOfN[Array, Int](nx * ny,
          Gen.chooseNum(Int.MinValue, Int.MaxValue))
        .map(d => (nx, ny, d))
    }) { case (nx, ny, data) =>
      val Zfp.DecodedInt32(rx, ry, back) =
        Zfp.decompress(Zfp.compressInt32(data, nx, ny)): @unchecked
      rx == nx && ry == ny && java.util.Arrays.equals(back, data)
    })
  }

  test("property: float lossless round trip over the FULL bit space") {
    // raw int bits -> float covers NaN payloads, infinities, subnormals
    // and every exponent — the reinterpret fallback must keep BITS
    check(Prop.forAll(shapeGen.flatMap { case (nx, ny) =>
      Gen.containerOfN[Array, Float](nx * ny,
          Gen.chooseNum(Int.MinValue, Int.MaxValue)
            .map(java.lang.Float.intBitsToFloat))
        .map(d => (nx, ny, d))
    }) { case (nx, ny, data) =>
      val Zfp.DecodedFloat(rx, ry, back) =
        Zfp.decompress(Zfp.compressFloat(data, nx, ny)): @unchecked
      rx == nx && ry == ny &&
      data.indices.forall(i =>
        java.lang.Float.floatToRawIntBits(back(i)) ==
          java.lang.Float.floatToRawIntBits(data(i)))
    })
  }

  test("property: double lossless round trip over the FULL bit space") {
    check(Prop.forAll(shapeGen.flatMap { case (nx, ny) =>
      Gen.containerOfN[Array, Double](nx * ny,
          Gen.chooseNum(Long.MinValue, Long.MaxValue)
            .map(java.lang.Double.longBitsToDouble))
        .map(d => (nx, ny, d))
    }) { case (nx, ny, data) =>
      val Zfp.DecodedDouble(rx, ry, back) =
        Zfp.decompress(Zfp.compressDouble(data, nx, ny)): @unchecked
      rx == nx && ry == ny &&
      data.indices.forall(i =>
        java.lang.Double.doubleToRawLongBits(back(i)) ==
          java.lang.Double.doubleToRawLongBits(data(i)))
    })
  }

  test("property: lossy float error is within 4 x tolerance") {
    // a ZFP_LOSSY float stream's batch path (row packing, type byte,
    // accuracy decode). 4 x tolerance was the bound of the deleted graft
    // layout; the one layout left meets zfp's tighter |error| <=
    // tolerance, and that is what is asserted
    val tolGen = Gen.oneOf(0.5, 1.0, 20.0, 100.0)
    check(Prop.forAll(shapeGen.flatMap { case (nx, ny) =>
      for {
        tol <- tolGen
        d <- Gen.containerOfN[Array, Float](nx * ny,
          Gen.chooseNum(-1.0e6f, 1.0e6f))
      } yield (nx, ny, tol, d)
    }) { case (nx, ny, tol, data) =>
      val rows = data.grouped(nx).map { r =>
        val bb = java.nio.ByteBuffer.allocate(4 * nx)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        r.foreach(bb.putFloat)
        bb.array()
      }.toSeq
      val back = ZfpStreamCodec.expand(ZfpStreamCodec.compressBatch(
          ZfpStreamCodec.Params("float", nx, Some(tol)), rows))
        .flatMap { row =>
          val fb = java.nio.ByteBuffer.wrap(row)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
          Array.fill(nx)(fb.get())
        }
      back.length == data.length &&
        data.indices.forall(i => math.abs(back(i) - data(i)) <= tol)
    })
  }

  test("property: std-layout lossy double error is within tolerance") {
    // the standard libzfp accuracy layout (non-orthogonal transform,
    // plain plane coder): zfp's documented accuracy guarantee is
    // |error| <= tolerance for finite inputs
    val tolGen = Gen.oneOf(0.01, 0.5, 1.0, 20.0, 100.0)
    check(Prop.forAll(shapeGen.flatMap { case (nx, ny) =>
      for {
        tol <- tolGen
        d <- Gen.containerOfN[Array, Double](nx * ny,
          Gen.chooseNum(-1.0e6, 1.0e6))
      } yield (nx, ny, tol, d)
    }) { case (nx, ny, tol, data) =>
      val Zfp.DecodedDouble(_, _, back) =
        Zfp.decompress(
          Zfp.compressDoubleLossy(data, nx, ny, tol)): @unchecked
      data.indices.forall(i => math.abs(back(i) - data(i)) <= tol)
    })
  }

  test("property: std-layout lossy float error is within tolerance") {
    val tolGen = Gen.oneOf(0.5, 1.0, 20.0, 100.0)
    check(Prop.forAll(shapeGen.flatMap { case (nx, ny) =>
      for {
        tol <- tolGen
        d <- Gen.containerOfN[Array, Float](nx * ny,
          Gen.chooseNum(-1.0e6f, 1.0e6f))
      } yield (nx, ny, tol, d)
    }) { case (nx, ny, tol, data) =>
      val Zfp.DecodedFloat(_, _, back) =
        Zfp.decompress(
          Zfp.compressFloatLossy(data, nx, ny, tol)): @unchecked
      data.indices.forall(i => math.abs(back(i) - data(i)) <= tol)
    })
  }

  test("property: lossy integer streams ignore tolerance, exact trip") {
    check(Prop.forAll(shapeGen.flatMap { case (nx, ny) =>
      Gen.containerOfN[Array, Short](nx * ny,
          Gen.chooseNum(Short.MinValue, Short.MaxValue))
        .map(d => (nx, ny, d))
    }) { case (nx, ny, data) =>
      // a ZFP_LOSSY int16 batch is byte for byte the lossless blob
      val rows = data.grouped(nx).map { r =>
        val bb = java.nio.ByteBuffer.allocate(2 * nx)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        r.foreach(bb.putShort)
        bb.array()
      }.toSeq
      val lossy = ZfpStreamCodec.compressBatch(
        ZfpStreamCodec.Params("int16", nx, Some(20.0)), rows)
      java.util.Arrays.equals(lossy, ZfpStreamCodec.compressBatch(
          ZfpStreamCodec.Params("int16", nx), rows)) &&
        java.util.Arrays.equals(
          Zfp.decompressInt16(lossy.drop(1))._3, data)
    })
  }
}
