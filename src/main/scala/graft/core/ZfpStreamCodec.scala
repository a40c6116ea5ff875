package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** Transport-compression layer for river streams (reference C1):
  * validates a stream's `compression_params_json` against the schema,
  * compresses a write batch of packed samples into one blob entry, and
  * expands a blob back into per-sample packed payloads.
  *
  * Param shape follows the reference (`cpp/src/compression/
  * compressor.cpp:51-92`, writer.cpp:89-94):
  * `{"name": "ZFP_LOSSLESS", "params": {"num_cols": "4",
  * "data_type": "int16"}}` with data_type one of int16/int32/float/
  * double, or `{"name": "ZFP_LOSSY", "params": {..., "tolerance":
  * "20"}}` for fixed-accuracy mode (`compressor.cpp:59-64`: lossy
  * requires an explicit tolerance; the reference maps tolerance < 0 to
  * reversible). Unrecognized codecs (DUMMY etc.) are rejected loudly.
  *
  * Each `ZFP_LOSSY` stream writes one format, chosen by data type:
  * float and double batches are libzfp's fixed-accuracy layout
  * (|error| <= tolerance; a batch holding NaN or an infinity is
  * rejected), int16 and int32 batches are the reversible stream, byte
  * for byte the `ZFP_LOSSLESS` blob, because zfp's tolerance does not
  * apply to integer fields.
  *
  * Blob framing: 1 byte data_type code + the [[Zfp]] full-header stream
  * (nx = num_cols, ny = batch rows). The type byte exists because the
  * reference's int16 path compresses as a PROMOTED int32 field
  * (`zfp_compressor.cpp:107-123`), so the zfp header alone cannot
  * distinguish int16 from int32 at expansion time.
  */
object ZfpStreamCodec {

  /** `tolerance` None = reversible (lossless); Some(t >= 0) = zfp
    * fixed-accuracy mode for float and double (integer types ignore
    * it). */
  final case class Params(dataType: String, numCols: Int,
      tolerance: Option[Double] = None) {
    val width: Int = dataType match {
      case "int16" => 2
      case "int32" | "float" => 4
      case "double" => 8
    }
    val typeCode: Byte = dataType match {
      case "int16" => 0
      case "int32" => 1
      case "float" => 2
      case "double" => 3
    }
  }

  private val NameRe = """"name"\s*:\s*"([A-Za-z_]+)"""".r
  private val DataTypeRe = """"data_type"\s*:\s*"([A-Za-z0-9]+)"""".r
  private val NumColsRe = """"num_cols"\s*:\s*"?(\d+)"?""".r
  private val ToleranceRe =
    """"tolerance"\s*:\s*"?(-?[0-9]+(?:\.[0-9]+)?(?:[eE][-+]?[0-9]+)?)"?""".r
  private val LayoutRe = """"layout"\s*:""".r

  /** Parse + validate params against the stream schema. Returns None for
    * absent params (uncompressed). Throws loudly for unknown
    * compression or schema mismatch. */
  def validate(json: Option[String], schema: RiverSchema): Option[Params] =
    json.map { j =>
      val name = NameRe.findFirstMatchIn(j).map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(
          s"unrecognized compression params (no name): $j"))
      // tolerance: required for lossy (compressor.cpp:61 GetOrThrow);
      // the reference maps tolerance < 0 to reversible mode
      val tol: Option[Double] = name match {
        case "ZFP_LOSSLESS" => None
        case "ZFP_LOSSY" =>
          val t = ToleranceRe.findFirstMatchIn(j).map(_.group(1).toDouble)
            .getOrElse(throw new IllegalArgumentException(
              s"ZFP_LOSSY params missing tolerance: $j"))
          if (t < 0) None else Some(t)
        case other => throw new IllegalArgumentException(
          s"stream declares unsupported transport compression '$other'; " +
            "only ZFP_LOSSLESS and ZFP_LOSSY streams are readable")
      }
      val dt = DataTypeRe.findFirstMatchIn(j).map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(
          s"$name params missing data_type: $j"))
      val p = Params(dt, NumColsRe.findFirstMatchIn(j).map(_.group(1).toInt)
        .getOrElse(schema.fields.size), tol)
      val riverType = dt match {
        case "int16" => RiverType.Int16
        case "int32" => RiverType.Int32
        case "float" => RiverType.Float32
        case "double" => RiverType.Double64
        case other => throw new IllegalArgumentException(
          s"unsupported zfp data_type '$other'")
      }
      // the reference compressor is single-dtype over the packed row: the
      // whole sample must be num_cols scalars of data_type
      require(schema.fields.forall(_.tpe == riverType),
        s"zfp compression requires a uniform $dt schema; " +
          s"got ${schema.fields.map(_.tpe).mkString(", ")}")
      require(p.numCols == schema.fields.size,
        s"num_cols ${p.numCols} != schema field count ${schema.fields.size}")
      p
    }

  /** [[validate]] for a stream being created. Also rejects a "layout"
    * key: the lossy layout is fixed, and a caller who asked for a wire
    * format must not silently get another one. Readers ignore the key. */
  def validateNew(json: Option[String], schema: RiverSchema)
      : Option[Params] = {
    json.foreach(j => require(LayoutRe.findFirstIn(j).isEmpty,
      "the ZFP_LOSSY layout is fixed (libzfp's fixed-accuracy layout for " +
        "float and double, the reversible stream for int16 and int32); " +
        s"""drop "layout" from the params: $j"""))
    validate(json, schema)
  }

  /** Compress one write batch (packed fixed-width samples) to a framed
    * blob. */
  def compressBatch(p: Params, samples: Seq[Array[Byte]]): Array[Byte] = {
    val n = samples.size
    val rowBytes = p.numCols * p.width
    val raw = new Array[Byte](n * rowBytes)
    var r = 0
    samples.foreach { s =>
      require(s.length == rowBytes,
        s"sample size ${s.length} != expected $rowBytes")
      System.arraycopy(s, 0, raw, r * rowBytes, rowBytes)
      r += 1
    }
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val blob = p.dataType match {
      case "int16" =>
        val a = new Array[Short](n * p.numCols)
        bb.asShortBuffer().get(a)
        Zfp.compressInt16(a, p.numCols, n)
      case "int32" =>
        val a = new Array[Int](n * p.numCols)
        bb.asIntBuffer().get(a)
        Zfp.compressInt32(a, p.numCols, n)
      case "float" =>
        val a = new Array[Float](n * p.numCols)
        bb.asFloatBuffer().get(a)
        p.tolerance.fold(Zfp.compressFloat(a, p.numCols, n))(
          Zfp.compressFloatLossy(a, p.numCols, n, _))
      case "double" =>
        val a = new Array[Double](n * p.numCols)
        bb.asDoubleBuffer().get(a)
        p.tolerance.fold(Zfp.compressDouble(a, p.numCols, n))(
          Zfp.compressDoubleLossy(a, p.numCols, n, _))
      case other =>
        // ZfpParams validates dataType at construction; loud here too so
        // a future params change can't fall through to silent garbage
        sys.error(s"zfp codec: unsupported dataType $other")
    }
    val out = new Array[Byte](blob.length + 1)
    out(0) = p.typeCode
    System.arraycopy(blob, 0, out, 1, blob.length)
    out
  }

  /** Expand a framed blob into per-sample packed payloads. Self-contained:
    * the type byte + zfp header carry everything needed: the header's
    * mode selects the reversible or the accuracy decode (see
    * [[Zfp.decompress]]). */
  def expand(framed: Array[Byte]): Array[Array[Byte]] = {
    val typeCode = framed(0)
    val blob = java.util.Arrays.copyOfRange(framed, 1, framed.length)
    typeCode match {
      case 0 =>
        val (nx, ny, a) = Zfp.decompressInt16(blob)
        sliceRows(ny, nx * 2) { (bb, row) =>
          var c = 0
          while (c < nx) { bb.putShort(a(row * nx + c)); c += 1 }
        }
      case 1 =>
        val Zfp.DecodedInt32(nx, ny, a) = Zfp.decompress(blob): @unchecked
        sliceRows(ny, nx * 4) { (bb, row) =>
          var c = 0
          while (c < nx) { bb.putInt(a(row * nx + c)); c += 1 }
        }
      case 2 =>
        val Zfp.DecodedFloat(nx, ny, a) = Zfp.decompress(blob): @unchecked
        sliceRows(ny, nx * 4) { (bb, row) =>
          var c = 0
          while (c < nx) { bb.putFloat(a(row * nx + c)); c += 1 }
        }
      case 3 =>
        val Zfp.DecodedDouble(nx, ny, a) = Zfp.decompress(blob): @unchecked
        sliceRows(ny, nx * 8) { (bb, row) =>
          var c = 0
          while (c < nx) { bb.putDouble(a(row * nx + c)); c += 1 }
        }
      case t => throw new IllegalArgumentException(
        s"corrupt compressed entry: unknown type code $t")
    }
  }

  private def sliceRows(ny: Int, rowBytes: Int)(
      fill: (ByteBuffer, Int) => Unit): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](ny)
    var row = 0
    while (row < ny) {
      val b = new Array[Byte](rowBytes)
      fill(ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN), row)
      out(row) = b
      row += 1
    }
    out
  }
}
