package graft.ingest

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.core.{RiverField, RiverSchema, RiverType, StreamStore}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A part that `ingestOnce` writes on the driver is the part a Spark
  * write job would have written: for every river field type, and for a
  * ZFP-compressed stream, the rows, the Spark schema, the parquet file
  * schema, the compression codec, the footer's key-value metadata, each
  * column chunk's encodings and the footer's sample_index bounds match a
  * reference written inside this spec through a
  * `coalesce(1).sortWithinPartitions` Spark write of the same scan. A
  * session with a non-default codec pins where the codec is read from.
  */
class IngestPartParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("ingest-part-parity")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def value(t: RiverType, i: Int): Any = t match {
    case RiverType.Double64 => i * 0.25 - 3.0
    case RiverType.Float32 => (i * 0.5f) - 1.0f
    case RiverType.Int16 => ((i * 37) % 30000 - 15000).toShort
    case RiverType.Int32 => i * 1013 - 7
    case RiverType.Int64 => i.toLong * 1000003L - 11L
    case RiverType.FixedWidthBytes(n) => Array.tabulate[Byte](n)(j => (i + j).toByte)
    case RiverType.VariableWidthBytes(_) => Array.tabulate[Byte](i % 17)(j => (i * j).toByte)
  }

  /** The single parquet file of a part dir. */
  private def file(dir: Path): Path = {
    val fs = dir.toFile.listFiles().filter(f =>
      !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(fs.length == 1, s"$dir holds ${fs.map(_.getName).mkString(",")}")
    fs.head.toPath
  }

  private def footer(f: Path) = {
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toUri), new Configuration()))
    try rd.getFooter finally rd.close()
  }

  private def rowsOf(dir: Path): Seq[Seq[Any]] =
    spark.read.parquet(dir.toString).collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    })

  /** Ingest `n` rows of a fresh live stream, write the reference from
    * the same scan, and compare the two parts. Returns both files. */
  private def compare(name: String, rs: RiverSchema, n: Int,
      settings: IngestSettings = IngestSettings(trimConsumedSegments = false),
      compression: Option[String] = None): (Path, Path) = {
    val storeRoot = Files.createTempDirectory("graft-parity-store-")
    val outRoot = Files.createTempDirectory("graft-parity-out-")
    val store = new StreamStore(storeRoot)
    val w = store.createStream(name, rs, compressionParamsJson = compression)
    w.write((0 until n).map(i => rs.fields.map(f => value(f.tpe, i))))
    val ing = new Ingester(spark, storeRoot, outRoot, settings)
    assert(ing.ingestOnce(name) == n)
    val part = outRoot.resolve(name).resolve("data_0000000000.parquet")

    // the Spark write the driver path replaced
    val ref = outRoot.resolve(s"ref_$name")
    val cols = Seq("sample_index", "key", "timestamp_ms") ++
      rs.fields.map(_.name).filter(settings.keepColumn)
    val df = spark.read.format("river")
      .option("root", storeRoot.toString).option("stream", name).load()
      .filter(col("sample_index") > -1L)
      .select(cols.map(col): _*)
    val wr = df.coalesce(1).sortWithinPartitions("sample_index").write
    settings.bytesPerRowGroup.fold(wr)(b =>
      wr.option("parquet.block.size", b.toString)).parquet(ref.toString)

    assert(rowsOf(part) == rowsOf(ref), s"$name: rows differ")
    assert(spark.read.parquet(part.toString).schema ==
      spark.read.parquet(ref.toString).schema, s"$name: Spark schema")
    val (fp, fr) = (footer(file(part)), footer(file(ref)))
    assert(fp.getFileMetaData.getSchema == fr.getFileMetaData.getSchema,
      s"$name: parquet schema ${fp.getFileMetaData.getSchema} vs " +
        fr.getFileMetaData.getSchema)
    def codecs(m: org.apache.parquet.hadoop.metadata.ParquetMetadata) =
      m.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
    assert(codecs(fp) == codecs(fr), s"$name: compression codec")
    val kv = fp.getFileMetaData.getKeyValueMetaData.asScala
    assert(kv == fr.getFileMetaData.getKeyValueMetaData.asScala,
      s"$name: footer key-value metadata")
    assert(kv.contains("org.apache.spark.version") &&
      kv.contains("org.apache.spark.sql.parquet.row.metadata"),
      s"$name: Spark's footer keys missing from ${kv.keys}")
    def encodings(m: org.apache.parquet.hadoop.metadata.ParquetMetadata) =
      m.getBlocks.asScala.map(_.getColumns.asScala.map(c =>
        c.getPath.toDotString -> c.getEncodings.asScala.toSet))
    assert(encodings(fp) == encodings(fr), s"$name: column chunk encodings")
    def bounds(m: org.apache.parquet.hadoop.metadata.ParquetMetadata) = {
      val st = m.getBlocks.asScala.map(_.getColumns.asScala
        .find(_.getPath.toDotString == "sample_index").get.getStatistics)
      (st.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
        st.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max)
    }
    assert(bounds(fp) == ((0L, n - 1L)), s"$name: footer bounds")
    assert(bounds(fp) == bounds(fr))
    (file(part), file(ref))
  }

  private val types: Seq[RiverType] = Seq(RiverType.Double64,
    RiverType.Float32, RiverType.Int16, RiverType.Int32, RiverType.Int64,
    RiverType.FixedWidthBytes(12), RiverType.VariableWidthBytes(64))

  types.foreach { t =>
    test(s"a driver-written part matches a Spark-written one: ${t.wireName}") {
      compare(t.wireName.toLowerCase,
        RiverSchema(Seq(RiverField("v", t))), 500)
    }
  }

  test("a driver-written part matches a Spark-written one: ZFP_LOSSLESS " +
      "stream, with a blacklisted column pruned") {
    compare("zfp", RiverSchema(Seq(RiverField("v", RiverType.Double64))),
      700, compression = Some("""{"name":"ZFP_LOSSLESS",""" +
        """"params":{"num_cols":"1","data_type":"double"}}"""))
    compare("pruned", RiverSchema(Seq(RiverField("v", RiverType.Int32),
      RiverField("debug_x", RiverType.Int64))), 300,
      IngestSettings(trimConsumedSegments = false,
        columnBlacklist = Some("debug_.*")))
  }

  test("a driver-written part takes its codec from the session: zstd") {
    val key = "spark.sql.parquet.compression.codec"
    spark.conf.set(key, "zstd")
    try {
      val (part, _) = compare("zstd",
        RiverSchema(Seq(RiverField("v", RiverType.Double64))), 500)
      assert(part.getFileName.toString.endsWith(".zstd.parquet"), part)
      val codecs = footer(part).getBlocks.asScala
        .flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
      assert(codecs == Set(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.ZSTD))
    } finally spark.conf.unset(key)
  }

  test("a session codec change between two sweeps of one Ingester " +
      "changes the next part's codec") {
    val key = "spark.sql.parquet.compression.codec"
    val storeRoot = Files.createTempDirectory("graft-parity-store-")
    val outRoot = Files.createTempDirectory("graft-parity-out-")
    val rs = RiverSchema(Seq(RiverField("v", RiverType.Double64)))
    val w = new StreamStore(storeRoot).createStream("codec", rs)
    val ing = new Ingester(spark, storeRoot, outRoot,
      IngestSettings(trimConsumedSegments = false))
    def sweep(from: Int, codec: String): Path = {
      w.write((from until from + 100).map(i =>
        Seq[Any](value(RiverType.Double64, i))))
      spark.conf.set(key, codec)
      try assert(ing.ingestOnce("codec") == 100) finally spark.conf.unset(key)
      file(outRoot.resolve("codec").resolve(f"data_${from / 100}%010d.parquet"))
    }
    def codecs(f: Path) = footer(f).getBlocks.asScala
      .flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
    val (p0, p1) = (sweep(0, "gzip"), sweep(100, "zstd"))
    assert(p0.getFileName.toString.endsWith(".gz.parquet"), p0)
    assert(p1.getFileName.toString.endsWith(".zstd.parquet"), p1)
    assert(codecs(p0) == Set(
      org.apache.parquet.hadoop.metadata.CompressionCodecName.GZIP))
    assert(codecs(p1) == Set(
      org.apache.parquet.hadoop.metadata.CompressionCodecName.ZSTD))
  }

  test("a small bytesPerRowGroup still splits a driver-written part into " +
      "several row groups") {
    val (part, ref) = compare("rg",
      RiverSchema(Seq(RiverField("v", RiverType.Int64))), 20000,
      IngestSettings(trimConsumedSegments = false,
        bytesPerRowGroup = Some(16384L)))
    val groups = footer(part).getBlocks.size
    assert(groups > 1, s"one row group at bytesPerRowGroup=16384")
    assert(groups == footer(ref).getBlocks.size)
  }
}
