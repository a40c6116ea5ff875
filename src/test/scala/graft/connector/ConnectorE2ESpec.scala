package graft.connector

import java.nio.file.Files

import graft.core._
import graft.ingest.Ingester
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end connector fixtures from FIXTURES.md:
  * §1 per-type round trips through the store AND the DSv2 `river` scan,
  * §2 variable-width streams through store → DSv2 → ingester,
  * §3 multi-field packed struct offsets,
  * §7 derived-column expectations on ingested parquet.
  */
class ConnectorE2ESpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("connector-e2e")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def newRoot() = Files.createTempDirectory("graft-e2e-")

  test("per-type round trip: store write -> DSv2 read (FIXTURES §1)") {
    val root = newRoot()
    val store = new StreamStore(root)
    val schema = RiverSchema(Seq(
      RiverField("d", RiverType.Double64),
      RiverField("f", RiverType.Float32),
      RiverField("s", RiverType.Int16),
      RiverField("i", RiverType.Int32),
      RiverField("l", RiverType.Int64),
      RiverField("b", RiverType.FixedWidthBytes(3))))
    val w = store.createStream("types", schema)
    val rows: Seq[Seq[Any]] = (0 until 256).map { k =>
      Seq[Any](k.toDouble, k.toFloat, k.toShort, k, k.toLong,
        Array[Byte](k.toByte, (k + 1).toByte, (k + 2).toByte))
    }
    w.write(rows); w.stop()

    val df = spark.read.format("river")
      .option("root", root.toString).option("stream", "types").load()
    val got = df.orderBy("sample_index").collect()
    assert(got.length == 256)
    // spot-check value fidelity and derived columns on row 255
    val r = got(255)
    assert(r.getAs[Long]("sample_index") == 255L)
    assert(r.getAs[Double]("d") == 255.0)
    assert(r.getAs[Float]("f") == 255.0f)
    assert(r.getAs[Short]("s") == 255.toShort)
    assert(r.getAs[Int]("i") == 255)
    assert(r.getAs[Long]("l") == 255L)
    assert(r.getAs[Array[Byte]]("b").toSeq ==
      Seq(255.toByte, 0.toByte, 1.toByte))
    // keys strictly increasing (FIXTURES §7)
    val keys = got.map(x => StreamKey.parse(x.getAs[String]("key")))
    assert(keys.sliding(2).forall { case Array(a, b) => a < b })
  }

  test("DSv2 scan prunes SEGMENTS from pushed sample_index bounds and " +
      "reads only required columns") {
    import org.apache.spark.sql.functions.{col, max, min}
    val root = newRoot()
    val store = new StreamStore(root)
    val schema = RiverSchema(Seq(RiverField("v", RiverType.Double64)))
    val w = store.createStream("seg", schema, keysPerSegment = 100)
    w.write((0 until 1000).map(i => Seq[Any](i.toDouble))); w.stop()
    val df = spark.read.format("river")
      .option("root", root.toString).option("stream", "seg").load()
    // 10 segments on disk; [850, inf) overlaps exactly the last two
    val filtered = df.filter(col("sample_index") >= 850L)
      .select("sample_index", "v")
    assert(filtered.count() == 150)
    // partition-count assertions pin SEGMENT PRUNING, so force the
    // round-18 small-segment packing to one split per segment (open
    // cost alone fills a bin); the default-conf packing behavior has
    // its own test below
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4194304")
    try {
      assert(df.select("v").rdd.getNumPartitions == 10,
        "fixture broken: expected 10 segments")
      assert(filtered.rdd.getNumPartitions == 2,
        s"segment pruning lost: planned ${filtered.rdd.getNumPartitions} " +
          "partitions for a 2-segment range")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
    // default conf (128 MB splits, 4 MB open cost): ten KB-sized
    // segments pack into ONE split — the §6.1 file-packing rule — and
    // the read stays exact
    assert(df.select("v").rdd.getNumPartitions == 1,
      s"tiny segments not packed: ${df.select("v").rdd.getNumPartitions}")
    // column pruning reached the scan: its output is the required set
    val scan = filtered.queryExecution.executedPlan.collectLeaves().head
    assert(scan.output.map(_.name).toSet == Set("sample_index", "v"),
      s"scan reads ${scan.output.map(_.name)}")
    // bounds stay EXACT row-level (pushdown is advisory: everything is
    // residual-filtered by Spark, pruning only skips whole segments)
    val mm = filtered.agg(min("sample_index"), max("sample_index")).head()
    assert(mm.getLong(0) == 850L && mm.getLong(1) == 999L)
  }

  test("variable-width stream: store -> DSv2 -> ingester (FIXTURES §2)") {
    val root = newRoot()
    val out = newRoot()
    val store = new StreamStore(root)
    val schema = RiverSchema(Seq(
      RiverField("field1", RiverType.VariableWidthBytes(100))))
    val words = Seq("This", "is", "a", "test", "") // incl. empty
    val w = store.createStream("vw", schema)
    w.write(words.map(s => Seq[Any](s.getBytes("UTF-8"))))
    w.stop()

    // DSv2 read
    val df = spark.read.format("river")
      .option("root", root.toString).option("stream", "vw").load()
    val got = df.orderBy("sample_index")
      .collect().map(r => new String(r.getAs[Array[Byte]]("field1"), "UTF-8"))
    assert(got.toSeq == words)

    // ingester to parquet, read back
    val ing = new Ingester(spark, root, out)
    ing.ingestOnce("vw")
    val pq = spark.read.parquet(
      out.resolve("vw").resolve("data.parquet").toString)
    val back = pq.orderBy("sample_index")
      .collect().map(r => new String(r.getAs[Array[Byte]]("field1"), "UTF-8"))
    assert(back.toSeq == words)
    assert(pq.columns.toSeq.take(3) ==
      Seq("sample_index", "key", "timestamp_ms"))
  }

  test("variable-width sample larger than declared max is rejected") {
    val store = new StreamStore(newRoot())
    val schema = RiverSchema(Seq(
      RiverField("field1", RiverType.VariableWidthBytes(4))))
    val w = store.createStream("vwmax", schema)
    intercept[IllegalArgumentException] {
      w.write(Seq(Seq[Any]("too long".getBytes("UTF-8"))))
    }
  }

  test("live stream: micro-batch drain while the writer is appending") {
    // exercises the frame-aligned offset path: a concurrent writer's
    // buffered flushes can land mid-frame, and per-trigger offsets must
    // never split a frame. One writer thread appends in jittery bursts
    // while a ProcessingTime-triggered query drains to parquet; the
    // landed rows must be gapless and complete.
    val root = newRoot()
    val out = newRoot()
    val store = new StreamStore(root)
    val schema = RiverSchema(Seq(RiverField("v", RiverType.Int64)))
    val Total = 20000
    // created before the reader resolves the source: a stream the
    // writer thread had not made yet failed the schema lookup
    val w = store.createStream("live", schema)
    val writer = new Thread(() => {
      val rnd = new java.util.Random(7)
      var i = 0
      while (i < Total) {
        val m = math.min(1 + rnd.nextInt(700), Total - i)
        w.write((0 until m).map(k => Seq[Any]((i + k).toLong)))
        i += m
        Thread.sleep(rnd.nextInt(5).toLong)
      }
      w.stop()
    })
    writer.start()

    val q = spark.readStream.format("river")
      .option("root", root.toString).option("stream", "live")
      .load()
      .writeStream.format("parquet")
      .option("path", out.resolve("data").toString)
      .option("checkpointLocation", out.resolve("cp").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    writer.join(120000)
    assert(!writer.isAlive)
    // drain the tail (incl. EOF): the writer has stopped, so offsets
    // stabilize and processAllAvailable returns (a fixed sleep raced
    // co-tenant contention and flaked)
    q.processAllAvailable()
    q.stop()
    // a last AvailableNow pass picks up anything after the final trigger
    val q2 = spark.readStream.format("river")
      .option("root", root.toString).option("stream", "live")
      .load()
      .writeStream.format("parquet")
      .option("path", out.resolve("data").toString)
      .option("checkpointLocation", out.resolve("cp").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q2.awaitTermination(120000), "AvailableNow drain did not finish")

    val df = spark.read.parquet(out.resolve("data").toString)
    val n = df.count()
    assert(n == Total, s"landed $n of $Total")
    val idx = df.select("sample_index").collect().map(_.getLong(0)).sorted
    assert(idx.head == 0L && idx.last == Total - 1 &&
      idx.distinct.length == Total)
    val vals = df.select("v").collect().map(_.getLong(0)).sorted
    assert(vals.toSeq == (0L until Total.toLong))
  }

  test("AvailableNow pins the frontier: mid-run appends are next run's " +
      "data; append-mode watermark closure fires (r13 contract)") {
    val root = newRoot()
    val store = new StreamStore(root)
    val schema = RiverSchema(Seq(
      RiverField("ts", RiverType.Int64),
      RiverField("v", RiverType.Double64)))
    val w = store.createStream("evt", schema)
    val hourNs = 3600L * 1000000000L
    // 3 full hours of events, 4 per hour
    val rows: Seq[Seq[Any]] = (0 until 12).map(k =>
      Seq[Any](k / 4 * hourNs + (k % 4) * 60L * 1000000000L, k.toDouble))
    w.write(rows)

    // unit-level pinning contract on the stream itself
    val mbs = new graft.connector.RiverMicroBatchStream(root.toString,
      "evt", schema, null)
    mbs.prepareForTriggerAvailableNow()
    val pinned = mbs.latestOffset(null,
      org.apache.spark.sql.connector.read.streaming.ReadLimit
        .allAvailable())
    w.write(Seq(Seq[Any](99L * hourNs, 99.0))) // mid-run append
    assert(mbs.latestOffset(null,
      org.apache.spark.sql.connector.read.streaming.ReadLimit
        .allAvailable()).json == pinned.json,
      "admission-controlled offset moved past the pinned frontier")
    assert(mbs.reportLatestOffset().json != pinned.json,
      "live frontier should see the mid-run append")
    w.stop()

    // e2e: append-mode windows close (needs the trailing no-data batch)
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val stream = s.readStream.format("river")
      .option("root", root.toString).option("stream", "evt").load()
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("event_time", "1 hour")
      .groupBy(window($"event_time", "1 hour"))
      .agg(count(lit(1)).as("n"))
    val out = graft.streaming.StreamingOps
      .drain(s, stream, "e2e_an_close", "append")
      .select(unix_timestamp($"window.start").as("ws"), $"n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // final watermark = 99h - 1h; hours 0,1,2 closed (4 events each),
    // the watermark-donor event's own hour-99 window is NOT closed
    assert(out == Map(0L -> 4L, 3600L -> 4L, 7200L -> 4L))
  }

  test("parallel sweep ingests multiple streams concurrently (I1)") {
    val root = newRoot()
    val out = newRoot()
    val store = new StreamStore(root)
    val schema = RiverSchema(Seq(RiverField("v", RiverType.Int64)))
    (1 to 3).foreach { k =>
      val w = store.createStream(s"s$k", schema)
      w.write((0 until 100 * k).map(i => Seq[Any](i.toLong)))
      w.stop()
    }
    val ing = new graft.ingest.Ingester(spark, root, out)
    val counts = ing.sweep(parallelism = 3)
    assert(counts == Map("s1" -> 100L, "s2" -> 200L, "s3" -> 300L))
    (1 to 3).foreach { k =>
      val df = spark.read.parquet(
        out.resolve(s"s$k").resolve("data.parquet").toString)
      assert(df.count() == 100L * k)
    }
  }

  test("timestamp columns map to INT64 epoch nanos through the sink") {
    // RiverSchema.fromStructType maps TimestampType/TimestampNTZType to
    // Int64 (river has no timestamp type — the reference stores time as
    // plain int64, ingester.cpp:318-326), and the writer scales Spark's
    // internal MICROS to the engine's nanos contract at pack time. A
    // timestamp-typed DataFrame must round-trip as nanos longs.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val root = newRoot()
    val micros = 1704164645123456L // 2024-01-02T03:04:05.123456 UTC
    Seq((1L, micros), (2L, micros + 5L)).toDF("event_id", "us")
      .select($"event_id", expr("timestamp_micros(us)").as("ts"))
      .orderBy($"event_id").coalesce(1)
      .write.format("river")
      .option("root", root.toString).option("stream", "tsrt")
      .mode("append").save()
    val back = spark.read.format("river")
      .option("root", root.toString).option("stream", "tsrt").load()
      .select($"event_id", $"ts").orderBy($"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(back.toSeq == Seq(
      (1L, micros * 1000L), (2L, (micros + 5L) * 1000L)),
      s"timestamp round trip wrong: ${back.toSeq}")
  }

  test("schemaJson guard on an existing stream is ORDER-INSENSITIVE: " +
      "the same name->type set declared in a different field order is " +
      "NOT a conflict (the writer resolves fields by name — any " +
      "failure must be the write-once contract, reported as such); a " +
      "real type conflict still fails loudly at plan time") {
    val s = spark
    import s.implicits._
    val root = newRoot()
    def chainOf(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    def write(df: org.apache.spark.sql.DataFrame, json: String): Unit =
      df.write.format("river")
        .option("root", root.toString).option("stream", "guard")
        .option("schemaJson", json).mode("append").save()
    val fwd = RiverSchema(Seq(
      RiverField("d", RiverType.Double64),
      RiverField("i", RiverType.Int32))).toJson
    val rev = RiverSchema(Seq(
      RiverField("i", RiverType.Int32),
      RiverField("d", RiverType.Double64))).toJson
    write(Seq((1.5, 10)).toDF("d", "i").coalesce(1), fwd) // creates
    // a second write against the existing stream, derived columns
    // supplied so analysis resolves; declaring the SAME schema in
    // REVERSED order must sail past the conflict guard and fail only
    // on the single-writer write-once contract
    val again = Seq((1L, "k", 0L, 2.5, 20))
      .toDF("sample_index", "key", "timestamp_ms", "d", "i").coalesce(1)
    val eOrder = intercept[Exception] { write(again, rev) }
    val orderChain = chainOf(eOrder)
    assert(!orderChain.contains("conflicting"),
      s"order-only re-declare misreported as a schema conflict: " +
        s"$orderChain")
    assert(orderChain.contains("write once") ||
      orderChain.contains("already exists"),
      s"expected the write-once contract failure, got: $orderChain")
    // a genuine conflict (type change) is still rejected by the guard
    val bad = RiverSchema(Seq(
      RiverField("d", RiverType.Double64),
      RiverField("i", RiverType.Int64))).toJson
    val eBad = intercept[Exception] {
      // df matches the stored schema (so output resolution passes);
      // only the DECLARED schemaJson conflicts — the guard's job
      write(Seq((1L, "k", 0L, 3.5, 30))
        .toDF("sample_index", "key", "timestamp_ms", "d", "i")
        .coalesce(1), bad)
    }
    assert(chainOf(eBad).contains("conflicting"),
      s"wrong failure for a type conflict: ${chainOf(eBad)}")
    // the stream survives both rejected writes intact
    val back = spark.read.format("river")
      .option("root", root.toString).option("stream", "guard").load()
      .select($"d", $"i").collect().map(r => (r.getDouble(0), r.getInt(1)))
    assert(back.toSeq == Seq((1.5, 10)), s"stream corrupted: ${back.toSeq}")
  }

  test("multi-field packed struct offsets (FIXTURES §3)") {
    val schema = RiverSchema(Seq(
      RiverField("field1", RiverType.Int32),
      RiverField("field2", RiverType.Int32),
      RiverField("field3", RiverType.Int64)))
    val codec = new RowCodec(schema)
    val packed = codec.pack(Seq[Any](1, 2, 3L))
    assert(packed.length == 16)
    assert(codec.unpack(packed) == Seq(1, 2, 3L))
    // little-endian field order: 01.., 02.., 03..
    assert(packed(0) == 1.toByte && packed(4) == 2.toByte &&
      packed(8) == 3.toByte)
  }
}
