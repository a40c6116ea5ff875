package graft.ingest

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.core.{RiverField, RiverSchema, RiverType, StreamStore}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Crash-injection matrix for the ingester's resume contract (I6):
  * every on-disk state a crash can leave — orphaned write temps, a
  * half-finished compaction, a finished compaction that died before
  * cleanup — must recover to EXACTLY rows 0..N-1 once, a COMPLETED
  * sidecar, and a deleted stream on the next sweep. The reference
  * documents the same write-temp-then-rename recovery
  * (ingester.cpp:808-829); the states here are constructed on disk
  * rather than by killing the JVM, which makes each window
  * deterministic.
  */
class CrashRecoverySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("crash-recovery")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val schema = RiverSchema(Seq(RiverField("v", RiverType.Double64)))

  /** Fresh store + out roots and an ingester over them. */
  private def fixture(): (StreamStore, Path, Ingester) = {
    val storeRoot = Files.createTempDirectory("graft-crash-store-")
    val outRoot = Files.createTempDirectory("graft-crash-out-")
    val ing = new Ingester(spark, storeRoot, outRoot,
      IngestSettings(trimConsumedSegments = false))
    (new StreamStore(storeRoot), outRoot, ing)
  }

  private def rows(from: Int, until: Int): Seq[Seq[Any]] =
    (from until until).map(i => Seq[Any](i.toDouble))

  /** The recovered dataset must be exactly rows 0..n-1, once each, with
    * a COMPLETED sidecar and the stream gone from the store. */
  private def assertRecovered(store: StreamStore, out: Path,
      stream: String, n: Int): Unit = {
    val dir = out.resolve(stream)
    val df = spark.read.parquet(dir.resolve("data.parquet").toString)
    assert(df.count() == n, "row count after recovery")
    assert(df.select("sample_index").distinct().count() == n,
      "duplicate sample_index after recovery")
    assert(df.agg(org.apache.spark.sql.functions.min("sample_index"),
      org.apache.spark.sql.functions.max("sample_index")).head() ==
      org.apache.spark.sql.Row(0L, (n - 1).toLong))
    val sidecar = new String(
      Files.readAllBytes(dir.resolve("metadata.json")), "UTF-8")
    assert(sidecar.contains("\"ingestion_status\":\"COMPLETED\""))
    assert(!store.streamExists(stream), "stream not deleted after EOF")
    // no write temps survive a completed ingest
    assert(!Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .exists(_.getName.startsWith(".tmp")), "orphan temp survived")
    // parts are compacted away (data.parquet is the final form)
    assert(!Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .exists(f => f.getName.startsWith("data_") &&
        f.getName.endsWith(".parquet")), "uncompacted part survived")
  }

  test("crash before part publish: orphan part-temp is overwritten") {
    val (store, out, ing) = fixture()
    val w = store.createStream("s", schema)
    w.write(rows(0, 100))
    // a crashed sweep left a garbage write-temp at the index the next
    // sweep will claim
    val dir = out.resolve("s")
    Files.createDirectories(dir.resolve(".tmp_data_0000000000.parquet"))
    Files.write(dir.resolve(".tmp_data_0000000000.parquet")
      .resolve("part-garbage"), Array[Byte](1, 2, 3))
    w.write(rows(100, 150)); w.stop()
    ing.ingestOnce("s")
    assertRecovered(store, out, "s", 150)
  }

  test("crash during compaction write: orphan merge-temp is overwritten") {
    val (store, out, ing) = fixture()
    val w = store.createStream("s", schema)
    w.write(rows(0, 120))
    ing.ingestOnce("s") // part 0 committed, stream still live
    val dir = out.resolve("s")
    Files.createDirectories(dir.resolve(".tmp_data.parquet"))
    Files.write(dir.resolve(".tmp_data.parquet").resolve("part-garbage"),
      Array[Byte](9, 9))
    w.write(rows(120, 200)); w.stop()
    ing.ingestOnce("s")
    assertRecovered(store, out, "s", 200)
  }

  test("crash after compaction move, before part cleanup: parts drop, " +
      "no wedge") {
    val (store, out, ing) = fixture()
    val w = store.createStream("s", schema)
    w.write(rows(0, 80))
    ing.ingestOnce("s") // part 0 committed
    val dir = out.resolve("s")
    // simulate the moved-but-not-cleaned window: merged file present AND
    // the part still on disk. (Before the recovery fix this wedged the
    // stream forever: every rerun hit refuse-to-overwrite and never
    // reached the COMPLETED sidecar.)
    copyDir(dir.resolve("data_0000000000.parquet"),
      dir.resolve("data.parquet"))
    w.stop() // EOF only, no new rows
    ing.ingestOnce("s")
    assertRecovered(store, out, "s", 80)
  }

  test("crash after compaction cleanup, before sidecar/stream delete: " +
      "no duplicate re-ingest") {
    val (store, out, ing) = fixture()
    val w = store.createStream("s", schema)
    w.write(rows(0, 90))
    ing.ingestOnce("s")
    val dir = out.resolve("s")
    // simulate a COMPLETED compaction whose process died before the
    // sidecar flip + stream delete: data.parquet holds everything, no
    // parts remain, the stream (with EOF) is still in the store
    Files.move(dir.resolve("data_0000000000.parquet"),
      dir.resolve("data.parquet"), StandardCopyOption.ATOMIC_MOVE)
    w.stop() // EOF only
    val ingested = ing.ingestOnce("s")
    // the frontier must come from data.parquet — a -1 frontier would
    // re-ingest all 90 rows into a duplicate part here
    assert(ingested == 0, s"re-ingested $ingested rows after compaction")
    assertRecovered(store, out, "s", 90)
  }

  test("merged-file frontier below the parts frontier refuses recovery " +
      "loudly") {
    val (store, out, ing) = fixture()
    val w = store.createStream("s", schema)
    w.write(rows(0, 50))
    ing.ingestOnce("s") // part 0: rows 0..49
    val dir = out.resolve("s")
    // a merged file that does NOT cover the parts (corruption, not a
    // crash window — compaction runs at EOF so a genuine crash always
    // leaves merged >= parts): recovery must refuse to drop the parts
    val tiny = spark.range(3).selectExpr("id as sample_index",
      "'k' as key", "id as timestamp_ms", "cast(id as double) as v")
    tiny.coalesce(1).write.parquet(dir.resolve("data.parquet").toString)
    w.stop()
    val e = intercept[IllegalArgumentException](ing.ingestOnce("s"))
    assert(e.getMessage.contains("not a superset"))
  }

  test("partitioned ingest: a crashed append's _temporary leftovers are " +
      "invisible to resume") {
    // the date-partitioned path appends through Spark's commit protocol;
    // a crash mid-append leaves task files under _temporary, which the
    // frontier read and later appends must ignore (no duplicate, no
    // phantom rows)
    val storeRoot = Files.createTempDirectory("graft-crash-store-")
    val outRoot = Files.createTempDirectory("graft-crash-out-")
    val ing = new Ingester(spark, storeRoot, outRoot,
      IngestSettings(trimConsumedSegments = false,
        datePartitionColumn = Some("ts")))
    val store = new StreamStore(storeRoot)
    val tsSchema = RiverSchema(Seq(RiverField("ts", RiverType.Int64)))
    val w = store.createStream("p", tsSchema)
    val dayNs = 86400L * 1000000000L
    w.write((0 until 50).map(i => Seq[Any](i.toLong * dayNs / 25)))
    ing.ingestOncePartitioned("p")
    // simulate the crashed second append: an uncommitted task file
    val dataDir = outRoot.resolve("p").resolve("data_parts")
    val tempDir = dataDir.resolve("_temporary").resolve("0")
    Files.createDirectories(tempDir)
    Files.write(tempDir.resolve("task-garbage"), Array[Byte](1, 2, 3))
    w.write((50 until 80).map(i => Seq[Any](i.toLong * dayNs / 25)))
    w.stop()
    val n2 = ing.ingestOncePartitioned("p")
    assert(n2 == 30, s"resumed append ingested $n2 rows, expected 30")
    val df = spark.read.parquet(dataDir.toString)
    assert(df.count() == 80)
    assert(df.select("sample_index").distinct().count() == 80)
  }

  test("re-creating a completed stream name refuses the stale out dir " +
      "instead of silently dropping rows") {
    val (store, out, ing) = fixture()
    val w = store.createStream("s", schema)
    w.write(rows(0, 60)); w.stop()
    ing.ingestOnce("s") // completes: data.parquet + COMPLETED, stream gone
    assertRecovered(store, out, "s", 60)
    // a NEW stream under the same name: sample_index restarts at 0, so
    // the stale merged frontier (59) would filter every new row away
    Thread.sleep(2) // initializedAtUs must differ
    val w2 = store.createStream("s", schema)
    w2.write(rows(0, 30)); w2.stop()
    val e = intercept[IllegalArgumentException](ing.ingestOnce("s"))
    assert(e.getMessage.contains("previous incarnation"), e.getMessage)
    // every CRASH state carries the live stream's own stamp, so the
    // guard never blocks genuine recovery — reruns after the guard
    // removal path (new out dir) proceed normally
    val out2 = Files.createTempDirectory("graft-crash-out2-")
    val ing2 = new Ingester(spark, store.root, out2,
      IngestSettings(trimConsumedSegments = false))
    ing2.ingestOnce("s")
    assertRecovered(store, out2, "s", 30)
  }

  test("a failing stream ends a parallel sweep only after the other " +
      "streams' ingestOnce stopped; they replay cleanly") {
    val (store, out, ing) = fixture()
    // "bad" throws at its door: its out dir belongs to a previous
    // incarnation of the name
    val w0 = store.createStream("bad", schema)
    w0.write(rows(0, 10)); w0.stop()
    ing.ingestOnce("bad")
    Thread.sleep(2) // initializedAtUs must differ
    val w1 = store.createStream("bad", schema)
    w1.write(rows(0, 10)); w1.stop()
    Seq("good1", "good2").foreach { name =>
      val w = store.createStream(name, schema)
      w.write(rows(0, 20000)); w.stop()
    }
    def outState(): Map[String, Long] = {
      val it = Files.walk(out).iterator()
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p))
          b += out.relativize(p).toString -> Files.size(p)
      }
      b.result()
    }
    val e = intercept[IllegalArgumentException](ing.sweep(parallelism = 3))
    assert(e.getMessage.contains("previous incarnation"), e.getMessage)
    val atReturn = outState()
    Thread.sleep(2000)
    assert(outState() == atReturn,
      "a sibling stream kept ingesting after the sweep returned")
    assert(!Thread.getAllStackTraces.keySet.toArray
      .exists(_.toString.contains("graft-ingest-sweep-")),
      "a sweep thread outlived the call")
    // a sibling either finished before the cancel reached it or stopped
    // mid-ingest; a replay completes it exactly once either way
    Seq("good1", "good2").foreach { name =>
      if (store.listStreams().contains(name)) ing.ingestOnce(name)
      assertRecovered(store, out, name, 20000)
    }
  }

  test("live kill-restart: ingest loop killed mid-flight under a " +
      "concurrent jittered writer; a fresh ingester resumes to exactly " +
      "the written data") {
    // The reference's integration test runs write+ingest concurrently
    // with jitter (cpp/ingester/src/integration_test.cpp:112-169). The
    // matrix above constructs crash STATES; this test produces one
    // LIVE: an ingest loop is killed at whatever point it happens to
    // be (its Spark jobs cancelled with it, like a process death)
    // while a writer keeps appending, then a fresh ingester over the
    // same roots must converge to exactly the written rows.
    val (store, out, ing) = fixture()
    val w = store.createStream("s", schema)
    val total = 3000
    // the writer holds back the final third + EOF until AFTER the kill:
    // the kill is guaranteed to land mid-stream (no EOF yet) with the
    // writer live, and the post-kill rows prove resume consumes data
    // written after the crash, not just what the dead loop saw
    val killHappened = new java.util.concurrent.CountDownLatch(1)
    val writerDone = new java.util.concurrent.CountDownLatch(1)
    val writer = new Thread(() => {
      val rnd = new java.util.Random(20260814L)
      var i = 0
      while (i < 2000) {
        val n = math.min(20 + rnd.nextInt(30), 2000 - i)
        w.write(rows(i, i + n))
        i += n
        Thread.sleep(1 + rnd.nextInt(4)) // jitter
      }
      killHappened.await(180, java.util.concurrent.TimeUnit.SECONDS)
      while (i < total) {
        val n = math.min(20 + rnd.nextInt(30), total - i)
        w.write(rows(i, i + n))
        i += n
        Thread.sleep(1 + rnd.nextInt(4))
      }
      w.stop()
      writerDone.countDown()
    }, "kill-test-writer")
    @volatile var sweeps = 0
    val ingThread = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup("kill-test-ingest", "ingest loop",
          interruptOnCancel = true)
        while (true) { ing.ingestOnce("s"); sweeps += 1; Thread.sleep(2) }
      } catch { case _: Throwable => () } // the kill lands here
    }, "kill-test-ingest")
    writer.start()
    ingThread.start()
    // let the loop commit at least one sweep, then kill it mid-flight
    // (the next sweep is already running against the live stream)
    val t0 = System.nanoTime()
    while (sweeps < 1 && System.nanoTime() - t0 < 120L * 1000000000L)
      Thread.sleep(5)
    assert(sweeps >= 1, "ingest loop made no progress before the kill")
    Thread.sleep(50) // land inside the NEXT sweep, not between sweeps
    assert(store.streamExists("s"), "stream finished before the kill")
    ingThread.interrupt()
    spark.sparkContext.cancelJobGroup("kill-test-ingest")
    ingThread.join(60000)
    assert(!ingThread.isAlive, "ingest loop survived the kill")
    killHappened.countDown()
    assert(writerDone.await(120, java.util.concurrent.TimeUnit.SECONDS),
      "writer did not finish")
    // fresh ingester over the same roots (a restarted process) drives
    // the stream to completion from whatever the kill left on disk
    val ing2 = new Ingester(spark, store.root, out,
      IngestSettings(trimConsumedSegments = false))
    val t1 = System.nanoTime()
    while (store.streamExists("s") &&
        System.nanoTime() - t1 < 120L * 1000000000L) {
      ing2.ingestOnce("s")
      Thread.sleep(5)
    }
    assertRecovered(store, out, "s", total)
    // and the VALUES survived, not just the indexes: v == sample_index
    val df = spark.read.parquet(
      out.resolve("s").resolve("data.parquet").toString)
    assert(df.filter(org.apache.spark.sql.functions.col("v") =!=
      org.apache.spark.sql.functions.col("sample_index")
        .cast("double")).count() == 0, "row values drifted through the kill")
  }

  private def copyDir(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    Option(src.toFile.listFiles()).getOrElse(Array.empty).foreach { f =>
      Files.copy(f.toPath, dst.resolve(f.getName),
        StandardCopyOption.COPY_ATTRIBUTES)
    }
  }
}
