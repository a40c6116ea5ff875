package graft.ingest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

import graft.core.{RiverField, RiverSchema, RiverType, StreamStore}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The deployable daemon (round 14 "What's missing #1"): a user of the
  * reference's `river-ingester` process gets the same workflow from
  * [[IngesterMain]] — settings JSON, a sweep loop over a pool, EOF
  * finalize, HTTP serving — with NO direct `ingestOnce` calls from the
  * operator's side. These specs drive the real loop over a live store.
  */
class IngesterDaemonSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("ingester-daemon")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val schema = RiverSchema(Seq(
    RiverField("v", RiverType.Double64),
    RiverField("debug_flag", RiverType.Int64)))

  private def await(what: String, timeoutMs: Long = 30000L)(
      cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      assert(System.currentTimeMillis() < deadline, s"timed out: $what")
      Thread.sleep(50)
    }
  }

  test("settings JSON parses the reference shape: first-match order, " +
      "whitelist/blacklist lists, global fallbacks") {
    val entries = IngesterSettingsJson.parse("""
      { "global_settings": {},
        "bytes_per_row_group": 1048576,
        "minimum_age_seconds_before_deletion": 7,
        "stale_period_seconds": 11,
        "stream_settings": [
          { "stream_name_regex": "sensor_.*",
            "columns_whitelist": ["v", "ts_.*"],
            "bytes_per_row_group": 65536,
            "stale_period_seconds": 2,
            "samples_per_read": 8 },
          { "stream_name_regex": ".*",
            "columns_blacklist": ["debug_.*"] } ] }""")
    assert(entries.map(_.streamRegex) == Seq("sensor_.*", ".*"))
    val s0 = entries(0).settings
    assert(s0.columnWhitelist.contains("(?:v)|(?:ts_.*)"))
    assert(s0.columnBlacklist.isEmpty)
    assert(s0.bytesPerRowGroup.contains(65536L)) // per-entry wins
    assert(s0.minAgeMsBeforeTrim == 7000L) // global fallback applied
    assert(s0.stalePeriodMs == 2000L) // per-entry engine extension wins
    assert(s0.keepColumn("v") && s0.keepColumn("ts_ms"))
    assert(!s0.keepColumn("vv") && !s0.keepColumn("debug_x"))
    val s1 = entries(1).settings
    assert(s1.columnWhitelist.isEmpty)
    assert(s1.stalePeriodMs == 11000L) // global fallback
    assert(s1.bytesPerRowGroup.contains(1048576L)) // global fallback
    assert(s1.keepColumn("v") && !s1.keepColumn("debug_flag"))
    // no stream_settings at all → empty (consume nothing), like the
    // reference's warning path
    assert(IngesterSettingsJson.parse("""{"global_settings":{}}""").isEmpty)
    // missing regex is a loud error
    intercept[IllegalArgumentException](
      IngesterSettingsJson.parse("""{"stream_settings":[{}]}"""))
  }

  test("daemon loop: write while it runs -> parquet appears -> EOF -> " +
      "COMPLETED sidecar -> HTTP serves it (no direct ingestOnce)") {
    val storeRoot = Files.createTempDirectory("graft-daemon-store-")
    val outRoot = Files.createTempDirectory("graft-daemon-out-")
    val store = new StreamStore(storeRoot)
    // catch-all entry, blacklist the debug column, no trim interference
    val entries = IngesterSettingsJson.parse("""
      { "stream_settings": [
          { "stream_name_regex": ".*",
            "columns_blacklist": ["debug_.*"],
            "minimum_age_seconds_before_deletion": 3600 } ] }""")
    val daemon = new IngesterDaemon(spark, storeRoot, outRoot, entries,
      parallelism = 2, sweepMs = 100L)
    val loop = new Thread(() => daemon.run(), "daemon-loop")
    loop.start()
    val srv = new IngesterHttpServer(outRoot, port = 0)
    srv.start()
    try {
      val w = store.createStream("live", schema)
      w.write((0 until 500).map(i => Seq[Any](i.toDouble, i.toLong)))
      // sweep picks it up while the writer is still live
      await("first part file") {
        Option(outRoot.resolve("live").toFile.listFiles())
          .getOrElse(Array.empty).exists(_.getName.startsWith("data_"))
      }
      w.write((500 until 800).map(i => Seq[Any](i.toDouble, i.toLong)))
      w.stop() // EOF tombstone
      await("COMPLETED sidecar") {
        val sc = outRoot.resolve("live").resolve("metadata.json")
        Files.exists(sc) && new String(Files.readAllBytes(sc), "UTF-8")
          .contains("\"ingestion_status\":\"COMPLETED\"")
      }
      await("stream deleted from store")(!store.streamExists("live"))
      // compacted output is exact, with the blacklisted column pruned
      val df = spark.read.parquet(
        outRoot.resolve("live").resolve("data.parquet").toString)
      assert(df.count() == 800)
      assert(df.columns.toSet ==
        Set("sample_index", "key", "timestamp_ms", "v"))
      assert(df.select("sample_index").distinct().count() == 800)
      // the HTTP façade serves what the daemon wrote
      val client = HttpClient.newHttpClient()
      val list = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.boundPort}/api/streams")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(list.statusCode() == 200 && list.body().contains("live"))
      val data = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.boundPort}/api/streams/live/data.parquet"))
          .build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(data.statusCode() == 200 && data.body().length > 0)
    } finally {
      srv.stop()
      daemon.stop()
      loop.join(70000)
      assert(!loop.isAlive, "daemon loop did not stop")
    }
  }

  test("first-match-wins settings routing: two streams, two entries, " +
      "each pruned by its own entry") {
    val storeRoot = Files.createTempDirectory("graft-daemon2-store-")
    val outRoot = Files.createTempDirectory("graft-daemon2-out-")
    val store = new StreamStore(storeRoot)
    val entries = IngesterSettingsJson.parse("""
      { "stream_settings": [
          { "stream_name_regex": "sensor_.*",
            "columns_whitelist": ["v"],
            "minimum_age_seconds_before_deletion": 3600 },
          { "stream_name_regex": "sensor_a|other",
            "minimum_age_seconds_before_deletion": 3600 } ] }""")
    val daemon = new IngesterDaemon(spark, storeRoot, outRoot, entries,
      parallelism = 2, sweepMs = 100L)
    val loop = new Thread(() => daemon.run(), "daemon2-loop")
    loop.start()
    try {
      // sensor_a matches BOTH entries: the first (whitelist v) must win.
      // `other` matches only the second (keep everything).
      // `unmatched` matches neither and must be skipped entirely.
      for (name <- Seq("sensor_a", "other", "unmatched_x")) {
        val w = store.createStream(name, schema)
        w.write((0 until 50).map(i => Seq[Any](i.toDouble, i.toLong)))
        w.stop()
      }
      await("sensor_a completed")(!store.streamExists("sensor_a"))
      await("other completed")(!store.streamExists("other"))
      val a = spark.read.parquet(
        outRoot.resolve("sensor_a").resolve("data.parquet").toString)
      assert(a.columns.toSet ==
        Set("sample_index", "key", "timestamp_ms", "v"),
        "first matching entry's whitelist must win")
      val o = spark.read.parquet(
        outRoot.resolve("other").resolve("data.parquet").toString)
      assert(o.columns.toSet ==
        Set("sample_index", "key", "timestamp_ms", "v", "debug_flag"))
      // several sweeps later, the unmatched stream is untouched
      val sweepsNow = daemon.sweepCount
      await("three more sweeps")(daemon.sweepCount >= sweepsNow + 3)
      assert(store.streamExists("unmatched_x"), "unmatched stream consumed")
      assert(!Files.exists(outRoot.resolve("unmatched_x")))
    } finally {
      daemon.stop()
      loop.join(70000)
      assert(!loop.isAlive, "daemon loop did not stop")
    }
  }

  test("a dispatched stream deleted before its turn is done, not a " +
      "failed sweep") {
    val storeRoot = Files.createTempDirectory("graft-daemon-store-")
    val outRoot = Files.createTempDirectory("graft-daemon-out-")
    val store = new StreamStore(storeRoot)
    // one pool thread: `small` waits behind `big` (listing order)
    val daemon = new IngesterDaemon(spark, storeRoot, outRoot,
      parallelism = 1, sweepMs = 50L)
    val big = store.createStream("a_big", schema)
    big.write((0 until 200000).map(i => Seq[Any](i.toDouble, i.toLong)))
    val small = store.createStream("b_small", schema)
    small.write((0 until 10).map(i => Seq[Any](i.toDouble, i.toLong)))
    small.stop()
    val captured = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(captured, true))
    try {
      assert(daemon.sweepOnce() == Seq("a_big", "b_small"))
      // what a pool thread completing `b_small` mid-pass leaves behind
      store.deleteStream("b_small")
      daemon.stop()
      daemon.run() // drains the pool
    } finally System.setErr(err)
    val log = captured.toString("UTF-8")
    assert(!log.contains("b_small sweep failed"), log)
    assert(!log.contains("sweep failed"), log)
    assert(Files.exists(outRoot.resolve("a_big")
      .resolve("data_0000000000.parquet")), "a_big was not ingested")
  }

  test("GET /api/stats serves the running daemon's stats JSON, the same " +
      "object --stats-ms prints") {
    val storeRoot = Files.createTempDirectory("graft-daemon-store-")
    val outRoot = Files.createTempDirectory("graft-daemon-out-")
    val store = new StreamStore(storeRoot)
    val daemon = new IngesterDaemon(spark, storeRoot, outRoot,
      parallelism = 2, sweepMs = 50L)
    val loop = new Thread(() => daemon.run(), "daemon-loop")
    loop.start()
    val srv = new IngesterHttpServer(outRoot, port = 0,
      Some(() => daemon.statsJson))
    srv.start()
    val client = HttpClient.newHttpClient()
    def stats() = {
      val r = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${srv.boundPort}/api/stats")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      assert(r.headers().firstValue("Content-Type").get == "application/json")
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
    }
    try {
      val w = store.createStream("s", schema)
      w.write((0 until 100).map(i => Seq[Any](i.toDouble, i.toLong)))
      w.stop()
      await("stream completed")(!store.streamExists("s"))
      await("ingests reported")(stats().get("ingests").asLong >= 1)
      val j = stats()
      val keys = Seq("sweeps", "ingests", "ingest_ms_p50", "ingest_ms_p95",
        "ingest_ms_max", "heap_used_mb", "heap_total_mb")
      keys.foreach(k => assert(j.has(k) && j.get(k).isNumber, s"$k in $j"))
      assert(j.size == keys.size, s"unexpected keys in $j")
      assert(j.get("sweeps").asLong >= 1)
      assert(j.get("ingest_ms_p50").asLong <= j.get("ingest_ms_p95").asLong)
      assert(j.get("ingest_ms_p95").asLong <= j.get("ingest_ms_max").asLong)
    } finally {
      srv.stop()
      daemon.stop()
      loop.join(70000)
      assert(!loop.isAlive, "daemon loop did not stop")
    }
    // without a stats source the path is not served
    val bare = new IngesterHttpServer(outRoot, port = 0)
    bare.start()
    try assert(client.send(HttpRequest.newBuilder(URI.create(
      s"http://127.0.0.1:${bare.boundPort}/api/stats")).build(),
      HttpResponse.BodyHandlers.ofString()).statusCode() == 404)
    finally bare.stop()
  }
}
