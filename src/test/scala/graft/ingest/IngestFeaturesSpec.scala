package graft.ingest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-2 ingest-layer additions: the staleness EOF
  * finalizer (I8), compression metadata detection (C1), metadata parity
  * fields (M4), and the HTTP façade (H1).
  */
class IngestFeaturesSpec extends AnyFunSuite {

  private def newStore() =
    new StreamStore(Files.createTempDirectory("graft-ingest-spec-"))

  private val schema = RiverSchema(Seq(RiverField("v", RiverType.Double64)))

  test("forceEof completes a stream whose writer never stopped (I8)") {
    val store = newStore()
    val w = store.createStream("s", schema)
    w.write(Seq(Seq(1.0), Seq(2.0)))
    // writer dies without stop(): no EOF yet
    assert(store.forceEof("s"))
    val r = store.openReader("s")
    val rows = r.read(10, 0).get
    assert(rows.map(_._2) == Seq(0L, 1L))
    assert(r.read(10, 0).isEmpty) // EOF consumed
    assert(!store.forceEof("s")) // idempotent: already has EOF
  }

  test("ZFP_LOSSLESS streams write compressed and read back exactly (C1)") {
    val store = newStore()
    val w = store.createStream("c", schema,
      compressionParamsJson = Some(
        """{"name":"ZFP_LOSSLESS","params":{"num_cols":"1","data_type":"double"}}"""))
    // integer-valued doubles (sensor-style quantized data, like the
    // reference's int16-scaled sine fixture): block-floating-point
    // conversion is exact and trailing-zero elision bites
    val values = (0 until 257).map(i => math.rint(math.sin(i / 10.0) * 1000.0))
    w.write(values.map(v => Seq[Any](v)))   // one compressed batch entry
    w.write(Seq(Seq[Any](42.0)))            // and a second batch
    w.stop()
    val r = store.openReader("c")
    val rows = r.read(1000, 0).get
    assert(rows.size == 258)
    assert(rows.map(_._2) == (0L until 258L)) // gapless sample_index
    assert(rows.map(_._3(0).asInstanceOf[Double]) == values :+ 42.0)
    // the segment really does hold compressed blobs, not per-row frames
    val segBytes = store.segmentFile("c", 0).length()
    assert(segBytes < 258 * 8, s"segment $segBytes bytes for 258 doubles")
  }

  test("ZFP_LOSSY streams round-trip within tolerance (C1 lossy)") {
    // fixed-accuracy transport: tolerance 0.5 on a double stream; the
    // read-back values must sit within zfp's accuracy bound |err| <=
    // tolerance and the segment must be smaller than raw. Missing
    // tolerance, the removed "layout" key and unknown codecs reject
    // loudly.
    val store = newStore()
    val lossy =
      """{"name":"ZFP_LOSSY","params":{"num_cols":"1","data_type":"double","tolerance":"0.5"}}"""
    val w = store.createStream("c", schema,
      compressionParamsJson = Some(lossy))
    val values = (0 until 257).map(i => math.sin(i / 10.0) * 1000.0)
    w.write(values.map(v => Seq[Any](v)))
    w.stop()
    val r = store.openReader("c")
    val rows = r.read(1000, 0).get
    assert(rows.size == 257)
    assert(rows.map(_._2) == (0L until 257L))
    val back = rows.map(_._3(0).asInstanceOf[Double])
    val maxErr = values.indices.map(i => math.abs(back(i) - values(i))).max
    assert(maxErr <= 0.5, s"max err $maxErr > tolerance")
    assert(store.segmentFile("c", 0).length() < 257 * 8)

    val el = intercept[IllegalArgumentException] {
      store.createStream("c2", schema, compressionParamsJson = Some(
        """{"name":"ZFP_LOSSY","params":{"num_cols":"1",""" +
          """"data_type":"double","tolerance":"0.5","layout":"std"}}"""))
    }
    assert(el.getMessage.contains("layout is fixed"), el.getMessage)
    assert(!store.streamExists("c2"))

    intercept[IllegalArgumentException] {
      store.createStream("c3", schema, compressionParamsJson = Some(
        """{"name":"ZFP_LOSSY","params":{"num_cols":"1","data_type":"double"}}"""))
    }
    val e = intercept[IllegalArgumentException] {
      store.createStream("c4", schema, compressionParamsJson = Some(
        """{"name":"DUMMY","params":{}}"""))
    }
    assert(e.getMessage.contains("DUMMY"))
  }

  test("""ZFP_LOSSY "layout": "std" writes the standard libzfp accuracy """ +
      "bit layout end-to-end") {
    // what "layout": "std" used to opt into is the only lossy layout
    // now, so a stream created without the key must write it: the
    // segment holds the batch's plain libzfp accuracy blob byte for
    // byte, and it reads back within zfp's |err| <= tolerance bound
    val store = newStore()
    val params =
      """{"name":"ZFP_LOSSY","params":{"num_cols":"1",""" +
        """"data_type":"double","tolerance":"0.5"}}"""
    val w = store.createStream("cs", schema,
      compressionParamsJson = Some(params))
    val values = (0 until 257).map(i => math.cos(i / 7.0) * 1000.0)
    w.write(values.map(v => Seq[Any](v)))
    w.stop()
    val framed =   // type byte 3 (double) + the accuracy blob
      3.toByte +: Zfp.compressDoubleLossy(values.toArray, 1, 257, 0.5)
    val seg = Files.readAllBytes(store.segmentFile("cs", 0).toPath)
    assert(seg.indexOfSlice(framed) >= 0,
      "segment does not hold the standard accuracy blob")
    val r = store.openReader("cs")
    val rows = r.read(1000, 0).get
    assert(rows.size == 257)
    val back = rows.map(_._3(0).asInstanceOf[Double])
    val maxErr = values.indices.map(i => math.abs(back(i) - values(i))).max
    assert(maxErr <= 0.5, s"std layout max err $maxErr > tolerance")
    assert(store.segmentFile("cs", 0).length() < 257 * 8)
  }

  test("ZFP_LOSSY rejects a batch holding NaN or an infinity and writes " +
      "nothing: no rollover tombstone, no new segment") {
    // the accuracy coder cannot carry non-finite values (NaN would read
    // back as ~0, and one +Inf zeroes its whole 4x4 block), so such a
    // batch is rejected naming the stream and the column, and the next
    // finite batch continues the gapless sample_index
    val store = newStore()
    val two = RiverSchema(Seq(RiverField("x", RiverType.Double64),
      RiverField("y", RiverType.Double64)))
    val w = store.createStream("nf", two, keysPerSegment = 8,
      compressionParamsJson = Some(
        """{"name":"ZFP_LOSSY","params":{"num_cols":"2",""" +
          """"data_type":"double","tolerance":"0.5"}}"""))
    def batch(from: Int) =
      (from until from + 8).map(i => Seq[Any](i * 1.5, -i * 2.5))
    w.write(batch(0)) // fills segment 0: the next batch rolls over
    val seg0 = java.nio.file.Files.readAllBytes(
      store.segmentFile("nf", 0).toPath)
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity)) {
      val e = intercept[IllegalArgumentException] {
        w.write(batch(8).updated(5, Seq[Any](1.0, bad)))
      }
      assert(e.getMessage.contains("stream nf") &&
        e.getMessage.contains("column 1"), e.getMessage)
      assert(store.segments("nf") == Seq(0L))
      assert(java.util.Arrays.equals(seg0, java.nio.file.Files.readAllBytes(
        store.segmentFile("nf", 0).toPath)), "a rejected batch wrote bytes")
    }
    w.write(batch(8))
    w.stop()
    val r = store.openReader("nf")
    val rows = Iterator.continually(r.read(100, 0)).takeWhile(_.isDefined)
      .flatMap(_.get).toSeq
    assert(rows.map(_._2) == (0L until 16L))
    rows.foreach { case (_, i, v) =>
      assert(math.abs(v(0).asInstanceOf[Double] - i * 1.5) <= 0.5)
      assert(math.abs(v(1).asInstanceOf[Double] + i * 2.5) <= 0.5)
    }
  }

  test("variable-width streams refuse compression (writer.cpp:131-134)") {
    val store = newStore()
    val vw = RiverSchema(Seq(
      RiverField("b", RiverType.VariableWidthBytes(16))))
    intercept[IllegalArgumentException] {
      store.createStream("vw", vw,
        compressionParamsJson = Some("""{"type":"ZFP_LOSSLESS"}"""))
    }
  }

  test("metadata round-trips clock delta and compression params (M4)") {
    val m = StreamMetadata(schema.toJson, 123456789L, Map("a" -> "b"),
      localMinusServerClockUs = Some(-42L),
      compressionParamsJson = Some("""{"tolerance":0.5}"""))
    val back = StreamMetadata.fromJson(m.toJson)
    assert(back.localMinusServerClockUs.contains(-42L))
    assert(back.compressionParamsJson.contains("""{"tolerance":0.5}"""))
    assert(back.userMetadata == Map("a" -> "b"))
    assert(back.initializedAtUs == 123456789L)
  }

  test("clock-delta is MEASURED when asked (M4, writer.cpp:365-381 " +
      "round trips): createStream(clockDeltaTrips>0) stores the " +
      "estimate, the default stays the single-clock constant") {
    val store = newStore()
    // on a local filesystem both clocks are the same clock: the
    // round-trip estimate must land within jitter of zero (seconds of
    // skew would mean the estimator is broken, not the clock)
    val est = store.estimateClockDeltaUs(trips = 20)
    assert(math.abs(est) < 2000000L, s"local-fs delta estimate $est us")
    store.createStream("measured", schema, clockDeltaTrips = 5).stop()
    val m = store.metadata("measured")
    assert(m.localMinusServerClockUs.nonEmpty &&
      math.abs(m.localMinusServerClockUs.get) < 2000000L,
      s"measured delta not stored: ${m.localMinusServerClockUs}")
    // default: no probe writes, the single-clock constant (parity with
    // every pre-round-14 stream's metadata)
    store.createStream("constant", schema).stop()
    assert(store.metadata("constant").localMinusServerClockUs
      .contains(0L))
    // metadata survives the JSON round trip like every other field
    val back = StreamMetadata.fromJson(store.metadata("measured").toJson)
    assert(back.localMinusServerClockUs == m.localMinusServerClockUs)
  }

  test("reader recovers every complete frame from a torn segment tail") {
    // simulate a writer crash mid-frame: truncate the segment to a
    // point inside the last frame; readers must return all complete
    // frames and stop cleanly at the torn tail (no misparse, no hang).
    val store = newStore()
    val w = store.createStream("torn", schema)
    w.write((0 until 100).map(i => Seq[Any](i.toDouble)))
    // no stop(): simulate crash, then tear the tail
    val seg = store.segmentFile("torn", store.segments("torn").head)
    val raf = new java.io.RandomAccessFile(seg, "rw")
    try raf.setLength(raf.length() - 5) finally raf.close()
    store.forceEof("torn") // staleness finalizer path appends EOF after
    val r = store.openReader("torn")
    val rows = r.read(1000, 0).get
    assert(rows.size == 99) // last frame torn away, rest intact
    assert(rows.map(_._2) == (0L until 99L))
    assert(r.read(1000, 0).isEmpty) // EOF consumed
  }

  test("R6 stream-key-change listener: rollover/EOF callbacks fire as " +
      "the reader crosses tombstones (reader.h:339-356), and an " +
      "event-fed trim deletes consumed segments WITHOUT re-scanning " +
      "segment contents") {
    val storeRoot = Files.createTempDirectory("graft-r6-store-")
    val outRoot = Files.createTempDirectory("graft-r6-out-")
    val store = new StreamStore(storeRoot)
    val w = store.createStream("s", schema, keysPerSegment = 10)
    w.write((0 until 35).map(i => Seq[Any](i.toDouble)))
    w.stop() // segments 0..3, tombstones at 10/20/30, EOF at 34
    val rolls = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    var eof: Option[Long] = None
    // the ingester never runs a Spark job for trim — the delete-behind
    // path is deliberately metadata-only, so a null session proves it
    val ing = new Ingester(null, storeRoot, outRoot,
      IngestSettings(minAgeMsBeforeTrim = 0L))
    val r = store.openReader("s")
    r.addListener(new StreamKeyListener {
      override def onSegmentRollover(stream: String, from: Long,
          to: Long, start: Long): Unit = rolls += ((from, to, start))
      override def onEof(stream: String, last: Long): Unit =
        eof = Some(last)
    })
    r.addListener(ing.trimListener("s")) // the R6 consumer
    val rows = r.read(1000, 0).get
    assert(rows.size == 35)
    assert(r.read(10, 0).isEmpty) // consume EOF
    assert(rolls.toSeq == Seq((0L, 1L, 10L), (1L, 2L, 20L),
      (2L, 3L, 30L)), s"rollover events: $rolls")
    assert(eof.contains(34L), s"eof event: $eof")
    // prove NO content re-scan: garble every segment's contents so any
    // trim that re-derived boundaries from disk would find nothing to
    // trim (a sub-header file has no complete first frame) — the
    // event-fed cache must still know segments 1/2/3 start at 10/20/30
    // and delete the consumed 0/1/2
    (0L to 3L).foreach { i =>
      java.nio.file.Files.write(
        store.segmentFile("s", i).toPath, Array[Byte](1, 2))
    }
    ing.trimConsumed("s", frontier = 34L)
    assert(store.segments("s") == Seq(3L),
      s"event-fed trim left: ${store.segments("s")}")
    // fallback path (no events): a fresh ingester derives the same
    // boundaries from one first-frame HEADER read per segment
    val store2Root = Files.createTempDirectory("graft-r6-store2-")
    val store2 = new StreamStore(store2Root)
    val w2 = store2.createStream("s", schema, keysPerSegment = 10)
    w2.write((0 until 35).map(i => Seq[Any](i.toDouble)))
    w2.stop()
    val ing2 = new Ingester(null, store2Root, outRoot,
      IngestSettings(minAgeMsBeforeTrim = 0L))
    ing2.trimConsumed("s", frontier = 34L)
    assert(store2.segments("s") == Seq(3L))
    // and a partially-consumed frontier keeps the unconsumed tail
    val store3Root = Files.createTempDirectory("graft-r6-store3-")
    val store3 = new StreamStore(store3Root)
    val w3 = store3.createStream("s", schema, keysPerSegment = 10)
    w3.write((0 until 35).map(i => Seq[Any](i.toDouble)))
    w3.stop()
    val ing3 = new Ingester(null, store3Root, outRoot,
      IngestSettings(minAgeMsBeforeTrim = 0L))
    ing3.trimConsumed("s", frontier = 14L) // seg 1 not fully consumed
    assert(store3.segments("s") == Seq(1L, 2L, 3L),
      s"over-trimmed: ${store3.segments("s")}")
  }

  test("http facade serves stream list, metadata, and parquet (H1)") {
    val out = Files.createTempDirectory("graft-http-spec-")
    val sdir = out.resolve("ev")
    Files.createDirectories(sdir)
    Files.writeString(sdir.resolve("metadata.json"),
      """{"stream_name":"ev","ingestion_status":"COMPLETED"}""")
    val payload = Array.tabulate[Byte](100000)(i => (i % 251).toByte)
    Files.write(sdir.resolve("data.parquet"), payload)

    val srv = new IngesterHttpServer(out, port = 0)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}/api/streams"
      val client = HttpClient.newHttpClient()
      def get(u: String) = client.send(
        HttpRequest.newBuilder(URI.create(u)).build(),
        HttpResponse.BodyHandlers.ofByteArray())

      val list = get(base)
      assert(list.statusCode() == 200)
      assert(new String(list.body()).contains("\"ev\""))

      val one = get(s"$base/ev")
      assert(new String(one.body()).contains("COMPLETED"))

      val data = get(s"$base/ev/data.parquet")
      assert(data.statusCode() == 200)
      assert(data.body().toSeq == payload.toSeq)

      assert(get(s"$base/nope").statusCode() == 404)

      // traversal attempts must 404, never read outside the root: plant
      // a decoy next to the out dir that a naive resolve would serve
      val decoyDir = out.getParent.resolve(
        out.getFileName.toString + "-decoy")
      Files.createDirectories(decoyDir)
      Files.writeString(decoyDir.resolve("metadata.json"),
        """{"secret":"leak"}""")
      Files.write(decoyDir.resolve("data.parquet"), Array[Byte](9, 9))
      val decoy = decoyDir.getFileName.toString
      for (evil <- Seq(
          s"$base/..%2F$decoy",
          s"$base/%2e%2e%2F$decoy",
          s"$base/..%2F$decoy/data.parquet",
          s"$base/%2e%2e/$decoy/data.parquet")) {
        val r = get(evil)
        assert(r.statusCode() == 404 || r.statusCode() == 400,
          s"$evil -> ${r.statusCode()}")
        assert(!new String(r.body()).contains("leak"),
          s"$evil leaked outside the root")
      }
    } finally srv.stop()
  }

  test("http facade speaks Range/ETag (H1 extension): a parquet-footer " +
      "byte range comes back 206 with exactly those bytes, suffix and " +
      "open ranges work, 416/304/If-Range behave, full GET unchanged") {
    val out = Files.createTempDirectory("graft-http-range-")
    val sdir = out.resolve("ev")
    Files.createDirectories(sdir)
    Files.writeString(sdir.resolve("metadata.json"),
      """{"stream_name":"ev","ingestion_status":"COMPLETED"}""")
    val payload = Array.tabulate[Byte](100000)(i => (i % 251).toByte)
    // a real parquet file ends in the 8-byte footer tail
    // (4-byte metadata length + "PAR1"); fake just that tail so the
    // range math is checked against the bytes a footer reader wants
    payload(99996) = 'P'; payload(99997) = 'A'
    payload(99998) = 'R'; payload(99999) = '1'
    Files.write(sdir.resolve("data.parquet"), payload)
    val srv = new IngesterHttpServer(out, port = 0)
    srv.start()
    try {
      val url = s"http://127.0.0.1:${srv.boundPort}" +
        "/api/streams/ev/data.parquet"
      val client = HttpClient.newHttpClient()
      def get(hdrs: (String, String)*) = {
        val b = HttpRequest.newBuilder(URI.create(url))
        hdrs.foreach { case (k, v) => b.header(k, v) }
        client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
      }
      // full GET advertises ranges and carries a stable ETag
      val full = get()
      assert(full.statusCode() == 200 &&
        full.body().toSeq == payload.toSeq)
      assert(full.headers().firstValue("Accept-Ranges")
        .orElse("") == "bytes")
      val etag = full.headers().firstValue("ETag").orElse("")
      assert(etag.startsWith("\"") && etag.endsWith("\""), etag)
      // the footer read every parquet-over-HTTP client starts with:
      // last 8 bytes as a SUFFIX range
      val tail = get("Range" -> "bytes=-8")
      assert(tail.statusCode() == 206)
      assert(tail.headers().firstValue("Content-Range").orElse("") ==
        s"bytes 99992-99999/100000")
      assert(tail.body().toSeq == payload.takeRight(8).toSeq)
      assert(new String(tail.body().takeRight(4)) == "PAR1")
      // an explicit a-b row-group slice
      val mid = get("Range" -> "bytes=1000-1999")
      assert(mid.statusCode() == 206 &&
        mid.body().toSeq == payload.slice(1000, 2000).toSeq)
      // open-ended a- reads to EOF
      val open = get("Range" -> "bytes=99990-")
      assert(open.statusCode() == 206 &&
        open.body().toSeq == payload.drop(99990).toSeq)
      // to > EOF clamps (RFC 9110: last-byte-pos past EOF = EOF)
      val clamp = get("Range" -> "bytes=99990-777777")
      assert(clamp.statusCode() == 206 &&
        clamp.body().length == 10)
      // start past EOF is unsatisfiable: 416 + the */size form
      val bad = get("Range" -> "bytes=100000-")
      assert(bad.statusCode() == 416)
      assert(bad.headers().firstValue("Content-Range").orElse("") ==
        "bytes */100000")
      // conditional revalidation: matching If-None-Match short-
      // circuits to 304; a stale If-Range falls back to the FULL body
      // (a range-caching client must never splice two compactions)
      assert(get("If-None-Match" -> etag).statusCode() == 304)
      val stale = get("Range" -> "bytes=-8", "If-Range" -> "\"stale\"")
      assert(stale.statusCode() == 200 &&
        stale.body().length == payload.length)
      val fresh = get("Range" -> "bytes=-8", "If-Range" -> etag)
      assert(fresh.statusCode() == 206 && fresh.body().length == 8)
      // multi-range and malformed specs serve the full 200 body
      assert(get("Range" -> "bytes=0-1,10-11").statusCode() == 200)
      assert(get("Range" -> "bytes=oops").statusCode() == 200)
    } finally srv.stop()
  }
}
