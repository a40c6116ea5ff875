package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Store-semantics tests mirroring the reference's reader/writer suites
  * (cpp/src/tests/reader_test.cpp, writer_test.cpp): EOF/-1, partial
  * reads on timeout, seek-past no-op, tail skip counts, tombstone chain,
  * single-writer enforcement, name rules.
  */
class StreamStoreSpec extends AnyFunSuite {

  private def newStore() = new StreamStore(
    Files.createTempDirectory("graft-store-spec-"))

  private val schema1 = RiverSchema(Seq(RiverField("v", RiverType.Double64)))

  private def writeN(store: StreamStore, name: String, n: Int,
      keysPerSegment: Long = StreamStore.DefaultKeysPerSegment,
      stop: Boolean = true): StreamWriter = {
    val w = store.createStream(name, schema1, keysPerSegment = keysPerSegment)
    w.write((0 until n).map(i => Seq[Any](i.toDouble)))
    if (stop) w.stop()
    w
  }

  test("read returns written samples with gapless indices") {
    val st = newStore()
    writeN(st, "s", 10)
    val r = st.openReader("s")
    val rows = r.read(100, 0).get
    assert(rows.map(_._2) == (0L until 10L))
    assert(rows.map(_._3.head) == (0 until 10).map(_.toDouble))
    // next read hits EOF -> None (reference returns -1)
    assert(r.read(1, 0).isEmpty)
    assert(!r.good())
  }

  test("readBytes returns the raw payloads read() would decode") {
    val st = newStore()
    writeN(st, "s", 10)
    val codec = new RowCodec(schema1)
    val raw = st.openReader("s").readBytes(100, 0).get
    assert(raw.size == 10)
    assert(raw.map(codec.unpack(_).head) == (0 until 10).map(_.toDouble))
    // EOF surfaces identically on the bytes plane
    val r2 = st.openReader("s")
    assert(r2.readBytes(100, 0).get.size == 10)
    assert(r2.readBytes(1, 0).isEmpty)
    assert(!r2.good())
  }

  test("read on stopped empty stream returns EOF immediately") {
    val st = newStore()
    writeN(st, "s", 0)
    val r = st.openReader("s")
    assert(r.read(5, 0).isEmpty)
  }

  test("partial read on timeout returns what arrived") {
    val st = newStore()
    val w = writeN(st, "s", 3, stop = false)
    val r = st.openReader("s")
    val rows = r.read(10, 50).get // wants 10, only 3 exist, no EOF yet
    assert(rows.size == 3)
    assert(r.good())
    w.stop()
    assert(r.read(10, 0).isEmpty) // now EOF
  }

  test("blocking read sees samples written after it started waiting") {
    val st = newStore()
    val w = st.createStream("s", schema1)
    val r = st.openReader("s")
    val t = new Thread(() => { Thread.sleep(50); w.write(Seq(Seq(42.0))) })
    t.start()
    val rows = r.read(1, 2000).get
    assert(rows.head._3.head == 42.0)
    t.join()
    w.stop()
  }

  test("tombstone chain: rollover preserves order and indices across segments") {
    val st = newStore()
    writeN(st, "s", 100, keysPerSegment = 16)
    assert(st.segments("s").size == math.ceil(100.0 / 16).toInt)
    val r = st.openReader("s")
    val rows = r.read(1000, 0).get
    assert(rows.map(_._2) == (0L until 100L))
    assert(rows.map(_._1).sliding(2).forall {
      case Seq(a, b) => a < b
      case _         => true
    })
  }

  test("tail returns newest sample and skip count") {
    val st = newStore()
    writeN(st, "s", 25)
    val r = st.openReader("s")
    val Some((skipped, Some((_, idx, vals)))) = r.tail(100): @unchecked
    assert(skipped == 25)
    assert(idx == 24)
    assert(vals.head == 24.0)
  }

  test("tail on open stream with no data times out with 0 skipped") {
    val st = newStore()
    val w = st.createStream("s", schema1)
    val r = st.openReader("s")
    assert(r.tail(30) == Some((0L, None)))
    w.stop()
  }

  test("seek to past key is a no-op returning 0 (reference reader.cpp:525-531)") {
    val st = newStore()
    writeN(st, "s", 5)
    val r = st.openReader("s")
    assert(r.seek(StreamKey(0, 0)) == 0)
    assert(r.read(100, 0).get.size == 5)
  }

  test("seek positions after the greatest key <= target") {
    val st = newStore()
    writeN(st, "s", 10)
    val entries = st.segments("s")
      .flatMap(i => SegmentCodec.readAll(st.segmentFile("s", i)))
      .filter(_.kind == StreamEntry.Data)
    val r = st.openReader("s")
    assert(r.seek(entries(6).key) == 7) // entries 0..6 skipped
    assert(r.read(100, 0).get.map(_._2) == (7L until 10L))
  }

  test("double create throws StreamExistsException (reference writer.cpp:55-60)") {
    val st = newStore()
    writeN(st, "s", 1)
    intercept[StreamExistsException] { st.createStream("s", schema1) }
  }

  test("stream names must be < 256 chars (reference writer.cpp:51-53)") {
    val st = newStore()
    intercept[IllegalArgumentException] {
      st.createStream("x" * 256, schema1)
    }
  }

  test("catalog: list, metadata round trip, delete") {
    val st = newStore()
    st.createStream("a", schema1, Map("k" -> "v")).stop()
    st.createStream("b", schema1).stop()
    assert(st.listStreams() == Seq("a", "b"))
    assert(st.metadata("a").userMetadata == Map("k" -> "v"))
    assert(st.metadata("a").schema == schema1)
    st.setUserMetadata("b", Map("x" -> "y"))
    assert(st.metadata("b").userMetadata == Map("x" -> "y"))
    st.deleteStream("a")
    assert(st.listStreams() == Seq("b"))
  }

  test("independent reader cursors") {
    val st = newStore()
    writeN(st, "s", 10)
    val r1 = st.openReader("s")
    val r2 = st.openReader("s")
    assert(r1.read(4, 0).get.map(_._2) == (0L until 4L))
    assert(r2.read(10, 0).get.map(_._2) == (0L until 10L))
    assert(r1.read(100, 0).get.map(_._2) == (4L until 10L))
  }

  test("trim removes consumed segments behind the frontier") {
    val st = newStore()
    writeN(st, "s", 100, keysPerSegment = 16)
    val before = st.segments("s")
    val dropped = st.trimSegmentsBefore("s", before(2))
    assert(dropped == before.take(2))
    assert(st.segments("s") == before.drop(2))
  }

  test("scratchBase: GRAFT_SCRATCH_DIR wins when writable and fails " +
      "loudly, naming the variable, when missing or unwritable") {
    val dir = Files.createTempDirectory("graft-scratch-spec-")
    assert(StreamStore.scratchBase(Some(dir.toString)) == dir)
    val missing = dir.resolve("absent")
    val e = intercept[IllegalArgumentException](
      StreamStore.scratchBase(Some(missing.toString)))
    assert(e.getMessage.contains("GRAFT_SCRATCH_DIR"), e.getMessage)
    val file = Files.createFile(dir.resolve("a-file"))
    intercept[IllegalArgumentException](
      StreamStore.scratchBase(Some(file.toString)))
    val ro = Files.createDirectory(dir.resolve("read-only"))
    assert(ro.toFile.setWritable(false))
    try {
      // root ignores permission bits; the check is meaningful only
      // where the JVM itself sees the dir as unwritable
      if (!Files.isWritable(ro))
        intercept[IllegalArgumentException](
          StreamStore.scratchBase(Some(ro.toString)))
    } finally ro.toFile.setWritable(true)
    // unset: tmpfs when present, else the JVM temp dir — never throws
    val fallback = StreamStore.scratchBase(None)
    assert(Files.isDirectory(fallback) && Files.isWritable(fallback))
  }

  test("newestEntryMs and eofLastIndex read frame headers only and answer " +
      "as a full readAll of the newest segment does") {
    val st = newStore()
    def viaReadAll(name: String): (Option[Long], Option[Long]) = {
      val all = SegmentCodec.readAll(
        st.segmentFile(name, st.segments(name).last))
      (all.lastOption.map(_.key.ms),
        all.find(_.kind == StreamEntry.Eof).map(_.sampleIndex))
    }
    def check(name: String, eof: Option[Long]): Unit = {
      assert((st.newestEntryMs(name), st.eofLastIndex(name)) ==
        viaReadAll(name), name)
      assert(st.eofLastIndex(name) == eof, name)
      assert(st.newestEntryMs(name).nonEmpty, name)
    }
    def frames(name: String) = {
      val f = st.segmentFile(name, st.segments(name).last)
      SegmentCodec.foldHeaders(f, Vector.empty[(Byte, StreamKey, Long)]) {
        (acc, kind, key, idx) => acc :+ ((kind, key, idx))
      }
    }
    // many writes, a few ms apart, so the newest key is not the first;
    // 45-byte frames straddle the header walk's read chunks
    def feed(w: StreamWriter, batches: Int, per: Int): Unit =
      (0 until batches).foreach { b =>
        w.write((0 until per).map(i => Seq[Any]((b * per + i).toDouble)))
        Thread.sleep(2)
      }
    def truncateBy(name: String, bytes: Int): Unit = {
      val f = st.segmentFile(name, st.segments(name).last)
      val raf = new java.io.RandomAccessFile(f, "rw")
      try raf.setLength(f.length() - bytes) finally raf.close()
    }

    // plain, live, over several segments: every header matches readAll's
    val plain = st.createStream("plain", schema1, keysPerSegment = 3000)
    feed(plain, 10, 700)
    assert(st.segments("plain").size > 1)
    check("plain", None)
    assert(frames("plain") == SegmentCodec.readAll(
      st.segmentFile("plain", st.segments("plain").last))
      .map(e => (e.kind, e.key, e.sampleIndex)))
    // the writer stopped: EOF carries the last written index
    plain.stop()
    check("plain", Some(6999L))

    // ZFP: one Compressed frame per write (payloads larger than a read
    // chunk), expanded by readAll, skipped by the header walk
    val zfp = st.createStream("zfp", schema1, compressionParamsJson =
      Some("""{"name":"ZFP_LOSSLESS","params":{"num_cols":"1",""" +
        """"data_type":"double"}}"""))
    feed(zfp, 6, 5000)
    assert(frames("zfp").map(_._1).distinct == Vector(StreamEntry.Compressed))
    check("zfp", None)
    zfp.stop()
    check("zfp", Some(29999L))

    // torn tails: a partial payload, then a partial header
    val torn = st.createStream("torn", schema1)
    feed(torn, 5, 100)
    val frameLen = st.segmentFile("torn", 0L).length() / 500
    truncateBy("torn", 3)
    check("torn", None)
    assert(frames("torn").size == 499)
    // 499 frames + (frameLen - 3) bytes -> 498 frames + 35 header bytes
    truncateBy("torn", (frameLen - 3 + frameLen - 35).toInt)
    check("torn", None)
    assert(frames("torn").size == 498)
    // forceEof truncates the torn tail and stamps the last complete index
    assert(st.forceEof("torn"))
    check("torn", Some(497L))

    // an empty newest segment answers nothing either way
    val empty = st.createStream("empty", schema1)
    assert(st.newestEntryMs("empty").isEmpty && st.eofLastIndex("empty").isEmpty)
    empty.stop()
    check("empty", Some(-1L))
  }
}
