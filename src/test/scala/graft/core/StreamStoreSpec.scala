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
}
