package graft.core

import java.io.{File, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

/** Entry key, modeled on Redis stream entry IDs `"<ms>-<seq>"`
  * (cpp/src/redis.h:56-70): server-assigned, strictly increasing.
  */
final case class StreamKey(ms: Long, seq: Long) extends Ordered[StreamKey] {
  def compare(that: StreamKey): Int = {
    val c = java.lang.Long.compare(ms, that.ms)
    if (c != 0) c else java.lang.Long.compare(seq, that.seq)
  }
  def render: String = s"$ms-$seq"
}
object StreamKey {
  def parse(s: String): StreamKey = {
    val i = s.lastIndexOf('-')
    StreamKey(s.substring(0, i).toLong, s.substring(i + 1).toLong)
  }
  val Zero: StreamKey = StreamKey(0, 0)
}

/** One persisted stream entry. `kind`: 0 = data, 1 = tombstone (segment
  * rollover, reference writer.cpp:174-189), 2 = eof (writer Stop(),
  * writer.cpp:383-398).
  */
final case class StreamEntry(
    kind: Byte,
    key: StreamKey,
    sampleIndex: Long,
    payload: Array[Byte])

object StreamEntry {
  val Data: Byte = 0
  val Tombstone: Byte = 1
  val Eof: Byte = 2
  /** One zfp-compressed write batch (reference C1: the analog of a
    * RIVER.batch_xadd_compressed Redis entry — one entry, many samples,
    * one key). `sampleIndex` is the FIRST sample of the batch; payload
    * is a [[ZfpStreamCodec]]-framed blob. Parse-time expansion in
    * [[SegmentCodec.readFramesCh]] turns it into per-sample Data
    * entries, so every consumer above the codec sees plain rows. */
  val Compressed: Byte = 3
}

/** Append-only segment file codec. Frame layout (little-endian):
  * kind u8 | ms i64 | seq i64 | sampleIndex i64 | len i32 | payload.
  * A segment is the analog of one Redis stream key in the chain
  * `{name}-0, {name}-1, ...` (cpp/src/writer.h:107-109).
  */
object SegmentCodec {
  val HeaderBytes = 1 + 8 + 8 + 8 + 4

  // reusable header scratch: the writer is single-threaded per stream
  // (single-writer invariant) and readers don't use write(); per-entry
  // ByteBuffer allocation halved write throughput at 1M+ samples/s
  private val hdrScratch = new ThreadLocal[ByteBuffer] {
    override def initialValue(): ByteBuffer =
      ByteBuffer.allocate(HeaderBytes).order(ByteOrder.LITTLE_ENDIAN)
  }

  def write(out: java.io.DataOutputStream, e: StreamEntry): Unit = {
    val hdr = hdrScratch.get()
    hdr.clear()
    hdr.put(e.kind).putLong(e.key.ms).putLong(e.key.seq)
      .putLong(e.sampleIndex).putInt(e.payload.length)
    out.write(hdr.array(), 0, HeaderBytes)
    out.write(e.payload)
  }

  /** Read every complete frame in [from, EOF) of a segment file.
    *
    * Memory-maps the range and parses in-memory: the previous
    * seek+readFully per 37-byte frame cost two syscalls per sample and
    * capped read throughput at ~7 MB/s; mapping reads the page cache
    * directly (segments are bounded by keysPerSegment, so the mapping is
    * bounded too).
    */
  def readAll(file: File, from: Long = 0L): Vector[StreamEntry] =
    readFrames(file, from)._1

  /** Like [[readAll]] but also returns the byte offset AFTER the last
    * complete frame parsed. Concurrent readers MUST advance their cursor
    * to this value, not to the current file length: the file can grow
    * between the snapshot and the cursor update, and a torn tail frame
    * at snapshot time would otherwise be skipped forever (data loss —
    * caught by the FIXTURES §5 fuzz test).
    */
  def readFrames(file: File, from: Long = 0L,
      until: Long = Long.MaxValue): (Vector[StreamEntry], Long) = {
    if (!file.exists()) return (Vector.empty, from)
    val ch = java.nio.channels.FileChannel.open(file.toPath)
    try readFramesCh(ch, from, until) finally ch.close()
  }

  /** How much new data still goes through positional reads rather than a
    * mapping: tail-following readers poll small increments at high rate,
    * and concurrent mmap() of the same file serializes every reader on
    * the kernel's per-file/VM locks (measured: 16 tail readers fell
    * seconds behind a 1 kHz writer; pread scales). Large catch-up reads
    * still map — one mapping amortizes over the whole replay.
    */
  private val PreadLimit = 4L << 20

  /** (kind, key, sampleIndex) of the FIRST complete frame of a segment,
    * reading only the 37-byte header — never the payload, never the
    * rest of the file. The delete-behind trim needs each segment's
    * start index; a full [[readAll]] per segment per sweep scanned the
    * whole retained tail every time (the R6 re-scan the round-13
    * verdict flagged). Torn/empty heads return None. For Compressed
    * frames the header's sampleIndex IS the batch's first sample, so
    * this equals `readAll(...).headOption.map(_.sampleIndex)` for every
    * frame kind. */
  def firstFrameHeader(file: File): Option[(Byte, StreamKey, Long)] = {
    if (!file.exists()) return None
    val ch = java.nio.channels.FileChannel.open(file.toPath)
    try {
      val hdr = ByteBuffer.allocate(HeaderBytes)
        .order(ByteOrder.LITTLE_ENDIAN)
      var pos = 0L
      while (hdr.hasRemaining) {
        val k = ch.read(hdr, pos)
        if (k < 0) return None // shorter than one header
        pos += k
      }
      hdr.flip()
      val kind = hdr.get()
      val key = StreamKey(hdr.getLong, hdr.getLong)
      val idx = hdr.getLong
      val len = hdr.getInt
      // a torn FIRST frame (payload incomplete) must read as "no
      // complete frame", exactly like readFrames' torn-tail rule
      if (ch.size() < HeaderBytes.toLong + len) None
      else Some((kind, key, idx))
    } finally ch.close()
  }

  /** Fold `f` over (kind, key, sampleIndex) of every complete frame of a
    * segment, in file order, reading the 37-byte headers only: payloads
    * are skipped, never copied, and Compressed batches are never
    * expanded. The torn-tail rule is [[readFramesCh]]'s: a frame whose
    * payload is incomplete ends the walk. Questions about a segment's
    * frames rather than its rows (the newest key, the EOF marker) ask
    * this instead of [[readAll]]. For Compressed frames the header's
    * sampleIndex is the batch's FIRST sample. */
  def foldHeaders[A](file: File, z: A)(f: (A, Byte, StreamKey, Long) => A): A = {
    if (!file.exists()) return z
    val ch = java.nio.channels.FileChannel.open(file.toPath)
    try {
      val size = ch.size()
      val buf = ByteBuffer.allocate(HeaderWalkChunk).order(ByteOrder.LITTLE_ENDIAN)
      buf.limit(0)
      var bufStart = 0L // file offset of buf(0)
      var pos = 0L // file offset of the next frame
      var acc = z
      var done = false
      while (!done && pos + HeaderBytes <= size) {
        if (pos + HeaderBytes > bufStart + buf.limit()) {
          // refill from the next header on; a large payload is skipped
          // by seeking past it, never read
          buf.clear()
          buf.limit(math.min(buf.capacity().toLong, size - pos).toInt)
          var at = pos
          var eof = false
          while (buf.hasRemaining && !eof) {
            val k = ch.read(buf, at)
            if (k < 0) eof = true else at += k
          }
          buf.flip()
          bufStart = pos
        }
        if (pos + HeaderBytes > bufStart + buf.limit()) done = true // truncated under us
        else {
          buf.position((pos - bufStart).toInt)
          val kind = buf.get()
          val key = StreamKey(buf.getLong, buf.getLong)
          val idx = buf.getLong
          val len = buf.getInt
          require(len >= 0, s"$file: frame at $pos has length $len")
          if (pos + HeaderBytes + len > size) done = true // torn tail
          else {
            acc = f(acc, kind, key, idx)
            pos += HeaderBytes + len
          }
        }
      }
      acc
    } finally ch.close()
  }

  // bytes per read of the header walk: many small frames per read, and
  // a large payload costs one short read, not a copy of the payload
  private val HeaderWalkChunk = 16 << 10

  /** [[readFrames]] over an already-open channel (lets a tail-following
    * reader keep ONE channel per segment instead of an open/close pair
    * per poll).
    */
  def readFramesCh(ch: java.nio.channels.FileChannel,
      from: Long, until: Long = Long.MaxValue): (Vector[StreamEntry], Long) = {
    // `until` bounds the parse to a frame-aligned byte range (DSv2
    // partitions): frames never split across range boundaries
    val limit = math.min(ch.size(), until)
    if (from >= limit) return (Vector.empty, from)
    val len = limit - from
    val buf =
      if (len <= PreadLimit) {
        val b = ByteBuffer.allocate(len.toInt)
        var pos = from
        while (b.hasRemaining) {
          val k = ch.read(b, pos)
          if (k < 0) { // file truncated under us: parse what we have
            b.limit(b.position())
          } else pos += k
        }
        b.flip()
        b.order(ByteOrder.LITTLE_ENDIAN)
      } else ch.map(java.nio.channels.FileChannel.MapMode.READ_ONLY,
        from, len).order(ByteOrder.LITTLE_ENDIAN)
    val out = Vector.newBuilder[StreamEntry]
    var consumed = from
    var done = false
    while (!done && buf.remaining() >= HeaderBytes) {
      val kind = buf.get()
      val key = StreamKey(buf.getLong, buf.getLong)
      val idx = buf.getLong
      val len2 = buf.getInt
      if (buf.remaining() < len2) done = true // torn tail: stop here
      else {
        val payload = new Array[Byte](len2)
        buf.get(payload)
        if (kind == StreamEntry.Compressed) {
          // expand to per-sample Data entries (same key: the reference's
          // compressed batches are one Redis entry = one key for the
          // whole batch; sample_index remains gapless per sample)
          val rows = ZfpStreamCodec.expand(payload)
          var i = 0
          while (i < rows.length) {
            out += StreamEntry(StreamEntry.Data, key, idx + i, rows(i))
            i += 1
          }
        } else out += StreamEntry(kind, key, idx, payload)
        consumed += HeaderBytes + len2
      }
    }
    (out.result(), consumed)
  }
}

/** Stream-level metadata, the analog of the `{name}-metadata` Redis hash
  * (cpp/src/redis.cpp:137, writer.cpp:68-95): schema json, init time,
  * user metadata. Persisted as `metadata.json` in the stream dir.
  */
final case class StreamMetadata(
    schemaJson: String,
    initializedAtUs: Long,
    userMetadata: Map[String, String],
    // parity fields of the reference metadata hash (writer.cpp:68-95):
    // clock delta is 0 on a single-clock store but kept as a stored
    // property (M4); compression params are stored but NOT consumed —
    // readers reject compressed streams loudly (C1, SURVEY §7.5#7).
    localMinusServerClockUs: Option[Long] = None,
    compressionParamsJson: Option[String] = None) {
  def toJson: String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val um = userMetadata.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
    val clock = localMinusServerClockUs
      .map(v => s""","local_minus_server_clock_us":$v""").getOrElse("")
    val comp = compressionParamsJson // itself json: embed verbatim
      .map(v => s""","compression_params_json":$v""").getOrElse("")
    // schemaJson is itself json: embed verbatim
    s"""{"schema":${schemaJson},"initialized_at_us":$initializedAtUs$clock$comp,"user_metadata":{$um}}"""
  }
  def schema: RiverSchema = RiverSchema.fromJson(schemaJson)
}
object StreamMetadata {
  def fromJson(s: String): StreamMetadata = {
    val schemaStart = s.indexOf("""{"field_definitions"""")
    require(schemaStart >= 0, s"no schema in metadata: $s")
    var depth = 0; var i = schemaStart; var end = -1
    while (end < 0 && i < s.length) {
      s.charAt(i) match {
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) end = i
        case _ =>
      }
      i += 1
    }
    val schemaJson = s.substring(schemaStart, end + 1)
    val initUs = """"initialized_at_us"\s*:\s*(\d+)""".r
      .findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(0L)
    val umRe = """"user_metadata"\s*:\s*\{(.*?)\}""".r
    val um = umRe.findFirstMatchIn(s).map(_.group(1)) match {
      case Some(body) if body.trim.nonEmpty =>
        """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
          .findAllMatchIn(body)
          .map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
      case _ => Map.empty[String, String]
    }
    val clock = """"local_minus_server_clock_us"\s*:\s*(-?\d+)""".r
      .findFirstMatchIn(s).map(_.group(1).toLong)
    // compression params: grab the balanced object after the key
    val comp = {
      val key = """"compression_params_json"\s*:\s*""".r
      key.findFirstMatchIn(s).map { m =>
        var depth = 0; var i = m.end; val start = i; var stop = -1
        while (stop < 0 && i < s.length) {
          s.charAt(i) match {
            case '{' => depth += 1
            case '}' => depth -= 1; if (depth == 0) stop = i
            case _ =>
          }
          i += 1
        }
        s.substring(start, stop + 1)
      }
    }
    StreamMetadata(schemaJson, initUs, um, clock, comp)
  }
  private def unesc(s: String): String =
    s.replace("\\n", "\n").replace("\\\"", "\"").replace("\\\\", "\\")
}

class StreamExistsException(name: String)
  extends RuntimeException(s"stream already exists: $name")

/** File-backed stream store: the storage layer under the `river` Spark
  * connector and the facades. One directory per stream; an append-only
  * segment chain with tombstone/EOF markers; metadata.json.
  *
  * This replaces the reference's Redis transport with a shared
  * filesystem (the storage a Spark cluster actually has); the SEMANTICS
  * (single writer, monotone server-assigned keys, gapless sample_index,
  * tombstone chain, EOF marker, metadata KV, SCAN-style listing) are
  * river's, per SURVEY.md §1-2.
  */
final class StreamStore(val root: Path) {
  Files.createDirectories(root)

  private def dir(name: String): Path = root.resolve(name)
  private def segFile(name: String, idx: Long): File =
    dir(name).resolve(f"seg-$idx%010d.log").toFile

  // ------------------------------------------------------------- catalog

  /** List stream names (analog of SCAN MATCH *-metadata,
    * cpp/src/redis.cpp:325-362).
    */
  def listStreams(): Seq[String] =
    Option(root.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && new File(f, "metadata.json").exists())
      .map(_.getName).toSeq.sorted

  def streamExists(name: String): Boolean =
    Files.exists(dir(name).resolve("metadata.json"))

  /** Delete a stream's data + metadata (cpp/src/redis.cpp:364-389). */
  def deleteStream(name: String): Unit = {
    val d = dir(name).toFile
    if (d.exists()) {
      Option(d.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      d.delete()
    }
  }

  def metadata(name: String): StreamMetadata = {
    val p = dir(name).resolve("metadata.json")
    require(Files.exists(p), s"no such stream: $name")
    StreamMetadata.fromJson(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
  }

  def setUserMetadata(name: String, um: Map[String, String]): Unit = {
    val m = metadata(name).copy(userMetadata = um)
    writeMetadata(name, m)
  }

  private[core] def writeMetadata(name: String, m: StreamMetadata): Unit = {
    val tmp = dir(name).resolve("metadata.json.tmp")
    Files.write(tmp, m.toJson.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir(name).resolve("metadata.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Segment indices present on disk, ascending. */
  def segments(name: String): Seq[Long] =
    Option(dir(name).toFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .collect { case s if s.startsWith("seg-") && s.endsWith(".log") =>
        s.stripPrefix("seg-").stripSuffix(".log").toLong }
      .sorted.toSeq

  def segmentFile(name: String, idx: Long): File = segFile(name, idx)

  /** First sample_index a segment holds (its first frame's header —
    * one bounded 37-byte read, never a content scan), or None for an
    * empty/torn head. The event-driven trim's fallback for segments
    * whose rollover event predates the consumer ([[StreamKeyListener]]). */
  def segmentStartIndex(name: String, idx: Long): Option[Long] =
    SegmentCodec.firstFrameHeader(segFile(name, idx)).map(_._3)

  /** Remove fully-consumed segments behind the ingest frontier
    * (delete-behind retention, reference ingester.cpp:424-490).
    */
  def trimSegmentsBefore(name: String, keepFromSegment: Long): Seq[Long] = {
    val dropped = segments(name).filter(_ < keepFromSegment)
    dropped.foreach(i => segFile(name, i).delete())
    dropped
  }

  // ------------------------------------------------------------- writer

  /** M4 clock-delta measurement — the reference writer's init step
    * (cpp/src/writer.cpp:365-381: 100 TIME round trips to the Redis
    * server, store the average local−server delta in stream metadata).
    * This store's clock authority is the backing FILESYSTEM: a probe
    * file's mtime is stamped by the storage server, and on a DFS
    * (NFS/HDFS-style) that server's clock is NOT the writer host's.
    * Each trip brackets one probe write between two local readings and
    * compares the midpoint to the server-stamped mtime — the same
    * midpoint estimator the reference uses; the average over `trips`
    * suppresses per-op jitter. On a local filesystem both clocks are
    * one clock and the estimate is ~0 (the constant this measurement
    * replaces). */
  def estimateClockDeltaUs(trips: Int = 100): Long = {
    require(trips >= 1, s"estimateClockDeltaUs: trips=$trips")
    val probe = root.resolve(".clock-probe")
    var acc = 0L
    var i = 0
    while (i < trips) {
      val t0 = nowUs()
      Files.write(probe, Array[Byte](1))
      val server = Files.getLastModifiedTime(probe)
        .to(java.util.concurrent.TimeUnit.MICROSECONDS)
      val t1 = nowUs()
      acc += (t0 + t1) / 2 - server
      i += 1
    }
    Files.deleteIfExists(probe)
    acc / trips
  }

  private def nowUs(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000L + now.getNano / 1000L
  }

  def createStream(
      name: String,
      schema: RiverSchema,
      userMetadata: Map[String, String] = Map.empty,
      keysPerSegment: Long = StreamStore.DefaultKeysPerSegment,
      compressionParamsJson: Option[String] = None,
      clockDeltaTrips: Int = 0): StreamWriter = {
    require(name.nonEmpty && name.length < 256, s"invalid stream name: $name")
    // both separators: '/' breaks the store layout everywhere, '\' only
    // on Windows — but allowing it would also force the HTTP facade to
    // serve backslash names, conflicting with its traversal guard
    require(!name.contains('/') && !name.contains('\\'),
      s"invalid stream name: $name")
    // variable-width streams forbid compression (reference writer.cpp:131-134)
    require(compressionParamsJson.isEmpty || !schema.hasVariableWidth,
      "compression is not supported for variable-width streams")
    // C1: ZFP_LOSSLESS and ZFP_LOSSY params are validated against the
    // schema here and applied per write batch by the writer; unknown
    // compression is rejected loudly at create time
    val zfp = ZfpStreamCodec.validateNew(compressionParamsJson, schema)
    if (streamExists(name)) throw new StreamExistsException(name)
    Files.createDirectories(dir(name))
    // M4: `clockDeltaTrips` > 0 measures local−server via
    // [[estimateClockDeltaUs]] (the reference writer's init round
    // trips); the default 0 stores the constant — a single-clock
    // deployment (local fs, or one host) pays no probe writes
    val delta =
      if (clockDeltaTrips > 0) estimateClockDeltaUs(clockDeltaTrips)
      else 0L
    writeMetadata(name, StreamMetadata(
      schema.toJson, System.currentTimeMillis() * 1000L, userMetadata,
      localMinusServerClockUs = Some(delta),
      compressionParamsJson = compressionParamsJson))
    new StreamWriter(this, name, schema, keysPerSegment, zfp)
  }

  def openReader(name: String, timeoutMs: Long = 0): StreamReader = {
    val deadline = System.currentTimeMillis() + timeoutMs
    // reader init waits for the stream to appear (reference
    // reader.cpp:589-604 polls metadata every 1 ms)
    while (!streamExists(name) && System.currentTimeMillis() < deadline)
      Thread.sleep(1)
    require(streamExists(name), s"stream not found within ${timeoutMs}ms: $name")
    val m = metadata(name)
    // C1: ZFP streams decode transparently (blob entries expand at parse
    // time in SegmentCodec); unknown compression is rejected loudly
    // rather than mis-decoded.
    ZfpStreamCodec.validate(m.compressionParamsJson, m.schema)
    new StreamReader(this, name, m.schema)
  }

  /** Force-append an EOF to a stream whose writer is gone (I8 staleness
    * finalizer, reference add_eof_if_necessary ingester.cpp:492-539):
    * stale live streams must be completable without their writer.
    * No-op if the stream already has an EOF.
    */
  def forceEof(name: String): Boolean = {
    val segs = segments(name)
    val last = segs.lastOption.getOrElse(0L)
    val f = segmentFile(name, last)
    val (entries, validEnd) = SegmentCodec.readFrames(f)
    if (entries.exists(_.kind == StreamEntry.Eof)) false
    else {
      // crash recovery: a dead writer may have left a torn frame at the
      // tail; appending EOF after it would corrupt the frame stream
      // (frames carry no checksum to resync on). Truncate to the last
      // complete frame first — standard WAL recovery.
      if (f.exists() && f.length() > validEnd) {
        val raf = new RandomAccessFile(f, "rw")
        try raf.setLength(validEnd) finally raf.close()
      }
      val lastIdx = entries.filter(_.kind == StreamEntry.Data)
        .lastOption.map(_.sampleIndex).getOrElse(-1L)
      val lastKey = entries.lastOption.map(_.key).getOrElse(StreamKey.Zero)
      val ms = math.max(System.currentTimeMillis(), lastKey.ms)
      val key = if (ms > lastKey.ms) StreamKey(ms, 0)
        else StreamKey(lastKey.ms, lastKey.seq + 1)
      val out = new java.io.DataOutputStream(
        new java.io.FileOutputStream(segmentFile(name, last), true))
      try SegmentCodec.write(out,
        StreamEntry(StreamEntry.Eof, key, lastIdx, Array.empty))
      finally out.close()
      Files.deleteIfExists(dir(name).resolve("writer.lock"))
      true
    }
  }

  /** Epoch ms of the newest entry of the stream, or None if empty. Read
    * from the newest segment's frame headers, payloads skipped. */
  def newestEntryMs(name: String): Option[Long] =
    segments(name).lastOption.flatMap { last =>
      SegmentCodec.foldHeaders(segmentFile(name, last), Option.empty[Long]) {
        (_, _, key, _) => Some(key.ms)
      }
    }

  /** The EOF entry's sample_index (the last one written: writer stop()
    * and [[forceEof]] both stamp it), if the writer has stopped; read
    * from the newest segment's frame headers, payloads skipped. The
    * ingester's completion decisions compare it against the persisted
    * frontier — EOF presence alone is a live-writer race: rows + EOF
    * appended between a sweep's scan and its completion check would
    * compact and DELETE the stream with the tail unpersisted. */
  def eofLastIndex(name: String): Option[Long] =
    segments(name).lastOption.flatMap { last =>
      SegmentCodec.foldHeaders(segmentFile(name, last), Option.empty[Long]) {
        (found, kind, _, idx) =>
          found.orElse(if (kind == StreamEntry.Eof) Some(idx) else None)
      }
    }
}

object StreamStore {
  /** Segment rollover threshold; the reference default is 1<<24 entries
    * per Redis key (writer.h:83) — ours is byte-free so entries-based too.
    */
  val DefaultKeysPerSegment: Long = 1L << 20

  /** Base directory for scratch: tmpfs when the host has it. The
    * reference's transport IS an in-memory store (Redis); a RAM-backed
    * filesystem is the apples-to-apples local substrate, and on a real
    * cluster this is the NVMe/DFS mount the store is deployed on.
    * `GRAFT_SCRATCH_DIR` (passed in as `env`) overrides: forcing real
    * disk lets a bench recording separate plan-level wins from the
    * RAM-disk environment win, as a paired pin — so a set but missing
    * or unwritable dir throws instead of silently falling back to the
    * RAM disk.
    */
  def scratchBase(env: Option[String] = sys.env.get("GRAFT_SCRATCH_DIR"))
      : Path = env match {
    case Some(d) =>
      val p = Paths.get(d)
      require(Files.isDirectory(p) && Files.isWritable(p),
        s"GRAFT_SCRATCH_DIR=$d is not a writable directory")
      p
    case None =>
      val shm = Paths.get("/dev/shm")
      if (Files.isWritable(shm)) shm
      else Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** Every directory this JVM made through [[scratchRoot]] and has not
    * yet deleted through [[deleteScratchRoots]], oldest first. */
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A fresh scratch directory under [[scratchBase]]. */
  def scratchRoot(tag: String): Path = {
    val p = Files.createTempDirectory(scratchBase(), tag)
    made.add(p)
    p
  }

  /** The scratch directories this JVM has made and not yet deleted. */
  private[graft] def scratchRoots: Set[Path] =
    made.toArray(Array.empty[Path]).toSet

  /** Deletes `dirs` (each one a directory [[scratchRoot]] made in this
    * JVM, with everything under it; symlinks inside are removed, never
    * followed) and forgets them. */
  private[graft] def deleteScratchRoots(dirs: Set[Path]): Unit =
    dirs.foreach { d =>
      require(made.contains(d), s"$d was not made by this JVM's scratchRoot")
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
      made.remove(d)
    }
}

/** Single-writer append facade (reference StreamWriter,
  * cpp/src/writer.cpp). Enforces: one writer per stream (lock file),
  * gapless 0-based sample_index, strictly increasing keys, tombstone on
  * segment rollover, EOF on stop.
  */
final class StreamWriter private[core] (
    store: StreamStore,
    val name: String,
    val schema: RiverSchema,
    keysPerSegment: Long,
    zfp: Option[ZfpStreamCodec.Params] = None) {

  private val codec = new RowCodec(schema)
  private val lockFile = store.root.resolve(name).resolve("writer.lock")
  require(
    Files.notExists(lockFile) || Files.readAllBytes(lockFile).isEmpty ||
      new String(Files.readAllBytes(lockFile)) == pid,
    s"stream $name already has a writer")
  Files.write(lockFile, pid.getBytes)

  private def pid: String = ProcessHandle.current().pid().toString

  private var segIdx: Long = store.segments(name).lastOption.getOrElse(0L)
  private var out = open(segIdx)
  private var inSegment: Long = 0
  private var nextIndex: Long = 0
  private var lastKey = StreamKey.Zero
  private var stopped = false

  private def open(idx: Long) = new java.io.DataOutputStream(
    new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(store.segmentFile(name, idx), true),
      1 << 20)) // 1 MiB: an 8 KiB default buffer syscalls every ~200
                // small frames; batch writes should hit the fs per batch

  private def nextKey(): StreamKey = {
    val ms = System.currentTimeMillis()
    lastKey =
      if (ms > lastKey.ms) StreamKey(ms, 0)
      else StreamKey(lastKey.ms, lastKey.seq + 1)
    lastKey
  }

  def totalWritten: Long = nextIndex

  /** Append packed samples (one Seq[Any] per row, schema field order). */
  def write(rows: Seq[Seq[Any]]): Unit = writeBytes(rows.map(codec.pack))

  def writeBytes(samples: Seq[Array[Byte]]): Unit = synchronized {
    require(!stopped, "writer is stopped")
    if (zfp.isDefined && samples.nonEmpty) {
      // one zfp blob per write batch, exactly the reference's server-side
      // batch granularity (writer.cpp:219-224): one entry, one key, n
      // samples. Rollover check runs per batch; a batch never splits
      // across segments (bounded by the caller's batch size).
      // compress first: a rejected batch writes nothing, not even the
      // rollover tombstone
      val blob = try ZfpStreamCodec.compressBatch(zfp.get, samples)
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"stream $name: ${e.getMessage}", e) }
      if (inSegment >= keysPerSegment) {
        val tomb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
          .putLong(segIdx + 1).array()
        SegmentCodec.write(out,
          StreamEntry(StreamEntry.Tombstone, nextKey(), nextIndex - 1, tomb))
        out.flush(); out.close()
        segIdx += 1
        out = open(segIdx)
        inSegment = 0
      }
      SegmentCodec.write(out,
        StreamEntry(StreamEntry.Compressed, nextKey(), nextIndex, blob))
      nextIndex += samples.size
      inSegment += samples.size
      out.flush()
      return
    }
    samples.foreach { payload =>
      if (inSegment >= keysPerSegment) {
        // tombstone carries the NEXT segment idx in its payload and the
        // last written sample_index (reference: sample_index = total-1,
        // writer.cpp:180-182)
        val tomb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
          .putLong(segIdx + 1).array()
        SegmentCodec.write(out,
          StreamEntry(StreamEntry.Tombstone, nextKey(), nextIndex - 1, tomb))
        out.flush()
        out.close()
        segIdx += 1
        out = open(segIdx)
        inSegment = 0
      }
      SegmentCodec.write(out,
        StreamEntry(StreamEntry.Data, nextKey(), nextIndex, payload))
      nextIndex += 1
      inSegment += 1
    }
    out.flush()
  }

  /** Append EOF with last sample_index and release the writer lock
    * (reference writer.cpp:383-398).
    */
  def stop(): Unit = synchronized {
    if (!stopped) {
      SegmentCodec.write(out,
        StreamEntry(StreamEntry.Eof, nextKey(), nextIndex - 1, Array.empty))
      out.flush(); out.close()
      Files.deleteIfExists(lockFile)
      stopped = true
    }
  }
}

/** R6 — stream-key-change listener, the PUBLIC callback surface the
  * reference reader exposes (cpp/src/reader.h:339-356: registered
  * callbacks fire when the reader crosses to the next Redis stream key
  * and when it consumes EOF). Fired SYNCHRONOUSLY on the reading
  * thread, in registration order, as [[StreamReader]] follows the
  * segment chain — so a consumer (e.g. the ingester's delete-behind,
  * [[graft.ingest.Ingester]]) learns segment boundaries as events
  * instead of re-scanning the directory. Both methods default to
  * no-ops so a consumer overrides only what it needs. */
trait StreamKeyListener {
  /** The reader crossed the `fromSegment`→`toSegment` tombstone;
    * `nextStartIndex` is the first sample_index that can appear in
    * `toSegment` (tombstones carry the last written index —
    * writer.cpp:180-182 parity). */
  def onSegmentRollover(stream: String, fromSegment: Long,
      toSegment: Long, nextStartIndex: Long): Unit = ()

  /** The reader consumed the EOF marker; `lastSampleIndex` is the
    * stream's final sample_index (−1 for an empty stream). */
  def onEof(stream: String, lastSampleIndex: Long): Unit = ()
}

/** Cursor-based reading facade (reference StreamReader,
  * cpp/src/reader.cpp): blocking read with timeout and partial results,
  * tail, seek, EOF/tombstone semantics. Each reader has an independent
  * cursor.
  */
final class StreamReader private[core] (
    store: StreamStore,
    val name: String,
    val schema: RiverSchema) {

  private val codec = new RowCodec(schema)
  private var segIdx: Long = store.segments(name).headOption.getOrElse(0L)
  private var filePos: Long = 0L
  private var lastIndex: Long = -1L
  private var sawEof = false
  private var listeners: List[StreamKeyListener] = Nil

  /** Register an R6 listener (reference reader.h:339-356); callbacks
    * fire on this reader's thread during read/tail/seek. */
  def addListener(l: StreamKeyListener): Unit =
    listeners = listeners :+ l
  // pending entries: flat buffer + cursor (a Queue's per-entry
  // enqueue/dequeue showed up at multi-M-samples/s read rates)
  private var pending: Array[StreamEntry] = Array.empty
  private var cursor: Int = 0

  def good(): Boolean = !sawEof

  /** EOF consumption — one site so the R6 onEof event cannot drift
    * between read/readBytes/tail. */
  private def markEof(e: StreamEntry): Unit = {
    sawEof = true
    listeners.foreach(_.onEof(name, e.sampleIndex))
  }

  // R2 — adaptive poll pause (reference reader.cpp:111-171: blocking
  // reads only when ample timeout budget remains; near-deadline waits
  // poll at 50 us). A flat Thread.sleep(1) is at the mercy of the
  // host timer — measured on a degraded-timer host: sleep(1) took
  // p50 1.8 ms / p95 3.5 ms, which alone put a 1 kHz tail-follower's
  // write→read p95 at ~5 ms vs the <1 ms baseline. Instead, a wait
  // EPISODE (consecutive empty polls) escalates through three gears:
  //  1. SPIN (first ~300 us): ~1.5 us of onSpinWait between re-polls —
  //     a poll is one ~2 us pread on the cached per-segment channel,
  //     so discovery lag while hot is a few us. The spacing matters
  //     both ways: unthrottled re-polls are ~500k preads/s per reader
  //     on ONE inode (N readers serialize on the kernel), and a LONG
  //     spin gear is worse than parking — N spinning readers can
  //     exceed the host's real CPU allocation and collapse the
  //     scheduler (measured here: a 1.5 ms spin gear drove 16 readers'
  //     p95 from ~2 ms to 245 ms on a 32-vCPU VM).
  //  2. PARK-SHORT (to 50 ms): parkNanos(50 us) — the reference's
  //     50 us poll; ~130 us effective on a stock Linux timer.
  //  3. PARK-LONG (beyond): parkNanos(1 ms), so a cold stream's
  //     blocked reader costs nothing measurable.
  // waitStart resets whenever data arrives (the reader is
  // single-threaded per contract, so plain fields suffice).
  private var waitStart = 0L // nanoTime of the episode start; 0 = idle
  private def pauseForData(): Unit = {
    val now = System.nanoTime()
    if (waitStart == 0L) waitStart = now
    val waited = now - waitStart
    if (waited < 300000L) {
      var k = 0
      while (k < 100) { Thread.onSpinWait(); k += 1 }
    } else if (waited < 50000000L)
      java.util.concurrent.locks.LockSupport.parkNanos(50000L)
    else java.util.concurrent.locks.LockSupport.parkNanos(1000000L)
  }
  private def dataArrived(): Unit = waitStart = 0L

  private object buffer {
    def isEmpty: Boolean = cursor >= pending.length
    def head: StreamEntry = pending(cursor)
    def dequeue(): StreamEntry = { val e = pending(cursor); cursor += 1; e }
  }

  /** Pull any new complete frames from the current segment into the
    * pending buffer; follow tombstones across segments (reference
    * reader.cpp:265-282).
    */
  // one cached channel per segment: a tail-following reader polls at
  // high rate, and open/close (plus mmap, see SegmentCodec.PreadLimit)
  // per poll serialized concurrent readers on kernel file locks
  private var chSegIdx: Long = -1L
  private var chOpen: java.nio.channels.FileChannel = null

  private def channel(): java.nio.channels.FileChannel = {
    if (chOpen == null || !chOpen.isOpen || chSegIdx != segIdx) {
      if (chOpen != null && chOpen.isOpen) chOpen.close()
      chOpen = java.nio.channels.FileChannel.open(
        store.segmentFile(name, segIdx).toPath)
      chSegIdx = segIdx
    }
    chOpen
  }

  private def poll(): Unit = {
    val fresh = Array.newBuilder[StreamEntry]
    var progressed = true
    while (progressed) {
      progressed = false
      val f = store.segmentFile(name, segIdx)
      if ((chSegIdx == segIdx && chOpen != null && chOpen.isOpen) ||
          f.exists()) {
        val (entries, consumedEnd) = SegmentCodec.readFramesCh(channel(), filePos)
        filePos = consumedEnd
        entries.foreach { e =>
          e.kind match {
            case StreamEntry.Tombstone =>
              val next = ByteBuffer.wrap(e.payload)
                .order(ByteOrder.LITTLE_ENDIAN).getLong
              val from = segIdx
              segIdx = next
              filePos = 0L
              // R6: the key-change event, as the reference reader fires
              // it (reader.h:339-356). Tombstones carry the LAST written
              // sample_index, so the new segment starts at +1.
              listeners.foreach(
                _.onSegmentRollover(name, from, next, e.sampleIndex + 1))
              progressed = true
            case _ => fresh += e
          }
        }
      }
    }
    val add = fresh.result()
    if (add.nonEmpty) {
      pending = (if (cursor >= pending.length) add
        else pending.drop(cursor) ++ add)
      cursor = 0
    } else if (cursor >= pending.length && pending.nonEmpty) {
      pending = Array.empty; cursor = 0
    }
  }

  /** Read up to n samples, blocking up to timeoutMs. Returns the rows
    * read (possibly fewer: partial reads allowed, reference
    * reader.cpp:114-177), or null once EOF is consumed with nothing
    * buffered (reference returns -1, reader.cpp:257-262).
    */
  def read(n: Int, timeoutMs: Long = 0): Option[Seq[(StreamKey, Long, Seq[Any])]] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    waitStart = 0L // fresh escalation episode per call (reference wait
                   // state is per-Read locals, reader.cpp:114-127)
    val out = Vector.newBuilder[(StreamKey, Long, Seq[Any])]
    var count = 0
    var done = false
    while (!done && count < n) {
      if (buffer.isEmpty) poll()
      if (buffer.isEmpty) {
        if (sawEof) done = true
        else if (System.currentTimeMillis() >= deadline) done = true
        else pauseForData()
      } else {
        dataArrived()
        val e = buffer.dequeue()
        e.kind match {
          case StreamEntry.Eof =>
            markEof(e)
            done = true
          case StreamEntry.Data =>
            if (e.sampleIndex <= lastIndex)
              sys.error(s"sample index regressed: ${e.sampleIndex} <= $lastIndex")
            lastIndex = e.sampleIndex
            out += ((e.key, e.sampleIndex, codec.unpack(e.payload)))
            count += 1
          case _ =>
        }
      }
    }
    val rows = out.result()
    if (rows.isEmpty && sawEof) None else Some(rows)
  }

  /** Read up to n samples as RAW PAYLOAD BYTES, blocking up to
    * timeoutMs — the reference's `ReadBytes` plane (reader.cpp:114-177:
    * samples land in the caller's byte buffer undecoded; the typed
    * `Read<T>` wrappers sit above it). This is the transport-throughput
    * path: no per-field decode, no boxing.
    */
  def readBytes(n: Int, timeoutMs: Long = 0): Option[Seq[Array[Byte]]] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    waitStart = 0L // fresh escalation episode per call
    val out = Vector.newBuilder[Array[Byte]]
    var count = 0
    var done = false
    while (!done && count < n) {
      if (buffer.isEmpty) poll()
      if (buffer.isEmpty) {
        if (sawEof) done = true
        else if (System.currentTimeMillis() >= deadline) done = true
        else pauseForData()
      } else {
        dataArrived()
        val e = buffer.dequeue()
        e.kind match {
          case StreamEntry.Eof =>
            markEof(e)
            done = true
          case StreamEntry.Data =>
            if (e.sampleIndex <= lastIndex)
              sys.error(s"sample index regressed: ${e.sampleIndex} <= $lastIndex")
            lastIndex = e.sampleIndex
            out += e.payload
            count += 1
          case _ =>
        }
      }
    }
    val rows = out.result()
    if (rows.isEmpty && sawEof) None else Some(rows)
  }

  /** Skip to the newest sample at/after the cursor; returns (#skipped,
    * sample) — #skipped >= 1 iff a sample is returned; 0 on timeout;
    * None (EOF) once the stream is exhausted. Reference Tail semantics,
    * reader.cpp:336-488.
    */
  def tail(timeoutMs: Long = 0): Option[(Long, Option[(StreamKey, Long, Seq[Any])])] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    waitStart = 0L // fresh escalation episode per call
    var skipped = 0L
    var last: Option[StreamEntry] = None
    var done = false
    while (!done) {
      if (buffer.isEmpty) poll()
      if (buffer.isEmpty) {
        if (last.nonEmpty || sawEof) done = true
        else if (System.currentTimeMillis() >= deadline) done = true
        else pauseForData()
      } else {
        dataArrived()
        val e = buffer.dequeue()
        e.kind match {
          case StreamEntry.Eof  => markEof(e); done = true
          case StreamEntry.Data =>
            lastIndex = e.sampleIndex
            skipped += 1
            last = None
            last = Some(e)
            // drain whatever is buffered; only keep the newest
            if (buffer.isEmpty) { poll(); if (buffer.isEmpty) done = true }
          case _ =>
        }
      }
    }
    if (last.isEmpty && sawEof && skipped == 0) None
    else Some((skipped,
      last.map(e => (e.key, e.sampleIndex, codec.unpack(e.payload)))))
  }

  /** Position the cursor at the greatest entry <= key; returns #entries
    * skipped (0 if key is in the past — no-op, reference
    * reader.cpp:525-531).
    */
  def seek(key: StreamKey): Long = {
    var skipped = 0L
    var done = false
    while (!done) {
      if (buffer.isEmpty) poll()
      if (buffer.isEmpty) done = true
      else if (buffer.head.kind == StreamEntry.Eof) done = true
      else if (buffer.head.key <= key) {
        val e = buffer.dequeue()
        if (e.kind == StreamEntry.Data) { lastIndex = e.sampleIndex; skipped += 1 }
      } else done = true
    }
    skipped
  }
}
