package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32C

/** Output checks. They run after the timed window and are pure functions
  * of what the program returned, so `SelfTest` can corrupt their input. */
object Checks {

  /** The seeded ephys payloads: sample i is 768 bytes, its first 8 the
    * little-endian sample number (an ephys frame counter), the rest
    * drawn from one SplittableRandom(seed) stream in sample order. */
  final class EphysSource(seed: Long, val sampleBytes: Int) {
    private val rng = new java.util.SplittableRandom(seed)
    private var next = 0L
    def sample(): Array[Byte] = {
      val b = ByteBuffer.allocate(sampleBytes).order(ByteOrder.LITTLE_ENDIAN)
      b.putLong(next)
      while (b.remaining() >= 8) b.putLong(rng.nextLong())
      next += 1
      b.array()
    }
  }

  /** One reader's view of the live stream: exactly once, in order, and a
    * CRC32C per batch. Fed on the reading thread; read after it ends. */
  final class ReaderLog(nBatches: Int, batch: Int) {
    val crc = new Array[Long](nBatches)
    val complete = new Array[Boolean](nBatches)
    private val bad = new java.util.BitSet(nBatches)
    private val c = new CRC32C
    private var next = 0L

    def accept(p: Array[Byte]): Unit = {
      val idx = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN).getLong(0)
      if (idx != next) {
        // mark both batches, then resync so one slip fails only those
        Seq(next / batch, idx / batch).foreach { x =>
          if (x >= 0 && x < nBatches) bad.set(x.toInt) }
        next = idx
      }
      c.update(p)
      next += 1
      val b = ((next - 1) / batch).toInt
      if (next % batch == 0 && b >= 0 && b < nBatches) {
        crc(b) = c.getValue; complete(b) = true; c.reset()
      }
    }
    def delivered: Long = next
    def badBatch(b: Int): Boolean = bad.get(b)
  }

  /** Batches not delivered intact to every reader. */
  def liveFailures(expectedCrc: Array[Long], readers: Seq[ReaderLog]): Int =
    expectedCrc.indices.count { b =>
      readers.exists(r => !r.complete(b) || r.badBatch(b) ||
        r.crc(b) != expectedCrc(b))
    }

  /** Per-batch CRC32C of the first n batches of the seeded source. */
  def expectedEphysCrc(seed: Long, sampleBytes: Int, nBatches: Int,
      batch: Int): Array[Long] = {
    val src = new EphysSource(seed, sampleBytes)
    val c = new CRC32C
    Array.fill(nBatches) {
      c.reset()
      var i = 0
      while (i < batch) { c.update(src.sample()); i += 1 }
      c.getValue
    }
  }

  /** Order-sensitive checksum of one column, fed in sample_index order.
    * Values are hashed by their canonical bytes: doubles by their raw
    * IEEE bits, longs little-endian, byte arrays length-prefixed. */
  final class ColDigest {
    private val c = new CRC32C
    private val b8 = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    private var n = 0L
    def add(v: Any): Unit = {
      v match {
        case d: Double => b8.clear(); b8.putLong(java.lang.Double.doubleToRawLongBits(d)); c.update(b8.array())
        case l: Long => b8.clear(); b8.putLong(l); c.update(b8.array())
        case a: Array[Byte] =>
          b8.clear(); b8.putLong(a.length.toLong); c.update(b8.array()); c.update(a)
        case other => sys.error(s"unhashable cell $other")
      }
      n += 1
    }
    def value: String = f"${c.getValue}%08x:$n"
  }

  /** What the generator wrote into one recording. */
  final case class Recording(name: String, rows: Long,
      columns: Seq[String], digests: Map[String, String])

  /** Problems with one recording's output; empty = correct.
    *  - `rows`: (sample_index, cells in `columns` order), file order;
    *  - `sidecar`: the out dir's metadata.json;
    *  - `httpBytes`/`diskBytes`: the fetched body and the file served. */
  def recordingProblems(r: Recording, rows: Seq[(Long, Seq[Any])],
      sidecar: String, httpBytes: Array[Byte],
      diskBytes: Array[Byte]): Seq[String] = {
    val p = Seq.newBuilder[String]
    if (!java.util.Arrays.equals(httpBytes, diskBytes))
      p += s"${r.name}: HTTP body differs from data.parquet on disk"
    if (!sidecar.matches("(?s).*\"ingestion_status\"\\s*:\\s*\"COMPLETED\".*"))
      p += s"${r.name}: sidecar is not COMPLETED"
    if (rows.size != r.rows)
      p += s"${r.name}: ${rows.size} rows, wrote ${r.rows}"
    val sorted = rows.sortBy(_._1)
    if (!sorted.map(_._1).sameElements(0L until r.rows))
      p += s"${r.name}: sample_index is not gapless 0..${r.rows - 1}"
    val got = r.columns.indices.map { i =>
      val d = new ColDigest
      sorted.foreach(row => d.add(row._2(i)))
      r.columns(i) -> d.value
    }.toMap
    r.columns.foreach { c =>
      if (got(c) != r.digests(c))
        p += s"${r.name}: column $c checksum ${got(c)} != written ${r.digests(c)}"
    }
    p.result()
  }
}
