package perfbench

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicLongArray
import java.util.concurrent.locks.LockSupport

import graft.core._

/** live_ephys: river's ephys stream, open loop, no Spark.
  *
  * One writer paces 384 x INT16 = 768 B samples at 32 kHz as 32-sample
  * batches due every 1 ms (24.6 MB/s); three tail readers follow it with
  * blocking `readBytes`. River's 16 readers do not fit 4 cores, so the
  * workload uses 3 (1 writer + 3 readers = 4 threads).
  *
  * Latency of a batch = receipt by the slowest reader minus the batch's
  * scheduled due time, so a stalled writer is charged too. */
object Live {
  val SampleBytes = 768
  val Batch = 32
  val PeriodNs = 1000000L
  val Readers = 3
  val WarmupBatches = 1000

  def run(a: Args, t: Trace): Outcome = {
    val store = new StreamStore(a.scratch.resolve("live-store"))
    val schema = RiverSchema((0 until SampleBytes / 2).map(i =>
      RiverField(f"ch$i%03d", RiverType.Int16)))
    val timed = a.seconds * 1000
    val nBatches = WarmupBatches + timed
    val w = store.createStream("ephys", schema)

    val logs = Seq.fill(Readers)(new Checks.ReaderLog(nBatches, Batch))
    val recv = Array.fill(Readers)(new Array[Long](nBatches))
    val received = new AtomicLongArray(Readers) // complete batches
    val readCalls = Array.fill(Readers)(new LongBuf) // duration ns
    val readCallBatch = Array.fill(Readers)(new LongBuf) // batch at return
    val ready = new CountDownLatch(Readers)
    val readers = (0 until Readers).map { ri =>
      val th = new Thread(() => {
        val r = store.openReader("ephys", timeoutMs = 10000)
        val log = logs(ri)
        ready.countDown()
        var done = false
        while (!done) {
          val t0 = System.nanoTime()
          val got = r.readBytes(Batch, 1000)
          val t1 = System.nanoTime()
          got match {
            case None => done = true
            case Some(xs) =>
              val firstBatch = log.delivered / Batch
              xs.foreach { p =>
                log.accept(p)
                if (log.delivered % Batch == 0) {
                  val b = (log.delivered / Batch - 1).toInt
                  if (b < nBatches) recv(ri)(b) = t1
                  received.set(ri, log.delivered / Batch)
                }
              }
              readCalls(ri).add(t1 - t0)
              readCallBatch(ri).add(firstBatch)
              t.span("core.read", s"b$firstBatch/r$ri",
                Clock.fromNano(t0), Clock.fromNano(t1))
          }
        }
      }, s"perfbench-reader-$ri")
      th.start(); th
    }
    ready.await()

    val src = new Checks.EphysSource(a.seed, SampleBytes)
    val late = new LongBuf(nBatches)
    val writeNs = new LongBuf(nBatches)
    var lagMax = 0L
    val start = System.nanoTime() + 20 * PeriodNs
    def due(b: Int): Long = start + b * PeriodNs
    var b = 0
    while (b < nBatches) {
      val batch = Vector.fill(Batch)(src.sample())
      val d = due(b)
      val now = System.nanoTime()
      if (d - now > 200000L) LockSupport.parkNanos(d - now - 100000L)
      while (System.nanoTime() < d) Thread.onSpinWait()
      val t0 = System.nanoTime()
      w.writeBytes(batch)
      val t1 = System.nanoTime()
      if (b >= WarmupBatches) {
        late.add(t0 - d)
        writeNs.add(t1 - t0)
        var minRecv = Long.MaxValue
        (0 until Readers).foreach(r =>
          minRecv = math.min(minRecv, received.get(r)))
        lagMax = math.max(lagMax, b + 1 - minRecv)
      }
      t.span("core.write", s"b$b", Clock.fromNano(t0), Clock.fromNano(t1))
      b += 1
    }
    val windowEnd = System.nanoTime()
    w.stop()
    readers.foreach(_.join(30000))
    val stuck = readers.count(_.isAlive)

    val expected = Checks.expectedEphysCrc(a.seed, SampleBytes, nBatches, Batch)
    val failed = Checks.liveFailures(expected, logs)
    val windowNs = (windowEnd - due(WarmupBatches)).toDouble
    val lat = (WarmupBatches until nBatches).map { k =>
      val slowest = (0 until Readers).map(r => recv(r)(k)).max
      if ((0 until Readers).exists(r => recv(r)(k) == 0L)) windowNs / 1e6
      else (slowest - due(k)) / 1e6
    }.toArray
    val timedReads = (0 until Readers).flatMap { r =>
      val bs = readCallBatch(r).toArray
      readCalls(r).toArray.zip(bs).collect {
        case (ns, fb) if fb >= WarmupBatches => ns / 1e3
      }
    }.toArray
    // the tail comes in bursts (a descheduled thread delays a run of
    // batches), so the tail figure is the median over 1 s windows of each
    // window's p99 (1000 batches, 10 beyond it); one burst moves one window
    val p50 = Stats.pct(lat, 0.50)
    val p99 = Stats.median(lat.grouped(1000).map(Stats.pct(_, 0.99)).toSeq)
    Outcome(
      metrics = Map(
        "wait_ms" -> p50,
        "live.latency_p50_ms" -> p50,
        "live.latency_p99_ms" -> p99,
        "core.write_call_us.p50" -> Stats.pct(writeNs.toDoubles(1e3), 0.50),
        "core.write_call_us.p99" -> Stats.pct(writeNs.toDoubles(1e3), 0.99),
        "core.write_busy_frac" -> writeNs.toArray.sum / windowNs,
        "core.read_call_us.p50" -> Stats.pct(timedReads, 0.50),
        "core.read_call_us.p99" -> Stats.pct(timedReads, 0.99),
        "core.reads_per_batch" -> timedReads.length.toDouble / (timed * Readers),
        "core.reader_lag_max_batches" -> lagMax.toDouble,
        "gen.late_ms.p99" -> Stats.pct(late.toDoubles(1e6), 0.99)),
      attempted = nBatches,
      failed = failed,
      problems =
        (if (failed > 0) Seq(s"$failed of $nBatches batches not delivered " +
          "intact, once and in order to every reader") else Nil) ++
        (if (stuck > 0) Seq(s"$stuck readers never saw EOF") else Nil),
      firstOpEpochMs = Clock.epochMs(due(WarmupBatches)),
      extra = Map("samples" -> s"${timed} batches x $Readers readers"))
  }
}
