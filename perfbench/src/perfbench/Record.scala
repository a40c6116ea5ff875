package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CopyOnWriteArrayList}
import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import graft.core._
import graft.ingest.{IngestSettings, IngesterDaemon, IngesterHttpServer, IngesterSettingsJson}

/** record_ingest: the ingester's production shape (after DaemonSoak), open
  * loop, in one process.
  *
  * One generator thread writes three streams round-robin, one 100-sample
  * batch per stream every 100 ms (3000 samples/s in total): a ZFP_LOSSLESS
  * float64 stream, a VARIABLE_WIDTH_BYTES stream and a plain float64+int64
  * stream. Each stream is a series of 4000-sample recordings (4 s, four
  * 1000-sample segments); each ends in EOF, so
  * finalize, compaction and delete-behind run many times a run. An
  * `IngesterDaemon` (trim on, 250 ms sweeps, 4 workers), run by its own
  * loop, persists them and
  * an `IngesterHttpServer` serves them on loopback, where one client
  * fetches every completed data.parquet. An observer lists the output
  * directories every 5 ms to see when a published part holds a sample. */
object Record {
  val Batch = 100
  val PeriodNs = 100000000L / 3 // one batch per stream every 100 ms
  val RecordingRows = 4000
  val WarmupRows = 1000
  val KeysPerSegment = 1000L
  val SweepMs = 250L

  private val Kinds = Seq("zfp", "vw", "plain")
  private def columns(kind: String): Seq[String] = kind match {
    case "zfp" => Seq("v")
    case "vw" => Seq("blob")
    case _ => Seq("v", "tag")
  }

  /** One recording: what was written, when each sample was due, and what
    * the observer and the HTTP client saw. */
  final class Rec(val name: String, val kind: String, val timed: Boolean,
      val rows: Int) {
    val due = new Array[Long](rows)
    @volatile var written = 0
    @volatile var stopNs = 0L
    var userBytes = 0L
    val digests = columns(kind).map(_ -> new Checks.ColDigest).toMap
    // observer
    val frontierEvents = new ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var frontier = -1L
    val partsSeen = new java.util.HashSet[String]()
    var compactStart = 0L
    @volatile var compactEnd = 0L
    val segMax = new java.util.HashMap[String, java.lang.Long]()
    // HTTP client
    @volatile var fetchedNs = 0L
    var fetchNs = 0L
    var body: Array[Byte] = Array.empty
    var sidecar = ""
  }

  def run(a: Args, t: Trace): Outcome = {
    val spark = Sessions.spark(a)
    val tap = new JobTap
    spark.sparkContext.addSparkListener(tap)
    val storeRoot = a.scratch.resolve("store")
    val outRoot = a.scratch.resolve("out")
    Files.createDirectories(outRoot)
    val store = new StreamStore(storeRoot)
    val settings = IngestSettings(minAgeMsBeforeTrim = 500L,
      trimConsumedSegments = true, stalePeriodMs = 600000L)
    def newDaemon() = new IngesterDaemon(spark, storeRoot, outRoot,
      Seq(IngesterSettingsJson.Entry("rec_.*", settings)),
      parallelism = 4, sweepMs = SweepMs)
    /** The daemon's own sweep loop on a thread, as `IngesterMain` runs it. */
    def launch(d: IngesterDaemon): Thread = {
      val th = new Thread(() => d.run(), "perfbench-ingester")
      th.start()
      th
    }
    /** Stop the loop; `run` returns once in-flight ingests have finished. */
    def halt(d: IngesterDaemon, th: Thread): Unit = { d.stop(); th.join(120000) }
    val http = new IngesterHttpServer(outRoot, 0)
    http.start()
    val base = s"http://127.0.0.1:${http.boundPort}/api/streams"

    val recs = new CopyOnWriteArrayList[Rec]()
    val stopped = new ConcurrentLinkedQueue[Rec]()
    val done = new AtomicBoolean(false)

    // --- observer: when does a published part hold a sample?
    val storeMax = new java.util.concurrent.atomic.AtomicLong
    val backlogMax = new java.util.concurrent.atomic.AtomicLong
    val observing = new AtomicBoolean(false)
    val observer = new Thread(() => {
      while (!done.get) {
        val now = Clock.now()
        var backlog = 0L
        recs.asScala.filter(_.compactEnd == 0L).foreach { r =>
          observe(r, outRoot.resolve(r.name), storeRoot.resolve(r.name), now)
          backlog += r.written - (r.frontier + 1)
        }
        if (observing.get) {
          backlogMax.accumulateAndGet(backlog, math.max)
          storeMax.accumulateAndGet(Stats.dirBytes(storeRoot), math.max)
        }
        Thread.sleep(5)
      }
    }, "perfbench-observer")

    // --- HTTP client: fetch each completed recording
    val client = HttpClient.newHttpClient()
    val pending = new java.util.ArrayDeque[Rec]()
    val fetcher = new Thread(() => {
      while (!done.get || !pending.isEmpty || !stopped.isEmpty) {
        var r = stopped.poll()
        while (r != null) { pending.add(r); r = stopped.poll() }
        val it = pending.iterator()
        while (it.hasNext) {
          val p = it.next()
          val side = outRoot.resolve(p.name).resolve("metadata.json")
          if (Files.exists(side) &&
              Files.readString(side).contains("\"COMPLETED\"")) {
            val meta = client.send(
              HttpRequest.newBuilder(URI.create(s"$base/${p.name}")).build(),
              HttpResponse.BodyHandlers.ofString())
            val f0 = System.nanoTime()
            val resp = client.send(HttpRequest.newBuilder(
              URI.create(s"$base/${p.name}/data.parquet")).build(),
              HttpResponse.BodyHandlers.ofByteArray())
            val f1 = System.nanoTime()
            p.sidecar = meta.body()
            p.body = if (resp.statusCode() == 200) resp.body() else Array.empty
            p.fetchNs = f1 - f0
            p.fetchedNs = Clock.fromNano(f1)
            t.span("http.fetch", p.name, Clock.fromNano(f0), p.fetchedNs)
            it.remove()
          }
        }
        Thread.sleep(5)
      }
    }, "perfbench-http-client")

    val warm = newDaemon()
    val warmThread = launch(warm)
    observer.start(); fetcher.start()

    // --- generator
    val rngs = Kinds.zipWithIndex.map { case (k, i) =>
      k -> new java.util.SplittableRandom(a.seed * 31 + i) }.toMap
    val walk = Array(0.0)
    val gens = scala.collection.mutable.Map(Kinds.map(_ -> 0): _*)
    val late = new LongBuf
    val writeNs = new LongBuf
    def newRec(kind: String, timed: Boolean): (Rec, StreamWriter, RowCodec) = {
      val name = s"rec_${kind}_${gens(kind)}"
      gens(kind) += 1
      val schema = kind match {
        case "zfp" => RiverSchema(Seq(RiverField("v", RiverType.Double64)))
        case "vw" => RiverSchema(Seq(RiverField("blob", RiverType.VariableWidthBytes(256))))
        case _ => RiverSchema(Seq(RiverField("v", RiverType.Double64),
          RiverField("tag", RiverType.Int64)))
      }
      val w = kind match {
        case "zfp" => store.createStream(name, schema, keysPerSegment = KeysPerSegment,
          compressionParamsJson = Some("""{"name":"ZFP_LOSSLESS",""" +
            """"params":{"num_cols":"1","data_type":"double"}}"""))
        case _ => store.createStream(name, schema, keysPerSegment = KeysPerSegment)
      }
      val r = new Rec(name, kind, timed,
        if (timed) RecordingRows else WarmupRows)
      recs.add(r)
      (r, w, new RowCodec(schema))
    }
    def row(kind: String): Seq[Any] = {
      val g = rngs(kind)
      kind match {
        case "zfp" => walk(0) += g.nextInt(201) - 100; Seq(walk(0))
        case "vw" =>
          val b = new Array[Byte](1 + g.nextInt(256)); g.nextBytes(b); Seq(b)
        case _ => Seq[Any](g.nextInt(1000000).toDouble, g.nextLong())
      }
    }

    /** Write recordings round-robin on a schedule from `start`; returns
      * when every stream has finished its recording begun before `until`. */
    def generate(start: Long, until: Long, timed: Boolean): Unit = {
      var tick = 0L
      val live = scala.collection.mutable.Map.empty[String, (Rec, StreamWriter, RowCodec)]
      Kinds.foreach(k => live(k) = newRec(k, timed))
      while (live.nonEmpty) {
        val kind = Kinds((tick % 3).toInt)
        val d = start + tick * PeriodNs
        tick += 1
        live.get(kind).foreach { case (r, w, codec) =>
          val rows = Vector.fill(Batch)(row(kind))
          val packed = rows.map(codec.pack)
          var i = 0
          while (i < Batch) {
            r.due(r.written + i) = Clock.fromNano(d)
            rows(i).zip(columns(kind)).foreach { case (v, c) => r.digests(c).add(v) }
            r.userBytes += (kind match {
              case "zfp" => 8
              case "vw" => rows(i).head.asInstanceOf[Array[Byte]].length
              case _ => 16 })
            i += 1
          }
          val now = System.nanoTime()
          if (d - now > 200000L) LockSupport.parkNanos(d - now - 100000L)
          while (System.nanoTime() < d) Thread.onSpinWait()
          val t0 = System.nanoTime()
          w.writeBytes(packed)
          val t1 = System.nanoTime()
          r.written += Batch
          if (timed) { late.add(t0 - d); writeNs.add(t1 - t0) }
          t.span("core.write", s"${r.name}/b${r.written / Batch - 1}",
            Clock.fromNano(t0), Clock.fromNano(t1))
          if (r.written == r.rows) {
            w.stop()
            r.stopNs = Clock.now()
            stopped.add(r)
            if (d < until) live(kind) = newRec(kind, timed) else live.remove(kind)
          }
        }
      }
    }
    def awaitFetched(deadlineS: Int): Boolean = {
      val deadline = System.nanoTime() + deadlineS * 1000000000L
      while (recs.asScala.exists(_.fetchedNs == 0L) && System.nanoTime() < deadline)
        Thread.sleep(20)
      !recs.asScala.exists(_.fetchedNs == 0L)
    }

    // set-up: one short recording lifecycle per stream, so first-time costs
    // (Spark codegen, the first compaction, the first HTTP fetch) land here
    val s0 = System.nanoTime() + 50000000L
    generate(s0, s0, timed = false)
    awaitFetched(60)
    // the timed window gets a daemon of its own, so its ingestStats hold
    // only the window's ingestOnce calls, not the cold ones of set-up
    halt(warm, warmThread)
    val daemon = newDaemon()
    val daemonThread = launch(daemon)
    val t0 = System.nanoTime() + 50000000L
    val firstOp = Clock.epochMs(t0)
    observing.set(true)
    generate(t0, t0 + a.seconds * 1000000000L, timed = true)
    val drained = awaitFetched(60)
    observing.set(false)
    val tEnd = Clock.now()
    val (ingests, sweepP50, _, sweepMax) = daemon.ingestStats
    done.set(true)
    Seq(observer, fetcher).foreach(_.join(30000))
    halt(daemon, daemonThread)
    http.stop()
    tap.settle()
    val winStart = Clock.fromNano(t0)
    tap.traceJobs(t, winStart, tEnd)

    // --- checks, outside the timed window
    val fetchedDir = a.runDir.resolve("fetched")
    Files.createDirectories(fetchedDir)
    val all = recs.asScala.toSeq
    val problems = all.flatMap { r =>
      if (r.fetchedNs == 0L) Seq(s"${r.name}: never completed and fetched")
      else {
        val f = fetchedDir.resolve(r.name + ".parquet")
        Files.write(f, r.body)
        val rows = readRows(spark, f, columns(r.kind))
        val disk = diskFile(outRoot.resolve(r.name).resolve("data.parquet"))
          .map(Files.readAllBytes).getOrElse(Array.empty[Byte])
        Checks.recordingProblems(
          Checks.Recording(r.name, r.rows, columns(r.kind),
            r.digests.map { case (c, d) => c -> d.value }),
          rows, r.sidecar, r.body, disk)
      }
    }
    val failedRecs = problems.map(_.takeWhile(_ != ':')).distinct.size

    // --- metrics over the recordings of the timed window
    val timed = all.filter(_.timed)
    val lag = timed.flatMap { r =>
      val ev = r.frontierEvents.asScala.toSeq.sortBy(_._2)
      (0 until r.written).map { i =>
        ev.find(_._1 >= i).map(e => (e._2 - r.due(i)) / 1e6)
          .getOrElse((tEnd - r.due(i)) / 1e6)
      }
    }.toArray
    val parts = timed.map(_.partsSeen.size).sum
    val sweeps = math.max(1, ingests)
    val jobs = tap.jobsIn(winStart, tEnd)
    val tasks = tap.tasksIn(winStart, tEnd)
    val conn = tasks.filter(_.connector)
    val fetches = timed.filter(_.fetchedNs > 0)
    val zfp = timed.filter(_.kind == "zfp")
    val windowNs = (tEnd - winStart).toDouble
    val p50 = Stats.pct(lag, 0.50)
    Outcome(
      metrics = Map(
        "wait_ms" -> p50,
        "ingest.persist_lag_p50_ms" -> p50,
        "ingest.persist_lag_p99_ms" -> Stats.pct(lag, 0.99),
        "ingest.finalize_s" -> Stats.median(fetches.map(r => (r.fetchedNs - r.stopNs) / 1e9)),
        "core.write_call_us.p50" -> Stats.pct(writeNs.toDoubles(1e3), 0.50),
        "core.write_call_us.p99" -> Stats.pct(writeNs.toDoubles(1e3), 0.99),
        "core.write_busy_frac" -> writeNs.toArray.sum / windowNs,
        "core.zfp_bytes_ratio" -> zfp.map(_.segMax.values.asScala.map(_.toLong).sum).sum.toDouble /
          zfp.map(_.userBytes).sum,
        "gen.late_ms.p99" -> Stats.pct(late.toDoubles(1e6), 0.99),
        "ingest.sweep_ms.p50" -> sweepP50.toDouble,
        "ingest.sweep_ms.max" -> sweepMax.toDouble,
        "ingest.jobs_per_sweep" -> jobs.size.toDouble / sweeps,
        "ingest.parts_per_sweep" -> parts.toDouble / sweeps,
        "ingest.backlog_rows_max" -> backlogMax.get.toDouble,
        "ingest.compact_s" -> Stats.median(timed.filter(r => r.compactStart > 0 && r.compactEnd > 0)
          .map(r => (r.compactEnd - r.compactStart) / 1e9)),
        "http.fetch_ms" -> Stats.median(fetches.map(_.fetchNs / 1e6)),
        "http.mb_s" -> fetches.map(_.body.length.toDouble).sum / 1e6 /
          (fetches.map(_.fetchNs).sum / 1e9),
        "ingest.store_mb_max" -> storeMax.get / 1e6,
        "ingest.out_bytes_per_user_byte" -> fetches.map(_.body.length.toDouble).sum /
          fetches.map(_.userBytes).sum,
        "connector.scan_tasks" -> conn.size.toDouble,
        "connector.input_rows" -> conn.map(_.inputRecords).sum.toDouble),
      attempted = all.size,
      failed = failedRecs,
      problems = problems ++ (if (drained) Nil else Seq("drain timed out")),
      firstOpEpochMs = firstOp,
      extra = Map(
        "rate" -> s"${(Batch * 1e9 / PeriodNs).round} samples/s in 3 streams",
        "samples" -> s"${lag.length} samples, ${timed.size} recordings, $sweeps ingestOnce calls"))
  }

  /** One observer pass over a recording's output and store dirs. */
  private def observe(r: Rec, out: Path, seg: Path, now: Long): Unit = {
    val names = Option(out.toFile.list()).map(_.toSeq).getOrElse(Nil)
    names.filter(n => n.startsWith("data_") && n.endsWith(".parquet"))
      .sorted.foreach { n =>
        if (!r.partsSeen.contains(n)) {
          partRange(out.resolve(n)).foreach { case (lo, rows) =>
            r.partsSeen.add(n)
            val f = lo + rows - 1
            if (f > r.frontier) { r.frontier = f; r.frontierEvents.add((f, now)) }
          }
        }
      }
    if (r.compactStart == 0L && names.contains(".tmp_data.parquet"))
      r.compactStart = now
    if (names.contains("data.parquet")) {
      if (r.compactStart == 0L) r.compactStart = now
      r.frontier = r.rows - 1
      r.frontierEvents.add((r.rows - 1L, now))
      r.compactEnd = now
    }
    if (r.kind == "zfp")
      Option(seg.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("seg-")).foreach { f =>
          val prev = Option(r.segMax.get(f.getName)).map(_.toLong).getOrElse(0L)
          r.segMax.put(f.getName, math.max(prev, f.length()))
        }
  }

  /** (first sample_index, row count) of a published part, from its
    * parquet footer; None while it is unreadable. */
  private def partRange(dir: Path): Option[(Long, Long)] = try {
    val files = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet")).toSeq
    if (files.isEmpty) None
    else {
      val conf = new org.apache.hadoop.conf.Configuration()
      val ranges = files.map { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toURI), conf))
        try {
          val blocks = rd.getFooter.getBlocks.asScala
          val lo = blocks.flatMap(_.getColumns.asScala
            .find(_.getPath.toDotString == "sample_index")
            .map(_.getStatistics.genericGetMin.asInstanceOf[java.lang.Long].longValue))
          (if (lo.isEmpty) Long.MaxValue else lo.min, rd.getRecordCount)
        } finally rd.close()
      }
      Some((ranges.map(_._1).min, ranges.map(_._2).sum))
    }
  } catch { case _: Exception => None }

  /** The file the HTTP server serves for a data.parquet path. */
  private def diskFile(p: Path): Option[Path] =
    if (!Files.exists(p)) None
    else if (!Files.isDirectory(p)) Some(p)
    else Option(p.toFile.listFiles()).getOrElse(Array.empty)
      .find(_.getName.endsWith(".parquet")).map(_.toPath)

  private def readRows(spark: org.apache.spark.sql.SparkSession, f: Path,
      cols: Seq[String]): Seq[(Long, Seq[Any])] =
    spark.read.parquet(f.toString).select("sample_index", cols: _*)
      .collect().toSeq.map { row =>
        (row.getLong(0), cols.indices.map(i => row.get(i + 1) match {
          case d: java.lang.Double => d.doubleValue
          case l: java.lang.Long => l.longValue
          case other => other
        }))
      }
}
