package graft.ingest

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.core.StreamStore

/** Reference-compatible settings-file parser
  * (`cpp/ingester/src/ingester_settings.h:84-147`).
  *
  * Shape:
  * {{{
  * { "global_settings": { "bytes_per_row_group": 134217728,
  *                        "minimum_age_seconds_before_deletion": 60,
  *                        "samples_per_read": 32 },
  *   "stream_settings": [
  *     { "stream_name_regex": "sensor_.*",
  *       "columns_whitelist": ["v", "ts_.*"],
  *       "bytes_per_row_group": 67108864 },
  *     { "stream_name_regex": ".*", "columns_blacklist": ["debug_.*"] } ] }
  * }}}
  *
  * Semantics preserved from the reference: entries are ORDERED and the
  * first regex matching a stream name wins (`ingester.cpp:127-131`); a
  * stream matching no entry is skipped entirely (`ingester.cpp:68-77`);
  * whitelist wins over blacklist (h:41-49); per-entry values fall back
  * to the global defaults (128 MB row groups, 60 s min deletion age).
  * The reference reads its "global" defaults off the TOP-LEVEL object,
  * gated on a `global_settings` key existing (h:89-97) — we accept both
  * that spelling and values nested inside the `global_settings` object.
  * `samples_per_read` is parsed and ignored: it throttles the
  * reference's Redis round-trips, while this engine's connector reads
  * whole mmapped segments — there is no per-read sample cap to tune.
  */
object IngesterSettingsJson {

  /** One parsed entry: match-order preserved. */
  final case class Entry(streamRegex: String, settings: IngestSettings)

  def parseFile(path: Path): Seq[Entry] =
    parse(new String(Files.readAllBytes(path), "UTF-8"))

  /** The no-settings-file default: one catch-all entry
    * (`DefaultStreamSettings`, ingester_settings.h:152-158). */
  def default: Seq[Entry] = Seq(Entry(".*", IngestSettings()))

  def parse(jsonText: String): Seq[Entry] = {
    val root = new ObjectMapper().readTree(jsonText)
    def longAt(n: JsonNode, field: String): Option[Long] =
      Option(n.get(field)).filter(_.isNumber).map(_.asLong())
    // reference quirk: defaults live at top level but only apply when a
    // global_settings key exists (ingester_settings.h:88-95 reads ONLY
    // top-level keys). We also accept values nested inside the object,
    // but TOP-LEVEL WINS — reference precedence — so a settings file
    // moved between the two ingesters behaves identically; a nested
    // value being used at all gets a notice (it would be invisible to
    // the reference ingester).
    val globalNodes: Seq[JsonNode] =
      if (root.has("global_settings"))
        Seq(root, root.get("global_settings")).filter(_.isObject)
      else Seq.empty
    def globalLong(field: String): Option[Long] = {
      val hit = globalNodes.flatMap(n => longAt(n, field).map(n -> _))
        .headOption
      hit.foreach { case (n, v) =>
        if (!(n eq root)) System.err.println(
          s"[graft-ingester] notice: global default $field=$v read from " +
            "inside global_settings; the reference ingester reads only " +
            "top-level keys — move it top-level for portability")
      }
      hit.map(_._2)
    }
    val gMinAge = globalLong("minimum_age_seconds_before_deletion")
    val gBytes = globalLong("bytes_per_row_group")
    val gStale = globalLong("stale_period_seconds")

    Option(root.get("stream_settings")).filter(_.isArray).toSeq
      .flatMap(_.elements().asScala).map { e =>
        val regex = Option(e.get("stream_name_regex")).map(_.asText())
          .getOrElse(throw new IllegalArgumentException(
            "stream_settings entry missing stream_name_regex"))
        def regexList(field: String): Option[String] =
          Option(e.get(field)).filter(_.isArray)
            .map(_.elements().asScala.map(_.asText()).toSeq)
            .filter(_.nonEmpty)
            .map(_.map(r => s"(?:$r)").mkString("|"))
        val minAgeS = longAt(e, "minimum_age_seconds_before_deletion")
          .orElse(gMinAge).getOrElse(60L)
        // ENGINE EXTENSION: the reference hard-codes its staleness
        // window as a constructor default (ingester.h:50, 300 s) with
        // no settings-file spelling; a 24/7 deployment tuning EOF
        // churn needs it configurable, so we accept
        // stale_period_seconds per-entry with the same global fallback
        // discipline as the other knobs.
        val staleS = longAt(e, "stale_period_seconds")
          .orElse(gStale).getOrElse(300L)
        Entry(regex, IngestSettings(
          streamPattern = regex,
          columnWhitelist = regexList("columns_whitelist"),
          columnBlacklist = regexList("columns_blacklist"),
          minAgeMsBeforeTrim = minAgeS * 1000L,
          stalePeriodMs = staleS * 1000L,
          bytesPerRowGroup =
            longAt(e, "bytes_per_row_group").orElse(gBytes)))
      }
  }
}

/** The long-running ingester daemon (`cpp/ingester/src/ingester_main.cpp`
  * re-expressed): a sweep loop at a fixed cadence over a stream store,
  * cross-stream parallelism from a fixed pool (reference: 4 threads,
  * `ingester.cpp:54-55`), first-match-wins per-stream settings, the
  * staleness EOF finalizer riding inside each `ingestOnce`, and the
  * HTTP façade serving the output directory while ingestion runs.
  *
  * Like the reference (`Ingest()` at `ingester.cpp:58-94`), a sweep
  * ENQUEUES work and returns: streams still ingesting from a previous
  * sweep are skipped, so one slow stream never stalls the cadence of
  * the others. A per-stream failure is logged and retried next sweep —
  * the daemon outlives any single bad segment.
  */
final class IngesterDaemon(
    spark: SparkSession,
    storeRoot: Path,
    outRoot: Path,
    entries: Seq[IngesterSettingsJson.Entry] = IngesterSettingsJson.default,
    parallelism: Int = 4,
    sweepMs: Long = 1000L) {

  require(parallelism >= 1, s"parallelism=$parallelism")
  private val store = new StreamStore(storeRoot)
  private val ingesters = entries.map(e =>
    e.streamRegex -> new Ingester(spark, storeRoot, outRoot, e.settings))
  private val pool = Executors.newFixedThreadPool(parallelism)
  private val inProgress = ConcurrentHashMap.newKeySet[String]()
  @volatile private var terminated = false
  @volatile private var sweeps = 0L
  // per-ingestOnce wall times (ms) for soak observability; a 24/7 run
  // at 1 Hz × dozens of streams is ~100k longs/day — bounded by
  // keeping the most recent window only
  private val ingestMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  private val IngestWindow = 100000

  /** Completed sweep count (a sweep = one enqueue pass). */
  def sweepCount: Long = sweeps

  /** (count, p50, p95, max) of per-stream ingestOnce wall ms over the
    * retained window — the daemon's sweep-latency story for soak
    * recordings and deploy dashboards. */
  def ingestStats: (Int, Long, Long, Long) = {
    val xs = ingestMs.toArray(Array.empty[java.lang.Long])
      .map(_.longValue).sorted
    if (xs.isEmpty) (0, 0L, 0L, 0L)
    else (xs.length, xs((xs.length - 1) / 2),
      xs(math.min(xs.length - 1, (xs.length * 95) / 100)), xs.last)
  }

  /** The daemon's stats as one JSON object: sweep count, ingestOnce
    * wall percentiles over the retained window, JVM heap. `--stats-ms`
    * prints it to stderr and `GET /api/stats` serves it. */
  def statsJson: String = {
    val (n, p50, p95, max) = ingestStats
    val rt = Runtime.getRuntime
    s"""{"sweeps":$sweeps,"ingests":$n,"ingest_ms_p50":$p50,""" +
      s""""ingest_ms_p95":$p95,"ingest_ms_max":$max,""" +
      s""""heap_used_mb":${(rt.totalMemory - rt.freeMemory) / 1048576},""" +
      s""""heap_total_mb":${rt.totalMemory / 1048576}}"""
  }

  /** One enqueue pass: dispatch every matched, not-in-progress stream
    * to the pool. Returns the streams dispatched this pass.
    *
    * A stream can complete and be deleted by a pool thread while this
    * pass still walks its `listStreams()` snapshot, and then be
    * dispatched again; the task treats a stream that no longer exists
    * as done. The check is race-free: while `inProgress` holds the
    * stream, nothing in this daemon deletes it. */
  def sweepOnce(): Seq[String] = {
    val dispatched = store.listStreams().flatMap { s =>
      ingesters.find { case (re, _) => s.matches(re) }.flatMap {
        case (_, ing) =>
          if (inProgress.add(s)) {
            pool.execute(() => {
              val t0 = System.nanoTime()
              try if (store.streamExists(s)) ing.ingestOnce(s)
              catch {
                case NonFatal(e) =>
                  System.err.println(
                    s"[graft-ingester] stream $s sweep failed: $e")
              } finally {
                inProgress.remove(s)
                ingestMs.add((System.nanoTime() - t0) / 1000000)
                while (ingestMs.size > IngestWindow) ingestMs.poll()
              }
            })
            Some(s)
          } else None // still running from a prior sweep
      }
    }
    sweeps += 1
    dispatched
  }

  /** Run the sweep loop until [[stop]] (reference main loop:
    * `ingester_main.cpp:96-99` — Ingest, sleep 1 s, repeat). */
  def run(): Unit = {
    while (!terminated) {
      sweepOnce()
      val deadline = System.currentTimeMillis() + sweepMs
      while (!terminated && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
    }
    pool.shutdown()
    pool.awaitTermination(60, TimeUnit.SECONDS)
    ()
  }

  /** Graceful stop: the loop exits after the current sweep's streams
    * finish their in-flight `ingestOnce` (never mid-part — parts
    * publish atomically, so a stop is always crash-consistent). */
  def stop(): Unit = terminated = true
}

/** `river-ingester` as a deployable process: the one §2-adjacent
  * surface round 14 flagged missing. Arguments mirror the reference
  * CLI (`ingester_main.cpp:30-43`), minus the Redis connection (the
  * store root IS the transport here) plus Spark master selection.
  *
  * {{{
  * spark-submit --class graft.ingest.IngesterMain graft.jar \
  *   --store /data/river-store --out /data/river-out \
  *   --settings settings.json --http-port 7487 \
  *   --sweep-ms 1000 --parallelism 4
  * }}}
  *
  * SIGINT/SIGTERM stop the loop gracefully (reference signal_handler):
  * in-flight streams finish their sweep, the HTTP server stops, Spark
  * shuts down.
  */
object IngesterMain {
  def main(args: Array[String]): Unit = {
    var store: String = null
    var out: String = null
    var settingsFile: Option[String] = None
    var httpPort = 7487 // reference default, ingester_main.cpp:41
    var sweepMs = 1000L
    var parallelism = 4
    var master: Option[String] = None
    var maxSweeps = 0L // 0 = forever; bounded runs for smoke tests
    var statsMs = 0L // >0: periodic stderr JSON stats (soak/monitoring)
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--stats-ms" => statsMs = args(i + 1).toLong; i += 2
        case "--store" => store = args(i + 1); i += 2
        case "--out" => out = args(i + 1); i += 2
        case "--settings" => settingsFile = Some(args(i + 1)); i += 2
        case "--http-port" => httpPort = args(i + 1).toInt; i += 2
        case "--sweep-ms" => sweepMs = args(i + 1).toLong; i += 2
        case "--parallelism" => parallelism = args(i + 1).toInt; i += 2
        case "--master" => master = Some(args(i + 1)); i += 2
        case "--max-sweeps" => maxSweeps = args(i + 1).toLong; i += 2
        case other => sys.error(s"unknown argument: $other (expected " +
          "--store --out [--settings f] [--http-port n] [--sweep-ms n] " +
          "[--parallelism n] [--master m] [--max-sweeps n] [--stats-ms n])")
      }
    }
    require(store != null && out != null, "--store and --out are required")

    val builder = SparkSession.builder()
      .appName("graft-ingester")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
    val spark = master.fold(builder)(m => builder.master(m)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val entries = settingsFile match {
      case Some(f) =>
        val p = Paths.get(f)
        require(Files.exists(p), s"settings file $f does not exist")
        val parsed = IngesterSettingsJson.parseFile(p)
        if (parsed.isEmpty)
          System.err.println("[graft-ingester] warning: stream settings " +
            "was empty. Was that intentional to not consume any streams?")
        parsed
      case None => IngesterSettingsJson.default
    }

    val outPath = Paths.get(out)
    Files.createDirectories(outPath)
    val daemon = new IngesterDaemon(spark, Paths.get(store), outPath,
      entries, parallelism, sweepMs)
    Runtime.getRuntime.addShutdownHook(new Thread(() => daemon.stop()))

    val server =
      if (httpPort > 0) {
        val s = new IngesterHttpServer(outPath, httpPort,
          Some(() => daemon.statsJson))
        s.start()
        System.err.println(
          s"[graft-ingester] HTTP server on port ${s.boundPort}")
        Some(s)
      } else None

    if (statsMs > 0) {
      // one stderr JSON line per interval — the observability line a
      // soak or a deploy dashboard tails
      val t = new Thread(() => {
        while (true) {
          Thread.sleep(statsMs)
          System.err.println(s"""{"graft_stats":${daemon.statsJson}}""")
        }
      }, "graft-ingester-stats")
      t.setDaemon(true); t.start()
    }

    System.err.println("[graft-ingester] beginning ingestion forever...")
    if (maxSweeps > 0) {
      var n = 0L
      while (n < maxSweeps) { daemon.sweepOnce(); Thread.sleep(sweepMs); n += 1 }
      daemon.stop(); daemon.run() // drain the pool
    } else daemon.run()
    server.foreach(_.stop())
    System.err.println("[graft-ingester] ingestion terminated.")
    spark.stop()
  }
}
