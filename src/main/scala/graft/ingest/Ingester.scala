package graft.ingest

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import graft.connector.{RiverScanBuilder, RiverTable}
import graft.core._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetOutputFormat => POF, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile, OutputFile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.GreaterThan
import org.apache.spark.sql.types.StructType

/** Per-stream ingestion settings (reference ingester_settings.h:40-81):
  * regex stream matcher + column whitelist/blacklist (whitelist wins),
  * retention min-age before trimming consumed segments.
  */
final case class IngestSettings(
    streamPattern: String = ".*",
    columnWhitelist: Option[String] = None,
    columnBlacklist: Option[String] = None,
    minAgeMsBeforeTrim: Long = 60000L, // reference: 60 s
    trimConsumedSegments: Boolean = true,
    stalePeriodMs: Long = 300000L, // reference: 5 min (ingester.h:50)
    // name of an INT64 epoch-nanos user column to derive a `p_date`
    // partition from: the at-rest layout becomes
    // out/<stream>/data_parts/p_date=YYYY-MM-DD/..., so event-time
    // filters prune whole partitions at the source (the 100 TB layout;
    // the reference's single-dir layout has no pruning axis)
    datePartitionColumn: Option[String] = None,
    // target parquet row-group bytes (reference bytes_per_row_group,
    // ingester_settings.h:20 default 128 MB, consumed at
    // ingester.cpp:217 as samples_per_row_group). Spark's writer sizes
    // row groups by parquet.block.size, so the knob maps directly;
    // None keeps the Hadoop default (also 128 MB).
    bytesPerRowGroup: Option[Long] = None) {

  /** Whitelist wins over blacklist (reference ingester_settings.h:63-81). */
  def keepColumn(name: String): Boolean = columnWhitelist match {
    case Some(w) => name.matches(w)
    case None => columnBlacklist match {
      case Some(b) => !name.matches(b)
      case None    => true
    }
  }
}

/** Stream → Parquet ingestion (the reference ingester daemon re-thought
  * for Spark, SURVEY §3.3):
  *
  *  - derived columns `sample_index`/`key`/`timestamp_ms` come from the
  *    connector (I3),
  *  - regex column pruning is pushed into the connector's reader, so
  *    pruned fields are skipped in the packed-row decode (P2),
  *  - each part is written in this process, like the reference's
  *    (`ingester.cpp:58-94`): the connector's own split reader feeds
  *    Spark's parquet write support on the driver, so a steady-state or
  *    idle sweep launches no Spark job,
  *  - resume reads the persisted frontier back from the part files'
  *    parquet footers (I6: crash-safe — a part is visible only after its
  *    atomic commit),
  *  - a sweep's parquet I/O (footer reads, the part write) goes through
  *    parquet's `java.nio` local files, not Hadoop's `FileSystem`: no
  *    Hadoop `Configuration` is parsed per file, no `chmod` is forked
  *    and no `.crc` sidecar is written,
  *  - EOF triggers compaction of parts into one `data.parquet` (I5, the
  *    one Spark job of a stream's life, written through Hadoop's
  *    `FileSystem` like any Spark write) and a COMPLETED sidecar (I9),
  *  - consumed whole segments older than `minAgeMsBeforeTrim` are
  *    deleted (delete-behind retention, I7).
  *
  * Each call ingests everything currently available (the daemon loop of
  * the reference maps to scheduling `ingestOnce` per sweep; Structured
  * Streaming with the river micro-batch source is the continuous
  * deployment shape). The driver must see both the store and `outRoot`
  * as local paths.
  */
final class Ingester(
    spark: SparkSession,
    storeRoot: Path,
    outRoot: Path,
    settings: IngestSettings = IngestSettings()) {

  private val store = new StreamStore(storeRoot)

  /** Parquet writer honoring the settings' row-group size (reference
    * bytes_per_row_group; parquet.block.size is Spark's spelling). */
  private def parquetWriter(df: DataFrame) = {
    val w = df.write
    settings.bytesPerRowGroup.fold(w)(b =>
      w.option("parquet.block.size", b.toString))
  }

  private def outDir(stream: String): Path = outRoot.resolve(stream)

  private def partFiles(stream: String): Seq[File] =
    Option(outDir(stream).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("data_") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq

  /** Highest persisted sample_index, read back from the newest part file
    * (reference read_existing_files, ingester.cpp:649-711), or -1.
    *
    * With no parts, the compacted `data.parquet` (if any) IS the
    * persisted state: a crash after compaction but before the sidecar/
    * stream-delete step would otherwise read a -1 frontier and re-ingest
    * the whole stream into a duplicate part.
    */
  def persistedFrontier(stream: String): Long =
    footerStats(partFiles(stream).lastOption.map(_.toPath)
      .getOrElse(outDir(stream).resolve("data.parquet")))._2

  /** (row count, max sample_index) of the parquet files under `roots`,
    * read from their footers on the driver — no Spark job, and no Hadoop
    * `Configuration` or `FileSystem` (a trim-only Ingester has no Spark
    * session either). Directories (a part, `data.parquet`, a `p_date=`
    * tree) are walked, skipping `_`- and `.`-prefixed entries as Spark's
    * file listing does (`_SUCCESS`, checksums, a crashed append's
    * `_temporary`); a missing root holds nothing. The max is -1 for zero
    * rows. A row group without `sample_index` min/max statistics fails
    * loudly: read as "nothing persisted", it would re-ingest the whole
    * stream into a duplicate part.
    */
  private def footerStats(roots: Path*): (Long, Long) = {
    def files(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq
          .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
          .flatMap(files)
      else if (f.isFile) Seq(f)
      else Nil
    roots.flatMap(r => files(r.toFile)).foldLeft((0L, -1L)) {
      case ((rows, hi), f) =>
        val rd = ParquetFileReader.open(new LocalInputFile(f.toPath),
          ParquetReadOptions.builder(new PlainParquetConfiguration()).build())
        try {
          val maxes = rd.getFooter.getBlocks.asScala
            .filter(_.getRowCount > 0).map { b =>
              val st = b.getColumns.asScala
                .find(_.getPath.toDotString == "sample_index")
                .map(_.getStatistics).orNull
              if (st == null || !st.hasNonNullValue)
                throw new IllegalStateException(s"$f has no sample_index " +
                  "min/max statistics: the persisted frontier cannot be " +
                  "read from its footer (written with " +
                  "parquet.column.statistics.enabled=false?)")
              st.genericGetMax.asInstanceOf[java.lang.Long].longValue
            }
          (rows + rd.getRecordCount, maxes.foldLeft(hi)(math.max))
        } finally rd.close()
    }
  }

  /** Date-partitioned variant of [[ingestOnce]]: appends into a
    * partitioned parquet dataset (no per-sweep part files, no EOF
    * compaction — the partitioned layout IS the final form at scale).
    * Returns rows persisted this sweep.
    */
  def ingestOncePartitioned(stream: String): Long = {
    val dateCol = settings.datePartitionColumn.getOrElse(
      sys.error("ingestOncePartitioned needs datePartitionColumn"))
    val meta = store.metadata(stream)
    guardIncarnation(stream, meta)
    writeSidecar(stream, meta, "IN_PROGRESS")
    val dataDir = outDir(stream).resolve("data_parts")
    val (before, from) = footerStats(dataDir)

    val keepUserCols = meta.schema.fields.map(_.name).filter(settings.keepColumn)
    val cols = Seq("sample_index", "key", "timestamp_ms") ++ keepUserCols
    val df = spark.read.format("river")
      .option("root", storeRoot.toString)
      .option("stream", stream)
      .load()
      .filter(col("sample_index") > from)
      .select(cols.map(col): _*)
      .withColumn("p_date",
        to_date(timestamp_micros(expr(s"$dateCol div 1000"))))

    // A crashed append leaves task files under _temporary/0; Hadoop's
    // committer reuses jobId 0 for every job, so the NEXT append's
    // commit trips over them (FileNotFoundException mid-commit, or
    // worse, foreign task dirs committed). Single-ingester contract =>
    // any leftover _temporary here is dead weight from a crash; clear it.
    val stale = dataDir.resolve("_temporary")
    if (Files.exists(stale))
      org.apache.commons.io.FileUtils.deleteDirectory(stale.toFile)

    parquetWriter(df).mode("append").partitionBy("p_date")
      .parquet(dataDir.toString)
    val (total, frontier) = footerStats(dataDir)

    maybeTrim(stream, frontier)
    finalizeIfStale(stream)
    // same live-writer completion gate as [[ingestOnce]]
    if (store.eofLastIndex(stream).exists(_ <= frontier)) {
      writeSidecar(stream, meta, "COMPLETED")
      store.deleteStream(stream)
      evictSegmentCache(stream)
    }
    total - before
  }

  /** Write the rows of `stream` past `from` as one parquet file under
    * `tmp`, on the driver, with no Spark job. The connector plans the
    * splits (the pushed bound prunes whole segments) and its own reader
    * decodes them one split at a time in plan order, which is
    * sample_index order: segments come in order and frames in file
    * order. The file is the one a Spark write would produce: it takes
    * Spark's prepared write conf ([[writeConf]]) and Spark's
    * `ParquetWriteSupport` maps the rows. It is written through
    * parquet's local output file, not Hadoop's `FileSystem`, so no
    * `chmod` is forked and no `.crc` sidecar is written (the EOF
    * compaction, a Spark write, still does both). The writer opens on
    * the first row, so a sweep with nothing new leaves no file behind.
    */
  private def writePart(stream: String, rs: RiverSchema,
      schema: StructType, from: Long, tmp: Path): Unit = {
    val scan = new RiverScanBuilder(storeRoot.toString, stream, rs)
    scan.pruneColumns(schema)
    scan.pushFilters(Array(GreaterThan("sample_index", from)))
    val batch = scan.build().toBatch
    val readers = batch.createReaderFactory()
    def open(): ParquetWriter[InternalRow] = {
      val conf = writeConf(schema)
      val codec = POF.getCompression(conf)
      Files.createDirectories(tmp)
      new PartWriterBuilder(new LocalOutputFile(tmp.resolve(
          s"part-00000-${UUID.randomUUID}-c000${codec.getExtension}.parquet")))
        .withConf(conf)
        .withCompressionCodec(codec)
        .withRowGroupSize(POF.getLongBlockSize(conf))
        .withPageSize(POF.getPageSize(conf))
        .withDictionaryPageSize(POF.getDictionaryPageSize(conf))
        .withDictionaryEncoding(POF.getEnableDictionary(conf))
        .withWriterVersion(POF.getWriterVersion(conf))
        .withValidation(POF.getValidation(conf))
        .withStatisticsEnabled(POF.getStatisticsEnabled(conf))
        .build()
    }
    var w: ParquetWriter[InternalRow] = null
    try batch.planInputPartitions().foreach { p =>
      val r = readers.createReader(p)
      try while (r.next()) {
        // the pushed bound only prunes whole segments
        val row = r.get()
        if (row.getLong(0) > from) {
          if (w == null) w = open()
          w.write(row)
        }
      } finally r.close()
    } finally if (w != null) w.close()
  }

  /** Spark's parquet write conf for parts of `schema` under the
    * session's current SQL conf: `prepareWrite` fills it (schema, SQL
    * write flags, codec, `parquet.block.size`) without running a job.
    * Preparing one copies the session's whole Hadoop conf, so a prepared
    * conf is reused, read-only, for every part of the same schema until
    * any SQL conf entry changes; the SparkContext's own Hadoop conf is
    * read when a conf is prepared. */
  private def writeConf(schema: StructType): Configuration = {
    val sql = spark.sessionState.conf.getAllConfs
    val (at, confs) = writeConfs
    val current = if (at == sql) confs else Map.empty[StructType, Configuration]
    current.getOrElse(schema, {
      val opts = settings.bytesPerRowGroup
        .map(b => "parquet.block.size" -> b.toString).toMap
      val job = Job.getInstance(
        spark.sessionState.newHadoopConfWithOptions(opts))
      new ParquetFileFormat().prepareWrite(spark, job, opts, schema)
      val conf = job.getConfiguration
      writeConfs = (sql, current + (schema -> conf))
      conf
    })
  }

  @volatile private var writeConfs =
    (Map.empty[String, String], Map.empty[StructType, Configuration])

  /** Ingest all currently-available samples of one stream; returns the
    * number of rows persisted this sweep.
    */
  def ingestOnce(stream: String): Long = {
    val meta = store.metadata(stream)
    guardIncarnation(stream, meta)
    writeSidecar(stream, meta, "IN_PROGRESS")
    val from = persistedFrontier(stream)

    val schema = StructType(RiverTable.DerivedFields ++
      meta.schema.toStructType.fields.filter(f => settings.keepColumn(f.name)))

    val next = partFiles(stream).size
    val target = outDir(stream).resolve(f"data_$next%010d.parquet")
    val tmp = outDir(stream).resolve(f".tmp_data_$next%010d.parquet")
    // a crashed sweep may have left this temp behind; nothing publishes it
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    writePart(stream, meta.schema, schema, from, tmp)
    val (n, written) = footerStats(tmp)
    if (n > 0) {
      // atomic publish (reference write-temp-then-rename,
      // ingester.cpp:808-829); refuses overwrite like the reference
      require(!Files.exists(target), s"refusing to overwrite $target")
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    }

    val frontier = if (n > 0) written else from
    maybeTrim(stream, frontier)
    finalizeIfStale(stream)

    // complete ONLY when everything before the EOF is persisted: the
    // scan above snapshots the stream, so rows (+ EOF) appended since
    // belong to the NEXT sweep, not to this completion
    if (store.eofLastIndex(stream).exists(_ <= frontier)) {
      compact(stream, schema)
      writeSidecar(stream, meta, "COMPLETED")
      store.deleteStream(stream) // reference deletes Redis metadata on EOF
      // a later stream REUSING the name restarts sample_index at 0: its
      // boundaries must never be answered from this incarnation's cache
      evictSegmentCache(stream)
    }
    n
  }

  /** Refuse to ingest a stream into an out dir that belongs to a
    * DIFFERENT incarnation of the same name. A completed ingest keeps
    * its data.parquet; if a new stream is later created under the old
    * name, [[persistedFrontier]] would read the stale merged frontier
    * and silently drop the new stream's rows (sample_index restarts at
    * 0). The sidecar stamps the store's creation time
    * (`initialized_at_us`); a mismatch is a name reuse, not a crash
    * window — every genuine crash state carries the SAME stamp. */
  private def guardIncarnation(stream: String,
      meta: StreamMetadata): Unit = {
    val sidecar = outDir(stream).resolve("metadata.json")
    if (Files.exists(sidecar)) {
      val j = new String(Files.readAllBytes(sidecar), StandardCharsets.UTF_8)
      """"initialized_at_us"\s*:\s*"(\d+)"""".r.findFirstMatchIn(j)
        .map(_.group(1).toLong).foreach { prev =>
          require(prev == meta.initializedAtUs,
            s"out dir ${outDir(stream)} belongs to a previous incarnation " +
              s"of stream '$stream' (sidecar created_at ${prev}us, live " +
              s"stream ${meta.initializedAtUs}us). Re-using a completed " +
              "stream name would read a stale frontier and silently drop " +
              "rows — move/delete the old output dir or use a new name")
        }
    }
  }

  /** Staleness finalizer (I8, reference add_eof_if_necessary
    * ingester.cpp:492-539): a live stream whose newest entry is older
    * than `stalePeriodMs` gets a forced EOF so it can complete even if
    * its writer died without Stop().
    */
  def finalizeIfStale(stream: String): Boolean =
    store.newestEntryMs(stream) match {
      case Some(newest)
        if System.currentTimeMillis() - newest >= settings.stalePeriodMs &&
          !eofReached(stream) => store.forceEof(stream)
      case _ => false
    }

  /** EOF marker present in the newest segment? (writer has stopped) */
  def eofReached(stream: String): Boolean =
    store.eofLastIndex(stream).isDefined

  // R6 consumption: segment-start indices arrive as ROLLOVER EVENTS
  // (reference reader.h:339-356 — the key-change callback) from any
  // reader that attached [[trimListener]], so the delete-behind trim
  // decides from remembered boundaries instead of re-scanning segment
  // contents every sweep. Keyed (stream, segment) → first sample_index;
  // concurrent because sweep(parallelism) trims streams from a pool.
  private val segStarts =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()

  /** Feed one segment boundary (idempotent — boundaries are immutable
    * once written). Public so a deployment's own tailing readers can
    * push what they learn. */
  def noteSegmentStart(stream: String, segment: Long,
      startIndex: Long): Unit =
    segStarts.put((stream, segment), startIndex)

  /** The R6 listener to attach to a [[graft.core.StreamReader]] tailing
    * `stream`: rollover events feed [[noteSegmentStart]], so a trim
    * fires on rollover knowledge without any directory re-scan
    * (IngestFeaturesSpec pins that). */
  def trimListener(stream: String): StreamKeyListener =
    new StreamKeyListener {
      override def onSegmentRollover(s: String, fromSegment: Long,
          toSegment: Long, nextStartIndex: Long): Unit =
        noteSegmentStart(stream, toSegment, nextStartIndex)
    }

  /** A segment's start index: event-fed if a rollover told us, else ONE
    * bounded first-frame-header read (never a content scan), cached. */
  private def segmentStart(stream: String, seg: Long): Option[Long] =
    Option(segStarts.get((stream, seg))).orElse {
      val fromDisk = store.segmentStartIndex(stream, seg)
      fromDisk.foreach(v => segStarts.put((stream, seg), v))
      fromDisk
    }

  private def evictSegmentCache(stream: String): Unit = {
    val it = segStarts.keySet.iterator()
    while (it.hasNext) if (it.next()._1 == stream) it.remove()
  }

  /** Public face of the delete-behind pass (the sweep calls it
    * internally): trim everything consumed below `frontier`. */
  def trimConsumed(stream: String, frontier: Long): Unit =
    maybeTrim(stream, frontier)

  /** Delete-behind: whole segments below the persisted frontier whose
    * file is older than the min age (reference I7 min-age guard).
    * A segment is fully consumed iff the NEXT segment's start is at or
    * below frontier+1 — that start comes from the rollover-event cache
    * (or one first-frame header read), NOT from scanning segments.
    */
  private def maybeTrim(stream: String, frontier: Long): Unit =
    if (settings.trimConsumedSegments && frontier >= 0) {
      val segs = store.segments(stream)
      val now = System.currentTimeMillis()
      segs.zipWithIndex.dropRight(1).foreach { case (seg, pos) =>
        val nextStart = segmentStart(stream, segs(pos + 1))
        val old = now - store.segmentFile(stream, seg).lastModified() >=
          settings.minAgeMsBeforeTrim
        if (nextStart.exists(_ <= frontier + 1) && old) {
          store.segmentFile(stream, seg).delete()
          segStarts.remove((stream, seg))
        }
      }
    }

  /** Merge all parts into a single `data.parquet` (reference
    * combine_all_files, ingester.cpp:555-647) and drop the parts.
    * `schema` is the sweep's own: the parts were written from it, and
    * declaring it spares a schema-inference job.
    */
  private def compact(stream: String, schema: StructType): Unit = {
    val parts = partFiles(stream)
    val merged = outDir(stream).resolve("data.parquet")
    if (parts.nonEmpty && Files.exists(merged)) {
      // Crash window: a previous compaction MOVED the merged file but
      // died before dropping the parts. Compaction only runs at EOF, and
      // after EOF no new rows can land, so the merged file is a superset
      // of every part — recovery is dropping the parts, never re-merging
      // (the old refuse-to-overwrite here wedged the stream forever:
      // every rerun errored before reaching the COMPLETED sidecar).
      // Guard the superset claim with footer reads.
      val mergedMax = footerStats(merged)._2
      val partsMax = footerStats(parts.map(_.toPath): _*)._2
      require(mergedMax >= partsMax,
        s"compaction recovery: $merged frontier $mergedMax < parts " +
          s"frontier $partsMax — merged file is not a superset, refusing " +
          "to drop parts")
      parts.foreach(f =>
        org.apache.commons.io.FileUtils.deleteDirectory(f))
    } else if (parts.nonEmpty) {
      val tmp = outDir(stream).resolve(".tmp_data.parquet")
      parquetWriter(spark.read.schema(schema)
        .parquet(parts.map(_.getAbsolutePath): _*)
        .coalesce(1).sortWithinPartitions("sample_index"))
        .mode("overwrite").parquet(tmp.toString)
      Files.move(tmp, merged, StandardCopyOption.ATOMIC_MOVE)
      parts.foreach(f =>
        org.apache.commons.io.FileUtils.deleteDirectory(f))
    }
    // hygiene: crashed sweeps can orphan write-temp dirs; at EOF nothing
    // will ever publish them, so clear them with the compaction
    Option(outDir(stream).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".tmp_data"))
      .foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))
  }

  /** metadata.json sidecar: user metadata + stream name + status
    * (reference append_metadata, ingester.cpp:766-793).
    */
  private def writeSidecar(stream: String, meta: StreamMetadata, status: String): Unit = {
    Files.createDirectories(outDir(stream))
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val um = (meta.userMetadata ++ Map(
      "stream_name" -> stream,
      "initialized_at_us" -> meta.initializedAtUs.toString,
      "ingestion_status" -> status)).toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
    val tmp = outDir(stream).resolve("metadata.json.tmp")
    Files.write(tmp, s"{$um}".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, outDir(stream).resolve("metadata.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Sweep every stream matching the settings pattern (reference
    * orchestrator, ingester.cpp:58-94); returns rows ingested per stream.
    *
    * `parallelism` > 1 ingests streams concurrently from a fixed pool
    * (the reference's 4-thread pool, ingester.cpp:54-55) — each stream's
    * part write runs on its own pool thread, so cross-stream parallelism
    * is the orchestrator's scale axis (per-stream order stays
    * sequential). A failing stream stops the sweep: queued streams never
    * start, running compactions' jobs are cancelled, and the call
    * rethrows only once every stream has stopped (each ingestOnce is
    * replay-safe).
    */
  def sweep(parallelism: Int = 1): Map[String, Long] = {
    val streams = store.listStreams().filter(_.matches(settings.streamPattern))
    if (parallelism <= 1) streams.map(s => s -> ingestOnce(s)).toMap
    else Overlap(spark, parallelism, "ingest-sweep",
        scala.concurrent.duration.Duration(10, "min")) { ov =>
      streams.map(s => s -> ov.fork(ingestOnce(s)))
        .map { case (s, f) => s -> f.join() }.toMap
    }
  }
}

/** A parquet writer of Spark rows over any parquet output file, with
  * Spark's own write support (the conf handed to `withConf` must carry
  * what `ParquetFileFormat.prepareWrite` sets). */
private final class PartWriterBuilder(file: OutputFile)
    extends ParquetWriter.Builder[InternalRow, PartWriterBuilder](file) {
  override protected def self(): PartWriterBuilder = this
  override protected def getWriteSupport(
      conf: Configuration): WriteSupport[InternalRow] =
    new ParquetWriteSupport()
}
