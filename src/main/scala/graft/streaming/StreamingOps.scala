package graft.streaming

import java.nio.file.Files

import graft.Tables
import graft.core.StreamStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Structured-Streaming plumbing for the engine's event-time operators.
  *
  * The pattern: every streaming query here is BOUNDED-DRAINED — read the
  * events table as a file-source stream, apply the event-time transform
  * (window / watermark / session / stateful op), drain it with
  * `Trigger.AvailableNow` into an in-memory sink, and return the result
  * as a DataFrame. That makes streaming semantics DuckDB-oracle-checkable
  * (the driver's correctness gate) while exercising the real streaming
  * engine: state store, watermark advancement, append/update emission.
  *
  * Scale notes (100 TB): the file stream source shards by files —
  * `maxFilesPerTrigger`/`maxBytesPerTrigger` are the admission control;
  * stateful operators shuffle by grouping key into
  * `spark.sql.shuffle.partitions` state-store partitions (RocksDB-backed
  * on a real cluster); watermarks bound state retention, so state size is
  * O(keys in the watermark horizon), not O(history).
  */
object StreamingOps {

  /** The events table as a bounded stream with a proper `event_time`
    * timestamp column. The stream must read the file with its RAW
    * schema (whatever physical type `ts` was generated with — nanos
    * int64 or timestamp[us]) and then apply the same
    * `Tables.normalizeTs` nanos-long normalization as the batch loader:
    * declaring the post-normalization LongType in `.schema()` would make
    * the parquet reader silently hand back raw micros as "nanos".
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    // raw file schema, before any ts normalization
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    // file-source streams read a directory. Driver testdata ships
    // events.parquet as a single FILE (symlink it into a scratch dir,
    // no data copy); scaled/engine-written data ships it as a parquet
    // DIRECTORY of part-files, which streams as-is — without this
    // branch the symlinked directory nests one level too deep and the
    // stream silently reads ZERO files.
    val src = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    val streamDir =
      if (Files.isDirectory(src)) src
      else {
        val dir = StreamStore.scratchRoot("graft-events-stream-")
        Files.createSymbolicLink(dir.resolve("events.parquet"), src)
        dir
      }
    Tables.normalizeTs(
        spark.readStream.schema(raw.schema).parquet(streamDir.toString))
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
  }

  private val rocksDbLock = new Object

  /** Run `body` with the RocksDB state store provider installed
    * (transformWithState requires it), restoring the previous provider
    * after. Callers must PIN the drained result (localCheckpoint)
    * inside `body` — a lazy plan evaluated after the restore would run
    * against the wrong provider.
    *
    * The provider key is SESSION-scoped mutable state, so the toggle is
    * not reentrant: a second query started on the same session during
    * `body` would plan under RocksDB too (or, racing the restore, under
    * the wrong provider). Concurrent callers therefore serialize on a
    * process-wide lock — correct and cheap for the sequential
    * Verify/Bench harness; a service wanting true concurrency should
    * set the provider per-query via the writeStream option instead.
    */
  def withRocksDb[A](spark: SparkSession)(body: => A): A =
    rocksDbLock.synchronized {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try body
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }

  /** Drain a streaming DataFrame into an in-memory table and return it.
    * `AvailableNow` processes everything currently available — including
    * the final empty batch that advances the watermark and flushes closed
    * windows — then stops.
    */
  def drain(
      spark: SparkSession,
      stream: DataFrame,
      name: String,
      outputMode: String): DataFrame = {
    spark.catalog.dropTempView(name) // re-runs in the same session
    runToEnd(spark, name, stream.writeStream.format("memory")
      .queryName(name).outputMode(outputMode))
    spark.table(name)
  }

  /** Drain a streaming DataFrame through `foreachBatch` — the sink
    * escape hatch that hands each microbatch to ordinary batch code
    * (arbitrary writers, multi-sink fanout, merge semantics). Blocks
    * until the AvailableNow drain completes.
    */
  def drainForeachBatch(
      spark: SparkSession,
      stream: DataFrame,
      name: String)(f: (DataFrame, Long) => Unit): Unit =
    runToEnd(spark, name, stream.writeStream.foreachBatch(f))

  /** Runs `writer` under `AvailableNow` until it stops.
    *
    * Stateful plans can't use AQE, so every microbatch runs the full
    * spark.sql.shuffle.partitions as state-store tasks across every
    * stage — at local bench scale that is pure per-task scheduling +
    * store-commit overhead (32 partitions x ~6 stages x 3 batches).
    * Size state partitioning to the streaming workload instead; on a
    * cluster this is exactly the knob you set per-job (state partition
    * count is fixed at first checkpoint, so it is ALWAYS an explicit
    * deployment decision, never left to a batch-oriented default).
    *
    * The checkpoint is a fresh scratch root (tmpfs unless
    * `GRAFT_SCRATCH_DIR` says otherwise: state-store deltas, offset/commit
    * WALs and their fsyncs are the per-batch fixed cost of every stateful
    * query; on a cluster this is the DFS checkpoint dir, locally
    * RAM-backed is the honest equivalent of a fast DFS), so
    * `Verify.runAll` deletes it with the rest of its scratch.
    */
  private def runToEnd(spark: SparkSession, name: String,
      writer: DataStreamWriter[Row]): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key,
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
    try writer.option("checkpointLocation",
        StreamStore.scratchRoot(s"graft-cp-$name-").toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally spark.conf.set(key, prev)
  }
}
