package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Pins.PinnedDataset

/** Checkpointed RESUME of the analytic streaming layer — the claim the
  * README makes ("Structured Streaming ... with checkpointed resume"),
  * exercised directly: two separate drains against ONE checkpoint
  * location must (a) never re-process already-committed files and
  * (b) restore aggregation state, so the post-resume result equals the
  * all-data result even though the second drain only read the new file.
  * This is the streaming-side sibling of the ingest resume tests (I6).
  */
class StreamingResumeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("streaming-resume")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  private val scratchBefore = graft.core.StreamStore.scratchRoots

  // drop the checkpoint and source dirs the queries made under the
  // scratch base, as Verify.runAll does
  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    graft.core.StreamStore.deleteScratchRoots(
      graft.core.StreamStore.scratchRoots -- scratchBefore)
  }

  private def writeSlice(dir: String, ids: Range): Unit = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "kind").coalesce(1)
      .write.mode("append").parquet(dir)
  }

  private def stream(dir: String) = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("kind",
        org.apache.spark.sql.types.StringType)))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
  }

  private def drain(df: org.apache.spark.sql.DataFrame, cp: String,
      mode: String)(f: org.apache.spark.sql.DataFrame => Unit): Unit = {
    val q = df.writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => f(b))
      .outputMode(mode)
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("offset resume: a second drain never re-reads committed files") {
    val dir = Files.createTempDirectory("resume-src-").toString
    val cp = Files.createTempDirectory("resume-cp-").toString
    writeSlice(dir, 0 until 100)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    drain(stream(dir), cp, "append") { b =>
      seen ++= b.select("id").collect().map(_.getLong(0))
    }
    assert(seen.sorted == (0L until 100L).toSeq, "first drain reads file 1")
    // new data lands; SAME checkpoint: only the new file may be read
    writeSlice(dir, 100 until 250)
    val seen2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    drain(stream(dir), cp, "append") { b =>
      seen2 ++= b.select("id").collect().map(_.getLong(0))
    }
    assert(seen2.sorted == (100L until 250L).toSeq,
      s"resume re-processed committed data: ${seen2.size} rows")
  }

  test("durable incremental dedup index survives a kill between batches") {
    // st10's scale-soft spot until round 7: the accumulated signature
    // index lived in localCheckpoint unions, so a restart silently
    // re-admitted every duplicate of the pre-crash increments. The
    // durable path (MinhashIndex.incrementalMinhashDedupDurable) commits one
    // parquet subdir per batch; this test kills the "process" between
    // microbatches (new drain, fresh in-memory state, same checkpoint +
    // index dir) and demands the same pair set as an uninterrupted run.
    val s = spark
    import s.implicits._
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima"
    val tB = "one two three four five six seven eight nine ten eleven " +
      "twelve"
    val tC = "red orange yellow green blue indigo violet crimson amber " +
      "teal navy gold"

    val idxDir = Files.createTempDirectory("dedup-idx-").toString
    val srcDir = Files.createTempDirectory("dedup-src-").toString
    val cp = Files.createTempDirectory("dedup-cp-").toString

    // old corpus committed as batch -1 (the commit helper bootstraps
    // the manifest + generation pointer)
    val oldDocs = Seq((0L, tA), (1L, tB)).toDF("doc_id", "text")
    graft.index.MinhashIndex.commitMinhashIndexBatch(
      graft.operators.DedupOps.minhashIndex(oldDocs, "doc_id", "text",
        5, 2, 8, partitions = 2),
      idxDir, batchId = -1L, 5, 2, 8)

    def writeDocs(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def docStream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)

    val pairs = scala.collection.mutable.Set.empty[(Long, Long)]
    def drainDedup(): Unit = drainWithId(docStream, cp) { (b, bid) =>
      if (!b.isEmpty)
        pairs ++= graft.index.MinhashIndex.incrementalMinhashDedupDurable(
          b.pin(), "doc_id", "text", idxDir, bid,
          5, 2, 8, 0.8, partitions = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
    }

    // session 1: two microbatches — 10 dups old 0; 11 is novel
    writeDocs(Seq((10L, tA)))
    writeDocs(Seq((11L, tC)))
    drainDedup()
    assert(pairs.toSet == Set((0L, 10L)), s"pre-kill pairs: $pairs")

    // KILL between batches: all in-memory state is gone. A third file
    // lands: 12 dups 11 (a PRE-crash increment — only a durable index
    // can see it) and 13 dups both 0 (old corpus) and 10 (increment 1).
    writeDocs(Seq((12L, tC), (13L, tA)))
    drainDedup()
    assert(pairs.toSet ==
      Set((0L, 10L), (11L, 12L), (0L, 13L), (10L, 13L)),
      s"post-restart pairs wrong (lost index batches?): $pairs")

    // and the union equals the uninterrupted in-memory run on the same
    // data — restart changed nothing
    val allNew = Seq((10L, tA), (11L, tC), (12L, tC), (13L, tA))
      .toDF("doc_id", "text")
    val oneShot = graft.operators.DedupOps.minhashNearDupsAgainstIndex(
        allNew, "doc_id", "text",
        graft.operators.DedupOps.minhashIndex(oldDocs, "doc_id", "text",
          5, 2, 8, partitions = 2),
        5, 2, 8, 0.8, partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.toSet == oneShot,
      s"restart run diverged from one-shot: $pairs vs $oneShot")

    // replay idempotence: re-running a committed batch id with the same
    // data yields the same pairs and does not double the index
    val before = graft.index.MinhashIndex
      .loadMinhashIndex(spark, idxDir).get.count()
    val replay = graft.index.MinhashIndex.incrementalMinhashDedupDurable(
        Seq((12L, tC), (13L, tA)).toDF("doc_id", "text"),
        "doc_id", "text", idxDir, batchId = 2,
        5, 2, 8, 0.8, partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replay == Set((11L, 12L), (0L, 13L), (10L, 13L)),
      s"replay pairs: $replay")
    val after = graft.index.MinhashIndex
      .loadMinhashIndex(spark, idxDir).get.count()
    assert(before == after, s"replay grew the index: $before -> $after")
  }

  private def drainWithId(df: org.apache.spark.sql.DataFrame, cp: String)(
      f: (org.apache.spark.sql.DataFrame, Long) => Unit): Unit = {
    val q = df.writeStream
      .foreachBatch(f)
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("state resume: post-restart aggregate covers pre-restart rows") {
    val dir = Files.createTempDirectory("resume2-src-").toString
    val cp = Files.createTempDirectory("resume2-cp-").toString
    writeSlice(dir, 0 until 100) // 50 a, 50 b
    def agg = stream(dir).groupBy(col("kind")).count()
    var last: Map[String, Long] = Map.empty
    drain(agg, cp, "complete") { b =>
      if (!b.isEmpty)
        last = b.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(last == Map("a" -> 50L, "b" -> 50L))
    // restart on the same checkpoint with one new file: the complete
    // result must include the FIRST file's rows via restored state,
    // though this drain only read the second file
    writeSlice(dir, 100 until 160) // 30 a, 30 b
    drain(agg, cp, "complete") { b =>
      if (!b.isEmpty)
        last = b.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(last == Map("a" -> 80L, "b" -> 80L),
      s"state not restored across restart: $last")
  }

  test("event-time results are batch-split invariant (1 vs 3 batches)") {
    // the st01/st12 operators' semantics must not depend on HOW the
    // bounded drain is microbatched: run the same tumbling-window
    // count and watermark-horizon dedup over one 3-file corpus as a
    // single batch and as three (maxFilesPerTrigger=1); results must
    // be identical. The dedup's horizon covers the corpus span — the
    // r13/st12 backfill contract; a shorter horizon makes re-emission
    // across batches legitimate streaming behavior, not a bug.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-split-").toString
    def slice(ids: Range): Unit =
      ids.map(i => (i.toLong % 5,
        new java.sql.Timestamp(i.toLong * 60L * 1000L), 1.0))
        .toDF("user_id", "event_time", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    slice(0 until 40); slice(40 until 80); slice(80 until 120)
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_time",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    def run(tag: String, split: Boolean): (Map[Long, Long], Long) = {
      val rs0 = spark.readStream.schema(sch)
      val rs = (if (split) rs0.option("maxFilesPerTrigger", 1) else rs0)
        .parquet(dir)
      val win = rs
        .groupBy(window($"event_time", "30 minutes"))
        .agg(count(lit(1)).as("n"))
      val winOut = graft.streaming.StreamingOps
        .drain(s, win, s"split_win_$tag", "complete")
        .select(unix_timestamp($"window.start").as("ws"), $"n")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dedup = rs
        .withWatermark("event_time", "30 days")
        .dropDuplicatesWithinWatermark("user_id")
        .select($"user_id")
      val dedupOut = graft.streaming.StreamingOps
        .drain(s, dedup, s"split_dd_$tag", "append")
        .count()
      (winOut, dedupOut)
    }
    val (w1, d1) = run("one", split = false)
    val (w3, d3) = run("three", split = true)
    assert(w1 == w3, "window counts differ across batch splits")
    assert(w1.values.sum == 120L)
    assert(d1 == 5L && d3 == 5L,
      s"dedup not batch-split invariant: $d1 vs $d3")
  }

  test("transformWithState EVENT-TIME TIMERS: inactivity expiries fire " +
      "as the watermark crosses them, re-arm on activity, and survive " +
      "a restart") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("timer-src-").toString
    val cp = Files.createTempDirectory("timer-cp-").toString
    def writeFile(rows: Seq[(String, Long)]): Unit = {
      rows.toDF("user", "ms")
        .select($"user", timestamp_millis($"ms").as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(5) // distinct mtimes keep file->batch order stable
    }
    def drainTimers(): Seq[(String, Long, Long)] = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
        .withWatermark("ts", "25 seconds")
        .select($"user", unix_millis($"ts").as("ms"))
        .as[(String, Long)]
        .groupByKey(_._1)
      val expired = src.transformWithState(
        new InactivityExpiryProcessor(10000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long)]
      StreamingOps.withRocksDb(spark) {
        val q = expired.toDF("user", "n_events", "expiry_ms").writeStream
          .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
            out ++= b.collect().map(r =>
              (r.getString(0), r.getLong(1), r.getLong(2))): Unit)
          .outputMode("append")
          .option("checkpointLocation", cp)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      out.toSeq
    }
    // gap = 10 s, watermark delay 25 s. Controlled microbatches (one
    // file each); wm trails the max event time by 25 s:
    //  B1: u1@1s,2s (timer 12s), u2@5s (timer 15s); wm after = 0
    //  B2: u1@30s re-arms u1 to 40s; wm after = 5s
    //  B3: u3@60s (timer 70s) AND a LATE u1@8s — above the 5 s
    //      watermark so it reaches the processor, below u1's stored
    //      max (30s): the count grows to 4 but the deadline must STAY
    //      40s (re-arming from the batch max alone would drag it back
    //      to 18s and fire the session early). wm after = 35s
    //  flush: wm 35s fires u2@15s only -> (u2, 1, 15000)
    writeFile(Seq(("u1", 1000L), ("u1", 2000L), ("u2", 5000L)))
    writeFile(Seq(("u1", 30000L)))
    writeFile(Seq(("u3", 60000L), ("u1", 8000L)))
    val first = drainTimers().sorted
    assert(first == Seq(("u2", 1L, 15000L)),
      s"first drain fired: $first")
    // restart (fresh drain, SAME checkpoint): u1's 40 s and u3's 70 s
    // timers must have survived in the store; a u4 event pushes the
    // watermark (200s - 25s) past both
    writeFile(Seq(("u4", 200000L)))
    val second = drainTimers().sorted
    assert(second == Seq(("u1", 4L, 40000L), ("u3", 1L, 70000L)),
      s"restarted drain fired: $second")
  }

  test("top-k leaderboard ranking is overflow-safe at Long.MinValue " +
      "(the sortBy(-cents) bug)") {
    // -Long.MinValue == Long.MinValue, so arithmetic negation sorted
    // the most-negative row as if it were the LARGEST; the explicit
    // reverse Ordering must rank it last, with id-ascending ties
    val rows = Seq(
      (1L, Long.MinValue), (2L, 100L), (3L, -5L), (4L, 100L))
    val ranked = rows.sorted(RunningTopKProcessor.ranking)
    assert(ranked == Seq(
      (2L, 100L), (4L, 100L), (3L, -5L), (1L, Long.MinValue)),
      s"got $ranked")
  }
}
