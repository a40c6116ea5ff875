package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Drain EVERY streaming query (st01–st13) under the RocksDB state
  * store provider and compare row-for-row against the HDFS-backed
  * default. A 100 TB deployment runs RocksDB from day one (state no
  * longer bounded by executor heap, changelog checkpointing), so
  * provider-specific behavior — state schema encoding, ordered-key
  * iteration, timer handling — must be invisible in results, not just
  * for the two queries (st11/st13, transformWithState) that REQUIRE
  * RocksDB and toggle it internally.
  */
class StreamingRocksDbSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("streaming-rocksdb")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
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

  // one canonical row rendering: column order is fixed by the query,
  // row order is not (drains differ in task completion order)
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // st01–st09, st11–st13 live in Streaming.all; st10 (incremental
  // dedup, a foreachBatch drain) is defined with its dedup siblings.
  // st11/st13 REQUIRE RocksDB (transformWithState) and toggle it
  // inside their own build(), so there is no default-provider run to
  // compare against — for those two the honest check is drain-to-drain
  // determinism under RocksDB, not provider parity.
  private val rocksOnly = Set("st11_transform_with_state",
    "st13_stream_topk", "st14_map_state")
  private def stQueries =
    graft.queries.Streaming.all ++
      graft.queries.Dedup.all.filter(_.name.startsWith("st"))

  for (q <- stQueries if !rocksOnly(q.name)) {
    test(s"${q.name}: identical results under RocksDB and the default " +
        "provider") {
      // each drain creates a fresh checkpoint dir, so the two runs
      // never share state files (provider formats are incompatible)
      val default = rows(q.build(spark, sfDir))
      val rocks = StreamingOps.withRocksDb(spark) {
        val df = q.build(spark, sfDir)
        // memory-sink tables are materialized by the drain itself, but
        // collect INSIDE the toggle so no lazy edge runs after restore
        val r = rows(df)
        r
      }
      assert(default.size == rocks.size,
        s"${q.name}: row count drifted under RocksDB " +
          s"(${default.size} vs ${rocks.size})")
      default.zip(rocks).foreach { case (d, r) =>
        assert(d == r, s"${q.name}: row drifted under RocksDB")
      }
    }
  }

  for (q <- stQueries if rocksOnly(q.name)) {
    test(s"${q.name}: RocksDB-required query drains deterministically " +
        "across two independent runs") {
      val first = rows(q.build(spark, sfDir))
      val second = rows(q.build(spark, sfDir))
      assert(first.nonEmpty, s"${q.name}: empty drain")
      assert(first == second, s"${q.name}: re-drain drifted")
    }
  }
}
