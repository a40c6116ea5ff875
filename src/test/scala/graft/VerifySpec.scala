package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.core.StreamStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the verify gate's loud-failure contract (round-6 regression: 12
  * queries threw, Verify swallowed the exceptions, and the driver's
  * correctness JSON silently omitted them — a dead query read as
  * "absent therefore fine"). A declared query that throws must surface
  * in the returned failure map AND in outDir/errors.json, while healthy
  * queries still produce their outputs.
  */
class VerifySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("verify-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a planted throwing query turns the gate red, loudly") {
    val out = Files.createTempDirectory("verify-spec-").toString
    val good: (SparkSession, String) => DataFrame =
      (s, _) => s.range(3).toDF("n")
    val dead: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("planted failure")
    val failed = Verify.runAll(spark,
      Seq("ok_query" -> good, "dead_query" -> dead), "unused-sf", out)

    assert(failed.keySet == Set("dead_query"),
      s"failure map wrong: $failed")
    assert(failed("dead_query").contains("planted failure"))
    assert(new java.io.File(s"$out/ok_query").isDirectory,
      "healthy query lost its output")
    assert(!new java.io.File(s"$out/dead_query").isDirectory)
    val errJson = Files.readString(java.nio.file.Paths.get(s"$out/errors.json"))
    assert(errJson.contains("\"dead_query\"") &&
      errJson.contains("planted failure"),
      s"errors.json does not record the dead query: $errJson")
  }

  test("SparkEntry declares unique query names, each with an oracle") {
    // Map.toMap silently shadows duplicates — a copy-pasted name would
    // drop a query from the driver gate without a trace. The guard in
    // SparkEntry.queries must refuse; this pins both the guard and the
    // current oracle coverage (every declared query is oracle-checked).
    val names = SparkEntry.allQueries.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).mkString(", ")}")
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet,
      "every declared query must carry an oracle (rows-only checks are " +
        "a weaker gate; this engine oracles everything)")
    assert(SparkEntry.queries.size == names.size)
  }

  test("an all-green run writes an empty errors.json") {
    val out = Files.createTempDirectory("verify-spec-").toString
    val good: (SparkSession, String) => DataFrame =
      (s, _) => s.range(2).toDF("n")
    val failed = Verify.runAll(spark, Seq("ok" -> good), "unused-sf", out)
    assert(failed.isEmpty)
    assert(Files.readString(
      java.nio.file.Paths.get(s"$out/errors.json")) == "{}")
  }

  /** `name`'s query, recording into `made` every scratch dir it left
    * before `Verify.runAll`'s cleanup. */
  private def spied(made: scala.collection.mutable.Set[Path])(name: String)
      : (String, (SparkSession, String) => DataFrame) =
    name -> { (s: SparkSession, d: String) =>
      val df = SparkEntry.queries(name)(s, d)
      made ++= StreamStore.scratchRoots
      df
    }

  test("runAll deletes the scratch dirs its queries made, and only those") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir is missing")
    val base = StreamStore.scratchBase()
    def graftDirs: Set[Path] = Files.list(base).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft-")).toSet
    // another process's scratch dir, made before the run
    val foreign = Files.createTempDirectory(base, "graft-foreign-")
    try {
      val before = graftDirs
      val made = scala.collection.mutable.Set.empty[Path]
      // r01 reads the shared events store, r03 writes private ones; the
      // spy records every scratch dir each query left before the cleanup
      val spy = spied(made) _
      val out = Files.createTempDirectory("verify-spec-").toString
      val failed = Verify.runAll(spark,
        Seq(spy("r01_stream_write_read"), spy("r03_stream_ingest")),
        sfDir, out)
      assert(failed.isEmpty, s"queries failed: $failed")
      assert(new java.io.File(s"$out/r03_stream_ingest").isDirectory)
      val ran = made.toSet -- before
      assert(ran.exists(_.getFileName.toString.startsWith("graft-river-")),
        s"the queries made no scratch dir: $made")
      assert(ran.forall(d => !Files.exists(d)),
        s"left behind: ${ran.filter(d => Files.exists(d))}")
      assert(graftDirs == before, s"new dirs: ${graftDirs -- before}")
      assert(Files.isDirectory(foreign), "deleted a dir it did not make")
      // a second run re-creates the shared store the first one deleted
      val again = Verify.runAll(spark,
        Seq(spy("r01_stream_write_read")), sfDir, out)
      assert(again.isEmpty, s"r01 failed after the cleanup: $again")
      assert(graftDirs == before)
    } finally Files.deleteIfExists(foreign)
  }

  test("runAll deletes a streaming query's checkpoint and source dirs") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir is missing")
    val shmCp = java.nio.file.Paths.get("/dev/shm/graft-cp")
    def cpEntries: Set[Path] =
      if (!Files.isDirectory(shmCp)) Set.empty
      else Files.list(shmCp).iterator().asScala.toSet
    val cpBefore = cpEntries
    val rootsBefore = StreamStore.scratchRoots
    val made = scala.collection.mutable.Set.empty[Path]
    val out = Files.createTempDirectory("verify-spec-").toString
    val failed = Verify.runAll(spark,
      Seq(spied(made)("st01_tumbling_window")), sfDir, out)
    assert(failed.isEmpty, s"st01 failed: $failed")
    val ran = made.toSet -- rootsBefore
    Seq("graft-cp-st01", "graft-events-stream-").foreach { tag =>
      assert(ran.exists(_.getFileName.toString.startsWith(tag)),
        s"st01 made no $tag* scratch dir: $ran")
    }
    assert(ran.forall(d => !Files.exists(d)),
      s"left behind: ${ran.filter(d => Files.exists(d))}")
    assert(cpEntries == cpBefore,
      s"new /dev/shm/graft-cp entries: ${cpEntries -- cpBefore}")
  }
}
