package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import graft.AnnFixtures.annRows
import graft.core.Pins.PinnedDataset
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Spark job budgets per operator call on one fixed small fixture (the
  * 80-row ANN corpus). Job counts are deterministic where wall times
  * are not: a rise fails here, and a fall updates the pinned number.
  * Each k-means or PQ training round the caller asks for must cost
  * exactly one more job — the rounds train every quantizer in one
  * shared pass.
  */
class JobBudgetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var df: DataFrame = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("job-budget")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.createDataFrame(annRows(0 until 80))
      .toDF("vid", "emb", "grp").pin()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Spark jobs that `body` starts in its job group (forks of an
    * `Overlap` scope inherit it). A marker job runs after it; the
    * listener bus delivers job starts in submission order, so once the
    * marker has arrived every job of `body` has. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("op-under-test", "operator call")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("op-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("op-marker") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("op-marker"), "marker job never arrived")
      groups.asScala.count(_ == "op-under-test")
    } finally sc.removeSparkListener(listener)
  }

  private def tmpDir(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-budget-$tag-").toString

  private def build(iters: Int, pqIters: Int): Int = jobsOf {
    AnnOps.buildIvfPqIndex(df, "vid", "emb", "grp", tmpDir("build"),
      cells = 4, iters = iters, pqM = 4, pqKs = 4, pqIters = pqIters,
      partitions = 4)
  }

  private def inline(iters: Int, pqIters: Int): Int = jobsOf {
    val out = AnnOps.filteredTopKIvfPq(df, "vid", "emb", "grp", _ < 8,
      k = 3, cells = 4, iters = iters, nprobe = 2, pqM = 4, pqKs = 4,
      pqIters = pqIters, rerankDepth = 12, partitions = 4)
    DedupOps.releaseLocalCheckpoint(out)
  }

  private def semantic(iters: Int): Int = jobsOf {
    AnnOps.semanticNearDups(df, "vid", "emb", 0.99, cells = 4,
      iters = iters, partitions = 4).count()
  }

  test("buildIvfPqIndex: pinned job budget; one job per training round") {
    val base = build(2, 2)
    assert(base == BuildJobs, s"buildIvfPqIndex launched $base jobs")
    assert(build(3, 2) == base + 1, "one more k-means round")
    assert(build(2, 3) == base + 1, "one more PQ round")
    assert(build(3, 3) == base + 1, "cells and codebooks share rounds")
  }

  test("filteredTopKIvfPq: pinned job budget; one job per training round") {
    val base = inline(2, 2)
    assert(base == InlineJobs, s"filteredTopKIvfPq launched $base jobs")
    assert(inline(3, 2) == base + 1, "one more k-means round")
    assert(inline(2, 3) == base + 1, "one more PQ round")
  }

  test("semanticNearDups: pinned job budget; one job per k-means round") {
    val base = semantic(2)
    assert(base == SemanticJobs, s"semanticNearDups launched $base jobs")
    assert(semantic(3) == base + 1, "one more k-means round")
  }

  private val BuildJobs = 13
  private val InlineJobs = 25
  private val SemanticJobs = 10
}
