package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import graft.AnnFixtures.annRows
import graft.core.Pins.PinnedDataset
import graft.index.{IndexStore, IvfPqIndex, MinhashIndex, SemanticIndex}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Spark job budgets per operator call on one fixed small fixture (the
  * 80-row ANN corpus). Job counts are deterministic where wall times
  * are not: a rise fails here, and a fall updates the pinned number.
  * Each k-means or PQ training round the caller asks for must cost
  * exactly one more job when the centroid table fits one broadcast —
  * the rounds train every quantizer in one shared pass — and a fixed
  * number of jobs past that budget.
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
    IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", tmpDir("build"),
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

  private def kmeans(iters: Int, budget: Long): Int = jobsOf {
    val out = AnnOps.kmeansCells(df, "vid", "emb", k = 4, iters = iters,
      partitions = 4, maxCentroidBytes = budget)
    DedupOps.releaseLocalCheckpoint(out)
  }

  /** The jobs of `op` at 2 rounds, and what each round after that adds
    * (the same for the third and the fourth). */
  private def perRound(op: Int => Int): (Int, Int) = {
    val Seq(two, three, four) = Seq(2, 3, 4).map(op)
    assert(four - three == three - two,
      s"rounds cost unequal jobs: $two, $three, $four")
    (two, three - two)
  }

  test("kmeansCells: pinned job budget at the default budget; a fixed " +
      "cost per round") {
    val (base, round) = perRound(kmeans(_, AnnOps.DefaultMaxCentroidBytes))
    assert(base == KmeansJobs, s"kmeansCells launched $base jobs")
    assert(round == KmeansRoundJobs, s"one more round cost $round jobs")
  }

  test("kmeansCells: pinned job budget past the centroid budget (one " +
      "cell per shard); a fixed cost per round") {
    val (base, round) = perRound(kmeans(_, 1L))
    assert(base == ShardedKmeansJobs, s"kmeansCells launched $base jobs")
    assert(round == ShardedKmeansRoundJobs,
      s"one more round cost $round jobs")
  }

  test("appendIvfPqIndex: pinned job budget for one batch") {
    val s = spark
    import s.implicits._
    val idx = tmpDir("append")
    IvfPqIndex.buildIvfPqIndex(df.filter($"vid" < 64), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    val n = jobsOf {
      IvfPqIndex.appendIvfPqIndex(df.filter($"vid" >= 64), "vid", "emb", "grp",
        idx, 1L, partitions = 4)
    }
    assert(n == AppendJobs, s"appendIvfPqIndex launched $n jobs")
  }

  test("queryIvfPqIndex: pinned job budget") {
    val s = spark
    import s.implicits._
    val idx = tmpDir("query")
    IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", idx, cells = 4,
      iters = 2, pqM = 4, pqKs = 4, pqIters = 2, partitions = 4)
    val n = jobsOf {
      val out = IvfPqIndex.queryIvfPqIndex(df.filter($"vid" < 8), "vid", "emb",
        "grp", idx, k = 3, nprobe = 2, rerankDepth = 12, partitions = 4)
      DedupOps.releaseLocalCheckpoint(out)
    }
    assert(n == QueryJobs, s"queryIvfPqIndex launched $n jobs")
  }

  test("incrementalSemanticDedupDurable: pinned job budget for the " +
      "bootstrap batch plus one increment") {
    val s = spark
    import s.implicits._
    val idx = tmpDir("semantic")
    val n = jobsOf {
      SemanticIndex.incrementalSemanticDedupDurable(df.filter($"vid" < 64),
        "vid", "emb", idx, 0L, threshold = 0.99, cells = 4, iters = 2,
        partitions = 4, probe = false)
      val pairs = SemanticIndex.incrementalSemanticDedupDurable(
        df.filter($"vid" >= 64), "vid", "emb", idx, 1L, threshold = 0.99,
        cells = 4, iters = 2, partitions = 4)
      DedupOps.releaseLocalCheckpoint(pairs)
    }
    assert(n == IncrementalSemanticJobs,
      s"incrementalSemanticDedupDurable launched $n jobs")
  }

  /** An index of two committed batches (vid < 64, then vid >= 64) with
    * vid < 8 deleted: the state the maintenance passes rewrite. */
  private def twoBatchIndexWithDeletes(tag: String): String = {
    val s = spark
    import s.implicits._
    val idx = tmpDir(tag)
    IvfPqIndex.buildIvfPqIndex(df.filter($"vid" < 64), "vid", "emb", "grp",
      idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
      partitions = 4)
    IvfPqIndex.appendIvfPqIndex(df.filter($"vid" >= 64), "vid", "emb", "grp",
      idx, 1L, partitions = 4)
    IndexStore.deleteFromIndex(df.filter($"vid" < 8), "vid", idx, 0L)
    idx
  }

  test("deleteFromIndex: pinned job budget for one tombstone batch") {
    val s = spark
    import s.implicits._
    val idx = tmpDir("delete")
    IvfPqIndex.buildIvfPqIndex(df, "vid", "emb", "grp", idx, cells = 4,
      iters = 2, pqM = 4, pqKs = 4, pqIters = 2, partitions = 4)
    val n = jobsOf {
      IndexStore.deleteFromIndex(df.filter($"vid" < 8), "vid", idx, 0L)
    }
    assert(n == DeleteJobs, s"deleteFromIndex launched $n jobs")
  }

  test("compactIndex: pinned job budget over two batches and a delete") {
    val idx = twoBatchIndexWithDeletes("compact")
    val n = jobsOf(IndexStore.compactIndex(spark, idx, partitions = 4))
    assert(n == CompactJobs, s"compactIndex launched $n jobs")
  }

  test("expireBatches: pinned job budget over two batches and a delete") {
    val idx = twoBatchIndexWithDeletes("expire")
    val n = jobsOf {
      IndexStore.expireBatches(spark, idx, minKeepBatchId = 1L, partitions = 4)
    }
    assert(n == ExpireJobs, s"expireBatches launched $n jobs")
  }

  test("maintainIndex: pinned job budget over two batches and a delete") {
    val idx = twoBatchIndexWithDeletes("maintain")
    val n = jobsOf {
      IndexStore.maintainIndex(spark, idx, IndexStore.IndexMaintenancePolicy(
        minKeepBatchId = 1L, partitions = 4, vacuum = true))
    }
    assert(n == MaintainJobs, s"maintainIndex launched $n jobs")
  }

  test("commitMinhashIndexBatch: pinned job budget for one batch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.format_string
    val docs = df.select($"vid".as("doc_id"), format_string(
      "doc %d of the %s group shares these words", $"vid" % 20, $"grp")
      .as("text"))
    val sigs = DedupOps.minhashIndex(docs, "doc_id", "text", 3, 4, 2,
      partitions = 4).pin()
    val dir = tmpDir("minhash")
    val n = jobsOf(MinhashIndex.commitMinhashIndexBatch(sigs, dir, 0L, 3, 4, 2))
    assert(n == MinhashCommitJobs,
      s"commitMinhashIndexBatch launched $n jobs")
  }

  /** `df`'s rows whose vid passes `keep` as (doc_id, text) documents. */
  private def minhashDocs(keep: org.apache.spark.sql.Column): DataFrame = {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.format_string
    df.filter(keep).select($"vid".as("doc_id"), format_string(
      "doc %d of the %s group shares these words", $"vid" % 20, $"grp")
      .as("text"))
  }

  test("incrementalMinhashDedupDurable: pinned job budget for one " +
      "increment over a committed batch and a tombstone batch") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("minhash-inc")
    MinhashIndex.commitMinhashIndexBatch(DedupOps.minhashIndex(
      minhashDocs($"vid" < 64), "doc_id", "text", 3, 4, 2,
      partitions = 4), dir, 0L, 3, 4, 2)
    IndexStore.deleteFromIndex(df.filter($"vid" < 8), "vid", dir, 0L)
    val n = jobsOf {
      val pairs = MinhashIndex.incrementalMinhashDedupDurable(
        minhashDocs($"vid" >= 64), "doc_id", "text", dir, 1L,
        shingleK = 3, bands = 4, rows = 2, threshold = 0.5,
        partitions = 4)
      DedupOps.releaseLocalCheckpoint(pairs)
    }
    assert(n == IncrementalMinhashJobs,
      s"incrementalMinhashDedupDurable launched $n jobs")
  }

  test("semanticIndexDriftAudit: pinned job budget over two batches and " +
      "a delete") {
    val s = spark
    import s.implicits._
    val idx = tmpDir("drift")
    Seq(df.filter($"vid" < 64), df.filter($"vid" >= 64)).zipWithIndex
      .foreach { case (b, i) =>
        SemanticIndex.incrementalSemanticDedupDurable(b, "vid", "emb", idx,
          i.toLong, threshold = 0.99, cells = 4, iters = 2,
          partitions = 4, probe = false)
      }
    IndexStore.deleteFromIndex(df.filter($"vid" < 8), "vid", idx, 0L)
    val n = jobsOf(SemanticIndex.semanticIndexDriftAudit(spark, idx).collect())
    assert(n == DriftAuditJobs,
      s"semanticIndexDriftAudit launched $n jobs")
  }

  test("s26 chain: pinned job budget for build with semanticNearDups " +
      "and connectedComponents alongside, the delete, then the serve") {
    val s = spark
    import s.implicits._
    val idx = tmpDir("s26")
    val n = jobsOf {
      val losers = graft.core.Overlap(s, 1, "s26") { ov =>
        val fBuild = ov.fork(IvfPqIndex.buildIvfPqIndex(df, "vid", "emb",
          "grp", idx, cells = 4, iters = 2, pqM = 4, pqKs = 4,
          pqIters = 2, partitions = 4))
        val pairs = AnnOps.semanticNearDups(df, "vid", "emb", 0.99,
          cells = 4, iters = 2, partitions = 4)
        val l = DedupOps.connectedComponents(pairs, "a", "b")
          .filter(!$"is_survivor").select($"id".as("vid"))
        fBuild.join()
        l
      }
      IndexStore.deleteFromIndex(losers, "vid", idx, 1L)
      val out = IvfPqIndex.queryIvfPqIndex(df.filter($"vid" < 8), "vid", "emb",
        "grp", idx, k = 3, nprobe = 4, rerankDepth = Int.MaxValue,
        partitions = 4)
      DedupOps.releaseLocalCheckpoint(out)
    }
    assert(n == S26ChainJobs, s"the s26 chain launched $n jobs")
  }

  private val BuildJobs = 13
  private val InlineJobs = 25
  private val SemanticJobs = 10
  private val KmeansJobs = 6
  private val KmeansRoundJobs = 1
  private val ShardedKmeansJobs = 7
  private val ShardedKmeansRoundJobs = 1
  private val AppendJobs = 12
  private val QueryJobs = 22
  private val IncrementalSemanticJobs = 25
  private val DeleteJobs = 2
  private val CompactJobs = 6
  private val ExpireJobs = 6
  private val MaintainJobs = 6
  private val MinhashCommitJobs = 1
  private val IncrementalMinhashJobs = 11
  private val DriftAuditJobs = 10
  private val S26ChainJobs = 71
}
