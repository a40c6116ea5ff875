package graft.index

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.AnnFixtures.annRows
import graft.core.Pins.PinnedDataset
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The index trees are read under their declared schemas, which turn a
  * missing column into NULLs; `IndexStore.readTree` reads one footer and
  * fails instead. A stored tree that no longer matches its declaration
  * must stop the next append and the next serve at the door, before
  * anything is written.
  */
class IndexTreeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var df: DataFrame = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("index-tree")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.createDataFrame(annRows(0 until 80))
      .toDF("vid", "emb", "grp").pin()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Every file under `dir` (but `centroids/`) with its size and bytes'
    * hash: the committed state an operator must leave alone. */
  private def committed(dir: String): Map[String, (Long, Int)] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !root.relativize(p).toString.startsWith("centroids"))
      .map(p => root.relativize(p).toString ->
        (Files.size(p), java.util.Arrays.hashCode(Files.readAllBytes(p))))
      .toMap
  }

  /** Replaces the index's `centroids` tree with `edit` of it. */
  private def rewriteCentroids(idx: String)(edit: DataFrame => DataFrame)
      : Unit = {
    val tmp = s"$idx/.centroids-edit"
    edit(spark.read.parquet(s"$idx/centroids")).write.parquet(tmp)
    val fs = IndexStore.indexFs(spark, idx)
    fs.delete(IndexStore.hpath(s"$idx/centroids"), true)
    assert(fs.rename(IndexStore.hpath(tmp), IndexStore.hpath(s"$idx/centroids")))
  }

  private def assertRefused(what: String)(op: => Unit): Unit = {
    val e = intercept[IllegalStateException](op)
    assert(e.getMessage.contains("rebuild the index") &&
      e.getMessage.contains("centroids"), s"$what: ${e.getMessage}")
  }

  Seq[(String, DataFrame => DataFrame)](
    "without cnrmr" -> (_.drop("cnrmr")),
    "with cnrmr retyped" -> (_.withColumn("cnrmr",
      col("cnrmr").cast("float")))
  ).foreach { case (how, edit) =>
    test(s"a centroids tree $how fails the next append and serve with " +
        "'rebuild the index' and leaves the committed trees unchanged") {
      val s = spark
      import s.implicits._
      val idx = Files.createTempDirectory("graft-index-tree-").toString
      IvfPqIndex.buildIvfPqIndex(df.filter($"vid" < 64), "vid", "emb", "grp",
        idx, cells = 4, iters = 2, pqM = 4, pqKs = 4, pqIters = 2,
        partitions = 4)
      rewriteCentroids(idx)(edit)
      val before = committed(idx)
      assertRefused("append") {
        IvfPqIndex.appendIvfPqIndex(df.filter($"vid" >= 64), "vid", "emb",
          "grp", idx, 1L, partitions = 4)
      }
      assertRefused("serve") {
        IvfPqIndex.queryIvfPqIndex(df.filter($"vid" < 8), "vid", "emb", "grp",
          idx, k = 3, nprobe = 2, partitions = 4)
      }
      assert(committed(idx) == before)
    }
  }
}
