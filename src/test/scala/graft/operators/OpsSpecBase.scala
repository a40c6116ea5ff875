package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The Spark session and fixtures shared by [[PipelineOpsSpec]]'s test
  * traits. */
trait OpsSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  protected var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("pipeline-ops")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  protected def corpus() = {
    val s = spark
    import s.implicits._
    Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "the quick brown fox jumps over the lazy dog again and again"),
      (12L, "the quick brown fox jumps over the lazy cat again and again"),
      (13L, "completely unrelated text with nothing shared whatsoever here"),
      (14L, "another disjoint document talking about entirely different things"))
      .toDF("my_id", "body")
  }

  protected def vectors() = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.999f, 0.01f, 0.0f)), // near 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.98f, 0.2f)),   // near 2
      (4L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vid", "emb")
  }

  /** The 4-center 16-dim clustered corpus of the durable-index tests
    * — the shared [[graft.AnnFixtures]] spelling (one fixture for the
    * lifecycle specs AND the plan gates). */
  protected def annRows(ids: Range) = graft.AnnFixtures.annRows(ids)

  protected def tmpDir(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-$tag-").toString

  /** SHA-256 of every regular file under `dir`, keyed by relative path
    * (empty when `dir` does not exist). */
  protected def sha256Tree(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val it = java.nio.file.Files.walk(root).iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p))
          b += root.relativize(p).toString ->
            java.security.MessageDigest.getInstance("SHA-256")
              .digest(java.nio.file.Files.readAllBytes(p))
              .map("%02x".format(_)).mkString
      }
      b.result()
    }
  }

  /** True iff `e` or one of its causes carries `msg`. */
  protected def causedBy(e: Throwable, msg: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => c.getMessage != null && c.getMessage.contains(msg))

  protected def parquetFiles(dir: String): Seq[String] =
    graft.plans.PlanWalk.parquetFiles(dir)

  protected def rowsOf(d: org.apache.spark.sql.DataFrame) = d.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getInt(3))).toSet

  /** Run `body` on `n` pool threads released together; results in
    * thread order. */
  protected def race[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val gate = new java.util.concurrent.CyclicBarrier(n)
      (0 until n).map { t =>
        pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = { gate.await(); body(t) }
        })
      }.map(_.get())
    } finally pool.shutdown()
  }
}
