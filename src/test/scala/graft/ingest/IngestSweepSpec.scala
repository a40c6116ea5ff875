package graft.ingest

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import graft.core.{RiverField, RiverSchema, RiverType, StreamStore}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The fixed cost of one ingest sweep: a steady-state or idle
  * `ingestOnce` launches no Spark job (the part is written on the
  * driver) and the EOF sweep one (the compaction). The frontier and row
  * counts come from parquet footers on the driver, and each part keeps
  * the order the connector's splits are read in, so these specs also
  * pin what that must keep: file row order across a multi-split scan,
  * and a loud failure when a footer cannot say where the persisted data
  * ends.
  */
class IngestSweepSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("ingest-sweep")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val schema = RiverSchema(Seq(RiverField("v", RiverType.Double64)))

  private def fixture(): (StreamStore, Path, Ingester) = {
    val storeRoot = Files.createTempDirectory("graft-sweep-store-")
    val outRoot = Files.createTempDirectory("graft-sweep-out-")
    val ing = new Ingester(spark, storeRoot, outRoot,
      IngestSettings(trimConsumedSegments = false))
    (new StreamStore(storeRoot), outRoot, ing)
  }

  private def rows(from: Int, until: Int): Seq[Seq[Any]] =
    (from until until).map(i => Seq[Any](i.toDouble))

  /** Spark jobs that `body` starts on this thread. A marker job runs
    * after it; the listener bus delivers job starts in submission
    * order, so once the marker has arrived every job of `body` has. */
  private def jobsOf[T](body: => T): (T, Int) = {
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
      sc.setJobGroup("sweep-under-test", "ingest sweep")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup("sweep-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("sweep-marker") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("sweep-marker"), "marker job never arrived")
      (out, groups.asScala.count(_ == "sweep-under-test"))
    } finally sc.removeSparkListener(listener)
  }

  /** sample_index of a parquet path in file row order (one small file
    * plans one split at the default split size, so collect keeps it). */
  private def fileOrder(p: Path): Seq[Long] = {
    val df = spark.read.parquet(p.toString)
    assert(df.rdd.getNumPartitions == 1, s"$p read in several splits")
    df.select("sample_index").collect().map(_.getLong(0)).toSeq
  }

  test("a steady-state or idle sweep of a live stream launches no Spark " +
      "job and the EOF sweep one") {
    val (store, out, ing) = fixture()
    val w = store.createStream("s", schema)
    w.write(rows(0, 100))
    assert(ing.ingestOnce("s") == 100) // first sweep, part 0
    w.write(rows(100, 200))
    val (n, steady) = jobsOf(ing.ingestOnce("s"))
    assert(n == 100)
    assert(steady == 0, s"steady-state sweep started $steady Spark jobs")
    val (idle, idleJobs) = jobsOf(ing.ingestOnce("s")) // nothing new
    assert(idle == 0)
    assert(idleJobs == 0, s"idle sweep started $idleJobs Spark jobs")
    val temps = out.resolve("s").toFile.list().filter(_.startsWith(".tmp_data_"))
    assert(temps.isEmpty, s"idle sweep left ${temps.mkString(", ")}")
    w.write(rows(200, 300)); w.stop()
    val (last, eofJobs) = jobsOf(ing.ingestOnce("s"))
    assert(last == 100)
    assert(eofJobs == 1, s"EOF sweep started $eofJobs Spark jobs")
    assert(!store.streamExists("s"), "stream not deleted after EOF")
    assert(fileOrder(out.resolve("s").resolve("data.parquet")) ==
      (0L until 300L))
  }

  test("a steady-state sweep publishes a part dir holding exactly one " +
      "file: no Hadoop FileSystem (and its .crc sidecars) on the path") {
    val (store, out, ing) = fixture()
    val w = store.createStream("s", schema)
    w.write(rows(0, 100))
    assert(ing.ingestOnce("s") == 100)
    w.write(rows(100, 250))
    assert(ing.ingestOnce("s") == 150)
    Seq("data_0000000000.parquet", "data_0000000001.parquet").foreach { p =>
      val files = out.resolve("s").resolve(p).toFile.list().toSeq
      assert(files.size == 1 && files.head.startsWith("part-00000-") &&
        files.head.endsWith(".parquet"), s"$p holds ${files.mkString(", ")}")
    }
  }

  test("a part written from a multi-split river scan holds from+1.." +
      "frontier gapless and ascending in file order; so does data.parquet") {
    val (store, out, ing) = fixture()
    val dir = out.resolve("s")
    val w = store.createStream("s", schema, keysPerSegment = 50)
    w.write(rows(0, 120))
    assert(ing.ingestOnce("s") == 120)
    w.write(rows(120, 700))
    val key = "spark.sql.files.maxPartitionBytes"
    // below the per-segment open cost: every river segment is its own
    // split, and the compaction's parquet read splits too
    spark.conf.set(key, "4096")
    try {
      val splits = spark.read.format("river")
        .option("root", store.root.toString).option("stream", "s").load()
        .filter(col("sample_index") > 119L).rdd.getNumPartitions
      assert(splits >= 3, s"river scan planned $splits splits")
      assert(ing.ingestOnce("s") == 580)
    } finally spark.conf.unset(key)
    assert(fileOrder(dir.resolve("data_0000000001.parquet")) ==
      (120L until 700L))
    w.write(rows(700, 900)); w.stop()
    spark.conf.set(key, "4096")
    try assert(ing.ingestOnce("s") == 200)
    finally spark.conf.unset(key)
    assert(fileOrder(dir.resolve("data.parquet")) == (0L until 900L))
  }

  test("a part without sample_index statistics fails the next sweep " +
      "loudly, naming the file, and publishes nothing") {
    val (store, out, ing) = fixture()
    val dir = out.resolve("s")
    val w = store.createStream("s", schema)
    w.write(rows(0, 100))
    ing.ingestOnce("s") // part 0
    spark.range(100, 150)
      .selectExpr("id as sample_index", "'k' as key", "id as timestamp_ms",
        "cast(id as double) as v")
      .coalesce(1).write
      .option("parquet.column.statistics.enabled", "false")
      .parquet(dir.resolve("data_0000000001.parquet").toString)
    w.write(rows(100, 200))
    def listing() = dir.toFile.list().toSet
    val before = listing()
    val e = intercept[IllegalStateException](ing.ingestOnce("s"))
    assert(e.getMessage.contains("data_0000000001.parquet"), e.getMessage)
    assert(e.getMessage.contains("statistics"), e.getMessage)
    assert(listing() == before, "the failed sweep changed the out dir")
  }

  test("date-partitioned sweeps take the frontier and row count from " +
      "footers: one Spark job per sweep, exact counts across p_date dirs") {
    val storeRoot = Files.createTempDirectory("graft-sweep-store-")
    val outRoot = Files.createTempDirectory("graft-sweep-out-")
    val ing = new Ingester(spark, storeRoot, outRoot,
      IngestSettings(trimConsumedSegments = false,
        datePartitionColumn = Some("ts")))
    val store = new StreamStore(storeRoot)
    val w = store.createStream("p",
      RiverSchema(Seq(RiverField("ts", RiverType.Int64))))
    val dayNs = 86400L * 1000000000L
    def tsRows(from: Int, until: Int) =
      (from until until).map(i => Seq[Any](i.toLong * dayNs / 25))
    w.write(tsRows(0, 60))
    assert(ing.ingestOncePartitioned("p") == 60)
    w.write(tsRows(60, 100))
    val (n, jobs) = jobsOf(ing.ingestOncePartitioned("p"))
    assert(n == 40)
    assert(jobs == 1, s"partitioned sweep started $jobs Spark jobs")
    w.stop()
    assert(ing.ingestOncePartitioned("p") == 0)
    assert(!store.streamExists("p"), "stream not deleted after EOF")
    val df = spark.read.parquet(
      outRoot.resolve("p").resolve("data_parts").toString)
    assert(df.count() == 100)
    assert(df.select("sample_index").distinct().count() == 100)
  }
}
