package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Per-query job-level profiler (optimization guide §1): runs each named
  * query exactly like Bench (noop sink, same session shape) and
  * attributes its wall clock to Spark jobs vs driver-side gaps.
  *
  * For fixed-overhead-dominated operators (the durable-lifecycle family)
  * the question is never "which stage shuffles too much" but "how many
  * sequential driver-blocking jobs does one operator launch, and how
  * much wall sits BETWEEN them" — this prints both.
  *
  * Usage: runMain graft.tools.JobProfile [sfDir] [namePrefix...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val prefixes = if (args.length > 1) args.drop(1).toSeq else Seq("")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val localDir = graft.core.StreamStore.scratchBase()
      .resolve("graft-spark-local").toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // one record per job: (start, end, nTasks, description)
    case class Job(var start: Long = 0L, var end: Long = 0L,
        var tasks: Int = 0, var desc: String = "")
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val j = jobs.getOrElseUpdate(e.jobId, Job())
          j.start = e.time
          j.desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.getOrElseUpdate(e.jobId, Job()).end = e.time
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized { /* tasks counted via stage info */
          val sid = e.stageInfo.stageId
          // attribute tasks to the job that owns the stage (best effort:
          // jobs are sequential here, so the last open job owns it)
          jobs.lastOption.foreach(_._2.tasks += e.stageInfo.numTasks)
          val _ = sid
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // warm-up identical to Bench so the first measured query doesn't
    // carry JVM/codegen startup
    try {
      SparkEntry.queries.get("q03_scan_project")
        .foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => }
    try {
      import org.apache.spark.sql.functions._
      graft.streaming.StreamingOps.drain(
        spark,
        graft.streaming.StreamingOps.eventsStream(spark, sfDir)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n")),
        "warmup_stream", "complete").count()
    } catch { case _: Throwable => }

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => prefixes.exists(kv._1.startsWith))
    queries.foreach { case (name, fn) =>
      jobs.synchronized(jobs.clear())
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        println(s"PROFILE $name FAILED: ${e.getMessage.take(200)}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val snap = jobs.synchronized(jobs.toSeq.sortBy(_._1))
      val done = snap.filter(j => j._2.end > 0 && j._2.start > 0)
      val jobWall = done.map(j => (j._2.end - j._2.start) / 1e3).sum / 1e0
      val jobSec = done.map(j => (j._2.end - j._2.start) / 1e3)
      val totTasks = done.map(_._2.tasks).sum
      println(f"PROFILE $name%-28s wall=$wall%7.2fs njobs=${done.size}%4d " +
        f"jobsum=${jobWall / 1000}%7.2fs gap=${wall - jobWall / 1000}%7.2fs " +
        f"tasks=$totTasks%5d")
      // top 12 jobs by duration, with description heads
      done.sortBy(j => -(j._2.end - j._2.start)).take(12).foreach { case (id, j) =>
        println(f"PROFILE   job=$id%4d ${(j.end - j.start) / 1e3}%8.3fs " +
          f"tasks=${j.tasks}%4d ${j.desc.take(90)}")
      }
      val _ = jobSec
    }
    spark.stop()
  }
}
