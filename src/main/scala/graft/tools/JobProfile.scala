package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

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
  * Each job is attributed to a graft call site: the first `graft.`
  * frame (outside this tool, `Pins` and `Overlap`) of the SQL
  * execution that submitted it, or of the job's own stages when it
  * runs outside SQL; per query the tool prints jobs and job seconds
  * per site. After each query a marker job runs in its own job group,
  * and the query's jobs are read only once the listener has seen the
  * marker start: the listener bus delivers events in order, so every
  * event of the query's jobs has arrived by then and none is booked on
  * the next query.
  *
  * Usage: runMain graft.tools.JobProfile [sfDir] [namePrefix...]
  */
object JobProfile {
  private val plumbing =
    Seq("graft.tools.", "graft.core.Pins", "graft.core.Overlap")

  /** `Class.method:line` of the first graft frame in a call-site
    * stack, or "(spark)" if there is none. */
  private[tools] def graftSite(stack: String): String =
    stack.split("\n").iterator.map(_.trim.stripPrefix("at "))
      .find(f => f.startsWith("graft.") && !plumbing.exists(f.startsWith))
      .map { f =>
        // graft.operators.AnnOps$.$anonfun$buildIvfPqIndex$15(F.scala:4350)
        // reads AnnOps.buildIvfPqIndex:4350
        val qualified = f.takeWhile(_ != '(')
        val cls = qualified.take(qualified.lastIndexOf('.'))
          .split('.').last.stripSuffix("$")
        val method = qualified.drop(qualified.lastIndexOf('.') + 1)
          .stripPrefix("$anonfun$").replaceAll("\\$.*", "")
        val line = f.dropWhile(_ != ':').drop(1).takeWhile(_ != ')')
        s"$cls.$method:$line"
      }.getOrElse("(spark)")

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

    // one record per job: (start, end, tasks, call site)
    case class Job(var start: Long = 0L, var end: Long = 0L,
        var tasks: Int = 0, var site: String = "")
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageJob = mutable.HashMap.empty[Int, Int]
    // SQL execution id -> graft call site: AQE runs each query stage as
    // its own job from a Spark thread, so only the execution that
    // submitted it knows which operator asked for it
    val execSite = mutable.HashMap.empty[Long, String]
    val markerGroup = "graft-profile-marker"
    var markerSeen = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => jobs.synchronized {
          execSite(x.executionId) = graftSite(x.details)
        }
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          if (Option(e.properties).exists(p =>
              p.getProperty("spark.jobGroup.id") == markerGroup))
            markerSeen = true
          else {
            val j = jobs.getOrElseUpdate(e.jobId, Job())
            j.start = e.time
            j.site = Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
              .flatMap(id => execSite.get(id.toLong))
              .getOrElse(graftSite(e.stageInfos.map(_.details).mkString("\n")))
            e.stageIds.foreach(stageJob(_) = e.jobId)
          }
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.getOrElseUpdate(e.jobId, Job()).end = e.time
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
            .foreach(_.tasks += e.stageInfo.numTasks)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // runs the marker job and waits until the listener has seen it
    def drainListener(): Unit = {
      val sc = spark.sparkContext
      jobs.synchronized { markerSeen = false }
      sc.setJobGroup(markerGroup, "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.synchronized(markerSeen) && System.nanoTime() < deadline)
        Thread.sleep(10)
      require(jobs.synchronized(markerSeen), "marker job never arrived")
    }

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
    drainListener()

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
      drainListener()
      val snap = jobs.synchronized(jobs.toSeq.sortBy(_._1))
      val done = snap.filter(j => j._2.end > 0 && j._2.start > 0)
      def secs(js: Seq[(Int, Job)]) =
        js.map(j => (j._2.end - j._2.start) / 1e3).sum
      val jobWall = secs(done)
      val totTasks = done.map(_._2.tasks).sum
      println(f"PROFILE $name%-28s wall=$wall%7.2fs njobs=${done.size}%4d " +
        f"jobsum=$jobWall%7.2fs gap=${wall - jobWall}%7.2fs " +
        f"tasks=$totTasks%5d")
      // jobs per graft call site, in order of each site's first job
      done.groupBy(_._2.site).toSeq.sortBy(_._2.map(_._1).min)
        .foreach { case (site, js) =>
          println(f"PROFILE   site=$site%-60s jobs=${js.size}%4d " +
            f"jobsum=${secs(js)}%7.3fs")
        }
    }
    spark.stop()
  }
}
