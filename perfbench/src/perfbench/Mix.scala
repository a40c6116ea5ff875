package perfbench

import java.nio.file.Files

import scala.collection.mutable

/** query_mix: closed loop, one client, each query evaluated in full into a
  * `noop` sink the way `graft.Bench` does, at scale factor 0.1.
  *
  * Passes alternate direction (forward, reverse, ...) so a slow host
  * window lands on different queries, and run until `--seconds` have
  * passed (one pass takes about 12 s at local[4], so a run of the
  * benchmark's 16 s makes two). Each query reports its best pass. Set-up is one
  * untimed pass that writes every result for the oracle check; it also
  * pays the cold start and the pay-once staging (the shared events stream
  * r01 and r07 read). */
object Mix {
  /** The index-lifecycle family ROADMAP D targets. One query of it: each
    * costs 8-10 s a pass at local[4] (15-19 s cold), and the benchmark's
    * total run budget does not fit more. */
  val IndexSet = Seq("s25_ivfpq_index_delete")
  /** River scans through the connector: write once and read back (r01),
    * micro-batch source (r07), many tiny segments (r08). */
  val ScanSet = Seq("r01_stream_write_read", "r07_stream_microbatch",
    "r08_stream_segmented")

  final case class Exec(name: String, start: Long, end: Long, ok: Boolean)

  def run(a: Args, t: Trace): Outcome = {
    val spark = Sessions.spark(a)
    val tap = new JobTap
    spark.sparkContext.addSparkListener(tap)
    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val names = ScanSet ++ IndexSet
    def release(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

    val verify = a.runDir.resolve("verify")
    Files.createDirectories(verify)
    val errors = mutable.LinkedHashMap.empty[String, String]
    names.foreach { n =>
      try queries(n)(spark, a.sfDir).coalesce(1).write.mode("overwrite")
        .parquet(verify.resolve(n).toString)
      catch { case e: Exception => errors(n) = String.valueOf(e.getMessage) }
      release()
    }
    def jsonMap(m: Iterable[(String, String)]): String = m.map {
      case (k, v) => s""""${Json.esc(k)}":"${Json.esc(v)}"""" }.mkString("{", ",", "}")
    Files.writeString(verify.resolve("oracle_sql.json"),
      jsonMap(names.flatMap(n => oracle.get(n).map(n -> _))))
    if (errors.nonEmpty)
      Files.writeString(verify.resolve("errors.json"), jsonMap(errors))

    val pin0 = graft.core.Pins.checkpointedBytes.get
    val t0 = Clock.now()
    val execs = mutable.ArrayBuffer.empty[Exec]
    var passes = 0
    while (passes == 0 || Clock.now() - t0 < a.seconds * 1000000000L) {
      val order = if (passes % 2 == 0) names else names.reverse
      order.foreach { n =>
        val s = Clock.now()
        val ok =
          try { queries(n)(spark, a.sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Exception =>
            System.err.println(s"[perfbench] $n failed: ${e.getMessage}"); false }
        val e = Clock.now()
        execs += Exec(n, s, e, ok)
        t.span("query.run", s"$n#$passes", s, e)
        release()
      }
      passes += 1
    }
    val tEnd = Clock.now()
    val pinBytes = graft.core.Pins.checkpointedBytes.get - pin0
    tap.settle()
    tap.traceJobs(t, t0, tEnd)
    t.adopt("spark.job", "query.run")

    // best of passes, as graft.Bench: host contention only ever slows a pass
    def best(n: String): Double = {
      val ts = execs.filter(x => x.name == n && x.ok).map(x => (x.end - x.start) / 1e9)
      if (ts.isEmpty) Double.NaN else ts.min
    }
    val indexS = IndexSet.map(best).sum
    val scanS = ScanSet.map(best).sum
    def jobsOf(set: Seq[String]) = execs.filter(x => set.contains(x.name))
      .map(x => x -> tap.jobsIn(x.start, x.end))
    val indexJobs = jobsOf(IndexSet)
    val busy = indexJobs.map { case (x, js) =>
      Stats.unionLength(js.map(j => (j.start, math.min(j.end, x.end)))) }.sum / 1e9
    val indexWall = indexJobs.map { case (x, _) => x.end - x.start }.sum / 1e9
    val tasks = tap.tasksIn(t0, tEnd)
    val conn = tasks.filter(_.connector)
    val p = passes.toDouble
    Outcome(
      metrics = Map(
        "wait_ms" -> (indexS + scanS) * 1e3,
        "query.index_s" -> indexS,
        "query.scan_s" -> scanS,
        "ops.index.jobs" -> indexJobs.map(_._2.size).sum / p,
        "ops.scan.jobs" -> jobsOf(ScanSet).map(_._2.size).sum / p,
        "ops.index.driver_gap_s" -> (indexWall - busy) / p,
        "ops.index.job_busy_s" -> busy / p,
        "ops.tasks" -> tasks.size / p,
        "ops.shuffle_mb" -> tasks.map(_.shuffleBytes).sum / 1e6 / p,
        "pins.checkpoint_mb" -> pinBytes / 1e6 / p,
        "connector.scan_tasks" -> conn.size / p,
        "connector.input_rows" -> conn.map(_.inputRecords).sum / p) ++
        names.map(n => s"query.${n}_s" -> best(n)),
      attempted = execs.size,
      failed = execs.count(!_.ok),
      problems = errors.map { case (n, m) => s"$n threw in the checked pass: $m" }.toSeq,
      firstOpEpochMs = t0 / 1e6,
      extra = Map(
        "execs" -> names.map(n => s""""$n":${execs.count(_.name == n)}""").mkString("{", ",", "}"),
        "samples" -> s"$passes passes of ${names.size} queries"))
  }
}
