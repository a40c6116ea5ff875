package perfbench

import java.nio.file.Files

/** Harness JVM. `run.py` launches it once per run with fixed JVM flags,
  * then turns `result.json` into the benchmark's output line. */
object Main {
  def main(argv: Array[String]): Unit =
    try run(Args.parse(argv))
    catch {
      case e: Throwable =>
        // workloads start non-daemon threads; end the JVM, not just main
        e.printStackTrace()
        System.exit(1)
    }

  private def run(a: Args): Unit = {
    Files.createDirectories(a.scratch)
    val t = new Trace(a.trace)
    val (sleepPre, parkPre) = Host.probe()
    val gc0 = Host.gcSeconds()
    val out = a.workload match {
      case "live_ephys"    => Live.run(a, t)
      case "record_ingest" => Record.run(a, t)
      case "query_mix"     => Mix.run(a, t)
      case w => sys.error(s"unknown workload $w")
    }
    val gcS = Host.gcSeconds() - gc0
    val (sleepPost, parkPost) = Host.probe()
    val metrics = out.metrics ++ Map(
      "rss_peak_mb" -> Host.rssPeakMb(),
      "jvm.gc_s" -> gcS,
      "host.sleep1_p95_ms.pre" -> sleepPre,
      "host.sleep1_p95_ms.post" -> sleepPost,
      "host.park50us_p95_ms.pre" -> parkPre,
      "host.park50us_p95_ms.post" -> parkPost) ++
      t.selfSeconds.map { case (layer, s) => s"self.${layer}_s" -> s }
    t.write(a.runDir.resolve("spans.jsonl"))
    val json =
      s"""{"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""first_op_epoch_ms":${Json.num(out.firstOpEpochMs)},""" +
      s""""problems":[${out.problems.map(p => "\"" + Json.esc(p) + "\"").mkString(",")}],""" +
      s""""extra":{${out.extra.map { case (k, v) => s""""${Json.esc(k)}":"${Json.esc(v)}"""" }.mkString(",")}},""" +
      s""""metrics":{${metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")}}}"""
    Files.writeString(a.runDir.resolve("result.json"), json)
    // Spark and the HTTP server leave non-daemon threads behind; every
    // workload has already stopped what it started.
    System.exit(0)
  }
}
