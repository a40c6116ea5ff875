package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run every selected query, writing each result to `outDir/<name>` and
    * the failure map to `outDir/errors.json`, then delete the scratch
    * dirs the queries made through `StreamStore.scratchRoot`. Returns the
    * failures.
    *
    * A declared query that throws must be LOUD: round 6 shipped 12
    * silently-dead queries because this loop swallowed exceptions and the
    * driver's correctness JSON simply omitted them. Now every failure is
    * recorded (errors.json, consumed by tools/check.py) and main exits
    * non-zero, so no gate can mistake "absent" for "passing".
    */
  def runAll(
      spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String,
      outDir: String): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val scratchBefore = graft.core.StreamStore.scratchRoots
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    val errJson = failed
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // every result is written: drop the index and store dirs the queries
    // made under the scratch base (a RAM disk by default), and only those
    graft.core.StreamStore.deleteScratchRoots(
      graft.core.StreamStore.scratchRoots -- scratchBefore)
    failed.toMap
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes to run (dev loop only;
    // the driver always calls with 2 args = run everything)
    val prefixes = args.lift(2).map(_.split(",").toSeq)
    def selected(name: String): Boolean =
      prefixes.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val localDir = graft.core.StreamStore.scratchBase()
      .resolve("graft-spark-local").toString
    // SPARK_GRAFT_MASTER overrides the single-JVM default — the
    // multi-JVM execution gate runs the full query surface under
    // local-cluster[n,c,mem] (separate executor JVMs, real task
    // serialization + block-manager fetches; pair it with
    // -Dspark.executor.extraClassPath=<repo classes>)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sel = SparkEntry.queries.toSeq.filter(kv => selected(kv._1))
    val failed = runAll(spark, sel, sfDir, outDir)
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // |declared| == |produced| assertion: every selected query must have
    // written its output directory.
    val produced =
      sel.count(kv => new java.io.File(s"$outDir/${kv._1}").isDirectory)
    spark.stop()
    if (failed.nonEmpty || produced != sel.size) {
      System.err.println(
        s"[verify] FAILED: ${sel.size} declared, $produced produced, " +
          s"${failed.size} threw: ${failed.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
