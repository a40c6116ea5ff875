package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Physical-plan traversal + capture helpers shared by the plan gates
  * (PlanInvariantsSpec) and the durable-index specs (PipelineOpsSpec) —
  * ONE spelling of the AQE-descending walk and the async
  * QueryExecutionListener capture, so a Spark wrapper change cannot
  * make two specs disagree (REVIEW: three copies drifted apart within
  * one round). */
object PlanWalk {

  /** Every node of a finalized plan, descending through AQE wrappers
    * and query stages — a plain `collect` does not enter
    * QueryStageExec, which silently turns negative assertions vacuous
    * and positive ones impossible. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  /** Run `body` under a QueryExecutionListener and return every plan
    * it executed, polling until `ready` holds (listener callbacks are
    * asynchronous): operators that PIN their results (the
    * serve-many-batches leak discipline) hide their working plans
    * behind a checkpoint scan, so gates and probes must observe the
    * plans an operator EXECUTES, not the plan it returns. */
  def capturePlans(spark: SparkSession,
      ready: Seq[SparkPlan] => Boolean)(body: => Unit): Seq[SparkPlan] = {
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        captured.add(qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        })
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline &&
          !ready(captured.toArray(Array.empty[SparkPlan]).toSeq))
        Thread.sleep(50)
      captured.toArray(Array.empty[SparkPlan]).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every FileSourceScan over a durable index's stored trees — ONE
    * spelling of the generation-aware path match (the index root plus
    * a `/batches` or `/codes` segment anywhere below it, so every
    * generation's tree matches without pinning one),
    * shared by the plan gates and both measurement probes (REVIEW:
    * three hand-rolled copies of this predicate had to change together
    * when the layout moved under generations). Pass `trees` to
    * restrict to one tree. */
  def indexScans(plans: Seq[SparkPlan], indexDir: String,
      trees: Seq[String] = Seq("batches", "codes"))
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    plans.flatMap(allNodes).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists { p =>
            val str = p.toString
            str.contains(s"$indexDir/") &&
              trees.exists(t => str.contains(s"/$t"))
          } => f
    }

  /** Recursive parquet-file listing (local paths — probe/spec duty,
    * not a DFS reader). */
  def parquetFiles(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val root = new java.io.File(dir)
    if (!root.exists()) Seq.empty
    else walk(root).map(_.getPath).filter(_.endsWith(".parquet"))
  }
}
