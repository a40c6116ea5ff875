package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class JobProfileSpec extends AnyFunSuite {

  test("a job's call site is the first graft frame outside the tool, " +
      "Pins and Overlap") {
    val stack = Seq(
      "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:812)",
      "graft.core.Pins$.pin(Pins.scala:102)",
      "graft.operators.AnnOps$.$anonfun$buildIvfPqIndex$15$adapted(" +
        "PipelineOps.scala:4350)",
      "graft.core.Overlap$Scope.$anonfun$fork$1(Overlap.scala:101)",
      "graft.queries.Similarity$.$anonfun$all$45(Similarity.scala:1954)")
      .mkString("\n")
    assert(JobProfile.graftSite(stack) == "AnnOps.buildIvfPqIndex:4350")
    assert(JobProfile.graftSite(
      "graft.operators.AnnOps$.lloydRounds(PipelineOps.scala:4750)") ==
      "AnnOps.lloydRounds:4750")
    assert(JobProfile.graftSite(
      "org.apache.spark.rdd.RDD.count(RDD.scala:1310)") == "(spark)")
  }
}
