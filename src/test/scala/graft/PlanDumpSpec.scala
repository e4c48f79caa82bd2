package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** The red-flag header [[PlanDump]] writes above each plan. */
class PlanDumpSpec extends SparkSpec {

  test("exchanges are counted once per operator, not once per printed tree line") {
    val agg = spark.range(0, 200).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").agg(sum("v").as("s")).persist()
    try {
      val q = agg.join(broadcast(agg.withColumnRenamed("s", "s2")), "k")
      val plan = q.queryExecution.explainString(FormattedMode)
      // the persisted aggregate is printed under both of its scans, so its
      // one shuffle exchange sits on more than one tree line
      val treeLines = plan.linesIterator.count(l =>
        !l.startsWith("(") && l.matches(""".*\bExchange \(\d+\).*"""))
      assert(treeLines > 1, plan)
      assert(PlanDump.exchangeCounts(plan) == (2, 1), plan)
      val header = PlanDump.header("q", "now", "sfdir", plan)
      assert(header.linesIterator.toSeq(1) ==
        "== exchanges=2 broadcast=1 cartesian=false sfDir=sfdir ==", header)
    } finally agg.unpersist()
  }

  test("header lists each scan's pushed filters and read schema") {
    val dir = java.nio.file.Files.createTempDirectory("plandump").resolve("t").toString
    try {
      spark.range(0, 10).selectExpr("id AS v", "id * 2 AS w").write.parquet(dir)
      val plan = spark.read.parquet(dir).filter(col("v") > 3).select("v")
        .queryExecution.explainString(FormattedMode)
      val lines = PlanDump.header("q", "now", "sfdir", plan).linesIterator.toSeq
      assert(lines.exists(l => l.startsWith("== PushedFilters:") && l.contains("GreaterThan(v,3)")),
        lines.mkString("\n"))
      assert(lines.contains("== ReadSchema: struct<v:bigint> =="), lines.mkString("\n"))
    } finally org.apache.spark.network.util.JavaUtils.deleteRecursively(new java.io.File(dir).getParentFile)
  }
}
