package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Writes `.explain("formatted")` for selected queries to
  * `plans/<tag>/<query>_<suffix>.txt` — the optimization round's
  * before/after plan evidence (they come from the real
  * `SparkEntry.queries` plans, never from hand-edited text). Usage:
  *
  *   runMain graft.PlanDump <tag> <suffix> <query...>
  *
  * e.g. `runMain graft.PlanDump r15 before q149_copurchase_lift`.
  *
  * Each file opens with a red-flag header: distinct exchange and
  * broadcast operators, whether a cartesian product is planned, and every
  * scan's PushedFilters/ReadSchema line. With GRAFT_EXECUTE set the query
  * also runs; AQE decides exchange reuse at run time, so the header then
  * adds the executed plan's reuse-node count and the file ends with the
  * executed plan. Not part of the `SparkEntry` contract.
  */
object PlanDump {

  /** An exchange operator on a tree line of a formatted plan, e.g.
    * `+- BroadcastExchange (6)`. Detail lines start `(6) ...` and never
    * match.
    */
  private val TreeExchange = """(?m)^[ :+|-]*(\w*Exchange) \((\d+)\)""".r

  /** (exchanges, broadcast exchanges) in a formatted plan, each operator
    * counted once by its id. A persisted subtree is printed under every
    * scan that reads it, so counting tree lines counts it once per use.
    */
  private[graft] def exchangeCounts(plan: String): (Int, Int) = {
    val ops = TreeExchange.findAllMatchIn(plan).map(m => m.group(2) -> m.group(1)).toMap
    (ops.size, ops.values.count(_ == "BroadcastExchange"))
  }

  private[graft] def header(name: String, suffix: String, dir: String, plan: String): String = {
    val (exchanges, broadcast) = exchangeCounts(plan)
    val scans = plan.linesIterator.map(_.trim)
      .filter(l => l.startsWith("PushedFilters") || l.startsWith("ReadSchema"))
      .map(l => s"== $l ==\n").mkString
    s"== $name ($suffix) ==\n" +
      s"== exchanges=$exchanges broadcast=$broadcast " +
      s"cartesian=${plan.contains("CartesianProduct")} sfDir=$dir ==\n" + scans
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <suffix> <query...>")
    val (tag, suffix, targets) = (args(0), args(1), args.drop(2).toSeq)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val execute = sys.env.contains("GRAFT_EXECUTE")
    val spark = Harness.session("local[8]", 8, logLevel = "ERROR")
    val outDir = Paths.get("plans", tag)
    Files.createDirectories(outDir)
    targets.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(FormattedMode)
      // Execute THIS QueryExecution (toRdd): a noop df.write builds a
      // separate QueryExecution and leaves df's adaptive plan at its
      // initial (isFinalPlan=false) state.
      val (execHeader, execPlan) = if (!execute) ("", "") else {
        df.queryExecution.toRdd.foreach(_ => ())
        val p = df.queryExecution.executedPlan.toString()
        val reused = "ReusedExchange|ReusedQueryStage|ReusedSubquery".r.findAllIn(p).length
        val finalPlan = p.contains("isFinalPlan=true") || !p.contains("isFinalPlan")
        (s"== executed: reuse_nodes=$reused finalPlan=$finalPlan ==\n",
          s"\n== Executed Plan ==\n$p\n")
      }
      val out = outDir.resolve(s"${name}_$suffix.txt")
      Files.write(out,
        (header(name, suffix, dir, plan) + execHeader + "\n" + plan + execPlan).getBytes(UTF_8))
      println(s"[plandump] wrote $out")
    }
    spark.stop()
  }
}
