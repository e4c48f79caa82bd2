package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet // optional name filter (local iteration)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Harness.session(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // A query that throws (plan construction OR execution) must still leave
    // a result directory behind: a 1-row frame whose only column is `err`.
    // The driver's DuckDB compare then records rows/schema/hash mismatches
    // for it instead of the query silently vanishing from the CORRECTNESS
    // artifact (round 5 hid 30 AnalysisExceptions this way).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        try {
          import spark.implicits._
          Seq(msg).toDF("err").coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name err-row write also failed: ${e2.getMessage}")
        }
      }
    }
    import Harness.q // a raw tab or CR in the SQL would fail a strict JSON reader
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
