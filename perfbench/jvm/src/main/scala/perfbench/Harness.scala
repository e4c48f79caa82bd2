package perfbench

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.SparkSession

/** The system under test, driven for one run of one workload:
  *
  *   java perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *        --run-dir D --out FILE --launch-ms T [--gen-pid P]
  *        [--board-data DIR] [--fault none|wrong-row|lost-event]
  *
  * Writes one JSON object to `--out`: the end-to-end metrics under
  * `metrics`, per-layer ones under `layers` (traced runs), the workload's
  * own named metrics under `named`, per-batch / per-query rows, the correctness
  * verdict (`attempted`, `failed`, `failures`) and the run's settings. The
  * calling script owns stdout, the stamps and the exit code.
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Int, traced: Boolean,
                        runDir: Path, out: Path, launchMs: Long, genPid: Long,
                        boardData: String, fault: String) {
    val cpus: Int = Runtime.getRuntime.availableProcessors()
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("run-dir")), Paths.get(need("out")), need("launch-ms").toLong,
      m.get("gen-pid").map(_.toLong).getOrElse(0L), m.getOrElse("board-data", ""),
      m.getOrElse("fault", "none"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.runDir.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(a.runDir.resolve("rdd-checkpoints").toString)
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result = a.workload match {
      case "ingest-hot" | "ingest-fleet" => IngestRun.run(a)
      case "board" => BoardRun.run(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val settings = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.traced,
      "fault" -> a.fault, "cpus" -> a.cpus, "fleet_devices" -> FleetFeed.Devices,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString)
    Json.write(a.out, result + ("jvm_settings" -> settings))
    // Spark and Postgres are stopped by the runs; no stray non-daemon thread may hold the exit
    System.exit(0)
  }
}
