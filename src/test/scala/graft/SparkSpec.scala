package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session —
  * ScalaTest runs suites sequentially in the forked test JVM).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    // managed tables go to a temp dir, not spark-warehouse/ in the checkout
    val warehouse = java.nio.file.Files.createTempDirectory("graft-test-warehouse").toFile
    sys.addShutdownHook(org.apache.spark.network.util.JavaUtils.deleteRecursively(warehouse))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
