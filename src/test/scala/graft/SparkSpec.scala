package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — the analogue of the reference's
  * LocalRunFrame test harness (reference testing/test_runner.go:14-83).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the planner strategies (the broadcast as-of join) and optimizer
    // rules every graft session installs
    GraftSession.registerOptimizations(s)
    s
  }
}
