package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftFrame

/** Job attribution through the benchmark's own loop: the eager count()
  * inside GraftFrame.repartitionBySize is charged to the build phase, and
  * only the action's jobs to exec.
  */
class AttributionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("repartitionBySize's eager count is build work, never exec work") {
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    val input = () => spark.range(0, 5000, 1, 4).toDF("x")
    val q = Query("by_size", "by_size", (s, _) =>
      GraftFrame(input()).repartitionBySize(1000).df)

    // jobs a bare count() launches in this session
    spark.sparkContext.setJobGroup("bare", "bare")
    input().count()
    spark.sparkContext.clearJobGroup()

    val runner = new Runner(spark, Spec(Map.empty, Map.empty), "")
    val pass = runner.runPass("timed", traced = true, Seq(q))
    val noop = runner.runPass("timed", traced = true,
      Seq(Query("prebuilt", "prebuilt", (_, _) => input().repartition(5))))
    spark.stop() // drains the bus

    val bareJobs = probe.jobs.values.count(_.group == "bare")
    assert(bareJobs >= 1)
    val args = Main.Args("t", 0, 1, trace = true, "", "", "", "", 2)
    val report = Report(args, Workload("t", Seq(q)), Spec(Map.empty, Map.empty),
      Seq(Main.Setup(1, 1)), Seq(pass, noop), Some(probe), 0, 0)
    val l = report.layers(pass, pass.execs.head)
    assert(pass.execs.head.ok)
    assert(l("build.jobs") == bareJobs)
    // the action of the same plan without the eager count launches the
    // same exec jobs: nothing of the count leaked into exec
    val ln = report.layers(noop, noop.execs.head)
    assert(ln("build.jobs") == 0)
    assert(l("exec.jobs") == ln("exec.jobs"))
    assert(l("exec.jobs") >= 1)
  }
}
