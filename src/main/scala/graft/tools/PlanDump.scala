package graft.tools

/** Dev tool: dump `.explain("formatted")` for named queries to files —
  * the before/after plan evidence an optimization round commits next to
  * its bench numbers (`plans/r<N>/<query>_{before,after}.txt`).
  *
  * Usage: PlanDump <outDir> <suffix> <query>[,query...]
  * (SPARK_GRAFT_SF_DIR picks the scale dir, default sf0.1 so plan
  * shapes match the bench; SPARK_GRAFT_CPUS the master width.)
  */
object PlanDump {
  val Usage = "PlanDump <outDir> <suffix> <query>[,query...]"

  def main(args: Array[String]): Unit = graft.Args.run(Usage, args) { a =>
    val outDir = a.required(0, "outDir")
    val suffix = a.required(1, "suffix")
    val names = a.list(2, "query")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.create(graft.Args.cpus(32))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (q <- names) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt")
      java.nio.file.Files.write(p,
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] $p (${plan.length} chars)")
    }
    spark.stop()
  }
}
