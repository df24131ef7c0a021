package graft

/** Ad-hoc single-query timing harness: `runMain graft.Time <sfDir> <name>...`
  * Runs each named SparkEntry query twice (cold + warm) and prints both.
  */
object Time {
  def main(args: Array[String]): Unit =
      Args.run("Time <sfDir> [query...]", args) { a =>
    val sfDir = a.required(0, "sfDir")
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.create(Args.cpus(32))
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val cnt = fn(spark, sfDir).count()
        println(f"[time] $n run$i: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$cnt")
      }
    }
    spark.stop()
  }
}
