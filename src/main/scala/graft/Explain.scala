package graft

/** Plan inspection: `runMain graft.Explain <sfDir> <name>...` prints the
  * formatted physical plan per query — the review loop for pushdown /
  * pruning / broadcast / codegen coverage.
  */
object Explain {
  def main(args: Array[String]): Unit =
      Args.run("Explain <sfDir> [query...]", args) { a =>
    val sfDir = a.required(0, "sfDir")
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // the session Bench runs, so the printed plans are the measured ones
    val spark = GraftSession.create(Args.cpus(4))
    // GRAFT_EXPLAIN_MODE=codegen prints generated whole-stage sources —
    // the check that a native expression fused instead of falling back.
    val mode = sys.env.getOrElse("GRAFT_EXPLAIN_MODE", "formatted")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain(mode)
    }
    spark.stop()
  }
}
