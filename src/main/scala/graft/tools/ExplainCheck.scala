package graft.tools

/** Dev tool: plan-shape audit for named queries — counts exchanges and
  * join strategies so a new operator's plan is inspected, not assumed
  * (`sbt "runMain graft.tools.ExplainCheck x_url_canon x_interpolate"`).
  */
object ExplainCheck {
  def main(args: Array[String]): Unit =
      graft.Args.run("ExplainCheck [query...]", args) { _ =>
    val spark = graft.GraftSession.create(graft.Args.cpus(4))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    for (q <- names) {
      val plan = graft.SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      def n(p: String) = p.r.findAllIn(plan).length
      println(s"$q: exchanges=${n("Exchange")} " +
        s"broadcastJoins=${n("BroadcastHashJoin")} " +
        s"sortMergeJoins=${n("SortMergeJoin")} " +
        s"nestedLoop=${n("BroadcastNestedLoopJoin")} " +
        s"cartesian=${n("CartesianProduct")} " +
        // plan size + regex-node count: the x_link_graph round-12
        // lesson — a collapsed expensive projection shows up as a
        // plan orders of magnitude bigger than its peers
        s"planChars=${plan.length} regexNodes=${n("regexp_")}")
    }
    spark.stop()
  }
}
