package perfbench

import graft.GraftSession

/** Prints the output fingerprint of every query in perfbench/workloads.json,
  * computed live and, with `--dump`, from a `graft.Verify` result
  * directory (one parquet directory per query), so a fingerprint can be
  * tied to an output the DuckDB oracle accepted.
  *
  * Usage: Record --spec FILE --data DIR --work DIR --cores N [--dump DIR]
  */
object Record {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spec = Spec.load(kv("spec"))
    val spark = Main.session(kv("cores").toInt, kv("work"))
    GraftSession.registerFunctions(spark)
    GraftSession.registerOptimizations(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"${kv("work")}/checkpoints")
    val queries = spec.workloads.values.flatMap(_.queries).toSeq.distinctBy(_.name).sortBy(_.name)
    val rows = queries.map { q =>
      val (n, h) = Fingerprint.of(q.build(spark, kv("data")))
      spark.catalog.clearCache()
      val dumped = kv.get("dump").filter(_ => q.reference == q.name).map { d =>
        val (dn, dh) = Fingerprint.of(spark.read.parquet(s"$d/${q.name}"))
        Map("rows" -> dn, "hash" -> dh)
      }
      System.err.println(s"[record] ${q.name} rows=$n hash=$h dump=$dumped")
      q.name -> Map("reference" -> q.reference, "rows" -> n, "hash" -> h, "dump" -> dumped)
    }
    println(Json.write(scala.collection.immutable.ListMap(rows: _*)))
    spark.stop()
  }
}
