package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Queries

/** Driver contract — the operator inventory of SURVEY.md §2 (names with
  * t- and a- prefixes), the relational parity-plus surface (r-), and the
  * training-data-pipeline extensions (x-), each as a
  * (SparkSession, sfDir) => DataFrame with a DuckDB oracle in [[oracleSql]].
  * Both maps are views of the [[graft.queries.Query]] records, declared
  * once per query, one file per family under `graft.queries`.
  */
object SparkEntry {

  /** Optional comma-separated query-name subset from SPARK_GRAFT_QUERIES —
    * the shared Bench/Verify local-iteration filter (driver leaves it
    * unset and runs everything).
    */
  def querySubset: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("t7_reduce")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.byName.map { case (n, q) => n -> q.build }

  val oracleSql: Map[String, String] =
    Queries.byName.map { case (n, q) => n -> q.oracle }
}
