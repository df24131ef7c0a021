package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its engine build over a scale directory, and the
  * DuckDB oracle SQL whose result the build must hash-match.
  *
  * Oracle-reproducibility rules used throughout the families:
  *  - Aggregate sums of doubles accumulate in DECIMAL then cast to double —
  *    float addition is order-sensitive, decimal addition is not, so
  *    Spark's shuffle order vs DuckDB's scan order cannot flip bits.
  *  - Every query output carries a deterministic total ORDER BY on a
  *    unique key, mirrored in the oracle SQL.
  *  - Explicit casts keep result schemas identical (e.g. Spark `size()`
  *    is INT while DuckDB `len()` is BIGINT).
  */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       oracle: String)

object Query {

  /** Index records by name. A name declared twice is an error that
    * names the key: a silent last-wins would shadow one query and could
    * pair it with the other's oracle.
    */
  def index(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, xs) if xs.size > 1 => n }
    require(dups.isEmpty,
      s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}

/** The registry: every family's records, indexed once. */
object Queries {

  val all: Seq[Query] =
    CoreQueries.all ++ RelationalQueries.all ++ TextQueries.all ++
      DedupQueries.all ++ SimilarityQueries.all ++ GraphQueries.all ++
      StatsQueries.all ++ EventsQueries.all ++ MultimodalQueries.all

  val byName: Map[String, Query] = Query.index(all)
}
