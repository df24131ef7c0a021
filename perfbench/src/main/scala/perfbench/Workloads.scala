package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, SparkEntry}
import graft.api.{ColType, GraftFrame}

/** One query the benchmark runs. `reference` names the output it must
  * reproduce: itself for a declared query, the declarative twin for a
  * closure twin.
  */
final case class Query(name: String, reference: String,
                       build: (SparkSession, String) => DataFrame)

final case class Expected(rows: Long, hash: String, status: String)

final case class Workload(name: String, queries: Seq[Query])

/** perfbench/workloads.json: the query list of each workload and the
  * output fingerprint every query is checked against.
  */
final case class Spec(workloads: Map[String, Workload], expected: Map[String, Expected])

object Spec {
  def load(path: String): Spec = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    def strings(n: JsonNode): Seq[String] =
      if (n == null) Nil else n.elements().asScala.map(_.asText).toSeq
    val ws = root.get("workloads").properties().asScala.map { e =>
      val declared = strings(e.getValue.get("queries")).map { q =>
        Query(q, q, SparkEntry.queries.getOrElse(q,
          throw new IllegalArgumentException(s"${e.getKey}: unknown query $q")))
      }
      val twins = strings(e.getValue.get("twins")).map { t =>
        val (ref, build) = Twins.all.getOrElse(t,
          throw new IllegalArgumentException(s"${e.getKey}: unknown twin $t"))
        Query(t, ref, build)
      }
      e.getKey -> Workload(e.getKey, declared ++ twins)
    }.toMap
    val fps = Option(root.get("fingerprints")).map(_.properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expected(v.get("rows").asLong, v.get("hash").asText, v.get("status").asText)
    }.toMap).getOrElse(Map.empty)
    Spec(ws, fps)
  }
}

/** Closure twins of three sif-core queries: the same input and output as
  * the declarative query, with the row logic in JVM closures through the
  * `GraftFrame` API (sif's own programming model). Each first selects the
  * columns its closure reads, as a sif user would. Their exec time over
  * their declarative twin's is `api.closure_ratio`.
  */
object Twins {
  private def lineitem(s: SparkSession, dir: String): DataFrame =
    GraftSession.readTable(s, dir, "lineitem")

  private val order = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey").map(col)

  // t3_filter's cutoff is `'2000-01-01' cast as timestamp` under the UTC
  // session zone; the column reads as either timestamp flavour.
  private val cutoffNtz = java.time.LocalDateTime.of(2000, 1, 1, 0, 0)
  private val cutoff = java.sql.Timestamp.from(java.time.Instant.parse("2000-01-01T00:00:00Z"))
  private def onOrAfterCutoff(v: Any): Boolean = v match {
    case t: java.time.LocalDateTime => !t.isBefore(cutoffNtz)
    case t: java.sql.Timestamp => !t.before(cutoff)
    case t: java.time.Instant => !t.isBefore(cutoff.toInstant)
  }

  val all: Map[String, (String, (SparkSession, String) => DataFrame)] = Map(
    "api_t1_map" -> ("t1_map", (s, dir) =>
      GraftFrame(lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_discount", "l_tax"))
        .addColumn("revenue", ColType.Float64)
        .addColumn("charge", ColType.Float64)
        .map { r =>
          val revenue = r.getDouble("l_extendedprice") * (1.0 - r.getDouble("l_discount"))
          r.set("revenue", revenue).set("charge", revenue * (1.0 + r.getDouble("l_tax")))
        }
        .df.orderBy(order: _*)
        .select("l_orderkey", "l_linenumber", "l_partkey", "revenue", "charge")),
    "api_t3_filter" -> ("t3_filter", (s, dir) =>
      GraftFrame(lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity", "l_shipdate"))
        .filter(r => r.getDouble("l_quantity") > 45 && onOrAfterCutoff(r.get("l_shipdate")))
        .df.orderBy(order: _*)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_shipdate")),
    "api_t11_key_columns" -> ("t11_key_columns", (s, dir) =>
      GraftFrame(lineitem(s, dir).select("l_returnflag", "l_linestatus"))
        .addColumn("cnt", ColType.Int64)
        .map(_.set("cnt", 1L))
        .reduce(
          r => s"${r.getString("l_returnflag")}\u0000${r.getString("l_linestatus")}".getBytes(UTF_8),
          (a, b) => a.set("cnt", a.getLong("cnt") + b.getLong("cnt")))
        .df.orderBy("l_returnflag", "l_linestatus")),
  )
}

/** Exact output fingerprint: the row count and an order-sensitive hash
  * over every row, in output order. Each row is hashed (SHA-256) in a
  * text form that keeps every bit of every value and does not depend on
  * the JVM's time zone; the row hashes are folded as two polynomial
  * hashes modulo 31-bit primes. The fold composes across partitions, so
  * it is computed in parallel and does not depend on where partition
  * boundaries fall.
  */
object Fingerprint {
  private val P = Array(2147483647L, 2147483629L)
  private val B = Array(1000003L, 998244353L)

  /** Fold of one partition: (rows, hash mod P(0), hash mod P(1)). */
  private def fold(rows: Iterator[Row]): (Long, Long, Long) = {
    val md = MessageDigest.getInstance("SHA-256")
    var n, h0, h1 = 0L
    rows.foreach { r =>
      val d = md.digest(canon(r).getBytes(UTF_8))
      val x = java.nio.ByteBuffer.wrap(d).getLong & Long.MaxValue
      h0 = (h0 * B(0) + x % P(0)) % P(0)
      h1 = (h1 * B(1) + x % P(1)) % P(1)
      n += 1
    }
    (n, h0, h1)
  }

  private def powMod(b: Long, e: Long, p: Long): Long =
    BigInt(b).modPow(BigInt(e), BigInt(p)).toLong

  def of(df: DataFrame): (Long, String) = {
    val parts = df.rdd.mapPartitionsWithIndex((i, it) => Iterator.single(i -> fold(it)))
      .collect().sortBy(_._1).map(_._2)
    val (n, h0, h1) = parts.foldLeft((0L, 0L, 0L)) { case ((n, a0, a1), (m, b0, b1)) =>
      (n + m, (a0 * powMod(B(0), m, P(0)) + b0) % P(0), (a1 * powMod(B(1), m, P(1)) + b1) % P(1))
    }
    (n, f"$h0%08x$h1%08x")
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${canon(k)}->${canon(x)}" }.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp => s"ts:${t.getTime}.${t.getNanos}"
    case d: java.sql.Date => s"date:${d.toLocalDate}"
    case d: java.math.BigDecimal => d.toString
    case other => other.toString
  }
}
