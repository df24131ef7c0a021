package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import perfbench.Stats.{Metric, Span}

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    val (pct, v) = Stats.tail(xs).get
    assert(pct == 90.0)
    assert(v == 90.0)
    assert(xs.count(_ > v) == 10)
    // 20 samples: the tail is the lower median; fewer have no tail
    assert(Stats.tail((1 to 20).map(_.toDouble)).get == ((50.0, 10.0)))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    // ties: the tenth-from-top order statistic, even if others equal it
    val (_, tv) = Stats.tail(Seq.fill(20)(2.0) ++ Seq.fill(10)(5.0)).get
    assert(tv == 2.0)
  }

  test("timed passes: --seconds over the nominal pass, at least three, four traced") {
    assert(Main.timedPasses(20, trace = false) == 4)
    assert(Main.timedPasses(1, trace = false) == 3)
    assert(Main.timedPasses(15, trace = true) == 4)
    assert(Main.timedPasses(60, trace = true) == 12)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of children, clipped to the parent") {
    val spans = Seq(
      Span(1, None, "query", 0, 10),
      Span(2, Some(1), "build", 1, 3),
      Span(3, Some(1), "exec", 2, 5), // overlaps build: counted once
      Span(4, Some(1), "job", 8, 12), // runs past the parent: clipped
      Span(5, Some(3), "job", 2, 4))
    val self = Stats.selfTimes(spans)
    assert(self(1) == 10 - (4 + 2))
    assert(self(2) == 2)
    assert(self(3) == 3 - 2)
    assert(self(4) == 4)
    assert(self(5) == 2)
  }

  test("summary line has exactly the four keys and every digit") {
    val line = Stats.summaryLine(correct = true, attempted = 12, failed = 0, Seq(
      Metric("pass_s", 7.369939697265625, "s"), Metric("ok_frac", 1.0, "frac")))
    assert(!line.contains("\n"))
    val j = new ObjectMapper().readTree(line)
    import scala.jdk.CollectionConverters._
    assert(j.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(j.get("correct").asBoolean && j.get("attempted").asLong == 12 && j.get("failed").asLong == 0)
    assert(j.get("metrics").get("pass_s").get("value").asDouble == 7.369939697265625)
    assert(j.get("metrics").get("pass_s").get("unit").asText == "s")
    assert(j.get("metrics").fieldNames().asScala.toSeq == Seq("pass_s", "ok_frac"))
  }

  test("summary line refuses values JSON cannot carry") {
    intercept[IllegalArgumentException](Stats.summaryLine(true, 0, 0, Nil))
    intercept[IllegalArgumentException](
      Stats.summaryLine(true, 1, 0, Seq(Metric("x", Double.NaN, "s"))))
  }

  test("a short summary: seven metrics stay far under 2,000 characters") {
    val ms = Seq("setup_s", "cold_pass_s", "pass_s", "query_p50_s", "query_tail_s",
      "ok_frac", "heap_live_peak_mb").map(n => Metric(n, 1234.5678901234567, "s"))
    assert(Stats.summaryLine(true, 1000, 0, ms).length < 1000)
  }
}
