package perfbench

/** Pure arithmetic behind the benchmark's reported numbers: order
  * statistics, span self times and the one-line JSON summary.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail sample: the highest percentile that still has at least
    * `beyond` samples above it. With n sorted samples that is the one at
    * index n-1-beyond, the percentile 100*(n-beyond)/n. None when that
    * percentile would fall below the median (fewer than 2*beyond
    * samples): a run that small has no tail beyond its maximum.
    *
    * @return (percentile, value)
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.size
    if (n < 2 * beyond) None
    else Some((100.0 * (n - beyond) / n, xs.sorted.apply(n - 1 - beyond)))
  }

  /** One timed interval of the trace. `parent` is None for the root. */
  final case class Span(id: Long, parent: Option[Long], name: String,
                        start: Double, end: Double) {
    def dur: Double = end - start
  }

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = curB max b
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover. Overlapping children (concurrent
    * jobs) are counted once.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(Some(s.id), Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - covered(cs, s.start, s.end))
    }.toMap
  }

  final case class Metric(name: String, value: Double, unit: String)

  /** The last stdout line: exactly `correct`, `attempted`, `failed` and
    * `metrics`, every value with all its digits.
    */
  def summaryLine(correct: Boolean, attempted: Long, failed: Long,
                  metrics: Seq[Metric]): String = {
    require(attempted >= 1, s"attempted must be at least 1: $attempted")
    val ms = metrics.map { m =>
      m.name -> Map("value" -> m.value, "unit" -> m.unit)
    }
    Json.write(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(ms: _*)))
  }
}

/** Minimal JSON writer for the artifact and the summary line. Maps keep
  * their iteration order; doubles are written with all their digits and
  * must be finite.
  */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    put(sb, v)
    sb.toString
  }

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => put(sb, x)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in JSON: $d")
      sb ++= d.toString
    case f: Float => put(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case s: String => str(sb, s)
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(sb, k.toString); sb += ':'; put(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; put(sb, x) }
      sb += ']'
    case other => throw new IllegalArgumentException(
      s"cannot write ${other.getClass.getName} as JSON")
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
