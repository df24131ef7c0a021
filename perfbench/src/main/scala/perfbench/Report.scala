package perfbench

import scala.collection.immutable.ListMap

import perfbench.Main.{Args, Exec, Pass, Setup, group}
import perfbench.Report.Phases
import perfbench.Stats.{Metric, Span, median}

/** Turns one run's records into its metrics, drift flags, spans and the
  * artifact. Every per-layer number is read from the probe by job group,
  * so work is charged to the query and phase (build or exec) that
  * launched it.
  */
final case class Report(a: Args, w: Workload, spec: Spec, setups: Seq[Setup],
                        passes: Seq[Pass], probe: Option[Probe],
                        load0: Double, load1: Double) {
  private val MB = 1048576.0

  val attempted: Long = passes.map(_.execs.size.toLong).sum
  val failed: Long = passes.map(_.execs.count(!_.ok).toLong).sum
  private val cold = passes.head
  private val timed = passes.filter(_.kind == "timed")
  private val queryTimes = timed.flatMap(_.execs.filter(_.ok).map(_.wallS))
  private val tailSample = Stats.tail(queryTimes)

  /** Each query's median over the timed passes: its typical time, which
    * one slow pass does not move. The timing metrics are read from these,
    * not from pooled samples: a percentile over a few distinct queries
    * jumps from one query to another as the sample count changes.
    */
  val typical: ListMap[String, Double] = ListMap(w.queries.map(_.name).flatMap { q =>
    val ts = timed.flatMap(_.execs.filter(e => e.name == q && e.ok)).map(_.wallS)
    if (ts.isEmpty) None else Some(q -> median(ts))
  }: _*)

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", median(setups.map(_.totalS)), "s"),
    Metric("cold_pass_s", cold.wallS, "s"),
    Metric("pass_s", typical.values.sum, "s"),
    Metric("query_p50_s", med(typical.values.toSeq), "s"),
    Metric("query_tail_s", typical.values.maxOption.getOrElse(0.0), "s"),
    Metric("ok_frac", (attempted - failed).toDouble / attempted, "frac"),
    Metric("heap_live_peak_mb", passes.map(_.heapMb).max, "MB"))

  /** Queries whose time rises on every timed pass, by 10% or more
    * overall.
    */
  val drift: Seq[(String, Seq[Double])] = w.queries.map(_.name).flatMap { q =>
    val ts = timed.flatMap(_.execs.find(e => e.name == q && e.ok)).map(_.wallS)
    val rising = ts.size >= 3 && ts.zip(ts.tail).forall { case (x, y) => y > x } &&
      ts.last >= 1.1 * ts.head
    if (rising) Some(q -> ts) else None
  }

  // ---- per-layer numbers, traced runs only ------------------------------

  private lazy val jobsBy = probe.map(_.jobs.values.toSeq.groupBy(_.group)).getOrElse(Map.empty)
  private lazy val stagesBy = probe.map(_.stages.values.toSeq.groupBy(_.group)).getOrElse(Map.empty)
  private lazy val plansBy = probe.map(_.plans.toSeq.groupBy(_.group)).getOrElse(Map.empty)

  private def phases(p: Pass, e: Exec): Phases = {
    val plans = plansBy.getOrElse(group(p.idx, e.name, "exec"), Nil)
    val planMs = plans.map(pl => pl.ms("analysis") + pl.ms("optimization") + pl.ms("planning")).sum
    val starts = plans.flatMap(_.phases.values.map(_._1.toDouble))
    val ends = plans.flatMap(_.phases.values.map(_._2.toDouble))
    val planStart = (starts.minOption.getOrElse(e.tBuilt) max e.tBuilt) min e.tActed
    val execStart = (ends.maxOption.getOrElse(e.tBuilt) max e.tBuilt) min e.tActed
    Phases(e, planStart, planMs, execStart)
  }

  /** The per-layer numbers of one query execution in a traced pass. */
  def layers(p: Pass, e: Exec): ListMap[String, Double] = {
    val ph = phases(p, e)
    val bg = group(p.idx, e.name, "build")
    val eg = group(p.idx, e.name, "exec")
    val jb = jobsBy.getOrElse(bg, Nil)
    val je = jobsBy.getOrElse(eg, Nil)
    val sb = stagesBy.getOrElse(bg, Nil)
    val se = stagesBy.getOrElse(eg, Nil)
    val both = sb ++ se
    val plans = plansBy.getOrElse(eg, Nil)
    val store = Seq(bg, eg).flatMap(g => probe.flatMap(_.storage.get(g)))
    val jobSpans = je.map(j => (j.start.toDouble, j.end.toDouble))
    ListMap(
      "wall_ms" -> (e.t1 - e.t0),
      "build.ms" -> ph.buildMs,
      "build.jobs" -> jb.size.toDouble,
      "build.tasks" -> sb.map(_.tasks).sum.toDouble,
      "plan.analysis_ms" -> plans.map(_.ms("analysis")).sum,
      "plan.optimize_ms" -> plans.map(_.ms("optimization")).sum,
      "plan.physical_ms" -> plans.map(_.ms("planning")).sum,
      "codegen.units" -> e.codegenUnits.toDouble,
      "codegen.compile_ms" -> e.codegenMs,
      "exec.ms" -> ph.execMs,
      "exec.jobs" -> je.size.toDouble,
      "exec.stages" -> se.map(_.id).distinct.size.toDouble,
      "exec.tasks" -> se.map(_.tasks).sum.toDouble,
      "exec.driver_gap_ms" -> (ph.execMs - Stats.covered(jobSpans, ph.execStart, e.tActed)),
      "exec.task_cpu_ms" -> se.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> se.map(_.gcMs).sum.toDouble,
      "scan.tasks" -> both.map(_.scanTasks).sum.toDouble,
      "scan.records" -> both.map(_.inRecords).sum.toDouble,
      "scan.bytes" -> both.map(_.inBytes).sum.toDouble,
      // the benchmark's own noop action is an exec job: only the
      // query's own writes, made while it is built, count as sink
      "sink.records" -> sb.map(_.outRecords).sum.toDouble,
      "sink.bytes" -> sb.map(_.outBytes).sum.toDouble,
      "shuffle.write_bytes" -> both.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> both.map(_.shuffleRead).sum.toDouble,
      "shuffle.fetch_wait_ms" -> both.map(_.fetchWaitMs).sum.toDouble,
      "spill.bytes" -> both.map(_.spill).sum.toDouble,
      "storage.blocks_put" -> store.map(_.puts).sum.toDouble,
      "storage.mem_peak_mb" -> store.map(_.peakBytes).maxOption.getOrElse(0L) / MB,
      "query.remainder_ms" -> ph.remainderMs)
  }

  /** Per-layer numbers of one traced pass: sums over its queries, except
    * the ratios, the task-time order statistics and the storage peak.
    */
  private def passLayers(p: Pass): ListMap[String, Double] = {
    val ok = p.execs.filter(_.ok)
    val per = ok.map(e => e.name -> layers(p, e)).toMap
    def sum(k: String): Double = per.values.map(_(k)).sum
    val taskMs = ok.flatMap(e => stagesBy.getOrElse(group(p.idx, e.name, "exec"), Nil))
      .flatMap(_.taskMs).map(_.toDouble)
    val twins = ok.filter(e => e.reference != e.name)
    val twinRefs = twins.flatMap(t => per.get(t.reference))
    val execMs = sum("exec.ms")
    val keys = per.values.headOption.map(_.keys.toSeq).getOrElse(Nil).filterNot(_ == "wall_ms")
    ListMap(keys.map(k => k -> sum(k)): _*) ++ ListMap(
      "exec.cpu_busy_frac" -> (if (execMs > 0) sum("exec.task_cpu_ms") / (execMs * a.cores) else 0.0),
      "exec.task_ms_p50" -> (if (taskMs.isEmpty) 0.0 else median(taskMs)),
      "exec.task_ms_max" -> taskMs.maxOption.getOrElse(0.0),
      "storage.mem_peak_mb" -> per.values.map(_("storage.mem_peak_mb")).maxOption.getOrElse(0.0),
      // 0 when the workload has no closure twins
      "api.closure_ratio" -> (if (twinRefs.isEmpty) 0.0
        else twins.flatMap(t => per.get(t.name)).map(_("exec.ms")).sum /
          twinRefs.map(_("exec.ms")).sum))
  }

  private val tracedTimed = timed.filter(_.traced)
  private val untracedTimed = timed.filterNot(_.traced)

  def perLayer: Seq[Metric] = {
    val per = tracedTimed.map(passLayers)
    def m(k: String): Double = med(per.map(_(k)))
    val coldLayers = passLayers(cold)
    val tracedPass = med(tracedTimed.map(_.wallS))
    val untracedPass = med(untracedTimed.map(_.wallS))
    def unit(k: String): String =
      if (k.endsWith("ms") || k.contains("_ms_")) "ms" else if (k.endsWith("_mb")) "MB"
      else if (k.endsWith("bytes")) "bytes" else if (k.endsWith("_frac") || k.endsWith("_ratio")) "ratio"
      else "count"
    val fromPasses = per.headOption.map(_.keys.toSeq).getOrElse(Nil).map {
      // codegen compiles once per plan shape, so it is read on the cold pass
      case k if k.startsWith("codegen.") => Metric(k, coldLayers(k), unit(k))
      case k => Metric(k, m(k), unit(k))
    }
    Seq(Metric("session.start_ms", median(setups.map(_.startMs)), "ms"),
      Metric("session.register_ms", median(setups.map(_.registerMs)), "ms")) ++
      fromPasses ++ Seq(
      Metric("trace.pass_s", tracedPass, "s"),
      Metric("trace.overhead_frac",
        if (untracedPass > 0) tracedPass / untracedPass - 1 else 0.0, "ratio"))
  }

  // ---- spans ------------------------------------------------------------

  /** run -> pass -> query -> build / plan / exec; build and exec -> job
    * -> stage. Names are "kind" or "kind:label".
    */
  lazy val spans: Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var next = 0L
    def add(parent: Option[Long], name: String, s: Double, e: Double): Long = {
      next += 1
      out += Span(next, parent, name, s, e)
      next
    }
    val end = passes.last.t1
    val run = add(None, s"run:${a.workload}", passes.head.t0, end)
    passes.foreach { p =>
      val ps = add(Some(run), s"pass:${p.idx}:${p.kind}", p.t0, p.t1)
      p.execs.foreach { e =>
        val qs = add(Some(ps), s"query:${e.name}", e.t0, e.t1)
        if (p.traced && e.ok) {
          val ph = phases(p, e)
          Seq("build" -> ((e.t0, e.tBuilt)), "plan" -> ((ph.planStart, ph.planStart + ph.planMs)),
            "exec" -> ((ph.execStart, e.tActed))).foreach { case (kind, (s, t)) =>
            val id = add(Some(qs), kind, s, t)
            if (kind != "plan") jobsBy.getOrElse(group(p.idx, e.name, kind), Nil).foreach { j =>
              val js = add(Some(id), s"job:${j.id}", j.start.toDouble, j.end.toDouble)
              stagesBy.getOrElse(group(p.idx, e.name, kind), Nil)
                .filter(st => st.jobId == j.id && st.end > 0)
                .foreach(st => add(Some(js), s"stage:${st.id}.${st.attempt}", st.start.toDouble, st.end.toDouble))
            }
          }
        }
      }
    }
    out.result()
  }

  /** Median, over traced timed passes, of the summed self time of each
    * span kind in that pass.
    */
  private def selfMsByKind: ListMap[String, Double] = {
    val self = Stats.selfTimes(spans)
    val byId = spans.map(s => s.id -> s).toMap
    def passOf(s: Span): Option[Span] =
      if (s.name.startsWith("pass:")) Some(s) else s.parent.flatMap(byId.get).flatMap(passOf)
    val traced = tracedTimed.map(p => s"pass:${p.idx}:timed").toSet
    val rows = spans.flatMap(s => passOf(s).filter(ps => traced(ps.name)).map(ps =>
      (ps.name, s.name.takeWhile(_ != ':'), self(s.id))))
    val kinds = Seq("pass", "query", "build", "plan", "exec", "job", "stage")
    ListMap(kinds.map { k =>
      k -> med(traced.toSeq.map(pn => rows.filter(r => r._1 == pn && r._2 == k).map(_._3).sum))
    }: _*)
  }

  // ---- artifact -----------------------------------------------------------

  def artifact: ListMap[String, Any] = {
    val rt = Runtime.getRuntime
    ListMap(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "seconds" -> a.seconds,
      "trace" -> a.trace,
      "machine" -> ListMap(
        "cores" -> a.cores,
        "heap_mb" -> rt.maxMemory / MB,
        "load_avg_1m_start" -> load0,
        "load_avg_1m_end" -> load1,
        "java" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION),
      "queries" -> w.queries.map(_.name),
      "setups" -> setups.map(s => ListMap("start_ms" -> s.startMs, "register_ms" -> s.registerMs)),
      "attempted" -> attempted,
      "failed" -> failed,
      "failed_frac" -> failed.toDouble / attempted,
      "query_typical_s" -> typical,
      "pass_median_s" -> med(timed.map(_.wallS)),
      // pooled over every timed query execution; with fewer than 20
      // samples there is no percentile above the median, and the maximum stands in
      "query_tail_pooled" -> ListMap(
        "value" -> tailSample.map(_._2).getOrElse(queryTimes.maxOption.getOrElse(0.0)),
        "percentile" -> tailSample.map(_._1).getOrElse(100.0),
        "samples" -> queryTimes.size,
        "beyond" -> 10),
      "end_to_end" -> endToEnd.map(m => m.name -> ListMap("value" -> m.value, "unit" -> m.unit)).to(ListMap),
      "per_layer" -> (if (a.trace) perLayer.map(m => m.name -> ListMap("value" -> m.value, "unit" -> m.unit)).to(ListMap)
        else ListMap.empty),
      "drift" -> drift.map { case (q, ts) => ListMap("query" -> q, "pass_s" -> ts) },
      "passes" -> passes.map { p =>
        ListMap(
          "idx" -> p.idx, "kind" -> p.kind, "traced" -> p.traced, "wall_s" -> p.wallS,
          "load_avg_1m_start" -> p.load0, "load_avg_1m_end" -> p.load1,
          "heap_live_mb" -> p.heapMb,
          "layers" -> (if (p.traced) passLayers(p) else ListMap.empty),
          "queries" -> p.execs.map { e =>
            ListMap(
              "name" -> e.name, "ok" -> e.ok, "error" -> e.error, "wall_s" -> e.wallS,
              "fingerprint" -> e.fingerprint.map { case (r, h) => ListMap("rows" -> r, "hash" -> h) },
              "expected" -> (if (p.kind == "check") spec.expected.get(e.reference).map(x =>
                ListMap("of" -> e.reference, "rows" -> x.rows, "hash" -> x.hash, "status" -> x.status))
                else None),
              "layers" -> (if (p.traced && e.ok) layers(p, e) else ListMap.empty))
          })
      },
      "self_ms" -> (if (a.trace) selfMsByKind else ListMap.empty),
      "spans" -> (if (a.trace) spans.map(s => Seq(s.id, s.parent.getOrElse(0L), s.name, s.start, s.end))
        else Nil))
  }
}

object Report {
  /** Phase windows of one traced query execution, epoch ms: the action's
    * planning starts at `planStart` and takes `planMs`; execution runs
    * from `execStart` to the end of the action.
    */
  final case class Phases(e: Exec, planStart: Double, planMs: Double, execStart: Double) {
    def buildMs: Double = e.tBuilt - e.t0
    def execMs: Double = e.tActed - execStart
    def remainderMs: Double = (e.t1 - e.t0) - buildMs - planMs - execMs
  }
}
