package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark, one workload per JVM: a closed loop with one client
  * that builds each query, awaits its action, and only then starts the
  * next.
  *
  * A run sets a session up [[SetupReps]] times, then makes a cold pass
  * (the first pass in the JVM, timed on its own), an untimed check pass
  * that compares every output with its fingerprint and doubles as the
  * warm-up, and a fixed number of timed passes (see [[timedPasses]]).
  * Every pass runs all queries once; timed passes in an order drawn
  * from `--seed`. With `--trace 1` a listener records jobs, stages and
  * tasks, and half of the timed passes run untraced so the tracing
  * overhead is measured in the same JVM.
  *
  * Prints the summary line last on stdout and writes every per-query,
  * per-pass and span record to the artifact named by `--out`.
  */
object Main {
  val SetupReps = 9
  val MinTimedPasses = 3
  /** Seconds a warm pass of either workload takes at 4 cores. */
  val NominalPassS = 5

  /** Timed passes of a run: `--seconds` over the nominal pass, at least
    * [[MinTimedPasses]], and four with tracing (untraced, traced, traced,
    * untraced). A count, not a deadline, so every run measures the same
    * passes of a JVM that is still warming up, however fast the machine
    * is at the time.
    */
  def timedPasses(seconds: Int, trace: Boolean): Int =
    (seconds / NominalPassS) max MinTimedPasses max (if (trace) 4 else 0)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        spec: String, data: String, work: String, out: String, cores: Int)

  def parseArgs(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = need(k).toIntOption.getOrElse(
      throw new IllegalArgumentException(s"--$k is not a whole number: ${need(k)}"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1: $t")
    }
    Args(need("workload"), need("seed").toLongOption.getOrElse(
      throw new IllegalArgumentException(s"--seed is not a whole number: ${need("seed")}")),
      int("seconds"), trace, need("spec"), need("data"), need("work"), need("out"), int("cores"))
  }

  // Wall clock in epoch ms with sub-ms resolution, comparable with the
  // epoch-ms times on Spark's events.
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def clock(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap occupancy right after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Codegen compile count and total compile ms so far (JVM-wide). The
    * histogram keeps every sample until it holds 1028, so the sum is
    * exact below that and the count-times-mean estimate above it.
    */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    val n = h.getCount
    (n, if (n <= s.size) s.getValues.sum.toDouble else n * s.getMean)
  }

  final case class Setup(startMs: Double, registerMs: Double) {
    def totalS: Double = (startMs + registerMs) / 1000
  }

  /** One query execution. Times are epoch ms: start, build done, action
    * done, end (after the cache is cleared). Build or action times are
    * NaN when the query failed before reaching them.
    */
  final case class Exec(name: String, reference: String, ok: Boolean, error: String,
                        t0: Double, tBuilt: Double, tActed: Double, t1: Double,
                        codegenUnits: Long, codegenMs: Double,
                        fingerprint: Option[(Long, String)]) {
    def wallS: Double = (t1 - t0) / 1000
  }

  final case class Pass(idx: Int, kind: String, traced: Boolean, t0: Double, t1: Double,
                        load0: Double, load1: Double, heapMb: Double, execs: Seq[Exec]) {
    def wallS: Double = (t1 - t0) / 1000
  }

  def group(pass: Int, query: String, phase: String): String = s"pb/$pass/$query/$phase"

  /** A GraftSession at `local[cores]` that keeps its scratch files in `work`. */
  def session(cores: Int, work: String): SparkSession =
    GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spec = Spec.load(a.spec)
    val w = spec.workloads.getOrElse(a.workload, throw new IllegalArgumentException(
      s"unknown workload ${a.workload}; known: ${spec.workloads.keys.toSeq.sorted.mkString(", ")}"))
    val missing = w.queries.map(_.reference).filterNot(spec.expected.contains)
    require(missing.isEmpty, s"no fingerprint for: ${missing.distinct.mkString(", ")}")
    val load0 = loadAvg()

    // Set-up, several times: the first from JVM start, the rest from a
    // stopped session to a ready one.
    val setups = mutable.ArrayBuffer[Setup]()
    var spark: SparkSession = null
    (0 until SetupReps).foreach { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) jvmStart else clock()
      val s = session(a.cores, a.work)
      val t1 = clock()
      GraftSession.registerFunctions(s)
      GraftSession.registerOptimizations(s)
      setups += Setup(t1 - t0, clock() - t1)
      spark = s
    }
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    sc.setCheckpointDir(s"${a.work}/checkpoints")

    val probe = if (a.trace) Some(new Probe) else None
    probe.foreach { p => sc.addSparkListener(p); spark.listenerManager.register(p) }
    val runner = new Runner(spark, spec, a.data)
    // Untimed passes and the cold pass keep the declared order, so the
    // JIT sees the same warm-up on every run; timed passes shuffle.
    def runPass(kind: String, traced: Boolean): Pass = {
      val order = if (kind != "timed") w.queries
        else new Random(a.seed * 1000003L + runner.passes.size).shuffle(w.queries)
      val p = runner.runPass(kind, traced, order)
      System.err.println(f"[perfbench] ${a.workload} pass ${p.idx} $kind${if (traced) " traced" else ""}: ${p.wallS}%.2f s")
      p
    }

    runPass("cold", a.trace)
    runPass("check", traced = false)
    // With tracing the timed passes run untraced, traced, traced,
    // untraced, and so on, so warm-up left over in the early passes does
    // not read as overhead.
    (0 until timedPasses(a.seconds, a.trace)).foreach { n =>
      runPass("timed", a.trace && (n % 4 == 1 || n % 4 == 2))
    }
    spark.stop() // drains the listener bus into the probe

    val report = Report(a, w, spec, setups.toSeq, runner.passes.toSeq, probe, load0, loadAvg())
    Files.createDirectories(Paths.get(a.out).getParent)
    Files.write(Paths.get(a.out), Json.write(report.artifact).getBytes(UTF_8))
    report.drift.foreach { case (q, ts) =>
      System.err.println(s"[perfbench] DRIFT ${q}: time rises pass over pass ${ts.map(t => f"$t%.3f").mkString(" -> ")}")
    }
    System.err.println(s"[perfbench] artifact: ${a.out}")
    println(Stats.summaryLine(report.failed == 0, report.attempted, report.failed,
      if (a.trace) report.perLayer else report.endToEnd))
    if (report.failed > 0) sys.exit(1)
  }
}

/** The closed loop: runs queries one at a time, each awaited, and keeps
  * the record of every pass. In a traced pass the build call and the
  * action each run under their own job group (see [[Main.group]]), so
  * the probe can charge every job to the phase that launched it.
  */
final class Runner(spark: SparkSession, spec: Spec, data: String) {
  import Main._

  val passes = mutable.ArrayBuffer[Pass]()
  private val sc = spark.sparkContext

  /** Builds the query and runs its action: the noop sink, which
    * materializes every output column, or with `check` the fingerprint,
    * compared against the query's reference output.
    */
  def runOne(q: Query, pass: Int, traced: Boolean, check: Boolean): Exec = {
    val (u0, c0) = codegen()
    val t0 = clock()
    var tBuilt, tActed = Double.NaN
    var fp: Option[(Long, String)] = None
    val error = try {
      if (traced) sc.setJobGroup(group(pass, q.name, "build"), q.name)
      val df = q.build(spark, data)
      tBuilt = clock()
      if (traced) sc.setJobGroup(group(pass, q.name, "exec"), q.name)
      if (check) fp = Some(Fingerprint.of(df))
      else df.write.format("noop").mode("overwrite").save()
      tActed = clock()
      ""
    } catch {
      case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    } finally sc.clearJobGroup()
    // Drop anything the query cached so the next one measures its own work.
    spark.catalog.clearCache()
    val t1 = clock()
    val (u1, c1) = codegen()
    val mismatch = fp.filter { f =>
      val e = spec.expected(q.reference)
      f != ((e.rows, e.hash))
    }.map(f => s"fingerprint $f differs from the one expected of ${q.reference}")
    val why = mismatch.getOrElse(error)
    if (why.nonEmpty) System.err.println(s"[perfbench] ${q.name} FAILED: $why")
    Exec(q.name, q.reference, why.isEmpty, why, t0, tBuilt, tActed, t1, u1 - u0, c1 - c0, fp)
  }

  def runPass(kind: String, traced: Boolean, order: Seq[Query]): Pass = {
    val idx = passes.size
    val l0 = loadAvg()
    val t0 = clock()
    val execs = order.map(q => runOne(q, idx, traced, kind == "check"))
    val t1 = clock()
    val p = Pass(idx, kind, traced, t0, t1, l0, loadAvg(), liveHeapMb(), execs)
    passes += p
    p
  }
}
