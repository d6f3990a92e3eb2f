package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One unit of timed work: `rows` processed in `seconds` (the
  * denominator of rows_per_s), with the tracer attached or not. */
final case class Work(traced: Boolean, rows: Double, seconds: Double)

/** One latency or read time, with the tracer attached or not. */
final case class Sample(traced: Boolean, seconds: Double)

/** What the timed phase of a workload measured. */
final case class Phase(work: Seq[Work], latencies: Seq[Sample], reads: Seq[Sample],
    storedBytesPerRow: Double, layer: Map[String, Double]) {
  def rate(traced: Boolean): Double = {
    val w = work.filter(_.traced == traced)
    w.map(_.rows).sum / w.map(_.seconds).sum
  }
  def rates(traced: Boolean): Seq[Double] =
    work.filter(_.traced == traced).map(w => w.rows / w.seconds)
  def latency(traced: Boolean): Seq[Double] = latencies.filter(_.traced == traced).map(_.seconds)
  def read(traced: Boolean): Seq[Double] = reads.filter(_.traced == traced).map(_.seconds)
}

/** A workload: set-up that can run several times, a timed phase that
  * runs for a given number of seconds, and output checks. */
trait Workload {
  /** Generates and stages the inputs into fresh directories. The last
    * set-up is the one the timed phase uses. */
  def setup(rep: Int): Unit
  /** One untimed pass over the staged inputs, so that JIT compilation
    * and code generation do not land in the timed phase. */
  def warmup(): Unit
  /** The timed phase. In a traced run the tracer is attached for half
    * of the operations, interleaved, so traced and untraced operations
    * share the same warm-up state. */
  def measure(seconds: Double): Phase
  def check(): Unit
  /** Layer figures measured during set-up, outside any trace. */
  def setupLayer: Map[String, Double] = Map.empty
}

final case class Args(workload: String, seed: Int, seconds: Double, trace: Boolean,
    cores: Int, runDir: String, out: String, traceOut: String, setupReps: Int)

/** Shared state of one run: the session, the tracer, the run directory
  * and the count of operations attempted and failed. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def seed: Int = args.seed
  def cores: Int = args.cores
  def dir(name: String): String = s"${args.runDir}/work/$name"

  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)

  /** One attempted operation: a throw counts as a failure, never as a
    * timing. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$what: ${e.toString.take(300)}"
        System.err.println(s"[perfbench] FAILED $what: $e")
        None
    }
  }

  /** Times one operation; returns its seconds, or None if it threw. */
  def timed(what: String)(body: => Unit): Option[Double] =
    op(what) { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }

  /** One output check; a false result or a throw is a failure. */
  def check(what: String)(ok: => Boolean): Unit =
    op(s"check $what") { if (!ok) throw new AssertionError(s"output check failed: $what") }

  /** Runs `body` again and again for about `seconds`: a repetition
    * starts only if one more of typical length still ends in time, and
    * at least two always run, so a run has a median. A traced run
    * attaches the tracer to repetitions 2 and 3 of every four (untraced,
    * traced, traced, untraced), which balances a warm-up trend between
    * the two halves, and runs at least four. `body` returns false to
    * stop early. */
  def repeat(seconds: Double)(body: => Boolean): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val least = if (args.trace) 4 else 2
    val took = mutable.ArrayBuffer[Double]()
    var more = true
    while (more) {
      if (args.trace) { if (Set(1, 2)(took.size % 4)) tracer.attach() else tracer.detach() }
      val t0 = System.nanoTime()
      more = body
      took += (System.nanoTime() - t0).toDouble
      more = more && (System.nanoTime() + Stats.median(took.toSeq) <= end || took.size < least)
    }
    tracer.detach()
  }

  /** Forces a frame without collecting it (Catalyst cannot prune the
    * projections being measured, as it would under count()). */
  def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Main {

  /** Seconds for a fixed single-thread integer loop: a record of how fast
    * the host ran around the timed phase (shared hosts drift), reported
    * next to the metrics and never folded into them. */
  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println(x) // keeps the loop from being optimised away
    (System.nanoTime() - t0) / 1e9
  }

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toInt, m("seconds").toDouble, m("trace") == "1",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      m("run-dir"), m("out"), m.getOrElse("trace-out", ""),
      m.get("setup-reps").map(_.toInt).getOrElse(3))
  }

  def session(args: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.default.parallelism", args.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.runDir}/local")
      .config("spark.sql.warehouse.dir", s"${args.runDir}/warehouse")
      .config("spark.sql.streaming.stopTimeout", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(ctx: Ctx): Workload = ctx.args.workload match {
    case "cascade" => new Cascade(ctx)
    case "incremental" => new Incremental(ctx)
    case "stream" => new Stream(ctx)
    case "curate" => new Curate(ctx)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(args)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, args, tracer)
    val wl = workload(ctx)

    var last = System.nanoTime()
    var timeline = ListMap("session" -> sessionS)
    def mark(stage: String): Unit = {
      val now = System.nanoTime()
      timeline += stage -> (now - last) / 1e9
      last = now
    }
    val setups = (1 to args.setupReps).flatMap(r => ctx.timed(s"setup $r")(wl.setup(r)))
    mark("setups")
    val warm = ctx.timed("warm-up")(wl.warmup())
    mark("warm-up")
    require(setups.size == args.setupReps && warm.isDefined, "set-up failed")
    val setupS = sessionS + Stats.median(setups) + warm.get

    val probeBefore = cpuProbe()
    val phase = wl.measure(args.seconds)
    mark("measure")
    val probeAfter = cpuProbe()
    wl.check()
    mark("check")

    val e2e = Report.endToEnd(setupS, setups, sessionS, warm.get, phase)
    val layers = if (args.trace) Report.layers(ctx, wl, phase) else Nil
    if (args.trace && args.traceOut.nonEmpty)
      tracer.dump(args.traceOut, s"${args.workload}-${args.seed}")

    val out = new java.io.PrintWriter(args.out, "UTF-8")
    try out.println(Json.obj(Seq(
      "workload" -> args.workload, "seed" -> args.seed, "cores" -> args.cores,
      "seconds" -> args.seconds, "trace" -> args.trace,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq,
      "timeline_s" -> timeline,
      "cpu_probe_s" -> Seq(probeBefore, probeAfter),
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark_version" -> spark.version,
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.default")
      },
      "end_to_end" -> e2e.map(_.json), "per_layer" -> layers.map(_.json))))
    finally out.close()
    spark.stop()
  }
}

/** One reported figure: the value, with the samples it was taken from. */
final case class Metric(name: String, unit: String, value: Double, n: Int = 1,
    iqr: Double = 0.0, note: String = "") {
  def json: Map[String, Any] =
    Map("name" -> name, "unit" -> unit, "value" -> value, "n" -> n, "iqr" -> iqr, "note" -> note)
}

object Metric {
  def of(name: String, unit: String, xs: Seq[Double]): Metric =
    Metric(name, unit, Stats.median(xs), xs.size, Stats.iqr(xs))
}
