package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** How long something took: wall seconds, and the CPU seconds the
  * hypervisor stole from this VM's vCPUs meanwhile (/proc/stat). The wall
  * time is what the metrics report; steal is a witness beside it. */
final case class Timing(wallSec: Double, stealSec: Double) {
  /** Share of the VM's CPU capacity stolen meanwhile. */
  def stealShare: Double = if (wallSec > 0) stealSec / (wallSec * HostNoise.vcpus) else 0.0
  /** The wall time less the average steal per vCPU: a model, printed
    * beside the wall time and never gated. It undercorrects when a stolen
    * vCPU held the run's slowest task, and overcorrects when the steal hit
    * work off the critical path or grew with the run's own CPU demand. */
  def stealAdjSec: Double = wallSec - stealSec / HostNoise.vcpus
  def +(o: Timing): Timing = Timing(wallSec + o.wallSec, stealSec + o.stealSec)
}

/** One closed-loop operation's outcome. `samples` are per-operation
  * times inside the run (one per query on the queries workload);
  * `mismatches` are failed output checks; `parts` are per-layer numbers
  * of this run (the traced run reports their medians); `note` is printed
  * beside the run. */
final case class RunResult(timing: Timing, attempted: Long, failed: Long,
                           mismatches: Seq[String], samples: Seq[(String, Double)] = Nil,
                           parts: Map[String, Double] = Map.empty, note: String = "")

/** A workload: inputs made from the seed, one timed operation, and the
  * per-layer metrics its traced run adds. */
trait Workload {
  /** Set-up, timed as one pass: the inputs generated from the seed and
    * materialized, with what a run needs on top, including the JVM's
    * cold first run of the workload. */
  def setup(): Unit
  /** Untimed work before each run, such as clearing the previous output. */
  def beforeRun(): Unit = ()
  /** One timed operation, with its outputs checked after the clock stops. */
  def run(): RunResult
  /** Items one run handles: pages, or queries. */
  def items: Long
  /** Fewest runs a measuring loop makes, however long they take. */
  def minRuns: Int = 3
  /** The time of one run that the runs measured: their median. */
  def runSeconds(runs: Seq[RunResult]): Double = Harness.median(runs.map(_.timing.wallSec))
  /** Per-layer measurements the traced run makes after its loops, with
    * their failed checks. */
  def extras(untracedRunS: Double): (Map[String, Double], Seq[String]) =
    (Map.empty, Nil)
}

object Harness {

  /** Spark's worker threads: half the host's processors. The other half
    * is left to the JIT compiler, which on the queries workload keeps a
    * core busy compiling each pass's freshly generated classes, to the
    * garbage collector, Spark's driver threads and the host's other
    * tenants, so a run measures the program rather than the scheduler. */
  val cores: Int = math.max(1, Runtime.getRuntime.availableProcessors / 2)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, secsSince(t0))
  }

  /** Prints how far into set-up (started at `t0`) a step ended, so a
    * slow set-up can be put down to its step. */
  def step(what: String, t0: Long): Unit =
    println(f"[perfbench] setup: $what at ${secsSince(t0)}%.2f s")

  /** `f`'s result and its Timing. */
  def clocked[A](f: => A): (A, Timing) = {
    val st = HostNoise.stamp()
    val (a, wall) = timed(f)
    (a, Timing(wall, HostNoise.since(st).stealSec))
  }

  /** A run's share of stolen CPU above which its line is flagged. */
  val stealSpell = 0.05

  /** A measured run, with its host noise and, when traced, its engine counts. */
  final case class Run(result: RunResult, noise: HostNoise.Sample,
                       engine: Option[EngineMetrics.Window])

  /** Whether a run was outside a steal spell. */
  def clean(r: Run): Boolean = r.result.timing.stealShare <= stealSpell

  /** The runs a median is taken over: those outside steal spells when
    * there are `least` of them, else all. */
  def counted(runs: Seq[Run], least: Int): Seq[Run] = {
    val c = runs.filter(clean)
    if (c.length >= least) c else runs
  }

  /** The closed loop: one operation at a time until `seconds` have passed
    * and the workload's `minRuns` ran. With `alternate`, every second run
    * is traced (`minRuns` of each kind), so both kinds see the same
    * warm-up and the same host. A host-noise line is printed per run; a
    * run in a steal spell is flagged, and `counted` leaves it out when
    * enough runs remain. */
  def loop(w: Workload, seconds: Double, tag: String, alternate: Boolean,
           sc: SparkContext): Seq[Run] = {
    val runs = mutable.ArrayBuffer.empty[Run]
    val least = if (alternate) 2 * w.minRuns else w.minRuns
    val t0 = System.nanoTime()
    def done = runs.length >= least && secsSince(t0) >= seconds
    while (!done) {
      val traced = alternate && runs.length % 2 == 1
      w.beforeRun()
      val engine = Option.when(traced)(EngineMetrics.attach(sc))
      val st = HostNoise.stamp()
      val r = w.run()
      val n = HostNoise.since(st)
      runs += Run(r, n, engine.map(_.finish()))
      println(f"[perfbench] $tag ${if (traced) "traced " else ""}run ${runs.length}%d " +
        f"run_s=${r.timing.wallSec}%.4f steal_adj_s=${r.timing.stealAdjSec}%.4f " +
        f"cpu_s=${n.cpuSec}%.3f steal_s=${n.stealSec}%.2f " +
        f"ext_cpu_s=${n.externalCpuSec}%.2f " +
        f"load1=${n.load1}%.2f failed=${r.failed}%d " +
        (if (r.timing.stealShare > stealSpell) "STEAL-SPELL " else "") + r.note)
    }
    runs.toSeq
  }

  /** Per-layer engine metrics: per-run medians over the traced runs. */
  def engineLayers(traced: Seq[Run]): Map[String, Double] = {
    val ws = traced.flatMap(_.engine)
    def m(f: EngineMetrics.Window => Double) = median(ws.map(f))
    val cpuS = m(_.d.cpuNs / 1e9)
    Map(
      "spark.jobs" -> m(_.d.jobs.toDouble),
      "spark.stages" -> m(_.d.stages.toDouble),
      "spark.tasks" -> m(_.d.tasks.toDouble),
      "spark.failed_jobs" -> ws.map(_.d.failedJobs).sum.toDouble,
      "spark.failed_stages" -> ws.map(_.d.failedStages).sum.toDouble,
      "spark.failed_tasks" -> ws.map(_.d.failedTasks).sum.toDouble,
      "spark.task_s" -> m(_.d.taskMs / 1e3),
      "spark.cpu_s" -> cpuS,
      "spark.gc_s" -> m(_.d.gcMs / 1e3),
      "spark.cpu_util" -> cpuS / (median(traced.map(_.result.timing.wallSec)) * cores),
      "spark.input_bytes" -> m(_.d.inputBytes.toDouble),
      "spark.output_bytes" -> m(_.d.outputBytes.toDouble),
      "spark.shuffle_write_bytes" -> m(_.d.shuffleWriteBytes.toDouble),
      "spark.shuffle_read_bytes" -> m(_.d.shuffleReadBytes.toDouble),
      "spark.spill_bytes" -> m(_.d.spillBytes.toDouble),
      "spark.task_skew" -> m(_.taskSkew),
      "spark.codegen_classes" -> m(_.codegenClasses.toDouble))
  }

  def noiseLayers(runs: Seq[Run]): Map[String, Double] = Map(
    "jvm.heap_peak_mb" -> HostNoise.heapPeakMb,
    "host.steal_s" -> runs.map(_.noise.stealSec).sum,
    "host.ext_cpu_s" -> runs.map(_.noise.externalCpuSec).sum,
    "host.loadavg" -> median(runs.map(_.noise.load1)))

  def session(workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the production jobs' own session settings (ExtractJob.main)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // everything Spark writes stays under the work dir
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
