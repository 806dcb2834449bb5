package perfbench

import Harness.{clocked, cores, median}
import java.nio.file.{Files, Paths}

/** The benchmark's JVM side; `perfbench/run.py` builds and starts it.
  *
  *   perfbench.Main --workload extract|corpus-resume|queries --seed N
  *                  --seconds S --trace 0|1 --work DIR [--size tiny] [--tamper 1]
  *
  * One session at local[cores], one closed-loop client. Untraced, it
  * prints the end-to-end metrics; traced, every second run has the engine
  * listener attached, and it prints the per-layer metrics. The last stdout line is the JSON result; the exit
  * code is non-zero when any output check failed.
  */
object Main {

  /** End-to-end metrics, as BENCHMARK.json lists them. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "items_per_s" -> "1/s")

  /** Per-layer metrics, as BENCHMARK.json lists them. A workload prints 0
    * for a layer it does not exercise. */
  val perLayer: Seq[(String, String)] =
    StagePass.stages.map(_ -> "s") ++ Seq(
      "html.tokens" -> "count", "extract.html_bytes" -> "bytes", "extract.md_bytes" -> "bytes",
      "extract.blocks_kept" -> "count", "extract.blocks_dropped" -> "count",
      "extract.spans" -> "count", "post.repetition_truncated" -> "count",
      "post.slices_removed" -> "count", "extract.traced_pages" -> "count",
      "extract.raw_docs_per_s" -> "docs/s", "spark.pipeline_efficiency" -> "ratio",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.failed_jobs" -> "count", "spark.failed_stages" -> "count",
      "spark.failed_tasks" -> "count", "spark.task_s" -> "s", "spark.cpu_s" -> "s",
      "spark.gc_s" -> "s", "spark.cpu_util" -> "ratio", "spark.input_bytes" -> "bytes",
      "spark.output_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
      "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.task_skew" -> "ratio", "spark.codegen_classes" -> "count",
      "pipeline.scan_serde_s" -> "s", "pipeline.exchange_s" -> "s",
      "pipeline.extract_map_s" -> "s", "pipeline.write_commit_s" -> "s",
      "pipeline.prefix_share" -> "ratio") ++
      QueryList.packs.map(p => s"queries.${p._1}_s" -> "s") ++
      QueryList.targets.map(t => s"queries.${t._1}_s" -> "s") ++ Seq(
      "queries.p50_s" -> "s", "queries.p88_s" -> "s", "queries.latency_samples" -> "count",
      "jvm.heap_peak_mb" -> "MB", "host.steal_s" -> "s", "host.ext_cpu_s" -> "s",
      "host.loadavg" -> "tasks", "trace.overhead" -> "ratio")

  /** Per-layer metrics only the corpus-resume workload prints; it is not
    * among the workloads BENCHMARK.json lists. */
  val corpusLayer: Seq[(String, String)] = Seq(
    "pipeline.resume_s" -> "s", "corpus.scrub_s" -> "s", "pipeline.assemble_s" -> "s",
    "corpus.template_lines" -> "count", "corpus.docs" -> "count",
    "corpus.dup_dropped" -> "count", "corpus.quality_dropped" -> "count")

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val tiny = opts.get("--size").contains("tiny")
    val tamper = opts.get("--tamper").contains("1")
    val work = Paths.get(opt("--work")).toAbsolutePath.toString

    Workloads.deleteTree(work)
    Files.createDirectories(Paths.get(work))
    val (spark, sessionT) = clocked(Harness.session(work))
    val sessionS = sessionT.wallSec
    val dir = s"$work/$workload"
    val w: Workload = workload match {
      case "extract" => new Workloads.Extract(spark, dir, seed, if (tiny) 600 else 20000, tamper)
      case "corpus-resume" => new Workloads.CorpusResume(spark, dir, seed,
        if (tiny) 600 else 6000, if (tiny) 20 else 200, tamper)
      case "queries" => new Workloads.Queries(spark, dir, seed,
        if (tiny) QueryTables.sf0001 else QueryTables.sf001, tamper)
      case other => sys.error(s"unknown workload $other")
    }

    val setupS = sessionS + clocked(w.setup())._2.wallSec
    println(f"[perfbench] session_s=$sessionS%.3f setup_s=$setupS%.3f")
    val runs = Harness.loop(w, seconds, workload, alternate = trace, spark.sparkContext)
    val results = runs.map(_.result)
    val (traced, plain) = runs.partition(_.engine.isDefined)
    val plainCounted = Harness.counted(plain, w.minRuns)
    val plainRunS = w.runSeconds(plainCounted.map(_.result))
    println(s"[perfbench] run_s over ${plainCounted.length} of ${plain.length} runs " +
      s"(${plain.count(Harness.clean)} outside steal spells)")
    val (metrics, extraBad) =
      if (!trace) {
        // what a user of this workload also sees, printed beside the result
        val failedRatio = results.map(_.failed).sum.toDouble / results.map(_.attempted).sum
        val shown = Seq("failed_ratio" -> (failedRatio, "fraction"),
          "steal_adj_run_s" -> (median(results.map(_.timing.stealAdjSec)), "s")) ++
          (if (workload == "queries") Workloads.latency(results.flatMap(_.samples.map(_._2))).collect {
            case ("queries.p50_s", v) => "query_p50_s" -> (v, "s")
            case ("queries.p88_s", v) => "query_p88_s" -> (v, "s")
          } else Seq("docs_per_s" -> (w.items / plainRunS, "docs/s")))
        for ((k, (v, u)) <- shown) println(f"[perfbench] $workload $k = $v%.6g $u")
        val values = Map("setup_s" -> setupS, "run_s" -> plainRunS, "items_per_s" -> w.items / plainRunS)
        (endToEnd.map { case (k, u) => (k, values(k), u) }, Nil)
      } else {
        val (extra, bad) = w.extras(plainRunS)
        val tracedResults = traced.map(_.result)
        val parts = tracedResults.flatMap(_.parts.keys).distinct.map { k =>
          k -> median(tracedResults.flatMap(_.parts.get(k)))
        }
        val got = Harness.engineLayers(traced) ++ Harness.noiseLayers(runs) ++ parts ++
          extra ++ Workloads.latency(tracedResults.flatMap(_.samples.map(_._2))) ++
          Map("trace.overhead" ->
            w.runSeconds(Harness.counted(traced, w.minRuns).map(_.result)) / plainRunS)
        val listed = if (workload == "corpus-resume") perLayer ++ corpusLayer else perLayer
        (listed.map { case (k, u) => (k, got.getOrElse(k, 0.0), u) }, bad)
      }

    val bad = results.flatMap(_.mismatches) ++ extraBad
    bad.take(20).foreach(m => println(s"[perfbench] CHECK FAILED: $m"))
    spark.stop()
    val json = metrics.map { case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": {"value": $v, "unit": "$u"}"""
    }.mkString(s"""{"correct": ${bad.isEmpty}, "attempted": ${results.map(_.attempted).sum}, """ +
      s""""failed": ${results.map(_.failed).sum}, "metrics": {""", ", ", "}}")
    println(json)
    System.out.flush()
    sys.exit(if (bad.isEmpty) 0 else 1)
  }
}
