package graft.bench

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SimpleMode}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

/** The diagnostic main: matched-window query timings, every executed plan
  * of a query, and the annotated plan list. Queries are SparkEntry names;
  * `time` and `exec` read `$SPARK_GRAFT_SF_DIR` (default sf0.1), and the
  * session is [[graft.Sessions]]' (`$SPARK_GRAFT_CPUS` cores).
  *
  * {{{
  * Probe time [rounds] [query ...]      interleaved timing rounds
  * Probe exec <round> <tag> <query ...> plans/<round>/<query>_rounds_<tag>.txt
  * Probe plans [sfDir]                  BENCH/PLANS.md (sfDir default sf0.01)
  * }}}
  */
object Probe {
  private val usage =
    "usage: Probe time [rounds] [query ...] | exec <round> <tag> <query ...> | plans [sfDir]"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val run: SparkSession => Unit = args.toList match {
      case "time" :: rest => time(_, sfDir, rest)
      case "exec" :: round :: tag :: names if names.nonEmpty => exec(_, sfDir, round, tag, names)
      case "plans" :: rest if rest.length <= 1 =>
        plans(_, rest.headOption.getOrElse("/root/testdata/sf0.01"))
      case _ => System.err.println(usage); sys.exit(2)
    }
    val spark = graft.Sessions(s"graft-probe-${args(0)}")
    try run(spark) finally spark.stop()
  }

  /** Times the named queries INTERLEAVED over the rounds — every query
    * samples once per round, so all of them share each round's noise
    * window — after one untimed warm-up run each (codegen and C2 for the
    * exact plan), and prints per-query best/median. A leading integer is
    * the round count (default 3), so `time q52 q57` probes both queries.
    */
  private def time(spark: SparkSession, sfDir: String, args: List[String]): Unit = {
    val roundsOpt = args.headOption.flatMap(_.toIntOption)
    val rounds = roundsOpt.getOrElse(3)
    val nameArgs = if (roundsOpt.isDefined) args.drop(1) else args
    val names =
      if (nameArgs.nonEmpty) nameArgs
      else Seq("q40_trained_recall", "q49_probe_sweep")
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))
    fns.foreach { case (_, fn) => fn(spark, sfDir).count(); spark.catalog.clearCache() }
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    for (_ <- 1 to rounds; (name, fn) <- fns) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      samples(name) = samples(name) :+ sec
    }
    fns.foreach { case (name, _) =>
      val xs = samples(name).sorted
      val med = if (xs.length % 2 == 1) xs(xs.length / 2) else (xs(xs.length / 2 - 1) + xs(xs.length / 2)) / 2
      println(f"[probe] $name best=${xs.min}%.3f median=$med%.3f samples=${samples(name).map(x => f"$x%.3f").mkString(",")}")
    }
  }

  /** Writes, per query, every plan it EXECUTES while it is built and
    * counted — including the eager localCheckpoint rounds and persisted
    * passes that the final plan truncates away — then that final plan:
    * the evidence for per-round plan changes inside iterative algorithms
    * (q38's star rounds, q72's rank rounds).
    */
  private def exec(spark: SparkSession, sfDir: String, round: String, tag: String,
                   names: Seq[String]): Unit = {
    val outDir = Paths.get("plans", round)
    Files.createDirectories(outDir)
    names.foreach { name =>
      val c = capture(spark, graft.SparkEntry.queries(name)(_, sfDir))
      val p = outDir.resolve(s"${name}_rounds_$tag.txt")
      Files.writeString(p, c.text)
      println(s"[probe] wrote $p (${c.text.length} chars, captured ${c.captured} of " +
        s"${c.ended} ended SQL executions${if (c.settled) "" else "; events still arriving after 30 s"}" +
        s"${c.error.fold("")(e => s"; FAILED: $e")})")
      spark.catalog.clearCache()
    }
  }

  /** What [[capture]] saw: the plan text, the executions the
    * QueryExecutionListener captured and the SQL executions the listener
    * bus ended (equal unless evidence was lost), whether the counts
    * settled, and the query's own failure, if any. */
  final case class Capture(text: String, captured: Int, ended: Int, settled: Boolean,
                           error: Option[String])

  /** Builds and counts one query, recording each execution's formatted
    * plan under a `==== execution N: action=… duration=… ms ====` header
    * (a failed one under `==== execution N FAILED: …`), then appends the
    * returned DataFrame's final plan. */
  def capture(spark: SparkSession, build: SparkSession => DataFrame): Capture = {
    val buf = new StringBuilder
    var n = 0
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        buf.synchronized {
          n += 1
          buf.append(f"==== execution $n: action=$funcName duration=${durationNs / 1e6}%.3f ms ====\n")
          buf.append(qe.explainString(FormattedMode))
          buf.append('\n')
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        buf.synchronized {
          n += 1
          buf.append(s"==== execution $n FAILED: action=$funcName ====\n")
          buf.append(Option(e.getMessage).getOrElse(e.getClass.getName))
          buf.append('\n')
        }
    }
    // every SQL execution the listener bus has ended — what the
    // QueryExecutionListener above is expected to have captured
    val ended = new AtomicInteger
    val endCounter = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionEnd => ended.incrementAndGet()
        case _ => ()
      }
    }
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(endCounter)
    def counts = buf.synchronized((n, ended.get))
    try {
      var df: Option[DataFrame] = None
      val error =
        try { df = Some(build(spark)); df.get.count(); None }
        catch { case NonFatal(e) => Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
      // listener events are posted asynchronously (no public drain API)
      val settled = drain(() => counts, minEnded = if (error.isEmpty) 1 else 0)
      val (captured, nEnded) = counts
      buf.synchronized {
        df.foreach { d =>
          buf.append("==== final plan (returned DataFrame) ====\n")
          buf.append(d.queryExecution.explainString(FormattedMode))
          buf.append('\n')
        }
        Capture(buf.toString, captured, nEnded, settled, error)
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sparkContext.removeSparkListener(endCounter)
    }
  }

  /** Poll the (captured, ended) counts until at least `minEnded`
    * executions have ended — a query's own count() is one — and neither
    * count has moved for `quietMs`; false when that has not happened
    * within `maxMs`. */
  private def drain(read: () => (Int, Int), minEnded: Int,
                    quietMs: Long = 1000, maxMs: Long = 30000): Boolean = {
    val start = System.currentTimeMillis()
    var last = read()
    var since = start
    while (last._2 < minEnded || System.currentTimeMillis() - since < quietMs) {
      if (System.currentTimeMillis() - start > maxMs) return false
      Thread.sleep(100)
      val now = read()
      if (now != last) { last = now; since = System.currentTimeMillis() }
    }
    true
  }

  /** `plan` without what changes from run to run: expression ids
    * (`doc_id#12L`), lambda variable counters (`lambda x_20`), exchange
    * `plan_id`s and JVM identity suffixes (lambda class names,
    * `@1b6dab22`). */
  private[bench] def normalised(plan: String): String =
    plan.replaceAll("#\\d+L?", "")
      .replaceAll("(lambda \\w+?)_\\d+\\b", "$1")
      .replaceAll(", \\[plan_id=\\d+\\]", "")
      .replaceAll("\\$\\$Lambda[^ ,)\\]]*", "\\$\\$Lambda")
      .replaceAll("(?<=[\\w$])@[0-9a-f]{1,8}\\b", "")

  /** Renders the plans of representative queries, each with the reason
    * its shape is the designed one, to BENCH/PLANS.md: predicate pushdown
    * reaching the parquet scan, column pruning, broadcast placement,
    * anti-join shape, whole-stage codegen spans. */
  private def plans(spark: SparkSession, sfDir: String): Unit = {
    val interesting = Seq(
      "q01_pricing_agg" -> "partial→final hash aggregation (map-side combine before the single shuffle)",
      "q02_filter_pushdown" -> "PushedFilters reach the parquet scan; ReadSchema prunes to projected columns",
      "q03_join_enrich" -> "dimension tables broadcast; one shuffle join on the fact key",
      "q04_antijoin_resume" -> "LEFT ANTI join — the resume/skip-if-computed shape",
      "q18_exact_dedup" -> "one shuffle on the content hash (exact dedup)",
      "q23_cosine_topk" -> "query side broadcast; norms once per vector before the join; cos6 scores each pair in a Project; WindowGroupLimit keeps 3 per query before the window's Exchange",
      "q25_ivf_assign" -> "centroid side broadcast (IVF assignment, O(n·k) not O(n²))",
      "q20_lsh_buckets" -> "one typed signature map feeding a single posexplode Generate (no recompute)",
      "q21_simhash" -> "row-local typed simhash map — zero Exchange before the final orderBy",
      "q31_embed_neardup" -> "cell-blocked self-join on ceil(sqrt(n)) coarse cells (no label hot-block)",
      "q32_ivf_search" -> "probe-3 IVF cells; assignment subplan persisted and reused (InMemoryTableScan)",
      "q34_template_scrub" -> "posexplode lines map-only; (host,line) shuffle aggregates; LeftAnti scrub-back",
      "q39_ann_recall" -> "typed-map assignment against the driver-side codebook (scalaTopK, no interpreted fold); persisted assignment shared by the IVF and exact branches",
      "q40_trained_recall" -> "Lloyd-trained spherical codebook; same probe-3 assignment plan as q39",
      "q41_twolevel_assign" -> "two-level quantizer: one persisted typed-map routing against the driver-side super-codebook feeds both the centroid grouping and the probe explode; the join on super-cell scores pairs with sqdist6; WindowGroupLimit top-3 over probed cells only",
      "q42_band_claims" -> "simhash bands via one posexplode; first-claim via window min; no embedding-width rows in the shuffle",
      "q35_meteor" -> "one typed alignment map; only the final orderBy exchange",
      "q36_pt2px" -> "pure projection; scan prunes to doc_id",
      "q37_frame_sample" -> "doc→frames flatMap explosion, map-only before the final sort",
      "q44_gopher_rules" -> "one typed map per row (tokenize once — HOFs are interpreted with no CSE); scan prunes to doc_id/text; no shuffle aggregate",
      "q46_top_bigrams" -> "typed bigram flatMap → partial+final hash aggregate → TakeOrderedAndProject top-k (no global sort)",
      "q48_salted_distinct" -> "value-hash salted distinct-count: (k,salt,v) → (k,salt) → (k) shuffle ladder, every stage's hot-key load bounded",
      "q52_dup_substrings" -> "ONE corpus scan/shingle map; (h,doc) partial+final aggregate; count window over h; no self-join",
      "q56_pii_scrub" -> "map-only redaction chain: three codegen'd regexp_replace over the scan, zero shuffles before the final sort",
      "q57_decontam" -> "benchmark %17 slice filtered at its scan, distinct hashes BROADCAST; corpus side resolves contamination map-side before the per-doc rollup",
      "qx_pipe_cat" -> "scan → mapPartitions external worker (no Exchange introduced); one subprocess per partition, not per row",
      "q59_split_sample" -> "stateless map over the scan — split + sample decisions from content-fingerprint arithmetic, zero shuffles before the final sort",
      "q60_mixture" -> "one shuffle on source for the rank window; quota filter local; fp-threshold variant is the skew path",
      "q61_sessions" -> "gaps-and-islands: both window passes AND the session rollup share ONE user_id Exchange",
      "q64_seq_pack" -> "packing window is per-bucket (64 independent partitions — no global order needed to pack); only the final output orderBy is a global sort; typed map computes tokens+fp once",
      "q66_bm25" -> "one tokenize map; 1-row stats aggregate broadcast-cross-joined back; TakeOrderedAndProject top-20 — no postings shuffle",
      "q67_para_dedup" -> "paragraph keep-first via min-position window on the content hash; reassembly is one doc_id shuffle — never all-pairs",
      "qx_outlinks" -> "corpus scan → flatMap DOM walk → partial+final HashAggregate on href (all-numeric buffers, no SortAggregate)",
      "q68_host_stats" -> "blocklist relation BROADCAST into a LeftAnti — the corpus never shuffles for the filter; per-host rollup partial-aggregates",
      "q69_common_tokens" -> "global top-8 token head (TakeOrderedAndProject) broadcast back into the scoring re-scan; corpus never shuffles on token",
      "q70_lm_score" -> "map-only bigram transform (no position self-join); unigram/bigram count tables partial-aggregate; scoring joins on pre-aggregated keys",
      "q71_url_canon" -> "canonicalization is a join-free codegen projection; ONE hash shuffle (keep-first window on canon) before the output sort",
      "q72_link_rank" -> "rank rounds are localCheckpoint-truncated (plan shows the final round over checkpointed RDDs, not an unrolled 4-deep lineage); edges⋈ranks shuffle on the same key; hub skew absorbed by partial aggregation on dst",
      "qx_corpus_assemble" -> "the per-split rollup over the published corpus table (partition-pruned scan, partial+final aggregate); the assembly's own dedup + layout shuffles live in CorpusJob (one content-hash window + one (split,bucket) write shuffle, pinned by CorpusJobSpec)",
      "qx_crawl_ingest" -> "the whole wire-bytes→markdown ingest (WARC parse, HTTP strip, charset sniff, extract) is ONE stateless per-row map over the scan — zero Exchange before the output sort, the 1000-executor crawl shape"
    )
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.bench.Probe plans)\n\n")
    sb.append(s"Input: `$sfDir`. These are the plans the engine was DESIGNED for —\n")
    sb.append("PlanAuditSpec asserts the load-bearing properties in CI.\n")
    interesting.foreach { case (name, why) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n$why\n\n```\n")
      val plan = normalised(df.queryExecution.explainString(SimpleMode))
      // the load-bearing shape is in the first levels; an unrolled
      // iterative lineage (q40's Lloyd chain) would be ~600 KB of noise
      val lines = plan.linesIterator.toVector
      if (lines.length <= 150) sb.append(plan)
      else sb.append((lines.take(150) :+
        s"... truncated (${lines.length - 150} more lines)").mkString("\n"))
      sb.append("\n```\n")
    }
    Files.createDirectories(Paths.get("BENCH"))
    Files.writeString(Paths.get("BENCH/PLANS.md"), sb.toString)
    println(s"wrote BENCH/PLANS.md (${sb.length} chars)")
  }
}
