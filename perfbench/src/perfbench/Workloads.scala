package perfbench

import graft.core.{ExtractedDoc, PageRow}
import graft.extract.Extractor
import graft.gen.SyntheticCorpus
import graft.io.TableIO
import graft.pipeline.{CorpusJob, ExtractJob}
import Harness.{clocked, median, quantile, step, timed}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Workloads {

  /** Order-insensitive output digest: the sum of per-row xxhash64. */
  def digest(df: DataFrame, cols: String*): BigDecimal =
    BigDecimal(df.agg(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .head().getDecimal(0))

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** `extract`: ExtractJob.run over pages materialized to parquet, into a
    * fresh output dir per run; the output digest must equal that of a
    * single-thread Extractor.extract pass over the same pages. */
  final class Extract(spark: SparkSession, work: String, seed: Long, pages: Int,
                      tamper: Boolean) extends Workload {
    import spark.implicits._
    private val pagesDir = s"$work/pages"
    private var runNo = 0
    private def outDir = s"$work/out-$runNo"
    private var expected: BigDecimal = 0
    private var local: Seq[(String, Array[Byte])] = Nil

    val items: Long = pages

    /** The pages, the single-thread reference pass, the cold first run
      * and five warm runs: a run keeps getting faster for about its first
      * seven (JIT compilation). Each makes the output check too, so that
      * the check's compilation does not fall on the first measured runs. */
    def setup(): Unit = {
      val t0 = System.nanoTime()
      SyntheticCorpus.generate(spark, pages, seed).write.mode("overwrite").parquet(pagesDir)
      step("pages", t0)
      reference()
      step("reference pass", t0)
      (1 to 6).foreach { i => beforeRun(); run(); step(s"warm-up run $i", t0) }
    }

    /** The single-thread pass: the digest every run is checked against. */
    private def reference(): Unit = {
      local = spark.read.parquet(pagesDir).select("url", "html").as[(String, Array[Byte])]
        .collect().toSeq
      val docs = local.map { case (u, h) => Extractor.extract(u, h) }
      expected = digest(spark.createDataset[ExtractedDoc](docs).toDF(), "url", "markdown", "spans")
      if (tamper) expected += 1
    }

    override def beforeRun(): Unit = {
      deleteTree(outDir)
      runNo += 1
    }

    def run(): RunResult = {
      val (s, t) = clocked(ExtractJob.run(spark, pagesDir, outDir))
      val out = TableIO.readData(spark, outDir).getOrElse(sys.error(s"no output table in $outDir"))
      val got = digest(out, "url", "markdown", "spans")
      val bad = Seq(
        Option.when(got != expected)(s"extract digest $got != single-thread $expected"),
        Option.when(s.extracted != pages)(s"extract wrote ${s.extracted} rows for $pages pages"))
      RunResult(t, pages, s.failed, bad.flatten)
    }

    /** The stage pass, the raw rate and the ExtractJob prefix steps. */
    override def extras(untracedRunS: Double): (Map[String, Double], Seq[String]) = {
      val sp = StagePass.run(local)
      // the raw rate, timed warm, after the runs
      val raw = pages / timed(local.foreach { case (u, h) => Extractor.extract(u, h) })._2
      val p = spark.sparkContext.defaultParallelism
      val in = spark.read.parquet(pagesDir).as[PageRow]
      def prefix(f: => Unit): Double = median((1 to 3).map(_ => timed(f)._2))
      val scan = prefix(in.rdd.foreach(_ => ()))
      val exchange = prefix(in.repartition(p * 2, col("url")).rdd.foreach(_ => ()))
      val mapped = prefix(in.repartition(p * 2, col("url")).mapPartitions(Extractor.run(_))
        .queryExecution.toRdd.foreach(_ => ()))
      val layers = sp.layers ++ Map(
        "extract.traced_pages" -> (local.length - sp.mismatched.length).toDouble,
        "extract.raw_docs_per_s" -> raw,
        "spark.pipeline_efficiency" -> (pages / untracedRunS) / (Harness.cores * raw),
        "pipeline.scan_serde_s" -> scan,
        "pipeline.exchange_s" -> (exchange - scan),
        "pipeline.extract_map_s" -> (mapped - exchange),
        "pipeline.write_commit_s" -> (untracedRunS - mapped),
        "pipeline.prefix_share" -> mapped / untracedRunS)
      (layers, sp.mismatched.take(5).map(u => s"stage pass differs from Extractor.extract on $u"))
    }
  }

  /** `corpus-resume`: CorpusJob.run on a work dir whose extract table was
    * published during set-up, so ExtractJob's resume skips every page and
    * the scrub and assembly stages recompute their tables. */
  final class CorpusResume(spark: SparkSession, work: String, seed: Long, pages: Int,
                           hosts: Int, tamper: Boolean) extends Workload {
    import spark.implicits._
    private val pagesDir = s"$work/pages"
    private val jobDir = s"$work/job"
    private var expected: (BigDecimal, Long, Long, Long) = (0, 0, 0, 0)

    val items: Long = pages

    /** Host of page `i`: seeded Zipf(1.1) page counts over `hosts` hosts. */
    private val cdf: Array[Double] = {
      val w = (1 to hosts).map(k => 1.0 / math.pow(k, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }

    /** The pages, the published extract table and the cold first run,
      * whose corpus every run must reproduce. */
    def setup(): Unit = {
      val (cdf, hosts, seed) = (this.cdf, this.hosts, this.seed)
      SyntheticCorpus.generate(spark, pages, seed).map { p =>
        val id = p.url.substring(p.url.lastIndexOf('/') + 1).toLong
        val u = new SyntheticCorpus.Rng(seed ^ (id * 0x2545f4914f6cdd1dL)).nextDouble()
        val h = math.min(java.util.Arrays.binarySearch(cdf, u) match {
          case k if k >= 0 => k
          case k => -k - 1
        }, hosts - 1)
        p.copy(url = p.url.replace("https://example.org/", f"https://site$h%04d.example/"))
      }.write.mode("overwrite").parquet(pagesDir)
      deleteTree(jobDir)
      ExtractJob.run(spark, pagesDir, s"$jobDir/extract")
      expected = corpusDigest(CorpusJob.run(spark, pagesDir, jobDir))
      if (tamper) expected = expected.copy(_1 = expected._1 + 1)
    }

    private def corpusDigest(s: CorpusJob.Summary) = {
      val corpus = TableIO.readData(spark, s"$jobDir/corpus")
        .getOrElse(sys.error(s"no corpus table in $jobDir"))
      (digest(corpus, "url", "markdown", "split"), s.train, s.valN, s.test)
    }

    def run(): RunResult = {
      val (r, t) = clocked(scala.util.Try(CorpusJob.run(spark, pagesDir, jobDir)))
      r match {
        case scala.util.Failure(e) =>
          RunResult(t, 1, 1, Nil, note = s"threw ${e.getClass.getSimpleName}")
        case scala.util.Success(s) =>
          val got = corpusDigest(s)
          val bad = Seq(
            Option.when(got != expected)(s"corpus (digest, train, val, test) $got != warm run's $expected"),
            Option.when(s.extract.extracted != 0 || s.extract.skippedDone != pages)(
              s"resume extracted ${s.extract.extracted} and skipped ${s.extract.skippedDone} of $pages"))
          RunResult(t, 1, 0, bad.flatten, parts = Map(
            "pipeline.resume_s" -> s.extract.wallSec,
            "corpus.scrub_s" -> s.scrub.wallSec,
            "pipeline.assemble_s" -> (s.wallSec - s.extract.wallSec - s.scrub.wallSec),
            "corpus.template_lines" -> s.scrub.templateLines.toDouble,
            "corpus.docs" -> s.docs.toDouble,
            "corpus.dup_dropped" -> s.dupDropped.toDouble,
            "corpus.quality_dropped" -> s.qualityDropped.toDouble),
            note = f"scrub_s=${s.scrub.wallSec}%.3f")
      }
    }
  }

  /** `queries`: a fixed list of SparkEntry queries over seeded tables, each
    * `.count()`ed with the cache cleared after it; the seed fixes the order. */
  final class Queries(spark: SparkSession, work: String, seed: Long, sizes: QueryTables.Sizes,
                      tamper: Boolean) extends Workload {
    private val tablesDir = s"$work/tables"
    private val fns = graft.SparkEntry.queries
    private val order = new scala.util.Random(seed).shuffle(QueryList.names)
    private var expected = Map.empty[String, Long]

    val items: Long = order.length
    /** A pass is long; one is a run. The passes after the cold one keep
      * getting faster for about five (JIT compilation). A measuring loop
      * makes at least three, which at 15 s is also the most it makes: when
      * the time decided between two passes and three, a fast invocation
      * got a third, still faster pass, and the spread doubled. */
    override val minRuns = 3

    /** A pass's time as the sum of each query's median over the passes. */
    override def runSeconds(runs: Seq[RunResult]): Double =
      runs.flatMap(_.samples).groupBy(_._1).values.map(s => median(s.map(_._2))).sum

    /** The tables, the cold first pass, which records every query's row
      * count, and one warm pass. */
    def setup(): Unit = {
      val t0 = System.nanoTime()
      QueryTables.write(spark, tablesDir, seed, sizes)
      QueryList.skipOracleCaches(tablesDir)
      step("tables", t0)
      // a query that throws here has no expected count; a pass counts it
      // as failed, or as a mismatch if it then returns rows
      expected = order.flatMap { q =>
        val n = scala.util.Try(fns(q)(spark, tablesDir).count()).toOption
        spark.catalog.clearCache()
        n.map(q -> _)
      }.toMap
      if (tamper) expected = expected.map { case (q, n) => q -> (n + 1) }
      step("cold pass", t0)
      run()
      step("warm-up pass", t0)
    }

    def run(): RunResult = {
      val res = order.map { q =>
        val (n, t) = clocked(scala.util.Try(fns(q)(spark, tablesDir).count()))
        spark.catalog.clearCache()
        (q, n, t)
      }
      val bad = res.collect {
        case (q, scala.util.Success(n), _) if !expected.get(q).contains(n) =>
          s"$q: $n rows, warm pass ${expected.get(q)}"
      }
      val samples = res.map { case (q, _, t) => q -> t.wallSec }
      val parts = QueryList.packs.map { case (pack, qs) =>
        s"queries.${pack}_s" -> samples.collect { case (q, s) if qs(q) => s }.sum
      } ++ QueryList.targets.map { case (short, q) =>
        s"queries.${short}_s" -> samples.collectFirst { case (`q`, s) => s }.getOrElse(0.0)
      }
      RunResult(res.map(_._3).reduce(_ + _), res.length, res.count(_._2.isFailure), bad, samples,
        parts.toMap, note = "slowest: " +
          samples.sortBy(-_._2).take(3).map { case (q, s) => f"$q $s%.3f" }.mkString(", "))
    }
  }

  /** Latency percentiles over per-operation samples, as reported. */
  def latency(samples: Seq[Double]): Map[String, Double] =
    if (samples.isEmpty) Map.empty
    else Map("queries.p50_s" -> quantile(samples, 0.50), "queries.p88_s" -> quantile(samples, 0.88),
      "queries.latency_samples" -> samples.length.toDouble)
}
