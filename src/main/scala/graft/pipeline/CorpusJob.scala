package graft.pipeline

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.TableIO

/** End-to-end corpus assembly — the composition a user of the
  * reference actually runs to turn raw pages into a training corpus,
  * expressed as the engine's existing stages chained on their table
  * contracts:
  *
  *   pages ── ExtractJob ──► extract table (resume-safe, append)
  *         ── ScrubJob ────► scrubbed text view (corpus-level replace)
  *         ── assemble ────► exact dedup → quality gate → content-keyed
  *                           split → final table partitioned by
  *                           (split, bucket), atomic replace
  *
  * Assembly semantics:
  *  - exact dedup keeps the MIN-url row per markdown md5 — a
  *    deterministic winner, so reruns and cluster re-partitionings
  *    assemble byte-identical corpora (no first-arrival races);
  *  - the quality gate is the minimum-tokens rule (≥ 10 whitespace
  *    tokens, the q44 Gopher baseline) — stricter policies compose by
  *    filtering this table downstream;
  *  - splits are content-fingerprint-keyed exactly like q59 (80/10/10
  *    via fp mod 100): reproducible, and leakage-proof even ACROSS the
  *    dedup boundary — a near-duplicate that survives exact dedup still
  *    hashes independently, but byte-identical text can never straddle
  *    train/test because it no longer exists twice.
  *
  * Scale shape: dedup is one shuffle on the content hash (the q18
  * shape, window row_number over it — partial aggregation does not
  * apply to row_number but the key space is max-cardinality so no hot
  * keys); the quality gate and split assignment are map-side; the
  * final write shuffles once into (split, bucket) layout. Nothing
  * collects to the driver but summary counts.
  * The split counts are observed metrics of that write, not a re-read.
  */
object CorpusJob {

  final case class Summary(
      extract: ExtractJob.Summary,
      scrub: ScrubJob.Summary,
      docs: Long,          // rows in the final corpus
      dupDropped: Long,    // exact duplicates removed
      qualityDropped: Long,// quality-gate removals
      train: Long, valN: Long, test: Long,
      wallSec: Double)

  def run(spark: SparkSession, pagesSpec: String, workDir: String,
          nBuckets: Int = 8, minTokens: Int = 10): Summary = {
    import spark.implicits._
    val t0 = System.nanoTime()

    val ex = ExtractJob.run(spark, pagesSpec, s"$workDir/extract", nBuckets)
    val sc = ScrubJob.run(spark, s"$workDir/extract", s"$workDir/scrub",
      nBuckets = nBuckets)

    val outDir = s"$workDir/corpus"
    TableIO.clearStaging(outDir)
    val batchId = TableIO.nextBatchId(outDir)

    val scrubbed = TableIO.readData(spark, s"$workDir/scrub")
      .getOrElse(throw new IllegalStateException(s"no scrub output under $workDir"))
      .select(col("url"), col("host"), col("markdown"))

    // token count, fingerprint and content hash in ONE typed pass (the
    // CollapseProject/no-CSE rule: never leave an interpreted HOF to be
    // re-inlined per consumer)
    val enriched = scrubbed.as[(String, String, String)]
      .mapPartitions(_.map { case (url, host, md) =>
        val toks = graft.queries.TextOps.tokensScala(md)
        (url, host, md, toks.length, graft.queries.TextOps.positionalFpOfTokens(toks))
      })
      .toDF("url", "host", "markdown", "n_tokens", "fp")
      .withColumn("k", md5(to_binary(col("markdown"), lit("utf-8"))))

    // nIn is exactly the scrub stage's published count — never rescan
    // (the ScrubJob convention); persist the deduped frame so its count
    // and the final write share one tokenize pass and one dedup shuffle
    val nIn = sc.docs
    val deduped = enriched
      .withColumn("rn", row_number().over(
        Window.partitionBy("k").orderBy("url")))
      .filter(col("rn") === 1).drop("rn")
      .persist()
    val nDeduped = deduped.count()
    val kept = deduped.filter(col("n_tokens") >= minTokens)

    val bucket100 = pmod(col("fp"), lit(100L))
    val finalDf = kept
      .withColumn("split",
        when(bucket100 < 80, "train").when(bucket100 < 90, "val").otherwise("test"))
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(nBuckets)))
      .drop("k")

    val splits = Seq("train", "val", "test")
    val bySplit = Observation("corpus-splits")
    val inSplit = splits.map(s => count(when(col("split") === s, 1)).as(s))
    finalDf.observe(bySplit, inSplit.head, inSplit.tail: _*)
      .write.mode("overwrite").partitionBy("split", "bucket")
      .parquet(TableIO.stagingDir(outDir, batchId))
    val counts = bySplit.get
    val Seq(train, valN, test) = splits.map(counts(_).asInstanceOf[Long])
    val nOut = train + valN + test
    deduped.unpersist()
    TableIO.replaceData(outDir, batchId)

    Summary(ex, sc, nOut, nIn - nDeduped, nDeduped - nOut, train, valN, test,
      (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val opts = JobSession.opts(args)
    val pages = opts.getOrElse("--pages", "synthetic:1000")
    val out = opts.getOrElse("--out",
      sys.error("usage: CorpusJob --pages <spec> --out <dir> [--cores N]"))
    val spark = JobSession("graft-corpus", opts)
    val s = run(spark, pages, out)
    println(f"[corpus] extract=${s.extract.extracted} skipped=${s.extract.skippedDone} " +
      f"scrubTemplates=${s.scrub.templateLines} docs=${s.docs} " +
      f"dupDropped=${s.dupDropped} qualityDropped=${s.qualityDropped} " +
      f"train=${s.train} val=${s.valN} test=${s.test} wall=${s.wallSec}%.1fs")
    spark.stop()
  }
}
