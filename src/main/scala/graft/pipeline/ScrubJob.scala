package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.corpus.TemplateScrub
import graft.io.TableIO

/** Corpus-level template scrub as a production stage: reads an
  * ExtractJob output table, removes site-wide template lines (a
  * normalized line on ≥`minPageRatio` of a host's pages — the A1
  * corpus semantics, split_md_to_pages.py:176-236 re-rooted at hosts),
  * and publishes a scrubbed table with the same bucketing and atomic
  * staging-rename commit.
  *
  * Scale shape: one wide shuffle keyed on (host, line) with map-side
  * partial aggregation; the per-host template set is tiny and AQE
  * broadcasts it back for the LEFT ANTI scrub; reassembly groups by
  * (host, url) — the same key space as the extract output, no hot keys
  * beyond a single host's pages. At 100 TB each stage keys on
  * high-cardinality composites; nothing collects to the driver except
  * the summary counts.
  *
  * Semantics, deliberately different from ExtractJob's append+resume:
  *  - template frequencies are CORPUS-level, so new input pages change
  *    what counts as template on already-scrubbed pages — a rerun is a
  *    full recompute that REPLACES the previous output (no anti-join
  *    resume, no duplicate batches);
  *  - the output is a text-level corpus view (url, host, n_kept,
  *    markdown): span offsets from the extract table are invalidated by
  *    line removal and are intentionally NOT carried — span consumers
  *    read the extract table, text consumers read this one.
  *
  * Usage: ScrubJob --in <extractOut> --out <dir> [--ratio 0.4]
  *        [--buckets B] [--cores N]
  */
object ScrubJob {

  final case class Summary(batchId: String, docs: Long, hosts: Long,
                           templateLines: Long, wallSec: Double)

  private val hostRe = "(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)"

  def run(spark: SparkSession, inDir: String, outDir: String,
          minPageRatio: Double = 0.4, nBuckets: Int = 8): Summary = {
    val t0 = System.nanoTime()
    TableIO.clearStaging(outDir)
    val batchId = TableIO.nextBatchId(outDir)

    // host normalization: case-folded authority; a url with no parsable
    // host becomes its OWN pseudo-host — unrelated malformed urls must
    // never pool into one "" host whose shared lines look like templates
    val hostExpr = lower(regexp_extract(col("url"), hostRe, 1))
    val docs = TableIO.readData(spark, inDir)
      .getOrElse(throw new IllegalArgumentException(s"no extract output at $inDir"))
      .filter(col("ok"))
      .select(col("url"), col("markdown"))
      .withColumn("host", when(hostExpr === "", col("url")).otherwise(hostExpr))

    // the template set is computed once and reused by the report —
    // small (per-host boilerplate), safe to cache
    val boiler = TemplateScrub.boilerplateLines(docs, "host", "url", "markdown",
      minPageRatio).cache()
    val nTemplates = boiler.count()

    val scrubbed = TemplateScrub.scrub(docs, "host", "url", "markdown", minPageRatio)
      .select(col("id").as("url"), col("h").as("host"),
        col("n_kept"), col("cleaned").as("markdown"))
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(nBuckets)))

    val staging = TableIO.stagingDir(outDir, batchId)
    scrubbed.write.mode("overwrite").partitionBy("bucket").parquet(staging)
    // summary stats come from the (already written) staged output — no
    // second scan of the full input
    val staged = spark.read.schema(scrubbed.schema).parquet(staging)
    val stats = staged.agg(count(lit(1)), countDistinct(col("host"))).head()
    val (nDocs, nHosts) = (stats.getLong(0), stats.getLong(1))
    boiler.unpersist()
    // corpus-level recompute: REPLACE any previous output, never append
    TableIO.replaceData(outDir, batchId)
    Summary(batchId, nDocs, nHosts, nTemplates, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val opts = options(args)
    val inDir = opts.getOrElse("--in", "/tmp/graft_out")
    val outDir = opts.getOrElse("--out", "/tmp/graft_scrubbed")
    val ratio = opts.getOrElse("--ratio", "0.4").toDouble
    val nBuckets = opts.getOrElse("--buckets", "8").toInt
    val spark = session("graft-scrub", opts)

    val s = run(spark, inDir, outDir, ratio, nBuckets)
    println(
      s"""{"batch":"${s.batchId}","docs":${s.docs},"hosts":${s.hosts},""" +
      s""""template_lines":${s.templateLines},"wall_sec":${s.wallSec}}""")
    spark.stop()
  }
}
