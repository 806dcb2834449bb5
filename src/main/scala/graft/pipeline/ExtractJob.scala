package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.PageRow
import graft.extract.Extractor
import graft.gen.SyntheticCorpus
import graft.io.TableIO

/** The production extraction job (north rule): pages table → anti-join
  * resume → mapPartitions(extract + lineage tally) → atomic batch commit
  * + per-partition lineage metrics, all in ONE Spark pass over the pages;
  * a fresh run is a single scan → extract → write stage, no Exchange.
  *
  * Scale design (SURVEY §4.3):
  *  - resume = LEFT ANTI join against the output table's pruned url
  *    column — the data files ARE the checkpoint, no side state;
  *  - the unit of work is the scan split, extracted in the task that
  *    reads it (reference analog: per-paper work scheduled straight from
  *    the file listing, split_htmls_to_pages.py:140-176). A split is
  *    bounded in bytes by `spark.sql.files.maxPartitionBytes` and each
  *    row by the 16 MiB html cap (`Extractor.extract`), so the heavy
  *    tail is bounded per task without moving the html. A resume run
  *    follows the partitioning the anti-join produces (AQE skew-join
  *    splits its hot partitions). No repartition: at 100 TB one would
  *    shuffle the whole html corpus just to re-cut splits the scan
  *    already sized by bytes;
  *  - output bucketed by pmod(xxhash64(url), nBuckets) — the Parquet
  *    emulation of Iceberg bucket(url) for bucket-pruned downstream
  *    joins;
  *  - per-row fault isolation: a bad page becomes an ok=false row;
  *  - lineage is counted in-task: the write's own tasks tally their
  *    partition into a [[LineageAccumulator]], whose replace-by-key merge
  *    keeps one row per partition under task retries and speculation
  *    (Spark merges a result task's update from its first successful
  *    attempt only, and extraction is deterministic, so every attempt
  *    tallies the same row) — no re-read of the staged batch. `part_id`
  *    is the write task's partition: on a fresh run, the scan split.
  *
  * Usage: ExtractJob --pages <dir>|synthetic:<n> --out <dir>
  *        [--buckets B] [--cores N]
  */
object ExtractJob {

  final case class Summary(batchId: String, input: Long, extracted: Long,
                           failed: Long, skippedDone: Long, wallSec: Double)

  def run(spark: SparkSession, pagesSpec: String, outDir: String,
          nBuckets: Int = 8): Summary = {
    import spark.implicits._
    val t0 = System.nanoTime()

    TableIO.clearStaging(outDir)
    val batchId = TableIO.nextBatchId(outDir)

    val synthetic = Option.when(pagesSpec.startsWith("synthetic:"))(
      pagesSpec.stripPrefix("synthetic:").toLong)
    val pages: Dataset[PageRow] = synthetic match {
      case Some(n) => SyntheticCorpus.generate(spark, n)
      case None => spark.read.parquet(pagesSpec).as[PageRow]
    }

    // R1 resume: anti-join against committed output (url column only —
    // Parquet column pruning keeps this scan narrow)
    val done = TableIO.readData(spark, outDir).map(_.select("url"))
    val todo = done match {
      case Some(d) => pages.join(d, Seq("url"), "left_anti")
      case None => pages.toDF()
    }

    val lineage = new LineageAccumulator
    spark.sparkContext.register(lineage)
    val extracted = todo
      .select("url", "html").as[(String, Array[Byte])]
      .mapPartitions(rows => lineage.tally(rows.map { case (u, h) => Extractor.extract(u, h) }))
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(nBuckets)))
      .withColumn("part_id", spark_partition_id())

    // stage → atomic publish; the write's tasks fill `lineage`.
    // Scale bound: the accumulator carries ONE 7-field row per non-empty
    // partition, so lineage is O(partitions-per-batch), not O(rows) —
    // callers must keep the per-batch partition count bounded (split a
    // 10^6-partition corpus into batches), which resume-by-anti-join
    // makes natural
    extracted.write.mode("overwrite").partitionBy("bucket")
      .parquet(TableIO.stagingDir(outDir, batchId))
    val mRows = lineage.value.values.toSeq.sortBy(_.partition_id)
    val nExtracted = mRows.map(_.urls_seen).sum

    // input size: the synthetic spec knows its count; a fresh table
    // extracted every page (one row out per row in); only a resume needs
    // the parquet footer count
    val inputN = synthetic.getOrElse(
      if (done.isEmpty) nExtracted else spark.read.parquet(pagesSpec).count())
    if (nExtracted == 0) { // fully resumed: nothing to publish
      TableIO.clearStaging(outDir)
      Summary("-", inputN, 0, 0, inputN, (System.nanoTime() - t0) / 1e9)
    } else {
      TableIO.commitBatch(outDir, batchId)
      TableIO.appendMetrics(mRows.toDF(), outDir, batchId)
      Summary(batchId, inputN, nExtracted, mRows.map(_.urls_failed).sum,
        inputN - nExtracted, (System.nanoTime() - t0) / 1e9)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = JobSession.opts(args)
    val pagesSpec = opts.getOrElse("--pages", "synthetic:10000")
    val outDir = opts.getOrElse("--out", "/tmp/graft_out")
    val nBuckets = opts.getOrElse("--buckets", "8").toInt
    val spark = JobSession("graft-extract", opts)

    val s = run(spark, pagesSpec, outDir, nBuckets)
    println(
      s"""{"batch":"${s.batchId}","input":${s.input},"extracted":${s.extracted},""" +
      s""""failed":${s.failed},"skipped_done":${s.skippedDone},"wall_sec":${s.wallSec}}""")
    spark.stop()
  }
}
