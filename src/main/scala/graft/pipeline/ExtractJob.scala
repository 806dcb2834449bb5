package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.PageRow
import graft.extract.Extractor
import graft.gen.SyntheticCorpus
import graft.io.TableIO

/** The production extraction job (north rule): pages table → anti-join
  * resume → (url, html) spread-repartition → mapPartitions(extract +
  * lineage tally) → atomic batch commit + per-partition lineage metrics,
  * all in ONE Spark pass over the pages.
  *
  * Scale design (SURVEY §4.3):
  *  - resume = LEFT ANTI join against the output table's pruned url
  *    column — the data files ARE the checkpoint, no side state;
  *  - only (url, html) cross the Exchange: they are all extraction reads;
  *  - repartition on xxhash64(url) to 2× parallelism spreads the
  *    heavy-tailed html sizes (row = unit of work, so url-hash salting
  *    is the right granularity; AQE skew-join handles the anti-join);
  *  - output bucketed by pmod(xxhash64(url), nBuckets) — the Parquet
  *    emulation of Iceberg bucket(url) for bucket-pruned downstream
  *    joins;
  *  - per-row fault isolation: a bad page becomes an ok=false row;
  *  - lineage is counted in-task: the write's own tasks tally their
  *    partition into a [[LineageAccumulator]], whose replace-by-key merge
  *    keeps one row per partition under task retries and speculation
  *    (Spark merges a result task's update from its first successful
  *    attempt only, and extraction is deterministic, so every attempt
  *    tallies the same row) — no re-read of the staged batch.
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
    val parallelism = spark.sparkContext.defaultParallelism
    val extracted = todo
      .select("url", "html").as[(String, Array[Byte])]
      .repartition(parallelism * 2, col("url")) // spread heavy-tailed rows
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
    val opts = args.sliding(2, 2).collect { case Array(k, v) => (k, v) }.toMap
    val pagesSpec = opts.getOrElse("--pages", "synthetic:10000")
    val outDir = opts.getOrElse("--out", "/tmp/graft_out")
    val nBuckets = opts.getOrElse("--buckets", "8").toInt
    val cores = opts.getOrElse("--cores", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-extract")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // pages rows are KBs–MBs each; smaller scan splits keep per-task
      // memory bounded and the heavy tail spread (SURVEY §4.3 spill note)
      .config("spark.sql.files.maxPartitionBytes", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val s = run(spark, pagesSpec, outDir, nBuckets)
    println(
      s"""{"batch":"${s.batchId}","input":${s.input},"extracted":${s.extracted},""" +
      s""""failed":${s.failed},"skipped_done":${s.skippedDone},"wall_sec":${s.wallSec}}""")
    spark.stop()
  }
}
