package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.PageRow
import graft.extract.Extractor
import graft.gen.SyntheticCorpus
import graft.io.TableIO
import scala.jdk.CollectionConverters._

/** The production extraction job (north rule): pages table → anti-join
  * resume → mapPartitions(extract + lineage tally) → atomic batch commit
  * + per-partition lineage metrics, all in ONE Spark pass over the pages;
  * a fresh run is ONE Spark job, a single scan → extract → write stage
  * with no Exchange. The lineage rows the write's tasks tallied are
  * written as one Parquet file on the driver, with no job of their own.
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
  *    is the write task's partition: on a fresh run, the scan split;
  *  - the write builds no Parquet dictionary for `url` and `markdown`
  *    (`plainOnly`), whose dictionaries fall back to PLAIN.
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
    val pages: DataFrame = synthetic match {
      case Some(n) => SyntheticCorpus.generate(spark, n).toDF()
      case None => readPages(spark, pagesSpec)
    }

    // R1 resume: anti-join against committed output (url column only —
    // Parquet column pruning keeps this scan narrow)
    val done = TableIO.readData(spark, outDir).map(_.select("url"))
    val todo = done match {
      case Some(d) => pages.join(d, Seq("url"), "left_anti")
      case None => pages
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
      .options(plainOnly.map(c => s"parquet.enable.dictionary#$c" -> "false").toMap)
      .parquet(TableIO.stagingDir(outDir, batchId))
    val mRows = lineage.value.values.toSeq.sortBy(_.partition_id)
    val nExtracted = mRows.map(_.urls_seen).sum

    // input size: the synthetic spec knows its count; a fresh table
    // extracted every page (one row out per row in); only a resume needs
    // the parquet footer count
    val inputN = synthetic.getOrElse(if (done.isEmpty) nExtracted else pages.count())
    if (nExtracted == 0) { // fully resumed: nothing to publish
      TableIO.clearStaging(outDir)
      Summary("-", inputN, 0, 0, inputN, (System.nanoTime() - t0) / 1e9)
    } else {
      TableIO.commitBatch(outDir, batchId)
      TableIO.appendMetrics(spark, mRows, outDir, batchId)
      Summary(batchId, inputN, nExtracted, mRows.map(_.urls_failed).sum,
        inputN - nExtracted, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Columns written without a dictionary, because Parquet's writer
    * would hash every value into one only to fall back to PLAIN and
    * throw it away. `url` is the table's key, unique per row. `markdown`
    * is a whole document: once a file's distinct documents pass the
    * dictionary's 1 MiB cap the writer falls back regardless, so only a
    * small file of exact-duplicate documents loses (+7.9% data bytes on
    * 3,000 synthetic pages each written three times; 0% on the benchmark
    * corpus, where the footers read PLAIN either way). Every other column
    * keeps its dictionary: span bodies and reference text repeat across
    * pages (inline TeX like `x`, the same cited paper), and with their
    * dictionaries off a corpus of such pages grew 16.8%.
    */
  private val plainOnly = Seq("url", "markdown")

  /** The pages columns extraction reads, typed as PageRow fixes them. */
  private val pageColumns: StructType =
    StructType(Encoders.product[PageRow].schema.filter(f => f.name == "url" || f.name == "html"))

  /** The pages table's (url, html), read with their schema given: left to
    * infer it, Spark runs a Spark job on every run just to read one
    * parquet footer. One data file's footer is read here on the driver
    * instead, so a table without either column still fails before any
    * work starts (given a schema, Spark would read a missing column as
    * nulls).
    */
  private def readPages(spark: SparkSession, pagesSpec: String): DataFrame = {
    val df = spark.read.schema(pageColumns).parquet(pagesSpec)
    val dataFile = df.inputFiles.headOption.getOrElse(
      throw new IllegalArgumentException(s"pages table $pagesSpec has no data file"))
    val conf = spark.sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(new java.net.URI(dataFile)), conf))
    val present = // column names resolve case-insensitively, as Spark's do
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName.toLowerCase).toSet
      finally reader.close()
    val missing = pageColumns.fieldNames.filterNot(present)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"pages table $pagesSpec lacks column(s) ${missing.mkString(", ")}")
    df
  }

  def main(args: Array[String]): Unit = {
    val opts = options(args)
    val pagesSpec = opts.getOrElse("--pages", "synthetic:10000")
    val outDir = opts.getOrElse("--out", "/tmp/graft_out")
    val nBuckets = opts.getOrElse("--buckets", "8").toInt
    val spark = session("graft-extract", opts)

    val s = run(spark, pagesSpec, outDir, nBuckets)
    println(
      s"""{"batch":"${s.batchId}","input":${s.input},"extracted":${s.extracted},""" +
      s""""failed":${s.failed},"skipped_done":${s.skippedDone},"wall_sec":${s.wallSec}}""")
    spark.stop()
  }
}
