package graft.pipeline

import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkTestSession
import graft.core.{ExtractedDoc, PartitionMetrics}
import graft.extract.Extractor
import graft.gen.SyntheticCorpus
import graft.io.TableIO
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

class ExtractJobSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  private def tmp(): String = Files.createTempDirectory("graft_job").toString

  test("job extracts all pages and commits an atomic batch") {
    val out = tmp()
    val s = ExtractJob.run(spark, "synthetic:200", out)
    assert(s.input == 200 && s.extracted == 200 && s.skippedDone == 0)
    val data = TableIO.readData(spark, out).get
    assert(data.count() == 200)
    assert(data.select("url").distinct().count() == 200)
    // bucket layout present
    assert(data.columns.contains("bucket"))
    // metrics table reconciles with data
    val m = TableIO.readMetrics(spark, out).get
    assert(m.agg(sum("urls_seen")).head.getLong(0) == 200)
    assert(!Files.exists(Paths.get(s"$out/.staging")) ||
      Files.list(Paths.get(s"$out/.staging")).count() == 0)
  }

  test("resume: second run skips all committed urls (idempotent)") {
    val out = tmp()
    val s1 = ExtractJob.run(spark, "synthetic:150", out)
    assert(s1.extracted == 150)
    val s2 = ExtractJob.run(spark, "synthetic:150", out)
    assert(s2.extracted == 0 && s2.skippedDone == 150)
    val data = TableIO.readData(spark, out).get
    assert(data.count() == 150) // no duplicates from the re-run
  }

  test("resume: mid-run growth extracts only the delta") {
    val out = tmp()
    ExtractJob.run(spark, "synthetic:100", out)
    val s2 = ExtractJob.run(spark, "synthetic:180", out) // same seed → first 100 identical
    assert(s2.extracted == 80 && s2.skippedDone == 100)
    assert(TableIO.readData(spark, out).get.select("url").distinct().count() == 180)
  }

  test("north rule: output byte-identical across parallelism levels") {
    val out1 = tmp(); val out2 = tmp()
    ExtractJob.run(spark, "synthetic:120", out1)
    // different partitioning of the same input
    import spark.implicits._
    val pages = graft.gen.SyntheticCorpus.generate(spark, 120, partitions = 7)
    val extracted = pages.repartition(13).mapPartitions(graft.extract.Extractor.run(_))
    val a = TableIO.readData(spark, out1).get
      .select("url", "markdown", "blocks_kept", "blocks_dropped", "ok")
      .orderBy("url").collect().toSeq
    val b = extracted.select("url", "markdown", "blocks_kept", "blocks_dropped", "ok")
      .orderBy("url").collect().toSeq
    assert(a == b)
  }

  test("staging garbage from a crashed run is invisible and cleaned") {
    val out = tmp()
    ExtractJob.run(spark, "synthetic:50", out)
    // simulate a crash: orphan staging dir with junk
    val orphan = Paths.get(s"$out/.staging/b99999")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("junk.parquet"), "not parquet")
    assert(TableIO.readData(spark, out).get.count() == 50) // reader unaffected
    val s = ExtractJob.run(spark, "synthetic:60", out) // next run clears + proceeds
    assert(s.extracted == 10)
    assert(TableIO.readData(spark, out).get.count() == 60)
  }

  /** The lineage rows as the job derived them before it counted them
    * in-task: a groupBy over the batch's committed data. */
  private def groupedLineage(data: DataFrame) =
    data.groupBy(col("part_id").as("partition_id"))
      .agg(
        count(lit(1)).as("urls_seen"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("urls_ok"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("urls_failed"),
        sum(col("blocks_kept").cast("long")).as("blocks_kept"),
        sum(col("blocks_dropped").cast("long")).as("blocks_dropped"),
        sum(size(col("spans")).cast("long")).as("span_total"))

  private val metricsCols = Seq("partition_id", "urls_seen", "urls_ok", "urls_failed",
    "blocks_kept", "blocks_dropped", "span_total")

  test("lineage: metrics rows equal a groupBy(part_id) over each committed batch") {
    val out = tmp()
    val s1 = ExtractJob.run(spark, "synthetic:100", out)
    // 5 new pages over the anti-join's output partitions: this batch
    // leaves partitions empty
    val s2 = ExtractJob.run(spark, "synthetic:105", out)
    assert(s2.extracted == 5 && s2.skippedDone == 100)
    val data = TableIO.readData(spark, out).get
    val m = TableIO.readMetrics(spark, out).get
    assert(m.schema.map(f => f.name -> f.dataType) ==
      Seq("partition_id" -> IntegerType) ++ metricsCols.tail.map(_ -> LongType) ++
        Seq("batch" -> StringType))
    for ((batch, n) <- Seq(s1.batchId -> 100L, s2.batchId -> 5L)) {
      val got = m.filter(col("batch") === batch).select(metricsCols.map(col): _*).collect()
      val want = groupedLineage(data.filter(col("batch") === batch)).collect()
      assert(got.toSet == want.toSet, s"batch $batch")
      assert(got.length == want.length, s"batch $batch: one row per partition")
      assert(got.forall(_.getLong(1) > 0), s"batch $batch: no zero-row partition rows")
      assert(got.map(_.getLong(1)).sum == n)
    }
    assert(m.filter(col("batch") === s2.batchId).count() < 8,
      "the partial batch must leave some partitions without a row")
  }

  test("parquet pages: input, extracted and skipped on fresh and resumed runs") {
    import spark.implicits._
    val pages = tmp(); val more = tmp(); val out = tmp()
    graft.gen.SyntheticCorpus.generate(spark, 120).write.mode("overwrite").parquet(pages)
    // same seed → the first 120 pages are the same pages
    graft.gen.SyntheticCorpus.generate(spark, 150).write.mode("overwrite").parquet(more)
    val fresh = ExtractJob.run(spark, pages, out)
    assert((fresh.input, fresh.extracted, fresh.skippedDone) == (120L, 120L, 0L))
    val grown = ExtractJob.run(spark, more, out)
    assert((grown.input, grown.extracted, grown.skippedDone) == (150L, 30L, 120L))
    val done = ExtractJob.run(spark, more, out)
    assert((done.input, done.extracted, done.skippedDone) == (150L, 0L, 150L))
    assert(done.batchId == "-")
    val data = TableIO.readData(spark, out).get
    assert(data.count() == 150 && data.select("url").distinct().count() == 150)
    assert(fresh.failed + grown.failed == data.filter(!$"ok").count())
  }

  test("parquet pages without url or html fail loudly before any work") {
    import spark.implicits._
    val noHtml = tmp(); val noUrl = tmp(); val empty = tmp()
    Seq(("https://example.org/a", "<p>x</p>")).toDF("url", "body").write.mode("overwrite").parquet(noHtml)
    Seq(("https://example.org/a", Array[Byte](60, 112, 62))).toDF("link", "html")
      .write.mode("overwrite").parquet(noUrl)
    for ((dir, col) <- Seq(noHtml -> "html", noUrl -> "url")) {
      val out = tmp()
      val e = intercept[IllegalArgumentException](ExtractJob.run(spark, dir, out))
      assert(e.getMessage.contains(s"lacks column(s) $col"), e.getMessage)
      assert(TableIO.readData(spark, out).isEmpty)
    }
    assert(intercept[IllegalArgumentException](ExtractJob.run(spark, empty, tmp()))
      .getMessage.contains("has no data file"))
  }

  /** Every executed plan of a write over `pagesDir`'s scan, as a
    * QueryExecutionListener sees it while `body` runs. */
  private def pageWritePlans(pagesDir: String)(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val leaf = Paths.get(pagesDir).getFileName.toString
    def writesPages(p: SparkPlan) =
      collect(p) { case w: DataWritingCommandExec => w }.nonEmpty &&
        collect(p) { case s: FileSourceScanExec => s }
          .exists(_.relation.location.rootPaths.exists(_.getName == leaf))
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive asynchronously
      eventually(timeout(30.seconds), interval(100.millis)) {
        assert(plans.asScala.exists(writesPages))
      }
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq.filter(writesPages)
  }

  test("plan: a fresh run extracts in the scan's own tasks — the write has no Exchange") {
    val pages = tmp(); val out = tmp()
    SyntheticCorpus.generate(spark, 120).write.mode("overwrite").parquet(pages)
    val writes = pageWritePlans(pages) {
      assert(ExtractJob.run(spark, pages, out).extracted == 120)
    }
    assert(writes.length == 1, writes.mkString("\n"))
    val exchanges = collectWithSubqueries(writes.head) {
      case e: Exchange => e
      case r: ReusedExchangeExec => r
    }
    assert(exchanges.isEmpty, s"the write moved rows:\n${writes.head.treeString}")
  }

  test("one-split pages: a single scan task extracts every page, lineage still reconciles") {
    import spark.implicits._
    val pages = tmp(); val out = tmp()
    SyntheticCorpus.generate(spark, 90).coalesce(1).write.mode("overwrite").parquet(pages)
    val in = spark.read.parquet(pages)
    assert(in.rdd.getNumPartitions == 1, "the pages must be one scan split")
    val s = ExtractJob.run(spark, pages, out)
    assert((s.input, s.extracted, s.skippedDone) == (90L, 90L, 0L))
    val data = TableIO.readData(spark, out).get
    val cols = Seq("url", "markdown", "spans").map(col)
    val want = spark.createDataset[ExtractedDoc](
      in.select("url", "html").as[(String, Array[Byte])].collect().toSeq
        .map { case (u, h) => Extractor.extract(u, h) })
    assert(data.select(cols: _*).collect().toSet == want.select(cols: _*).collect().toSet)
    val m = TableIO.readMetrics(spark, out).get.select(metricsCols.map(col): _*).collect()
    assert(m.toSet == groupedLineage(data).collect().toSet)
    assert(m.length == 1, "one scan split, one partition row")
  }

  test("a fresh run is one Spark job: the lineage rows are written without one") {
    val pages = tmp(); val out = tmp()
    SyntheticCorpus.generate(spark, 120).write.mode("overwrite").parquet(pages)
    val sc = spark.sparkContext
    val group = s"extract-one-job-${System.nanoTime()}"
    sc.setJobGroup(group, "one fresh ExtractJob run")
    try assert(ExtractJob.run(spark, pages, out).extracted == 120)
    finally sc.clearJobGroup()
    // the status tracker learns of jobs through the listener bus, in
    // order: once a later marker job shows, every job of the run has
    val marker = s"$group-marker"
    sc.setJobGroup(marker, "listener-bus marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    eventually(timeout(30.seconds), interval(50.millis)) {
      assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty)
    }
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.length == 1, s"jobs ${jobs.sorted.mkString(", ")}")
    assert(TableIO.readMetrics(spark, out).get.agg(sum("urls_seen")).head.getLong(0) == 120)
  }

  test("write: no dictionary on url and markdown only; metrics keep PartitionMetrics' schema") {
    val pages = tmp(); val out = tmp()
    // every page three times under distinct urls: repeated text is where
    // a dictionary pays, so markdown keeps one at the parent and span
    // bodies must keep theirs
    val once = SyntheticCorpus.generate(spark, 70).toDF()
    (0 until 3).map(k => once.withColumn("url", concat(col("url"), lit(s"?copy=$k"))))
      .reduce(_ union _).write.mode("overwrite").parquet(pages)
    assert(ExtractJob.run(spark, pages, out).extracted == 210)
    val conf = spark.sessionState.newHadoopConf()
    val dataFiles = Files.walk(Paths.get(TableIO.dataPath(out))).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(dataFiles.nonEmpty)
    // column path -> does any chunk of it carry a dictionary encoding
    val dictionary = dataFiles.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f.toUri), conf))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(c =>
        c.getPath.toDotString -> c.getEncodings.asScala.exists(_.usesDictionary)))
      finally reader.close()
    }.groupMapReduce(_._1)(_._2)(_ || _)
    val plain = Seq("url", "markdown")
    assert(plain.filterNot(dictionary.get(_).contains(false)).isEmpty,
      plain.map(c => s"$c: dictionary ${dictionary.get(c)}").mkString("; "))
    // no global switch, and repeated short text keeps its dictionary
    for (c <- Seq("spans.list.element.kind", "spans.list.element.body"))
      assert(dictionary.get(c).contains(true), s"$c: dictionary ${dictionary.get(c)}")

    // appendMetrics writes Int and Long fields only
    val fieldTypes = Encoders.product[PartitionMetrics].schema.fields
    assert(fieldTypes.forall(f => f.dataType == IntegerType || f.dataType == LongType),
      fieldTypes.mkString(", "))
    val m = TableIO.readMetrics(spark, out).get
    // Spark reads every file-table column as nullable
    val nullable = Encoders.product[PartitionMetrics].schema.fields.map(_.copy(nullable = true))
    assert(m.schema == StructType(nullable :+ StructField("batch", StringType)))
    assert(m.agg(sum("urls_seen")).head.getLong(0) == 210)
    val staged = Paths.get(s"$out/.staging")
    assert(!Files.exists(staged) ||
      !Files.list(staged).iterator().asScala.exists(_.getFileName.toString.startsWith("metrics-")))
  }
}
