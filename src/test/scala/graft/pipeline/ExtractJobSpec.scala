package graft.pipeline

import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkTestSession
import graft.core.ExtractedDoc
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
}
