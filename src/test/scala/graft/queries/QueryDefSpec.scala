package graft.queries

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.SparkTestSession

/** `QueryDef.fanOut` sizes its input from the planned scan: the same
  * split count `df.rdd` reports, without running a SQL execution. */
class QueryDefSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("scanPartitions equals df.rdd's partition count on one-split, Union and multi-file scans") {
    val multi = Files.createTempDirectory("fanout").resolve("t").toString
    spark.range(0, 4000, 1, 8).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
      .write.parquet(multi)
    val cases = Seq(
      "one split" -> spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"),
      "dupCorpus Union" -> Dedup.dupCorpus(spark, sf),
      "eight files" -> spark.read.parquet(multi).filter("doc_id % 2 = 0"))
    cases.foreach { case (name, df) =>
      withClue(s"$name: ") { assert(QueryDef.scanPartitions(df) == df.rdd.getNumPartitions) }
    }
    assert(QueryDef.scanPartitions(cases(1)._2) == 2 * QueryDef.scanPartitions(cases(0)._2))
    assert(QueryDef.scanPartitions(cases(2)._2) > 1, "the multi-file case must read several splits")
  }

  test("fanOut runs no SQL execution") {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    // listener events arrive asynchronously and in order: once a marker
    // run's event is in, every earlier execution's is too
    def runMarker(): QueryExecution = {
      val m = spark.range(1).toDF()
      m.collect()
      eventually(timeout(30.seconds), interval(100.millis)) {
        assert(seen.asScala.exists(_ eq m.queryExecution))
      }
      m.queryExecution
    }
    val union: DataFrame = Dedup.dupCorpus(spark, sf)
    spark.listenerManager.register(listener)
    try {
      runMarker() // drains earlier tests' events
      seen.clear()
      QueryDef.fanOut(union, "doc_id")
      val marker = runMarker()
      assert(seen.asScala.toSeq.map(_ eq marker) == Seq(true),
        s"fanOut ran ${seen.size - 1} SQL execution(s)")
    } finally spark.listenerManager.unregister(listener)
  }
}
