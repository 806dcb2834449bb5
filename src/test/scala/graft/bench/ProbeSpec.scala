package graft.bench

import org.apache.spark.sql.functions.{lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkTestSession}

/** `Probe exec` must never drop evidence silently: every SQL execution
  * the listener bus ends is in the capture with its duration, and a
  * failed action leaves a FAILED block instead of a clean-looking file.
  */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def headers(c: Probe.Capture) =
    c.text.linesIterator.filter(_.startsWith("==== execution")).toVector

  test("exec captures every q38 execution with its duration, then the final plan") {
    val c = Probe.capture(spark, SparkEntry.queries("q38_dedup_clusters")(_, "/root/testdata/sf0.001"))
    spark.catalog.clearCache()
    assert(c.error.isEmpty && c.settled, c.toString.take(2000))
    assert(c.captured == c.ended, s"captured ${c.captured} of ${c.ended} ended executions")
    val hs = headers(c)
    assert(hs.length == c.captured)
    // the eager checkpoint rounds plus the query's own count()
    assert(hs.length >= 2, hs.mkString("\n"))
    hs.foreach(h => assert(h.matches("==== execution \\d+: action=\\S+ duration=\\d+\\.\\d{3} ms ===="), h))
    assert(c.text.contains("==== final plan (returned DataFrame) ===="))
  }

  test("exec leaves a FAILED block when the query's action fails") {
    val c = Probe.capture(spark, s => s.range(1).toDF().filter(raise_error(lit("probe test failure")).isNull))
    assert(c.error.exists(_.contains("probe test failure")), c.error.toString)
    assert(c.captured == c.ended, s"captured ${c.captured} of ${c.ended} ended executions")
    assert(headers(c).exists(_.startsWith("==== execution 1 FAILED: action=")), c.text)
    assert(c.text.contains("probe test failure"))
  }

  test("plans: two plannings of one query render the same normalised plan") {
    def render() = SparkEntry.queries("q42_band_claims")(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    val (a, b) = (render(), render())
    assert(a != b, "expression ids differ between plannings")
    assert(Probe.normalised(a) == Probe.normalised(b))
    assert("#\\d|plan_id=|lambda \\w+_\\d|Lambda\\$\\d|Lambda/0x".r.findFirstIn(Probe.normalised(a)).isEmpty,
      Probe.normalised(a))
  }
}
