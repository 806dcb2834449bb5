package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

object SparkTestSession {
  lazy val spark: SparkSession = Sessions("graft-test")
}

class QueriesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  /** Queries whose result can legitimately be empty at tiny scale. */
  private val mayBeEmpty = Set("q04_antijoin_resume", "q22_jaccard_pairs")

  test("every registered query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      withClue(s"$name:") { assert(n > 0 || mayBeEmpty.contains(name)) }
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("headline aggregation has expected groups") {
    val rows = SparkEntry.queries("q01_pricing_agg")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 9) // |returnflag| x |linestatus|
  }

  test("oracle keys are a subset of query keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("q52 duplicated-substring semantics: cross-doc counts, self-repeat and short docs do not") {
    import spark.implicits._
    val w = (1 to 20).map(i => s"w$i").mkString(" ") // 20 tokens
    val shared = (1 to 16).map(i => s"shared$i").mkString(" ")
    val corpus = Seq(
      (0L, s"$w $shared"),                    // 36 tokens, tail shares a window with doc 1
      (1L, s"$shared unique tail words here"),// head shares with doc 0
      (2L, {                                  // repeats ITSELF: nd=1, not cross-doc dup
        val x = (1 to 20).map(i => s"x$i").mkString(" ")
        s"$x $x"
      }),
      (3L, "too short for any window"))       // < 16 tokens: zero windows
    val dir = java.nio.file.Files.createTempDirectory("q52fix")
    corpus.toDF("doc_id", "text").write.parquet(dir.toString + "/documents.parquet")
    val out = graft.queries.Dedup.q52DupSubstrings.fn(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val m = out.map(t => t._1 -> ((t._2, t._3))).toMap
    // doc 0: 36 tokens → 21 windows; exactly the ONE window fully inside
    //   `shared` duplicates into doc 1 (every other window spans w-words)
    assert(m(0L) == ((21L, 1L)), s"doc0: ${m(0L)}")
    // doc 1: 20 tokens → 5 windows; only the first is the shared one
    assert(m(1L) == ((5L, 1L)), s"doc1: ${m(1L)}")
    // doc 2: 40 tokens → 25 windows, heavy SELF-repetition but no other
    //   doc shares them — cross-doc dup count must be 0
    assert(m(2L) == ((25L, 0L)), s"doc2: ${m(2L)}")
    // doc 3: too short — present with zeros, not absent
    assert(m(3L) == ((0L, 0L)), s"doc3: ${m(3L)}")
  }
}
