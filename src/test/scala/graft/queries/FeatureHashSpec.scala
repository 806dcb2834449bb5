package graft.queries

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The word feature every hash path shares, and q21's simhash over it.
  * The fixture corpora hold no char above U+FFFF, so the oracle alone
  * never sees how a typed map counts one.
  */
class FeatureHashSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("wordFeatureScala equals the wordFeature Column, counting code points") {
    import spark.implicits._
    val tokens = Seq(
      "\uD83D\uDE00ab", // astral char first (U+1F600)
      "a\uD83D\uDE00b", // astral char later in the token
      "été", // combining mark
      "",
      "caf\u00e9", // Latin-1
      "plain")
    val viaColumn = tokens.toDF("w").select(col("w"), TextOps.wordFeature(col("w")))
      .as[(String, Long)].collect().toMap
    tokens.foreach { w =>
      assert(TextOps.wordFeatureScala(w) == viaColumn(w), s"token '$w'")
    }
  }

  test("q21 simhash keeps the values of the interpreted Column fold it replaced") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q21fix").toString
    Seq[(Long, String)]((0L, null), (1L, ""), (2L, "   "), (3L, "\ta b\n"), (4L, "a b c"),
      (5L, "😀ab 😀ab x"), (6L, "été café café"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    def run(d: String) = Dedup.q21Simhash.fn(spark, d).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    assert(run(dir) == Seq(0L -> None, 1L -> Some(0L), 2L -> Some(0L), 3L -> Some(0L),
      4L -> Some(128L), 5L -> Some(63069L), 6L -> Some(255L)))
    val sf = run("/root/testdata/sf0.001")
    assert(sf.take(12).map(_._2.get) ==
      Seq(237L, 264L, 174L, 360L, 268L, 238L, 168L, 268L, 172L, 301L, 173L, 172L))
    assert(sf.length == 500)
    assert(sf.map { case (id, h) => (id + 1) * h.get }.sum == 26675423L)
  }
}
