package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Row, SparkSession}

object SparkTestSession {
  lazy val spark: SparkSession = Sessions("graft-test")

  /** SHA-256 of the rows' string forms, sorted: an order-free digest. */
  def rowsDigest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}

class QueriesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  /** Queries whose result can legitimately be empty at tiny scale. */
  private val mayBeEmpty = Set("q04_antijoin_resume", "q22_jaccard_pairs")

  /** SHA-256 of the sorted rows at sf0.001 for the queries that score
    * cosine pairs or squared distances, frozen from the per-query
    * typed-map kernels that `Cos6` and `SqDist6` replaced: the rewrites
    * must keep every row bit-identical. */
  private val frozenDigests = Map(
    "q23_cosine_topk" ->
      "3d15e2176382186801d65093949e33c44fc3d1890e1d39dbae4e9b2aea93d678",
    "q31_embed_neardup" ->
      "0f68f2d4a3e58deecfe29cc3178c71b8443c7f0f40374c0e7077ab5a1f7f695d",
    "q32_ivf_search" ->
      "35a715f74146bd356b770d802236027e3d02447a8b770be3bc8bd17e540ec505",
    "q39_ann_recall" ->
      "45877bcd746a4ecd33ee414c25097962d2b382afb2da7529fc2aa04a7ea8a1a1",
    "q40_trained_recall" ->
      "2579fdd7e2b00c23e57b63deb449a117cca12eb0bad9fa8e5867ad25fa728bdf",
    "q49_probe_sweep" ->
      "1f316fc468ed06794d5c37a8704b357a08fa892a5c227e243ca028e425c01d0c",
    "q51_lsh_ann_recall" ->
      "13b02cc65052e149c0858fb1e452c739706dc43f65447a9a1836dcbb097047c0",
    "q54_pq_recall" ->
      "74e82a3d84dd069fc6b009f0b8f39e060dd10684808b435f6e3efa1f0045c145",
    "q55_ivfpq_recall" ->
      "2579fdd7e2b00c23e57b63deb449a117cca12eb0bad9fa8e5867ad25fa728bdf",
    "q41_twolevel_assign" ->
      "cfd02f5c55142cfdf28f96fbbeb7b9036ebda2e078cc3c38228abc6eac75ed66")

  test("every registered query runs and returns rows at sf0.001") {
    val drifted = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, sf)
      // a frozen query is collected instead of counted, so it still runs once
      val (n, got) = frozenDigests.get(name) match {
        case Some(_) => val rows = df.collect(); (rows.length.toLong, Some(SparkTestSession.rowsDigest(rows)))
        case None => (df.count(), None)
      }
      withClue(s"$name:") { assert(n > 0 || mayBeEmpty.contains(name)) }
      got.filter(_ != frozenDigests(name)).map(g => s"$name -> $g")
    }
    assert(drifted.isEmpty, drifted.mkString("row digests drifted:\n", "\n", ""))
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
