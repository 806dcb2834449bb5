package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The two IVF assignment paths must agree bit-for-bit: the typed map
  * against a broadcast codebook (k ≤ MaxBroadcastCells) and the
  * centroid-table plan that takes over past the cap. Forcing cap = 1
  * routes the same input through the table path; (home, probes, nrm)
  * must match the broadcast path on every vector.
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("table-path assignment (k forced above the broadcast cap) matches the broadcast path") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "home", "probes", "nrm").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2), r.getDouble(3))).sortBy(_._1)
    val viaBroadcast = snap(Similarity.assignedDf(e)) // k = ceil(sqrt(n)) <= cap
    val viaTable = snap(Similarity.assignedDf(e, cap = 1L)) // same k, table plan
    assert(viaTable.length == viaBroadcast.length && viaTable.length > 0)
    viaBroadcast.zip(viaTable).foreach { case (b, t) =>
      assert(b == t, s"assignment diverged between paths at vec_id ${b._1}: broadcast=$b table=$t")
    }
  }

  test("two-level path with exhaustive super-probing matches the flat path bit-for-bit") {
    // with k = 9, k2 = ceil(sqrt(9)) = 3, so probing the top-3 super-cells
    // covers ALL of them — the two-level result must equal flat exactly
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val k = 9L
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "home", "probes").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).sortBy(_._1).toSeq
    assert(snap(Similarity.assignedTwoLevel(e, k)) == snap(Similarity.assignedViaTable(e, k)))
  }

  test("two-level path at sf0.01 (k2 > probes): valid shape, high flat agreement") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val k = math.ceil(math.sqrt(e.count().toDouble)).toLong // 23 -> k2 = 5
    val flat = Similarity.assignedViaTable(e, k)
      .select("vec_id", "home").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val two = Similarity.assignedTwoLevel(e, k)
      .select("vec_id", "home", "probes").collect()
    assert(two.length == flat.size, "every vector must be assigned")
    two.foreach { r =>
      val probes = r.getSeq[Long](2)
      assert(probes.nonEmpty && probes.forall(c => c >= 0 && c < k))
      assert(r.getLong(1) == probes.head, "home must be the first probe")
    }
    val agree = two.count(r => r.getLong(1) == flat(r.getLong(0))).toDouble / two.length
    // measured 0.772 on this fixed corpus; the gap is the documented IVF
    // approximation (true nearest centroid in an unprobed super-cell) —
    // probe-3 of 5 super-cells routes ~60% of the codebook per vector
    assert(agree >= 0.75, f"two-level home agreement $agree%.3f fell below the pinned floor")
  }

  test("table path plans a WindowGroupLimit so top-3 prunes before the exchange") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val k = math.ceil(math.sqrt(e.count().toDouble)).toLong
    val p = Similarity.assignedViaTable(e, k).queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), s"expected rank-limit pushdown:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"centroid table should broadcast:\n$p")
  }

  test("collectCents refuses a codebook past the bounded-broadcast cap") {
    import spark.implicits._
    val over = spark.range(Similarity.MaxBroadcastCells + 1)
      .selectExpr("id AS cid", "array(CAST(id AS DOUBLE)) AS ce")
    val e = intercept[IllegalArgumentException] { Similarity.collectCents(over) }
    assert(e.getMessage.contains("bounded-broadcast contract"))
    // exactly at the cap still collects (the contract boundary is inclusive)
    val atCap = spark.range(4).selectExpr("id AS cid", "array(CAST(id AS DOUBLE)) AS ce")
    assert(Similarity.collectCents(atCap).length == 4)
  }

  /** The recall queries reduce their scored pairs to (qid, hits, recall5)
    * rows, which a 6th-decimal drift in cos6 or d26 leaves equal; these
    * digests of the scored intermediates at sf0.001 make it show. */
  test("scored pairs and ADC distance tables keep their frozen row digests") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val assigned = Similarity.assignedDf(e)
    val sv = Similarity.pqSubRows(Similarity.normRows(e))
    val got = Seq(
      "probedPairs" -> Similarity.probedPairs(assigned),
      "exactTop5" -> Similarity.exactTop5(assigned),
      "pqQueryTables" -> Similarity.pqQueryTables(sv, Similarity.pqCodebook(sv)))
      .map { case (name, df) => name -> SparkTestSession.rowsDigest(df.collect()) }.toMap
    assert(got == Map(
      "probedPairs" ->
        "e1fe2eef06953c1d93a3562800195060deb685b3f3287e6450e1d1aeb4f17f34",
      "exactTop5" ->
        "ffc8b37a81a002b929147f0986c38fe73b7301619a12913d55dfa5332107f856",
      "pqQueryTables" ->
        "884c9e2fd1c4602de990b519ba308ea476d84ef085d2b224f660faf69a7bbde7"))
  }
}
