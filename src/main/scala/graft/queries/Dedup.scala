package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for the training-data pipeline: exact
  * (hash-groupBy), MinHash signatures + LSH band buckets, SimHash, and
  * blocked n-gram Jaccard. All hashing is engine-agnostic arithmetic
  * (TextOps.wordFeature + polynomial mixes) so every stage has a
  * bit-exact DuckDB oracle — including the candidate-pair generation.
  *
  * Scale notes: exact dedup is one shuffle on the content hash; MinHash/
  * SimHash signatures are narrow map-only projections (each one typed
  * row-local map); LSH buckets shuffle on (band, key) — the
  * standard shingle→minhash→band→bucket-join plan; Jaccard verification
  * consumes the LSH buckets as its candidate pairs, so its join fan-out
  * is bounded by bucket size, not block size.
  */
object Dedup {

  import TextOps.tokens

  private[queries] val P = 1048573L // < 2^20, keeps band keys in 2^40
  private[queries] val A = Seq(7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L)
  private[queries] val B = Seq(3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L)

  private val fwSql = "(length({w}) * 31 + ascii(substring({w}, 1, 1)))"
  private def fw(w: String) = fwSql.replace("{w}", w)

  /** documents ∪ (documents shifted by 10^7) — a corpus with one exact
    * duplicate per doc, so dedup queries have real work to do. The shift
    * must clear any plausible sf's id range: q38 joins on doc_id and
    * would silently emit duplicate rows on a collision.
    */
  private val dupShift = 10000000L
  private[queries] def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    d.unionAll(d.select((col("doc_id") + dupShift).as("doc_id"), col("text")))
  }
  private val dupCorpusSql =
    s"SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + $dupShift, text FROM documents"

  /** Exact dedup: content-hash groupBy keeping the smallest doc_id. */
  val q18ExactDedup = QueryDef(
    "q18_exact_dedup",
    (s, dir) =>
      dupCorpus(s, dir)
        .groupBy(md5(to_binary(col("text"), lit("utf-8"))).as("content_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
        .orderBy("keeper"),
    Some(s"""
      WITH dup AS ($dupCorpusSql)
      SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keeper
      FROM dup GROUP BY 1 ORDER BY keeper
    """.trim)
  )

  /** Same arithmetic as the SQL oracle, as a plain Scala
    * function for the typed-map path: Catalyst's CollapseProject inlines
    * a referenced shingle column into EVERY minhash expression (8×
    * recompute, O(n²) per row); one typed map computes the signature
    * once. Values are bit-identical to the column form and the oracle.
    */
  def minhashSigScala(text: String): Option[Array[Long]] = {
    // Tokenize through the ONE shared tokenizer (SQL-trim semantics:
    // spaces only, empties kept) so \t\n\r-padded text shingles
    // identically to the DuckDB oracle's regexp_split_to_array(trim(..));
    // NULL text yields no signature, matching SQL NULL propagation
    // (as simhash's callers keep NULL text a NULL simhash).
    if (text == null) return None
    val tk = TextOps.tokensScala(text)
    if (tk.length < 3) return None
    def f(w: String): Long = TextOps.wordFeatureScala(w)
    val mins = Array.fill(8)(Long.MaxValue)
    var i = 0
    while (i + 2 < tk.length) {
      val h = ((f(tk(i)) * 1009L + f(tk(i + 1))) * 1009L + f(tk(i + 2))) % P
      var k = 0
      while (k < 8) {
        val v = (A(k) * h + B(k)) % P
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    Some(mins)
  }
  private def shinglesSql(tk: String): String =
    s"list_transform(generate_series(1, len($tk) - 2), i -> " +
      s"CAST(((${fw(s"$tk[i]")} * 1009 + ${fw(s"$tk[i+1]")}) * 1009 + ${fw(s"$tk[i+2]")}) % $P AS BIGINT))"

  private def minhashSqlCols(sh: String): String =
    A.zip(B).zipWithIndex.map { case ((a, b), k) =>
      s"list_min(list_transform($sh, h -> ($a * h + $b) % $P)) AS mh$k"
    }.mkString(",\n             ")

  /** The oracle chain t → s → sig → bands over `src` (doc_id, text):
    * the SQL twin of bandsDf(sigDf(...)), shared by q20, q22 and q38. */
  private def bandsSql(src: String): String =
    s"""t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM $src),
      s AS (SELECT doc_id, ${shinglesSql("tk")} AS sh FROM t WHERE len(tk) >= 3),
      sig AS (SELECT doc_id,
             ${minhashSqlCols("sh")}
      FROM s WHERE len(sh) > 0),
      bands AS (
        SELECT 0 AS band, mh0 * $P + mh1 AS bkey, doc_id FROM sig UNION ALL
        SELECT 1, mh2 * $P + mh3, doc_id FROM sig UNION ALL
        SELECT 2, mh4 * $P + mh5, doc_id FROM sig UNION ALL
        SELECT 3, mh6 * $P + mh7, doc_id FROM sig)"""

  /** LSH candidate pairs: documents sharing a (band, bkey) bucket. */
  private val candSql: String =
    """cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"""

  /** Per candidate pair, the token-set intersection and set sizes
    * against `tt` (doc_id, distinct tokens): the SQL twin of
    * pairsWithJaccard's verify step, shared by q22 and q38. */
  private val jaccardSql: String =
    """p AS (SELECT id1, id2,
                   len(list_filter(t1.tk, x -> list_contains(t2.tk, x))) AS inter,
                   len(t1.tk) AS n1, len(t2.tk) AS n2
            FROM cand JOIN tt t1 ON id1 = t1.doc_id JOIN tt t2 ON id2 = t2.doc_id)"""

  private def sigDf(s: SparkSession, base: DataFrame): DataFrame = {
    import s.implicits._
    // fanOut: documents is a one-split scan (dupCorpus two), so the
    // shingle+minhash map ran on 1-2 cores; spread before the CPU work
    QueryDef.fanOut(base.select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        minhashSigScala(text).map(m => (id, m(0), m(1), m(2), m(3), m(4), m(5), m(6), m(7)))
      }
      .toDF("doc_id", "mh0", "mh1", "mh2", "mh3", "mh4", "mh5", "mh6", "mh7")
  }

  /** MinHash signatures (k=8) per document. */
  val q19MinhashSig = QueryDef(
    "q19_minhash_sig",
    (s, dir) => sigDf(s, s.read.parquet(s"$dir/documents.parquet")).orderBy("doc_id"),
    Some(s"""
      WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
      s AS (SELECT doc_id, ${shinglesSql("tk")} AS sh FROM t WHERE len(tk) >= 3)
      SELECT doc_id,
             ${minhashSqlCols("sh")}
      FROM s WHERE len(sh) > 0 ORDER BY doc_id
    """.trim)
  )

  /** One projection + posexplode of the band-key array: the signature
    * flatMap runs ONCE per row (a 4-way unionAll of `sig` would re-run the
    * typed map per branch — 4× the shingle work for the same rows).
    */
  private def bandsDf(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      posexplode(array(
        col("mh0") * P + col("mh1"),
        col("mh2") * P + col("mh3"),
        col("mh4") * P + col("mh5"),
        col("mh6") * P + col("mh7"))).as(Seq("band", "bkey")))

  /** LSH: 4 bands × 2 rows over the 8 minhashes on the duplicated corpus;
    * collided buckets (n_docs > 1) are the near-dup candidate groups.
    */
  val q20LshBuckets = QueryDef(
    "q20_lsh_buckets",
    (s, dir) => {
      val bands = bandsDf(sigDf(s, dupCorpus(s, dir)))
      bands.groupBy("band", "bkey")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .filter(col("n_docs") > 1)
        .orderBy("band", "bkey")
    },
    Some(s"""
      WITH dup AS ($dupCorpusSql),
      ${bandsSql("dup")}
      SELECT band, bkey, count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM bands GROUP BY band, bkey HAVING count(*) > 1 ORDER BY band, bkey
    """.trim)
  )

  /** 16-bit SimHash: per-bit signed votes over the `mix`ed word
    * features of the whitespace tokens, as one compiled row-local loop —
    * zero shuffles, zero row blowup. All arithmetic is integral (votes,
    * mix, bit tests), so it matches the DuckDB oracles bit for bit.
    * Tokenization goes through [[TextOps.tokensScala]] (SQL-trim
    * semantics: spaces only, empties kept) so texts with leading/trailing
    * \t\n\r hash as the oracles' regexp_split_to_array(trim(..)) does.
    * Non-null input only: callers keep NULL text a NULL (None) simhash. */
  private[graft] def simhashScala(text: String, mix: Long => Long): Long = {
    val toks = TextOps.tokensScala(text)
    val votes = new Array[Int](16)
    var t = 0
    while (t < toks.length) {
      val m = mix(TextOps.wordFeatureScala(toks(t)))
      var i = 0
      while (i < 16) {
        if (((m >> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      t += 1
    }
    var sh = 0L
    var i = 0
    while (i < 16) { if (votes(i) > 0) sh |= (1L << i); i += 1 }
    sh
  }

  /** q21's mix: the RAW word feature. */
  private val rawFeature: Long => Long = f => f

  /** Banding-grade mix for the near-dup band filters (q42 and the
    * streaming filter): a Knuth multiplicative mix, so all 16 output bits
    * carry signal — the raw q21 feature (31·len + first code) is small
    * for ASCII words, which leaves the top bands degenerate (always 0)
    * and useless as LSH keys. */
  private[graft] val knuthMix: Long => Long = f => (f * 2654435761L) % 4294967296L

  /** The 4×4-bit LSH bands of a 16-bit simhash, as an array column. */
  private[graft] def simhashBands(simhash: Column): Column =
    array((0 until 4).map(i =>
      pmod(floor(simhash.cast("double") / math.pow(16, i)).cast("long"), lit(16L))): _*)

  /** Batch twin of the streaming near-dup band filter (q42): each doc's
    * mixed simhash splits into 4 bands; the FIRST document (min doc_id —
    * the batch stand-in for earliest event time) claims each
    * (band_idx, band_val) key; a doc claiming all 4 of its bands is
    * novel. Bit-exact oracle — the streaming path (EventStreams
    * .bandClaimsStream + classifyClaims) computes the same verdicts with
    * watermark-bounded state.
    */
  val q42BandClaims = QueryDef(
    "q42_band_claims",
    (s, dir) => {
      import s.implicits._
      // the compiled simhash loop (an interpreted Column fold over every
      // token × 16 bits measured ~2 s single-threaded at sf0.1); fanOut
      // spreads the one-split scan first. The Option[Long] keeps SQL's
      // NULL propagation (NULL text → NULL simhash → 4 NULL band rows).
      val sh = QueryDef.fanOut(
          s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text")),
          "doc_id")
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, Option(t).map(simhashScala(_, knuthMix)))
        })
        .toDF("doc_id", "simhash")
      val claims = sh
        .select(col("doc_id"), posexplode(simhashBands(col("simhash"))).as(Seq("band_idx", "band_val")))
      val w = Window.partitionBy("band_idx", "band_val")
      claims.withColumn("winner", min("doc_id").over(w))
        .groupBy("doc_id")
        .agg(sum(when(col("doc_id") === col("winner"), 1L).otherwise(0L)).as("bands_claimed"))
        .select(col("doc_id"), col("bands_claimed"), (col("bands_claimed") === 4).as("novel"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH wf AS (SELECT doc_id,
                         (${fw("u.w")} * 2654435761) % 4294967296 AS f
                  FROM documents, unnest(regexp_split_to_array(trim(text), '\\s+')) AS u(w)),
      b AS (SELECT doc_id, i, sum(CASE WHEN (f // (1 << i)) % 2 = 1 THEN 1 ELSE -1 END) AS s
            FROM wf, generate_series(0, 15) g(i) GROUP BY doc_id, i),
      sh AS (SELECT doc_id,
                    CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
             FROM b GROUP BY doc_id),
      cl AS (SELECT doc_id, i AS band_idx, (simhash >> (4 * CAST(i AS INT))) & 15 AS band_val
             FROM sh, generate_series(0, 3) g(i)),
      won AS (SELECT doc_id, band_idx, band_val,
                     min(doc_id) OVER (PARTITION BY band_idx, band_val) AS winner
              FROM cl)
      SELECT doc_id,
             CAST(sum(CASE WHEN doc_id = winner THEN 1 ELSE 0 END) AS BIGINT) AS bands_claimed,
             CAST(sum(CASE WHEN doc_id = winner THEN 1 ELSE 0 END) AS BIGINT) = 4 AS novel
      FROM won GROUP BY doc_id ORDER BY doc_id
    """.trim)
  )

  /** The q21 operator over documents: the raw-feature simhash as one
    * typed map, NULL text kept a NULL simhash; the only Exchange in the
    * plan is the final orderBy. */
  val q21Simhash = QueryDef(
    "q21_simhash",
    (s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, t) => (id, Option(t).map(simhashScala(_, rawFeature))) }
        .toDF("doc_id", "simhash")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH w AS (SELECT doc_id, ${fw("u.w")} AS f
                 FROM documents, unnest(regexp_split_to_array(trim(text), '\\s+')) AS u(w)),
      b AS (SELECT doc_id, i, sum(CASE WHEN (f // (1 << i)) % 2 = 1 THEN 1 ELSE -1 END) AS s
            FROM w, generate_series(0, 15) g(i) GROUP BY doc_id, i)
      SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
      FROM b GROUP BY doc_id ORDER BY doc_id
    """.trim)
  )

  /** LSH candidate pairs with token-set Jaccard columns — the shared
    * verify pipeline behind q22 (reporting) and q38 (clustering). */
  private def pairsWithJaccard(s: SparkSession, d: DataFrame): DataFrame = {
    // deliberately NOT persisted: bands and the token map are
    // corpus-sized, and re-deriving them per consumer measured flat at
    // bench scale — caching corpus-wide intermediates would trade
    // nothing here for real memory pressure at 100 TB (guide §5)
    val bands = bandsDf(sigDf(s, d))
    // broadcast hints: the band stream and the candidate-pair set are a
    // few narrow longs per doc, but they sit behind typed maps whose
    // size the planner cannot estimate — without the hint both joins
    // fall back to shuffling the token arrays (guide §3.1). The build
    // sides stay bounded at scale: bands is 4 rows/doc of 3 longs, and
    // cand is the LSH-bucket pair set the whole chain exists to keep
    // small (a real deployment shards this join by band prefix long
    // before any build side nears the 8 GB cap).
    val cand = bands.select(col("band"), col("bkey"), col("doc_id").as("id1"))
      .join(broadcast(bands.select(col("band"), col("bkey"), col("doc_id").as("id2"))),
        Seq("band", "bkey"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val t = d.select(col("doc_id"), array_distinct(tokens(col("text"))).as("tk"))
    t.select(col("doc_id").as("id1"), col("tk").as("tk1"))
      .join(broadcast(cand), "id1")
      .join(t.select(col("doc_id").as("id2"), col("tk").as("tk2")), "id2")
      .select(col("id1"), col("id2"),
        size(array_intersect(col("tk1"), col("tk2"))).as("inter"),
        (size(col("tk1")) + size(col("tk2")) - size(array_intersect(col("tk1"), col("tk2")))).as("uni"))
      .withColumn("jmilli", floor(col("inter") * 1000 / col("uni")).cast("long"))
  }

  /** Token-set Jaccard verification over the LSH candidate pairs: the
    * standard dedup chain shingle→minhash→band→bucket→verify. Candidates
    * are documents sharing at least one (band, bkey) bucket — so the
    * verifier sees exactly the near-dups LSH proposes (an equi-block on
    * metadata like (lang, n_chars) would MISS any near-dup whose length
    * differs by one char). Bucket sizes bound the self-join fan-out.
    */
  val q22JaccardPairs = QueryDef(
    "q22_jaccard_pairs",
    (s, dir) =>
      pairsWithJaccard(s, s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("id1", "id2"),
    Some(s"""
      WITH ${bandsSql("documents")},
      $candSql,
      tt AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS tk
             FROM documents),
      $jaccardSql
      SELECT id1, id2, CAST(inter AS INT) AS inter, CAST(n1 + n2 - inter AS INT) AS uni,
             CAST((1000 * inter) // (n1 + n2 - inter) AS BIGINT) AS jmilli
      FROM p ORDER BY id1, id2
    """.trim)
  )

  /** Verified near-dup edges over a corpus: LSH candidate pairs whose
    * token-set Jaccard clears `jmilliMin` per-mille. */
  private def verifiedPairs(s: SparkSession, d: DataFrame, jmilliMin: Long): DataFrame =
    pairsWithJaccard(s, d).filter(col("jmilli") >= jmilliMin).select("id1", "id2")

  /** Connected components by the large-star/small-star alternation
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond"): converges in O(log² n) rounds INDEPENDENT of component
    * diameter — a 100 TB duplicate chain costs ~a dozen rounds where
    * min-label propagation needs diameter-many. Each half-round is one
    * window shuffle on the node id.
    *
    * Input: undirected edges as (id1, id2) pairs. Output: star edges
    * (u = member, v = its component's min id); component roots and
    * isolated nodes carry no row — callers coalesce to self.
    */
  private[queries] def connectedComponents(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy("u")
    // each round references the previous edge set 4×, so the lineage (and
    // the analyzer's work) would grow 4^rounds without truncation —
    // checkpoint every round, the standard discipline for iterative graph
    // algorithms (a cluster deployment uses a reliable checkpoint dir)
    var edges = pairs
      .select(greatest(col("id1"), col("id2")).as("u"), least(col("id1"), col("id2")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    // carry the edge count across rounds: each round already counts its
    // OWN output for the convergence gate, so recounting the previous
    // round's set was a redundant job per iteration
    var edgeCount = edges.count()
    var iter = 0
    val maxIter = 32 // log²-round algorithm: 32 covers any realistic graph
    var done = edgeCount == 0L
    while (!done && iter < maxIter) {
      // large-star: every neighbor v > u re-links to m = min(N(u) ∪ {u})
      val und = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val lm = und.withColumn("m", least(min(col("v")).over(w), col("u")))
      // no distinct here: the small-star min is duplicate-insensitive
      // and `next` ends in its own distinct, so the intermediate dedup
      // bought nothing but a third shuffle per round (guide §2.4 —
      // "a distinct on data that is already unique"; here, one whose
      // only effect downstream is already produced by the final one)
      val ls = lm.filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // small-star: edges now all point downhill (u > v); u and every
      // neighbor re-link to m = min(N(u))
      val sm = ls.withColumn("m", min(col("v")).over(w))
      val next = sm.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(sm.select(col("u"), col("m").as("v")))
        .distinct().localCheckpoint()
      // both sides are distinct sets, so equal counts + one-sided
      // emptiness ⟹ equality; the count gate skips the expensive
      // except entirely in the rounds that are still shrinking (the
      // except stays the shuffle-based form — the edge set is
      // corpus-scale, so a broadcast equality probe would not survive
      // 100 TB even though it measures faster locally)
      val nextCount = next.count()
      done = nextCount == edgeCount && next.exceptAll(edges).isEmpty
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"connected components unconverged after $maxIter star rounds " +
          "(should be impossible for graphs under ~2^5 log-diameter; investigate)")
    edges
  }

  /** Dedup CLUSTERING: connected components over the verified near-dup
    * graph — the step a real pipeline runs before dropping duplicates
    * (every member maps to the component's min doc_id; the canonical doc
    * is its own cluster_id). Spark side: the large-star/small-star
    * alternation in [[connectedComponents]] (round count is log²-bounded,
    * not diameter-bounded — DedupCcSpec drives a diameter-99 path graph
    * through it). Oracle: DuckDB recursive-CTE transitive closure — min
    * reachable id is provably the same fixpoint, so the iterative
    * algorithm gets a bit-exact cross-engine check.
    */
  val q38DedupClusters = QueryDef(
    "q38_dedup_clusters",
    (s, dir) => {
      val d = dupCorpus(s, dir)
      val stars = connectedComponents(verifiedPairs(s, d, 800L))
      // stars is one row per non-root member of a duplicate cluster —
      // the near-dup set itself, bounded like cand above; broadcast it
      // so the corpus side never shuffles for the cluster-id attach
      d.select(col("doc_id"))
        .join(broadcast(stars.select(col("u").as("doc_id"), col("v").as("root"))),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("cluster_id"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE dup AS ($dupCorpusSql),
      ${bandsSql("dup")},
      $candSql,
      tt AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS tk FROM dup),
      $jaccardSql,
      pairs AS (SELECT id1, id2 FROM p WHERE (1000 * inter) // (n1 + n2 - inter) >= 800),
      sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
              UNION ALL SELECT id2, id1 FROM pairs),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM dup
        UNION
        SELECT r.a, s2.dst FROM reach r JOIN sym s2 ON r.b = s2.src)
      SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
      FROM reach GROUP BY a ORDER BY doc_id
    """.trim)
  )

  /** Window width for duplicated-substring detection: long enough that
    * a shared window is memorization-grade duplication, short enough
    * that boilerplate sentences still register (Lee et al. 2022 use 50
    * BPE tokens; 16 whitespace words is the same order of text). */
  private[queries] val SubK = 16

  /** Two independent Horner hashes over ~31-bit prime moduli, packed
    * into one 62-bit key. A single small modulus is corpus-size-
    * dependent noise: at P = 10^6 a measured 63% of the windows q52
    * flagged on sf0.1 were hash collisions, not text (196k windows
    * into 10^6 buckets). With the 62-bit key the expected false-dup
    * probability per window is ~n/2^62 — negligible until ~10^9
    * windows share one horizon, and a real deployment at that scale
    * verifies flagged spans verbatim anyway (as q22 verifies LSH
    * candidates). Horner keeps every intermediate ≤ P·B ≈ 2^39, so
    * both engines stay in exact BIGINT arithmetic. */
  private val SubB1 = 131L
  private val SubP1 = 2147483647L
  private val SubB2 = 257L
  private val SubP2 = 2147483629L

  /** Windowwise O(n·K) reference form of the window hashes — retained
    * as the property-test twin of the O(n) rolling recurrence in
    * [[windowHashesScala]] (same values by the Rabin–Karp identity;
    * WindowHashSpec asserts equality on random and adversarial token
    * streams, so the production path can never drift from the spec
    * form the DuckDB oracle replays). */
  private[graft] def windowHashesWindowwise(text: String): Array[Long] = {
    val toks = if (text == null) Array.empty[String] else TextOps.tokensScala(text)
    val n = toks.length
    if (n < SubK) Array.empty
    else {
      val f1 = new Array[Long](n)
      val f2 = new Array[Long](n)
      var i = 0
      while (i < n) {
        val raw = TextOps.wordFeatureScala(toks(i))
        f1(i) = raw % SubP1
        f2(i) = raw % SubP2
        i += 1
      }
      Array.tabulate(n - SubK + 1) { p =>
        var h1 = f1(p)
        var h2 = f2(p)
        var j = 1
        while (j < SubK) {
          h1 = (h1 * SubB1 + f1(p + j)) % SubP1
          h2 = (h2 * SubB2 + f2(p + j)) % SubP2
          j += 1
        }
        h1 * 2147483648L + h2 // pack: h1 << 31 | h2, both < 2^31
      }
    }
  }

  /** All SubK-token window hashes of a text, in document order — the
    * integer-exact core shared by the batch q52 operator and the
    * streaming window-claim filter (EventStreams.windowClaimsStream).
    * NULL/short texts yield no windows.
    *
    * O(n) Horner/Rabin–Karp rolling recurrence (the r4-verdict upgrade
    * from the windowwise O(n·K) stand-in): slide by subtracting the
    * departing feature times B^(K-1) and appending the arriving one,
    * per modulus. All intermediates stay under 2^62 (operands < 2^31,
    * one product per step), so the arithmetic is exact in a Long —
    * identical values to [[windowHashesWindowwise]] on every input.
    * For SubK=16 this is a ~8× hot-loop saving; the point at 100 TB is
    * asymptotic: per-token cost becomes independent of window length,
    * so widening K (stricter duplication) no longer multiplies the
    * shingling CPU. */
  private[graft] def windowHashesScala(text: String): Array[Long] = {
    val toks = if (text == null) Array.empty[String] else TextOps.tokensScala(text)
    val n = toks.length
    if (n < SubK) Array.empty
    else {
      val f1 = new Array[Long](n)
      val f2 = new Array[Long](n)
      var i = 0
      while (i < n) {
        val raw = TextOps.wordFeatureScala(toks(i))
        f1(i) = raw % SubP1
        f2(i) = raw % SubP2
        i += 1
      }
      // B^(K-1) mod P — the departing-term weight
      var bk1 = 1L; var bk2 = 1L
      var j = 1
      while (j < SubK) { bk1 = (bk1 * SubB1) % SubP1; bk2 = (bk2 * SubB2) % SubP2; j += 1 }
      val out = new Array[Long](n - SubK + 1)
      var h1 = f1(0); var h2 = f2(0)
      j = 1
      while (j < SubK) {
        h1 = (h1 * SubB1 + f1(j)) % SubP1
        h2 = (h2 * SubB2 + f2(j)) % SubP2
        j += 1
      }
      out(0) = h1 * 2147483648L + h2
      var p = 1
      while (p + SubK <= n) {
        h1 = (((h1 - (f1(p - 1) * bk1) % SubP1 + SubP1) % SubP1) * SubB1 + f1(p + SubK - 1)) % SubP1
        h2 = (((h2 - (f2(p - 1) * bk2) % SubP2 + SubP2) % SubP2) * SubB2 + f2(p + SubK - 1)) % SubP2
        out(p) = h1 * 2147483648L + h2
        p += 1
      }
      out
    }
  }

  /** The oracle chain t → fl → pos → sh over documents: every SubK-token
    * window hash h, as (`shCols`, h) rows — the windowwise form that
    * [[windowHashesScala]] is property-tested against, shared by q52,
    * q57 and q62. */
  private def windowHashSql(shCols: String): String =
    s"""t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents),
      fl AS (SELECT doc_id,
                    list_transform(toks, w -> (length(w) * 31 + ascii(substring(w, 1, 1))) % $SubP1) AS fs1,
                    list_transform(toks, w -> (length(w) * 31 + ascii(substring(w, 1, 1))) % $SubP2) AS fs2,
                    len(toks) AS n
             FROM t),
      pos AS (SELECT doc_id, fs1, fs2, unnest(generate_series(1, n - ${SubK - 1})) AS i
              FROM fl WHERE n >= $SubK),
      sh AS (SELECT $shCols,
                    list_reduce(fs1[i : i + ${SubK - 1}], (a, b) -> (a * $SubB1 + b) % $SubP1) * 2147483648
                    + list_reduce(fs2[i : i + ${SubK - 1}], (a, b) -> (a * $SubB2 + b) % $SubP2) AS h
             FROM pos)"""

  /** (doc_id, h): one row per SubK-token window of each document. */
  private def windowHashRows(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        windowHashesScala(text).iterator.map(h => (id, h))
      })
      .toDF("doc_id", "h")
  }

  /** Duplicated-SUBSTRING detection — the training-data dedup family
    * document-level near-dup (MinHash/SimHash) cannot see: two mostly
    * different documents sharing one verbatim boilerplate passage
    * (licence block, navigation stub, copied paragraph). Every SubK-
    * token window gets an order-sensitive polynomial hash of the
    * engine-agnostic word features (Rabin-Karp form, computed by the
    * O(n) rolling recurrence in [[windowHashesScala]] — property-
    * tested identical to the windowwise spec form the oracle replays); a
    * window whose hash also appears in ANOTHER document marks
    * cross-document duplication, reported per doc as a duplicated-
    * window fraction. Inspired by Lee et al., "Deduplicating Training
    * Data Makes Language Models Better" (2022) — their suffix-array
    * exactness traded for the hash-window form that fits a relational
    * engine (62-bit double-modulus key: per-window false-dup
    * probability ~n/2^62, see the constant doc; residual flags are
    * settled downstream by a verbatim check on the flagged spans
    * exactly as q22 verifies LSH candidates).
    *
    * Scale shape: one typed map emits (doc_id, h) per window — rows ≈
    * token count, the same explosion MinHash shingling pays — then a
    * single lineage: partial-aggregated compaction to (h, doc_id,
    * count), a count window over h for the sharing-doc count, and the
    * per-doc rollup. One corpus scan, three shuffles of the COMPACT
    * form, no self-join, no persist (hash keys are uniform by
    * construction, so no skew). At 100 TB the standard refinement is
    * a bloom-filter pre-pass over singleton hashes so only repeated
    * windows reach the shuffle.
    */
  val q52DupSubstrings = QueryDef(
    "q52_dup_substrings",
    (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val shingles = windowHashRows(docs)
      // single-lineage shape: compact to one row per (h, doc) with its
      // instance count (map-side combine soaks up self-repeats), then a
      // count window over h gives each row the number of DISTINCT docs
      // sharing the hash — the corpus is scanned and shingled ONCE
      // (asserted by PlanAuditSpec). The tempting
      // shingles.join(shingles.groupBy(h)...) self-join reads and
      // extracts every document twice: column pruning makes the two
      // branches non-identical, so Catalyst cannot ReusedExchange them.
      val perKey = shingles.groupBy("h", "doc_id").agg(count(lit(1)).as("c"))
      val perDoc = perKey
        .withColumn("nd", count(lit(1)).over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_windows"),
          sum(when(col("nd") > 1, col("c")).otherwise(0L)).as("n_dup_windows"))
      docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
          coalesce(round(col("n_dup_windows") / col("n_windows"), 6), lit(0.0)).as("dup_frac"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH ${windowHashSql("doc_id")},
      gd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY h),
      pd AS (SELECT sh.doc_id,
                    count(*) AS n_windows,
                    CAST(sum(CASE WHEN gd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
             FROM sh JOIN gd ON sh.h = gd.h GROUP BY sh.doc_id)
      SELECT d.doc_id,
             coalesce(pd.n_windows, 0) AS n_windows,
             coalesce(pd.n_dup_windows, 0) AS n_dup_windows,
             coalesce(round(CAST(pd.n_dup_windows AS DOUBLE) / pd.n_windows, 6), 0.0) AS dup_frac
      FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
      ORDER BY d.doc_id
    """.trim)
  )

  /** Benchmark DECONTAMINATION — the training-data hygiene pass that
    * protects evaluation integrity (GPT-3 App. C / Lee et al. 2022
    * both decontaminate by n-gram overlap): any training document
    * sharing a SubK-token window with a held-out benchmark document is
    * flagged before training. Here the "benchmark" is the deterministic
    * doc_id % 17 slice of the corpus (in production a separate small
    * table); windows are the SAME Rabin–Karp double-modulus hashes as
    * q52 — one shared core, one oracle arithmetic.
    *
    * Scale shape: benchmarks are MBs while the corpus is TBs, so the
    * benchmark side is filtered AT THE SCAN (pushed predicate), its
    * distinct window hashes are broadcast, and the training side
    * resolves contamination in its own map-side pipeline with a
    * broadcast left join — no corpus shuffle at all before the per-doc
    * rollup (PlanAuditSpec asserts the broadcast). Flagged docs carry
    * counts, not just a bit, so thresholded policies (drop vs
    * span-redact) stay downstream decisions. When even the distinct
    * hash relation outgrows a row-wise broadcast (10^9+ windows), the
    * scale path is the two-tier Bloom sieve pinned by
    * BloomDecontamSpec: bloom_filter_agg folds the benchmark side into
    * one broadcastable binary (zero false negatives by construction),
    * might_contain sieves the corpus map-side, and THIS exact pass runs
    * only over the sieve's survivors.
    */
  val q57Decontam = QueryDef(
    "q57_decontam",
    (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val benchHashes = windowHashRows(docs.filter(col("doc_id") % 17 === 0))
        .select("h").distinct().withColumn("hit", lit(1L))
      val train = docs.filter(col("doc_id") % 17 =!= 0)
      val perDoc = windowHashRows(train)
        .join(broadcast(benchHashes), Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      train.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
          (coalesce(col("n_contaminated"), lit(0L)) > 0).cast("int").as("contaminated"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH ${windowHashSql("doc_id")},
      bg AS (SELECT DISTINCT h FROM sh WHERE doc_id % 17 = 0),
      pd AS (SELECT s2.doc_id,
                    count(*) AS n_windows,
                    CAST(sum(CASE WHEN bg.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
             FROM sh s2 LEFT JOIN bg ON s2.h = bg.h
             WHERE s2.doc_id % 17 <> 0
             GROUP BY s2.doc_id)
      SELECT d.doc_id,
             coalesce(pd.n_windows, 0) AS n_windows,
             coalesce(pd.n_contaminated, 0) AS n_contaminated,
             CAST(CASE WHEN coalesce(pd.n_contaminated, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
      FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
      WHERE d.doc_id % 17 <> 0
      ORDER BY d.doc_id
    """.trim)
  )

  /** Span-level decontamination hits — q57 tells you WHICH documents
    * overlap the benchmark; this emits WHERE: the 0-based token index
    * of every contaminated SubK-token window, so a pipeline can REDACT
    * the leaked span (drop tokens [tok_start, tok_start+16)) instead
    * of discarding the whole document — the usual policy when the leak
    * is one quoted benchmark passage inside an otherwise-clean page.
    * Same broadcast shape as q57: the corpus side stays map-side up to
    * the final sort.
    */
  val q62DecontamSpans = QueryDef(
    "q62_decontam_spans",
    (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val benchHashes = windowHashRows(docs.filter(col("doc_id") % 17 === 0)).select("h").distinct()
      val trainHits = docs.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          windowHashesScala(text).iterator.zipWithIndex.map {
            case (h, pos) => (id, pos.toLong, h)
          }
        })
        .toDF("doc_id", "tok_start", "h")
      trainHits
        .join(broadcast(benchHashes), Seq("h"), "left_semi")
        .select(col("doc_id"), col("tok_start"))
        .orderBy("doc_id", "tok_start")
    },
    Some(s"""
      WITH ${windowHashSql("doc_id, i")},
      bg AS (SELECT DISTINCT h FROM sh WHERE doc_id % 17 = 0)
      SELECT s2.doc_id, CAST(s2.i - 1 AS BIGINT) AS tok_start
      FROM sh s2 SEMI JOIN bg ON s2.h = bg.h
      WHERE s2.doc_id % 17 <> 0
      ORDER BY s2.doc_id, tok_start
    """.trim)
  )

  /** CCNet-style paragraph-level dedup with document reconstruction
    * (Wenzek et al., CCNet 2020, arXiv:1911.00359): hash every
    * paragraph, drop corpus-wide repeats keeping only the FIRST
    * occurrence, then reassemble each document from its surviving
    * paragraphs. This is the web-pipeline middle ground between q18
    * (whole-doc exact) and q19-q22 (near-dup): boilerplate paragraphs
    * (cookie banners, nav headers) repeat across millions of pages, and
    * paragraph dedup strips them WITHOUT discarding the documents.
    *
    * The documents corpus is single-line, so paragraph structure is
    * synthesized deterministically INSIDE the query on both engines
    * (the q63 fixture pattern): doc d's paragraph j is the text of doc
    * p(d,j), with p(d,0) = 0 — a universal boilerplate header that
    * repeats N times — and p(d,j) = (31·d + 7919·j²) mod N for j=1..3,
    * per-j bijective but colliding ACROSS j, so genuine cross-document
    * repeats occur at every multiplicity.
    *
    * Keep-first rule: a paragraph survives iff its position key
    * 10·doc + j is the corpus-wide minimum for its md5; documents are
    * reassembled from survivors in position order (newline-joined) and
    * gated by hash, so the reconstruction text itself is bit-exact.
    *
    * Scale shape: the paragraph-fetch join exists only to synthesize
    * the fixture (production paragraphs come from splitting the text
    * column — a map). The dedup itself is two shuffles: min-position
    * per content hash (window over md5, map-side combinable as a
    * groupBy-min + join in the production variant), then reassembly
    * shuffled on doc_id. Nothing is ever all-pairs; state per hash is
    * one (pos) value.
    */
  val q67ParaDedup = QueryDef(
    "q67_para_dedup",
    (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val n = docs.count() // footer metadata, no scan
      val slots = docs.select(col("doc_id").as("d"),
          explode(sequence(lit(0), lit(3))).as("j"))
        .withColumn("src",
          when(col("j") === 0, lit(0L))
            .otherwise(pmod(col("d") * 31L + col("j") * col("j") * 7919L, lit(n))))
      val paras = slots
        .join(docs.select(col("doc_id").as("src"), col("text")), Seq("src"))
        .select(col("d"), col("j"), col("text"))
      val byHash = Window.partitionBy(md5(to_binary(col("text"), lit("utf-8"))))
      // position key pos = d·SLOTS + j encodes lexicographic (d, j):
      // the multiplier is the slot count (sequence(0,3) → 4), so keys
      // from different docs can never interleave; widening the fixture
      // to more paragraphs per doc only needs SLOTS to follow
      val SLOTS = 4L
      val kept = paras
        .withColumn("pos", col("d") * SLOTS + col("j"))
        .withColumn("keep_pos", min(col("pos")).over(byHash))
        .filter(col("pos") === col("keep_pos"))
      val rebuilt = kept.groupBy(col("d"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(
            transform(array_sort(collect_list(struct(col("j"), col("text")))),
              p => p.getField("text")), "\n").as("clean"))
      docs.select(col("doc_id"))
        .join(rebuilt, col("doc_id") === col("d"), "left")
        .select(col("doc_id"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          length(coalesce(col("clean"), lit(""))).as("clean_chars"),
          md5(to_binary(coalesce(col("clean"), lit("")), lit("utf-8"))).as("clean_hash"))
        .orderBy("doc_id")
    },
    Some("""
      WITH nn AS (SELECT count(*) AS n FROM documents),
      slots AS (
        SELECT d.doc_id AS d, j.j AS j,
               CASE WHEN j.j = 0 THEN 0
                    ELSE (d.doc_id * 31 + j.j * j.j * 7919) % (SELECT n FROM nn) END AS src
        FROM documents d, (SELECT unnest(generate_series(0, 3)) AS j) j),
      paras AS (
        SELECT s.d, s.j, t.text
        FROM slots s JOIN documents t ON t.doc_id = s.src),
      keyed AS (
        SELECT d, j, text, d * 4 + j AS pos,
               min(d * 4 + j) OVER (PARTITION BY md5(text)) AS keep_pos
        FROM paras),
      kept AS (SELECT d, j, text FROM keyed WHERE pos = keep_pos),
      rebuilt AS (
        SELECT d, count(*) AS n_kept, string_agg(text, chr(10) ORDER BY j) AS clean
        FROM kept GROUP BY d)
      SELECT doc.doc_id,
             CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
             CAST(len(coalesce(r.clean, '')) AS INT) AS clean_chars,
             md5(coalesce(r.clean, '')) AS clean_hash
      FROM documents doc LEFT JOIN rebuilt r ON doc.doc_id = r.d
      ORDER BY doc.doc_id
    """.trim)
  )

  val all: Seq[QueryDef] = Seq(
    q18ExactDedup, q19MinhashSig, q20LshBuckets, q21Simhash, q22JaccardPairs,
    q38DedupClusters, q42BandClaims, q52DupSubstrings, q57Decontam,
    q62DecontamSpans, q67ParaDedup)
}
