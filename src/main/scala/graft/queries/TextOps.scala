package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: token
  * counting, quality scoring, language-ID (stopword heuristic), document
  * fingerprinting, and the whitespace-normalization regex chain — all as
  * codegen-friendly Catalyst column expressions (no UDFs), each with a
  * bit-exact DuckDB oracle.
  */
object TextOps {

  /** Whitespace tokens of trimmed text (no empties by construction). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  private val pWsRun = java.util.regex.Pattern.compile("\\s+")

  /** Scala twin of the SQL tokenizer `split(trim(text), '\s+')` every
    * oracle uses — for typed-map queries that must stay bit-exact with
    * DuckDB: strips SPACES only (SQL trim semantics; Java's
    * String.trim also eats \t\n\r) and keeps leading/trailing empty
    * tokens exactly as Spark's split (limit -1) and DuckDB's
    * regexp_split_to_array do. Known contract boundary: Java's \s
    * includes U+000B vertical tab, RE2's (DuckDB's) does not — that
    * divergence is shared by EVERY Spark-SQL-regex query in this repo
    * vs DuckDB, and \x0B is out of contract for the corpus (the
    * extraction ingest strips control chars).
    */
  private[graft] def tokensScala(s: String): Array[String] = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    pWsRun.split(s.substring(b, e), -1)
  }

  /** Scala twin of [[wordFeature]] (31*len + first char code; 0 for
    * the empty token, matching ascii('') = 0 in both engines) — the
    * ONE definition every typed-map hash path shares (minhash,
    * simhash, window hashes); a feature change applied anywhere else
    * would silently diverge the oracles of whichever path was missed.
    * Both parts count code points, as Spark's and DuckDB's length() and
    * ascii() do: a char above U+FFFF is one, not two UTF-16 units. */
  private[graft] def wordFeatureScala(w: String): Long =
    31L * w.codePointCount(0, w.length) + (if (w.isEmpty) 0L else w.codePointAt(0).toLong)

  /** Scala twin of q16's positional fingerprint — Σ (i+1)·wordFeature
    * mod 1e9+7 over the whitespace tokens. The ONE combiner every
    * content-keyed decision (q59 splits, q64 packing order, CorpusJob
    * assembly) shares; per the wordFeatureScala warning, a divergent
    * copy would silently break the cross-operator leakage guarantees.
    */
  private[graft] def positionalFpScala(text: String): Long =
    positionalFpOfTokens(tokensScala(text))

  /** Token-array form for callers that already tokenized the row. */
  private[graft] def positionalFpOfTokens(toks: Array[String]): Long = {
    var acc = 0L
    var i = 0
    while (i < toks.length) {
      acc += (i + 1L) * wordFeatureScala(toks(i)); i += 1
    }
    ((acc % 1000000007L) + 1000000007L) % 1000000007L
  }

  /** Deterministic per-word feature: 31*len + code of first char —
    * shared by fingerprint / minhash / simhash so the oracle can
    * replicate it arithmetically (no engine-specific hash functions).
    */
  def wordFeature(w: Column): Column =
    (length(w) * lit(31) + ascii(substring(w, 1, 1))).cast("long")

  private val fwSql = "(length({w}) * 31 + ascii(substring({w}, 1, 1)))"
  private def fw(w: String) = fwSql.replace("{w}", w)

  val q13TokenStats = QueryDef(
    "q13_token_stats",
    (s, dir) => {
      val t = tokens(col("text"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(
          col("doc_id"),
          size(t).as("n_tokens"),
          size(filter(t, w => length(w) > 3)).as("n_long"),
          length(regexp_replace(col("text"), "\\s", "")).as("n_chars_ns"),
          (length(regexp_replace(col("text"), "\\s", "")).cast("double") / size(t)).as("mean_wlen")
        )
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> length(w) > 3)) AS INT) AS n_long,
             CAST(length(regexp_replace(text, '\s', '', 'g')) AS INT) AS n_chars_ns,
             CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\s+')) AS mean_wlen
      FROM documents ORDER BY doc_id
    """.trim)
  )

  private[queries] val stopEn = Seq("the", "a", "of", "and")

  val q14QualityScore = QueryDef(
    "q14_quality_score",
    (s, dir) => {
      val t = tokens(col("text"))
      val nTok = size(t)
      val nStop = size(filter(t, w => w.isin(stopEn: _*)))
      val meanW = length(regexp_replace(col("text"), "\\s", "")).cast("double") / nTok
      s.read.parquet(s"$dir/documents.parquet")
        .select(
          col("doc_id"),
          nTok.as("n_tokens"),
          nStop.as("n_stop"),
          round(lit(0.5) * (nStop.cast("double") / nTok) +
                lit(0.5) * least(meanW / lit(10.0), lit(1.0)), 6).as("quality")
        )
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
               CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    w -> w IN ('the','a','of','and'))) AS INT) AS n_stop,
               CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS chars_ns
        FROM documents)
      SELECT doc_id, n_tokens, n_stop,
             round(0.5 * (CAST(n_stop AS DOUBLE) / n_tokens) +
                   0.5 * least(chars_ns / n_tokens / 10.0, 1.0), 6) AS quality
      FROM t ORDER BY doc_id
    """.trim)
  )

  /** n-gram/stopword language ID: votes per language stopword set,
    * deterministic tie-break en > de > es > fr.
    */
  val q15LangId = QueryDef(
    "q15_langid",
    (s, dir) => {
      val t = tokens(col("text"))
      def votes(ws: Seq[String]) = size(filter(t, w => w.isin(ws: _*)))
      val en = votes(Seq("the", "a", "of", "and"))
      val de = votes(Seq("der", "das", "und", "ein"))
      val es = votes(Seq("el", "los", "una", "y"))
      val fr = votes(Seq("le", "les", "et", "dans"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), en.as("v_en"), de.as("v_de"), es.as("v_es"), fr.as("v_fr"))
        .withColumn("pred_lang",
          when(col("v_en") >= col("v_de") && col("v_en") >= col("v_es") && col("v_en") >= col("v_fr"), "en")
            .when(col("v_de") >= col("v_es") && col("v_de") >= col("v_fr"), "de")
            .when(col("v_es") >= col("v_fr"), "es")
            .otherwise("fr"))
        .orderBy("doc_id")
    },
    Some("""
      WITH v AS (
        SELECT doc_id, lang,
          CAST(len(list_filter(regexp_split_to_array(trim(text),'\s+'), w -> w IN ('the','a','of','and'))) AS INT) AS v_en,
          CAST(len(list_filter(regexp_split_to_array(trim(text),'\s+'), w -> w IN ('der','das','und','ein'))) AS INT) AS v_de,
          CAST(len(list_filter(regexp_split_to_array(trim(text),'\s+'), w -> w IN ('el','los','una','y'))) AS INT) AS v_es,
          CAST(len(list_filter(regexp_split_to_array(trim(text),'\s+'), w -> w IN ('le','les','et','dans'))) AS INT) AS v_fr
        FROM documents)
      SELECT doc_id, lang, v_en, v_de, v_es, v_fr,
             CASE WHEN v_en >= v_de AND v_en >= v_es AND v_en >= v_fr THEN 'en'
                  WHEN v_de >= v_es AND v_de >= v_fr THEN 'de'
                  WHEN v_es >= v_fr THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM v ORDER BY doc_id
    """.trim)
  )

  /** Rolling position-weighted fingerprint (document fingerprint /
    * rolling-hash family): sum over tokens of position × wordFeature,
    * mod 1e9+7 — order-sensitive, engine-agnostic arithmetic.
    */
  val q16Fingerprint = QueryDef(
    "q16_fingerprint",
    (s, dir) => {
      val t = tokens(col("text"))
      val terms = transform(t, (w, i) => (i.cast("long") + 1L) * wordFeature(w))
      val fp = pmod(aggregate(terms, lit(0L), (acc, x) => acc + x), lit(1000000007L))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), fp.as("fingerprint"))
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id,
             CAST(CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\\s+'),
                  (w, i) -> i * ${fw("w")})) AS BIGINT) % 1000000007 AS BIGINT) AS fingerprint
      FROM documents ORDER BY doc_id
    """.trim)
  )

  /** The whitespace-normalization regex chain from the markdown epilogue
    * (markdown.py:367-396 / postprocessing squeeze) proven against an
    * independent regex engine: inject blank-line noise, then normalize.
    */
  val q17WsNormalize = QueryDef(
    "q17_ws_normalize",
    (s, dir) => {
      val noisy = regexp_replace(col("text"), " (the|a) ", "  \n\n\n\n$1 ")
      val norm = regexp_replace(
        regexp_replace(
          regexp_replace(noisy, "[ \t]+\n", "\n"),
          "\n{3,}", "\n\n"),
        " {2,}", " ")
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), length(norm).as("norm_len"),
                md5(to_binary(norm, lit("utf-8"))).as("norm_md5"))
        .orderBy("doc_id")
    },
    Some("""
      WITH n AS (
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text, ' (the|a) ', '  ' || chr(10) || chr(10) || chr(10) || chr(10) || '\1 ', 'g'),
                     '[ \t]+\n', chr(10), 'g'),
                   '\n{3,}', chr(10) || chr(10), 'g'),
                 ' {2,}', ' ', 'g') AS norm
        FROM documents)
      SELECT doc_id, CAST(length(norm) AS INT) AS norm_len, md5(norm) AS norm_md5
      FROM n ORDER BY doc_id
    """.trim)
  )

  /** X13 ligature cleanup round-trip: inject typographic ligatures, run
    * the real Scala cleanup in Spark, and let DuckDB assert the inverse.
    */
  val q29Ligatures = QueryDef(
    "q29_ligatures",
    (s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val noisy = text.replace("fi", "ﬁ").replace("fl", "ﬂ").replace("ff", "ﬀ")
          (id, graft.extract.TextCleanup.replaceLigatures(noisy))
        })
        .toDF("doc_id", "cleaned")
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, text AS cleaned FROM documents ORDER BY doc_id
    """.trim)
  )

  /** BPE-ish subword token counting: the GPT-2-style pre-tokenizer split
    * (letter runs / digit runs / punctuation runs, leading-space glued)
    * as a pure regex count — the standard "how many tokens will this
    * cost" estimator for training-data budgeting.
    */
  val q33BpeTokens = QueryDef(
    "q33_bpe_tokens",
    (s, dir) => {
      val pat = " ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n_bpe"),
          size(filter(regexp_extract_all(col("text"), lit(pat), lit(0)),
            t => !regexp_like(t, lit("^\\s+$")))).as("n_bpe_nonws"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id,
                        regexp_extract_all(text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+') AS toks
                 FROM documents)
      SELECT doc_id, CAST(len(toks) AS INT) AS n_bpe,
             CAST(len(list_filter(toks, x -> NOT regexp_matches(x, '^\s+$'))) AS INT) AS n_bpe_nonws
      FROM t ORDER BY doc_id
    """.trim)
  )

  val all: Seq[QueryDef] = Seq(
    q13TokenStats, q14QualityScore, q15LangId, q16Fingerprint, q17WsNormalize,
    q29Ligatures, q33BpeTokens)
}
