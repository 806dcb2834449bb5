package perfbench

import graft.queries._

/** The queries workload's fixed list: seven of the ROADMAP's ten target
  * queries and, from each of the 11 packs they leave out, its quickest
  * query (from CorpusQueries, q34, which runs `graft.corpus.TemplateScrub`),
  * so every pack is timed.
  *
  * All 87 queries take about 50 s a pass on a 4-core host even over
  * sf0.01-sized tables, too long to repeat in every run. The targets left
  * out are q40, q49 and q55, about 8 s of a pass between them; q53 stays
  * for the Lloyd/PQ small-job direction they share.
  */
object QueryList {

  val targets: Seq[(String, String)] = Seq(
    "q19" -> "q19_minhash_sig", "q20" -> "q20_lsh_buckets", "q22" -> "q22_jaccard_pairs",
    "q38" -> "q38_dedup_clusters", "q53" -> "q53_pq_codes", "q63" -> "q63_pagerank",
    "q72" -> "q72_link_rank")

  private val others = Seq("q06_window_running", "q16_fingerprint", "qx_media_features",
    "q27_edit_distance", "qx_sql_extract_expr", "q34_template_scrub", "qx_staircase",
    "qx_warc_scan", "q64_seq_pack", "q48_salted_distinct", "q71_url_canon")

  val names: Seq[String] = targets.map(_._2) ++ others

  val packs: Seq[(String, Set[String])] = Seq(
    "Relational" -> Relational.all, "TextOps" -> TextOps.all, "Dedup" -> Dedup.all,
    "Similarity" -> Similarity.all, "MultiModal" -> MultiModal.all,
    "EvalQueries" -> EvalQueries.all, "ExtractQueries" -> ExtractQueries.all,
    "CorpusQueries" -> CorpusQueries.all, "AlignQueries" -> AlignQueries.all,
    "IoQueries" -> IoQueries.all, "QualityQueries" -> QualityQueries.all, "Skew" -> Skew.all,
    "GraphQueries" -> GraphQueries.all, "WebQueries" -> WebQueries.all,
  ).map { case (p, qs) => p -> qs.map(_.name).toSet }

  /** Mark ExtractQueries' outlinks oracle cache as already written for
    * `dir`; q72 is the listed query that would write it. The cache goes
    * to a fixed path outside the work dir and only an oracle reads it; a
    * query writes it once per JVM, so a timed pass never writes it either
    * way. */
  def skipOracleCaches(dir: String): Unit = {
    val f = ExtractQueries.getClass.getDeclaredField("outlinksKey")
    f.setAccessible(true)
    f.set(null, s"$dir|${ExtractQueries.corpusSize(dir)}")
  }
}
