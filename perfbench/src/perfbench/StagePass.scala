package perfbench

import graft.core.ExtractedDoc
import graft.extract._
import graft.html.{DomBuilder, HtmlTokenizer}
import graft.post.Postprocess
import java.nio.charset.StandardCharsets
import scala.util.control.NonFatal

/** The traced single-thread stage pass: for every page it calls the
  * public functions `Extractor.extract` composes, in the same order, with
  * `DocBudget` armed and cleared as the extractor does, and times each
  * call. Every composed document must equal `Extractor.extract`'s, or the
  * lap times would describe a different computation.
  */
object StagePass {

  val stages: Seq[String] = Seq("extract.decode_s", "html.tokenize_s", "html.dom_s",
    "extract.segment_s", "extract.serialize_s", "post.postprocess_s", "extract.reinsert_s")

  final case class Result(layers: Map[String, Double], mismatched: Seq[String])

  def run(pages: Seq[(String, Array[Byte])], cfg: Extractor.Config = Extractor.default): Result = {
    require(!cfg.emitSentinels, "the stage pass composes the sentinel-free path")
    val ns = new Array[Long](stages.length)
    var tokens, htmlBytes, mdBytes, kept, dropped, spans, truncated, slices = 0L
    val mismatched = Seq.newBuilder[String]

    def fail(url: String, e: Throwable) =
      ExtractedDoc(url, "", Vector.empty, 0, 0, Map.empty, ok = false,
        error = Option(e.getMessage).getOrElse(e.getClass.getSimpleName))

    for ((url, bytes) <- pages) {
      require(bytes.length <= cfg.maxHtmlBytes, s"$url exceeds the extractor's size cap")
      htmlBytes += bytes.length
      var t = System.nanoTime()
      def lap(i: Int): Unit = { val n = System.nanoTime(); ns(i) += n - t; t = n }
      val composed =
        if (bytes.isEmpty) ExtractedDoc(url, "", Vector.empty, 0, 0, Map.empty, ok = false,
          error = "empty-input")
        else try {
          val html = CharsetSniff.decode(bytes).text.replace('\u00A0', ' ')
          lap(0)
          DocBudget.begin(cfg.timeoutMillis)
          try {
            val toks = HtmlTokenizer.tokenize(html, cfg.maxTokens); lap(1)
            val dom = DomBuilder.build(toks, cfg.maxDomDepth, cfg.maxDomNodes); lap(2)
            val seg = BlockSegmenter.segment(dom); lap(3)
            val ser = MarkdownSerializer.serialize(seg.blocks); lap(4)
            val post = Postprocess.postprocessSingle(ser.markdown, cfg.markdownFix); lap(5)
            val (md, sp) = SpanReinserter.reinsert(post.text, ser.bodies); lap(6)
            tokens += toks.length
            mdBytes += md.getBytes(StandardCharsets.UTF_8).length
            kept += seg.stats.blocksKept; dropped += seg.stats.blocksDropped
            spans += sp.length
            if (post.repetitionTruncated) truncated += 1
            slices += post.slicesRemoved
            ExtractedDoc(url, md, sp, seg.stats.blocksKept, seg.stats.blocksDropped,
              sp.groupBy(_.kind).map { case (k, v) => (k, v.length) }, ok = true, error = "",
              references = ser.refs)
          } catch { case NonFatal(e) => fail(url, e) }
          finally DocBudget.clear()
        } catch { case NonFatal(e) => fail(url, e) }
      if (composed != Extractor.extract(url, bytes, cfg)) mismatched += url
    }
    val times = stages.zip(ns).map { case (k, v) => k -> v / 1e9 }
    Result((times ++ Seq(
      "html.tokens" -> tokens, "extract.html_bytes" -> htmlBytes, "extract.md_bytes" -> mdBytes,
      "extract.blocks_kept" -> kept, "extract.blocks_dropped" -> dropped,
      "extract.spans" -> spans, "post.repetition_truncated" -> truncated,
      "post.slices_removed" -> slices).map { case (k, v) => k -> v.toDouble }).toMap,
      mismatched.result())
  }
}
