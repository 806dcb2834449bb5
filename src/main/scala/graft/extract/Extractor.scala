package graft.extract

import graft.core.{ExtractedDoc, PageRow, Span}
import graft.html.DomBuilder
import graft.post.Postprocess
import java.nio.charset.StandardCharsets
import scala.util.control.NonFatal

/** The per-row extraction pipeline: html bytes → tokenize → DOM → block
  * classify → serialize (span markers) → postprocess → span reinsert.
  *
  * Deterministic end to end (north rule: byte-identical markdown + span
  * offsets per url). Faults are isolated per row (reference analog:
  * pebble timeout/fault isolation, split_htmls_to_pages.py:140-176) —
  * a bad page yields an `ok=false` row, never a job failure.
  */
object Extractor {

  final case class Config(
      maxHtmlBytes: Int = 16 << 20, // hard cap on per-row input (skew guard)
      maxTokens: Int = 1 << 20,
      maxDomDepth: Int = 256,
      maxDomNodes: Int = 1 << 20,
      markdownFix: Boolean = true,
      // W7 sentinel emission (predict.py:171-195): a page whose extraction
      // is empty despite non-empty input yields [MISSING_PAGE_EMPTY];
      // repetition/slice removal keeping less than this fraction of the
      // serialized page yields [MISSING_PAGE_FAIL]
      emitSentinels: Boolean = false,
      failDominanceKeep: Double = 0.15,
      // R4's wall-clock half (reference: 120 s pebble timeout,
      // split_htmls_to_pages.py:210): cooperative deadline enforced by
      // DocBudget.tick in the tokenizer/segmenter/postprocess loops.
      // 0 disarms; expiry fails the ROW (ok=false, error="timeout").
      timeoutMillis: Long = 120000L
  )

  val default: Config = Config()

  def extract(url: String, htmlBytes: Array[Byte], cfg: Config = default): ExtractedDoc = {
    try {
      if (htmlBytes == null || htmlBytes.isEmpty)
        return failure(url, "empty-input")
      extractHtml(url, ingest(htmlBytes, cfg), cfg)
    } catch {
      case NonFatal(e) => failure(url, Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
    }
  }

  /** Page bytes → the html string every extractor reads: capped at
    * `maxHtmlBytes`, charset-sniffed, NBSP → space. */
  private[extract] def ingest(htmlBytes: Array[Byte], cfg: Config): String = {
    // when the size cap cuts inside a multibyte UTF-8 sequence, back
    // off up to 3 bytes so the truncated page still strict-decodes:
    // without the trim a >cap UTF-8 page cut mid-codepoint failed the
    // sniff's strict confirmation and the WHOLE document fell back to
    // windows-1252 (r6 advice item 2 — the old lenient decode only
    // corrupted the one trailing character)
    val sliced =
      if (htmlBytes.length > cfg.maxHtmlBytes)
        trimIncompleteUtf8(java.util.Arrays.copyOf(htmlBytes, cfg.maxHtmlBytes))
      else htmlBytes
    // charset-sniffed decode (BOM \u2192 meta \u2192 UTF-8 sniff \u2192 cp1252, see
    // CharsetSniff) \u2014 for valid UTF-8 this is the same intrinsic
    // decode as before plus one U+FFFD scan, so the hot path and the
    // byte-identical digests are unchanged; then NBSP -> space at
    // ingest, as the reference does on raw html (html2md.py:52,
    // split_htmls_to_pages.py:69)
    CharsetSniff.decode(sliced).text.replace('\u00A0', ' ')
  }

  def extractHtml(url: String, html: String, cfg: Config = default): ExtractedDoc = {
    DocBudget.begin(cfg.timeoutMillis)
    try {
      val dom = DomBuilder.build(
        graft.html.HtmlTokenizer.tokenize(html, cfg.maxTokens),
        cfg.maxDomDepth, cfg.maxDomNodes)
      val seg = BlockSegmenter.segment(dom)
      val ser = MarkdownSerializer.serialize(seg.blocks)
      val post = Postprocess.postprocessSingle(ser.markdown, cfg.markdownFix)
      val (finalMd0, spans) = SpanReinserter.reinsert(post.text, ser.bodies)
      // W7 sentinels (predict.py:178-191): a page reduced to nothing (or to
      // a lone [MISSING_PAGE_POST] hallucination slice) is EMPTY; a page
      // whose content was DOMINATED by degenerate repetition/slices — what
      // survives is under failDominanceKeep of the serialized length — is
      // FAIL (incomplete, not faithfully extracted).
      val finalMd =
        if (!cfg.emitSentinels) finalMd0
        else if (finalMd0.isEmpty && html.exists(!_.isWhitespace))
          "[MISSING_PAGE_EMPTY]"
        else if (finalMd0.trim == "[MISSING_PAGE_POST]")
          "[MISSING_PAGE_EMPTY]"
        else if ((post.repetitionTruncated || post.slicesRemoved > 0) &&
                 ser.markdown.length > 0 &&
                 finalMd0.length < cfg.failDominanceKeep * ser.markdown.length)
          "[MISSING_PAGE_FAIL]"
        else finalMd0
      val counts = spans.groupBy(_.kind).map { case (k, v) => (k, v.length) }
      ExtractedDoc(
        url = url,
        markdown = finalMd,
        spans = spans,
        blocks_kept = seg.stats.blocksKept,
        blocks_dropped = seg.stats.blocksDropped,
        span_counts = counts,
        ok = true,
        error = "",
        // parsed bibliography (X2): document-level metadata from the
        // segmenter, kept even if postprocess truncated the ref lines
        references = ser.refs
      )
    } catch {
      case NonFatal(e) => failure(url, Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
    } finally {
      // a stale expired deadline must not poison other work on this thread
      DocBudget.clear()
    }
  }

  /** Drop a trailing INCOMPLETE UTF-8 sequence left by a byte-cap cut
    * (at most 3 continuation bytes plus their lead). A complete
    * sequence, pure ASCII, or already-invalid trailing bytes (no lead
    * in range) are returned untouched — the trim only repairs damage
    * the cap itself introduced, never the page's own encoding.
    */
  private[extract] def trimIncompleteUtf8(b: Array[Byte]): Array[Byte] = {
    if (b.length == 0) return b
    var i = b.length - 1
    var cont = 0
    while (i >= 0 && cont < 3 && (b(i) & 0xC0) == 0x80) { cont += 1; i -= 1 }
    if (i < 0) return b
    val lead = b(i) & 0xFF
    val need =
      if ((lead & 0x80) == 0) 0
      else if ((lead & 0xE0) == 0xC0) 1
      else if ((lead & 0xF0) == 0xE0) 2
      else if ((lead & 0xF8) == 0xF0) 3
      else 0 // stray continuation / invalid lead: not the cap's doing
    if (need > cont) java.util.Arrays.copyOf(b, i) else b
  }

  private def failure(url: String, msg: String): ExtractedDoc =
    ExtractedDoc(url, "", Vector.empty, 0, 0, Map.empty, ok = false, error = msg)

  /** mapPartitions entry point over the pages table. */
  def run(rows: Iterator[PageRow], cfg: Config = default): Iterator[ExtractedDoc] =
    rows.map(r => extract(r.url, r.html, cfg))
}
