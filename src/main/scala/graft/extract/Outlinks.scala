package graft.extract

import graft.html.{DomBuilder, DomElem, DomNode, DomText, HtmlTokenizer}
import scala.collection.mutable.ArrayBuffer

/** Outlink + anchor-text extraction — the web-pipeline side channel the
  * markdown path deliberately drops.
  *
  * A production crawl pipeline consumes `a[href]` twice: the href edges
  * feed the host/page link graph (PageRank-style authority ranks, the
  * q63 consumer), and the anchor TEXT is itself a training signal
  * (anchor-text corpora for retrieval/grounding). The markdown
  * serializer strips navigation wholesale (boilerplate removal F4), so
  * this walks the RAW DOM before any block classification: every anchor
  * is visible, including ones inside nav/footer chrome.
  *
  * Reference analog: the extraction tier of nougat has no link channel
  * (PDFs); the DOM-walk shape mirrors BlockSegmenter's descent but is a
  * side-effect-free fold, deterministic in document order — the north
  * rule's byte-identical invariant extends to the link stream (gated by
  * the cross-parallelism materialized oracle in ExtractQueries).
  *
  * Intra-page fragment hrefs (`#...`) are excluded — they are citation/
  * footnote wiring (handled by X2 in the markdown path), not outlinks.
  * `script`/`style`/`template` subtrees are skipped so code never leaks
  * into anchor text.
  */
object Outlinks {

  final case class Link(href: String, anchor: String)

  private val skipTags = Set("script", "style", "template")

  /** Whitespace-normalized concatenated text of an anchor subtree.
    * A NESTED `<a>` (malformed HTML — the builder tolerates it) owns
    * its own anchor text: its subtree is excluded from the enclosing
    * anchor (it still emits its own Link through the walk), so no text
    * run is ever attributed to two anchors and anchor_chars sums stay
    * honest on pathological pages. `root` marks the anchor element
    * itself, which is of course tag `a`.
    */
  private def textOf(n: DomNode, sb: java.lang.StringBuilder, root: Boolean = false): Unit =
    n match {
      case DomText(t) => sb.append(t)
      case e: DomElem =>
        if (!skipTags.contains(e.tag) && (root || e.tag != "a")) {
          var i = 0
          while (i < e.children.length) { textOf(e.children(i), sb); i += 1 }
        }
    }

  private def normalize(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f') pendingSpace = true
      else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Document-order anchor list from an HTML string. Never throws:
    * tokenizer/builder are total (caps, tolerance) and the walk is a
    * pure fold. NBSP is normalized at ingest like Extractor.extract.
    */
  def extractHtml(html: String, cfg: Extractor.Config = Extractor.default): Seq[Link] =
    links(html.replace('\u00A0', ' '), cfg)

  /** Page bytes through the same ingest as [[Extractor.extract]]: size
    * cap, charset sniff (a windows-1252 page keeps its "é"), NBSP. */
  def extract(htmlBytes: Array[Byte], cfg: Extractor.Config = Extractor.default): Seq[Link] =
    if (htmlBytes == null || htmlBytes.isEmpty) Seq.empty
    else links(Extractor.ingest(htmlBytes, cfg), cfg)

  private def links(html: String, cfg: Extractor.Config): Seq[Link] = {
    val dom = DomBuilder.build(
      HtmlTokenizer.tokenize(html, cfg.maxTokens),
      cfg.maxDomDepth, cfg.maxDomNodes)
    val out = new ArrayBuffer[Link]()
    def walk(n: DomNode): Unit = n match {
      case _: DomText => ()
      case e: DomElem =>
        if (!skipTags.contains(e.tag)) {
          if (e.tag == "a") {
            e.attr("href") match {
              case Some(h) if h.nonEmpty && !h.startsWith("#") =>
                val sb = new java.lang.StringBuilder()
                textOf(e, sb, root = true)
                out += Link(h, normalize(sb.toString))
              case _ => ()
            }
          }
          var i = 0
          while (i < e.children.length) { walk(e.children(i)); i += 1 }
        }
    }
    walk(dom)
    out.toSeq
  }
}
