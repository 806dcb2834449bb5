package graft.html

import scala.collection.mutable.ArrayBuffer

/** Lightweight DOM. Immutable view after build; children ordered.
  * `children` is an ArraySeq (single array copy at freeze time — Vector
  * tree construction was a measurable share of per-doc allocation).
  */
sealed trait DomNode
final case class DomText(text: String) extends DomNode
final case class DomElem(tag: String, attrs: Map[String, String], children: IndexedSeq[DomNode]) extends DomNode {
  def attr(name: String): Option[String] = attrs.get(name)
  def classes: Set[String] =
    attrs.get("class").map(_.split("\\s+").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
}

/** Token stream → tree, with WHATWG-subset implied-end-tag handling
  * (auto-close p/li/dt/dd/tr/td/th/option…), void elements, unmatched
  * end-tag tolerance, and hard depth/node caps so a pathological page
  * cannot blow the heap (the scale analog of the reference's per-paper
  * timeout R4, split_htmls_to_pages.py:140-157).
  */
object DomBuilder {

  val voidTags: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr")

  private val pClosers: Set[String] = Set(
    "address", "article", "aside", "blockquote", "details", "div", "dl",
    "fieldset", "figcaption", "figure", "footer", "form",
    "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "main", "menu",
    "nav", "ol", "p", "pre", "section", "table", "ul",
    // li/dt/dd start tags also imply </p> (WHATWG button-scope rule)
    "li", "dt", "dd")

  /** Does opening `incoming` implicitly close an open `top`? */
  private def impliedEnd(top: String, incoming: String): Boolean = top match {
    case "p"            => pClosers.contains(incoming)
    case "li"           => incoming == "li"
    case "dt" | "dd"    => incoming == "dt" || incoming == "dd"
    case "tr"           => incoming == "tr" || incoming == "thead" || incoming == "tbody" || incoming == "tfoot"
    case "td" | "th"    => incoming == "td" || incoming == "th" || incoming == "tr" ||
                           incoming == "thead" || incoming == "tbody" || incoming == "tfoot"
    case "thead" | "tbody" | "tfoot" =>
      incoming == "thead" || incoming == "tbody" || incoming == "tfoot"
    case "option"       => incoming == "option" || incoming == "optgroup"
    case "caption"      => incoming == "thead" || incoming == "tbody" || incoming == "tr"
    case _              => false
  }

  val defaultMaxDepth = 256
  val defaultMaxNodes = 1 << 20

  /** An open element: its children so far, in a plain growable array
    * that [[Frame.freeze]] copies once into the element's ArraySeq. */
  private final class Frame(val tag: String, val attrs: Map[String, String]) {
    private var kids = new Array[DomNode](4)
    private var n = 0
    def add(c: DomNode): Unit = {
      if (n == kids.length) kids = java.util.Arrays.copyOf(kids, n * 2)
      kids(n) = c
      n += 1
    }
    def freeze: DomElem = DomElem(tag, attrs,
      if (n == 0) Vector.empty
      else scala.collection.immutable.ArraySeq.unsafeWrapArray(java.util.Arrays.copyOf(kids, n)))
  }

  /** Never throws. Always returns a root element ("#root"). */
  def build(tokens: Iterable[HToken],
            maxDepth: Int = defaultMaxDepth,
            maxNodes: Int = defaultMaxNodes): DomElem = {
    val stack = new ArrayBuffer[Frame](16)
    stack += new Frame("#root", Map.empty)
    var nodes = 0

    def top: Frame = stack(stack.length - 1)

    def closeTop(): Unit = {
      val f = stack.remove(stack.length - 1)
      top.add(f.freeze)
    }

    val it = tokens.iterator
    while (it.hasNext && nodes < maxNodes) {
      it.next() match {
        case TextTok(t) =>
          top.add(DomText(t))
          nodes += 1

        case StartTag(name, attrs, selfClosing) =>
          while (stack.length > 1 && impliedEnd(top.tag, name)) closeTop()
          val amap: Map[String, String] = if (attrs.isEmpty) Map.empty else attrs.toMap
          if (voidTags.contains(name) || selfClosing) {
            top.add(DomElem(name, amap, Vector.empty))
            nodes += 1
          } else if (stack.length >= maxDepth) {
            top.add(DomElem(name, amap, Vector.empty)) // flatten beyond cap
            nodes += 1
          } else {
            stack += new Frame(name, amap)
            nodes += 1
          }

        case EndTag(name) =>
          // </body> and </html> never close their frames: browsers route
          // trailing content back into body ("after body" insertion
          // mode), and closing here would silently drop it
          if (name != "body" && name != "html") {
            // find nearest open frame with this tag (skip #root at idx 0)
            var idx = stack.length - 1
            while (idx >= 1 && stack(idx).tag != name) idx -= 1
            if (idx >= 1) while (stack.length > idx) closeTop()
          }
        // unmatched end tag: ignored
      }
    }
    while (stack.length > 1) closeTop()
    stack(0).freeze
  }

  def parse(html: String): DomElem = build(HtmlTokenizer.tokenize(html))
}
