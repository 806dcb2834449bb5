package graft.extract

import graft.html._
import scala.collection.mutable.ArrayBuffer

/** DOM → classified content blocks.
  *
  * Generalizes the reference's class-dispatched LaTeXML walk
  * (/root/reference/nougat/dataset/parser/latexml_parser.py:98-413) to
  * arbitrary web HTML: structural dispatch by tag, plus a
  * Boilerpipe/Readability-style text-density + link-density block
  * classifier standing in for the reference's ignore/unwrap selector
  * tables (latexml_parser.py:23-48,403-406) and its header/footer scrub
  * (split_md_to_pages.py:176-236).
  *
  * All decisions are pure functions of the DOM — deterministic by
  * construction (north rule: byte-identical output per url).
  */
object BlockSegmenter {

  /** Subtrees that are boilerplate by construction. */
  private val dropTags = Set("nav", "footer", "aside", "form", "select", "button",
    "iframe", "noscript", "template", "svg", "head", "dialog", "menu")

  /** class/id fragments that mark boilerplate containers
    * (case-insensitive so no per-element lowercase copy is needed). */
  private val dropClassRe = java.util.regex.Pattern.compile(
    "(?:^|[-_ ])(?:nav|navbar|menu|footer|sidebar|cookie|banner|breadcrumbs?|share|social|related|widget|promo|ads?|advert(?:isement)?|comments?|popup|modal|subscribe|newsletter|pagination|masthead|skip)(?:[-_ ]|$)",
    java.util.regex.Pattern.CASE_INSENSITIVE)

  private val inlineTags = Set("a", "b", "strong", "i", "em", "u", "s", "span",
    "sup", "sub", "code", "small", "abbr", "cite", "time", "mark", "q", "var",
    "kbd", "samp", "tt", "font", "big", "label", "data", "bdi", "bdo", "wbr", "ins", "del")

  private def isBoiler(e: DomElem): Boolean = {
    if (dropTags.contains(e.tag)) return true
    if (e.attrs.isEmpty) return false
    val cls = e.attrs.getOrElse("class", "")
    val id = e.attrs.getOrElse("id", "")
    (cls.nonEmpty && dropClassRe.matcher(cls).find()) ||
      (id.nonEmpty && dropClassRe.matcher(id).find())
  }

  /** Deterministic per-doc id assignment replacing uuid4()[:5]
    * (markdown.py:168,184,219): source id attribute when present, else
    * "<prefix>-<counter>".
    */
  final class IdGen {
    private var counters = Map.empty[String, Int]
    def next(prefix: String, explicit: Option[String]): String = explicit match {
      case Some(id) if id.nonEmpty => id
      case _ =>
        val c = counters.getOrElse(prefix, 0) + 1
        counters += (prefix -> c)
        s"$prefix-$c"
    }
  }

  /** Section headings that announce a bibliography (X2). */
  private val refsHeadRe = java.util.regex.Pattern.compile(
    "(?i)^(references?|bibliography|works cited|literature|citations)\\s*$")

  def segment(root: DomElem): SegResult = {
    val ids = new IdGen
    var kept = 0
    var dropped = 0
    // set by a References/Bibliography heading or an ltx_bibliography
    // container; the next ul/ol is parsed as a reference list (X2,
    // parse_latexml_references latexml_parser.py:420-426)
    var bibContext = false
    val out = new ArrayBuffer[Block](32)

    val body = findBody(root)

    def countCandidates(n: DomNode): Int = n match {
      case DomText(_) => 0
      case e: DomElem =>
        val self = e.tag match {
          case "p" | "h1" | "h2" | "h3" | "h4" | "h5" | "h6" | "li" | "blockquote" | "pre" | "table" => 1
          case _ => 0
        }
        var total = self
        val cs = e.children
        var i = 0
        while (i < cs.length) { total += countCandidates(cs(i)); i += 1 }
        total
    }

    def emit(b: Block, keep: Boolean): Unit =
      if (keep) { kept += 1; out += b } else dropped += 1

    /** Walk a container element's children, forming blocks. Loose inline
      * runs directly under a container are folded into implicit paragraphs.
      */
    def walk(e: DomElem): Unit = {
      DocBudget.tick() // per-element wall-clock checkpoint
      var run = new ArrayBuffer[DomNode](8) // pending inline run
      def flushRun(): Unit = {
        if (run.nonEmpty) {
          val inl = inlines(run.toVector, ids)
          classifyPara(inl).foreach { case (b, keep) => emit(b, keep) }
          run = new ArrayBuffer[DomNode](8)
        }
      }
      e.children.foreach {
        case t: DomText => if (t.text.exists(!_.isWhitespace)) run += t else if (run.nonEmpty) run += t
        case el: DomElem if isBoiler(el) =>
          flushRun() // a dropped subtree is still a block boundary
          if (el.tag == "head" || el.tag == "template" || el.tag == "svg" || el.tag == "noscript") ()
          else dropped += math.max(1, countCandidates(el))
        case el: DomElem if el.tag == "header" =>
          // page mastheads: rescue only the headline elements
          flushRun()
          el.children.foreach {
            case h: DomElem if h.tag.length == 2 && h.tag(0) == 'h' && h.tag(1).isDigit =>
              handleBlock(h)
            case c: DomElem => dropped += math.max(1, countCandidates(c))
            case _ => ()
          }
        case el: DomElem if inlineTags.contains(el.tag) || isMathElem(el) => run += el
        case el: DomElem if el.tag == "br" => run += el
        case el: DomElem => flushRun(); handleBlock(el)
      }
      flushRun()
    }

    def handleBlock(el: DomElem): Unit = el.tag match {
      case "p" =>
        val inl = inlines(el.children, ids)
        classifyPara(inl).foreach { case (b, keep) => emit(b, keep) }
      case t if t.length == 2 && t(0) == 'h' && t(1).isDigit =>
        val lvl = t(1) - '0'
        val inl = inlines(el.children, ids)
        val txt = inlineText(inl)
        if (txt.exists(!_.isWhitespace)) {
          bibContext = refsHeadRe.matcher(txt.trim).matches()
          emit(BHeader(lvl, inl), linkDensity(inl) < 0.5)
        }
      case "ul" | "ol" if bibContext || isBibList(el) =>
        // reference lists bypass the link-density filter: bib entries are
        // legitimately link-dense (DOI/arXiv anchors). A heading-announced
        // bibliography is ONE list — consume the context so a later nav
        // list before the next heading is not mistaken for references
        // (lists that carry bib classes stay recognizable on their own)
        bibContext = false
        val b = buildRefList(el, ids)
        if (b.items.nonEmpty) emit(b, true)
      case "ul" | "ol" =>
        val b = buildList(el, ids)
        if (b.items.nonEmpty) {
          val inl = b.items.flatten.flatMap(blockInlines)
          val allLinkItems = b.items.forall { item =>
            val is = item.flatMap(blockInlines)
            is.nonEmpty && isAllLink(is)
          }
          emit(b, linkDensity(inl) <= 0.5 && !allLinkItems)
        }
      case "table" =>
        buildTable(el, ids).foreach { b =>
          val inl = b.rows.flatten.flatMap(_.inlines)
          emit(b, linkDensity(inl) <= 0.6)
        }
      case "figure" =>
        val capEl = el.children.collectFirst { case c: DomElem if c.tag == "figcaption" => c }
        val cap = capEl.map(c => inlines(c.children, ids)).getOrElse(Vector.empty)
        val id = ids.next("fig", el.attr("id"))
        emit(BFigure(id, cap), true)
        // content inside a figure other than the caption (e.g. a table)
        el.children.foreach {
          case c: DomElem if c.tag == "table" => handleBlock(c)
          case _ => ()
        }
      case "blockquote" =>
        val inner = segmentContainer(el)
        if (inner.nonEmpty) emit(BQuote(inner), true)
      case "pre" =>
        val txt = rawText(el)
        if (txt.exists(!_.isWhitespace))
          emit(BCode(txt.stripLineEnd, ids.next("code", el.attr("id"))), true)
      case "hr" => emit(BRule(), true)
      case "dl" =>
        val items = buildDefList(el, ids)
        if (items.nonEmpty) emit(BDefList(items), true)
      case "math" =>
        mathTex(el) match {
          case Some(tex) =>
            val disp = el.attr("display").contains("block")
            val id = ids.next("eq", el.attr("id"))
            if (disp) emit(BMathBlock(tex, id), true)
            else classifyPara(Vector(IMath(tex, false, id))).foreach { case (b, k) => emit(b, k) }
          case None => ()
        }
      case "main" | "article" | "section" | "div" | "body" | "center" | "details" |
           "summary" | "fieldset" | "address" | "hgroup" | "figcaption" | "caption" |
           "colgroup" | "col" | "picture" | "audio" | "video" | "map" | "object" =>
        el.tag match {
          case "figcaption" | "colgroup" | "col" => ()
          case "picture" | "audio" | "video" | "map" | "object" => ()
          case _ =>
            if (el.attr("role").contains("doc-bibliography") ||
                el.classes.exists(_.toLowerCase.contains("bibliography")))
              bibContext = true
            walk(el)
        }
      case "title" | "style" | "script" | "link" | "meta" | "base" | "img" |
           "input" | "textarea" | "option" | "optgroup" | "canvas" | "embed" |
           "param" | "source" | "track" | "area" => ()
      case _ => walk(el) // unknown container: transparent unwrap (latexml_parser.py:403-406)
    }

    /** Segment a nested container into blocks without touching counters
      * for the container itself (used for blockquote/list items).
      */
    def segmentContainer(el: DomElem): Vector[Block] = {
      val saveOut = out.length
      val saveKept = kept; val saveDropped = dropped
      walk(el)
      val added = out.slice(saveOut, out.length).toVector
      out.remove(saveOut, out.length - saveOut)
      kept = saveKept; dropped = saveDropped
      added
    }

    def buildList(el: DomElem, ids: IdGen): BList = {
      val ordered = el.tag == "ol"
      val items = el.children.collect {
        case li: DomElem if li.tag == "li" =>
          val nestedLists = li.children.collect {
            case c: DomElem if c.tag == "ul" || c.tag == "ol" => c
          }
          val inlineKids = li.children.filterNot(nestedLists.contains(_))
          val inl = inlines(inlineKids, ids)
          val head: Vector[Block] =
            if (inlineText(inl).exists(!_.isWhitespace)) Vector(BPara(inl)) else Vector.empty
          head ++ nestedLists.map(nl => buildList(nl, ids))
      }.filter(_.nonEmpty)
      BList(ordered, items.toVector)
    }

    /** li items → bibliography entries: id from the li's id attribute
      * (else a per-doc counter), label from the leading "[n]"/"n." marker
      * (else the 1-based position).
      */
    def buildRefList(el: DomElem, ids: IdGen): BRefList = {
      val items = new ArrayBuffer[BRefItem](16)
      el.children.foreach {
        case li: DomElem if li.tag == "li" =>
          val inl = inlines(li.children, ids)
          val txt = inlineText(inl)
          if (txt.exists(!_.isWhitespace)) {
            val id = ids.next("bib", li.attr("id"))
            val m = refLabelRe.matcher(txt)
            val label =
              if (m.find()) { if (m.group(1) != null) m.group(1) else m.group(2) }
              else (items.length + 1).toString
            items += BRefItem(id, label, inl)
          }
        case _ => ()
      }
      BRefList(items.toVector)
    }

    def buildDefList(el: DomElem, ids: IdGen): Vector[(Vector[Inline], Vector[Inline])] = {
      var term: Vector[Inline] = Vector.empty
      val items = new ArrayBuffer[(Vector[Inline], Vector[Inline])]
      el.children.foreach {
        case d: DomElem if d.tag == "dt" => term = inlines(d.children, ids)
        case d: DomElem if d.tag == "dd" =>
          items += ((term, inlines(d.children, ids))); term = Vector.empty
        case _ => ()
      }
      items.toVector
    }

    def buildTable(el: DomElem, ids: IdGen): Option[BTable] = {
      val id = ids.next("tab", el.attr("id"))
      var caption: Vector[Inline] = Vector.empty
      val rows = new ArrayBuffer[Vector[BCell]]
      def rowOf(tr: DomElem): Vector[BCell] =
        tr.children.collect {
          case c: DomElem if c.tag == "td" || c.tag == "th" =>
            val cs = c.attr("colspan").flatMap(_.toIntOption).getOrElse(1).max(1).min(100)
            val rs = c.attr("rowspan").flatMap(_.toIntOption).getOrElse(1).max(1).min(100)
            val alOpt = c.attr("align").orElse(styleAlign(c)).orElse(classAlign(c))
              .map(_.head.toLower).filter("lcr".contains(_))
            val (bt, bb, bl, br) = borderSpec(c)
            BCell(inlines(c.children, ids), cs, rs, alOpt.getOrElse('l'), c.tag == "th",
              bt, bb, bl, br, alignSet = alOpt.isDefined)
        }.toVector
      def scan(n: DomElem): Unit = n.children.foreach {
        case tr: DomElem if tr.tag == "tr" => val r = rowOf(tr); if (r.nonEmpty) rows += r
        case sec: DomElem if Set("thead", "tbody", "tfoot").contains(sec.tag) => scan(sec)
        case cap: DomElem if cap.tag == "caption" => caption = inlines(cap.children, ids)
        case _ => ()
      }
      scan(el)
      if (rows.isEmpty) None else Some(BTable(id, caption, rows.toVector))
    }

    walk(body)
    SegResult(pruneEmptySections(out.toVector), SegStats(kept, dropped))
  }

  // ---- inline collection ------------------------------------------------

  private def isMathElem(e: DomElem): Boolean =
    e.tag == "math" ||
      (e.attrs.contains("alttext") || e.attrs.contains("aria-label")) &&
        (e.classes.exists(c => c.toLowerCase.contains("math")) || e.tag == "math")

  /** TeX capture per latexml_parser.py:147-167: alttext / aria-label. */
  private def mathTex(e: DomElem): Option[String] =
    e.attr("alttext").orElse(e.attr("aria-label")).map(_.trim).filter(_.nonEmpty)

  def inlines(nodes: Seq[DomNode], ids: IdGen): Vector[Inline] = {
    val out = new ArrayBuffer[Inline](8)
    def rec(ns: Seq[DomNode]): Unit = ns.foreach {
      case DomText(t) => out += ITxt(t)
      case e: DomElem => e.tag match {
        case "br" => out += ITxt("\n")
        case "b" | "strong" => out += IBold(inlines(e.children, ids))
        case "i" | "em" | "var" => out += IItal(inlines(e.children, ids))
        case "cite" =>
          // LaTeXML wraps citation anchors in <cite class="ltx_cite">
          // (latexml_parser.py:249-251): transparent — a citation marker
          // must not pick up italics; plain <cite> styling is presentational
          rec(e.children)
        case "sup" =>
          if (isFootnoteRef(e)) out ++= inlines(e.children, ids) // ref marker text kept
          else out += ISup(inlines(e.children, ids))
        case "sub" => out += ISub(inlines(e.children, ids))
        case "code" | "tt" | "kbd" | "samp" =>
          val t = rawText(e); if (t.nonEmpty) out += ICode(t)
        case "a" =>
          val kids = inlines(e.children, ids)
          val href = e.attrs.getOrElse("href", "")
          if (href.startsWith("#bib") || href.startsWith("#cite")) {
            // inline citation (InlineRef, latexml_parser.py:253-273):
            // numeric text is the label; broken text falls back to the
            // digits of the anchor target; neither → keep the plain text
            // (the reference raises here; a web pipeline must not)
            val text = inlineText(kids).trim
            val tgtDigits = href.filter(_.isDigit)
            if (text.nonEmpty && text.forall(_.isDigit)) out += IRef(href, text)
            else if (tgtDigits.nonEmpty && text.exists(_.isLetter) && text.exists(_.isDigit))
              out += IRef(href, tgtDigits)
            else out ++= kids
          } else out += ILink(href, kids)
        case "math" =>
          mathTex(e).foreach { tex =>
            out += IMath(tex, e.attr("display").contains("block"), ids.next("eq", e.attr("id")))
          }
        case "img" | "script" | "style" | "select" | "option" | "input" | "textarea" => ()
        case t if blockishInline.contains(t) =>
          // block-level element encountered in an inline context (e.g.
          // <p> inside <li>): separate with line breaks so words from
          // adjacent blocks never concatenate
          if (out.nonEmpty && out.last != ITxt("\n")) out += ITxt("\n")
          rec(e.children)
          if (out.nonEmpty && out.last != ITxt("\n")) out += ITxt("\n")
        case _ if isMathElem(e) =>
          mathTex(e).foreach { tex =>
            val disp = e.classes.exists(_.toLowerCase.contains("display")) ||
              e.attr("display").contains("block")
            out += IMath(tex, disp, ids.next("eq", e.attr("id")))
          }
        case _ if isFootnoteElem(e) =>
          val id = ids.next("fn", e.attr("id"))
          out += IFootnote(id, inlines(e.children, ids))
        case _ => rec(e.children) // transparent inline unwrap
      }
    }
    rec(nodes)
    out.toVector
  }

  /** Block-level tags that may appear under an inline-collection context
    * (list items, table cells, definitions). */
  private val blockishInline = Set("p", "div", "blockquote", "section", "article",
    "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "dl", "dt", "dd",
    "table", "tr", "td", "th", "thead", "tbody", "tfoot", "pre",
    "header", "footer", "figure", "figcaption", "form", "address")

  private val refLabelRe = java.util.regex.Pattern.compile(
    "^\\s*(?:\\[(\\d{1,4})\\]|(\\d{1,4})\\.)")

  /** A list is a bibliography when it (or its items) carry bib classes/ids
    * (`ul.ltx_biblist` / `li.ltx_bibitem`, latexml_parser.py:421). */
  private def isBibList(el: DomElem): Boolean =
    el.classes.exists(c => { val l = c.toLowerCase; l.contains("biblist") || l.contains("bibliography") }) ||
      el.children.exists {
        case li: DomElem if li.tag == "li" =>
          li.classes.exists(_.toLowerCase.contains("bibitem")) ||
            li.attr("id").exists(_.startsWith("bib"))
        case _ => false
      }

  private def isFootnoteElem(e: DomElem): Boolean =
    e.attr("role").contains("doc-footnote") ||
      e.classes.exists(c => { val l = c.toLowerCase; l.contains("footnote") || l == "ltx_note" })

  private def isFootnoteRef(e: DomElem): Boolean =
    e.attr("role").contains("doc-noteref") ||
      e.classes.exists(_.toLowerCase.contains("footnote-ref"))

  private def styleAlign(e: DomElem): Option[String] = {
    val st = e.attrs.getOrElse("style", "").toLowerCase
    val m = "text-align\\s*:\\s*(left|center|right)".r.findFirstMatchIn(st)
    m.map(_.group(1))
  }

  /** Alignment from LaTeXML-style classes (`ltx_align_center` etc.) —
    * the reference's Spec.set_align source (document.py:411-437); the
    * first class containing "align" decides, substring-matched. Justify
    * maps to center: our cell align is a Char, so the reference's
    * `p{width}` form (style-dependent) collapses to its own None-style
    * fallback 'c' (document.py:427-430). */
  private def classAlign(e: DomElem): Option[String] = {
    e.classes.find(_.contains("align")).map { a =>
      if (a.contains("center")) "center"
      else if (a.contains("left")) "left"
      else if (a.contains("right")) "right"
      else "center" // justify / unknown → reference warns + centers
    }
  }

  /** Border sizes from `*border_*` classes, per Spec.set_border
    * (document.py:439-444): the class-suffix after the FIRST "border_"
    * names the side by its first char, and the suffix LENGTH is the
    * rule count (`ltx_border_tt` → t=2 → "\\hline \\hline"). */
  private def borderSpec(e: DomElem): (Int, Int, Int, Int) = {
    var t = 0; var b = 0; var l = 0; var r = 0
    e.classes.foreach { cls =>
      val i = cls.indexOf("border_")
      if (i >= 0) {
        val o = cls.substring(i + 7)
        if (o.nonEmpty) o.charAt(0) match {
          case 't' => t = o.length
          case 'b' => b = o.length
          case 'l' => l = o.length
          case 'r' => r = o.length
          case _   => ()
        }
      }
    }
    (t, b, l, r)
  }

  def rawText(n: DomNode): String = n match {
    case DomText(t) => t
    case e: DomElem if e.tag == "script" || e.tag == "style" => ""
    case e: DomElem => e.children.map(rawText).mkString
  }

  // ---- classification ----------------------------------------------------

  def inlineText(inl: Vector[Inline]): String = {
    val sb = new java.lang.StringBuilder(64)
    def rec(is: Vector[Inline]): Unit = is.foreach {
      case ITxt(s) => sb.append(s)
      case IBold(c) => rec(c)
      case IItal(c) => rec(c)
      case ISup(c) => rec(c)
      case ISub(c) => rec(c)
      case ICode(s) => sb.append(s)
      case ILink(_, c) => rec(c)
      case IMath(tex, _, _) => sb.append(tex)
      case IFootnote(_, c) => rec(c)
      case IRef(_, label) => sb.append('[').append(label).append(']')
    }
    rec(inl)
    sb.toString
  }

  private def blockInlines(b: Block): Vector[Inline] = b match {
    case BPara(i) => i
    case BHeader(_, i) => i
    case BQuote(bs) => bs.flatMap(blockInlines)
    case BList(_, items) => items.flatten.flatMap(blockInlines)
    case BFigure(_, c) => c
    case BTable(_, c, rows) => c ++ rows.flatten.flatMap(_.inlines)
    case BDefList(items) => items.flatMap(x => x._1 ++ x._2)
    case _ => Vector.empty
  }

  private def isCjk(c: Char): Boolean = {
    val i = c.toInt
    (i >= 0x4E00 && i <= 0x9FFF) || (i >= 0x3040 && i <= 0x30FF) ||
      (i >= 0xAC00 && i <= 0xD7A3) || (i >= 0x3400 && i <= 0x4DBF)
  }

  /** Word count; CJK scripts have no spaces, so each CJK codepoint counts
    * as a word (standard heuristic — keeps the density classifier
    * meaningful on zh/ja/ko pages).
    */
  private def words(s: String): Int = {
    var n = 0; var in = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isCjk(c)) { n += 1; in = false }
      else {
        val w = !c.isWhitespace
        if (w && !in) n += 1
        in = w
      }
      i += 1
    }
    n
  }

  def linkDensity(inl: Vector[Inline]): Double = {
    var total = 0; var link = 0
    def rec(is: Vector[Inline], inLink: Boolean): Unit = is.foreach {
      case ILink(_, c) => rec(c, true)
      case ITxt(s) => val w = words(s); total += w; if (inLink) link += w
      case ICode(s) => val w = words(s); total += w; if (inLink) link += w
      case IMath(_, _, _) => total += 1; if (inLink) link += 1
      case IBold(c) => rec(c, inLink)
      case IItal(c) => rec(c, inLink)
      case ISup(c) => rec(c, inLink)
      case ISub(c) => rec(c, inLink)
      case IFootnote(_, c) => rec(c, inLink)
      case IRef(_, _) => total += 1; if (inLink) link += 1
    }
    rec(inl, false)
    if (total == 0) 0.0 else link.toDouble / total
  }

  private def isAllLink(inl: Vector[Inline]): Boolean = {
    val txt = inlineText(inl).trim
    txt.nonEmpty && {
      val linkTxt = inl.collect { case ILink(_, c) => inlineText(c) }.mkString.trim
      // all visible words inside links (whitespace outside allowed)
      words(linkTxt) == words(txt)
    }
  }

  /** Paragraph classifier: the text-density/link-density rule set
    * (deterministic spec, frozen):
    *  - empty → no block at all;
    *  - link_density > 0.4 → boilerplate;
    *  - < 3 words and no sentence punctuation and no math → boilerplate;
    *  - else content.
    */
  private def isPunct(c: Char): Boolean =
    c == '.' || c == '!' || c == '?' || c == ';' || c == ':' || c == ',' ||
      c == '。' || c == '，' || c == '、' || c == '！' || c == '？'

  /** Per ASCII char: bit 0 set for a word char (not Character.isWhitespace),
    * bit 1 for a char [[isPunct]] admits. */
  private val asciiKind: Array[Byte] = Array.tabulate[Byte](128) { c =>
    ((if (Character.isWhitespace(c)) 0 else 1) | (if (isPunct(c.toChar)) 2 else 0)).toByte
  }

  /** Single-walk paragraph statistics — word/link-word counts, punctuation,
    * math presence — with no intermediate string construction (hot path).
    */
  private final class ParaStats {
    var total = 0; var link = 0; var punct = false; var math = false
    var nonWs = false
    private var inWord = false
    /** ASCII chars classify by one table load and count word starts
      * without branching; the rest by the CJK range, Character.isWhitespace
      * and isPunct. A word char either starts a word or continues one a
      * previous char began, so `nonWs` follows from the word count. */
    def addText(s: String, inLink: Boolean): Unit = {
      var words = 0
      var w = if (inWord) 1 else 0
      var kinds = 0
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c < 128) {
          val k = asciiKind(c)
          words += k & 1 & ~w
          w = k & 1
          kinds |= k
        } else if (isCjk(c)) { words += 1; w = 0 }
        else if (Character.isWhitespace(c)) w = 0
        else {
          words += 1 - w
          w = 1
          if (isPunct(c)) kinds |= 2
        }
        i += 1
      }
      inWord = w == 1
      if ((kinds & 2) != 0) punct = true
      if (words > 0) {
        total += words; if (inLink) link += words
        nonWs = true
      }
    }
    def linkDensity: Double = if (total == 0) 0.0 else link.toDouble / total
  }

  private def paraStats(inl: Vector[Inline]): ParaStats = {
    val st = new ParaStats
    def rec(is: Vector[Inline], inLink: Boolean): Unit = is.foreach {
      case ITxt(s) => st.addText(s, inLink)
      case ICode(s) => st.addText(s, inLink)
      case ILink(_, c) => rec(c, true)
      case IBold(c) => rec(c, inLink)
      case IItal(c) => rec(c, inLink)
      case ISup(c) => rec(c, inLink)
      case ISub(c) => rec(c, inLink)
      case IMath(_, _, _) =>
        st.total += 1; if (inLink) st.link += 1
        st.math = true; st.nonWs = true
      case IFootnote(_, c) => rec(c, inLink)
      case IRef(_, _) =>
        // a citation marker is prose evidence, never nav-link evidence —
        // reference-dense academic paragraphs must not look like boilerplate
        st.total += 1; st.nonWs = true
    }
    rec(inl, false)
    st
  }

  private def classifyPara(inl: Vector[Inline]): Option[(Block, Boolean)] = {
    val st = paraStats(inl)
    if (!st.nonWs) None
    else {
      val keep = st.linkDensity <= 0.4 && (st.total >= 3 || st.punct || st.math)
      Some((BPara(inl), keep))
    }
  }

  /** Empty-section pruning (markdown.py:88-95,201-204): a header with no
    * content before the next header of same-or-higher rank is dropped.
    */
  def pruneEmptySections(blocks: Vector[Block]): Vector[Block] = {
    val keep = Array.fill(blocks.length)(true)
    var i = 0
    while (i < blocks.length) {
      blocks(i) match {
        case BHeader(lvl, _) =>
          var j = i + 1
          var hasContent = false
          var stop = false
          while (j < blocks.length && !stop) {
            blocks(j) match {
              case BHeader(l2, _) if l2 <= lvl => stop = true
              case BHeader(_, _) => j += 1 // deeper header: keep scanning
              case _ => hasContent = true; stop = true
            }
          }
          if (!hasContent) keep(i) = false
        case _ => ()
      }
      i += 1
    }
    blocks.zipWithIndex.collect { case (b, k) if keep(k) => b }
  }

  private def findBody(root: DomElem): DomElem = {
    def find(e: DomElem): Option[DomElem] =
      if (e.tag == "body") Some(e)
      else e.children.collectFirst(Function.unlift {
        case c: DomElem => find(c)
        case _ => None
      })
    find(root).getOrElse(root)
  }
}
