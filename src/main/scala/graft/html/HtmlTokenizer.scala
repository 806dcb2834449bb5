package graft.html

import scala.collection.mutable.{ArrayBuffer, ListBuffer}

/** HTML token stream. Text content arrives entity-decoded and
  * control-char-sanitized; tag/attr names are lowercased.
  */
sealed trait HToken
final case class StartTag(name: String, attrs: List[(String, String)], selfClosing: Boolean) extends HToken
final case class EndTag(name: String) extends HToken
final case class TextTok(content: String) extends HToken

/** Hand-rolled, never-throwing HTML tokenizer — a bounded subset of the
  * WHATWG tokenizer sufficient for Common-Crawl reality (SURVEY §7.4 #2).
  * The container has no HTML library (no jsoup, offline coursier), and the
  * north_star explicitly calls for "batched DOM/byte-stream tokenization
  * of raw html:binary", so this is first-class engine code, not a shim.
  *
  * Guarantees:
  *  - never throws on any input (malformed tags, truncation, garbage);
  *  - O(n) single pass; bounded output via `maxTokens`;
  *  - raw-text elements (script/style) skipped entirely, RCDATA
  *    (textarea/title) captured as text;
  *  - comments, doctypes, CDATA, processing instructions dropped;
  *  - '\r\n'/'\r' → '\n'; C0 controls (except \n\t) stripped from text.
  */
object HtmlTokenizer {

  val defaultMaxTokens = 1 << 20

  def tokenize(html: String, maxTokens: Int = defaultMaxTokens): IndexedSeq[HToken] =
    new Scan(html, maxTokens).run()

  /** One tokenize call: the cursor and output of a single pass. */
  private final class Scan(html: String, maxTokens: Int) {
    private val n = html.length
    private val out = new ArrayBuffer[HToken](256)
    /** Where the pending text run starts. */
    private var textStart = 0
    /** The name last read holds a char that lower-casing may change. */
    private var nameFolds = false
    /** The document's budget, looked up once per call. */
    private val budget = graft.extract.DocBudget.current()

    def run(): IndexedSeq[HToken] = {
      var i = 0
      while (i < n && out.length < maxTokens) {
        budget.tick() // per-token wall-clock checkpoint
        val lt = html.indexOf('<', i)
        if (lt < 0) { flushText(n); i = n; textStart = n }
        else {
          // classify what follows '<'
          val next = if (lt + 1 < n) html.charAt(lt + 1) else ' '
          if (next == '!') {
            flushText(lt)
            if (html.startsWith("<!--", lt)) {
              val end = html.indexOf("-->", lt + 4)
              i = if (end < 0) n else end + 3
            } else if (html.regionMatches(true, lt, "<![CDATA[", 0, 9)) {
              val end = html.indexOf("]]>", lt + 9)
              i = if (end < 0) n else end + 3
            } else i = pastGt(lt + 2) // doctype / bogus markup declaration
            textStart = i
          } else if (next == '?') { // processing instruction → bogus comment
            flushText(lt)
            i = pastGt(lt + 2)
            textStart = i
          } else if (next == '/') {
            flushText(lt)
            if (lt + 2 < n && isNameStart(html.charAt(lt + 2))) {
              val after = tagNameEnd(lt + 2)
              out += EndTag(name(lt + 2, after))
              i = pastGt(after)
            } else i = pastGt(lt + 2) // "</3" etc: bogus comment per spec
            textStart = i
          } else if (isNameStart(next)) {
            flushText(lt)
            i = startTag(lt + 1)
            textStart = i
          } else {
            // lone '<' is literal text; continue scanning after it
            i = lt + 1
          }
        }
      }
      if (out.length < maxTokens) flushText(n)
      val arr = new Array[HToken](out.length)
      out.copyToArray(arr)
      scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
    }

    private def flushText(until: Int): Unit =
      if (until > textStart) {
        val t = cleanText(Entities.decode(html.substring(textStart, until)))
        if (t.nonEmpty) out += TextTok(t)
      }

    /** Index after the next '>' at or after `from`, or n. */
    private def pastGt(from: Int): Int = {
      val end = html.indexOf('>', from)
      if (end < 0) n else end + 1
    }

    /** End of the tag name at `start`. */
    private def tagNameEnd(start: Int): Int = {
      var i = start
      var folds = false
      var c = ' '
      while (i < n && { c = html.charAt(i); isNameChar(c) }) {
        if (c <= 'Z' && c >= 'A') folds = true
        i += 1
      }
      nameFolds = folds
      i
    }

    /** End of the attribute name at `start`: everything until ws, '=', '>', '/'. */
    private def attrNameEnd(start: Int): Int = {
      var i = start
      var folds = false
      var c = ' '
      while (i < n && { c = html.charAt(i); !isWs(c) && c != '=' && c != '>' && c != '/' }) {
        if (c >= 128 || (c <= 'Z' && c >= 'A')) folds = true
        i += 1
      }
      nameFolds = folds
      i
    }

    /** The name just read, as `substring(start, end).toLowerCase`; the
      * lower-casing pass is skipped when no char of it can change. */
    private def name(start: Int, end: Int): String = {
      val k = html.substring(start, end)
      if (nameFolds) k.toLowerCase else k
    }

    /** Parse a start tag beginning after '<' and emit it (with a raw-text
      * element's content). Returns the index after it; a tag truncated
      * by EOF emits nothing and returns n.
      */
    private def startTag(start: Int): Int = {
      val s = html
      val afterName = tagNameEnd(start)
      val tag = name(start, afterName)
      var i = afterName
      var attrs: ListBuffer[(String, String)] = null
      var nAttrs = 0
      var selfClosing = false
      var done = false
      while (!done && i < n && nAttrs < 64) {
        while (i < n && isWs(s.charAt(i))) i += 1
        if (i >= n) return n
        s.charAt(i) match {
          case '>' => i += 1; done = true
          case '/' =>
            if (i + 1 < n && s.charAt(i + 1) == '>') { selfClosing = true; i += 2; done = true }
            else i += 1
          case _ =>
            val aStart = i
            i = attrNameEnd(i)
            val aName = name(aStart, i)
            while (i < n && isWs(s.charAt(i))) i += 1
            var aVal = ""
            if (i < n && s.charAt(i) == '=') {
              i += 1
              while (i < n && isWs(s.charAt(i))) i += 1
              if (i < n && (s.charAt(i) == '"' || s.charAt(i) == '\'')) {
                val q = s.charAt(i); i += 1
                val vStart = i
                i = s.indexOf(q, i)
                if (i < 0) i = n
                aVal = s.substring(vStart, i)
                if (i < n) i += 1
              } else {
                val vStart = i
                while (i < n && !isWs(s.charAt(i)) && s.charAt(i) != '>') i += 1
                aVal = s.substring(vStart, i)
              }
            }
            if (aName.nonEmpty && (attrs == null || !attrs.exists(_._1 == aName))) { // first occurrence wins
              if (attrs == null) attrs = new ListBuffer[(String, String)]
              attrs += ((aName, sanitizeAttr(Entities.decode(aVal, inAttr = true))))
              nAttrs += 1
            }
        }
      }
      if (!done && i >= n) return n
      if (!done) i = pastGt(i) // attr cap hit: skip to '>'
      out += StartTag(tag, if (attrs == null) Nil else attrs.toList, selfClosing)
      // NB: the self-closing flag is IGNORED for raw-text elements per
      // the HTML spec — <script/> still consumes everything up to </script>
      if (tag == "script" || tag == "style") { // raw text, never emitted
        i = rawEnd(i, tag)
        out += EndTag(tag)
      } else if (tag == "textarea" || tag == "title") { // raw text, one token
        val end = rawEnd(i, tag)
        val t = cleanText(Entities.decode(s.substring(i, rawContentEnd)))
        if (t.nonEmpty) out += TextTok(t)
        out += EndTag(tag)
        i = end
      }
      i
    }

    /** Where the last [[rawEnd]] found the content's end (its `</name`). */
    private var rawContentEnd = 0

    /** Find the matching `</name` for a raw-text element: sets
      * [[rawContentEnd]] to its '<' and returns the index after its '>'.
      * Tolerates EOF (both are then n).
      */
    private def rawEnd(from: Int, name: String): Int = {
      val m = name.length + 2 // "</" + name
      var i = html.indexOf('<', from)
      while (i >= 0 && i + m <= n) {
        if (html.charAt(i + 1) == '/' && html.regionMatches(true, i + 2, name, 0, name.length)) {
          val after = i + m
          if (after >= n || html.charAt(after) == '>' || isWs(html.charAt(after)) || html.charAt(after) == '/') {
            rawContentEnd = i
            return pastGt(after)
          }
        }
        i = html.indexOf('<', i + 1)
      }
      rawContentEnd = n
      n
    }
  }

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'

  private def isWs(c: Char): Boolean = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  /** Attribute values can reach the markdown verbatim (hrefs), so the
    * reserved span-marker chars must be stripped here too — otherwise
    * page content could forge a marker (see MarkdownSerializer).
    */
  private def sanitizeAttr(v: String): String =
    if (v.indexOf('\uE000') < 0 && v.indexOf('\uE001') < 0) v
    else v.filterNot(c => c == '\uE000' || c == '\uE001')

  /** Normalize newlines; strip C0 controls except \n\t; strip the two
    * private-use chars reserved as span markers by MarkdownSerializer
    * (\uE000/\uE001) so page content can never forge a marker.
    */
  private def cleanText(s: String): String = {
    var needs = false
    var k = 0
    while (k < s.length && !needs) {
      val c = s.charAt(k)
      // '\r' and the other C0 controls sit below ' '; (c | 1) folds the marker pair
      needs = if (c < ' ') c != '\n' && c != '\t' else (c | 1) == '\uE001'
      k += 1
    }
    if (!needs) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\r') {
        sb.append('\n')
        if (i + 1 < s.length && s.charAt(i + 1) == '\n') i += 1
      } else if ((c >= ' ' || c == '\n' || c == '\t') && c != '\uE000' && c != '\uE001') sb.append(c)
      i += 1
    }
    sb.toString
  }
}
