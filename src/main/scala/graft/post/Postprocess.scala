package graft.post

import scala.collection.mutable.ArrayBuffer

/** The nougat postprocessing family re-expressed as pure Scala string
  * functions (applied per-row inside mapPartitions; the regex-only stages
  * are also exposed as Catalyst column chains in graft.queries).
  *
  * Reference semantics: /root/reference/nougat/postprocessing.py —
  * `postprocess_single` (332-484) stage order, `truncate_repetitions`
  * (102-165), repeated-line slice removal (190-298), splice (301-329),
  * `close_envs` (168-175), `markdown_compatible` (25-67), pathological
  * table cap (449-457). Where the reference depends on environment
  * (nltk word list) or randomness, this spec freezes a deterministic
  * replacement (SURVEY §7.4 #1).
  */
object Postprocess {

  // ---- W5: tail-repetition truncation ---------------------------------

  /** Truncate a degenerate repeating tail: if the string ends in ≥2
    * case-insensitive copies of a ≥`minLen`-char chunk, keep everything
    * up to (and including) the FIRST copy, then extend the cut forward
    * to the next sentence boundary found in the kept region's tail.
    *
    * Allocation-free candidate scan (web-scale hot path; the reference is
    * O(n²) with copies, postprocessing.py:124-133 — SURVEY §7.4 #4): a
    * period L exists only if the final `minLen` chars recur at n-L-minLen,
    * so scan positions backwards with fast-failing regionMatches — the
    * smallest L (first hit from the right) is the fundamental period. The
    * window's first two chars are compared inline first ([[mayFoldEq]]),
    * so regionMatches runs only where they can fold-match.
    */
  def truncateRepetitions(s: String, minLen: Int = 30): String = {
    val n = s.length
    if (n < 2 * minLen) return s
    var p = n - 2 * minLen          // candidate occurrence start (L = n - minLen - p)
    val pMin = n / 2 - minLen       // L ≤ n/2
    val q = n - minLen              // the suffix window
    val w0 = s.charAt(q)
    val w1 = if (minLen >= 2) s.charAt(q + 1) else w0
    var L = -1
    // adversarial guard: a page where the 30-char suffix recurs densely
    // (self-periodic runs like '---…' separators) would cost O(n²) in
    // verifications; after a bounded number of candidates, switch to the
    // exact O(n) Z-array method instead of giving up (no recall loss)
    var attempts = 0
    val pLo = math.max(pMin, 0)
    while (p >= pLo && L < 0 && attempts < 64) {
      while (p >= pLo && !(mayFoldEq(s.charAt(p), w0) && (minLen < 2 || mayFoldEq(s.charAt(p + 1), w1))))
        p -= 1
      if (p >= pLo && s.regionMatches(true, p, s, q, minLen)) {
        attempts += 1
        val cand = n - minLen - p
        if (s.regionMatches(true, n - cand, s, n - 2 * cand, cand)) L = cand
      }
      if (L < 0) p -= 1
    }
    if (L < 0 && attempts >= 64) L = exactSuffixPeriod(s, minLen)
    if (L < 0) return s
    // extend the periodic region char-wise to its true start: window-
    // granular walking misses one period when the tail is phase-shifted
    // (e.g. a trimmed trailing space), leaving two copies behind
    var start = n - L
    while (start > 0 && foldEq(s.charAt(start - 1), s.charAt(start - 1 + L))) start -= 1
    val keepEnd = start + L // one (possibly phase-shifted) copy
    // sentence-boundary extension (postprocessing.py:70-99 analog): when
    // the kept copy ends mid-sentence (phase shift into the preceding
    // text), extend FORWARD to the next sentence end within one period.
    def isEnder(c: Char) = c == '.' || c == '!' || c == '?'
    val endsClean =
      (keepEnd >= 1 && isEnder(s.charAt(keepEnd - 1))) ||
      (keepEnd >= 2 && s.charAt(keepEnd - 1).isWhitespace && isEnder(s.charAt(keepEnd - 2)))
    var cut = keepEnd
    if (!endsClean) {
      val lim = math.min(keepEnd + L, n)
      var j = keepEnd
      var found = -1
      while (j < lim && found < 0) {
        if (isEnder(s.charAt(j)) && (j + 1 >= n || s.charAt(j + 1).isWhitespace)) found = j + 1
        j += 1
      }
      if (found >= 0) cut = found
    }
    s.substring(0, cut).stripTrailing()
  }

  /** False only where String.regionMatches(ignoreCase=true) must reject
    * the pair: both chars ASCII and not one letter in two cases. A pair
    * with a char ≥ 128 may still fold-match ('ı'/'i', 'ſ'/'s', the Kelvin
    * sign/'k', 'İ'/'i'), so it is left to regionMatches.
    */
  private def mayFoldEq(a: Char, b: Char): Boolean =
    a == b || (a | b) >= 128 || {
      val la = a | 0x20
      la == (b | 0x20) && la >= 'a' && la <= 'z'
    }

  /** Case folding matching String.regionMatches(ignoreCase=true):
    * upper-then-lower (plain toLowerCase disagrees for e.g. 'I'/'ı'). */
  private def foldEq(a: Char, b: Char): Boolean = {
    if (a == b) return true
    val ua = Character.toUpperCase(a); val ub = Character.toUpperCase(b)
    ua == ub || Character.toLowerCase(ua) == Character.toLowerCase(ub)
  }

  /** Exact smallest case-insensitive suffix period L ∈ [minLen, n/2]
    * (s ends with two adjacent copies of an L-chunk), via the Z-array of
    * the reversed folded string — O(n) fallback for candidate-dense
    * pages where the heuristic scan would be quadratic. Returns -1 if
    * no period exists.
    */
  private def exactSuffixPeriod(s: String, minLen: Int): Int = {
    val n = s.length
    val r = new Array[Char](n)
    var i = 0
    while (i < n) { // reversed, regionMatches-compatible fold
      r(i) = Character.toLowerCase(Character.toUpperCase(s.charAt(n - 1 - i)))
      i += 1
    }
    // Z-array: z(k) = lcp(r, r[k..])
    val z = new Array[Int](n)
    var l = 0; var rr = 0
    var k = 1
    while (k < n) {
      if ((k & 0xFFF) == 0) graft.extract.DocBudget.tick() // every 4096 chars
      var zk = 0
      if (k < rr) zk = math.min(rr - k, z(k - l))
      while (k + zk < n && r(zk) == r(k + zk)) zk += 1
      if (k + zk > rr) { l = k; rr = k + zk }
      z(k) = zk
      k += 1
    }
    var L = minLen
    val maxL = n / 2
    while (L <= maxL) {
      if (z(L) >= L) return L
      L += 1
    }
    -1
  }

  // ---- W3/W4: repeated-line slice removal ------------------------------

  /** Digit/underscore/bold-marker strip used before line comparison
    * (`remove_numbers`, postprocessing.py:178-187). Single manual pass —
    * this runs once per line of every document.
    */
  def removeNumbers(line: String): String = {
    var dirty = false
    var i = 0
    while (i < line.length && !dirty) {
      val c = line.charAt(i)
      if ((c >= '0' && c <= '9') || c == '_' ||
          (c == '*' && i + 1 < line.length && line.charAt(i + 1) == '*')) dirty = true
      i += 1
    }
    if (!dirty) return line.trim
    val sb = new java.lang.StringBuilder(line.length)
    i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '*' && i + 1 < line.length && line.charAt(i + 1) == '*') i += 1 // skip "**"
      else if (!((c >= '0' && c <= '9') || c == '_')) sb.append(c)
      i += 1
    }
    sb.toString.trim
  }

  /** Similarity of two normalized lines: 1 - lev/maxLen (the reference
    * uses difflib ratio > 0.9; this spec freezes the Levenshtein form).
    */
  def lineSimilarity(a: String, b: String): Double = {
    if (a == b) return 1.0
    val m = math.max(a.length, b.length)
    if (m == 0) return 1.0
    1.0 - Distance.levenshtein(a, b, maxDist = m).toDouble / m
  }

  /** Exact similarity when ≥ minSim is achievable, else -1 — O(1) length
    * reject plus a banded DP capped at the implied distance budget (the
    * W3 hot path; unbounded levenshtein dominated the profile before).
    */
  def boundedSim(a: String, b: String, minSim: Double): Double = {
    if (a == b) return 1.0
    val m = math.max(a.length, b.length)
    if (m == 0) return 1.0
    val budget = (m * (1.0 - minSim)).toInt // sim ≥ minSim ⇔ d ≤ budget
    if (math.abs(a.length - b.length) > budget) return -1.0
    val d = Distance.levenshtein(a, b, maxDist = budget + 1)
    if (d > budget) -1.0 else 1.0 - d.toDouble / m
  }

  final case class SliceRemoval(text: String, slicesRemoved: Int)

  /** Detect and remove hallucinated repeated-line regions (typically
    * fabricated reference lists): runs of ≥`minSlice` similar lines
    * (len 3..200 after digit strip, gaps ≤3), expanded ≤5 lines at each
    * edge while still similar, plus a leading "References" heading; the
    * removed region is replaced by a [MISSING_PAGE_POST] paragraph
    * (postprocessing.py:190-329).
    */
  def removeHallucinatedReferences(md: String, minSlice: Int = 15): SliceRemoval = {
    if (lineCountBelow(md, minSlice)) return SliceRemoval(md, 0)
    val lines = md.split("\n", -1)
    val n = lines.length
    val norm = lines.map(removeNumbers)
    val usable = norm.map(l => l.length >= 3 && l.length <= 200)

    // mark lines similar to the next usable line
    val marked = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (usable(i)) {
        var j = i + 1
        while (j < n && norm(j).isEmpty) j += 1
        if (j < n && usable(j) && boundedSim(norm(i), norm(j), 0.9) > 0.9) {
          marked(i) = true; marked(j) = true
        }
      }
      i += 1
    }
    // group marked lines into slices with gaps <= 3
    val slices = new ArrayBuffer[(Int, Int)]
    var start = -1; var last = -1
    i = 0
    while (i < n) {
      if (marked(i)) {
        if (start < 0) { start = i; last = i }
        else if (i - last <= 3) last = i
        else { slices += ((start, last)); start = i; last = i }
      }
      i += 1
    }
    if (start >= 0) slices += ((start, last))

    val big = slices.filter { case (a, b) => b - a + 1 > minSlice }
    if (big.isEmpty) return SliceRemoval(md, 0)

    // expand edges ≤5 lines while similar to the slice boundary line
    val refHead = java.util.regex.Pattern.compile("^#{1,6}\\s*references\\s*$",
      java.util.regex.Pattern.CASE_INSENSITIVE)
    val expanded = big.map { case (a0, b0) =>
      var a = a0; var b = b0
      var k = 0
      while (k < 5 && a - 1 >= 0 && usable(a - 1) &&
             boundedSim(norm(a - 1), norm(a0), 0.9) >= 0.9) { a -= 1; k += 1 }
      k = 0
      while (k < 5 && b + 1 < n && usable(b + 1) &&
             boundedSim(norm(b + 1), norm(b0), 0.9) >= 0.9) { b += 1; k += 1 }
      // include an immediately-preceding References heading (±2 lines)
      var p = a - 1
      var steps = 0
      while (p >= 0 && steps < 2 && norm(p).isEmpty) { p -= 1; steps += 1 }
      if (p >= 0 && refHead.matcher(lines(p).trim).matches()) a = p
      (a, b)
    }
    // merge overlaps, remove right-to-left
    val sorted = expanded.sortBy(_._1)
    val mergedSlices = new ArrayBuffer[(Int, Int)]
    sorted.foreach { case (a, b) =>
      if (mergedSlices.nonEmpty && a <= mergedSlices.last._2 + 1) {
        val (pa, pb) = mergedSlices.last
        mergedSlices(mergedSlices.length - 1) = (pa, math.max(pb, b))
      } else mergedSlices += ((a, b))
    }
    val keepLine = new Array[Boolean](n)
    java.util.Arrays.fill(keepLine, true)
    mergedSlices.foreach { case (a, b) => (a to b).foreach(keepLine(_) = false) }
    val sb = new java.lang.StringBuilder(md.length)
    i = 0
    var inGap = false
    while (i < n) {
      if (keepLine(i)) {
        if (inGap) { sb.append("\n\n[MISSING_PAGE_POST]\n\n"); inGap = false }
        sb.append(lines(i))
        if (i < n - 1) sb.append('\n')
      } else inGap = true
      i += 1
    }
    if (inGap) sb.append("\n\n[MISSING_PAGE_POST]")
    SliceRemoval(sb.toString, mergedSlices.length)
  }

  /** Does `s` split on '\n' into fewer than `k` lines? Counts without splitting. */
  private def lineCountBelow(s: String, k: Int): Boolean = {
    var lines = 1
    var i = s.indexOf('\n')
    while (i >= 0 && lines < k) { lines += 1; i = s.indexOf('\n', i + 1) }
    lines < k
  }

  // ---- X10: environment closing ----------------------------------------

  private val envs = List("bmatrix", "pmatrix", "matrix", "tabular", "table")

  /** Append missing \end{env} for unbalanced environments
    * (postprocessing.py:168-175).
    */
  def closeEnvs(s: String): String = {
    var out = s
    envs.foreach { e =>
      val b = countOccurrences(s, s"\\begin{$e}")
      val c = countOccurrences(s, s"\\end{$e}")
      if (b > c) out = out + (s"\n\\end{$e}" * (b - c))
    }
    out
  }

  private def countOccurrences(s: String, needle: String): Int = {
    var c = 0; var i = s.indexOf(needle)
    while (i >= 0) { c += 1; i = s.indexOf(needle, i + needle.length) }
    c
  }

  // ---- F7: pathological table cap ---------------------------------------

  /** Drop any line with >15 \begin{tabular}, >60 \multicolumn, or >400 '&'
    * (postprocessing.py:449-457). A document under every cap as a whole
    * has no line over one, and is returned without splitting.
    */
  def killPathologicalTables(s: String): String =
    if (countOccurrences(s, "\\begin{tabular}") <= 15 && countOccurrences(s, "\\multicolumn") <= 60 &&
        countOccurrences(s, "&") <= 400) s
    else s.linesWithSeparators.filterNot { line =>
      countOccurrences(line, "\\begin{tabular}") > 15 ||
      countOccurrences(line, "\\multicolumn") > 60 ||
      line.count(_ == '&') > 400
    }.mkString

  // ---- X7: markdown_compatible -------------------------------------------

  private val pTagLead = java.util.regex.Pattern.compile(
    "(?m)^\\((\\d+(?:\\.\\d+)*)\\)\\s*\\\\\\[(.+?)\\\\\\]\\s*$")
  private val pTagTrail = java.util.regex.Pattern.compile(
    "(?m)^\\\\\\[(.+?)\\\\\\]\\s*\\((\\d+(?:\\.\\d+)*)\\)\\s*$")
  private val pBareUrl = java.util.regex.Pattern.compile(
    "(?<![\\]\\[(])\\b(https?://[^\\s)\\]>\"']+)")

  /** Equation-tag rewrites, \bm→\mathbf, bare-URL linking
    * (postprocessing.py:25-67). `hasMath`/`hasUrl` gate the scans.
    */
  def markdownCompatible(s: String, hasMath: Boolean = true, hasUrl: Boolean = true): String = {
    var t = s
    if (hasMath) {
      // "(1.2) \[ ... \]" or "\[ ... \] (1.2)" → "\[ ... \tag{1.2}\]"
      t = pTagLead.matcher(t).replaceAll("\\\\[$2 \\\\tag{$1}\\\\]")
      t = pTagTrail.matcher(t).replaceAll("\\\\[$1 \\\\tag{$2}\\\\]")
      if (t.contains("\\bm{")) t = t.replace("\\bm{", "\\mathbf{")
    }
    // bare URLs → [url](url); skip urls already inside ]( ) or [ ]
    if (hasUrl) t = pBareUrl.matcher(t).replaceAll("[$1]($1)")
    t
  }

  // ---- X14 -----------------------------------------------------------------

  private val pPrettyNl = java.util.regex.Pattern.compile("\n(?![\n\\d*#\\[])")

  /** Unwrap "pretty" line breaks: '\n' → ' ' unless followed by \n, digit,
    * '*', '#', or '[' (dataset/utils/utils.py:10-20).
    */
  def removePrettyLinebreaks(s: String): String =
    pPrettyNl.matcher(s).replaceAll(" ")

  // ---- X8: the ordered pipeline ---------------------------------------------

  final case class Result(text: String, repetitionTruncated: Boolean, slicesRemoved: Int)

  /** `postprocess_single` stage order (postprocessing.py:332-484), adapted:
    * oversize-title demotion → numeral-only header removal → repetition
    * truncation → hallucinated-reference removal → pathological-table cap
    * → empty-tabular deletion → marker-line cleanup → env closing →
    * whitespace squeeze → optional markdown_compatible.
    */
  private val pEmptyCite = java.util.regex.Pattern.compile("(?m)^\\* \\[\\] *$\n?")
  private val pEmptyCiteInline = java.util.regex.Pattern.compile(" \\[\\](?=[ ,.;])")
  private val pPmcMath = java.util.regex.Pattern.compile(
    "(?<![\\w_])_([A-Za-z0-9]+)__([A-Za-z0-9]+)_(?![\\w_])")

  /** Empty citation brackets and PMC-style math artifacts
    * (postprocessing.py:357-384): "* []" reference stubs dropped,
    * " []" before punctuation removed, `_a__b_` → \(a_{b}\).
    */
  def fixArtifacts(s: String): String = {
    var t = s
    if (t.contains("[]")) {
      t = pEmptyCite.matcher(t).replaceAll("")
      t = pEmptyCiteInline.matcher(t).replaceAll("")
    }
    if (t.contains("__")) t = pPmcMath.matcher(t).replaceAll("\\\\($1_{$2}\\\\)")
    t
  }

  private[post] val pLongTitle = java.util.regex.Pattern.compile("(?m)^#{1,6} {0,3}(.{100,})$")
  private[post] val pNumHeader = java.util.regex.Pattern.compile("(?m)^#{1,6} {0,3}[\\d.]+ *$\n?")
  private[post] val pEmptyTabular = java.util.regex.Pattern.compile(
    "\\\\begin\\{tabular\\}\\{[^}]*\\}\\s*\\\\end\\{tabular\\}")
  private[post] val pHashLine = java.util.regex.Pattern.compile("(?m)^[#\\s]*#+ *$\n?")
  private[post] val pDotLine = java.util.regex.Pattern.compile("(?m)^\\. *$\n?")
  private[post] val pTrailWs = java.util.regex.Pattern.compile("(?m)[ \t]+$")
  private[post] val pBlankSqueeze = java.util.regex.Pattern.compile("\n{3,}")

  /** Java's line terminators: where MULTILINE `^`/`$` anchor and `.` stops. */
  private def isLineEnd(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** The chars of `\s` that do not end a line. */
  private def isLineBlank(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\u000B' || c == '\f'

  /** Feature scan: each flag gates a stage of postprocessSingle —
    * full-document java.util.regex scans for patterns that cannot match
    * dominated the execution profile. Every flag is a superset of its
    * stage's match condition on the scanned text (false ⇒ the stage
    * would leave that text unchanged); postprocessSingle scans again
    * once a stage has changed the text. No loop visits every char: each trigger is found by
    * String.indexOf (a vectorized search) of its rarest char or of the
    * whole needle, and line-start triggers are read at the line
    * terminators that precede them.
    */
  private[post] final class Feat(s: String) {
    private val n = s.length
    /** Any '#' (endTitle). */
    val hash: Boolean = s.indexOf('#') >= 0
    /** A line opening '#' with ≥100 chars after it (pLongTitle). */
    var longTitle = false
    /** A line opening '#'s, spaces, then a digit or '.' (pNumHeader). */
    var numHeader = false
    /** A line of only '#' and blanks, with a '#' (pHashLine). */
    var hashLine = false
    /** A line opening '.' (pDotLine). */
    var dotLine = false
    /** A space or tab before a line end or the string end (pTrailWs). */
    var trailWs = false
    /** '&', "\\multicolumn" (killPathologicalTables, with beginEnv). */
    val amp: Boolean = s.indexOf('&') >= 0
    var multicolumn = false
    /** "http" (markdownCompatible's bare-URL linking). */
    val http: Boolean = s.indexOf("http") >= 0
    /** "\\[" or "\\bm{" (markdownCompatible's math rewrites). */
    var math = false
    /** "\\begin{", "\\begin{tabular}", "\\end{" (table and env stages). */
    var beginEnv = false
    var tabular = false
    var endEnv = false
    /** "[leftmargin=*]" (itemize artifact). */
    val leftmargin: Boolean = s.indexOf("[leftmargin=*]") >= 0
    /** "[FOOTNOTE:" or "\nFootnote " (footnotes). */
    var footnote: Boolean = s.indexOf("[FOOTNOTE:") >= 0
    /** A line opening "* [" (authorSpam). */
    var refMarker = false
    /** A line opening '-' or '*' (itemizeReflow, with midBullet). */
    var bulletLine = false

    if (n > 0) lineStart(0, afterNewline = false)
    lineEnds('\n'); lineEnds('\r'); lineEnds('\u0085'); lineEnds('\u2028'); lineEnds('\u2029')
    escapes()
    if (n > 0 && (s.charAt(n - 1) == ' ' || s.charAt(n - 1) == '\t')) trailWs = true

    /** " - " or " * ", looked for only once bulletLine holds. */
    val midBullet: Boolean = bulletLine && (s.indexOf(" - ") >= 0 || s.indexOf(" * ") >= 0)

    private def lineEnds(c: Char): Unit = {
      var i = s.indexOf(c)
      while (i >= 0) { lineEnd(i); i = s.indexOf(c, i + 1) }
    }

    private def escapes(): Unit = {
      var i = s.indexOf('\\')
      while (i >= 0 && i + 1 < n) { escape(i + 1); i = s.indexOf('\\', i + 1) }
    }

    /** `s(i)` ends a line. */
    private def lineEnd(i: Int): Unit = {
      val nl = s.charAt(i) == '\n'
      if (i > 0 && (s.charAt(i - 1) == ' ' || s.charAt(i - 1) == '\t')) trailWs = true
      if (i + 1 < n) lineStart(i + 1, afterNewline = nl)
    }

    /** A line starts at `j` (< n). */
    private def lineStart(j: Int, afterNewline: Boolean): Unit = s.charAt(j) match {
      case '#' => heading(j)
      case '.' => dotLine = true
      case '*' =>
        bulletLine = true
        if (s.startsWith(" [", j + 1)) refMarker = true
      case '-' => bulletLine = true
      case 'F' => if (afterNewline && s.startsWith("Footnote ", j)) footnote = true
      case c if isLineBlank(c) =>
        var m = j + 1
        while (m < n && isLineBlank(s.charAt(m))) m += 1
        if (m < n && s.charAt(m) == '#' && hashesToLineEnd(m)) hashLine = true
      case _ => ()
    }

    /** A line opens with '#' at `j`. pLongTitle needs one '#' and 100
      * non-terminator chars; pNumHeader consumes the whole '#' run (a
      * '#' is neither a space nor [\d.]). */
    private def heading(j: Int): Unit = {
      var k = j
      while (k < n && s.charAt(k) == '#') k += 1
      var eol = s.indexOf('\n', k)
      if (eol < 0) eol = n
      if (eol - j - 1 >= 100) longTitle = true
      var m = k
      while (m < n && s.charAt(m) == ' ') m += 1
      if (m < n && ((s.charAt(m) >= '0' && s.charAt(m) <= '9') || s.charAt(m) == '.')) numHeader = true
      if (hashesToLineEnd(k)) hashLine = true
    }

    /** Only '#' and blanks from `k` to the line's end. */
    private def hashesToLineEnd(k: Int): Boolean = {
      var m = k
      while (m < n && (s.charAt(m) == '#' || isLineBlank(s.charAt(m)))) m += 1
      m == n || isLineEnd(s.charAt(m))
    }

    /** A backslash precedes `j`. */
    private def escape(j: Int): Unit = s.charAt(j) match {
      case '[' => math = true
      case 'b' =>
        if (s.startsWith("begin{", j)) {
          beginEnv = true
          if (s.startsWith("begin{tabular}", j)) tabular = true
        } else if (s.startsWith("bm{", j)) math = true
      case 'e' => if (s.startsWith("end{", j)) endEnv = true
      case 'm' => if (s.startsWith("multicolumn", j)) multicolumn = true
      case _ => ()
    }
  }

  /** The blank-line squeeze's gate, besides lone '#'/'.' lines removed:
    * "\n\n\n" or a leading '\n' in the chain's input, or slices removed.
    * It alone is not read from the text its stage sees, so that a
    * "\n\n\n" the pathological-table cap leaves (a dropped line between
    * blank lines) stays, as in the outputs CorpusGoldenSpec pins.
    */
  private def squeezeGate(md0: String, slicesRemoved: Int): Boolean =
    md0.startsWith("\n") || md0.indexOf("\n\n\n") >= 0 || slicesRemoved > 0

  def postprocessSingle(md0: String, markdownFix: Boolean = true): Result = {
    graft.extract.DocBudget.tick() // wall-clock checkpoint between stages
    var md = md0
    // md's flags: a stage that changes md drops them and the next gate
    // scans the new text, so each gate holds for the text its stage sees
    var feat: Feat = null
    def f: Feat = { if (feat == null) feat = new Feat(md); feat }
    def set(next: String): Unit = if (next ne md) { md = next; feat = null }
    // >100-char titles are not titles (postprocessing.py:343-345);
    // numeral-only headers (postprocessing.py:352-356)
    if (f.longTitle) set(pLongTitle.matcher(md).replaceAll("$1"))
    if (f.numHeader) set(pNumHeader.matcher(md).replaceAll(""))
    // itemize artifact (postprocessing.py:347)
    if (f.leftmargin) set(md.replace("[leftmargin=*]\n", ""))
    // hallucinated trailing title (postprocessing.py:349-356)
    if (f.hash) set(RepairStages.endTitle(md))
    val truncated = truncateRepetitions(md)
    val wasTruncated = truncated.length < md.length
    set(truncated)
    val sliced = removeHallucinatedReferences(md)
    set(sliced.text)
    // author-initial spam + empty citation brackets (postprocessing.py:358-361)
    if (f.refMarker) set(RepairStages.authorSpam(md))
    // lone word-char paragraph at page edge (postprocessing.py:362)
    if (strayGate(md)) set(RepairStages.strayChar(md))
    set(fixArtifacts(md))
    // footnote relabel + [FOOTNOTE] spans (postprocessing.py:373-381)
    if (f.footnote) set(RepairStages.footnotes(md))
    // one-line itemize re-flow (postprocessing.py:386-424)
    if (f.bulletLine && f.midBullet) set(RepairStages.itemizeReflow(md))
    if (f.amp || f.beginEnv || f.multicolumn) set(killPathologicalTables(md))
    // table/tabular whitespace corrections (postprocessing.py:459-476)
    if (f.beginEnv || f.endEnv) set(RepairStages.tableWhitespace(md))
    // empty tabular environments (postprocessing.py:458-476)
    if (f.tabular) set(pEmptyTabular.matcher(md).replaceAll(""))
    // repeated bold "S. A. B." hallucination (postprocessing.py:477)
    set(RepairStages.sabSpam(md))
    // lone '#' or '.' lines (postprocessing.py:478-481)
    val beforeMarkers = md
    if (f.hashLine) set(pHashLine.matcher(md).replaceAll(""))
    if (f.dotLine) set(pDotLine.matcher(md).replaceAll(""))
    val markersRemoved = md ne beforeMarkers
    if (f.beginEnv) set(closeEnvs(md))
    if (f.trailWs) set(pTrailWs.matcher(md).replaceAll(""))
    if (markersRemoved || squeezeGate(md0, sliced.slicesRemoved))
      set(pBlankSqueeze.matcher(md).replaceAll("\n\n"))
    set(md.trim)
    if (markdownFix && (f.math || f.http))
      set(markdownCompatible(md, f.math, f.http))
    Result(md, wasTruncated, sliced.slicesRemoved)
  }

  /** O(1) gate for the stray-char stage: the pattern can only match when
    * the page opens `\w\n\n` or closes `\n\n\w`.
    */
  private def strayGate(s: String): Boolean = {
    val n = s.length
    (n >= 3 && s.charAt(1) == '\n' && s.charAt(2) == '\n') ||
    (n >= 3 && s.charAt(n - 2) == '\n' && s.charAt(n - 3) == '\n')
  }

  /** Per-PAGE postprocess: the document pipeline plus the page-boundary
    * whitespace repair (postprocessing.py:426-446) which only makes sense
    * when consecutive pages will be concatenated — the doc-level pipeline
    * trims edges, so the boundary stage lives here (SURVEY §2 X8; the
    * nltk word list is replaced by the bundled deterministic list).
    */
  def postprocessPage(md0: String, markdownFix: Boolean = true): Result = {
    val r = postprocessSingle(md0, markdownFix)
    r.copy(text = RepairStages.pageEnding(r.text))
  }
}

/** Bounded Levenshtein (X12 substrate) — banded DP: O(n·maxDist). */
object Distance {

  /** min(edit distance, maxDist). Only cells with |i − j| ≤ maxDist are
    * filled: a path that leaves the band already costs more than maxDist,
    * so the band's values are exact wherever the distance is within it.
    */
  def levenshtein(a: String, b: String, maxDist: Int = Int.MaxValue): Int = {
    if (a == b) return 0
    val swap = a.length > b.length
    val s = if (swap) b else a
    val t = if (swap) a else b
    val n = s.length; val m = t.length
    if (m - n > maxDist) return maxDist
    val k = math.min(maxDist, m) // band half-width; k ≥ m - n
    val out = k + 1              // stands for every value past the band
    var prev = new Array[Int](n + 1)
    var cur = new Array[Int](n + 1)
    var i = 0
    while (i <= n) { prev(i) = if (i <= k) i else out; i += 1 }
    var j = 1
    while (j <= m) {
      graft.extract.DocBudget.tick() // per-column checkpoint
      val lo = math.max(1, j - k)
      val hi = math.min(n, j + k)
      cur(0) = if (j <= k) j else out
      cur(lo - 1) = if (lo == 1) cur(0) else out
      var best = cur(lo - 1)
      val tc = t.charAt(j - 1)
      i = lo
      while (i <= hi) {
        val cost = if (s.charAt(i - 1) == tc) 0 else 1
        val v = math.min(math.min(cur(i - 1) + 1, prev(i) + 1), prev(i - 1) + cost)
        cur(i) = v
        if (v < best) best = v
        i += 1
      }
      if (hi < n) cur(hi + 1) = out
      if (best > k) return maxDist
      val tmp = prev; prev = cur; cur = tmp
      j += 1
    }
    math.min(prev(n), maxDist)
  }
}
