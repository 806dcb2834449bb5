package graft.post

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

class PostprocessPropSpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 300): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(n)
      .withInitialSeed(org.scalacheck.rng.Seed(7L))
    val res = SCTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  private val word = Gen.oneOf("alpha", "beta", "gamma", "data", "spark", "the", "x", "42.", "#", "\\[", "\\]", "**")
  private val textGen: Gen[String] = for {
    words <- Gen.listOf(word)
    seps <- Gen.listOfN(words.length, Gen.oneOf(" ", " ", " ", "\n", "\n\n", ". "))
  } yield words.zip(seps).map { case (w, s) => w + s }.mkString

  // every trigger, its near misses, and the line terminators and blanks
  // that Java's ^, $ and \s treat as such; fragments concatenate with no
  // separator, so triggers land at index 0 and at n-1
  private val frag = Gen.frequency(
    20 -> Gen.oneOf("\\begin{", "\\begin{tabular}", "\\begin{tabular}{ll} \\end{tabular}",
      "\\begin{table} \\begin{tabular}", "\\end{", "\\end{tabular} \\end{table} Tab",
      "\\[", "\\]", "\\bm{x}", "\\", "(1.2) ", "http", "https://a.org/x", "[leftmargin=*]",
      "[leftmargin=*]\n", "[FOOTNOTE:1]fn[ENDFOOTNOTE]", "[FOOTNOTE:", "Footnote ",
      "Footnote 2: thanks: z", "* [", "* [12]", " A. B. C. D. E. F. G. H. I. J. K.", "][]",
      "- ", " - ", " * ", "-", "*", "-x", ".", ". ", "#", "##", "# 1.2", "#7", "# ",
      "# " + "t" * 100, "#" * 3 + "u" * 98, "&", "&amp;", "\\multicolumn",
      "\\multicolumn" * 61, "**S. A. B.**\n",
      "## \\begin{tabular}{ll} a & b \\end{tabular}", "ab cd ef gh ij kl mn op qr st uv " * 3),
    10 -> Gen.oneOf("\n", "\n\n", "\n\n\n", "\r", "\r\n", "\f", "\u000B", "\u0085",
      "\u2028", "\u2029", " ", "\t", "  "),
    6 -> Gen.oneOf("word", "x", "42", "Table", "ix", "v."))
  private val fragText: Gen[String] = Gen.listOf(frag).map(_.mkString)

  /** postprocessSingle's stage chain with every gate forced true, but for
    * the blank-line squeeze, whose gate reads the chain's input. */
  private def ungatedChain(md0: String, markdownFix: Boolean): String = {
    import Postprocess._
    var md = md0
    md = pLongTitle.matcher(md).replaceAll("$1")
    md = pNumHeader.matcher(md).replaceAll("")
    md = md.replace("[leftmargin=*]\n", "")
    md = RepairStages.endTitle(md)
    md = truncateRepetitions(md)
    val sliced = removeHallucinatedReferences(md)
    md = sliced.text
    md = RepairStages.authorSpam(md)
    md = RepairStages.strayChar(md)
    md = fixArtifacts(md)
    md = RepairStages.footnotes(md)
    md = RepairStages.itemizeReflow(md)
    md = killPathologicalTables(md)
    md = RepairStages.tableWhitespace(md)
    md = pEmptyTabular.matcher(md).replaceAll("")
    md = RepairStages.sabSpam(md)
    val beforeMarkers = md
    md = pHashLine.matcher(md).replaceAll("")
    md = pDotLine.matcher(md).replaceAll("")
    val markersRemoved = md != beforeMarkers
    md = closeEnvs(md)
    md = pTrailWs.matcher(md).replaceAll("")
    if (markersRemoved || md0.startsWith("\n") || md0.contains("\n\n\n") || sliced.slicesRemoved > 0)
      md = pBlankSqueeze.matcher(md).replaceAll("\n\n")
    md = md.trim
    if (markdownFix) md = markdownCompatible(md)
    md
  }

  test("property: truncateRepetitions never lengthens, never throws") {
    check(Prop.forAll(textGen) { s =>
      val out = Postprocess.truncateRepetitions(s)
      out.length <= s.length
    })
  }

  test("property: repeated tails always collapse to one copy") {
    val chunk = Gen.listOfN(8, word).map(_.mkString(" ") + ". ")
    val g = for { base <- textGen; c <- chunk; k <- Gen.choose(2, 9) } yield (base, c, k)
    check(Prop.forAll(g) { case (base, c, k) =>
      val s = base + (c * k) // chunk ends with ". " so the tail is exactly periodic
      val out = Postprocess.truncateRepetitions(s)
      // truncated output never retains 2 full copies of a >=30-char chunk
      c.length < 30 || out.length < s.length
    })
  }

  test("candidate-dense self-periodic suffix still truncates (Z-array fallback)") {
    // a repeating unit containing a long dash run: the 30-char suffix
    // recurs at >64 offsets with failing verifies; the exact fallback
    // must still find the true unit period
    val unit = "data | " + ("-" * 200) + " x " + ("-" * 45)
    val s = "Intro paragraph stays here. " + (unit + " ") * 3
    val out = Postprocess.truncateRepetitions(s.stripTrailing())
    assert(out.length < s.stripTrailing().length)
    assert(out.startsWith("Intro paragraph stays here."))
    // exactly one copy of the unit survives
    assert(out.sliding(unit.length).count(_ == unit) == 1)
  }

  test("property: closeEnvs balances every tracked environment") {
    val env = Gen.oneOf("tabular", "table", "matrix", "bmatrix", "pmatrix")
    val frag = Gen.oneOf(
      env.map(e => s"\\begin{$e}"), env.map(e => s"\\end{$e}"), Gen.const("text "))
    val g = Gen.listOf(frag).map(_.mkString)
    check(Prop.forAll(g) { s =>
      val out = Postprocess.closeEnvs(s)
      Seq("tabular", "table", "matrix", "bmatrix", "pmatrix").forall { e =>
        val b = out.sliding(s"\\begin{$e}".length).count(_ == s"\\begin{$e}")
        val c = out.sliding(s"\\end{$e}".length).count(_ == s"\\end{$e}")
        b <= c
      }
    }, 120)
  }

  test("property: markdownCompatible and epilogue are idempotent") {
    check(Prop.forAll(textGen) { s =>
      val m1 = Postprocess.markdownCompatible(s)
      val e1 = graft.extract.MarkdownSerializer.epilogue(s)
      Postprocess.markdownCompatible(m1) == m1 &&
        graft.extract.MarkdownSerializer.epilogue(e1) == e1
    })
  }

  test("property: postprocessSingle never throws and strips trailing ws") {
    check(Prop.forAll(textGen) { s =>
      val r = Postprocess.postprocessSingle(s)
      r.text == r.text.trim
    })
  }

  test("property: '#'-regex gates are sound (a match implies its flag)") {
    // the Feat candidate flags must never skip a regex that would match:
    // pattern.find(s) ⇒ flag(s). Over-triggering is harmless (the regex
    // just runs and finds nothing); under-triggering silently changes
    // semantics, which is what this property guards.
    val lineGen = Gen.oneOf(
      Gen.const("## 1.2 "), Gen.const("##"), Gen.const("  ## "),
      Gen.const("#\t#"), Gen.const("# " + "t" * 120),
      Gen.const("####### " + "x" * 105), Gen.const("body text here."),
      Gen.const("item #4 mid-line"), Gen.const("# 2024 results"),
      Gen.const("# .5"), Gen.const("#. "), Gen.const(" \t## "),
      Gen.const("### 1."), Gen.const(""),
      // adversarial: >6-'#' runs count extra hashes toward the title
      // group; \r / \f / vertical-tab around '#' ride pHashLine's \s
      Gen.const("#" * 50 + "x" * 60), Gen.const("##\r"),
      Gen.const("\f## "), Gen.const("#"), Gen.const("#" * 8))
    val docGen = Gen.listOf(lineGen).map(_.mkString("\n"))
    check(Prop.forAll(docGen) { s =>
      val f = new Postprocess.Feat(s)
      (!Postprocess.pLongTitle.matcher(s).find() || f.longTitle) &&
      (!Postprocess.pNumHeader.matcher(s).find() || f.numHeader) &&
      (!Postprocess.pHashLine.matcher(s).find() || f.hashLine)
    })
  }

  test("property: every Feat gate is sound (a false flag leaves its stage's input unchanged)") {
    // each gated stage of postprocessSingle, keyed by the flag
    // expression that guards it there
    import Postprocess.Feat
    val stages: Seq[(String, Feat => Boolean, String => String)] = Seq(
      ("longTitle", _.longTitle, Postprocess.pLongTitle.matcher(_).replaceAll("$1")),
      ("numHeader", _.numHeader, Postprocess.pNumHeader.matcher(_).replaceAll("")),
      ("leftmargin", _.leftmargin, _.replace("[leftmargin=*]\n", "")),
      ("hash", _.hash, RepairStages.endTitle),
      ("refMarker", _.refMarker, RepairStages.authorSpam),
      ("footnote", _.footnote, RepairStages.footnotes),
      ("bullets", f => f.bulletLine && f.midBullet, RepairStages.itemizeReflow),
      ("tableCap", f => f.amp || f.beginEnv || f.multicolumn, Postprocess.killPathologicalTables),
      ("tableWs", f => f.beginEnv || f.endEnv, RepairStages.tableWhitespace),
      ("tabular", _.tabular, Postprocess.pEmptyTabular.matcher(_).replaceAll("")),
      ("hashLine", _.hashLine, Postprocess.pHashLine.matcher(_).replaceAll("")),
      ("dotLine", _.dotLine, Postprocess.pDotLine.matcher(_).replaceAll("")),
      ("closeEnvs", _.beginEnv, Postprocess.closeEnvs),
      ("trailWs", _.trailWs, Postprocess.pTrailWs.matcher(_).replaceAll("")),
      ("math", _.math, Postprocess.markdownCompatible(_, hasMath = true, hasUrl = false)),
      ("http", _.http, Postprocess.markdownCompatible(_, hasMath = false, hasUrl = true)))
    check(Prop.forAll(fragText) { s =>
      val f = new Feat(s)
      val unsound = stages.collect { case (name, flag, stage) if !flag(f) && stage(s) != s => name }
      Prop(unsound.isEmpty) :| s"unsound ${unsound.mkString(",")} on chars ${s.map(_.toInt)}"
    }, 2000)
  }

  test("property: postprocessSingle equals its stage chain with every gate forced true") {
    check(Prop.forAll(fragText, Gen.oneOf(true, false)) { (s, fix) =>
      val got = Postprocess.postprocessSingle(s, fix).text
      val want = ungatedChain(s, fix)
      Prop(got == want) :| s"chars ${s.map(_.toInt)}: got ${got.map(_.toInt)}, want ${want.map(_.toInt)}"
    }, 2000)
  }

  test("gates read the text their stage sees, not the chain's input") {
    val cases = Seq(
      // tableWhitespace breaks "## \\begin{tab" into a lone "## " line,
      // which the '#'-line stage then drops
      "See item #3.\n## \\begin{tabular}{ll} a & b \\end{tabular}\nMore text." ->
        "See item #3.\n\\begin{tabular}{ll} a & b \\end{tabular}\nMore text.",
      // dropping the lone '.' line leaves "\n\n\n", which is squeezed
      "Alpha.\n\n.\n\nBeta." -> "Alpha.\n\nBeta.",
      // a leading '\n' opens the squeeze gate, whatever stage leaves "\n\n\n"
      ("\nAlpha.\n\n" + "&" * 401 + "\n\nBeta.") -> "Alpha.\n\nBeta.",
      // without it, a line dropped by the table cap leaves its blank lines
      ("Alpha.\n\n" + "&" * 401 + "\n\nBeta.") -> "Alpha.\n\n\nBeta.")
    cases.foreach { case (in, expected) =>
      withClue(in.take(40)) {
        assert(Postprocess.postprocessSingle(in).text == expected)
        assert(ungatedChain(in, markdownFix = true) == expected)
      }
    }
  }

  test("property: killPathologicalTables drops only over-cap lines") {
    val line = Gen.oneOf("a & b", "&" * 401, "\\begin{tabular}" * 16, "\\multicolumn" * 61, "text")
    val g = Gen.listOf(line).map(_.mkString("\n"))
    check(Prop.forAll(g) { s =>
      val kept = s.linesWithSeparators.filterNot { l =>
        l.count(_ == '&') > 400 || l.split("\\\\begin\\{tabular\\}", -1).length - 1 > 15 ||
          l.split("\\\\multicolumn", -1).length - 1 > 60
      }.mkString
      Postprocess.killPathologicalTables(s) == kept
    }, 200)
  }

  test("repetition scan: case folds beyond ASCII still find the period") {
    // copies that differ only by folds String.regionMatches(ignoreCase)
    // makes and an ASCII-only compare would miss; outputs frozen from the
    // scan before the inline first-chars check was added
    val cases = Seq(
      ("dotless i", "Intro text stands here. Kite IN the wind is fine today. k\u0131te \u0131n the w\u0131nd is f\u0131ne today. KITE in THE WIND IS FINE TODAY.",
        "Intro text stands here. Kite IN the wind is fine today."),
      ("long s", "Preface line. Sums slip past us all the way.SUMS SLIP PAST US ALL THE WAY.\u017Fums \u017Flip pa\u017Ft u\u017F all the way.",
        "Preface line. Sums slip past us all the way."),
      ("kelvin sign", "Opening words. Keep kind kettles kicking now.\u212Aeep \u212Aind \u212Aettles \u212Aic\u212Aing now.keep KIND kettles kicking NOW.",
        "Opening words. Keep kind kettles kicking now."),
      ("dotted capital I", "Start here. Ice in iron is icy in the end.\u0130ce \u0130n \u0130ron \u0130s \u0130cy \u0130n the end.ice in iron is icy in the end.",
        "Start here. Ice in iron is icy in the end."),
      // the 30-char suffix window opens with a non-ASCII char
      ("suffix starts non-ASCII", "Lead in. \u0131ce cold water runs very deep.Ice cold water runs very deep.\u0130CE COLD WATER RUNS VERY DEEP.",
        "Lead in. \u0131ce cold water runs very deep."),
      // ... with a non-letter; '[' vs '{' and '@' vs '`' differ by the
      // ASCII case bit but are no fold, so these keep every copy
      ("suffix starts non-letter", "Lead in. [1] refs and notes, all of it.[1] REFS and NOTES, all of it.[1] Refs And Notes, All Of It.",
        "Lead in. [1] refs and notes, all of it."),
      ("brace vs bracket", "Lead in. [x] refs and notes, all of it.{x} refs and notes, all of it.[x] refs and notes, all of it.",
        "Lead in. [x] refs and notes, all of it.{x} refs and notes, all of it.[x] refs and notes, all of it."),
      ("at-sign vs backquote", "Lead in. @home we keep the notes we do.`home we keep the notes we do.@home we keep the notes we do.",
        "Lead in. @home we keep the notes we do.`home we keep the notes we do.@home we keep the notes we do."))
    assert(cases(4)._2.charAt(cases(4)._2.length - 30) >= 128)
    assert(!cases(5)._2.charAt(cases(5)._2.length - 30).isLetter)
    cases.foreach { case (name, in, expected) =>
      withClue(name) { assert(Postprocess.truncateRepetitions(in) == expected) }
    }
  }

  test("property: banded levenshtein equals min(full DP, maxDist)") {
    def full(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val str = Gen.choose(0, 14).flatMap(Gen.listOfN(_, Gen.oneOf('a', 'b', 'c'))).map(_.mkString)
    val g = for {
      a <- str; b <- str
      // 0, 1, small, at least the longer length, and Int.MaxValue (the default)
      k <- Gen.oneOf(Gen.const(0), Gen.const(1), Gen.choose(2, 5),
        Gen.const(math.max(a.length, b.length)), Gen.const(math.max(a.length, b.length) + 3),
        Gen.const(Int.MaxValue))
    } yield (a, b, k)
    check(Prop.forAll(g) { case (a, b, k) =>
      Distance.levenshtein(a, b, k) == math.min(full(a, b), k)
    }, 3000)
    // the length-gap early return: m − n > maxDist answers maxDist untouched
    assert(Distance.levenshtein("ab", "abcdefg", 3) == 3)
    assert(Distance.levenshtein("abcdefg", "", 2) == 2)
    assert(Distance.levenshtein("", "abc", 5) == 3)
  }

  test("property: boundedSim agrees with exact lineSimilarity at the 0.9 gate") {
    val lineGen = Gen.listOfN(12, Gen.alphaChar).map(_.mkString)
    val g = for { a <- lineGen; b <- lineGen } yield (a, b)
    check(Prop.forAll(g) { case (a, b) =>
      val exact = Postprocess.lineSimilarity(a, b)
      val bounded = Postprocess.boundedSim(a, b, 0.9)
      (exact > 0.9) == (bounded > 0.9) && (exact >= 0.9) == (bounded >= 0.9)
    })
  }

  test("property: extractor never throws on mutilated corpus pages") {
    val g = for {
      i <- Gen.choose(0L, 2000L)
      cut <- Gen.choose(0.0, 1.0)
    } yield (i, cut)
    check(Prop.forAll(g) { case (i, cut) =>
      val page = graft.gen.SyntheticCorpus.pageFor(42L, i)
      val bytes = java.util.Arrays.copyOf(page.html, (page.html.length * cut).toInt.max(0))
      val d = graft.extract.Extractor.extract(page.url, bytes)
      // spans must always index into the final markdown
      d.spans.forall(sp => sp.start >= 0 && sp.end <= d.markdown.length &&
        d.markdown.substring(sp.start, sp.end) == sp.body)
    }, 150)
  }
}
