package graft.extract

import org.scalatest.funsuite.AnyFunSuite

class OutlinksSpec extends AnyFunSuite {

  test("collects anchors in document order, including nav/footer chrome") {
    val html =
      """<html><body>
        |<nav><a href="/home">Home</a> <a href="/about">About us</a></nav>
        |<article><p>See <a href="https://other.org/x">the source</a>.</p></article>
        |<footer><a href="/terms">Terms</a></footer>
        |</body></html>""".stripMargin
    val links = Outlinks.extractHtml(html)
    assert(links.map(_.href) == Seq("/home", "/about", "https://other.org/x", "/terms"))
    assert(links.map(_.anchor) == Seq("Home", "About us", "the source", "Terms"))
  }

  test("fragment hrefs and empty hrefs are excluded") {
    val html = """<p><a href="#bib.bib1">[1]</a> <a href="">x</a> <a>no href</a> <a href="/ok">ok</a></p>"""
    assert(Outlinks.extractHtml(html).map(_.href) == Seq("/ok"))
  }

  test("anchor text is whitespace-normalized across nested markup; script/style never leak") {
    val html =
      """<a href="/a"><b>bold  and</b>
        |   <i>italic</i><script>var x = "evil";</script></a>""".stripMargin
    val links = Outlinks.extractHtml(html)
    assert(links == Seq(Outlinks.Link("/a", "bold and italic")))
  }

  test("anchors inside script/style/template subtrees are not collected") {
    val html = """<template><a href="/ghost">ghost</a></template><a href="/real">real</a>"""
    assert(Outlinks.extractHtml(html).map(_.href) == Seq("/real"))
  }

  test("total on malformed html and deterministic across calls") {
    val html = "<a href='/x'>unclosed <div><a href=\"/y\">nested</p></table>"
    val a = Outlinks.extractHtml(html)
    val b = Outlinks.extractHtml(html)
    assert(a == b)
    assert(a.map(_.href).toSet == Set("/x", "/y"))
  }

  test("nested anchor owns its text: outer anchor excludes it, inner still emits a Link") {
    // malformed-but-tolerated nesting: each text run is attributed to
    // its NEAREST enclosing anchor exactly once (the r5-advice
    // double-count note) — outer sees "before after", inner sees "mid"
    val html = """<a href="/outer">before <a href="/inner">mid</a> after</a>"""
    val links = Outlinks.extractHtml(html)
    val byHref = links.map(l => l.href -> l.anchor).toMap
    assert(byHref.get("/inner").contains("mid"))
    byHref.get("/outer").foreach { outer =>
      assert(!outer.contains("mid"), s"outer anchor double-counts nested text: '$outer'")
    }
    assert(links.map(_.href).count(_ == "/inner") == 1)
  }

  test("NBSP in anchor text normalizes to a plain space") {
    val html = "<a href=\"/n\">two\u00A0words</a>"
    assert(Outlinks.extractHtml(html).head.anchor == "two words")
  }

  test("byte entry point: empty and null inputs yield no links") {
    assert(Outlinks.extract(null).isEmpty)
    assert(Outlinks.extract(Array.emptyByteArray).isEmpty)
    assert(Outlinks.extract("<a href=\"/b\">b</a>".getBytes("UTF-8")).map(_.href) == Seq("/b"))
  }

  test("byte entry point sniffs the charset like Extractor.extract: cp1252 anchors keep their accents") {
    val page = "<a href=\"/x\">Caf\u00E9</a>".getBytes("windows-1252") // lone 0xE9: not UTF-8
    assert(Outlinks.extract(page) == Seq(Outlinks.Link("/x", "Caf\u00E9")))
  }
}
