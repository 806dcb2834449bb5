package graft.extract

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import graft.core.ExtractedDoc
import graft.gen.SyntheticCorpus

/** One frozen digest over every field `Extractor.extract` emits, for a
  * whole corpus: all 20k seed-1 `SyntheticCorpus.pageFor` pages (every
  * family, the 630k-char boiler pages among them) plus byte-truncated
  * copies of the first 2k (cut mid-tag, mid-entity and mid-UTF-8
  * sequence). GoldenSnapshotSpec pins a dozen pages by hand; this pins
  * the byte identity of the whole stage chain at corpus scale, so a
  * tokenizer or postprocess rewrite that changes any document fails here.
  *
  * How the constant was made: `corpusDigest()` below, run on commit
  * 5f0d6c5, before the postprocess gate, repetition scan and tokenizer
  * were rewritten. A deliberate semantics change must recompute it the
  * same way and say why in its commit message.
  */
class CorpusGoldenSpec extends AnyFunSuite {

  private val seed = 1L
  private val pages = 20000
  private val truncatedPages = 2000

  private val frozen = "ceb8f0b12a503c0dc80efb89ffd9a45f5961340f49547dc7877a29d84c01afcb"

  /** Length-prefixed, so no two distinct field sequences feed the same bytes. */
  private final class Feed(md: MessageDigest) {
    def int(v: Int): Unit = {
      md.update((v >>> 24).toByte); md.update((v >>> 16).toByte)
      md.update((v >>> 8).toByte); md.update(v.toByte)
    }
    def str(s: String): Unit = { val b = s.getBytes(UTF_8); int(b.length); md.update(b) }
    def doc(d: ExtractedDoc): Unit = {
      str(d.url); str(d.markdown)
      int(d.spans.length)
      d.spans.foreach { sp => str(sp.kind); str(sp.id); int(sp.start); int(sp.end); str(sp.body) }
      int(d.blocks_kept); int(d.blocks_dropped)
      int(if (d.ok) 1 else 0); str(d.error)
      int(d.references.length)
      d.references.foreach { r => str(r.id); str(r.label); str(r.title); str(r.raw) }
    }
  }

  /** Truncation point of page `i`: a spread of cuts from 0 to 99% of the bytes. */
  private def cut(len: Int, i: Int): Int = (len.toLong * ((i * 37) % 100) / 100).toInt

  private def corpusDigest(): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val feed = new Feed(md)
    var i = 0
    while (i < pages) {
      val p = SyntheticCorpus.pageFor(seed, i)
      feed.doc(Extractor.extract(p.url, p.html))
      if (i < truncatedPages)
        feed.doc(Extractor.extract(p.url, java.util.Arrays.copyOf(p.html, cut(p.html.length, i))))
      i += 1
    }
    md.digest().map("%02x".format(_)).mkString
  }

  test("corpus-wide digest: 20k seed-1 pages + 2k truncated variants extract byte-identically") {
    assert(corpusDigest() == frozen)
  }
}
