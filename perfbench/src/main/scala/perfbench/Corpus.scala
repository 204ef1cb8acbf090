package perfbench

import graft.core.Doc
import graft.kernel.{CropConfig, GlyphFont}
import graft.synth.{CorpusGen, PageRenderer, Rng}

/** A seeded extraction corpus: CorpusGen doc indices from a window start
  * that the seed picks (a heavy doc, see [[Corpus.startFor]]), taken in
  * order until the window holds a target number of content media pages.
  * Sizing by pages rather than by docs keeps the kernel work of a run
  * nearly equal across seeds. Docs whose golden does not describe their
  * rendered pages (see [[Corpus.speckOnCell]]) are left out and counted
  * in `skipped`, `end` is one past the last index taken. */
final case class Corpus(start: Int, end: Int, skipped: Int,
                        inputs: Vector[Doc], goldens: Vector[Doc]) {
  def size: Int = inputs.length
  def pages: Int = Corpus.pages(inputs)
  def spans: Int = goldens.map(_.spans.length).sum
  def golden: Map[String, Doc] = goldens.map(d => d.doc_id -> d).toMap
}

object Corpus {
  /** Ids `CorpusGen.docIdFor` can mint. */
  val Capacity = 560000
  /** Every 50th doc is a heavy (skewed, 41-80 span) doc. */
  val HeavyEvery = 50
  /** Upper bound on docs one corpus may span, for the window start. */
  val MaxDocs = 2000

  def isHeavy(i: Int): Boolean = i % HeavyEvery == HeavyEvery - 1

  /** Content media pages: media spans minus the dropped cover page. */
  def pages(docs: Seq[Doc]): Int =
    docs.map(d => math.max(0, d.spans.count(_.kind == "media") - 1)).sum

  /** The renderer's margin specks are meant to be isolated 1-px
    * components in the blank rows under text lines, which recognition
    * drops as noise. On a table page the renderer picks their rows among
    * the text lines and the cell values alike, so a speck can land inside
    * the table and touch a cell digit. The digit then no longer has the
    * shape its golden assumes, and a speck that bridges two digits makes
    * one component wider than a glyph, which recognition drops as a
    * graphic. Every golden mismatch of ExtractKernel.extractDoc on
    * CorpusGen docs measured in index ranges 0-1500, 193700-194000,
    * 366249-366270 and 453250-453550 (26 pages) is such a page, and no
    * other page mismatched. True if a speck on `page` touches ink that is
    * not a table rule. Replicates PageRenderer's speck placement and
    * fails if the replica no longer matches the rendered mask. */
  def speckOnCell(docId: String, page: Int): Boolean =
    PageRenderer.layoutFor(docId, page).table.exists { t =>
      val crop = CropConfig.lookup(docId)
      val W = PageRenderer.LogicalW
      val mask = PageRenderer.inkMask(docId, page)
      def rule(x: Int, y: Int): Boolean =
        x >= t.x && x < t.x + t.w && y >= t.y && y < t.y + t.h &&
          ((y - t.y) % t.ch <= 1 || (x - t.x) % t.cw <= 1)
      def ink(x: Int, y: Int): Boolean =
        x >= 0 && y >= 0 && x < W && y < PageRenderer.LogicalH && mask(y * W + x)
      val rng = new Rng(PageRenderer.pageSeed(docId, page) ^ 0xBADC0DEL)
      val n = rng.between(4, 12)
      val rows = PageRenderer.bodyLines(docId, page).length
      (0 until n).map { _ =>
        val li = rng.nextInt(rows)
        val y = crop.top + PageRenderer.BodyYPad + li * GlyphFont.LinePitch +
          GlyphFont.GlyphH + 1 + rng.nextInt(GlyphFont.Leading - 3)
        val x = crop.left + PageRenderer.BodyXPad +
          rng.nextInt(W - crop.left - crop.right - 2 * PageRenderer.BodyXPad)
        require(ink(x, y), s"$docId page $page: no speck at ($x, $y), PageRenderer changed")
        (x, y)
      }.exists { case (x, y) =>
        (-1 to 1).exists(dx => (-1 to 1).exists(dy =>
          (dx != 0 || dy != 0) && ink(x + dx, y + dy) && !rule(x + dx, y + dy)))
      }
    }

  /** Whether the golden describes every rendered content page of `d`. */
  def faithful(d: Doc): Boolean =
    d.spans.filter(_.kind == "media").drop(1).forall { s =>
      !speckOnCell(d.doc_id, s.media_ref.split('/').last.toInt)
    }

  /** Window start for a seed: the first heavy doc, at or after a
    * seeded slot, with at least `skewSpans` spans and a faithful golden.
    * Every corpus therefore opens with one doc that `ExtractJob` routes
    * through its exploded skew path (heavy docs have 41-80 spans, so
    * about 40% of them qualify on spans). */
  def startFor(seed: Long, skewSpans: Int): Int = {
    val slots = (Capacity - MaxDocs) / HeavyEvery
    val mixed = new graft.synth.Rng(seed ^ 0x5DEECE66DL).nextLong()
    var i = (java.lang.Math.floorMod(mixed, slots.toLong) * HeavyEvery).toInt + HeavyEvery - 1
    def fits(d: Doc): Boolean = d.spans.length >= skewSpans && faithful(d)
    while (!fits(CorpusGen.genDoc(i, heavy = true)._1)) {
      i += HeavyEvery
      require(i < Capacity - MaxDocs / 2, s"no heavy doc with $skewSpans spans near seed $seed")
    }
    i
  }

  def window(start: Int, targetPages: Int): Corpus = {
    val in = Vector.newBuilder[Doc]
    val gold = Vector.newBuilder[Doc]
    var i = start
    var got = 0
    var skipped = 0
    while (got < targetPages) {
      require(i - start < MaxDocs, s"corpus needs more than $MaxDocs docs")
      val (d, g) = CorpusGen.genDoc(i, heavy = isHeavy(i))
      if (faithful(d)) {
        in += d
        gold += g
        got += pages(Seq(d))
      } else skipped += 1
      i += 1
    }
    Corpus(start, i, skipped, in.result(), gold.result())
  }
}
