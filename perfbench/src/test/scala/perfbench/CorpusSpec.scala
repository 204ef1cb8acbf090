package perfbench

import graft.kernel.ExtractKernel
import graft.synth.CorpusGen
import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  test("speckOnCell flags the pages whose golden the kernel cannot match") {
    // (doc index, page) of measured ExtractKernel.extractDoc mismatches
    for ((i, page) <- Seq(141 -> 5, 424 -> 1, 1099 -> 17, 366255 -> 7, 453316 -> 2))
      assert(Corpus.speckOnCell(CorpusGen.docIdFor(i), page), s"doc $i page $page")
    assert(!Corpus.speckOnCell(CorpusGen.docIdFor(0), 1))
  }

  test("a window holds only docs that extract to their goldens") {
    // indices 120-240 hold 5 mismatching docs: 141, 180, 195, 211, 229
    val c = Corpus.window(120, targetPages = 400)
    assert(c.skipped >= 5 && c.size + c.skipped == c.end - c.start)
    assert(Seq(141, 180, 195, 211, 229).map(CorpusGen.docIdFor)
      .forall(id => !c.inputs.exists(_.doc_id == id)))
    for ((d, g) <- c.inputs.zip(c.goldens))
      assert(ExtractKernel.extractDoc(d).spans == g.spans, d.doc_id)
  }

  test("the window start is a faithful heavy doc on the exploded path") {
    val s = Corpus.startFor(819835928L, skewSpans = 64)
    val (d, _) = CorpusGen.genDoc(s, heavy = true)
    assert(Corpus.isHeavy(s) && d.spans.length >= 64 && Corpus.faithful(d))
  }
}
