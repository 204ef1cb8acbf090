package graft.kernel

import graft.core.{Doc, Span}
import graft.img.Gray
import graft.synth.PageRenderer

/** Pluggable media fetch+decode — the object-store/codec seam. The
  * synthetic store re-renders deterministically from the media_ref
  * (SURVEY §2.1 S4). */
trait MediaStore extends Serializable {
  def decode(mediaRef: String): Gray
}
object SyntheticStore extends MediaStore {
  def decode(mediaRef: String): Gray = PageRenderer.decode(mediaRef)
}

/** Per-partition stats feeding the lineage table (north_rule: span counts
  * + OCR confidence histograms per partition). */
final class KernelStats {
  var docCount = 0L
  var spanCount = 0L
  var mediaSpanCount = 0L
  var textSpanCount = 0L
  val confHist = new Array[Long](10) // [0.0,0.1) .. [0.9,1.0]

  def addConf(c: Double): Unit = {
    val b = math.min(9, math.max(0, (c * 10).toInt))
    confHist(b) += 1
  }

  def addHist(h: collection.Seq[Long]): Unit = {
    var i = 0
    while (i < 10) { confHist(i) += h(i); i += 1 }
  }
}

/** The extraction kernel: one document in, its extracted span sequence
  * out. Both routes of [[graft.pipeline.ExtractJob.extract]] call it, so
  * the cover drop and the span dispatch live in exactly one place
  * (SURVEY §2.10).
  */
object ExtractKernel {

  /** The doc's spans in offset order with the first media span (the cover
    * page) dropped — the reference never processes page 1
    * (pdf_parser.py:126, :161; orc_script cell 3 reads reader.pages[1:]). */
  def content(doc: Doc): Doc = {
    val ordered = doc.spans.sortBy(_.offset)
    val coverIdx = ordered.indexWhere(_.kind == "media")
    Doc(doc.doc_id, if (coverIdx < 0) ordered else ordered.patch(coverIdx, Nil, 1))
  }

  /** The span dispatch over a doc's content (as returned by [[content]]),
    * in the order given:
    *  - kind='media' → decode + recognize (crop config looked up per doc,
    *    J1 joradp_parse.py:84-90);
    *  - kind='text'  → HTML boilerplate strip.
    */
  def extractContent(doc: Doc, store: MediaStore, stats: KernelStats): Doc = {
    val crop = CropConfig.lookup(doc.doc_id)
    val out = doc.spans.map { s =>
      val span = s.kind match {
        case "media" =>
          val page = Recognize.recognizeStored(store.decode(s.media_ref), crop)
          stats.addHist(page.confHist)
          stats.mediaSpanCount += 1
          Span("media", page.text, s.media_ref, s.offset)
        case "text" =>
          stats.textSpanCount += 1
          Span("text", BoilerplateStrip.strip(s.text), "", s.offset)
        case other =>
          throw new IllegalArgumentException(
            s"unknown span kind '$other' in ${doc.doc_id}")
      }
      stats.spanCount += 1
      span
    }
    stats.docCount += 1
    Doc(doc.doc_id, out)
  }

  /** Extract one document: [[content]] then [[extractContent]]. */
  def extractDoc(doc: Doc, store: MediaStore, stats: KernelStats): Doc =
    extractContent(content(doc), store, stats)

  def extractDoc(doc: Doc): Doc = extractDoc(doc, SyntheticStore, new KernelStats)
}
