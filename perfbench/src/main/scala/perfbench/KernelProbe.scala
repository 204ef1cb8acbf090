package perfbench

import graft.core.Doc
import graft.img.{Otsu, PlanePool}
import graft.kernel.{BoilerplateStrip, CropConfig, ExtractKernel, KernelStats, Recognize, SyntheticStore, TableDetect}
import graft.synth.{CorpusGen, PageRenderer}
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._

/** Per-call timings of the `kernel` and `img` functions over a workload's
  * own docs, on as many threads as the session has task slots. Every phase
  * runs twice and the second pass is kept, so the figures are warm. */
object KernelProbe {
  /** Docs the probe times (the first of the workload's docs). */
  val MaxDocs = 16
  /** Table pages the table-detection phase times. */
  val TablePages = 8

  /** Run the document kernel over `docs` on `threads` threads, `passes`
    * times: a cheap way to bring the kernel's hot code to its compiled
    * state before the Spark warm-up runs. */
  def warm(docs: Seq[Doc], threads: Int, passes: Int = 2): Unit =
    withPool(threads) { pool =>
      for (_ <- 1 to passes)
        pool.invokeAll(docs.map(d => new Callable[Doc] {
          def call(): Doc = ExtractKernel.extractDoc(d, SyntheticStore, new KernelStats)
        }).asJava).asScala.foreach(_.get)
    }

  private def withPool[A](threads: Int)(f: java.util.concurrent.ExecutorService => A): A = {
    val pool = Executors.newFixedThreadPool(threads)
    try f(pool)
    finally {
      pool.shutdownNow()
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    }
  }

  def run(ctx: Ctx, docs: Seq[Doc]): Unit = withPool(ctx.cores) { pool =>
    val r = ctx.report
    def timed[A, B](items: Seq[A])(f: A => B): Seq[(B, Double)] =
      (1 to 2).map { _ =>
        pool.invokeAll(items.map(a => new Callable[(B, Double)] {
          def call(): (B, Double) = {
            val t0 = System.nanoTime()
            val b = f(a)
            (b, (System.nanoTime() - t0) / 1e6)
          }
        }).asJava).asScala.map(_.get).toVector
      }.last
    // a phase with nothing to time (a tiny corpus) reads 0
    def ms(xs: Seq[(Any, Double)]): Double =
      if (xs.isEmpty) 0.0 else Stats.median(xs.map(_._2))

    val probe = docs.take(MaxDocs)
    val perDoc = timed(probe)(d => ExtractKernel.extractDoc(d, SyntheticStore, new KernelStats))
    r.perLayer("kernel.extract_doc_ms.p50") = (Stats.percentile(perDoc.map(_._2), 50), "ms")
    r.perLayer("kernel.extract_doc_ms.p99") = (Stats.percentile(perDoc.map(_._2), 99), "ms")

    // content media spans (the cover page is never recognized)
    val media = probe.flatMap(d => d.spans.filter(_.kind == "media").sortBy(_.offset)
      .drop(1).map(s => (d.doc_id, s.media_ref)))
    val texts = probe.flatMap(_.spans.filter(_.kind == "text").map(_.text))
    val decoded = media.map { case (id, ref) => (id, SyntheticStore.decode(ref)) }
    r.perLayer("kernel.decode_ms") = (ms(timed(media)(m => SyntheticStore.decode(m._2))), "ms")
    val recognized = timed(decoded) { case (id, g) =>
      Recognize.recognizeStored(g, CropConfig.lookup(id))
    }
    r.perLayer("kernel.recognize_ms") = (ms(recognized), "ms")
    r.perLayer("kernel.strip_us") = (ms(timed(texts)(BoilerplateStrip.strip)) * 1e3, "us")
    val hist = recognized.map(_._1.confHist).foldLeft(new Array[Long](10)) { (acc, h) =>
      for (i <- 0 until 10) acc(i) += h(i); acc
    }
    r.perLayer("kernel.glyphs") = (hist.sum.toDouble, "count")
    r.perLayer("kernel.low_conf_frac") =
      (if (hist.sum == 0) 0.0 else hist.take(5).sum.toDouble / hist.sum, "ratio")

    // the recognize stages, split as tools/KernelProf splits them
    val stages = timed(decoded)(g => stageSplit(g._2)).map(_._1)
    for ((name, i) <- Seq("img.downsample_ms", "img.otsu_ms", "img.deskew_ms",
                          "img.orient_ms", "kernel.seg_classify_ms",
                          "kernel.layout_ms").zipWithIndex)
      r.perLayer(name) = (if (stages.isEmpty) 0.0 else Stats.median(stages.map(_(i))), "ms")

    // table detection over the table pages of the workload's docs
    val tables = tablePages(docs)
    val rendered = tables.map { case (id, p) => PageRenderer.render(id, p) }
    val boxes = timed(rendered)(TableDetect.detectTables)
    r.perLayer("kernel.detect_tables_ms") = (ms(boxes), "ms")
    val withBox = rendered.zip(boxes.map(_._1)).collect { case (g, b +: _) => (g, b) }
    r.perLayer("kernel.detect_cells_ms") =
      (ms(timed(withBox) { case (g, b) => TableDetect.detectTableCells(g, b) }), "ms")
    r.info("kernel_probe") =
      s"${probe.length} docs, ${media.length} media pages, ${texts.length} text spans, " +
      s"${rendered.length} table pages, ${ctx.cores} threads"
  }

  /** Upright table pages among the docs' media pages (the x-queries' page
    * selection), at most [[TablePages]]; topped up from CorpusGen docs 0,
    * 1, ... (the x-queries' own docs) when the docs hold fewer. */
  private def tablePages(docs: Seq[Doc]): Seq[(String, Int)] = {
    def pages(ds: Iterator[Doc]): Iterator[(String, Int)] = ds.flatMap { d =>
      val n = d.spans.count(_.kind == "media") - 1
      (1 to n).iterator.collect {
        case p if PageRenderer.layoutFor(d.doc_id, p).table.isDefined &&
                  PageRenderer.storedRotation(d.doc_id, p) == 0 => (d.doc_id, p)
      }
    }
    (pages(docs.iterator) ++ pages(Iterator.from(0).map(i => CorpusGen.genDoc(i)._1)))
      .distinct.take(TablePages).toVector
  }

  /** Milliseconds of downsample, Otsu, deskew, orientation, segment +
    * classify and layout + matching on one stored page. */
  private def stageSplit(stored: graft.img.Gray): Array[Double] = {
    val t = new Array[Double](6)
    def time[A](i: Int)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f; t(i) = (System.nanoTime() - t0) / 1e6; a
    }
    val n = stored.px.length / 4
    val logical = time(0)(stored.downsample(2, PlanePool.bytes("pb.ds", n)))
    val bin = time(1)(Otsu.binarizeInv(logical, PlanePool.bools("pb.bin", n)))
    val pre = time(2)(
      if (bin.w < bin.h) graft.img.Deskew.unshear(bin, PlanePool.bools("pb.dsk", n)) else bin)
    val angle = time(3)(Recognize.detectOrientation(pre))
    val upright = Recognize.rotate(pre, angle, PlanePool.bools("pb.up", n))
    val body = if (bin.w < bin.h) upright
               else graft.img.Deskew.unshear(upright, PlanePool.bools("pb.dsk", n))
    val pr = time(4)(Recognize.segmentAndClassify(body))
    time(5) {
      val lay = graft.kernel.LayoutSegment.segment(pr.lines, body.w, body.h)
      graft.kernel.MatchMaking.matchTextsToLayouts(lay, pr.lines, margin = 10)
    }
    t
  }
}
