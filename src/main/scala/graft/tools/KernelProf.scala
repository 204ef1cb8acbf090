package graft.tools

import graft.synth.{CorpusGen, PageRenderer}

/** Single-threaded micro-profile of the page-kernel stages the x-queries
  * and the extraction pipeline spend their time in (r6 measurement aid;
  * no Spark). Prints per-stage totals over the x2/x6 work-list so
  * optimization effort lands where the time actually goes.
  *
  * Usage: sbt "runMain graft.tools.KernelProf [nDocs] [reps]"
  */
object KernelProf {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(48)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val pages = (0 until nDocs).flatMap { i =>
      val docId = CorpusGen.docIdFor(i)
      (1 to 8).collect {
        case p if PageRenderer.layoutFor(docId, p).table.isDefined &&
                  PageRenderer.storedRotation(docId, p) == 0 => (docId, p)
      }
    }
    System.err.println(s"[kprof] ${pages.size} table pages over $nDocs docs")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    for (rep <- 1 to reps) {
      var tRender = 0.0; var tDetect = 0.0; var tCells = 0.0; var tSeg = 0.0
      var nTables = 0; var nCells = 0
      for ((docId, page) <- pages) {
        val (stored, tr) = time(PageRenderer.render(docId, page))
        tRender += tr
        val (tables, td) = time(graft.kernel.TableDetect.detectTables(stored))
        tDetect += td
        nTables += tables.size
        for (b <- tables.headOption) {
          val (cells, tc) =
            time(graft.kernel.TableDetect.detectTableCells(stored, b))
          tCells += tc
          nCells += cells.size
        }
        val crop = graft.kernel.CropConfig.lookup(docId)
        val (_, ts) = time(
          graft.kernel.Recognize.segmentPageFull(stored, crop))
        tSeg += ts
      }
      System.err.println(
        f"[kprof] rep $rep: render $tRender%6.2f s | detectTables " +
        f"$tDetect%6.2f s | detectCells $tCells%6.2f s | segmentPageFull " +
        f"$tSeg%6.2f s | tables=$nTables cells=$nCells")
    }
    // breakdown of detectTables' internals (public sub-stages)
    for (rep <- 1 to reps) {
      var tSobel = 0.0; var tMorph = 0.0; var tCC = 0.0
      for ((docId, page) <- pages) {
        val g = PageRenderer.render(docId, page)
        val (tx, t1) = time(graft.img.Sobel.thresholdAbove(
          graft.img.Sobel.absX(g, 5), 200))
        val (ty, t1b) = time(graft.img.Sobel.thresholdAbove(
          graft.img.Sobel.absY(g, 5), 200))
        tSobel += t1 + t1b
        val hK = (g.w * 0.05).toInt
        val vK = (g.h * 0.05).toInt
        val (mh, t2) = time(graft.img.Morph.open(ty, math.max(1, hK), 1))
        val (mv, t2b) = time(graft.img.Morph.open(tx, 1, math.max(1, vK)))
        val (grid, t2c) = time(graft.img.Morph.or(mh, mv))
        tMorph += t2 + t2b + t2c
        val (_, t3) = time(graft.img.ConnectedComponents.label(mv))
        val (_, t3b) = time(graft.img.ConnectedComponents.label(mh))
        tCC += t3 + t3b
      }
      System.err.println(
        f"[kprof] rep $rep detectTables breakdown: sobel $tSobel%6.2f s | " +
        f"morph $tMorph%6.2f s | cc $tCC%6.2f s")
    }
    val g0 = PageRenderer.render(pages.head._1, pages.head._2)
    System.err.println(s"[kprof] page dims ${g0.w}x${g0.h}")

    // extraction-pipeline kernel profile (the headline docs/sec path):
    // decode vs recognize split over the bench corpus shape
    val (inputs, _) = CorpusGen.corpus(math.min(nDocs * 10, 480),
      heavyEvery = 50)
    for (rep <- 1 to reps) {
      var tDecode = 0.0; var tRecog = 0.0; var tStrip = 0.0
      var nMedia = 0; var nText = 0
      // a timing-only split of the kernel's dispatch over the same
      // cover-dropped spans, so decode, recognize and strip get their
      // own clocks
      for (doc <- inputs) {
        val crop = graft.kernel.CropConfig.lookup(doc.doc_id)
        for (s <- graft.kernel.ExtractKernel.content(doc).spans) {
          if (s.kind == "media") {
            val (g, td) = time(PageRenderer.decode(s.media_ref))
            tDecode += td
            val (_, tr) = time(graft.kernel.Recognize.recognizeStored(g, crop))
            tRecog += tr
            nMedia += 1
          } else {
            val (_, ts) = time(graft.kernel.BoilerplateStrip.strip(s.text))
            tStrip += ts
            nText += 1
          }
        }
      }
      System.err.println(
        f"[kprof] rep $rep extract(${inputs.length} docs): decode " +
        f"$tDecode%6.2f s | recognize $tRecog%6.2f s | strip $tStrip%6.2f s " +
        f"| media=$nMedia text=$nText")
    }
    // recognizeStored stage breakdown (mirrors uprightBin + the body path)
    for (rep <- 1 to reps) {
      import graft.img.{Otsu, PlanePool}
      var tDs = 0.0; var tOtsu = 0.0; var tDeskew = 0.0; var tOrient = 0.0
      var tSeg = 0.0; var tLay = 0.0
      for (doc <- inputs; s <- doc.spans if s.kind == "media") {
        val stored = PageRenderer.decode(s.media_ref)
        val n = stored.px.length / 4
        val (logical, t1) = time(stored.downsample(2, PlanePool.bytes("kp.ds", n)))
        tDs += t1
        val (bin, t2) = time(Otsu.binarizeInv(logical, PlanePool.bools("kp.bin", n)))
        tOtsu += t2
        val (pre, t3) = time(
          if (bin.w < bin.h) graft.img.Deskew.unshear(bin, PlanePool.bools("kp.dsk", n))
          else bin)
        tDeskew += t3
        val (angle, t4) = time(graft.kernel.Recognize.detectOrientation(pre))
        tOrient += t4
        val upright = graft.kernel.Recognize.rotate(pre, angle,
          PlanePool.bools("kp.up", n))
        val up2 = if (bin.w < bin.h) upright
                  else graft.img.Deskew.unshear(upright, PlanePool.bools("kp.dsk", n))
        val (pr, t5) = time(graft.kernel.Recognize.segmentAndClassify(up2))
        tSeg += t5
        val (_, t6) = time {
          val lay = graft.kernel.LayoutSegment.segment(pr.lines, up2.w, up2.h)
          graft.kernel.MatchMaking.matchTextsToLayouts(lay, pr.lines, margin = 10)
        }
        tLay += t6
      }
      System.err.println(
        f"[kprof] rep $rep recognize stages: downsample $tDs%5.2f | otsu " +
        f"$tOtsu%5.2f | deskew $tDeskew%5.2f | orient $tOrient%5.2f | " +
        f"segClassify $tSeg%5.2f | layout+mm $tLay%5.2f")
    }
  }
}
