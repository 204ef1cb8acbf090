package graft.pipeline

import graft.core.{Doc, Span}
import graft.kernel.{ExtractKernel, KernelStats, MediaStore, SyntheticStore}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Output row: extracted doc + per-doc kernel metadata that the lineage
  * aggregation consumes (columns pruned away by public readers). */
case class OutRow(
    doc_id: String,
    spans: Seq[Span],
    part_id: Int,
    span_count: Long,
    media_span_count: Long,
    text_span_count: Long,
    conf_hist: Seq[Long])

/** The production extraction run — the Spark lifecycle equivalent of
  * joradp_parse.py (SURVEY §3.1):
  *
  *   snapshot read → checkpoint anti-join → skew routing →
  *   one fused map-only kernel stage, no exchange →
  *   write output + lineage + checkpoint.
  *
  * Skew plan (SURVEY §4): documents are atomic units of kernel work, so a
  * multi-hundred-page doc would stall its partition at 4N scale. Docs with
  * size(spans) >= cfg.skewSpanThreshold are split → extracted with the
  * same kernel → merged: each is cut into one-span pieces of its
  * cover-dropped content ([[ExtractKernel.content]]), the pieces are
  * spread over partitions by (doc_id, offset) and run through the same
  * [[ExtractKernel.extractContent]] as the fused route, and
  * groupByKey(doc_id) concatenates each doc's pieces in offset order and
  * sums their counts and histograms (interleaving restored by `offset`,
  * property-tested); everything else takes the narrow fused path with no
  * post-kernel shuffle.
  */
object ExtractJob {

  final case class Config(
      buckets: Int = 32,
      skewSpanThreshold: Int = 64,
      store: MediaStore = SyntheticStore,
      /** Compact the checkpoint tables when their `run=` subdir count
        * exceeds this (0 = disabled). A long-lived incremental table
        * accretes one done+lineage subdir pair per run; past the
        * threshold [[Checkpoint.compact]] rewrites them into one
        * consolidated pair so the resume anti-join's listing cost stays
        * bounded over hundreds of runs. Once enabled for a table, keep
        * it enabled: the compaction's crash repair runs on the same
        * flag. */
      compactRunDirsOver: Int = 0)

  /** Pure transformation: input docs → extracted OutRows. */
  def extract(spark: SparkSession, input: Dataset[Doc], cfg: Config): Dataset[OutRow] = {
    import spark.implicits._
    val store = cfg.store

    val small = input.filter(size(col("spans")) < cfg.skewSpanThreshold).as[Doc]
    val heavy = input.filter(size(col("spans")) >= cfg.skewSpanThreshold).as[Doc]

    // ---- fused path: map-only kernel stage, NO exchange. Each doc is an
    // independent unit of kernel work, so shuffling the whole corpus text
    // just to re-bucket it before a per-doc map is pure waste — at 100 TB
    // that repartition IS the job's dominant cost (a full-corpus shuffle
    // write+read bracketing an embarrassingly parallel stage), and on one
    // box its serialization + tmpfs contention measurably depressed 8→32
    // scaling (task metrics: 10-47 s of summed shuffle-write stalls per
    // run at 32 threads). Parallelism comes from the SCAN: file splits
    // target spark.sql.files.minPartitionNum (= defaultParallelism), and
    // the snapshot is written hash-bucketed by doc_id (SnapshotTable), so
    // splits are uniform in kernel work; per-doc skew is already routed
    // to the exploded path below. part_id keeps its lineage meaning as
    // the physical partition the doc was processed in.
    val fused: Dataset[OutRow] =
      small.map(d => extractRow(ExtractKernel.content(d), store))

    // ---- exploded path: span-level parallelism for skewed docs. A doc
    // with no content spans becomes one empty piece, so it still gets its
    // (empty) row; `get` yields null on that empty array where `spans[0]`
    // would throw under ANSI mode.
    val pieces: Dataset[Doc] = heavy.flatMap { doc =>
      val c = ExtractKernel.content(doc)
      if (c.spans.isEmpty) Seq(c) else c.spans.map(s => Doc(c.doc_id, Seq(s)))
    }
    val reassembled: Dataset[OutRow] = pieces
      .repartition(cfg.buckets, col("doc_id"),
                   get(col("spans"), lit(0)).getField("offset"))
      .as[Doc]
      .map(extractRow(_, store))
      .groupByKey(_.doc_id)
      .mapGroups { (docId, rows) =>
        val st = new KernelStats
        val spans = Vector.newBuilder[Span]
        for (r <- rows) {
          spans ++= r.spans
          st.spanCount += r.span_count
          st.mediaSpanCount += r.media_span_count
          st.textSpanCount += r.text_span_count
          st.addHist(r.conf_hist)
        }
        outRow(Doc(docId, spans.result().sortBy(_.offset)), st) // restore interleaving
      }

    fused.union(reassembled)
  }

  /** The row builder both routes share: run the kernel over `content`
    * (cover already dropped) and attach its stats. */
  private def extractRow(content: Doc, store: MediaStore): OutRow = {
    val st = new KernelStats
    outRow(ExtractKernel.extractContent(content, store, st), st)
  }

  private def outRow(doc: Doc, st: KernelStats): OutRow =
    OutRow(doc.doc_id, doc.spans, TaskContext.getPartitionId(), st.spanCount,
           st.mediaSpanCount, st.textSpanCount, st.confHist.toSeq)

  final case class RunSummary(snapshotId: String, docsProcessed: Long,
                              docsThisRun: Long)

  /** Full job: read pinned snapshot, anti-join the checkpoint table
    * (supersedes the reference's max-filename watermark,
    * joradp_parse.py:101-114 — SURVEY §2.1 S7), extract, write output +
    * lineage + checkpoint. Each run writes to its own `run=<id>` partition
    * subdirectory so lineage/checkpoint rows are derived from a
    * column-pruned re-scan of exactly this run's files — never a
    * read-modify-write of a directory a concurrent scan is planned over.
    * Calling run() again after a kill processes only unfinished docs. */
  def run(spark: SparkSession, inputPath: String, outPath: String,
          ckptDir: String, cfg: Config = Config(),
          worklist: Option[DataFrame] = None): RunSummary = {
    import spark.implicits._
    val (inputDf, snapId) = SnapshotTable.read(spark, inputPath)
    val input = inputDf.as[Doc]

    // crash-window reconcile BEFORE reading the done table: a prior run
    // that died between committing its output dir and recording it in the
    // checkpoint would otherwise be re-extracted into a second run dir,
    // duplicating every doc in readOutput
    reconcile(spark, outPath, ckptDir)
    // optional checkpoint-table compaction (after reconcile, which may
    // have re-appended a crashed run's subdirs; before the done read)
    if (cfg.compactRunDirsOver > 0)
      Checkpoint.compact(spark, ckptDir, cfg.compactRunDirsOver)

    val done: DataFrame = Checkpoint.doneDocs(spark, ckptDir, snapId)
    // optional selective work-list (F2/J5: the reference's CSV-driven
    // reprocessing, joradp_correct_add_missing_bboxes.py:179-192) — a
    // semi-join so only listed docs are (re)processed
    val scoped = worklist match {
      case Some(wl) => input.join(wl.select("doc_id"), Seq("doc_id"), "left_semi").as[Doc]
      case None => input
    }
    val todo = scoped.join(done, Seq("doc_id"), "left_anti").as[Doc]

    val runId = s"${snapId}_${System.nanoTime()}"
    val out = extract(spark, todo, cfg)
    out.write.mode(SaveMode.ErrorIfExists).parquet(s"$outPath/run=$runId")

    val written = spark.read.parquet(s"$outPath/run=$runId")
    // docsThisRun comes out of the lineage aggregation — no extra count
    // job over the run's files (they were just written; every scan of
    // them at 100 TB is a real job)
    val thisRun = Checkpoint.append(spark, ckptDir, snapId, runId, written)
    val doneTotal = Checkpoint.doneTotal(spark, ckptDir, snapId)
    if (thisRun == 0L && doneTotal > 0L) {
      // no-op resume: everything was already done, so this run's output
      // and checkpoint subdirs are empty shells. Reap them immediately —
      // a scheduler re-submitting a finished snapshot daily would
      // otherwise grow one empty run= dir per invocation, and every
      // later reconcile/readOutput pays listing + partition discovery
      // over the pile (the single-writer contract makes this delete
      // safe: no concurrent scan is planned over a dir this run minted).
      // Guarded on doneTotal > 0 so a genuinely EMPTY snapshot keeps its
      // one empty-but-schema-bearing run dir and readOutput stays
      // readable.
      import org.apache.hadoop.fs.Path
      val fs = new Path(outPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(s"$outPath/run=$runId"), true)
      fs.delete(new Path(s"$ckptDir/done/run=$runId"), true)
      fs.delete(new Path(s"$ckptDir/lineage/run=$runId"), true)
    }
    // summary total from the per-partition LINEAGE table (tiny, bounded)
    // — never a scan of the one-row-per-doc done table, which at 100 TB
    // is a real job run purely for a log line
    RunSummary(snapId, doneTotal, thisRun)
  }

  /** Repair the output↔checkpoint gap left by a crashed prior run. Two
    * cases, keyed off the run dir's Spark `_SUCCESS` marker and the
    * checkpoint's per-run record:
    *
    *   - output dir WITHOUT `_SUCCESS`: the write job never committed;
    *     its docs were never checkpointed, so the dir (plus any partial
    *     checkpoint subdirs from the same run) is deleted and the docs
    *     re-extract normally;
    *   - output dir WITH `_SUCCESS` but not recorded ([[Checkpoint
    *     .isRecorded]]): the run died between output commit and
    *     checkpoint append — re-run the (idempotent, per-run Overwrite)
    *     append from the committed files, so the resume anti-join skips
    *     those docs instead of duplicating them in a new run dir.
    *
    * The runId encodes its snapshot (`<snapId>_<nonce>`), so recovery
    * attributes re-appended rows to the snapshot that produced them.
    * Cost: one directory listing per run() plus, only on an actual
    * crashed run, a column-pruned scan of that run's files. */
  /** A run id this pipeline itself minted: `<snapId>_<nanoTime nonce>`
    * (see [[run]]), where snapId is ALWAYS the 16-lowercase-hex content
    * hash [[SnapshotTable.commit]] emits. Reconcile must only ever touch
    * ITS OWN run dirs — a foreign `run=` directory (manual backup,
    * another tool) is not a crashed run and deleting it would destroy
    * data reconcile does not own. The loose shape `.+_digits` would claim
    * names like `backup_2024`; pinning the snapId half to exactly 16 hex
    * chars makes an accidental match practically impossible. */
  private val OwnRunId = "^([0-9a-f]{16})_([0-9]+)$".r

  /** SINGLE-WRITER contract: like any Spark job committing to one output
    * path, at most one `run()` may execute against a given
    * (outPath, ckptDir) at a time — reconcile cannot distinguish a
    * crashed run's uncommitted dir from a concurrent run's in-flight one
    * (neither has `_SUCCESS` yet), so a second concurrent writer would
    * have its partial output reclaimed. Serialize runs per output table
    * (the driver loop and the streaming wrapper both do). */
  private def reconcile(spark: SparkSession, outPath: String,
                        ckptDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(outPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val runDirs = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("run="))
    // one manifest sweep for the whole reconcile (r6, round-5 ADVICE):
    // the per-dir isRecorded re-listed the lineage root and re-read
    // every consolidated manifest on each compacted-run miss — O(runs)
    // reads of O(runs)-line manifests per invocation, quadratic
    // small-file IO in exactly the listing dimension compaction bounds
    val compacted = Checkpoint.compactedRunIds(spark, ckptDir)
    for (dir <- runDirs) {
      dir.getPath.getName.stripPrefix("run=") match {
        case runId @ OwnRunId(runSnap, _) =>
          if (!fs.exists(new Path(dir.getPath, "_SUCCESS"))) {
            fs.delete(dir.getPath, true)
            fs.delete(new Path(s"$ckptDir/done/run=$runId"), true)
            fs.delete(new Path(s"$ckptDir/lineage/run=$runId"), true)
          } else if (!Checkpoint.isRecorded(spark, ckptDir, runId, compacted)) {
            Checkpoint.append(spark, ckptDir, runSnap, runId,
              spark.read.parquet(dir.getPath.toString))
          }
        case foreign =>
          // not ours: warn and leave it alone — it still pollutes the
          // output glob, but silently deleting unowned data (or
          // refusing to ever run again, as a hard require would) is
          // strictly worse. The warning names the dir so an operator
          // can move it out.
          System.err.println(
            s"[extract] reconcile: skipping foreign run dir " +
            s"'run=$foreign' in $outPath (not a <16-hex-snapId>_<nonce> " +
            "id this pipeline mints); move it out of the output table")
      }
    }
  }

  /** Public view of the output table: just (doc_id, spans). */
  def readOutput(spark: SparkSession, outPath: String): Dataset[Doc] = {
    import spark.implicits._
    spark.read.parquet(outPath).select("doc_id", "spans").as[Doc]
  }

  /** S6 analog — the reference's result sink is one JSON per document
    * under its year directory (`result_json/<year>/F….json`,
    * joradp_parse.py:156-157; year = id chars 1..4,
    * joradp_correct_add_table_data.py:244). Export the extraction output
    * as year-partitioned JSON-lines: partition pruning on year replaces
    * the reference's per-year directory walk. Returns docs exported. */
  def exportJson(spark: SparkSession, outPath: String, jsonDir: String): Long = {
    import org.apache.spark.sql.functions.{count, lit, struct, substring, to_json}
    // the docs-exported count rides the write job as an observed metric —
    // never a re-read of the directory just written (at 100 TB that
    // second scan is a real job run purely for a return value)
    val obs = new org.apache.spark.sql.Observation()
    val df = spark.read.parquet(outPath)
      .select(substring(col("doc_id"), 2, 4).as("year"),
              to_json(struct(col("doc_id"), col("spans"))).as("value"))
      .observe(obs, count(lit(1)).as("docs"))
    df.write.mode(SaveMode.Overwrite).partitionBy("year").text(jsonDir)
    obs.get("docs").asInstanceOf[Long]
  }

  /** Selective page re-OCR — the Spark equivalent of
    * joradp_correct_add_missing_bboxes.py (SURVEY §3.3 sibling): a
    * work-list of (doc_id, page_number) rows from the failure-report CSV
    * selects exactly the pages to re-recognize
    * (parse_images_to_text_structure_selective_heavy,
    * pdf_parser.py:320-384). Page numbers are media-span ordinals
    * (cover = 0); out-of-range indices simply don't join and are dropped,
    * the reference's warn-and-drop (pdf_parser.py:205-209). Emits one row
    * per re-OCR'd page with the recognized text and its glyph count. */
  /** Warn-and-drop accounting for the selective passes: every selective
    * result emits >= 1 row per matched (doc, page), so work-list rows
    * absent from the result are exactly the ones the inner join dropped
    * (out-of-range page index, unknown doc — the reference warns and skips
    * these, pdf_parser.py:205-209). Lazy anti-join — call [[logUnmatched]]
    * on the MATERIALIZED result (e.g. the written parquet, as the Main
    * subcommands do) so the accounting never re-runs the corpus scan. */
  def unmatchedWorklist(result: DataFrame, worklist: DataFrame): DataFrame =
    worklist.select(col("doc_id"), col("page_number").cast("int"))
      .join(result.select(col("doc_id"), col("page_number")),
            Seq("doc_id", "page_number"), "left_anti")

  /** Log dropped work-list rows to stderr (first 20 shown); returns the
    * EXACT dropped count. A 1-based-page-number work-list announces
    * itself here instead of quietly halving. */
  def logUnmatched(result: DataFrame, worklist: DataFrame,
                   pass: String): Long = {
    val dropped = unmatchedWorklist(result, worklist)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = dropped.count()
    if (n > 0) {
      val shown = dropped.limit(20).collect()
        .map(r => s"(${r.get(0)},${r.get(1)})").mkString(", ")
      val more = if (n > 20) ", ..." else ""
      System.err.println(
        s"[graft] $pass: $n work-list rows matched no page and were " +
        s"dropped: $shown$more — page_number is the 0-based media-span " +
        "ordinal (cover = 0); a 1-based work-list shifts every page")
    }
    dropped.unpersist()
    n
  }

  def reOcrSelective(spark: SparkSession, input: Dataset[Doc],
      worklist: DataFrame, cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    val store = cfg.store
    val wl = worklist.select(col("doc_id"), col("page_number").cast("int"))
    val pages = input.flatMap { doc =>
      doc.spans.filter(_.kind == "media").sortBy(_.offset).zipWithIndex
        .map { case (s, pn) => (doc.doc_id, pn, s.media_ref) }
    }.toDF("doc_id", "page_number", "media_ref")
    val res = pages.join(broadcast(wl), Seq("doc_id", "page_number"))
      .as[(String, Int, String)]
      .mapPartitions { it =>
        it.map { case (docId, pn, ref) =>
          val crop = graft.kernel.CropConfig.lookup(docId)
          val pr = graft.kernel.Recognize.recognizeStored(store.decode(ref), crop)
          (docId, pn, ref, pr.text, pr.glyphCount)
        }
      }.toDF("doc_id", "page_number", "media_ref", "text", "glyph_count")
    res
  }

  /** Selective table-structure pass — the Spark lifecycle equivalent of
    * joradp_correct_add_table_data.py (SURVEY §3.3): one work-list row per
    * (doc, page) with either `full_page = true` (the table bbox is the
    * whole page — pdf_parser.py:301-304 fallback) or an explicit
    * `table_boxes` JSON list (the reference parses the stringified CSV
    * column with ast.literal_eval at :107 — `from_json` here). Boxes are
    * in stored (2x) pixel coordinates. Emits one row per table with its
    * detected cell count and the recognized, ""-padded text grid (A7).
    *
    * Page numbers are the media-span ordinal within the doc in offset
    * order (cover = 0), matching the reference's PDF page indices. The
    * work-list is broadcast (it is always small next to the corpus); the
    * decode + cell detection runs data-parallel over the matched pages. */
  def tableDataSelective(spark: SparkSession, input: Dataset[Doc],
      worklist: DataFrame, cfg: Config = Config()): DataFrame = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val store = cfg.store
    // optional `rotated` work-list column: the reference's `table rotated`
    // label routes through the J7 rotated-crop token remap (TATR cell 27)
    val rotatedCol =
      if (worklist.columns.contains("rotated"))
        coalesce(col("rotated").cast("boolean"), lit(false))
      else lit(false)
    val wl = worklist.select(
      col("doc_id"),
      col("page_number").cast("int"),
      // a null/empty full_page CSV cell must reach the XOR validation
      // below as an identified work-list row, not die inside the tuple
      // encoder's primitive-Boolean null check with Spark's opaque error
      coalesce(col("full_page").cast("boolean"), lit(false)).as("full_page"),
      from_json(col("table_boxes"),
        ArrayType(ArrayType(IntegerType))).as("boxes"),
      rotatedCol.as("rotated"))
    val pages = input.flatMap { doc =>
      doc.spans.filter(_.kind == "media").sortBy(_.offset).zipWithIndex
        .map { case (s, pn) => (doc.doc_id, pn, s.media_ref) }
    }.toDF("doc_id", "page_number", "media_ref")
    val res = pages.join(broadcast(wl), Seq("doc_id", "page_number"))
      .as[(String, Int, String, Boolean, Seq[Seq[Int]], Boolean)]
      .mapPartitions { it =>
        it.flatMap { case (docId, pn, ref, fullPage, boxesRaw, rotated) =>
          val boxes = Option(boxesRaw).getOrElse(Seq.empty)
          // CSV sync invariant: exactly one of full_page / table_boxes
          // (joradp_correct_add_table_data.py:113-114)
          require(fullPage ^ boxes.nonEmpty,
            s"work-list row ($docId, $pn) must set exactly one of " +
            "full_page / table_boxes")
          // work-list boxes live in the UPRIGHT stored frame (the
          // reference runs the same preprocessing prefix — rotation
          // correction included — before structure recognition, §3.3);
          // orientation-correct the gray page so boxes, detected cells
          // and crop-frame tokens all share that frame
          val img = graft.kernel.Recognize.uprightGray(store.decode(ref))
          val crop = graft.kernel.CropConfig.lookup(docId)
          // page OCR tokens for the J7 crop remap, scaled to the stored
          // (2x) frame the work-list boxes live in
          val sc = graft.kernel.Recognize.PageScale
          val tokens2x = graft.kernel.Recognize
            .segmentPageFull(img, crop)._2
            .map(t => t.copy(bbox = graft.core.BBox(
              sc * t.bbox.x1, sc * t.bbox.y1, sc * t.bbox.x2, sc * t.bbox.y2)))
          val tboxes =
            if (fullPage) Seq(graft.core.BBox(0, 0, img.w, img.h))
            else boxes.map(b => graft.core.BBox(b(0), b(1), b(2), b(3)))
          tboxes.zipWithIndex.map { case (bb, ti) =>
            val cells = graft.kernel.TableDetect.detectTableCells(img, bb)
            val grid = graft.kernel.TableOcr.extractGrid(img, cells)
            val (_, toks) = graft.kernel.TokenCrop.tokensToCrop(
              tokens2x, bb, img.w, img.h, rotated)
            val tokStr = toks.map(t =>
              s"${t.bbox.x1},${t.bbox.y1},${t.bbox.x2},${t.bbox.y2}:${t.text}")
              .mkString("|")
            (docId, pn, ti, bb.x1, bb.y1, bb.x2, bb.y2, cells.size, grid,
             toks.size, tokStr)
          }
        }
      }.toDF("doc_id", "page_number", "table_idx",
             "x1", "y1", "x2", "y2", "n_cells", "grid",
             "n_tokens", "tokens")
    res
  }
}
