package perfbench

import graft.core.Doc
import graft.pipeline.{Checkpoint, ExtractJob, SnapshotTable}
import graft.pipeline.ExtractJob.RunSummary
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SaveMode

/** Size of an extraction workload.
  *
  * @param pages          content media pages in the snapshot
  * @param remainderPages incremental only: pages the timed run extracts;
  *                       0 makes the workload a cold extraction
  * @param priorRuns      incremental only: work-list runs that extract
  *                       the rest of the snapshot into the template
  * @param warmups        untimed, unchecked runs before timing (JIT)
  * @param corruptGolden  test hook: alter one golden doc so the readback
  *                       check must report it */
final case class ExtractPlan(pages: Int, remainderPages: Int = 0,
                             priorRuns: Int = 0, warmups: Int = 4,
                             corruptGolden: Boolean = false) {
  def incremental: Boolean = remainderPages > 0
}

/** `extract_cold` and `extract_incremental`: timed `ExtractJob.run` calls
  * over a seeded snapshot, each read back and checked against the
  * CorpusGen goldens outside the timed interval. */
final class Extraction(ctx: Ctx, plan: ExtractPlan) {
  import Extraction.{Sample, Traced}
  import ctx.{spark, report}
  import spark.implicits._

  private val cfg = ExtractJob.Config(
    buckets = spark.sparkContext.defaultParallelism * 4) // Main extract's default
  private val root = ctx.work.resolve(if (plan.incremental) "incremental" else "cold")
  private val snapshot = root.resolve("snapshot").toString
  private val out = root.resolve("out")
  private val ckpt = root.resolve("ckpt")
  private val templateOut = root.resolve("template_out")
  private val templateCkpt = root.resolve("template_ckpt")

  private var corpus: Corpus = _
  private var remainder: Set[String] = Set.empty
  private var expected: Map[String, Doc] = Map.empty

  def setup(): Double = {
    Fs.delete(root)
    val start = Corpus.startFor(ctx.seed, cfg.skewSpanThreshold)
    val gens = (1 to Extraction.SetupRepeats).map { _ =>
      Timer.seconds {
        corpus = Corpus.window(start, plan.pages)
        SnapshotTable.write(corpus.inputs.toDS().toDF(), snapshot, cfg.buckets)
      }._2
    }
    expected = corpus.golden
    if (plan.corruptGolden) {
      val d = corpus.goldens.head
      expected += d.doc_id -> d.copy(spans = d.spans.reverse)
    }
    report.info("corpus_window") = s"[${corpus.start}, ${corpus.end})"
    report.info("corpus_docs") = corpus.size.toString
    report.info("corpus_skipped_docs") = corpus.skipped.toString
    report.info("corpus_pages") = corpus.pages.toString
    report.info("corpus_skewed_docs") = corpus.inputs.count(skewed).toString
    val templateS = if (plan.incremental) Timer.seconds(buildTemplate())._2 else 0.0
    report.detail("setup.corpus_snapshot_s") = (Stats.median(gens), "s")
    report.detail("setup.template_s") = (templateS, "s")
    val warmS = Timer.seconds {
      KernelProbe.warm(corpus.inputs, ctx.cores)
      for (_ <- 1 to plan.warmups) {
        prepare()
        ExtractJob.run(spark, snapshot, out.toString, ckpt.toString, cfg)
      }
    }._2
    report.detail("setup.warmup_s") = (warmS, "s")
    Stats.median(gens) + templateS + warmS
  }

  /** Template pre-state of the incremental workload: every doc except the
    * trailing remainder extracted by `priorRuns` work-list runs. */
  private def buildTemplate(): Unit = {
    val ids = corpus.inputs.map(_.doc_id)
    var tail = 0
    var pages = 0
    while (pages < plan.remainderPages && tail < corpus.size - 1) {
      tail += 1
      pages += Corpus.pages(Seq(corpus.inputs(corpus.size - tail)))
    }
    remainder = ids.takeRight(tail).toSet
    val done = ids.dropRight(tail)
    report.info("remainder_docs") = remainder.size.toString
    report.info("prior_runs") = plan.priorRuns.toString
    for (k <- 0 until plan.priorRuns) {
      val slice = done.zipWithIndex.collect { case (id, i) if i % plan.priorRuns == k => id }
      ExtractJob.run(spark, snapshot, templateOut.toString, templateCkpt.toString, cfg,
        worklist = Some(slice.toDF("doc_id")))
    }
  }

  /** Pre-state of one run, outside the timed interval. */
  private def prepare(): Unit = {
    Fs.delete(out)
    Fs.delete(ckpt)
    if (plan.incremental) {
      Fs.copy(templateOut, out)
      Fs.copy(templateCkpt, ckpt)
    }
  }

  private def plannedDocs: Set[String] =
    if (plan.incremental) remainder else expected.keySet

  /** Routed through ExtractJob's exploded path (its own predicate). */
  private def skewed(d: Doc): Boolean = d.spans.length >= cfg.skewSpanThreshold

  /** Timed runs until `seconds` have passed. With tracing on, a traced
    * run follows each timed one, so traced and timed runs see the same JIT
    * state and the comparison of the two is fair. */
  def measure(): Unit = {
    val samples = Vector.newBuilder[Sample]
    val tracedRuns = Vector.newBuilder[Traced]
    var spark0: SparkWindow = null
    val live = Vector.newBuilder[Double]
    val heap = new HeapWatch
    heap.start()
    val windowStart = System.nanoTime()
    var wallSum = 0.0
    var attempts = 0
    while ((System.nanoTime() - windowStart) / 1e9 < ctx.seconds) {
      prepare()
      val before = runDirs()
      ctx.metrics.reset()
      val attempt = Timer.attempt(
        ExtractJob.run(spark, snapshot, out.toString, ckpt.toString, cfg))
      val win = ctx.metrics.window(ctx.cores, attempt.wallS)
      spark0 = if (spark0 == null) win else spark0 + win
      wallSum += attempt.wallS
      attempts += 1
      attempt.result match {
        case Left(e) =>
          report.attempted += expected.size
          report.fail(s"ExtractJob.run threw: $e", expected.size.toLong)
        case Right(summary) =>
          // a completed run did the full work: it is timed, and its wrong
          // docs are counted as failures
          check(summary.docsThisRun)
          samples += sample(attempt.wallS, summary, before)
      }
      live += HeapWatch.liveOldGenMb()
      if (ctx.trace) tracedRuns += tracedRun()
    }
    val heapMb = heap.stopMb()
    report.info("heap_collections") = heap.count.toString
    val ss = samples.result()
    report.info("timed_runs") = ss.length.toString
    if (ss.isEmpty) return
    val walls = ss.map(_.wallS)
    val (q1, med, q3) = Stats.quartiles(walls)
    report.info("timed_walls_s") = walls.map(w => "%.3f".format(w)).mkString(" ")
    report.endToEnd("run_wall_s") = (med, "s")
    report.endToEnd("rate_per_s") = (Stats.median(ss.map(s => s.pages / s.wallS)), "1/s")
    report.endToEnd("heap_live_mb") = (Stats.median(live.result()), "MB")
    report.detail("heap_peak_mb") = (heapMb, "MB")
    report.detail("run_wall_s.q1") = (q1, "s")
    report.detail("run_wall_s.q3") = (q3, "s")
    report.detail("run_wall_s.n") = (ss.length.toDouble, "count")
    report.detail("docs_per_s") = (Stats.median(ss.map(s => s.docs / s.wallS)), "1/s")
    report.detail("spans_per_s") = (Stats.median(ss.map(s => s.spans / s.wallS)), "1/s")
    val last = ss.last
    // the cold workload exists to run the exploded skew path as well
    report.attempted += 1
    if (!plan.incremental && last.skewedDocs == 0)
      report.fail(s"no doc reached skewSpanThreshold ${cfg.skewSpanThreshold}: " +
        "the exploded path did not run")
    val perDoc = (last.outBytes + last.ckptBytes).toDouble / math.max(1L, last.docs)
    report.detail("bytes_written_per_doc") = (perDoc, "bytes")

    if (ctx.trace) {
      val n = attempts.toDouble
      val sparkRuns = spark0.copy(busyFrac = spark0.runS / (ctx.cores * wallSum))
      for ((k, v, u) <- sparkRuns.metrics)
        report.perLayer(k) = (if (u == "s" || u == "count" || u == "bytes") v / n else v, u)
      report.perLayer("bytes_written_per_doc") = (perDoc, "bytes")
      report.perLayer("extract.docs") = (last.docs.toDouble, "count")
      report.perLayer("extract.spans") = (last.spans.toDouble, "count")
      report.perLayer("extract.exploded_docs") = (last.skewedDocs.toDouble, "count")
      report.perLayer("extract.out_bytes") = (last.outBytes.toDouble, "bytes")
      report.perLayer("checkpoint.bytes") = (last.ckptBytes.toDouble, "bytes")
      report.perLayer("checkpoint.run_dirs") = (Fs.list(ckpt.resolve("lineage"))
        .count(_.getFileName.toString.startsWith("run=")).toDouble, "count")
      traced(tracedRuns.result(), med, last)
      KernelProbe.run(ctx, corpus.inputs)
    }
  }

  /** Readback outside the timed interval: every snapshot doc exactly once
    * with its golden span sequence, and the planned docs this run. */
  private def check(docsThisRun: Long): Unit = {
    val got = ExtractJob.readOutput(spark, out.toString).collect()
    val byId = got.groupBy(_.doc_id)
    val bad = (expected.keySet ++ byId.keySet).toVector.sorted.flatMap { id =>
      (expected.get(id), byId.get(id)) match {
        case (None, _) => Some(s"$id: not in the snapshot")
        case (_, None) => Some(s"$id: missing")
        case (_, Some(ds)) if ds.length > 1 => Some(s"$id: ${ds.length} copies")
        case (Some(g), Some(ds)) if ds.head.spans != g.spans => Some(s"$id: spans differ")
        case _ => None
      }
    }
    report.attempted += expected.size
    bad.take(5).foreach(b => report.fail(s"readback $b"))
    if (bad.length > 5) report.fail(s"readback: ${bad.length - 5} more docs", bad.length - 5L)
    report.attempted += 1
    if (docsThisRun != plannedDocs.size)
      report.fail(s"docs_this_run $docsThisRun, planned ${plannedDocs.size}")
  }

  private def runDirs(): Set[Path] =
    Seq(out, ckpt.resolve("done"), ckpt.resolve("lineage")).flatMap(Fs.list)
      .filter(_.getFileName.toString.startsWith("run=")).toSet

  /** A timed run's figures, taken from what it returned and wrote: docs
    * from its summary; spans, content pages and skew-routed docs from its
    * own run dir read back; bytes of every run dir it added. */
  private def sample(wallS: Double, summary: RunSummary, before: Set[Path]): Sample = {
    val added = runDirs() -- before
    val (outDirs, ckptDirs) = added.partition(_.getParent == out)
    val docs = outDirs.toSeq.flatMap(d => ExtractJob.readOutput(spark, d.toString).collect())
    val inputs = corpus.inputs.map(d => d.doc_id -> d).toMap
    // the output has no cover page: its media spans are content pages
    Sample(wallS, summary, docs.map(_.spans.count(_.kind == "media").toLong).sum,
      docs.map(_.spans.length.toLong).sum, docs.count(d => inputs.get(d.doc_id).exists(skewed)),
      added.size, outDirs.toSeq.map(Fs.bytes).sum, ckptDirs.toSeq.map(Fs.bytes).sum)
  }

  /** Report the traced runs: the one with the median wall is kept, so one
    * disturbed run cannot fail the accounting check. Each must have done
    * what `ExtractJob.run` did in the last timed run: the same docs this
    * run, the same done total and the same number of run dirs added. */
  private def traced(runs: Vector[Traced], untracedMedianS: Double, timed: Sample): Unit = {
    for ((r, i) <- runs.zipWithIndex) r.summary.foreach { got =>
      report.attempted += 1
      if (got.docsThisRun != timed.summary.docsThisRun ||
          got.docsProcessed != timed.summary.docsProcessed || r.runDirs != timed.runDirs)
        report.fail(s"traced run ${i + 1} differs from ExtractJob.run: docs this run / " +
          s"done total / run dirs ${got.docsThisRun} / ${got.docsProcessed} / ${r.runDirs}, " +
          s"timed ${timed.summary.docsThisRun} / ${timed.summary.docsProcessed} / ${timed.runDirs}")
    }
    report.info("trace_walls_s") = runs.map(r => "%.3f".format(r.wallS)).mkString(" ")
    val completed = runs.filter(_.summary.isDefined).sortBy(_.wallS)
    if (completed.nonEmpty) {
      val kept = completed(completed.length / 2)
      report.trace(kept.spans, kept.stages, untracedMedianS, "extract_job.run")
    }
  }

  /** One run composed from the same public calls `ExtractJob.run` makes,
    * in its order, each inside a trace span. The anti-join is planned in
    * `checkpoint.done_docs` (the done table's listing and schema read) and
    * executes inside the `extract.write` jobs, as it does in the program;
    * materialising it on its own would make the replica do less work than
    * `ExtractJob.run` (one anti-join instead of one per extraction path).
    * Not replicated, as they do nothing with this config: compaction
    * (`compactRunDirsOver` is 0) and the no-op resume reap (this run
    * always extracts docs). */
  private def tracedRun(): Traced = {
    prepare()
    val before = runDirs()
    val tracer = new Tracer
    ctx.metrics.reset()
    val stageLog = Vector.newBuilder[(String, SparkWindow)]
    def layer[A](name: String)(f: => A): A = {
      val (a, s) = Timer.seconds(tracer.span(name)(f))
      stageLog += name -> ctx.metrics.window(ctx.cores, s)
      a
    }
    val attempt = Timer.attempt(tracer.span("extract_job.run") {
      val (input, snapId) = layer("snapshot.read") {
        val (df, id) = SnapshotTable.read(spark, snapshot)
        (df.as[Doc], id)
      }
      layer("checkpoint.reconcile")(reconcileChecks())
      val todo = layer("checkpoint.done_docs") {
        val done = Checkpoint.doneDocs(spark, ckpt.toString, snapId)
        input.join(done, Seq("doc_id"), "left_anti").as[Doc]
      }
      val runId = s"${snapId}_${System.nanoTime()}"
      val runDir = s"$out/run=$runId"
      layer("extract.write") {
        ExtractJob.extract(spark, todo, cfg).write.mode(SaveMode.ErrorIfExists).parquet(runDir)
      }
      val thisRun = layer("checkpoint.append") {
        Checkpoint.append(spark, ckpt.toString, snapId, runId, spark.read.parquet(runDir))
      }
      val total = layer("checkpoint.done_total")(Checkpoint.doneTotal(spark, ckpt.toString, snapId))
      RunSummary(snapId, total, thisRun)
    })
    attempt.result match {
      case Left(e) =>
        report.attempted += expected.size
        report.fail(s"traced run threw: $e", expected.size.toLong)
      case Right(summary) => check(summary.docsThisRun)
    }
    Traced(attempt.wallS, tracer.spans, stageLog.result(), attempt.result.toOption,
      (runDirs() -- before).size)
  }

  /** The read-only part of ExtractJob's startup reconcile: list the run
    * dirs and look each one up in the checkpoint. */
  private def reconcileChecks(): Int = {
    val compacted = Checkpoint.compactedRunIds(spark, ckpt.toString)
    Fs.list(out).filter(_.getFileName.toString.startsWith("run=")).count { d =>
      Files.exists(d.resolve("_SUCCESS")) &&
        Checkpoint.isRecorded(spark, ckpt.toString,
          d.getFileName.toString.stripPrefix("run="), compacted)
    }
  }
}

object Extraction {
  /** Corpus generation + snapshot commit runs this often; the median
    * counts towards setup_s. */
  val SetupRepeats = 2

  /** Per timed run: wall, summary, content pages, spans and skew-routed
    * docs extracted, run dirs added, bytes written. */
  private final case class Sample(wallS: Double, summary: RunSummary, pages: Long, spans: Long,
                                  skewedDocs: Int, runDirs: Int, outBytes: Long, ckptBytes: Long) {
    def docs: Long = summary.docsThisRun
  }

  /** One traced run: wall, spans, Spark stages per layer, its summary
    * (None if it threw) and the run dirs it added. */
  private final case class Traced(wallS: Double, spans: Vector[TraceSpan],
                                  stages: Vector[(String, SparkWindow)],
                                  summary: Option[RunSummary], runDirs: Int)

  /** Layers of the extraction trace, in call order. */
  val Layers: Seq[String] = Seq("snapshot.read", "checkpoint.reconcile",
    "checkpoint.done_docs", "extract.write", "checkpoint.append",
    "checkpoint.done_total")
}
