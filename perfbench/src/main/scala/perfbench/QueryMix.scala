package perfbench

import graft.SparkEntry
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `query_mix`: a fixed subset of `SparkEntry.queries` over the generated
  * TPC-H-style tables (gen_tables.py), each materialised through the noop
  * sink.
  *
  * Before timing, one untimed pass writes every result to parquet (what
  * the DuckDB oracle and the x2 self-check read) and a second one runs the
  * noop sink: together they are the warm-up. Timed passes then run until
  * `seconds` have passed; a query that throws is a failure and is never
  * timed.
  *
  * @param names  queries of the mix, in run order
  * @param extra  test hook: additional (name, query) pairs */
final class QueryMix(ctx: Ctx, dataDir: String,
                     names: Seq[String] = QueryMix.Names,
                     extra: Seq[(String, (SparkSession, String) => DataFrame)] = Nil) {
  import ctx.{spark, report}

  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    names.map(n => n -> SparkEntry.queries(n)) ++ extra
  private val dumpDir = ctx.work.resolve("query_mix").resolve("results")

  def setup(): Double = {
    Fs.delete(dumpDir)
    Files.createDirectories(dumpDir)
    val (_, s) = Timer.seconds {
      for ((name, q) <- queries) {
        val a = Timer.attempt(q(spark, dataDir).coalesce(1).write.parquet(dumpDir.resolve(name).toString))
        report.attempted += 1
        a.result.left.foreach(e => report.fail(s"$name threw in the result pass: $e"))
      }
    }
    val oracle = queries.map(_._1).flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.writeString(dumpDir.resolve("oracle_sql.json"),
      oracle.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}"))
    report.info("queries") = queries.map(_._1).mkString(" ")
    report.info("oracled_queries") = oracle.map(_._1).mkString(" ")
    selfChecks()
    report.detail("setup.result_pass_s") = (s, "s")
    // one more untimed pass through the noop sink: the first pass after
    // the result pass is still about 40% slower than the ones after it
    val (_, warmS) = Timer.seconds {
      for ((name, q) <- queries) {
        val a = Timer.attempt(q(spark, dataDir).write.format("noop").mode("overwrite").save())
        report.attempted += 1
        a.result.left.foreach(e => report.fail(s"$name threw in the warm-up pass: $e"))
      }
    }
    report.detail("setup.warmup_s") = (warmS, "s")
    s + warmS
  }

  /** x2's rows carry their own golden check: every row must be 0. */
  private def selfChecks(): Unit =
    for ((name, column) <- Seq("x2_table_detect" -> "golden_mismatch")
         if queries.exists(_._1 == name) && Files.exists(dumpDir.resolve(name))) {
      val bad = spark.read.parquet(dumpDir.resolve(name).toString)
        .where(s"$column <> 0").count()
      report.attempted += 1
      if (bad != 0) report.fail(s"$name: $bad rows with $column <> 0")
    }

  def measure(): Unit = {
    val walls = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[Double]] ++ queries.map(_._1 -> Vector.empty[Double])
    val passes = Vector.newBuilder[Double]
    val tracedPasses = Vector.newBuilder[(Double, Vector[TraceSpan], Vector[(String, SparkWindow)])]
    var spark0: SparkWindow = null
    val live = Vector.newBuilder[Double]
    val heap = new HeapWatch
    heap.start()
    val windowStart = System.nanoTime()
    var wallSum = 0.0
    var attempts = 0
    while ((System.nanoTime() - windowStart) / 1e9 < ctx.seconds) {
      attempts += 1
      var pass = 0.0
      var passWall = 0.0
      var ok = true
      ctx.metrics.reset()
      for ((name, q) <- queries) {
        val a = Timer.attempt(q(spark, dataDir).write.format("noop").mode("overwrite").save())
        report.attempted += 1
        passWall += a.wallS
        a.result match {
          case Left(e) =>
            ok = false
            report.fail(s"$name threw: $e")
          case Right(_) =>
            walls(name) :+= a.wallS
            pass += a.wallS
        }
      }
      if (ok) passes += pass
      wallSum += passWall
      val win = ctx.metrics.window(ctx.cores, passWall)
      spark0 = if (spark0 == null) win else spark0 + win
      live += HeapWatch.liveOldGenMb()
      // a traced pass follows each timed one: both see the same JIT state
      if (ctx.trace) tracedPasses += tracedPass()
    }
    val heapMb = heap.stopMb()
    report.info("heap_collections") = heap.count.toString
    val ps = passes.result()
    report.info("timed_passes") = ps.length.toString
    // a query's own timings stand even when another query of its pass failed
    val medians = walls.collect { case (n, ws) if ws.nonEmpty => n -> Stats.median(ws) }
    for ((n, m) <- medians) report.detail(s"query.${n}_s") = (m, "s")
    if (ps.isEmpty) return
    val (q1, med, q3) = Stats.quartiles(ps)
    report.info("timed_walls_s") = ps.map(w => "%.3f".format(w)).mkString(" ")
    report.endToEnd("run_wall_s") = (med, "s")
    report.endToEnd("rate_per_s") = (1.0 / Stats.geomean(medians.values.toSeq), "1/s")
    report.endToEnd("heap_live_mb") = (Stats.median(live.result()), "MB")
    report.detail("heap_peak_mb") = (heapMb, "MB")
    report.detail("run_wall_s.q1") = (q1, "s")
    report.detail("run_wall_s.q3") = (q3, "s")
    report.detail("run_wall_s.n") = (ps.length.toDouble, "count")
    report.detail("query_geomean_s") = (Stats.geomean(medians.values.toSeq), "s")
    for (f <- QueryMix.Families) {
      val fam = medians.filter(_._1.startsWith(f))
      if (fam.nonEmpty) report.detail(s"query.family.${f}_s") = (fam.values.sum, "s")
    }
    if (ctx.trace) {
      val n = attempts.toDouble // per pass, failed ones included
      val win = spark0.copy(busyFrac = spark0.runS / (ctx.cores * wallSum))
      for ((k, v, u) <- win.metrics)
        report.perLayer(k) = (if (u == "s" || u == "count" || u == "bytes") v / n else v, u)
      // no extraction output in this workload; every declared per-layer
      // metric is reported, so these read 0
      for (k <- Seq("bytes_written_per_doc", "extract.docs", "extract.spans",
                    "extract.exploded_docs", "extract.out_bytes", "checkpoint.bytes",
                    "checkpoint.run_dirs"))
        report.perLayer(k) = (0.0, if (k.endsWith("bytes") || k.endsWith("per_doc")) "bytes" else "count")
      // the traced pass with the median wall is kept, so one disturbed
      // pass cannot fail the accounting check
      val traced = tracedPasses.result()
      report.info("trace_walls_s") = traced.map(t => "%.3f".format(t._1)).mkString(" ")
      val (_, spans, stages) = traced.sortBy(_._1).apply(traced.length / 2)
      report.trace(spans, stages, med, "query_mix.pass")
      KernelProbe.run(ctx, (0 until QueryMix.KernelDocs).map(i => graft.synth.CorpusGen.genDoc(i)._1))
    }
  }

  /** One pass with a span per family and per query, and the Spark stage
    * metrics of each query: (wall, spans, stages). */
  private def tracedPass(): (Double, Vector[TraceSpan], Vector[(String, SparkWindow)]) = {
    val tracer = new Tracer
    val stageLog = Vector.newBuilder[(String, SparkWindow)]
    ctx.metrics.reset()
    val (_, wallS) = Timer.seconds(tracer.span("query_mix.pass") {
      for ((family, qs) <- queries.groupBy(q => QueryMix.family(q._1)).toSeq.sortBy(_._1))
        tracer.span(s"query.family.$family") {
          for ((name, q) <- qs) {
            val a = Timer.attempt(tracer.span(s"query.$name") {
              q(spark, dataDir).write.format("noop").mode("overwrite").save()
            })
            report.attempted += 1
            a.result.left.foreach(e => report.fail(s"$name threw in the traced pass: $e"))
            stageLog += s"query.$name" -> ctx.metrics.window(ctx.cores, a.wallS)
          }
        }
    })
    (wallS, tracer.spans, stageLog.result())
  }
}

object QueryMix {
  /** The mix, one query per family: a window sessionizer, shingle Jaccard
    * pair mining, brute-force kNN and the table-detection x-query. */
  val Names: Seq[String] = Seq("q7_sessionize", "d2_ngram_jaccard",
    "e1_knn_brute", "x2_table_detect")

  val Families: Seq[String] = Seq("d", "e", "q", "x")

  def family(name: String): String = name.take(1)

  /** CorpusGen docs the kernel probe times: the x-queries' doc range. */
  val KernelDocs = 16
}
