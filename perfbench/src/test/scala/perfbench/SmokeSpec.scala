package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** All three workloads at tiny sizes, traced, each with the checks on.
  * Timing values are not asserted; presence, units and failure accounting
  * are. */
class SmokeSpec extends AnyFunSuite {
  private val work: Path = Files.createTempDirectory("perfbench-smoke")
  // a corpus opens with a skew-routed heavy doc of about 40 pages: the
  // smallest cold corpus is that doc, an incremental one needs a few more
  private val tinyCold = ExtractPlan(pages = 6)
  private val tinyIncremental = ExtractPlan(pages = 60, remainderPages = 2, priorRuns = 2)

  private def run(workload: String, cold: ExtractPlan = tinyCold,
                  mix: Option[Ctx => QueryMix] = None, queryData: Option[String] = None): Report =
    Main.run(workload, seed = 7L, seconds = 0.01, trace = true,
      work.resolve(workload), queryData, preSetupS = 0.0,
      cold = cold, incremental = tinyIncremental, mix = mix)

  /** Query tables at 5% of the sf0.01 row counts. */
  private lazy val tables: Path = {
    val data = work.resolve("tables")
    val gen = new ProcessBuilder("python3", Paths.get("gen_tables.py").toAbsolutePath.toString,
      data.toString, "0.05").inheritIO().start()
    assert(gen.waitFor() == 0)
    data
  }

  private def assertDeclaredMetrics(r: Report): Unit = {
    for (k <- Seq("run_wall_s", "rate_per_s", "heap_live_mb", "setup_s"))
      assert(r.endToEnd.get(k).exists(_._1 > 0), s"end-to-end $k: ${r.endToEnd.get(k)}")
    for (k <- Seq("spark.tasks", "spark.run_s", "trace.wall_s", "trace.accounted_frac",
                  "kernel.extract_doc_ms.p50", "kernel.recognize_ms",
                  "kernel.detect_tables_ms", "img.otsu_ms"))
      assert(r.perLayer.get(k).exists(_._1 > 0), s"per-layer $k: ${r.perLayer.get(k)}")
    assert(r.attempted > 0)
  }

  test("extract_cold: a corrupted golden is caught and counted") {
    val r = run("extract_cold", cold = tinyCold.copy(corruptGolden = true))
    assertDeclaredMetrics(r)
    assert(r.failed >= 1)
    assert(r.failures.exists(_.contains("spans differ")), r.failures)
    assert(r.detail("error_rate")._1 > 0)
    assert(!r.resultLine(trace = false).contains("\"correct\": true"))
    assert(r.perLayer("extract.docs")._1 > 0)
    assert(r.perLayer("extract.exploded_docs")._1 >= 1)
    // one traced run follows each timed run
    assert(r.info("trace_walls_s").split(' ').length == r.info("timed_runs").toInt)
  }

  test("extract_incremental: the timed run extracts exactly the remainder") {
    val r = run("extract_incremental")
    assertDeclaredMetrics(r)
    assert(!r.failures.exists(_.startsWith("docs_this_run")), r.failures)
    assert(r.info("prior_runs") == "2")
    assert(r.perLayer("extract.docs")._1 == r.info("remainder_docs").toDouble)
    assert(r.perLayer("checkpoint.run_dirs")._1 >= 3)
    assert(r.perLayer("layer.checkpoint_done_docs_frac")._1 > 0)
  }

  test("query_mix: the oracle dump and x2 self-check are written, traced") {
    val r = run("query_mix", queryData = Some(tables.toString),
      mix = Some(ctx => new QueryMix(ctx, tables.toString,
        names = Seq("q2_segment_revenue", "x2_table_detect"))))
    assertDeclaredMetrics(r)
    assert(r.info("oracled_queries") == "q2_segment_revenue")
    val dump = work.resolve("query_mix").resolve("query_mix").resolve("results")
    assert(Files.exists(dump.resolve("oracle_sql.json")))
    assert(Files.exists(dump.resolve("q2_segment_revenue")))
    assert(r.perLayer("layer.query_x_frac")._1 > 0)
    assert(r.perLayer("layer.query_q_frac")._1 > 0)
    assert(r.perLayer("extract.docs")._1 == 0)
  }

  test("query_mix: a query that throws is a failure and is never timed") {
    val data = tables
    val boom: (SparkSession, String) => DataFrame =
      (s, _) => s.range(3).selectExpr("assert_true(id < 0) AS never")
    val r = run("query_mix", queryData = Some(data.toString),
      mix = Some(ctx => new QueryMix(ctx, data.toString,
        names = Seq("q2_segment_revenue", "x2_table_detect"), extra = Seq("boom" -> boom))))
    assert(r.failures.exists(_.startsWith("boom")), r.failures)
    assert(!r.detail.contains("query.boom_s"))
    assert(r.detail("query.x2_table_detect_s")._1 > 0)
    // every pass held the failing query, so no pass wall was recorded
    assert(!r.endToEnd.contains("run_wall_s"))
    assert(r.detail("error_rate")._1 > 0)
    assert(!r.resultLine(trace = false).contains("\"correct\": true"))
  }
}
