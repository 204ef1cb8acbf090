package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One benchmark invocation in one JVM:
  *
  * {{{
  * perfbench.Main --workload <extract_cold|extract_incremental|query_mix>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *   [--query-data <dir>] [--pre-setup-s <s>]
  * }}}
  *
  * Prints one `metric <name> <value> <unit>` line per measured figure and,
  * as its last line, the result JSON; writes the full record (trace spans
  * included) to `<work>/result.json`. `--pre-setup-s` is set-up time spent
  * before this JVM started (generating the query tables). */
object Main {
  val Workloads: Seq[String] = Seq("extract_cold", "extract_incremental", "query_mix")

  /** Default sizes. The incremental template's own runs warm the JIT, so
    * that workload needs one warm-up run less. */
  val ColdPlan = ExtractPlan(pages = 120)
  val IncrementalPlan =
    ExtractPlan(pages = 100, remainderPages = 16, priorRuns = 2, warmups = 3)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      args.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    if (!Workloads.contains(workload)) {
      System.err.println(s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
      sys.exit(2)
    }
    val report = run(workload, need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), args.get("query-data"),
      args.get("pre-setup-s").map(_.toDouble).getOrElse(0.0))
    Files.writeString(Paths.get(need("work")).resolve("result.json"), report.detailJson)
    report.table.foreach(println)
    report.failures.foreach(f => println(s"failure $f"))
    report.info.foreach { case (k, v) => println(s"info $k: $v") }
    println(report.resultLine(need("trace") == "1"))
  }

  /** Run one workload and return what it measured. */
  def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
          work: java.nio.file.Path, queryData: Option[String], preSetupS: Double,
          cold: ExtractPlan = ColdPlan, incremental: ExtractPlan = IncrementalPlan,
          mix: Option[Ctx => QueryMix] = None): Report = {
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val report = new Report
    val (spark, sessionS) = Timer.seconds(session(cores, work))
    // JVM start-up up to here, plus the session itself
    val startS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    try {
      val ctx = new Ctx(spark, work, seed, seconds, trace, cores, report)
      report.info("workload") = workload
      report.info("seed") = seed.toString
      report.info("nproc") = cores.toString
      report.info("seconds") = seconds.toString
      report.info("trace") = trace.toString
      report.info("jvm_heap_flags") = ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filter(a => a.startsWith("-Xm") || a.startsWith("-XX:")).mkString(" ")
      val (setupS, measure) = workload match {
        case "extract_cold" | "extract_incremental" =>
          val w = new Extraction(ctx, if (workload == "extract_cold") cold else incremental)
          (w.setup(), () => w.measure())
        case "query_mix" =>
          val dir = queryData.getOrElse(sys.error("query_mix needs --query-data"))
          report.info("query_data") = "generated sf0.01-shaped tables, fixed seed (read-only input)"
          val w = mix.fold(new QueryMix(ctx, dir))(_(ctx))
          (w.setup(), () => w.measure())
      }
      report.detail("setup.session_s") = (sessionS, "s")
      report.endToEnd("setup_s") = (preSetupS + startS + setupS, "s")
      measure()
      val errorRate = report.failed.toDouble / math.max(1L, report.attempted)
      report.detail("error_rate") = (errorRate, "ratio")
      report
    } finally spark.stop()
  }

  private def session(cores: Int, work: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
