package perfbench

import scala.collection.mutable

/** Everything one invocation measured. `endToEnd` and `perLayer` are the
  * metrics BENCHMARK.json declares; `detail` holds the workload-specific
  * figures (per-layer times, per-query times, quartiles) that are printed
  * and written out but not part of the declared set. */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var traceJson = "null"

  def fail(what: String, n: Long = 1L): Unit = {
    failed += n
    failures += what
  }

  /** Printed metric table: one `name value unit` line per metric. */
  def table: Seq[String] =
    (endToEnd.toSeq ++ perLayer.toSeq ++ detail.toSeq).map {
      case (k, (v, u)) => f"metric $k%-36s ${Json.num(v)}%s $u"
    }

  private def metricsJson(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")

  /** The contract line: the declared metrics of the run's mode. */
  def resultLine(trace: Boolean): String =
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
    s""""failed": $failed, "metrics": ${metricsJson(if (trace) perLayer else endToEnd)}}"""

  /** Trace metrics shared by every workload: the traced wall, its
    * overhead over the untraced median, each layer's self time and share,
    * and the share of the untraced median the layer self times account
    * for. Outside [[Ctx.AccountTolerance]] that is a failure. */
  def trace(spans: Vector[TraceSpan], stages: Vector[(String, SparkWindow)],
            untracedMedianS: Double, root: String): Unit = {
    val wall = spans.filter(_.name == root).map(_.seconds).sum
    val self = Tracer.selfByName(spans)
    val layered = self.filter(_._1 != root).map(_._2).sum
    perLayer("trace.wall_s") = (wall, "s")
    perLayer("trace.overhead_s") = (wall - untracedMedianS, "s")
    perLayer("trace.accounted_frac") = (layered / untracedMedianS, "ratio")
    for ((name, s) <- self) detail(s"$name.self_s") = (s, "s")
    // a layer's share is its inclusive time; layers a workload never
    // calls read 0
    for (name <- Ctx.LayerNames)
      perLayer(s"layer.${Ctx.layerKey(name)}_frac") =
        (spans.filter(_.name == name).map(_.seconds).sum / wall, "ratio")
    perLayer("layer.unattributed_frac") =
      (self.filter(_._1 == root).map(_._2).sum / wall, "ratio")
    val ok = math.abs(layered / untracedMedianS - 1.0) <= Ctx.AccountTolerance
    val account = s"layer self times ${"%.3f".format(layered)} s vs untraced median " +
      s"${"%.3f".format(untracedMedianS)} s, tolerance ${Ctx.AccountTolerance}"
    info("trace_accounts_for_run_wall") = s"$ok ($account)"
    attempted += 1
    if (!ok) fail(s"traced run does not account for run_wall_s: $account")
    val stageJson = stages.map { case (name, w) =>
      s"""{"span": ${Json.str(name)}, "tasks": ${w.tasks}, "run_s": ${Json.num(w.runS)}, """ +
      s""""cpu_s": ${Json.num(w.cpuS)}, "gc_s": ${Json.num(w.gcS)}, """ +
      s""""shuffle_write_bytes": ${w.shuffleWriteBytes}, "shuffle_read_bytes": ${w.shuffleReadBytes}, """ +
      s""""stages": ${w.stages.map(st => s"""{"id": ${st.stageId}, "name": ${Json.str(st.name)}, "tasks": ${st.tasks}, "run_s": ${Json.num(st.runS)}, "skew": ${Json.num(st.skew)}}""").mkString("[", ", ", "]")}}"""
    }
    traceJson = s"""{"spans": ${Json.spans(spans)}, "spark": ${stageJson.mkString("[", ", ", "]")}}"""
  }

  def detailJson: String =
    s"""{"info": ${info.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")}, """ +
    s""""attempted": $attempted, "failed": $failed, """ +
    s""""failures": ${failures.map(Json.str).mkString("[", ", ", "]")}, """ +
    s""""end_to_end": ${metricsJson(endToEnd)}, "per_layer": ${metricsJson(perLayer)}, """ +
    s""""detail": ${metricsJson(detail)}, "trace": $traceJson}"""
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full-precision number; JSON has no NaN or infinity. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def spans(spans: Seq[TraceSpan]): String = {
    val self = Tracer.selfTimes(spans)
    spans.map { s =>
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, """ +
      s""""start_s": ${num(s.startNs / 1e9)}, "end_s": ${num(s.endNs / 1e9)}, """ +
      s""""self_s": ${num(self(s.id))}}"""
    }.mkString("[", ", ", "]")
  }
}
