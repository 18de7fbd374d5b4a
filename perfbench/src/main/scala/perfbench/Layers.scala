package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run. Each value is a per-pass total (or
  * ratio) taken as the median over the traced passes; layers a workload
  * does not touch read 0. */
object Layers {
  val Families = Seq("Relational", "EventOps", "TextOps", "DedupOps", "SimilarityOps",
    "MultimodalOps", "SamplingOps", "CorpusOps")

  /** Every per-layer metric name, in the order BENCHMARK.json lists them. */
  val Names: Seq[String] = Seq(
    "SparkEntry.construct_s", "SparkEntry.construct_jobs",
    "plans.plan_s", "plans.exchanges",
    "exec.wall_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
    "exec.task_cpu_s", "exec.critical_s", "exec.sched_gap_s", "exec.slot_util",
    "shuffle.read_mb", "shuffle.write_mb", "shuffle.fetch_wait_s", "shuffle.spill_mb",
    "scan.input_mb", "scan.input_rows",
    "jvm.gc_s", "jvm.cpu_s",
    "Tables.load_s", "WarmState.build_s", "WarmState.pinned_mb") ++
    Families.map(f => s"operators.$f.pass_s") ++ Seq(
    "sources.land_s", "sources.email_map_s", "sources.compact_s", "sources.written_mb",
    "streaming.admit_s", "streaming.admitted_frac",
    "DedupOps.index_remove_s", "DedupOps.index_compact_s", "DedupOps.index_written_mb",
    "DedupOps.index_live_mb",
    "IvfIndex.append_s", "IvfIndex.search_s", "IvfIndex.save_s", "IvfIndex.remove_s",
    "ingest.write_amp", "ingest.space_amp",
    "run.pass_drift", "run.trace_overhead", "run.fail_frac", "run.passes", "run.op_samples",
    "run.op_p50_s",
    "trace.unreconciled_ops", "trace.max_gap_s", "trace.jobs_outside_phase",
    "box.calib_s", "box.ambient_cores")

  /** Builds the span tree of every traced pass into `spans` and returns the
    * layer totals computed from it. */
  def compute(all: Seq[PassStats], l: TraceListener, spans: SpanLog,
              cores: Int): Map[String, Double] = {
    val traced = all.filter(_.traced)
    var unreconciled = 0
    var maxGap = 0.0
    var outside = 0
    spans.add(Span("run", "", "run", "run", all.head.startMs, all.last.endMs,
      Map("passes" -> all.size.toDouble)))
    val perPass = traced.map { ps =>
      val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val passId = s"run/p${ps.pass}"
      spans.add(Span(passId, "run", "pass", s"pass${ps.pass}", ps.startMs, ps.endMs,
        Map("wall_s" -> ps.wallS, "cpu_s" -> ps.cpuS, "gc_s" -> ps.gcS)))
      ps.ops.foreach { o =>
        val opId = s"$passId/${o.op}"
        spans.add(Span(opId, passId, "op", o.op, o.startMs, o.endMs, Map("wall_s" -> o.wallS)))
        m(s"operators.${o.family}.pass_s") += o.wallS
        m("plans.exchanges") += o.exchanges
        val gap = math.abs(o.wallS - o.phases.map(_._3).sum)
        maxGap = math.max(maxGap, gap)
        if (gap > math.max(Main.ReconcileTol * o.wallS, Main.ReconcileFloorS)) unreconciled += 1
        var t = o.startMs
        o.phases.foreach { case (ph, key, s) =>
          val js = l.jobsOf(key)
          val c = PhaseCounts.of(js)
          val span = Span(s"$opId/$ph", opId, "phase", ph, t, t + s * 1e3,
            Map("jobs" -> c.jobs.toDouble, "tasks" -> c.tasks.toDouble, "task_s" -> c.taskS))
          spans.add(span)
          spans.addJobs(span, js)
          // wall-clock ms around nanoTime-measured phases: allow 20 ms skew
          outside += js.count { case (j, _) => j.startMs < t - 20 || j.endMs > t + s * 1e3 + 20 }
          t += s * 1e3
          ph match {
            case "construct" =>
              m("SparkEntry.construct_s") += s
              m("SparkEntry.construct_jobs") += c.jobs
            case "plan" => m("plans.plan_s") += s
            case _ =>
              m("exec.wall_s") += s
              m("exec.jobs") += c.jobs
              m("exec.stages") += c.stages
              m("exec.tasks") += c.tasks
              m("exec.task_s") += c.taskS
              m("exec.task_cpu_s") += c.cpuS
              m("exec.critical_s") += c.criticalS
          }
          m("shuffle.read_mb") += c.shuffleReadMb
          m("shuffle.write_mb") += c.shuffleWriteMb
          m("shuffle.fetch_wait_s") += c.fetchWaitS
          m("shuffle.spill_mb") += c.spillMb
          m("scan.input_mb") += c.inputMb
          m("scan.input_rows") += c.inputRows
        }
      }
      m("exec.sched_gap_s") = m("exec.wall_s") - m("exec.critical_s")
      m("exec.slot_util") =
        if (m("exec.critical_s") > 0) m("exec.task_s") / (m("exec.critical_s") * cores) else 0.0
      m("jvm.gc_s") = ps.gcS
      m.toMap
    }
    val keys = perPass.flatMap(_.keys).distinct
    val ops = all.flatMap(_.ops)
    keys.map(k => k -> Stats.median(perPass.map(_.getOrElse(k, 0.0)))).toMap ++ Map(
      "run.fail_frac" -> ops.count(_.error.isDefined).toDouble / ops.size,
      "run.passes" -> all.size.toDouble,
      "run.op_samples" -> ops.count(_.error.isEmpty).toDouble,
      "trace.unreconciled_ops" -> unreconciled.toDouble,
      "trace.max_gap_s" -> maxGap,
      "trace.jobs_outside_phase" -> outside.toDouble)
  }
}
