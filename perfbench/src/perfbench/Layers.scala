package perfbench

import scala.collection.mutable

/** Per-layer numbers of a traced run, per traced pass. Every name is
  * reported on every workload; a layer the workload bypasses reads 0.
  */
object Layers {

  /** Span name → metric name prefix of the POS stages and report parts. */
  private val PosSpans = Seq("pos.download", "pos.staging.clean",
    "pos.aggregate", "pos.qa", "pos.forecast", "pos.deposits")

  private val Totals = Seq("catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s", "codegen.compile_s", "codegen.classes",
    "codegen.failures", "spark.jobs", "spark.tasks", "spark.failed_tasks",
    "spark.task_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.shuffle_write_mb", "spark.spill_mb")

  private val Plan = Seq("catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s")

  def perLayer(tr: Tracer, passes: Int, cores: Int, scanPartitions: Int)
      : Map[String, Double] = {
    val self = tr.selfSeconds
    val spans = tr.spans.toSeq
    val p = math.max(1, passes).toDouble
    def named(n: String) = spans.filter(_.name == n)
    def dur(s: Span) = (s.end - s.start) / 1e9
    def selfPer(n: String) = named(n).map(s => self(s.id)).sum / p
    def durPer(n: String) = named(n).map(dur).sum / p
    def countPer(n: String, k: String) =
      named(n).map(_.counts.getOrElse(k, 0.0)).sum / p
    val m = mutable.LinkedHashMap.empty[String, Double]

    PosSpans.foreach(n => m(s"${n}_s") = selfPer(n))
    m("pos.cascade_s") = selfPer("pos.getPayments")
    val staged = countPer("pass", "pos.staging.workbooks")
    val fresh = countPer("pass", "pos.staging.new_workbooks")
    m("pos.staging.workbooks") = staged
    m("pos.staging.restage_ratio") = if (fresh > 0) staged / fresh else 0.0
    m("pos.backfill_s") = durPer("pos.backfill")
    m("pos.report_s") = durPer("pos.report")
    val refreshes = named("pos.refresh")
    m("pos.refresh_s") =
      if (refreshes.isEmpty) 0.0 else refreshes.map(dur).sum / refreshes.size

    Workloads.ReportedModules.foreach { mod =>
      val l = s"ops.$mod"
      val plan = Plan.map(k => countPer(s"$l.exec", k)).sum
      m(s"$l.build_s") = durPer(s"$l.build")
      m(s"$l.plan_s") = plan
      m(s"$l.exec_s") = durPer(s"$l.exec") - plan
      m(s"$l.jobs") = countPer(l, "spark.jobs")
    }

    Totals.foreach(k => m(k) = countPer("pass", k))
    m("spark.peak_exec_mem_mb") = named("pass")
      .map(_.counts.getOrElse("spark.peak_exec_mem_mb", 0.0))
      .foldLeft(0.0)(math.max)
    val wall = named("pass").map(dur).sum
    m("spark.core_busy") =
      if (wall > 0) countPer("pass", "spark.task_s") * p / (wall * cores)
      else 0.0
    m("tables.scan_partitions") = scanPartitions.toDouble
    m.toMap
  }
}
