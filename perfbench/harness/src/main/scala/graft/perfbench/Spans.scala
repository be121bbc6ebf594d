package graft.perfbench

/** Layer metrics derived from the recorded spans. Counts come from the
  * first cycle, which is traced and replays the same operations for a
  * given seed; times are medians over the traced cycles.
  */
object Spans {
  import Trace.Span

  private def traced: Seq[Span] = Trace.spans.toSeq
  private def cycles: Seq[Int] = traced.map(_.cycle).distinct.sorted

  def named(prefix: String): Seq[Span] = traced.filter(_.name.startsWith(prefix))

  /** Median self time of one call of the spans named `prefix*`. */
  def selfMs(prefix: String): Double = Main.median(named(prefix).map(Trace.selfMs))

  /** A counter summed over the first cycle's spans named `prefix*`. */
  def firstCycle(prefix: String, counter: String): Double =
    named(prefix).filter(_.cycle == cycles.headOption.getOrElse(0)).map(_.counts(counter)).sum

  private def perCycle(f: Seq[Span] => Double): Double =
    Main.median(cycles.map(c => f(traced.filter(_.cycle == c))))

  def engineMetrics(cpus: Int): Seq[(String, Double)] = {
    def sum(k: String)(ss: Seq[Span]) = ss.map(_.counts(k)).sum
    val roots = (ss: Seq[Span]) => ss.filter(_.parent == -1)
    Seq(
      "spark.jobs" -> firstCycle("", "jobs"),
      "spark.stages" -> firstCycle("", "stages"),
      "spark.tasks" -> firstCycle("", "tasks"),
      "spark.plan_ms" -> perCycle(sum("plan_ms")),
      "spark.sched_gap_ms" -> perCycle(ss => roots(ss).map(Trace.schedGapMs).sum),
      "spark.task_cpu_ms" -> perCycle(sum("task_cpu_ns")) / 1e6,
      "spark.shuffle_read_mb" -> firstCycle("", "shuffle_read_b") / 1048576.0,
      "spark.shuffle_write_mb" -> firstCycle("", "shuffle_write_b") / 1048576.0,
      "spark.spill_mb" -> firstCycle("", "spill_b") / 1048576.0,
      "spark.core_util" -> perCycle(ss =>
        sum("task_cpu_ns")(ss) / 1e6 / math.max(1e-9, roots(ss).map(_.wallMs).sum * cpus)),
    )
  }
}
