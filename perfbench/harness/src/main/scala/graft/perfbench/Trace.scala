package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spans around the benchmark's calls into the program, plus listener
  * counters attributed to the innermost open span.
  *
  * A span records name, start, end, parent and the cycle (run-local id of
  * the unit of work it belongs to). The listener bus is drained when a
  * span opens and when it closes, so every event an action posts is
  * delivered while the span that ran the action is still the innermost
  * one. Spans stay in memory; [[write]] dumps them when the run ends.
  * When tracing is off, [[span]] is a plain call.
  */
object Trace {
  final class Span(val id: Int, val name: String, val parent: Int, val cycle: Int,
      val startNs: Long) {
    var endNs: Long = 0L
    val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
    val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
    def wallMs: Double = (endNs - startNs) / 1e6
    def add(k: String, v: Double): Unit = synchronized { counts(k) += v }
  }

  @volatile private var on = false
  @volatile private var current: Span = null
  @volatile var cycle = 0
  private var spark: SparkSession = null
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]

  def enabled: Boolean = on

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)
      val parent = current
      val s = new Span(nextId, name, if (parent == null) -1 else parent.id, cycle, System.nanoTime())
      nextId += 1
      spans += s
      current = s
      try body
      finally {
        org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)
        s.endNs = System.nanoTime()
        current = parent
      }
    }

  /** Add to the innermost open span (no-op outside spans or when off). */
  def count(k: String, v: Double): Unit = { val s = current; if (on && s != null) s.add(k, v) }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = count("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = current
      if (s != null) {
        s.add("stages", 1)
        val i = e.stageInfo
        for (a <- i.submissionTime; b <- i.completionTime) s.synchronized { s.stageIntervals += ((a, b)) }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = current
      val m = e.taskMetrics
      if (s != null && m != null) {
        s.add("tasks", 1)
        s.add("task_cpu_ns", m.executorCpuTime.toDouble)
        s.add("shuffle_read_b", (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        s.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      count("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
      val (scans, exchanges, reused) = planShape(qe.executedPlan)
      count("scans", scans)
      count("exchanges", exchanges)
      count("reused_exchanges", reused)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** (scans, exchanges, reused exchanges) of an executed plan, through
    * adaptive stages and subqueries.
    */
  def planShape(plan: SparkPlan): (Int, Int, Int) = {
    var scans, exchanges, reused = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec => reused += 1
        case e: Exchange => exchanges += 1; e.children.foreach(walk)
        case _: DataSourceScanExec | _: DataSourceV2ScanExecBase => scans += 1
        case _ => p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (scans, exchanges, reused)
  }

  def start(s: SparkSession): Unit = if (!on) {
    spark = s
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(qeListener)
    on = true
  }

  def stop(): Unit = if (on) {
    org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)
    on = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def childrenOf(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span wall minus the wall of its children (they run sequentially). */
  def selfMs(s: Span): Double = s.wallMs - childrenOf(s).map(_.wallMs).sum

  def descendants(s: Span): Seq[Span] = {
    val kids = childrenOf(s)
    kids ++ kids.flatMap(descendants)
  }

  /** Span wall with no stage of its own or of a descendant running. */
  def schedGapMs(s: Span): Double = {
    val ivs = (s +: descendants(s)).flatMap(_.stageIntervals).sortBy(_._1)
    var covered = 0.0
    var curA = -1.0
    var curB = -1.0
    ivs.foreach { case (a0, b0) =>
      val a = a0.toDouble; val b = b0.toDouble
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.wallMs - covered)
  }

  def write(path: String, runId: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("[")
      w.println(spans.map { s =>
        val c = s.counts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
        s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}","cycle":${s.cycle},""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${selfMs(s)},"counts":{$c}}"""
      }.mkString(",\n"))
      w.println("]")
    } finally w.close()
  }
}
