package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan inspector: for each named query (or all), runs the query (a
  * collect, as the benchmark's dial sweep does), prints its final adaptive
  * plan (explain formatted) and one shape line
  *
  *   [shape] <query> scans=S exchanges=E reused=R compiles=C
  *
  * summed over every execution the query made — eager collects while it
  * was built and the final run — on the final adaptive plans. `compiles`
  * counts the classes Janino compiled meanwhile: codegen-cache misses,
  * so 0 when an earlier query already compiled every shape. The session
  * is [[graft.Bench.session]], so these are the plans the sweep runs.
  * Usage: tools/run.sh graft.tools.Explain [sfDir] [queryName...]
  * (cores: SPARK_GRAFT_CPUS, default 4).
  */
object Explain {

  /** (scans, exchanges, reused exchanges) of an executed plan, through
    * adaptive stages and subqueries. A reused exchange counts once and its
    * subtree not at all.
    */
  def planShape(plan: SparkPlan): (Int, Int, Int) = {
    var scans, exchanges, reused = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec => reused += 1
        case e: Exchange => exchanges += 1; e.children.foreach(walk)
        case _: org.apache.spark.sql.execution.DataSourceScanExec |
             _: DataSourceV2ScanExecBase => scans += 1
        case _ => p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (scans, exchanges, reused)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSet
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    val shape = Array(0, 0, 0)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val (s, e, r) = planShape(qe.executedPlan)
        shape.synchronized { shape(0) += s; shape(1) += e; shape(2) += r }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.isEmpty || names(name)) {
        println(s"\n========== $name ==========")
        shape.synchronized(java.util.Arrays.fill(shape, 0))
        val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        try {
          val df = fn(spark, sfDir)
          df.collect()
          val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
          df.explain("formatted") // the final adaptive plan of that run
          org.apache.spark.sql.graftshim.DatasetShim.drainListeners(spark)
          shape.synchronized(println(s"[shape] $name scans=${shape(0)} " +
            s"exchanges=${shape(1)} reused=${shape(2)} compiles=$compiles"))
        } catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
        finally graft.sources.Scratch.reap()
      }
    }
    spark.stop()
  }
}
