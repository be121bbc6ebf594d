package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import Trace.span

/** The ANN configuration sweep: the registry's re-rank dial (exact top-k,
  * two PQ code budgets, ADC shortlists re-ranked exactly, recall per
  * budget), run on the generated embeddings directory (the testdata
  * layout). One cycle = one sweep.
  */
final class VectorDials(spark: SparkSession, in: String, out: String) extends Workload {
  val Dials = Seq("q152_rerank_dial")
  private val firstRows = scala.collection.mutable.Map.empty[String, Seq[Row]]
  private var nVectors = 0L

  private def query(name: String): DataFrame = graft.SparkEntry.queries(name)(spark, in)

  def prepare(): Unit = {
    // the scan the queries share, once per set-up (footers, page cache)
    nVectors = spark.read.parquet(s"$in/embeddings.parquet").count()
  }

  def warm(): Unit = Dials.foreach(q => query(q).collect())

  def hasMore: Boolean = true

  def cycle(rec: Recorder): Unit = {
    val rows = rec.op("sweep") {
      Dials.map { q =>
        val r = span(s"dials.${q.take(4)}") {
          val df = query(q)
          (df.schema, df.collect().toSeq)
        }
        Main.hygiene(spark)
        q -> r
      }
    }
    rows.foreach { rs =>
      rs.foreach { case (q, (schema, r)) =>
        // the same inputs must give the same rows every time; the last
        // sweep's rows go to the correctness gate
        if (firstRows.get(q).exists(_ != r)) {
          rec.failed += 1
          rec.errors += s"$q: output changed between cycles"
        }
        firstRows.getOrElseUpdate(q, r)
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(r.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$q")
      }
    }
  }

  def export(out: String, rec: Recorder): Unit = {
    val oracle = Dials.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))
    val w = new java.io.PrintWriter(s"$out/oracle_sql.json", "UTF-8")
    try w.println(Json.obj(oracle)) finally w.close()
    rec.fact("vectors", nVectors)
  }

  def layerMetrics(rec: Recorder): Seq[(String, Double)] = Seq(
    "dials.q152_ms" -> Spans.selfMs("dials.q152"),
    "dials.scans" -> Spans.firstCycle("dials.", "scans"),
    "dials.exchanges" -> Spans.firstCycle("dials.", "exchanges"),
    "dials.reused_exchanges" -> Spans.firstCycle("dials.", "reused_exchanges"),
  )
}
