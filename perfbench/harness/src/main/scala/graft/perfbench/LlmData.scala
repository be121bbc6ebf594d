package graft.perfbench

/** The LLM-data operators in one closed loop: each cycle runs the corpus
  * release job, then the ANN dial sweep. Both parts keep their own spans,
  * samples ("job", "sweep") and outputs.
  */
final class LlmData(corpus: CorpusDedup, dials: VectorDials) extends Workload {
  def prepare(): Unit = { corpus.prepare(); dials.prepare() }
  /** The two warm passes are independent, so they run side by side (no
    * hygiene until both end: it would reap the other's scratch tables).
    */
  def warm(): Unit = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val d = Future(dials.warm())
    corpus.warm()
    Await.result(d, Duration.Inf)
  }
  def hasMore: Boolean = true
  def cycle(rec: Recorder): Unit = { corpus.cycle(rec); dials.cycle(rec) }
  def export(out: String, rec: Recorder): Unit = { corpus.export(out, rec); dials.export(out, rec) }
  def layerMetrics(rec: Recorder): Seq[(String, Double)] =
    corpus.layerMetrics(rec) ++ dials.layerMetrics(rec)
}
