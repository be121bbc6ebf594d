package graft.perfbench

import graft.functions.Text
import graft.operators.{QualitySignals, TextDedup}
import graft.sources.Stage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Trace.span

/** The LLM release job: exact dedup, shingle hashes, MinHash-LSH pairs,
  * exact prefix-filter pairs at the same threshold, star connected
  * components over the LSH pairs, drop of non-canonical documents, and the
  * quality funnel. Every step is materialized (`Stage.through`) before the
  * next, in traced and untraced runs alike. One cycle = one job.
  */
final class CorpusDedup(spark: SparkSession, in: String, work: String, out: String) extends Workload {
  private var docs: DataFrame = null
  private var nDocs = 0L
  private var firstDigest: Option[Long] = None
  private var ccRounds = Seq.empty[Double]

  import CorpusDedup.Out

  def prepare(): Unit = {
    val staged = s"$work/corpus/docs"
    spark.read.parquet(s"$in/documents.parquet").select("doc_id", "text")
      .write.mode("overwrite").parquet(staged)
    docs = spark.read.parquet(staged)
    nDocs = docs.count()
  }

  def warm(): Unit = job()

  def hasMore: Boolean = true

  private def job(): Out = {
    val exact = span("textdedup.exact") {
      Stage.through(TextDedup.exactCanonical(docs, "doc_id", "text")
        .select("doc_id", "text", "canonical_id", "is_dup"))
    }
    val shingles = span("textdedup.shingle") {
      Stage.through(exact.filter(!col("is_dup"))
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"), TextDedup.shingleHashes("toks", 3).as("shash")))
    }
    val lsh = span("textdedup.lsh") {
      Stage.through(TextDedup.minhashLshPairs(shingles, "doc_id", "shash",
        k = 8, bandRows = 2, threshold = 0.5).select("doc_a", "doc_b"))
    }
    val prefix = span("textdedup.prefix") {
      Stage.through(TextDedup.prefixFilterJaccardPairs(shingles, "doc_id", "shash", 1, 2))
    }
    val labels = span("textdedup.cc") {
      val (l, rounds) = TextDedup.connectedComponentsStarWithRounds(lsh, "doc_a", "doc_b")
      if (Trace.enabled) ccRounds :+= rounds.toDouble
      Stage.through(l)
    }
    val kept = span("dedup.apply") {
      Stage.through(exact.filter(!col("is_dup")).join(labels, Seq("doc_id"), "left")
        .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
        .select("doc_id", "text"))
    }
    val flags = span("quality.funnel") { Stage.through(QualitySignals.funnelFlags(kept)) }
    Out(exact, shingles, lsh, prefix, labels, kept, flags)
  }

  /** Order-independent digest of the job's decisions. */
  private def digest(o: Out): Long = {
    def h(df: DataFrame): Long = {
      val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col).toIndexedSeq: _*))).head()
      r.getLong(0) * 31 + (if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    Seq(o.labels, o.kept.select("doc_id"), o.flags).map(h).reduce(_ * 131 + _)
  }

  def cycle(rec: Recorder): Unit = {
    rec.op("job")(job()).foreach { o =>
      rec.items += nDocs
      // the same inputs must give the same decisions every time; the
      // last job's outputs go to the correctness gate
      val d = digest(o)
      if (firstDigest.exists(_ != d)) {
        rec.failed += 1
        rec.errors += "job: output changed between cycles"
      }
      firstDigest = Some(d)
      save(o)
    }
    Main.hygiene(spark)
  }

  private def save(o: Out): Unit = {
    def put(df: DataFrame, name: String) = df.write.mode("overwrite").parquet(s"$out/$name")
    put(o.exact.select("doc_id", "canonical_id", "is_dup"), "exact")
    put(o.shingles, "shingles")
    put(o.lsh, "lsh")
    put(o.prefix.select("doc_a", "doc_b"), "prefix")
    put(o.labels, "labels")
    put(o.kept.select("doc_id"), "kept")
    put(o.flags, "flags")
  }

  def export(out: String, rec: Recorder): Unit = {
    rec.fact("docs", nDocs)
    if (Trace.spans.nonEmpty) {
      // useful outcomes of LSH: the exact pairs it found, over all exact pairs
      val exactPairs = spark.read.parquet(s"$out/prefix")
      val hit = exactPairs.join(spark.read.parquet(s"$out/lsh"), Seq("doc_a", "doc_b")).count()
      recall = hit.toDouble / math.max(1L, exactPairs.count())
    }
  }

  private var recall = Double.NaN

  def layerMetrics(rec: Recorder): Seq[(String, Double)] = Seq(
    "textdedup.exact_ms" -> Spans.selfMs("textdedup.exact"),
    "textdedup.lsh_ms" -> Spans.selfMs("textdedup.lsh"),
    "textdedup.prefix_ms" -> Spans.selfMs("textdedup.prefix"),
    "textdedup.cc_ms" -> Spans.selfMs("textdedup.cc"),
    "textdedup.cc_rounds" -> Main.median(ccRounds),
    "textdedup.cc_jobs" -> Spans.firstCycle("textdedup.cc", "jobs"),
    "textdedup.lsh_recall" -> recall,
    "quality.funnel_ms" -> Spans.selfMs("quality.funnel"),
  )
}

object CorpusDedup {
  /** The job's staged outputs, in step order. */
  final case class Out(exact: DataFrame, shingles: DataFrame, lsh: DataFrame,
      prefix: DataFrame, labels: DataFrame, kept: DataFrame, flags: DataFrame)
}
