package graft.expressions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftshim.ColumnShim

/** SparkSessionExtensions registration for graft's native expressions, plus
  * Column-level helpers for the DataFrame API.
  *
  * Usage (SQL): `SparkSession.builder.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.expressions.GraftExtensions`, then
  * `SELECT graft_cosine(a, b)`, `SELECT graft_minhash(hashes, 8)`.
  * The DataFrame helpers below need no registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}

object GraftExtensions {

  /** Runtime registration of every graft SQL function on a live session —
    * for sessions built without `withExtensions` (the driver's plain
    * Verify/Bench sessions). Idempotent.
    */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      org.apache.spark.sql.graftshim.DatasetShim
        .registerFunction(spark, ident, info, builder)
    }

  /** The injected function descriptors (also usable directly against a
    * live session's `functionRegistry`).
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (children: Seq[Expression]) => children(1) match {
        case Literal(k: Int, _) => MinHashSignature(children(0), k)
        case other => throw new IllegalArgumentException(
          s"graft_minhash k must be an integer literal, got $other")
      }),
    (FunctionIdentifier("graft_simhash60"),
      new ExpressionInfo(classOf[SimHash60Expr].getName, "graft_simhash60"),
      (children: Seq[Expression]) => SimHash60Expr(children(0))),
    (FunctionIdentifier("graft_word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "graft_word_ngrams"),
      (children: Seq[Expression]) => children(1) match {
        case Literal(n: Int, _) => WordNgrams(children(0), n)
        case other => throw new IllegalArgumentException(
          s"graft_word_ngrams n must be an integer literal, got $other")
      }),
    (FunctionIdentifier("graft_min_shingle"),
      new ExpressionInfo(classOf[MinShingleFingerprint].getName, "graft_min_shingle"),
      (children: Seq[Expression]) => children(1) match {
        case Literal(k: Int, _) => MinShingleFingerprint(children(0), k)
        case other => throw new IllegalArgumentException(
          s"graft_min_shingle k must be an integer literal, got $other")
      }),
    (FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes32].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => children(1) match {
        case Literal(n: Int, _) => ShingleHashes32(children(0), n)
        case other => throw new IllegalArgumentException(
          s"graft_shingle_hashes n must be an integer literal, got $other")
      }))

  /** Native cosine similarity of two array<float> columns. */
  def cosineNative(a: Column, b: Column): Column =
    ColumnShim.column(CosineSimilarity(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Native MinHash signature of an array<bigint> hash column. */
  def minhashNative(hashes: Column, k: Int): Column =
    ColumnShim.column(MinHashSignature(ColumnShim.expression(hashes), k))

  /** Native 60-bit SimHash of an array<string> token column. */
  def simhash60Native(tokens: Column): Column =
    ColumnShim.column(SimHash60Expr(ColumnShim.expression(tokens)))

  /** Native word n-grams of a text column. */
  def wordNgramsNative(text: Column, n: Int): Column =
    ColumnShim.column(WordNgrams(ColumnShim.expression(text), n))

  /** Native min-shingle fingerprint of a text column. */
  def minShingleNative(text: Column, k: Int): Column =
    ColumnShim.column(MinShingleFingerprint(ColumnShim.expression(text), k))

  /** Native distinct n-gram shingle hashes of an array<string> column. */
  def shingleHashesNative(tokens: Column, n: Int): Column =
    ColumnShim.column(ShingleHashes32(ColumnShim.expression(tokens), n))

  /** Native exact int64 squared L2 of two array<bigint> columns. */
  def l2sqFpNative(a: Column, b: Column): Column =
    ColumnShim.column(L2SqFp(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Native nearest-candidate id: `cands` is array<struct<id, vec>>, the
    * result the id of the minimum exact int64 squared L2 (ties → lowest id).
    */
  def argminL2FpNative(v: Column, cands: Column): Column =
    ColumnShim.column(ArgminL2Fp(ColumnShim.expression(v), ColumnShim.expression(cands)))

  /** Native IEEE squared L2 of two array<float|double> columns. */
  def l2sqNative(a: Column, b: Column): Column =
    ColumnShim.column(L2SqDouble(ColumnShim.expression(a), ColumnShim.expression(b)))
}
