package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.GraftExtensions
import graft.operators.{Similarity, TextDedup}

/** Native Catalyst expressions: bit-equivalence with the HOF formulations
  * (both interpreted eval and codegen paths), and SQL registration.
  */
class ExpressionsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array.tabulate(64)(i => math.sin(i + 1).toFloat),
      Array.tabulate(64)(i => math.cos(i * 2 + 1).toFloat)),
    (2L, Array.tabulate(64)(i => (i % 9 - 4).toFloat),
      Array.tabulate(64)(i => (i % 5 - 2).toFloat)),
    (3L, Array(1f, 0f) ++ Array.fill(62)(0f), Array(0f, 1f) ++ Array.fill(62)(0f)))

  test("native cosine is bit-identical to the HOF formulation") {
    val df = vecs.toDF("id", "a", "b")
    val out = df.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      Similarity.cosineHof(col("a"), col("b")).as("hof"))
      .as[(Double, Double)].collect()
    out.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(h))
    }
  }

  test("native minhash is identical to the HOF formulation") {
    val df = Seq(
      (1L, Seq(17L, 123456789L, 4294967295L, 42L)),
      (2L, Seq(0L, 1L)),
      (3L, Seq(999999999L)))
      .toDF("id", "hs")
    val out = df.select(
      TextDedup.minhashSignature("hs", 8).as("native"),
      TextDedup.minhashSignatureHof("hs", 8).as("hof"))
      .as[(Seq[Long], Seq[Long])].collect()
    out.foreach { case (n, h) => assert(n == h) }
  }

  test("native l2sq (double) is bit-identical to the HOF formulation") {
    val df = vecs.toDF("id", "a", "b")
    val out = df.select(
      Similarity.l2sq(col("a"), col("b")).as("native"),
      Similarity.l2sqHof(col("a"), col("b")).as("hof"))
      .as[(Double, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(h))
    }
  }

  test("native l2sqFp (int64) equals the HOF formulation incl. wrap-around") {
    val df = Seq(
      (1L, Seq(0L, 3L, -7L, 123456789012L), Seq(1L, -4L, 7L, -987654321L)),
      (2L, Seq(Long.MaxValue, 1L), Seq(-10L, 1L)), // overflow wraps identically
      (3L, Seq(5L), Seq(5L)))
      .toDF("id", "a", "b")
    val out = df.select(
      graft.operators.Pq.l2sqFp(col("a"), col("b")).as("native"),
      graft.operators.Pq.l2sqFpHof(col("a"), col("b")).as("hof"))
      .as[(Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (n, h) => assert(n == h) }
  }

  test("l2sq natives match the HOF on degenerate inputs: length mismatch and null elements") {
    // zip_with pads the shorter array with nulls and the null product
    // poisons aggregate() — the HOF yields NULL; the natives must too
    // (they are public via GraftExtensions, so the parity claim has to
    // hold off the happy path, not just on equal-length non-null vectors).
    val fp = Seq(
      (1L, Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L, 2L, 3L)), // len mismatch
      (2L, Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L, 2L)),   // null element
      (3L, Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L, 4L)))     // clean
      .toDF("id", "a", "b")
    val outFp = fp.select(col("id"),
      graft.operators.Pq.l2sqFp(col("a"), col("b")).as("native"),
      graft.operators.Pq.l2sqFpHof(col("a"), col("b")).as("hof"))
      .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1)
    outFp.foreach { case (_, n, h) => assert(n == h) }
    assert(outFp.map(_._2).toSeq == Seq(None, None, Some(8L)))
    val dbl = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),
      (2L, Seq[java.lang.Double](null, 2.0), Seq[java.lang.Double](1.0, 2.0)),
      (3L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)))
      .toDF("id", "a", "b")
    val outD = dbl.select(col("id"),
      Similarity.l2sq(col("a"), col("b")).as("native"),
      Similarity.l2sqHof(col("a"), col("b")).as("hof"))
      .as[(Long, Option[Double], Option[Double])].collect().sortBy(_._1)
    outD.foreach { case (_, n, h) => assert(n == h) }
    assert(outD.map(_._2).toSeq == Seq(None, None, Some(8.0)))
  }

  private type Cand = (java.lang.Long, Seq[java.lang.Long])

  test("native argminL2Fp equals the HOF fold: random, exact ties, degenerate inputs") {
    def vec(xs: Long*): Seq[java.lang.Long] = xs.map(java.lang.Long.valueOf)
    val rnd = new scala.util.Random(11)
    def rv(n: Int): Seq[java.lang.Long] = vec(Seq.fill(n)(rnd.nextInt(7) - 3L): _*)
    // random: small coordinates so equal distances (ties) occur often
    val random = (0 until 60).map { r =>
      val ids = rnd.shuffle((0L until 12L).toList).take(1 + rnd.nextInt(8))
      (r.toLong, rv(4), ids.map(i => (java.lang.Long.valueOf(i), rv(4)): Cand): Seq[Cand])
    }
    val dup = vec(5L, -2L, 1L)
    val edge: Seq[(Long, Seq[java.lang.Long], Seq[Cand])] = Seq(
      // exact ties in unsorted order → lowest id
      (100L, vec(1L, 2L, 3L), Seq((9L, dup), (4L, dup), (7L, dup))),
      (101L, vec(0L, 0L, 0L), Seq((3L, vec(1L, 0L, 0L)), (2L, vec(0L, -1L, 0L)))),
      (102L, null, Seq((5L, dup), (3L, dup))),                          // null vector
      (103L, vec(1L, 2L, 3L), Seq((5L, dup), (8L, vec(1L, 2L)))),        // length mismatch
      (104L, vec(1L, 2L, 3L), Seq((5L, dup), (6L, Seq[java.lang.Long](1L, null, 3L)))),  // null element
      (105L, Seq[java.lang.Long](1L, null, 3L), Seq((5L, dup), (2L, dup))), // null in v
      (106L, vec(1L, 2L, 3L), Seq((5L, dup), null, (2L, dup))),          // null entry
      (107L, vec(1L, 2L, 3L), Seq((null, dup), (2L, dup))),              // null id
      (108L, vec(1L, 2L, 3L), Seq.empty),                                // empty array
      (109L, vec(1L, 2L, 3L), null),                                     // null array
      (110L, vec(Long.MaxValue, 0L), Seq((1L, vec(-1L, 0L)), (2L, vec(0L, 0L))))) // wrap
    val df = (random ++ edge).toDF("rid", "v", "cands").withColumn("cands",
      col("cands").cast("array<struct<id: bigint, vec: array<bigint>>>"))
    def both(d: org.apache.spark.sql.DataFrame) = d.select(col("rid"),
      graft.operators.Pq.argminL2Fp(col("v"), col("cands")).as("native"),
      graft.operators.Pq.argminL2FpHof(col("v"), col("cands")).as("hof"))
      .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
    // a local relation evaluates interpreted at optimization time; behind an
    // exchange the projection is whole-stage codegen'd (fallback off, so a
    // codegen compile error fails the test instead of hiding)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val (interp, codegen) =
      try (both(df), both(df.repartition(3)))
      finally spark.conf.unset("spark.sql.codegen.fallback")
    assert(interp.length == random.length + edge.length)
    Seq(interp, codegen).foreach(_.foreach { case (rid, n, h) => assert(n == h, s"row $rid") })
    assert(interp == codegen)
    val byRow = interp.map { case (rid, n, _) => rid -> n }.toMap
    assert(byRow(100L) == Some(4L))
    assert(byRow(102L) == Some(3L)) // all distances NULL → lowest id
    assert(byRow(103L) == Some(8L)) // a NULL distance sorts first and wins
    assert(byRow(104L) == Some(6L))
    assert(byRow(106L).isEmpty)     // a NULL entry is (NULL, NULL)
    assert(byRow(107L).isEmpty)
    assert(byRow(108L) == Some(Long.MaxValue))
    assert(byRow(109L).isEmpty)
    // int ids widen to bigint
    val intIds = Seq((1, Seq(2L, 2L)), (0, Seq(2L, 2L))).toDF("id", "vec")
      .agg(collect_list(struct(col("id"), col("vec"))).as("cands"))
      .select(graft.operators.Pq.argminL2Fp(typedLit(Seq(1L, 1L)), col("cands")))
      .as[Long].head()
    assert(intIds == 0L)
  }

  test("expressions survive both codegen and interpreted paths") {
    // wholestage off forces the interpreted/eval path
    val df = vecs.toDF("id", "a", "b")
    val expected = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect().toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect().toSeq
      assert(interp == expected)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("native min-shingle fingerprint equals the HOF formulation") {
    // incl. supplementary-plane text: Spark substr slices by code points, so
    // the native loop must not shingle by UTF-16 units (surrogate pairs).
    val df = Seq(
      "abcdefghijklmno", "tiny", "a", "zz zz zz zz zz zz",
      "emoji 😀😀 in the 🎉 middle of text", "😀", "🎉🎊🎈🎁🎂🎇🎆✨🎃🎄",
      "mixed ascii 😀 and 汉字 text here").toDF("text")
    val out = df.select(
      graft.functions.Text.minShingleFingerprint(col("text"), 8).as("native"),
      graft.functions.Text.minShingleFingerprintHof(col("text"), 8).as("hof"))
      .as[(String, String)].collect()
    out.foreach { case (n, h) => assert(n == h) }
  }

  test("native word n-grams equal the HOF formulation") {
    // incl. Unicode whitespace (U+2028 LS, U+2000 EN QUAD, U+1680 OGHAM,
    // U+00A0 NBSP): regex \s is ASCII-only, so these are TOKEN chars for the
    // HOF; and a leading tab, which java split turns into an empty first
    // token because trim() strips only ' '.
    val df = Seq(
      "the quick  brown fox", "hi", "", "  spaced   out  ",
      "line separated text here", "en quad gap word",
      "ogham space here now", "nbsp bound word pair",
      "\tlead tab words", "trail tab words\t", " \t mixed \t lead",
      "ab c\fd e\rf").toDF("text")
    val out = df.select(
      graft.functions.Text.wordNgramsFromText(col("text"), 2).as("native"),
      graft.functions.Text.wordNgrams(graft.functions.Text.tokens(col("text")), 2).as("hof"))
      .as[(Seq[String], Seq[String])].collect()
    out.foreach { case (n, h) => assert(n == h) }
  }

  test("native shingle hashes equal the HOF formulation on the real corpus") {
    // corpus-driven parity: every doc of the sf0.001 documents table plus
    // the edge shapes (short docs, repeated tokens exercising the
    // first-occurrence dedup order, blank text where split yields [""])
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text"))
      .unionByName(Seq("a b", "a", "", "x x x x x", "a b a b a b").toDF("text"))
      .withColumn("toks", graft.functions.Text.tokens(col("text")))
    val out = corpus.select(
      TextDedup.shingleHashes("toks", 3).as("native"),
      TextDedup.shingleHashesHof("toks", 3).as("hof"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(out.nonEmpty)
    out.foreach { case (n, h) => assert(n == h) }
  }

  test("simhashAgg matches simhash60 incl. zero-token and null-token docs") {
    val df = Seq(
      (1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "completely different words"), (4L, ""), (5L, "   "),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val toks = "split(trim(text), '\\\\s+')"
    val viaExpr = df.select(col("doc_id"), TextDedup.simhash60(toks).as("simhash"))
      .orderBy("doc_id").as[(Long, Option[Long])].collect().toSeq
    val viaAgg = TextDedup.simhashAgg(df, "doc_id", toks)
      .orderBy("doc_id").as[(Long, Option[Long])].collect().toSeq
    assert(viaAgg == viaExpr)
    // a null token element poisons the fold to 0 in both formulations
    val dfNullTok = Seq(1L).toDF("doc_id")
      .withColumn("toks", expr("array('word', cast(null as string))"))
    val e = dfNullTok.select(TextDedup.simhash60("toks").as("s"))
      .as[Option[Long]].head()
    val a = TextDedup.simhashAgg(dfNullTok, "doc_id", "toks")
      .select("simhash").as[Option[Long]].head()
    assert(e == a)
  }

  test("native simhash60 matches the HOF fold and the agg formulation bit-for-bit") {
    // adversarial corpus: dup docs, empty/whitespace/null text, unicode
    // tokens incl. supplementary-plane chars (md5 hashes UTF-8 bytes in
    // both the expression and SQL md5), long docs
    val df = Seq(
      (1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "completely different words"), (4L, ""), (5L, "   "),
      (6L, null.asInstanceOf[String]),
      (7L, "café naïve 中文 😀emoji"),
      (8L, Seq.tabulate(500)(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val toks = "split(trim(text), '\\\\s+')"
    val viaNative = df.select(col("doc_id"),
      GraftExtensions.simhash60Native(expr(toks)).as("simhash"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val viaExpr = df.select(col("doc_id"), TextDedup.simhash60(toks).as("simhash"))
      .orderBy("doc_id").as[(Long, Option[Long])].collect().toSeq
    val viaAgg = TextDedup.simhashAgg(df, "doc_id", toks)
      .orderBy("doc_id").as[(Long, Option[Long])].collect().toSeq
    assert(viaNative.map { case (id, v) => (id, Some(v)) } == viaExpr)
    assert(viaNative.map { case (id, v) => (id, Some(v)) } == viaAgg)
    // null token element → 0, like the fold's null poisoning
    val nullTok = Seq(1L).toDF("doc_id")
      .withColumn("toks", expr("array('word', cast(null as string))"))
    assert(nullTok.select(GraftExtensions.simhash60Native(col("toks")))
      .as[Long].head() == 0L)
  }

  test("graft_cosine / graft_minhash register as SQL functions") {
    GraftExtensions.functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    vecs.toDF("id", "a", "b").createOrReplaceTempView("vecs_t")
    val viaSql = spark.sql("SELECT graft_cosine(a, b) FROM vecs_t ORDER BY id")
      .as[Double].collect().toSeq
    val viaDsl = vecs.toDF("id", "a", "b").orderBy("id")
      .select(Similarity.cosine(col("a"), col("b"))).as[Double].collect().toSeq
    assert(viaSql == viaDsl)
    val mh = spark.sql("SELECT graft_minhash(array(17L, 42L), 4)").collect()(0).getSeq[Long](0)
    assert(mh.length == 4)
  }

  test("the whole native-expression surface is SQL-callable") {
    GraftExtensions.registerAll(spark)
    // every registered function parses, resolves, and agrees with its
    // DataFrame twin on a concrete value
    val ngrams = spark.sql(
      "SELECT graft_word_ngrams('a b c d', 3)").collect()(0).getSeq[String](0)
    assert(ngrams == Seq("a b c", "b c d"))
    val ms = spark.sql("SELECT graft_min_shingle('a b c d e', 2)").collect()(0)
    val msDsl = Seq("a b c d e").toDF("t")
      .select(graft.expressions.GraftExtensions.minShingleNative(col("t"), 2)).collect()(0)
    assert(ms == msDsl)
    val sh = spark.sql(
      "SELECT graft_simhash60(array('x', 'y'))").collect()(0).getLong(0)
    assert(sh != 0L)
  }
}
