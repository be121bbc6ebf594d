package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pq

/** Product quantization (q140–q142): codebook training, encoding, and the
  * ADC scan. Pins the contract points the oracle can't see: the packed
  * layout equals the long form, ADC distance is EXACT when every vector
  * sits on a codeword (so compression error — not the scan — is the only
  * approximation), the >2-iteration truncate path is bit-identical to the
  * lazy plan, and the broadcast-fold assignment ties break toward the
  * lowest codeword id.
  */
class PqSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val M = 2
  private val D = 8 // 2 subspaces × 4 dims

  /** Vectors built from per-subspace prototypes: vector i's subspace s
    * coordinates are prototype (i + s) % 4 — every sub-vector is one of 4
    * distinct codewords, so k=4 training converges immediately and PQ is
    * lossless on this corpus.
    */
  private def protoVec(i: Int): Seq[Float] =
    (0 until M).flatMap { s =>
      val p = (i + s) % 4
      Seq.fill(D / M)(p.toFloat)
    }

  private def corpus(n: Int) =
    (0 until n).map(i => (i.toLong, protoVec(i))).toDF("vec_id", "embedding")

  test("codebooks: m×k codewords, each with d/m dims and positive counts") {
    val cb = Pq.trainCodebooks(corpus(16), "vec_id", "embedding",
      m = M, dimTotal = D, k = 4, iters = 1).collect()
    // 2 subspaces × 4 codewords × 4 dims
    assert(cb.length == M * 4 * (D / M))
    assert(cb.forall(_.getAs[Long]("n") > 0))
    val subs = cb.map(_.getAs[Int]("sub")).toSet
    assert(subs == Set(0, 1))
  }

  test("lossless corpus: every vector's reconstruction is exact, ADC == exact distance") {
    val df = corpus(16)
    val cb = Pq.localized(Pq.trainCodebooks(df, "vec_id", "embedding", M, D, 4, iters = 2))
    val codes = Pq.encode(df, "vec_id", "embedding", cb, M, D)
    // every vector has exactly m codes
    val perId = codes.groupBy("vec_id").count().collect()
    assert(perId.length == 16 && perId.forall(_.getAs[Long]("count") == M))
    // ADC top-1 for probe = vector 5 must be distance 0 at vector 5's
    // codes' positions: vectors with the same (i % 4) share all prototypes
    val probeSv = Pq.subVectorsFp(df.filter(col("vec_id") === 5),
      "vec_id", "embedding", M, D).select("sub", "v")
    val top = Pq.adcTopK(codes, "vec_id", cb, probeSv, 4).collect()
    val zeroIds = top.filter(_.getAs[Long]("adc_d") == 0L).map(_.getLong(0)).toSet
    assert(zeroIds == Set(1L, 5L, 9L, 13L)) // i ≡ 5 ≡ 1 (mod 4)
  }

  test("packed codes equal the long form") {
    val df = corpus(12)
    val cb = Pq.localized(Pq.trainCodebooks(df, "vec_id", "embedding", M, D, 4, 1))
    val codes = Pq.encode(df, "vec_id", "embedding", cb, M, D)
    val packed = Pq.encodePacked(codes, "vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val long = codes.collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.sortBy(_.getAs[Int]("sub")).map(_.getAs[Long]("code")).toSeq }
    assert(packed == long)
  }

  test("truncate path (iters=3) is bit-identical to one more lazy round") {
    // On the lossless corpus training is at a fixed point after round 1,
    // so rounds 2 and 3 must reproduce the same codebook exactly —
    // including through the collect-and-rebuild lineage truncation.
    val df = corpus(16)
    def cbRows(iters: Int) =
      Pq.trainCodebooks(df, "vec_id", "embedding", M, D, 4, iters)
        .collect().map(r => (r.getAs[Int]("sub"), r.getAs[Long]("cid"),
          r.getAs[Int]("dim"), r.getAs[Long]("c_fp"), r.getAs[Long]("n"))).toSet
    assert(cbRows(2) == cbRows(3))
  }

  test("assignment ties break toward the lowest codeword id") {
    // Two identical seed vectors → two identical codewords; every
    // assignment must pick cid 0, so codeword 1 empties out and drops.
    val df = Seq(
      (0L, Seq.fill(D)(1.0f)), (1L, Seq.fill(D)(1.0f)), (2L, Seq.fill(D)(1.0f)))
      .toDF("vec_id", "embedding")
    val cb = Pq.trainCodebooks(df, "vec_id", "embedding", M, D, k = 2, iters = 1)
    val cids = cb.select("cid").distinct().as[Long].collect().toSet
    assert(cids == Set(0L))
  }

  test("encoding against a codebook missing a subspace ERRORS, never silently drops") {
    // The assignment join is LEFT + raise_error: an inner join would
    // silently drop every sub-vector of the uncovered subspace (empty-seed
    // misuse would yield a truncated "encoding" with no sign of trouble).
    val df = corpus(8)
    val cb = Pq.trainCodebooks(df, "vec_id", "embedding", M, D, k = 4, iters = 1)
    val partial = cb.filter(col("sub") === 0) // subspace 1 has no codewords
    val ex = intercept[Exception] {
      Pq.encode(df, "vec_id", "embedding", partial, M, D).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("no codewords for subspace")))
    // and the full codebook still encodes every (vector, subspace) pair
    assert(Pq.encode(df, "vec_id", "embedding", cb, M, D).count() == 8L * M)
  }

  /** A corpus of seeded random vectors: codes and shortlists vary, so the
    * multi-budget comparisons below are not trivially equal.
    */
  private def randomCorpus(n: Int) = {
    val rnd = new scala.util.Random(5)
    (0 until n).map(i => (i.toLong, Seq.fill(D)(rnd.nextInt(9) - 4f + rnd.nextFloat())))
      .toDF("vec_id", "embedding")
  }

  private val Budgets = Seq((2, 4), (4, 3), (8, 2)) // (m, k)

  test("multi-budget training and encode equal per-budget trainCodebooks / encode, row for row") {
    val df = randomCorpus(40)
    val sv = Pq.subVectorsFpMulti(fpOf(df), "vec_id", Budgets.map(_._1), D)
    for (iters <- Seq(1, 2)) {
      val cb = Pq.trainCodebooksMulti(sv, "vec_id", Budgets.map(_._2), iters)
      val codes = Pq.encodeSv(sv, cb).collect()
        .map(r => (r.getAs[Int]("sub"), r.getAs[Long]("vec_id"), r.getAs[Long]("code")))
      val cbRows = cb.collect().map(r => (r.getAs[Int]("sub"), r.getAs[Long]("cid"),
        r.getAs[Int]("dim"), r.getAs[Long]("c_fp"), r.getAs[Long]("n")))
      Budgets.zipWithIndex.foreach { case ((m, k), i) =>
        val base = i * Pq.CfgStride
        val single = Pq.localized(Pq.trainCodebooks(df, "vec_id", "embedding", m, D, k, iters))
        assert(cbRows.filter(r => r._1 / Pq.CfgStride == i)
          .map(r => r.copy(_1 = r._1 - base)).toSet ==
          single.collect().map(r => (r.getAs[Int]("sub"), r.getAs[Long]("cid"),
            r.getAs[Int]("dim"), r.getAs[Long]("c_fp"), r.getAs[Long]("n"))).toSet,
          s"codebooks m=$m k=$k iters=$iters")
        val got = codes.filter(_._1 / Pq.CfgStride == i).map { case (s, id, c) => (s - base, id, c) }
        val want = Pq.encode(df, "vec_id", "embedding", single, m, D).collect()
          .map(r => (r.getAs[Int]("sub"), r.getAs[Long]("vec_id"), r.getAs[Long]("code")))
        assert(got.sorted.toSeq == want.sorted.toSeq, s"codes m=$m k=$k iters=$iters")
        assert(got.length == 40 * m)
      }
    }
  }

  test("multi-budget per-probe ADC top-k equals per-budget adcTopKPerProbe, row for row") {
    val df = randomCorpus(40)
    val sv = Pq.subVectorsFpMulti(fpOf(df), "vec_id", Budgets.map(_._1), D)
    val cb = Pq.trainCodebooksMulti(sv, "vec_id", Budgets.map(_._2), iters = 1)
    val isProbe = col("vec_id") % 7 === 0
    val multi = Pq.adcTopKPerProbeMulti(Pq.encodeSv(sv, cb), "vec_id", cb,
      sv.filter(isProbe).withColumnRenamed("vec_id", "probe_id"), 6).collect()
      .map(r => (r.getAs[Int]("cfg"), r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("adc_d")))
    Budgets.zipWithIndex.foreach { case ((m, k), i) =>
      val single = Pq.localized(Pq.trainCodebooks(df, "vec_id", "embedding", m, D, k, 1))
      val probesSv = Pq.subVectorsFp(
        df.filter(isProbe).select(col("vec_id").as("probe_id"), col("embedding")),
        "probe_id", "embedding", m, D)
      val want = Pq.adcTopKPerProbe(Pq.encode(df, "vec_id", "embedding", single, m, D),
        "vec_id", single, probesSv, 6).collect()
        .map(r => (i, r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"), r.getAs[Long]("adc_d")))
      assert(multi.filter(_._1 == i).sorted.toSeq == want.sorted.toSeq, s"m=$m k=$k")
      assert(want.length == 6 * 6) // probes 0, 7, …, 35
    }
  }

  private def fpOf(df: org.apache.spark.sql.DataFrame) =
    df.select(col("vec_id"),
      transform(col("embedding"), x => floor(x.cast("double") * 1e7).cast("long")).as("v"))

  test("residuals: a vector sitting on its centroid has an all-zero residual") {
    val df = corpus(8)
    val fp = fpOf(df)
    val cents = fp.filter(col("vec_id") < 2)
      .select(col("vec_id").cast("long").as("ccid"), col("v").as("c"))
    val rsv = Pq.residualSubVectors(
      Pq.coarseAssignFp(fp, "vec_id", cents), "vec_id", cents, M, D)
    // vectors 0 and 1 are the centroids themselves → zero residuals
    val zeros = rsv.filter(col("vec_id") < 2)
      .select(explode(col("v")).as("x")).filter(col("x") =!= 0L).count()
    assert(zeros == 0L)
  }

  test("residual ADC with a single origin centroid equals plain ADC") {
    // One centroid at the origin → every residual IS the vector, so the
    // residual pipeline must reproduce plain PQ bit-for-bit.
    val df = corpus(16)
    val fp = fpOf(df)
    val origin = Seq(Tuple2(0L, Seq.fill(D)(0L))).toDF("ccid", "c")
    val assigned = Pq.coarseAssignFp(fp, "vec_id", origin)
    val rsv = Pq.residualSubVectors(assigned, "vec_id", origin, M, D)
    val cbR = Pq.localized(Pq.trainCodebooksSv(
      rsv.select(col("vec_id"), col("sub"), col("v")), "vec_id", 4, 1))
    val cbP = Pq.localized(Pq.trainCodebooks(df, "vec_id", "embedding", M, D, 4, 1))
    assert(cbR.collect().map(_.toString).sorted
      .sameElements(cbP.collect().map(_.toString).sorted))
    val codesR = Pq.encodeSv(rsv.filter(col("vec_id") =!= 5), cbR)
      .select("vec_id", "ccid", "sub", "code")
    val prR = Pq.residualSubVectors(
      origin.select("ccid").crossJoin(fp.filter(col("vec_id") === 5)),
      "vec_id", origin, M, D).select("ccid", "sub", "v")
    val topR = Pq.adcTopKResidual(codesR, "vec_id", cbR, prR, 5).collect()
    val codesP = Pq.encode(df.filter(col("vec_id") =!= 5), "vec_id", "embedding", cbP, M, D)
    val probeSv = Pq.subVectorsFp(df.filter(col("vec_id") === 5),
      "vec_id", "embedding", M, D).select("sub", "v")
    val topP = Pq.adcTopK(codesP, "vec_id", cbP, probeSv, 5).collect()
    assert(topR.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      topP.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("residual ADC prunes: vectors in non-probed buckets never surface") {
    val df = corpus(16)
    val fp = fpOf(df)
    val cents = fp.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("long").as("ccid"), col("v").as("c"))
    val assigned = Pq.coarseAssignFp(fp, "vec_id", cents)
    val rsv = Pq.residualSubVectors(assigned, "vec_id", cents, M, D)
    val cb = Pq.localized(Pq.trainCodebooksSv(
      rsv.select(col("vec_id"), col("sub"), col("v")), "vec_id", 4, 1))
    val codes = Pq.encodeSv(rsv.filter(col("vec_id") =!= 0), cb)
      .select("vec_id", "ccid", "sub", "code")
    // probe = vector 0, probed buckets = its own bucket ONLY (nProbe=1)
    val pb = Pq.coarseAssignFp(fp.filter(col("vec_id") === 0), "vec_id", cents)
      .select("ccid")
    val pr = Pq.residualSubVectors(
      pb.crossJoin(fp.filter(col("vec_id") === 0)), "vec_id", cents, M, D)
      .select("ccid", "sub", "v")
    val got = Pq.adcTopKResidual(codes, "vec_id", cb, pr, 100)
      .select("vec_id").as[Long].collect().toSet
    val inBucket = assigned.join(pb.withColumnRenamed("ccid", "pc"),
      col("ccid") === col("pc")).filter(col("vec_id") =!= 0)
      .select("vec_id").as[Long].collect().toSet
    assert(got == inBucket && got.nonEmpty)
  }

  test("multi-probe ADC agrees with per-probe single ADC") {
    val df = corpus(16)
    val cb = Pq.localized(Pq.trainCodebooks(df, "vec_id", "embedding", M, D, 4, 1))
    val codes = Pq.encode(df, "vec_id", "embedding", cb, M, D)
    val probesSv = Pq.subVectorsFp(
      df.filter(col("vec_id").isin(3L, 7L))
        .select(col("vec_id").as("probe_id"), col("embedding")),
      "probe_id", "embedding", M, D)
    val multi = Pq.adcTopKPerProbe(codes, "vec_id", cb, probesSv, 5).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"), r.getAs[Long]("adc_d")))
      .toSet
    val single = Seq(3L, 7L).flatMap { p =>
      val psv = Pq.subVectorsFp(df.filter(col("vec_id") === p),
        "vec_id", "embedding", M, D).select("sub", "v")
      Pq.adcTopK(codes.filter(col("vec_id") =!= p), "vec_id", cb, psv, 5).collect()
        .map(r => (p, r.getAs[Long]("vec_id"), r.getAs[Long]("adc_d")))
    }.toSet
    assert(multi == single)
  }

  test("rerank with a full shortlist equals the exact brute-force top-k") {
    // perturb the prototypes so PQ is lossy (ADC ordering can err) — with
    // R covering the whole corpus the re-rank must still return the exact
    // top-k, whatever the ADC scan thought.
    val df = corpus(32).select(col("vec_id"),
      transform(col("embedding"),
        (x, i) => x + (col("vec_id") % 7).cast("float") * lit(0.001f) * (i + 1))
        .as("embedding"))
    val cb = Pq.localized(Pq.trainCodebooks(df, "vec_id", "embedding", M, D, 4, 1))
    val codes = Pq.encode(df.filter(col("vec_id") =!= 0), "vec_id", "embedding", cb, M, D)
    val probeSv = Pq.subVectorsFp(df.filter(col("vec_id") === 0),
      "vec_id", "embedding", M, D).select("sub", "v")
    val fpv = transform(col("embedding"), x => floor(x.cast("double") * 1e7).cast("long"))
    val corpusFp = df.filter(col("vec_id") =!= 0).select(col("vec_id"), fpv.as("v"))
    val probeFp = df.filter(col("vec_id") === 0).select(fpv.as("v"))
    val got = Pq.adcRerank(codes, "vec_id", cb, probeSv, corpusFp, probeFp,
      shortlistR = 31, kTop = 5).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("exact_d"))).toSeq
    val want = corpusFp.crossJoin(broadcast(probeFp.select(col("v").as("__pv"))))
      .withColumn("exact_d", Pq.l2sqFp(col("v"), col("__pv")))
      .orderBy(col("exact_d").asc, col("vec_id").asc).limit(5).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("exact_d"))).toSeq
    assert(got == want)
  }

  test("rerank reorders the ADC shortlist by exact distance, same id set") {
    val df = corpus(32)
    val cb = Pq.localized(Pq.trainCodebooks(df, "vec_id", "embedding", M, D, 4, 1))
    val codes = Pq.encode(df.filter(col("vec_id") =!= 0), "vec_id", "embedding", cb, M, D)
    val probeSv = Pq.subVectorsFp(df.filter(col("vec_id") === 0),
      "vec_id", "embedding", M, D).select("sub", "v")
    val fpv = transform(col("embedding"), x => floor(x.cast("double") * 1e7).cast("long"))
    val corpusFp = df.filter(col("vec_id") =!= 0).select(col("vec_id"), fpv.as("v"))
    val probeFp = df.filter(col("vec_id") === 0).select(fpv.as("v"))
    val shortlist = Pq.adcTopK(codes, "vec_id", cb, probeSv, 8)
      .select("vec_id").as[Long].collect().toSet
    val rr = Pq.adcRerank(codes, "vec_id", cb, probeSv, corpusFp, probeFp,
      shortlistR = 8, kTop = 8).collect()
    assert(rr.map(_.getAs[Long]("vec_id")).toSet == shortlist)
    val ds = rr.map(r => (r.getAs[Long]("exact_d"), r.getAs[Long]("vec_id"))).toSeq
    assert(ds == ds.sorted, "re-rank output must be ordered by exact distance")
  }

  test("rerank plan: the shortlist prunes the full-vector side via a broadcast join") {
    val df = corpus(32)
    val cb = Pq.localized(Pq.trainCodebooks(df, "vec_id", "embedding", M, D, 4, 1))
    val codes = Pq.encode(df.filter(col("vec_id") =!= 0), "vec_id", "embedding", cb, M, D)
    val probeSv = Pq.subVectorsFp(df.filter(col("vec_id") === 0),
      "vec_id", "embedding", M, D).select("sub", "v")
    val fpv = transform(col("embedding"), x => floor(x.cast("double") * 1e7).cast("long"))
    val plan = Pq.adcRerank(codes, "vec_id", cb, probeSv,
      df.filter(col("vec_id") =!= 0).select(col("vec_id"), fpv.as("v")),
      df.filter(col("vec_id") === 0).select(fpv.as("v")),
      shortlistR = 8, kTop = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast shortlist join in:\n$plan")
  }

  test("adc scan plan: lookup table is broadcast, no corpus-side exchange before the sum") {
    val df = corpus(64)
    val cb = Pq.localized(Pq.trainCodebooks(df, "vec_id", "embedding", M, D, 4, 1))
    val codes = Pq.encode(df, "vec_id", "embedding", cb, M, D)
    val probeSv = Pq.subVectorsFp(df.filter(col("vec_id") === 0),
      "vec_id", "embedding", M, D).select("sub", "v")
    val plan = Pq.adcTopK(codes, "vec_id", cb, probeSv, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast join in:\n$plan")
  }
}
