package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid 2011, "Product Quantization
  * for Nearest Neighbor Search", IEEE TPAMI 33(1)) — the canonical
  * billion-scale ANN compression: split each d-dim vector into `m`
  * subspaces of d/m dims, learn a small codebook (k codewords) per
  * subspace with Lloyd iterations, and store each vector as `m` small
  * codes. A query is answered by Asymmetric Distance Computation (ADC):
  * one k×m lookup table of exact subspace distances from the query to
  * every codeword, then each database vector's distance is the sum of m
  * table lookups — the scan never touches the original vectors.
  *
  * Scale shape (100 TB of embeddings): the corpus side of the ADC scan
  * carries ONLY (id, sub, code) — m·log2(k) bits per vector instead of
  * 4·d bytes (for d=64, m=4, k=8: 12 bits vs 256 bytes, ~170×) — and the
  * lookup table is k×m rows broadcast to every task, so the scan is one
  * map-side broadcast-hash join + a map-side-combined sum per id: no
  * shuffle of anything proportional to the corpus but the final top-k
  * (TakeOrderedAndProject). Codebook training touches the full corpus
  * once per Lloyd round with the [[Similarity.kmeansFp]] broadcast-fold
  * assignment (zero data-side shuffle; the update's shuffle carries
  * m·k·(d/m) accumulators). Composes with the IVF layout
  * ([[Similarity.ivfAssign]] + `upsertPartitionedBy`): IVF prunes which
  * partitions to scan, PQ makes the scan itself ~200× lighter — IVF-PQ.
  *
  * Determinism (the oracle gate): everything runs in the
  * [[Similarity.kmeansFp]] fixed-point discipline — embeddings quantize
  * to scale-1e7 int64 once (exact in double), subspace distances are pure
  * int64 sums of squared diffs, centroid updates are floor(sum/count) via
  * one IEEE division of exact integers, and ADC distances are exact int64
  * sums — so training, encoding, and the ADC scan all hash-match a SQL
  * replay bit-for-bit.
  */
object Pq {

  /** Exact int64 squared L2 between two bigint-array columns — native
    * codegen'd ([[graft.expressions.L2SqFp]]); [[l2sqFpHof]] is the
    * SQL-function formulation it is bit-parity spec-pinned against.
    */
  def l2sqFp(a: Column, b: Column): Column =
    graft.expressions.GraftExtensions.l2sqFpNative(a, b)

  /** HOF formulation of [[l2sqFp]] (interpreted; spec/bit-parity use). */
  def l2sqFpHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** Id of the nearest `struct(id, vec)` in `cands` to `v` by exact int64
    * squared L2, ties → the lowest id — native codegen'd
    * ([[graft.expressions.ArgminL2Fp]]); [[argminL2FpHof]] is the
    * broadcast-fold formulation it is spec-pinned against.
    */
  def argminL2Fp(v: Column, cands: Column): Column =
    graft.expressions.GraftExtensions.argminL2FpNative(v, cands)

  /** HOF formulation of [[argminL2Fp]] over candidates whose fields are
    * named `id` and `vec`: fold (distance, id) structs lexicographically
    * (interpreted; spec/parity use).
    */
  def argminL2FpHof(v: Column, cands: Column): Column = {
    val scored = transform(cands, c =>
      struct(l2sqFp(v, c.getField("vec")).as("d"), c.getField("id").as("id")))
    aggregate(scored,
      struct(lit(Long.MaxValue).as("d"), lit(Long.MaxValue).as("id")),
      (acc, x) => when(x < acc, x).otherwise(acc)).getField("id")
  }

  /** Fixed-point sub-vector table: one row per (id, subspace) with the
    * subspace's d/m coordinates as int64 `v`. `dim` must be divisible by
    * `m`. The explode multiplies row count by m but each row shrinks by
    * the same factor — total bytes unchanged, and the explode is
    * map-side (no shuffle).
    */
  def subVectorsFp(
      df: DataFrame,
      idCol: String,
      embCol: String,
      m: Int,
      dim: Int,
      scale: Double = 1e7): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim not divisible by m $m")
    val d = dim / m
    val fp = transform(col(embCol), x => floor(x.cast("double") * scale).cast("long"))
    df.select(col(idCol), fp.as("__v"))
      .select(col(idCol),
        explode(transform(sequence(lit(0), lit(m - 1)), s =>
          struct(s.cast("int").as("sub"),
            slice(col("__v"), s * d + 1, lit(d)).as("v")))).as("__sv"))
      .select(col(idCol), col("__sv.sub").as("sub"), col("__sv.v").as("v"))
  }

  /** Per-subspace fixed-point Lloyd training — [[Similarity.kmeansFp]]
    * with `sub` as an extra grouping key so all m codebooks train in ONE
    * pass over the data per round (not m separate jobs). Init: subspace
    * s's codewords are the sub-vectors of the first k ids (deterministic
    * stand-in for k-means++). Assignment is the broadcast-fold argmin
    * restricted to the row's own subspace (the full m·k codebook is one
    * broadcast row); the update shuffles only m·k·(d/m) = k·d
    * accumulators. Codewords that empty out drop (oracle-identical).
    *
    * Lineage control mirrors [[Similarity.kmeansFp]]: `iters <= 2` stays
    * one lazy plan (the oracle-gated configuration); beyond that the
    * fixed-point frame persists once and each round's m·k·(d/m) codebook
    * rows rebuild from a driver-side collect (exact int64 values, so the
    * rebuild is bit-identical to the lazy plan).
    *
    * Output: long-form codebooks (sub, cid, dim, c_fp, n) with `dim`
    * 1-based within the subspace.
    */
  def trainCodebooks(
      df: DataFrame,
      idCol: String,
      embCol: String,
      m: Int,
      dimTotal: Int,
      k: Int,
      iters: Int,
      scale: Double = 1e7): DataFrame =
    trainCodebooksSv(subVectorsFp(df, idCol, embCol, m, dimTotal, scale), idCol, k, iters)

  /** Training entry point on a prepared (id, sub, v) sub-vector table —
    * what [[trainCodebooks]] calls after [[subVectorsFp]], and what
    * residual PQ ([[residualSubVectors]]) feeds directly.
    */
  def trainCodebooksSv(
      svPlan: DataFrame,
      idCol: String,
      k: Int,
      iters: Int): DataFrame = {
    require(iters >= 1 && k >= 1)
    lloydRounds(svPlan,
      svPlan.filter(col(idCol) < k)
        .select(col("sub"), col(idCol).cast("long").as("cid"), col("v").as("c")),
      iters).orderBy("sub", "cid", "dim")
  }

  /** The shared Lloyd loop: `seeds` is the initial (sub, cid, c) codebook
    * table; everything else is [[trainCodebooksSv]]'s contract, except
    * that the long-form rows come back unordered.
    */
  private def lloydRounds(
      svPlan: DataFrame,
      seeds: DataFrame,
      iters: Int): DataFrame = {
    val truncate = iters > 2
    val df = svPlan
    val sv = if (truncate)
      svPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else svPlan
    var cents = seeds
    var out: DataFrame = null
    for (_ <- 1 to iters) {
      val assigned = assignCodes(sv, cents)
      val sums = assigned
        .select(col("sub"), col("code").as("cid"), posexplode(col("v")).as(Seq("__p", "__x")))
        .groupBy(col("sub"), col("cid"), (col("__p") + 1).as("dim"))
        .agg(sum(col("__x")).as("__s"), count(lit(1)).as("n"))
        .select(col("sub"), col("cid"), col("dim"),
          floor(col("__s").cast("double") / col("n")).cast("long").as("c_fp"), col("n"))
      out = if (truncate) {
        import scala.jdk.CollectionConverters._
        df.sparkSession.createDataFrame(sums.collect().toSeq.asJava, sums.schema)
      } else sums
      cents = out.groupBy("sub", "cid").agg(
        transform(array_sort(collect_list(struct(col("dim"), col("c_fp")))),
          s => s.getField("c_fp")).as("c"))
    }
    // `out` is local-backed in the truncated path, so the persisted
    // sub-vectors can be released now
    if (truncate) sv.unpersist(blocking = false)
    out
  }

  /** Nearest-codeword assignment for a sub-vector table against list-form
    * codebooks (sub, cid, c) — the broadcast-fold shape: the whole m·k
    * codebook collapses to one broadcast row per subspace; each row takes
    * the [[argminL2Fp]] of its own subspace's codewords (min distance,
    * ties → min codeword id). Zero shuffle of the data side. Output: input
    * columns + `code`.
    */
  private def assignCodes(sv: DataFrame, cents: DataFrame): DataFrame = {
    // One broadcast row PER SUBSPACE (hash-joined on `sub`, codegen'd)
    // rather than one global codebook array per row: the former per-row
    // `filter(__cb, sub match)` scanned all m·k entries for every
    // sub-vector before the k-entry argmin; the join hands each row only
    // its own subspace's k codewords. Still zero shuffle of the data side.
    val bySub = codewordsBySub(cents)
    // LEFT join + in-plan raise_error, not an inner join: an inner join
    // would silently DROP every sub-vector whose subspace has no codeword
    // (empty-seed misuse would yield an empty "encoding" instead of an
    // error). The check rides the codegen'd projection — no extra pass.
    val cw = when(col("__cw").isNull, raise_error(concat(
      lit("graft.Pq.assignCodes: codebook has no codewords for subspace "),
      col("sub").cast("string")))).otherwise(col("__cw"))
    sv.join(broadcast(bySub), Seq("sub"), "left")
      .withColumn("code", argminL2Fp(col("v"), cw))
      .drop("__cw")
  }

  /** One row per subspace: (sub, __cw = its codewords as a sorted
    * array<struct<cid, c>>) from list-form codebooks — the broadcast row
    * both [[assignCodes]] and the per-probe lookup tables read, so a plan
    * that does both over one in-plan codebook broadcasts it once.
    */
  private def codewordsBySub(cents: DataFrame): DataFrame =
    cents.groupBy("sub").agg(
      sort_array(collect_list(struct(col("cid"), col("c")))).as("__cw"))

  /** Collect the codebook (m·k·(d/m) rows — broadcast-small by contract,
    * same as [[Similarity.kmeansFp]]'s truncate path) and rebuild it as a
    * local-backed frame, so a query that consumes ONE codebook set twice
    * (encode + ADC lookup table) pays the training pass over the corpus
    * once instead of inlining it into both consumers. Values are exact
    * int64 / floor-division results, so the rebuild is bit-identical to the
    * lazy plan. The code-budget dials (q145/q152) do not localize: their
    * training stays in the plan ([[trainCodebooksMulti]]) and the two
    * consumers share its exchanges.
    */
  def localized(codebooks: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    codebooks.sparkSession.createDataFrame(
      codebooks.collect().toSeq.asJava, codebooks.schema)
  }

  /** `sub` stride of a multi-budget sub-vector table: budget i's subspaces
    * occupy [i·CfgStride, i·CfgStride + m_i), so `sub` is globally unique
    * and every per-subspace operator (training, assignment, lookup tables)
    * keeps budgets apart without a budget column.
    */
  val CfgStride = 64

  /** The budget index of a multi-budget `sub`. */
  private def cfgOf(sub: Column): Column = (sub / CfgStride).cast("int")

  /** Every budget's sub-vectors from ONE projection of a fixed-point
    * (id, v) table: budget i splits `v` into `ms(i)` subspaces, tagged
    * `sub = i·CfgStride + j` ([[subVectorsFp]]'s rows, shifted). One
    * explode of a literal (sub, start, len) list — a map-side projection,
    * however many budgets. Output: (id, sub, v).
    */
  def subVectorsFpMulti(
      fp: DataFrame,
      idCol: String,
      ms: Seq[Int],
      dimTotal: Int): DataFrame = {
    require(ms.nonEmpty && ms.forall(m => m >= 1 && m <= CfgStride && dimTotal % m == 0),
      s"every budget needs 1 <= m <= $CfgStride dividing $dimTotal: $ms")
    val parts = for ((m, i) <- ms.zipWithIndex; j <- 0 until m) yield
      struct(lit(i * CfgStride + j).as("sub"),
        lit(j * (dimTotal / m) + 1).as("start"), lit(dimTotal / m).as("len"))
    fp.select(col(idCol), col("v").as("__v"), explode(array(parts: _*)).as("__p"))
      .select(col(idCol), col("__p.sub").as("sub"),
        slice(col("__v"), col("__p.start"), col("__p.len")).as("v"))
  }

  /** Train every budget of a [[subVectorsFpMulti]] table in ONE Lloyd pass,
    * in the plan: budget i's seeds are its first `ks(i)` ids, and the
    * globally unique `sub` keeps each row's argmin and each update inside
    * its own (budget, subspace) — bit-identical to per-budget
    * [[trainCodebooksSv]]. Output: long-form codebooks (sub, cid, dim,
    * c_fp, n) with the global `sub`, unordered (consumers group it).
    */
  def trainCodebooksMulti(
      sv: DataFrame,
      idCol: String,
      ks: Seq[Int],
      iters: Int): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1) && iters >= 1)
    val kOf = element_at(typedLit(ks), cfgOf(col("sub")) + 1)
    lloydRounds(sv,
      sv.filter(col(idCol) < kOf)
        .select(col("sub"), col(idCol).cast("long").as("cid"), col("v").as("c")),
      iters)
  }

  /** Per-budget, localized view of [[trainCodebooksMulti]] for callers that
    * consume one (m, k) codebook set at a time: ONE fused training pass,
    * ONE driver collect, then each budget's rows with `sub` shifted back to
    * [0, m). The code-budget dials do not use it — they encode and score
    * every budget in one plan over the global `sub`
    * ([[adcTopKPerProbeMulti]]).
    */
  def trainCodebooksMultiLocalized(
      df: DataFrame,
      idCol: String,
      embCol: String,
      cfgs: Seq[(Int, Int)],
      dimTotal: Int,
      iters: Int,
      scale: Double = 1e7): Seq[DataFrame] = {
    val fp = df.select(col(idCol),
      transform(col(embCol), x => floor(x.cast("double") * scale).cast("long")).as("v"))
    val local = localized(trainCodebooksMulti(
      subVectorsFpMulti(fp, idCol, cfgs.map(_._1), dimTotal), idCol, cfgs.map(_._2), iters))
    cfgs.indices.map { i =>
      local.filter(cfgOf(col("sub")) === i)
        .withColumn("sub", (col("sub") - lit(i * CfgStride)).cast("int"))
    }
  }

  /** List-form codebooks (sub, cid, c: array<bigint>) from the long form
    * [[trainCodebooks]] emits — the representation [[encode]] and
    * [[adcTopK]] consume.
    */
  def codebooksList(codebooks: DataFrame): DataFrame =
    codebooks.groupBy("sub", "cid").agg(
      transform(array_sort(collect_list(struct(col("dim"), col("c_fp")))),
        s => s.getField("c_fp")).as("c"))

  /** PQ-encode the corpus: (id, sub, code) — each vector's nearest
    * codeword per subspace. The long form IS the production layout for
    * the ADC join; [[encodePacked]] gives the storage-friendly one-row-
    * per-vector shape.
    */
  def encode(
      df: DataFrame,
      idCol: String,
      embCol: String,
      codebooks: DataFrame, // long form (sub, cid, dim, c_fp, n)
      m: Int,
      dimTotal: Int,
      scale: Double = 1e7): DataFrame =
    assignCodes(
      subVectorsFp(df, idCol, embCol, m, dimTotal, scale),
      codebooksList(codebooks))
      .select(col(idCol), col("sub"), col("code"))

  /** Packed codes: (id, codes: array<bigint>) ordered by subspace — the
    * m·log2(k)-bit storage row. Exactly [[encode]] regrouped.
    */
  def encodePacked(codes: DataFrame, idCol: String): DataFrame =
    codes.groupBy(col(idCol)).agg(
      transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** Encode a prepared sub-vector table (extra columns — e.g. `ccid` for
    * residual codes — pass through): input columns minus `v`, plus `code`.
    */
  def encodeSv(sv: DataFrame, codebooks: DataFrame): DataFrame =
    assignCodes(sv, codebooksList(codebooks)).drop("v")

  /** Coarse assignment in the fixed-point domain: each vector's nearest
    * centroid by exact int64 L2 (ties → min centroid id), the same
    * broadcast-fold shape as [[Similarity.ivfAssign]] — zero data-side
    * shuffle. `fp`: (id, v: array<bigint>); `cents`: (ccid, c). Output:
    * fp's columns + `ccid`.
    */
  def coarseAssignFp(fp: DataFrame, idCol: String, cents: DataFrame): DataFrame = {
    val centsArr = cents.agg(
      sort_array(collect_list(struct(col("ccid"), col("c")))).as("__cc"))
    fp.crossJoin(broadcast(centsArr))
      .withColumn("ccid", argminL2Fp(col("v"), col("__cc")))
      .drop("__cc")
  }

  /** Residual sub-vector table for IVFADC (Jégou et al. 2011 §IV): each
    * assigned vector's residual v − c(v) (exact int64), split into m
    * subspaces — the frame residual codebooks train on and residual
    * encoding consumes. `assigned`: (id, v, ccid) from [[coarseAssignFp]];
    * `cents`: (ccid, c). Output: (id, ccid, sub, v).
    */
  def residualSubVectors(
      assigned: DataFrame,
      idCol: String,
      cents: DataFrame,
      m: Int,
      dimTotal: Int): DataFrame = {
    require(m >= 1 && dimTotal % m == 0)
    val d = dimTotal / m
    assigned.join(broadcast(cents), "ccid")
      .select(col(idCol), col("ccid"),
        zip_with(col("v"), col("c"), (x, y) => x - y).as("__r"))
      .select(col(idCol), col("ccid"),
        explode(transform(sequence(lit(0), lit(m - 1)), s =>
          struct(s.cast("int").as("sub"),
            slice(col("__r"), s * d + 1, lit(d)).as("v")))).as("__sv"))
      .select(col(idCol), col("ccid"), col("__sv.sub").as("sub"), col("__sv.v").as("v"))
  }

  /** IVFADC scan: residual-encoded codes against PER-BUCKET lookup tables.
    * Distance dist(q, v) ≈ Σ_sub LUT_{bucket(v)}(sub, code) where bucket
    * c's table is built from the probe's residual q − c — so the LUT is
    * nProbe·k·m rows (still broadcast-small) and the corpus side still
    * carries only (id, ccid, sub, code). `probeResiduals`: (ccid, sub, v)
    * — the probe's residual sub-vectors w.r.t. each probed centroid
    * (pruning happens here: only probed buckets appear, and the inner
    * join drops every other partition's codes).
    */
  def adcTopKResidual(
      codes: DataFrame, // (id, ccid, sub, code)
      idCol: String,
      codebooks: DataFrame, // long form (sub, cid, dim, c_fp, n)
      probeResiduals: DataFrame,
      kTop: Int): DataFrame = {
    val lut = codebooksList(codebooks)
      .join(probeResiduals.select(col("ccid").as("__pc"),
        col("sub").as("__ps"), col("v").as("__pv")),
        col("sub") === col("__ps"))
      .select(col("__pc").as("ccid"), col("sub"), col("cid"),
        l2sqFp(col("c"), col("__pv")).as("d"))
    codes.join(broadcast(lut), Seq("ccid", "sub"))
      .filter(col("code") === col("cid"))
      .groupBy(col(idCol))
      .agg(sum(col("d")).as("adc_d"))
      .orderBy(col("adc_d").asc, col(idCol).asc)
      .limit(kTop)
  }

  /** Multi-probe ADC: one top-k per probe — the batch-evaluation shape a
    * recall audit or a query workload uses. The lookup table gains a
    * `probe_id` key (probes·k·m rows, still broadcast-small), self-matches
    * drop, and per-probe top-k runs through the bounded-heap
    * [[graft.plans.TopKPerGroup]] operator, so the shuffle carries
    * probes·k rows. `probesSv`: (probe_id, sub, v) from [[subVectorsFp]].
    */
  def adcTopKPerProbe(
      codes: DataFrame, // (id, sub, code)
      idCol: String,
      codebooks: DataFrame, // long form
      probesSv: DataFrame, // (probe_id, sub, v)
      kTop: Int): DataFrame =
    Analytics.topKPerGroupNative(adcSumsPerProbe(codes, idCol, codebooks, probesSv),
      Seq("probe_id"), Seq(("adc_d", false), (idCol, false)), kTop)

  /** [[adcTopKPerProbe]] for every budget of a multi-budget table at once:
    * `codes` from [[encodeSv]] over [[subVectorsFpMulti]], `codebooks` from
    * [[trainCodebooksMulti]], `probesSv` the probes' rows of the same
    * table. One lookup table, one join, one sum grouped by
    * (probe_id, cfg, id), one top-k keyed on (cfg, probe_id) — per budget
    * the rows of the single-budget operator. Output: (probe_id, cfg, id,
    * adc_d), `cfg` the budget index.
    */
  def adcTopKPerProbeMulti(
      codes: DataFrame, // (id, sub, code), global sub
      idCol: String,
      codebooks: DataFrame, // long form, global sub
      probesSv: DataFrame, // (probe_id, sub, v), global sub
      kTop: Int): DataFrame =
    Analytics.topKPerGroupNative(
      adcSumsPerProbe(codes, idCol, codebooks, probesSv, cfgOf(codes("sub")).as("cfg")),
      Seq("cfg", "probe_id"), Seq(("adc_d", false), (idCol, false)), kTop)

  /** Per-probe ADC distance of every non-probe vector: (probe_id, keys...,
    * id, adc_d).
    */
  private def adcSumsPerProbe(
      codes: DataFrame,
      idCol: String,
      codebooks: DataFrame,
      probesSv: DataFrame,
      keys: Column*): DataFrame = {
    // The table reads the same per-subspace broadcast as the encode
    // ([[codewordsBySub]], LEFT-joined like [[assignCodes]]), so over an
    // in-plan codebook the two consumers share one broadcast and one
    // training pass. An inner join or a plain explode would let the
    // optimizer push NOT NULL filters into the codebook's lineage and make
    // the two plans differ; a subspace without codewords gives a NULL
    // `__lc`, which the equi-join below drops.
    val lut = probesSv.select(col("probe_id"), col("sub"), col("v").as("__pv"))
      .join(broadcast(codewordsBySub(codebooksList(codebooks))), Seq("sub"), "left")
      .select(col("probe_id"), col("sub").as("__ls"), col("__pv"),
        explode_outer(col("__cw")).as("__w"))
      .select(col("probe_id"), col("__ls"), col("__w.cid").as("__lc"),
        l2sqFp(col("__w.c"), col("__pv")).as("d"))
    // (sub, code)=(sub, cid) must be JOIN keys, not a post-join filter: with
    // them in the hash key the broadcast join emits codes·probes rows; keyed
    // on `sub` alone it first fans every code row out to all probes·k LUT
    // entries of its subspace (~30× more intermediate rows at k=32). The
    // lookup side is renamed: codes and codebooks may share lineage (an
    // in-plan trained codebook), and same-named sides would self-resolve.
    codes.join(broadcast(lut),
        codes("sub") === col("__ls") && codes("code") === col("__lc"))
      .filter(col(idCol) =!= col("probe_id"))
      .groupBy(col("probe_id") +: keys :+ col(idCol): _*)
      .agg(sum(col("d")).as("adc_d"))
  }

  /** Asymmetric Distance Computation top-k: exact int64 distance from the
    * probe to every CODEWORD (the k×m lookup table, built from the probe's
    * fixed-point sub-vectors — m·k rows, broadcast), then every corpus
    * vector's ADC distance is the sum of its m looked-up entries. The
    * corpus side carries only codes; the join is broadcast-hash on
    * (sub, code) and the per-id sum is map-side combined, so nothing
    * corpus-sized shuffles except the final top-k.
    *
    * `probe`: a one-row (sub, v) fixed-point sub-vector frame (e.g.
    * [[subVectorsFp]] filtered to the probe id).
    */
  def adcTopK(
      codes: DataFrame, // (id, sub, code)
      idCol: String,
      codebooks: DataFrame, // long form
      probeSv: DataFrame, // (sub, v) — m rows
      kTop: Int): DataFrame = {
    val lut = codebooksList(codebooks)
      .join(probeSv.select(col("sub").as("__ps"), col("v").as("__pv")),
        col("sub") === col("__ps"))
      .select(col("sub"), col("cid"), l2sqFp(col("c"), col("__pv")).as("d"))
    codes.join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("cid"))
      .groupBy(col(idCol))
      .agg(sum(col("d")).as("adc_d"))
      .orderBy(col("adc_d").asc, col(idCol).asc)
      .limit(kTop)
  }

  /** ADC shortlist + exact re-rank (Jégou, Tavenard, Douze, Amsaleg 2011,
    * "Searching in one billion vectors: re-rank with source coding",
    * ICASSP — the standard final stage of a production IVFADC index): the
    * compressed-domain [[adcTopK]] scan produces a top-R shortlist, then
    * EXACT fixed-point distances are computed for those R vectors only
    * and the exact top-k of the shortlist is returned.
    *
    * Scale shape: the expensive full-precision pass is O(R), not O(N) —
    * the shortlist is R ids (broadcast), so pruning the full-vector table
    * down to R rows is a broadcast hash join evaluated INSIDE the corpus
    * scan, and the re-rank's sort is over R rows on one task. The corpus
    * is never scanned at full precision; only the codes are. Recall@k
    * equals the shortlist's recall@R capped at k — re-ranking fixes the
    * ADC ordering error within the shortlist at ~zero cost.
    *
    * `corpusFp` / `probeFp`: (id, v) / (v) fixed-point full vectors —
    * scale-1e7 int64, so exact_d is an exact int64 and the whole chain
    * (train → encode → ADC shortlist → exact re-rank) sits under one
    * DuckDB oracle.
    */
  def adcRerank(
      codes: DataFrame, // (id, sub, code)
      idCol: String,
      codebooks: DataFrame, // long form
      probeSv: DataFrame, // (sub, v) — m rows
      corpusFp: DataFrame, // (id, v: array<bigint>)
      probeFp: DataFrame, // one row (v: array<bigint>)
      shortlistR: Int,
      kTop: Int): DataFrame = {
    require(shortlistR >= kTop, s"shortlist R=$shortlistR must cover kTop=$kTop")
    val shortlist = adcTopK(codes, idCol, codebooks, probeSv, shortlistR)
      .select(idCol)
    corpusFp.join(broadcast(shortlist), idCol)
      .crossJoin(broadcast(probeFp.select(col("v").as("__pv"))))
      .withColumn("exact_d", l2sqFp(col("v"), col("__pv")))
      .select(col(idCol), col("exact_d"))
      .orderBy(col("exact_d").asc, col(idCol).asc)
      .limit(kTop)
  }
}
