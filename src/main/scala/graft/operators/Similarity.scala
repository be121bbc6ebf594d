package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (builder contract: ANN over `array<float>`).
  *
  * Everything is higher-order-function expressions over the array column —
  * no UDFs, no collect; the probe vector travels as a broadcast single-row
  * DataFrame, so brute-force top-k is a full scan + per-partition top-k
  * (TakeOrderedAndProject) with no shuffle of the scanned data.
  *
  * Determinism: dot products fold left-to-right in both Spark (`aggregate`)
  * and the DuckDB oracle (`list_sum` over an index-ordered comprehension);
  * `sqrt` is IEEE-correctly-rounded everywhere, so cosine values are
  * bit-identical across engines.
  *
  * Scale path (100 TB): random-hyperplane LSH — deterministic md5-derived
  * planes, so signatures are reproducible in any engine — turns the O(N)
  * scan into a bucket equi-join probing ~N/2^bits of the data; at cluster
  * scale the bucketed table would be written bucketed-by-signature so probes
  * prune to one bucket file per table (an IVF-style layout).
  */
object Similarity {

  /** Double dot product of two float-array columns (sequential fold). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity — the native codegen'd Catalyst expression
    * ([[graft.expressions.CosineSimilarity]]); bit-identical to
    * [[cosineHof]] (same fold order, same IEEE ops) but one primitive loop
    * per row instead of interpreted lambdas.
    */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.GraftExtensions.cosineNative(a, b)

  /** Higher-order-function cosine (reference formulation; kept for
    * cross-checking the native expression).
    */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Random-hyperplane LSH signature of `embSqlExpr` (a SQL expression for
    * the array<float> column): `bits` planes; plane p's i-th component is
    * (md5int(p:i) % 2001 − 1000) / 1000 ∈ [−1, 1] — fully deterministic and
    * reproducible from SQL in any engine with md5. Bit p of the signature
    * is set iff dot(v, plane_p) > 0 (scale-invariant: v and c·v collide).
    *
    * The plane matrix is row-independent, so it is materialized driver-side
    * (same md5 formula) and inlined as a literal — computing it per row via
    * SQL md5 costs bits×dim hashes per row for identical values.
    */
  def lshSignature(embSqlExpr: String, bits: Int, dim: Int): Column = {
    val planesSql = (0 until bits).map { p =>
      (1 to dim).map(i => s"${planeComponent(p, i)}d").mkString("array(", ", ", ")")
    }.mkString("array(", ", ", ")")
    expr(
      s"""element_at(transform(array($planesSql), planes ->
            aggregate(sequence(0, ${bits - 1}), cast(0 as bigint),
              (acc, p) -> acc + if(
                aggregate(zip_with($embSqlExpr, element_at(planes, p + 1),
                            (x, y) -> cast(x as double) * y),
                          cast(0.0 as double), (a, v) -> a + v) > 0,
                shiftleft(cast(1 as bigint), p), cast(0 as bigint)))), 1)""")
  }

  /** Plane component (md5int(p:i) % 2001 − 1000)/1000 — the driver-side twin
    * of the SQL formula in the oracle (identical md5, identical integer
    * arithmetic, one exact double division).
    */
  private[operators] def planeComponent(p: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$i".getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16) % 2001 - 1000) / 1000.0
  }

  /** Squared L2 distance of two float-array columns (sequential fold;
    * float subtraction promoted to double — exact IEEE, engine-identical).
    * Native codegen'd ([[graft.expressions.L2SqDouble]]); [[l2sqHof]] is
    * the SQL-function formulation it is bit-parity spec-pinned against.
    */
  def l2sq(a: Column, b: Column): Column =
    graft.expressions.GraftExtensions.l2sqNative(a, b)

  /** HOF formulation of [[l2sq]] (interpreted; spec/bit-parity use). */
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0), (acc, x) => acc + x)

  /** IVF-style assignment: each vector's nearest centroid id (min squared
    * L2, ties broken by centroid id). `centroids` must be broadcast-small
    * (the coarse quantizer). Adds a `centroid_id` column.
    *
    * At 100 TB this is the index-build pass: write the table
    * partitioned/bucketed by `centroid_id`, and a probe reads only its
    * nProbe nearest buckets (see [[ivfTopK]]).
    */
  def ivfAssign(
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame, // (centroid_id, centroid_emb); centroid_id integral
      tag: String = "centroid_id"): DataFrame = {
    // The quantizer collapses to ONE broadcast row holding all centroids as
    // an array, so assignment is a pure per-row argmin fold: no shuffle of
    // the data side at all (the earlier window formulation shuffled N×K rows
    // and sorted; even a min_by aggregation would still exchange N rows).
    // (dist, cid) struct comparison is lexicographic — exactly the
    // min-dist-then-min-id tiebreak, and order-independent over the fold.
    val centsArr = centroids.agg(
      sort_array(collect_list(struct(
        col("centroid_id").cast("long").as("cid"), col("centroid_emb").as("emb"))))
        .as("__cents"))
    val scored = transform(col("__cents"), c =>
      struct(l2sq(col(embCol), c.getField("emb")).as("d"),
        c.getField("cid").as("cid")))
    val best = aggregate(scored,
      struct(lit(Double.PositiveInfinity).as("d"), lit(Long.MaxValue).as("cid")),
      (acc, x) => when(x < acc, x).otherwise(acc))
    df.crossJoin(broadcast(centsArr))
      .withColumn(tag, best.getField("cid"))
      .drop("__cents")
  }

  /** Fixed-point Lloyd (k-means) iterations, exactly reproducible across
    * engines: embeddings quantize to scale-1e7 int64 ONCE (float×1e7 is
    * exact in double — 24-bit mantissa × 5⁷ fits 53 bits), distances are
    * pure int64 sums of squared diffs, and each new centroid coordinate is
    * floor(sum/count) via one IEEE double division of exact integers — so
    * a 2-iteration run hash-matches a SQL oracle bit-for-bit, which is
    * normally impossible for iterative float ML.
    *
    * Per iteration: assignment is the [[ivfAssign]] broadcast-fold shape
    * (zero shuffle of the data side), the update one posexplode +
    * map-side-combinable groupBy (shuffle carries k×dim accumulators).
    * Init: the first k vectors by id (deterministic stand-in for k-means‖).
    * Output: long-form final centroids (cid, dim, c_fp, n); clusters that
    * empty out drop (same semantics in the oracle).
    *
    * Lineage control: at `iters <= 2` the whole run stays one lazy plan
    * (the oracle-checked configuration, byte-identical to r02). Beyond
    * that, each iteration's plan would otherwise nest every previous
    * iteration's assignment+update (analysis cost grows geometrically, the
    * same failure mode [[graft.operators.TextDedup]]'s loops hit), so the
    * quantized frame is persisted ONCE and each round's k×dim centroid
    * rows — broadcast-small by the same contract as [[ivfAssign]]'s
    * quantizer — are collected and rebuilt as a local-backed frame.
    * Per-round work is then constant (one cached scan + one k×dim-row
    * collect), plans stay O(1), and nothing but the single `fp` persist
    * exists to release at the end. The collected values are exact int64 /
    * floor-division results, so the rebuild is bit-identical to the lazy
    * plan.
    */
  def kmeansFp(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      iters: Int,
      scale: Double = 1e7): DataFrame = {
    require(iters >= 1 && k >= 1)
    val truncate = iters > 2
    val fpPlan = df.select(col(idCol),
      transform(col(embCol), x => floor(x.cast("double") * scale).cast("long")).as("__v"))
    val fp = if (truncate)
      fpPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else fpPlan
    var cents = fp.filter(col(idCol) < k)
      .select(col(idCol).cast("long").as("cid"), col("__v").as("__c"))
    var out: DataFrame = null
    for (_ <- 1 to iters) {
      val centsArr = cents.agg(
        sort_array(collect_list(struct(col("cid"), col("__c")))).as("__cents"))
      val assigned = fp.crossJoin(broadcast(centsArr))
        .select(col(idCol), col("__v"), Pq.argminL2Fp(col("__v"), col("__cents")).as("cid"))
      val sums = assigned
        .select(col("cid"), posexplode(col("__v")).as(Seq("__p", "__x")))
        .groupBy(col("cid"), (col("__p") + 1).as("dim"))
        .agg(sum(col("__x")).as("__s"), count(lit(1)).as("n"))
        .select(col("cid"), col("dim"),
          floor(col("__s").cast("double") / col("n")).cast("long").as("c_fp"), col("n"))
      out = if (truncate) {
        import scala.jdk.CollectionConverters._
        df.sparkSession.createDataFrame(sums.collect().toSeq.asJava, sums.schema)
      } else sums
      cents = out.groupBy("cid").agg(
        transform(array_sort(collect_list(struct(col("dim"), col("c_fp")))),
          s => s.getField("c_fp")).as("__c"))
    }
    val result = out.orderBy("cid", "dim")
    // `out` is local-backed in the truncated path, so the quantized frame
    // can be released immediately — the result no longer references it
    if (truncate) fp.unpersist(blocking = false)
    result
  }

  /** Occupancy audit of a centroid-partitioned IVF layout — the signal an
    * index-maintenance loop watches: under drift, appends pile into a few
    * centroids, their partitions fatten, and probe pruning degrades toward
    * a scan. One map-side-combined count per partition.
    */
  def ivfOccupancy(layout: DataFrame): DataFrame =
    layout.groupBy("centroid_id").agg(count(lit(1)).as("n"))

  /** The quantizer in fixed point: (centroid_id, c_fp) with c_fp =
    * floor(centroid_emb × scale) per dim — the representation
    * [[ivfRebalanceHottest]] consumes AND produces, so maintenance passes
    * compose: convert the float quantizer once, then every further pass
    * feeds on the previous pass's output. All bucket ranking against a
    * fp quantizer is exact int64 arithmetic (engine-reproducible).
    */
  def quantizerFp(centroids: DataFrame, scale: Double = 1e7): DataFrame =
    centroids.select(col("centroid_id").cast("long").as("centroid_id"),
      transform(col("centroid_emb"), x => floor(x.cast("double") * scale).cast("long"))
        .as("c_fp"))

  /** Selective re-split of the HOTTEST centroid partition of an IVF layout
    * (max occupancy, ties → min centroid id) — the maintenance pass that
    * repairs probe pruning after drift skews the frozen quantizer of
    * [[graft.sources.Merge.upsertPartitionedBy]]-maintained indexes:
    *
    *  1. occupancy (one count aggregate) → hottest cid, a bounded 1-row
    *     decision;
    *  2. ONLY that partition's vectors are read back (directory pruning)
    *     and re-clustered with one fixed-point Lloyd round, k = 2, seeded
    *     by the two lowest vec_ids — the same scale-1e7 int64 arithmetic
    *     as [[kmeansFp]], so the split is bit-reproducible in any engine;
    *  3. members are committed under fresh centroid ids (max existing + 1,
    *     + 2) via dynamic partition overwrite — only the NEW partitions are
    *     written and only the hot directory is retired; every other
    *     partition's files are never opened (byte-identity spec-asserted);
    *  4. the returned quantizer (centroid_id, c_fp — the [[quantizerFp]]
    *     representation, which this operator also CONSUMES, so passes
    *     compose) carries the surviving old centroids plus the two Lloyd
    *     means — all further probes rank buckets by exact int64 distance.
    *
    * At 100 TB this touches occupancy counts + one partition's vectors +
    * two partition writes, never the index body. Run repeatedly (hottest
    * first — [[ivfRebalanceUntil]]) until occupancy is acceptable.
    */
  def ivfRebalanceHottest(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      quantizer: DataFrame, // (centroid_id, c_fp) — see [[quantizerFp]]
      scale: Double = 1e7): DataFrame = {
    val layout = spark.read.parquet(path)
    // partition-column type is directory-inferred (int) — normalize to long
    val hotRow = ivfOccupancy(layout)
      .select(col("centroid_id").cast("long").as("centroid_id"), col("n"))
      .orderBy(col("n").desc, col("centroid_id").asc)
      .limit(1).collect()
    require(hotRow.nonEmpty, s"empty IVF layout at $path")
    val hot = hotRow(0).getLong(0)
    val maxCid = quantizer.agg(max(col("centroid_id").cast("long"))).head().getLong(0)

    // 2. the hot partition's vectors, quantized (directory-pruned read)
    val members = spark.read.parquet(path)
      .filter(col("centroid_id") === hot)
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"), x => floor(x.cast("double") * scale).cast("long"))
          .as("__v"))
    // seeds: two lowest ids (deterministic stand-in for k-means‖, exactly
    // [[kmeansFp]]'s init rule applied within the cluster)
    val seeds = members
      .select(col("vec_id").cast("long").as("sid"), col("__v").as("__c"))
      .orderBy("sid").limit(2)
    def assignTo(cents: DataFrame): DataFrame = {
      val centsArr = cents.agg(
        sort_array(collect_list(struct(col("sid"), col("__c")))).as("__cents"))
      members.crossJoin(broadcast(centsArr))
        .select(col("vec_id"), col("embedding"), col("__v"),
          Pq.argminL2Fp(col("__v"), col("__cents")).as("sid"))
    }
    // one Lloyd round: assign to seeds, recompute means (floor(sum/n) per
    // dim — exact int64), then the FINAL assignment against those means.
    // The means are MATERIALIZED as a local-backed frame (≤ k rows × dim,
    // bounded by contract — kmeansFp's truncate device): the hot partition
    // they derive from is retired below, so nothing returned to the caller
    // may keep a lazy plan over its files.
    val meansPlan = assignTo(seeds)
      .select(col("sid"), posexplode(col("__v")).as(Seq("__p", "__x")))
      .groupBy(col("sid"), col("__p"))
      .agg(sum(col("__x")).as("__s"), count(lit(1)).as("__n"))
      .select(col("sid"),
        struct(col("__p"),
          floor(col("__s").cast("double") / col("__n")).cast("long").as("v")).as("__pv"))
      .groupBy("sid")
      .agg(transform(array_sort(collect_list(col("__pv"))), s => s.getField("v")).as("__c"))
    val means = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(meansPlan.collect().toSeq.asJava, meansPlan.schema)
    }
    val finalAssign = assignTo(means)

    // 3. fresh ids: surviving sub-clusters ranked by seed id → maxCid+1, +2
    val sidToCid = means.select("sid").collect().map(_.getLong(0)).sorted
      .zipWithIndex.map { case (sid, i) => (sid, maxCid + 1 + i) }.toMap
    val cidMapping = typedLit(sidToCid)
    val reassigned = finalAssign
      .select(col("vec_id"), col("embedding"),
        element_at(cidMapping, col("sid")).as("centroid_id"))
    reassigned.write.partitionBy("centroid_id")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic") // only the NEW partitions
      .parquet(path)
    // retire the hot directory (driver-side file op, like compactPartitioned)
    val hotDir = java.nio.file.Paths.get(path, s"centroid_id=$hot")
    if (java.nio.file.Files.exists(hotDir)) {
      // close the walk stream (it holds directory handles open)
      val st = java.nio.file.Files.walk(hotDir)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally st.close()
    }
    // the session-level FileStatusCache still lists the retired files;
    // invalidate so post-rebalance reads list the real layout
    spark.catalog.refreshByPath(path)

    // 4. updated quantizer: surviving old centroids + the two Lloyd means
    // — same fp representation in as out, so passes compose
    quantizer.filter(col("centroid_id").cast("long") =!= hot)
      .select(col("centroid_id").cast("long").as("centroid_id"), col("c_fp"))
      .unionByName(means.select(
        element_at(cidMapping, col("sid")).cast("long").as("centroid_id"),
        col("__c").as("c_fp")))
  }

  /** Hottest-first maintenance loop: split the max-occupancy partition
    * until none exceeds `maxOccupancy` (or `maxPasses` splits ran). Each
    * pass is one bounded decision + one partition's rewrite; the quantizer
    * threads through in its fixed-point representation. Returns the final
    * quantizer. Monotone convergence: every split strictly lowers the hot
    * partition's count (k=2 split of n rows leaves parts < n unless the
    * Lloyd round degenerates to one cluster, which the loop detects via
    * the occupancy re-read — a pass that cannot improve stops the loop).
    */
  def ivfRebalanceUntil(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      quantizer: DataFrame,
      maxOccupancy: Long,
      maxPasses: Int = 8): DataFrame = {
    require(maxOccupancy >= 2 && maxPasses >= 1)
    var q = quantizer
    var passes = 0
    var done = false
    while (!done && passes < maxPasses) {
      val occ = ivfOccupancy(spark.read.parquet(path))
        .agg(max(col("n"))).head().getLong(0)
      if (occ <= maxOccupancy) done = true
      else {
        q = ivfRebalanceHottest(spark, path, q)
        val occAfter = ivfOccupancy(spark.read.parquet(path))
          .agg(max(col("n"))).head().getLong(0)
        if (occAfter >= occ) done = true // degenerate split: stop, don't spin
        passes += 1
      }
    }
    q
  }

  /** Brute-force top-k by cosine against a 1-row probe DataFrame
    * (columns: `probeCol` the vector). Probe is broadcast; result is k rows.
    */
  /** Mutual k-NN graph over an IVF-bucketed candidate space — the
    * neighborhood-graph construction semantic clustering and NN-descent
    * initialization use: candidates are vectors sharing a coarse centroid
    * (the [[ivfAssign]] zero-shuffle fold), each vector keeps its exact
    * k nearest candidates by int64 fixed-point L2 (scale 1e7 — engine-
    * reproducible, no float ranking), and an undirected edge (a < b)
    * survives only if each endpoint is in the OTHER's top-k (the mutual
    * filter that cuts hub vertices out of skewed neighborhoods).
    *
    * Scale shape: the self-join is per-centroid-bucket (quadratic in the
    * BUCKET, never the corpus — the quantizer caps bucket volume, and
    * [[ivfRebalanceHottest]] is the repair when drift fattens one); top-k
    * runs through the native bounded-heap TopKPerGroup operator, so the
    * exchange after the join carries k rows per vector; the mutual filter
    * is one self-join of that k·N edge list on both key orders.
    */
  def knnGraphMutual(
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame,
      k: Int,
      scale: Double = 1e7): DataFrame = {
    require(k >= 1)
    val assigned = ivfAssign(df, idCol, embCol, centroids)
      .select(col(idCol), col("centroid_id"),
        transform(col(embCol), x => floor(x.cast("double") * scale).cast("long"))
          .as("__vfp"))
    val a = assigned.select(col("centroid_id"),
      col(idCol).as("a_id"), col("__vfp").as("__va"))
    val b = assigned.select(col("centroid_id"),
      col(idCol).as("b_id"), col("__vfp").as("__vb"))
    val pairs = a.join(b, "centroid_id")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        graft.expressions.GraftExtensions.l2sqFpNative(col("__va"), col("__vb")).as("d"))
    val topk = Analytics.topKPerGroupNative(
      pairs, Seq("a_id"), Seq(("d", false), ("b_id", false)), k)
      .select("a_id", "b_id")
    topk.join(
        topk.select(col("a_id").as("b_id"), col("b_id").as("a_id")),
        Seq("a_id", "b_id"))
      .filter(col("a_id") < col("b_id"))
  }

  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      probe: DataFrame,
      probeCol: String,
      k: Int): DataFrame =
    df.crossJoin(broadcast(probe))
      .withColumn("cosine", cosine(col(embCol), col(probeCol)))
      .select(col(idCol), col("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)

  /** Incremental ANN near-dup: an incoming vector batch checked against the
    * corpus — bucket equi-join on LSH signature with the batch side
    * BROADCAST. Candidates are cross-side only (the corpus never
    * self-joins) and the corpus side needs no exchange at all: the
    * signature is evaluated once per row inside the broadcast-join stage
    * and cosine verification is map-side. The production ingest shape for
    * embeddings, mirroring [[graft.operators.TextDedup.minhashLshPairsIncremental]];
    * at cluster scale the corpus is written bucketed by signature and the
    * probe reads only colliding buckets.
    */
  def nearDupPairsIncremental(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String,
      embCol: String,
      sigCol: String,
      threshold: Double): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_a"), col(embCol).as("__ea"), col(sigCol).as("__sa"))
    val i = incoming.select(col(idCol).as("vec_b"), col(embCol).as("__eb"), col(sigCol).as("__sb"))
    c.join(broadcast(i), col("__sa") === col("__sb"))
      .withColumn("cosine", cosine(col("__ea"), col("__eb")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** All pairs in the same LSH bucket with cosine >= threshold.
    * Candidate generation is a bucket equi-join (signature equality);
    * verification computes exact cosine on candidates only.
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      sigCol: String,
      threshold: Double): DataFrame = {
    // Repartition barrier: signature computed once below the exchange, not
    // inlined into both sides of the self-join by projection collapse.
    val mat = df.select(col(idCol), col(embCol), col(sigCol)).repartition(col(idCol))
    val a = mat.select(col(idCol).as("vec_a"), col(embCol).as("__ea"), col(sigCol).as("__sa"))
    val b = mat.select(col(idCol).as("vec_b"), col(embCol).as("__eb"), col(sigCol).as("__sb"))
    a.join(b, col("__sa") === col("__sb") && col("vec_a") < col("vec_b"))
      .withColumn("cosine", cosine(col("__ea"), col("__eb")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus with a coarse quantizer, compare vectors only
    * WITHIN their cluster, and drop every vector that has a close
    * (cosine >= threshold) lower-id neighbor in the same cluster. Returns
    * the full decision table (id, centroid_id, keep) — the drop list is
    * `keep = false`.
    *
    * Scale shape: assignment is [[ivfAssign]]'s broadcast-fold (zero
    * data-side shuffle), and candidate generation is a self-join on
    * `centroid_id` — one hash exchange per side keyed by cluster, so the
    * quadratic term is bounded by the largest cluster, not the corpus
    * (k ~ sqrt(N) clusters at 100 TB keeps per-cluster work ~N). The
    * decision policy ("has a close lower-id neighbor") needs no
    * connected-components pass — one semi-join-shaped aggregation after
    * the pair filter — at the cost of also dropping chain members whose
    * lower-id witness was itself dropped (the standard SemDeDup policy;
    * exact transitive grouping is [[graft.operators.TextDedup.connectedComponentsStar]]).
    */
  def semDedup(
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = ivfAssign(
      df.select(col(idCol), col(embCol)), idCol, embCol, centroids)
      .select(col(idCol), col(embCol), col("centroid_id"))
    // Materialization barrier: the centroid assignment is computed once
    // below the exchange instead of being re-inlined into both join sides.
    val mat = assigned.repartition(col("centroid_id"))
    val a = mat.select(col(idCol).as("__ida"), col(embCol).as("__ea"), col("centroid_id"))
    val b = mat.select(col(idCol).as("__idb"), col(embCol).as("__eb"), col("centroid_id"))
    val drops = a.join(b, Seq("centroid_id"))
      .filter(col("__ida") < col("__idb"))
      .filter(cosine(col("__ea"), col("__eb")) >= threshold)
      .select(col("__idb").as(idCol)).distinct()
    assigned.select(col(idCol), col("centroid_id"))
      .join(drops.withColumn("__dropped", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("centroid_id"), col("__dropped").isNull.as("keep"))
  }

  /** Johnson–Lindenstrauss sign projection (Achlioptas 2003, "Database-
    * friendly random projections", JCSS 66(4): a ±1 matrix preserves
    * pairwise distances in expectation — E‖ya−yb‖² = k·‖va−vb‖² for an
    * unnormalized sign matrix): project a fixed-point vector from `dim`
    * to `k` dims, y_p = Σ_i s(p,i)·v_i with the sign drawn
    * deterministically from md5("jl:p:i") — the same derivation trick as
    * [[lshSignature]]'s hyperplanes, so both engines synthesize the
    * identical matrix and the projection is exact int64 end-to-end.
    *
    * Scale shape: a pure per-row projection (no shuffle, no state) that
    * cuts every downstream distance computation by dim/k — the standard
    * pre-ANN reduction when embeddings are wider than retrieval needs.
    * `scale` defaults to 1e5 (not the usual 1e7) so k·‖ya−yb‖² stays
    * within both int64 and double-exact range for |x| ≤ ~1 inputs.
    */
  def jlProjectFp(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      dim: Int,
      scale: Double = 1e5): DataFrame = {
    require(k >= 1 && dim >= 1)
    val fp = transform(col(embCol), x => floor(x.cast("double") * scale).cast("long"))
    df.select(col(idCol), fp.as("__v"))
      .select(col(idCol), transform(sequence(lit(0), lit(k - 1)), p =>
        aggregate(
          zip_with(col("__v"), sequence(lit(1), lit(dim)), (x, i) =>
            when(conv(substring(md5(
                concat(lit("jl:"), p.cast("string"), lit(":"), i.cast("string"))),
                1, 8), 16, 10).cast("long") % 2 === 0, x).otherwise(-x)),
          lit(0L), (acc, x) => acc + x)).as("y"))
  }
}
