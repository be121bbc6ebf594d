package graft

import org.apache.spark.sql.SparkSession

/** Scale-adaptive parallelism floors shared by every runner session
  * (Bench / BenchOne / Profile / Verify) — r15 optimization round.
  *
  * Problem measured first (guide §1/§2): at bench scale the CPU-dense
  * stages (md5 shingling, levenshtein verification, PQ scoring) carry only
  * a few MB, so (a) the scan packer's 4 MB `openCostInBytes` floor caps
  * map-side parallelism at ~3 tasks for a 15 MB table, and (b) AQE's 1 MB
  * `coalescePartitions.minPartitionSize` merges every post-shuffle stage
  * to 1–3 tasks — serializing pure compute on a 32-core machine (q176
  * profile: 12 stages, ≤3 tasks each, stage wall ≈ 2.5 s for ~3 s of CPU).
  *
  * Fix: lower both floors so parallelism derives from the data and the
  * core count (AQE's `parallelismFirst` targets totalBytes/parallelism,
  * only bounded below by `minPartitionSize`; the scan packer targets
  * totalBytes/defaultParallelism bounded below by `openCostInBytes`).
  * These are FLOORS, not targets — at production scale (100 TB, ≥64 MB
  * partitions) neither bound ever binds, so the settings are inert on a
  * cluster; they only stop tiny-input over-coalescing. Parameterized via
  * env so the driver's lower-core bench run scales the same way
  * (partition counts still derive from SPARK_GRAFT_CPUS, which is what
  * the core-scaling measurement varies).
  *
  * Measured effect (BenchOne min-of-3, sf0.1, local[32], top-20 heavy
  * queries): 87.7 s → 74.5 s (−15%); q150 5.6→1.3, q210 6.9→3.7,
  * q221 6.2→4.1, q152 5.2→3.7, q165 4.1→2.9. See OPTIMIZATION_r15.md.
  */
object SessionTuning {
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"))
    .config("spark.sql.files.openCostInBytes",
      sys.env.getOrElse("SPARK_GRAFT_OPEN_COST_BYTES", "262144"))
    // ObjectHashAggregate (collect_list/collect_set — the prefix join's
    // per-doc rarest-first aggregation, r16) falls back to SORT-based
    // aggregation after this many distinct keys in the in-memory map; the
    // 128-key default reintroduces the very sort the hash-agg formulation
    // removes on any partition with >128 docs. 64k keys bounds the map at
    // roughly one well-sized partition's buffers (64 MB–1 GB production
    // partitions hold ~10–200k rows/group-free docs, and past the bound
    // the graceful sort fallback — NOT an OOM — resumes). Env-tunable for
    // clusters with bigger/smaller per-task memory.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      sys.env.getOrElse("SPARK_GRAFT_OBJ_AGG_FALLBACK", "65536"))
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Capacity of Spark's JVM-wide cache of Janino-compiled classes.
    *
    * Spark's default keeps 100 classes, and a long-lived session that
    * repeats a cycle larger than that misses the LRU cache on EVERY
    * access: each refresh recompiles every class it needs. Classes
    * compiled per perfbench cycle (`CodegenMetrics`, seed 7, 4 cores),
    * default → this cap: a `grid_refresh` page 161 → 9 by the third
    * page, an `llm_data` cycle 248 → 2 by the fourth. One `graft.Verify`
    * pass at sf0.01 compiles 4354 classes under an uncapped cache, so the
    * cap is the next power of two above it: the whole 287-query sweep
    * stays resident (`graft.Bench` at sf0.01: pass 1 compiles 4357
    * classes, pass 2 only 322).
    * Static conf: read once per JVM when `CodeGenerator` initializes, so
    * session build is the only place it can be set.
    */
  private val CodegenCacheEntries = 8192
}
