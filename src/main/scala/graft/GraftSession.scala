package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Opinionated session entry point: the configuration graft expects on a
  * real cluster, with the 100 TB rationale for each knob. Local runs
  * (Verify/Bench/tests) override master and shuffle partitions.
  *
  * Generated code is compiled once per plan shape: the codegen cache
  * ([[CodegenCacheEntries]]) holds graft's working set, and
  * `GraftExtensions` passes the bounds and payloads of cell-store requests
  * (Deker slice reads, patches, placements) to their generated classes as
  * bound parameters ([[graft.plans.BoundParams]]), so a warm request with
  * new values compiles nothing. That rule is scoped to plans that scan the
  * cell store, because only they change their literals on every request;
  * other plans repeat theirs and already hit the cache.
  */
object GraftSession {

  /** Entries of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is an
    * LRU keyed on the generated source, so a rotation over more distinct
    * classes than it holds never hits: every pass recompiles, ~10 ms a
    * class. Measured working sets (`CodegenMetrics` compile counts): a
    * curation pass t8 → d2 → d7 → d10 → d12 → d13 → t10 recompiles 143
    * classes on every pass at the default size (`local[2]`, its seeded
    * corpus), and one sf0.01 `graft.Verify` run of all 111 ops compiles
    * 1,233 distinct classes into an unbounded cache. The size covers any rotation over the whole
    * inventory with headroom, since the cache's segments each evict at
    * their own share of the limit.
    */
  val CodegenCacheEntries: Int = 2000

  /** Generated classes this JVM has compiled so far: cache misses of the
    * codegen cache, counted by Spark's `CodegenMetrics`.
    */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def builder(master: String = "local[*]",
              shufflePartitions: Int = 0): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      // UTC everywhere: every timestamp literal/grouping in the engine and
      // its oracles assumes it; a TZ-floating session silently changes
      // which rows a date filter selects.
      .config("spark.sql.session.timeZone", "UTC")
      // AQE re-plans with real sizes: coalesces the small shuffles our
      // catalog/meta ops produce and converts to broadcast when a filtered
      // fact side collapses below the threshold.
      .config("spark.sql.adaptive.enabled", "true")
      // Hot array_ids / hot LSH buckets are expected in real corpora; AQE
      // skew split complements the explicit salting pattern (q15).
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // spark.sql.adaptive.coalescePartitions.initialPartitionNum is the
      // one knob that MUST scale with deployment: planner-inserted
      // exchanges start there and AQE coalesces down to size targets. A
      // 100 TB cluster sets it ~2-3x total cores (with shuffle.partitions
      // to match); leaving it at this harness's pinned 32 is what let
      // d4/d16's pair aggregation + size joins sort 140M-row streams
      // through 32 tasks at tier320 (27 GB of sort/agg spill,
      // numTasksFallBacked=32 — round-13 audit). Local tier-scale
      // evidence runs set GRAFT_AQE_INITIAL=512 (regen script); the
      // sf0.1 bench contract keeps the session default because a 512
      // start costs ~0.5-1 s/op in scheduling overhead at 60k-row
      // shuffles on a 32-core box (a round-13 A/B, in git history) — partition
      // counts are a per-scale config, not a constant. Explicit sized
      // repartitions (d5/d4's kernel exchanges) hold at ANY setting.
      // 128 MiB scan splits: big enough to amortize parquet footers &
      // codec startup, small enough that a single slice-read task fits
      // comfortably in executor memory with room for the patch CASE-WHEN.
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      // Dynamic partition overwrite: a partitioned overwrite replaces only
      // the partitions it writes, never truncates the table
      // (ArrayStore.patchPartition also sets this on its own write).
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // A static conf, read once per JVM when the codegen cache is built:
      // sized to graft's compiled working set, so a session that repeats
      // its plans (a curation pass, a dashboard's queries) compiles each
      // plan shape once instead of on every repetition.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // graft_gen_key / graft_ring_place available to pure-SQL users.
      .config("spark.sql.extensions", classOf[functions.GraftExtensions].getName)
    val b2 = sys.env.get("GRAFT_AQE_INITIAL").fold(b)(v =>
      b.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", v))
    if (shufflePartitions > 0)
      b2.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    else b2
  }
}
