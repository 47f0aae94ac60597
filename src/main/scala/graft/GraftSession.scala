package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session entry point: the configuration graft expects on a
  * real cluster, with the 100 TB rationale for each knob. Local runs
  * (Verify/Bench/tests) override master and shuffle partitions.
  */
object GraftSession {

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
      // graft_gen_key / graft_ring_place available to pure-SQL users.
      .config("spark.sql.extensions", classOf[functions.GraftExtensions].getName)
    val b2 = sys.env.get("GRAFT_AQE_INITIAL").fold(b)(v =>
      b.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", v))
    if (shufflePartitions > 0)
      b2.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    else b2
  }
}
