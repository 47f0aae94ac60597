package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Exercises the genuinely-streaming path: readStream over the events
  * parquet, watermarked windowed aggregation and streaming dedup into
  * memory sinks, checked against the batch equivalents.
  */
class StreamingSpec extends SparkSpec {

  /** File-source streams need a directory: stage the events file alone. */
  lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("st1: streaming windowed agg converges to the batch result") {
    val stream = Streams.readEventsStream(spark, eventsDir)
    val q = Streams.windowAggTransform(stream)
      .writeStream.format("memory").queryName("st1_mem")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st1_mem")
      .select("window_start", "event_type", "total_value", "n_events")
    val batch = Streams.st1StreamWindow(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 &&
           batch.except(streamed).count() == 0,
      "streaming window agg != batch window agg")
  }

  test("st8: streaming mixture gate converges to the batch admission report") {
    val stream = Streams.readEventsStream(spark, eventsDir)
    val q = Streams.mixtureGateTransform(stream)
      .writeStream.format("memory").queryName("st8_mem")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st8_mem")
    val batch = Streams.st8StreamMixture(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 &&
           batch.except(streamed).count() == 0,
      "streaming mixture gate != batch mixture report")
    // the gate is reproducible: a second batch replay agrees bit-exactly
    val replay = Streams.st8StreamMixture(spark, sf)
    assert(batch.except(replay).count() == 0)
    // quotas actually bind: heavy types admit ~25%, critical types 100%
    val rates = batch.groupBy("event_type")
      .agg(sum("n_kept").as("k"), sum("n_events").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble / r.getLong(2)).toMap
    assert(rates("purchase") == 1.0 && rates("signup") == 1.0 && rates("error") == 1.0)
    assert(rates("view") < 0.5 && rates("click") < 0.5)
  }

  test("st8: tier-suffixed replica types admit under the base type's quota") {
    import spark.implicits._
    // BenchTier derives replica types by suffixing "x<replica>" onto a
    // known base; the gate must admit them with the BASE quota (viewx3 ->
    // 2500bp, errorx12 -> 10000bp), not raise — that is what un-skips st8
    // in the full-tier benches.
    val suffixed = Seq(
      (1L, 1700000000000000L, 7L, "viewx3", 1.0, "{}"),
      (2L, 1700000000000000L, 8L, "errorx12", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
    val quotas = Streams.mixtureGateTransform(suffixed)
      .select("event_type", "quota_bp").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(quotas == Map("viewx3" -> 2500L, "errorx12" -> 10000L),
      s"suffixed types must inherit base quotas, got $quotas")
  }

  test("st8: an unknown event type fails loudly instead of re-bucketing") {
    import spark.implicits._
    val bogus = Seq((1L, 1700000000000000L, 7L, "mystery_type", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
    val ex = intercept[Exception] {
      Streams.mixtureGateTransform(bogus).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("st8: unexpected event type")),
      s"expected the validation raise, got: $ex")
  }

  test("st3: flatMapGroupsWithState sessionization equals the batch sessionizer") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val stream = Streams.readEventsStream(spark, eventsDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (k: Long, it: Iterator[(Long, Long, Double)], state: GroupState[Long]) => {
          // exercise real state: count sessions emitted so far for the key
          val sessions = Streams.buildSessions(k, it).toSeq
          state.update(state.getOption.getOrElse(0L) + sessions.size)
          sessions.iterator
        })
    val q = stream.toDF().writeStream.format("memory")
      .queryName("st3_mem").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st3_mem")
    val batch = Streams.st3StreamSession(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 &&
           batch.except(streamed).count() == 0,
      "streaming sessionization != batch sessionization")
  }

  test("st4: stream-stream interval join matches the batch join pair count") {
    val mkStream = () => Streams.readEventsStream(spark, eventsDir)
    val clicks = mkStream().filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      .withWatermark("ts", "2 hours")
    val purchases = mkStream().filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      .withWatermark("ts", "2 hours")
    val q = Streams.streamStreamJoinTransform(clicks, purchases)
      .select("click_id", "purchase_id")
      .writeStream.format("memory").queryName("st4_mem")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st4_mem")
    val e = Tables.events(spark, sf)
    val batch = Streams.streamStreamJoinTransform(
      e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id")),
      e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id")))
      .select("click_id", "purchase_id")
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 &&
           batch.except(streamed).count() == 0,
      "stream-stream join pairs != batch join pairs")
  }

  test("st5: streaming grid build converges to the batch cells derivation") {
    val stream = Streams.readEventsStream(spark, eventsDir)
    val q = Streams.gridBuildTransform(stream)
      .writeStream.format("memory").queryName("st5_mem")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st5_mem").filter(col("i0") >= 0)
      .select("coll", "array_id", "i0", "i1", "value")
    val batch = graft.arrays.ArrayModel.cells(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 &&
           batch.except(streamed).count() == 0,
      "streaming grid ingest != batch cells derivation")
  }

  test("st6: mapGroupsWithState throttling equals the batch rate limiter") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    val stream = Streams.readEventsStream(spark, eventsDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (k: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[Map[Long, Long]]) => {
          // state = per-day counts, merged across micro-batches
          val merged = Streams.mergeDayCounts(
            state.getOption.getOrElse(Map.empty),
            Streams.perDayCounts(it.map(e => (e._2, e._3))))
          state.update(merged)
          val (n, thr) = Streams.throttleTotals(merged)
          (k, n, thr)
        })
      .toDF("user_id", "n_requests", "n_throttled")
    val q = stream.writeStream.format("memory").queryName("st6_mem")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // update-mode memory sink keeps every per-batch update; if the source
    // ever splits into multiple micro-batches, stale partial counts linger.
    // The final state per key is its row with the highest n_requests
    // (counts only grow), so compare against exactly that.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_requests").desc)
    val streamed = spark.table("st6_mem")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .filter(col("n_throttled") > 0)
    val batch = Streams.st6StreamThrottle(spark, sf)
    val batchA18 = graft.arrays.ArrayOps.a18RateLimit(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 &&
           batch.except(streamed).count() == 0,
      "streaming throttle state != batch throttle")
    assert(batch.except(batchA18).count() == 0 &&
           batchA18.except(batch).count() == 0,
      "typed stateful throttle != window-based rate limiter")
  }

  test("st2: streaming dropDuplicates keeps one row per key") {
    val stream = Streams.readEventsStream(spark, eventsDir)
    val q = Streams.streamingDedupTransform(stream)
      .writeStream.format("memory").queryName("st2_mem")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st2_mem")
    val expectedKeys = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct().count()
    assert(streamed.count() == expectedKeys)
    assert(streamed.groupBy("user_id", "event_type").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("st9: streaming shard router converges to batch and agrees with m5") {
    val docsDir = {
      val d = java.nio.file.Files.createTempDirectory("graft-stream-shard")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/documents.parquet"),
        d.resolve("documents.parquet"))
      d.toString
    }
    val stream = Streams.readDocumentsStream(spark, docsDir)
    val q = Streams.shardRouterTransform(stream)
      .writeStream.format("memory").queryName("st9_mem")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st9_mem")
    val batch = Streams.st9StreamShardRouter(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 &&
           batch.except(streamed).count() == 0,
      "streaming shard report != batch shard report")
    // the router and the batch manifest (m5) place every doc identically:
    // per-shard doc counts must agree
    val manifest = graft.pipeline.Multimodal.m5PairManifest(spark, sf)
      .groupBy("shard").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    batch.collect().foreach { r =>
      assert(manifest(r.getLong(0)) == r.getLong(1),
        s"shard ${r.getLong(0)}: router count != manifest count")
    }
  }

  test("st7: stream-static decontamination converges to the batch result") {
    // streaming corpus side, STATIC broadcast benchmark side — the
    // stream-static join shape (the static plan re-executes per
    // micro-batch; the stream never shuffles by shingle)
    val docsDir = {
      val d = java.nio.file.Files.createTempDirectory("graft-stream-docs")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/documents.parquet"),
        d.resolve("documents.parquet"))
      d.toString
    }
    val stream = Streams.readDocumentsStream(spark, docsDir)
    val bench = Streams.benchmarkShingles(spark, sf)
    val q = Streams.decontaminateTransform(stream, bench)
      .writeStream.format("memory").queryName("st7_mem")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st7_mem")
    val batch = Streams.st7StreamDecontaminate(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 &&
           batch.except(streamed).count() == 0,
      "stream-static decontamination != batch decontamination")
  }

  test("st7 batch form agrees with d9: the ingest gate matches the batch decontaminator") {
    // Intentional contract, not duplication: d9 runs on the family's
    // global hash-distinct corpus representation, st7 on the per-row
    // (streaming-legal) formulation. A document admitted by the streaming
    // gate but dropped by the batch decontaminator (or vice versa) would
    // silently split the corpus between the two ingest paths.
    val d9 = graft.pipeline.Dedup.d9Decontaminate(spark, sf)
    val st7 = Streams.st7StreamDecontaminate(spark, sf)
    assert(st7.count() > 0)
    assert(st7.except(d9).count() == 0 && d9.except(st7).count() == 0,
      "streaming ingest gate disagrees with the batch decontaminator")
  }

  test("st1 watermark: rows older than the watermark are DROPPED, finalized windows stay closed") {
    // The convergence tests replay a static file (nothing is ever late),
    // so the semantics the watermark exists for — bounded state via late
    // discard — was asserted nowhere. MemoryStream gives batch-level
    // control: advance event time past the 2h watermark to finalize the
    // [1,2)h window in append mode, then inject a row INTO that window
    // and prove it changes nothing.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = Streams.windowAggTransform(
        mem.toDF.toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("st1_late")
      .outputMode("append").start()
    def t(h: Double) = new java.sql.Timestamp((h * 3600 * 1000).toLong)
    try {
      mem.addData((t(1.25), "click", 1.0), (t(1.5), "click", 2.0))
      q.processAllAvailable()
      mem.addData((t(10.0), "view", 5.0)) // watermark -> 8h: [1,2) closes
      q.processAllAvailable()
      mem.addData((t(1.75), "click", 100.0)) // 6h15m late: must be dropped
      q.processAllAvailable()
      mem.addData((t(20.0), "view", 1.0)) // advance again: flush [10,11)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("st1_late")
      .select("window_start", "event_type", "total_value", "n_events").collect()
    val w1 = rows.filter(r => r.getLong(0) == 3600L && r.getString(1) == "click")
    assert(w1.length == 1, s"window [1,2)h emitted ${w1.length} times (append mode => exactly once)")
    assert(w1.head.getDouble(2) == 3.0 && w1.head.getLong(3) == 2L,
      s"late row leaked into the finalized window: ${w1.head}")
    assert(rows.exists(r => r.getLong(0) == 36000L && r.getString(1) == "view"),
      "the watermark-advancing window itself never emitted")
  }

  test("st10: streaming quality gate converges to batch; verdicts equal t8 doc-for-doc") {
    val docsDir = {
      val d = java.nio.file.Files.createTempDirectory("graft-stream-quality")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/documents.parquet"),
        d.resolve("documents.parquet"))
      d.toString
    }
    val stream = Streams.readDocumentsStream(spark, docsDir)
    val q = Streams.qualityGateTransform(stream)
      .writeStream.format("memory").queryName("st10_mem")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st10_mem")
    val batch = Streams.st10StreamQualityGate(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 &&
           batch.except(streamed).count() == 0,
      "streaming admission report != batch admission report")
    // The gate's stateless per-row verdict must be BIT-IDENTICAL to t8's
    // verdict computed the grouped way (token explode + groupBy(doc_id)
    // for t2/t6, t7's grouped repetition — the reference plan t8 ran
    // before it became this same row-local verdict): every doc, same
    // keep flag, same reject reason.
    val t8 = graft.pipeline.ReferencePlans.t8Grouped(spark, sf)
      .select("doc_id", "keep", "reject_reason").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    val v = graft.pipeline.TextAnalysis.qualityVerdicts(Tables.documents(spark, sf))
      .select("doc_id", "keep", "reject_reason").collect()
    assert(v.length == t8.size, s"verdict count ${v.length} != t8 ${t8.size}")
    v.foreach { r =>
      assert(t8(r.getLong(0)) == ((r.getBoolean(1), r.getString(2))),
        s"doc ${r.getLong(0)}: stream verdict ${(r.getBoolean(1), r.getString(2))}" +
          s" != t8 ${t8(r.getLong(0))}")
    }
    // non-vacuity: the corpus must exercise more than one verdict class
    assert(streamed.count() > 1,
      "admission report has a single verdict class; the gate test is vacuous")
  }

  test("st11: CMS grid converges over MULTIPLE micro-batches and merges by addition") {
    import org.apache.spark.sql.functions._
    // Stage the corpus as TWO files and force one file per trigger, so
    // the stream genuinely crosses a micro-batch boundary — the grid
    // must come out identical to the batch build anyway (cell counts
    // merge by addition; no split can change them).
    val staging = java.nio.file.Files.createTempDirectory("graft-stream-cms")
    Seq(("even", "doc_id % 2 = 0"), ("odd", "doc_id % 2 = 1")).foreach {
      case (tag, pred) =>
        val tmp = java.nio.file.Files.createTempDirectory(s"graft-cms-$tag")
        Tables.documents(spark, sf).filter(expr(pred)).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = new java.io.File(tmp.toString).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath, staging.resolve(s"$tag.parquet"))
    }
    val stream = spark.readStream
      .schema(spark.read.parquet(staging.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staging.toString)
    val q = Streams.cmsCellsTransform(stream)
      .writeStream.format("memory").queryName("st11_mem")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st11_mem")
    val batch = Streams.st11StreamHeavyHitters(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 &&
           batch.except(streamed).count() == 0,
      "multi-batch streamed CMS grid != batch CMS grid")
    // The merge law itself, stated directly in batch: per-half grids
    // summed cell-for-cell equal the whole-corpus grid.
    def grid(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
      Streams.cmsCellsTransform(df).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val docs = Tables.documents(spark, sf)
    val whole = grid(docs)
    val even = grid(docs.filter(expr("doc_id % 2 = 0")))
    val odd = grid(docs.filter(expr("doc_id % 2 = 1")))
    assert(whole.nonEmpty)
    whole.foreach { case (cell, n) =>
      assert(even.getOrElse(cell, 0L) + odd.getOrElse(cell, 0L) == n,
        s"cell $cell: ${even.getOrElse(cell, 0L)} + ${odd.getOrElse(cell, 0L)} != $n")
    }
  }

  test("st11: the streamed grid answers point queries bit-identically to t12") {
    import org.apache.spark.sql.functions._
    // Re-derive every tracked token's estimate from st11's grid alone
    // (min over the token's CmsRows cells) and compare against t12's
    // cms_est — the stream-owned sketch and the batch evaluation must
    // agree exactly, or live point queries drift from the offline report.
    val grid = Streams.st11StreamHeavyHitters(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val t12 = graft.pipeline.TextAnalysis.t12HeavyHitters(spark, sf)
    import graft.pipeline.TextAnalysis.{CmsRows, cmsBucketSpark}
    val probes = t12.select(col("tok"), col("cms_est"))
      .withColumn("cells", array((0 until CmsRows).map { r =>
        struct(lit(r).as("r"), cmsBucketSpark(r).as("bucket"))
      }: _*))
      .collect()
    assert(probes.nonEmpty)
    probes.foreach { row =>
      val est = row.getSeq[org.apache.spark.sql.Row](2)
        .map(c => grid((c.getInt(0), c.getLong(1)))).min
      assert(est == row.getLong(1),
        s"token ${row.getString(0)}: grid-derived estimate $est != t12 ${row.getLong(1)}")
    }
  }
}
