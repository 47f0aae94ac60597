package graft.streaming

import graft.{Det, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2-D Structured Streaming over the `events` table.
  *
  * The same transform runs in both modes: `readStream` + watermark for the
  * streaming path (exercised in StreamingSpec against a file source), and
  * the batch DataFrame for the driver's oracle (Catalyst eliminates the
  * watermark node on batch). That's the Spark-native contract: one logical
  * plan, two execution modes.
  */
object Streams {

  /** The events schema a stream defined over an EMPTY staging directory
    * uses (nothing staged yet = nothing to peek at). NTZ matches the
    * current generator's TIMESTAMP(MICROS, adjustedToUTC=false) encoding;
    * normalizeTs casts it to TimestampType either way.
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Stream events from a directory of events parquet files (file-source
    * contract: the path must be a directory; new files become new
    * micro-batches). Streaming sources need an explicit schema, and ts has
    * shipped as nanos long, micros-UTC timestamp, and micros-NTZ across
    * testdata generations (see Tables.normalizeTs) — peek at the staged
    * files with a batch read so the stream uses whichever encoding is
    * actually on disk, then normalize to TimestampType. ONLY an empty or
    * not-yet-created staging directory (stream defined before the first
    * file lands) falls back to the declared current-generation schema —
    * the emptiness is checked explicitly by listing the path, so a real
    * analysis failure over staged files (corrupt footer, conflicting
    * schemas, permissions) surfaces HERE, at definition time, instead of
    * being masked by the fallback and resurfacing later as a confusing
    * stream-time schema mismatch.
    */
  def readEventsStream(s: SparkSession, eventsDir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = new org.apache.hadoop.fs.Path(eventsDir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val hasParquet = fs.exists(path) && {
      val it = fs.listFiles(path, true)
      var found = false
      while (!found && it.hasNext) {
        val name = it.next().getPath.getName
        found = name.endsWith(".parquet") &&
          !name.startsWith("_") && !name.startsWith(".")
      }
      found
    }
    val onDisk = if (hasParquet) s.read.parquet(eventsDir).schema else eventsSchema
    Tables.normalizeTs(s.readStream.schema(onDisk).parquet(eventsDir))
  }

  // --- st1_stream_window: tumbling 1h window + watermark ------------------
  /** Shared transform: watermarked tumbling-window aggregation. */
  def windowAggTransform(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(Det.dsum(col("value")).as("total_value"),
           count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
              col("event_type"), col("total_value"), col("n_events"))

  def st1StreamWindow(s: SparkSession, dir: String): DataFrame =
    windowAggTransform(Tables.events(s, dir))
      .orderBy("window_start", "event_type")

  val st1Sql: String =
    s"""SELECT CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS window_start,
       |  event_type, ${Det.sqlDsum("value")} AS total_value,
       |  COUNT(*) AS n_events
       |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  // --- st2_stream_dedup: first event per (user, type) ---------------------
  /** Shared transform: streaming dropDuplicates semantics = keep the
    * earliest-event-time row per key. Batch form uses min_by so the result
    * is deterministic and oracle-checkable.
    */
  def st2StreamDedup(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id", "event_type")
      .agg(min_by(col("event_id"), col("ts")).as("first_event_id"),
           unix_micros(min(col("ts"))).as("first_ts_us"))
      .orderBy("user_id", "event_type")

  /** The genuinely-streaming dedup used by the spec. */
  def streamingDedupTransform(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicates("user_id", "event_type")

  val st2Sql: String =
    """SELECT user_id, event_type,
      |  arg_min(event_id, ts) AS first_event_id,
      |  CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_ts_us
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  // --- st3_stream_session: custom per-key state (sessionization) ---------
  /** One closed session per row. total_value is an exact decimal sum
    * (HALF_UP at scale 4 per element, like CAST(x AS DECIMAL(18,4))) so it
    * matches the oracle bit-exactly.
    */
  case class SessionRow(user_id: Long, sess_idx: Long, n_events: Long,
                        start_us: Long, end_us: Long, total_value: Double)

  val SessionGapUs: Long = 30L * 60 * 1000000

  /** Shared sessionizer: split a user's (ts_us, value) events into
    * 30-min-gap sessions. Used by the batch query via flatMapGroups and by
    * the streaming path via flatMapGroupsWithState (StreamingSpec).
    */
  def buildSessions(userId: Long,
                    events: Iterator[(Long, Long, Double)]): Iterator[SessionRow] = {
    val sorted = events.map(e => (e._2, e._3)).toArray.sortBy(_._1)
    if (sorted.isEmpty) Iterator.empty
    else {
      val out = Seq.newBuilder[SessionRow]
      var sessIdx = 0L
      var start = 0L; var last = Long.MinValue
      var n = 0L; var sum = java.math.BigDecimal.ZERO
      def close(): Unit = if (n > 0)
        out += SessionRow(userId, sessIdx, n, start, last, sum.doubleValue)
      for ((ts, v) <- sorted) {
        if (last == Long.MinValue || ts - last > SessionGapUs) {
          close()
          sessIdx += 1; start = ts; n = 0; sum = java.math.BigDecimal.ZERO
        }
        last = ts; n += 1
        sum = sum.add(java.math.BigDecimal.valueOf(v)
          .setScale(4, java.math.RoundingMode.HALF_UP))
      }
      close()
      out.result().iterator
    }
  }

  def st3StreamSession(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups((k: Long, it: Iterator[(Long, Long, Double)]) => buildSessions(k, it))
      .toDF()
      .orderBy("user_id", "sess_idx")
  }

  val st3Sql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN LAG(ts) OVER w IS NULL
       |          OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > $SessionGapUs
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       |), sess AS (
       |  SELECT user_id, value, epoch_us(ts) AS ts_us,
       |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
       |                        ROWS UNBOUNDED PRECEDING) AS sess_idx
       |  FROM flagged)
       |SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
       |  COUNT(*) AS n_events, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
       |  ${graft.Det.sqlDsum("value")} AS total_value
       |FROM sess GROUP BY user_id, sess_idx
       |ORDER BY user_id, sess_idx""".stripMargin

  // --- st4_stream_join: stream-stream interval join -----------------------
  /** Clicks joined to purchases of the same user within the preceding
    * hour. The time-interval condition is what makes this streamable:
    * watermarks bound both sides' state retention. The same join runs in
    * batch for the oracle (`streamStreamJoinTransform` applied to two
    * batch DataFrames) and in the streaming spec against two file-stream
    * sources.
    */
  def streamStreamJoinTransform(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    clicks.alias("c").join(purchases.alias("p"), expr(
      """c.user_id = p.user_id
        |AND c.ts >= p.ts - INTERVAL 1 HOUR
        |AND c.ts < p.ts""".stripMargin))
  }

  def st4StreamJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    streamStreamJoinTransform(clicks, purchases)
      .groupBy(col("p.user_id").as("user_id"), col("purchase_id"))
      .agg(count(lit(1)).as("n_recent_clicks"),
           max(col("click_id")).as("max_click_id"))
      .orderBy("purchase_id")
  }

  val st4Sql: String =
    """SELECT p.user_id AS user_id, p.event_id AS purchase_id,
      |  COUNT(*) AS n_recent_clicks, MAX(c.event_id) AS max_click_id
      |FROM events p
      |JOIN events c ON c.user_id = p.user_id
      |  AND c.event_type = 'click'
      |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
      |  AND epoch_us(c.ts) < epoch_us(p.ts)
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.user_id, p.event_id
      |ORDER BY purchase_id""".stripMargin

  // --- st5_stream_grid_build: streaming ingest into the array store -------
  /** The cells derivation (ArrayModel.cells / base.py:111 create) as an
    * INCREMENTAL materialized view: the same grid aggregation keyed on an
    * event-time day window, so a stream of raw events maintains the
    * partitioned cell table continuously (watermark bounds state; late
    * cells re-emit their updated aggregate). At 100 TB this is how the
    * array store ingests — no batch recompute of the whole grid.
    */
  def gridBuildTransform(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 day"),
               col("event_type").as("array_id"),
               pmod(col("user_id"), lit(graft.arrays.ArrayModel.Dim1Size))
                 .cast("long").as("i1"))
      .agg(Det.dsum(col("value")).as("value"))
      .select(lit(graft.arrays.ArrayModel.Coll).as("coll"), col("array_id"),
              datediff(to_date(col("window.start")),
                       lit("2024-01-01").cast("date")).cast("long").as("i0"),
              col("i1"), col("value"))

  def st5StreamGridBuild(s: SparkSession, dir: String): DataFrame =
    gridBuildTransform(Tables.events(s, dir))
      .filter(col("i0") >= 0)
      .orderBy("array_id", "i0", "i1")

  val st5Sql: String =
    s"""WITH ${graft.arrays.ArrayModel.cellsSql}
       |SELECT coll, array_id, i0, i1, value FROM cells
       |ORDER BY array_id, i0, i1""".stripMargin

  // --- st6_stream_throttle: stateful flow control (429) in streaming -----
  /** Per-user throttle summary: same semantics as the batch rate limiter
    * (ArrayOps.a18RateLimit — per-(user, day) cap of RateCap, ordered by
    * (ts, event_id)), computed as per-key state so it runs under
    * mapGroupsWithState on a stream: state = per-day counts, emission =
    * (n_requests, n_throttled). The shared kernel keeps batch and
    * streaming bit-identical.
    */
  /** Per-day request counts for one user's events ((ts_us, event_id)).
    * This is the streaming STATE shape: maps merge across micro-batches
    * (a day split over two batches still counts once), so batch and
    * streaming agree for any batch boundary.
    */
  def perDayCounts(events: Iterator[(Long, Long)]): Map[Long, Long] = {
    val perDay = scala.collection.mutable.LongMap.empty[Long]
    events.foreach { case (tsUs, _) =>
      val d = tsUs / 86400000000L
      perDay(d) = perDay.getOrElse(d, 0L) + 1
    }
    perDay.toMap
  }

  def mergeDayCounts(a: Map[Long, Long], b: Map[Long, Long]): Map[Long, Long] =
    b.foldLeft(a) { case (m, (d, c)) => m.updated(d, m.getOrElse(d, 0L) + c) }

  /** (n_requests, n_throttled) from merged per-day counts. */
  def throttleTotals(perDay: Map[Long, Long]): (Long, Long) =
    (perDay.values.sum,
     perDay.values.map(c => math.max(0L, c - graft.arrays.ArrayOps.RateCap)).sum)

  def st6StreamThrottle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (k: Long, it: Iterator[(Long, Long, Long)]) =>
        val (n, thr) = throttleTotals(perDayCounts(it.map(e => (e._2, e._3))))
        (k, n, thr)
      }
      .toDF("user_id", "n_requests", "n_throttled")
      .filter(col("n_throttled") > 0)
      .orderBy("user_id")
  }

  /** Oracle: identical to the batch rate limiter's (the two operators are
    * the same contract on two execution paths).
    */
  val st6Sql: String = graft.arrays.ArrayOps.a18Sql

  // --- st7_stream_decontaminate: stream-static decontamination ------------
  /** File sources need an explicit schema; derive it from the parquet
    * footer ([[Tables.footerSchema]], on the driver) rather than hand-
    * duplicating it — a drifted corpus schema must fail loudly here, not
    * read silent all-null columns.
    */
  def readDocumentsStream(s: SparkSession, docsDir: String): DataFrame =
    s.readStream.schema(Tables.footerSchema(s, docsDir)
      .getOrElse(s.read.parquet(docsDir).schema)).parquet(docsDir)

  /** Benchmark shingle fingerprints (docs 0-19) from the STATIC corpus —
    * the small side of the stream-static join, planned once and broadcast
    * into every micro-batch.
    */
  def benchmarkShingles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") < 20)
      .withColumn("toks", split(col("text"), " "))
      .select(explode(array_distinct(graft.pipeline.Dedup.shingleCol)).as("sgl"))
      .select(graft.functions.GenKey(col("sgl")).as("h")).distinct()

  /** d9's decontamination contract (shared >= ContamThreshold distinct
    * 3-shingles with the benchmark) as a stream-static join: new corpus
    * documents arrive as a stream and are checked against the static
    * broadcast benchmark set before admission — the streaming ingest gate
    * of a training-data pipeline. Streaming allows one aggregation, so
    * the per-doc shingle dedupe happens per-ROW (array_distinct before
    * explode) instead of d9's global distinct; the oracle mirrors that
    * formulation exactly.
    */
  def decontaminateTransform(docs: DataFrame, bench: DataFrame): DataFrame =
    docs
      .filter(col("doc_id") >= 20)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode(array_distinct(graft.pipeline.Dedup.shingleCol)).as("sgl"))
      .select(col("doc_id"), graft.functions.GenKey(col("sgl")).as("h"))
      .join(broadcast(bench), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= graft.pipeline.Dedup.ContamThreshold)

  def st7StreamDecontaminate(s: SparkSession, dir: String): DataFrame =
    decontaminateTransform(Tables.documents(s, dir), benchmarkShingles(s, dir))
      .orderBy("doc_id")

  val st7Sql: String = {
    val sgl = graft.arrays.HashRing.duckGenKey("s")
    s"""WITH hs AS (
       |  SELECT doc_id, $sgl AS h FROM (
       |    SELECT doc_id, unnest(list_distinct(
       |      CASE WHEN len(t) >= 3
       |           THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |           ELSE [array_to_string(t, ' ')] END)) AS s
       |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
       |bench AS (SELECT DISTINCT h FROM hs WHERE doc_id < 20)
       |SELECT doc_id, COUNT(*) AS n_shared
       |FROM hs JOIN bench USING (h)
       |WHERE doc_id >= 20
       |GROUP BY doc_id
       |HAVING COUNT(*) >= ${graft.pipeline.Dedup.ContamThreshold}
       |ORDER BY doc_id""".stripMargin
  }

  // --- st8_stream_mixture: hash-threshold sampling as an ingest gate ------
  /** d8's deterministic mixture sampling moved to the stream boundary:
    * each arriving event is kept by the same hash-threshold rule a batch
    * re-run would apply (pmod of the ring hash of its identity < the
    * type's quota), so the sampled stream is REPRODUCIBLE — replaying the
    * log yields bit-identical admission decisions, and a batch backfill
    * agrees with what the live gate admitted. Heavy telemetry types
    * (view/click) keep 25%; business-critical types keep everything.
    * Unknown types fail loudly (raise_error) rather than silently
    * re-bucketing — same doctrine as d8's source validation. The scale
    * tiers' generator derives replica types by suffixing a known base
    * with "x<replica>" (BenchTier), so the whitelist admits those under
    * the BASE type's quota — a replica inherits its original's admission
    * behavior, keeping tier growth linear by construction — while a type
    * whose base is not whitelisted still raises.
    * The keep decision itself is stateless/map-side (zero shuffle at the
    * gate); the windowed admission report is ONE watermarked streaming
    * aggregation, the standard monitoring sink.
    */
  private val St8BasePattern = "^(view|click|purchase|signup|error)(x[0-9]+)?$"

  private def st8Quota: Column = {
    val base = regexp_extract(col("event_type"), St8BasePattern, 1)
    when(base.isin("view", "click"), 2500L)
      .when(base.isin("purchase", "signup", "error"), 10000L)
      .otherwise(raise_error(
        concat(lit("st8: unexpected event type: "), col("event_type"))))
  }

  def mixtureGateTransform(events: DataFrame): DataFrame =
    events
      .withColumn("quota_bp", st8Quota)
      .withColumn("kept",
        pmod(graft.functions.GenKey(
          concat(col("event_type"), lit("/"), col("event_id").cast("string"))),
          lit(10000L)) < col("quota_bp"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"), col("quota_bp"))
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
              col("event_type"), col("quota_bp"), col("n_events"), col("n_kept"),
              (col("n_kept").cast("double") / col("n_events").cast("double"))
                .as("keep_rate"))

  def st8StreamMixture(s: SparkSession, dir: String): DataFrame =
    mixtureGateTransform(Tables.events(s, dir))
      .orderBy("window_start", "event_type")

  val st8Sql: String = {
    val h = graft.arrays.HashRing.duckGenKey(
      "event_type || '/' || CAST(event_id AS VARCHAR)")
    s"""SELECT CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS window_start,
       |  event_type, quota_bp, COUNT(*) AS n_events,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE) AS keep_rate
       |FROM (
       |  SELECT ts, event_type, quota_bp, ($h) % 10000 < quota_bp AS kept
       |  FROM (
       |    SELECT ts, event_type, event_id,
       |      CAST(CASE WHEN regexp_extract(event_type, '$St8BasePattern', 1) IN ('view', 'click') THEN 2500
       |                WHEN regexp_extract(event_type, '$St8BasePattern', 1) IN ('purchase', 'signup', 'error') THEN 10000
       |                ELSE CAST(error('st8: unexpected event type: ' || event_type) AS INTEGER)
       |           END AS BIGINT) AS quota_bp
       |    FROM events))
       |GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin
  }

  // --- st9_stream_shard_router: the streaming ingest writer's view --------
  /** m5's deterministic shard assignment applied at the stream boundary:
    * each arriving document is routed to its shard by the same ring-hash
    * rule a batch backfill computes (bit-identical placement, no catalog),
    * and the sink-side balance report — records/bytes per shard — is the
    * single aggregation a streaming writer watches for hot shards.
    * Documents carry no event time, so the report runs in complete mode
    * over the corpus-so-far (st7's shape); the per-row routing itself is
    * stateless and map-side, exactly like st8's keep decision.
    */
  def shardRouterTransform(docs: DataFrame): DataFrame =
    docs
      .withColumn("shard", graft.pipeline.Multimodal.shardOf(col("doc_id")))
      .withColumn("n_bytes", length(encode(col("text"), "UTF-8")).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_bytes")).as("total_bytes"),
           max(col("n_bytes")).as("max_doc_bytes"))

  def st9StreamShardRouter(s: SparkSession, dir: String): DataFrame =
    shardRouterTransform(Tables.documents(s, dir))
      .orderBy("shard")

  val st9Sql: String = {
    val h = graft.arrays.HashRing.duckGenKey("'m5/' || CAST(doc_id AS VARCHAR)")
    s"""SELECT ($h) % ${graft.pipeline.Multimodal.ShardCount} AS shard,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
       |  CAST(MAX(strlen(text)) AS BIGINT) AS max_doc_bytes
       |FROM documents
       |GROUP BY 1 ORDER BY shard""".stripMargin
  }

  // --- st10_stream_quality_gate: t8's filter at the ingest boundary -------
  /** t8's one-verdict-per-document quality filter moved to the stream
    * boundary, completing the gate symmetry — every batch curation gate
    * now has a stream twin: d9→st7 (decontamination), d8→st8 (mixture),
    * m5→st9 (sharding), t8→st10 (quality). The verdict is t8's own
    * [[graft.pipeline.TextAnalysis.qualityVerdicts]], which is STATELESS
    * (every signal is a per-row array size), so the stream verdict is
    * t8's by construction: no shuffle, no state store,
    * replay-deterministic admission. The admission report — doc/token
    * counts per verdict — is the one complete-mode rollup the ingest
    * writer watches (documents carry no event time; st9's shape).
    */
  def qualityGateTransform(docs: DataFrame): DataFrame =
    graft.pipeline.TextAnalysis.qualityVerdicts(docs)
      .groupBy("keep", "reject_reason")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("total_tokens"))

  def st10StreamQualityGate(s: SparkSession, dir: String): DataFrame =
    qualityGateTransform(Tables.documents(s, dir))
      .orderBy("reject_reason")

  val st10Sql: String = {
    import graft.pipeline.TextAnalysis.{MinQuality, MinTtr, MaxDupBigramFrac}
    val allMarkers = graft.pipeline.TextAnalysis.markers.values.flatten.toSeq.sorted
    val hit = allMarkers.map(w => s"t = '$w'").mkString(" OR ")
    val h = graft.arrays.HashRing.duckGenKey("(toks[i] || ' ' || toks[i+1])")
    s"""WITH base AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), t -> $hit)) AS BIGINT) AS n_marker,
       |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS len_nospace
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, n_tokens,
       |    LEAST(CAST(n_tokens AS DOUBLE) / 100, 1.0) * 0.4 +
       |      (CAST(n_marker AS DOUBLE) / n_tokens) * 0.3 +
       |      LEAST((CAST(len_nospace AS DOUBLE) / n_tokens) / 8, 1.0) * 0.3 AS quality,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) /
       |      CAST(n_tokens AS DOUBLE) AS ttr,
       |    CASE WHEN len(toks) >= 2 THEN
       |      CAST(len(list_transform(range(1, len(toks)), i -> $h)) -
       |           len(list_distinct(list_transform(range(1, len(toks)), i -> $h)))
       |        AS DOUBLE) / len(list_transform(range(1, len(toks)), i -> $h))
       |    ELSE 0.0 END AS dup_bigram_frac
       |  FROM base),
       |verdicts AS (
       |  SELECT doc_id, n_tokens,
       |    quality >= $MinQuality AND ttr >= $MinTtr
       |      AND dup_bigram_frac <= $MaxDupBigramFrac AS keep,
       |    CASE WHEN quality < $MinQuality THEN 'low_quality'
       |         WHEN ttr < $MinTtr THEN 'low_diversity'
       |         WHEN dup_bigram_frac > $MaxDupBigramFrac THEN 'repetitive'
       |         ELSE 'ok' END AS reject_reason
       |  FROM scored)
       |SELECT keep, reject_reason, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM verdicts GROUP BY 1, 2 ORDER BY reject_reason""".stripMargin
  }

  // --- st11_stream_heavy_hitters: CMS sketch state as a streaming view ---
  /** t12's count-min sketch maintained AT THE STREAM BOUNDARY — the
    * canonical streaming use of a sketch: the cell grid is the entire
    * state (CmsRows×CmsWidth longs at ANY corpus size), each arriving
    * document only increments cells, and cell counts merge by ADDITION —
    * associative and commutative, so any micro-batch split, partition
    * layout, or replay order yields the bit-identical grid (PROVEN in
    * StreamingSpec: split-corpus grids summed equal the whole-corpus
    * grid, and a live complete-mode stream converges to the batch grid).
    * This completes the sketch's gate symmetry (t12→st11, like t8→st10):
    * batch evaluates the sketch, the stream OWNS it. Cell hashes are
    * t12's exact kernel (shared cmsBucketSpark — the native GenKey u32
    * with per-row prefixes), so the streamed grid answers point queries
    * bit-identically to the batch sketch; StreamingSpec re-derives t12's
    * estimates from this grid and proves them equal. The aggregation is
    * ONE partial-agg'd groupBy whose output is bounded by construction —
    * map-side combine collapses every partition to ≤ CmsRows·CmsWidth
    * rows before the only shuffle; documents carry no event time, so the
    * monitoring sink runs complete-mode over the corpus-so-far (st9's
    * shape) while a production ingest would window by arrival time.
    */
  def cmsCellsTransform(docs: DataFrame): DataFrame = {
    import graft.pipeline.TextAnalysis.{CmsRows, cmsBucketSpark}
    docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(explode(array((0 until CmsRows).map { r =>
        struct(lit(r).as("r"), cmsBucketSpark(r).as("bucket"))
      }: _*)).as("cell"))
      .groupBy(col("cell.r").as("r"), col("cell.bucket").as("bucket"))
      .agg(count(lit(1)).as("cell_n"))
  }

  def st11StreamHeavyHitters(s: SparkSession, dir: String): DataFrame =
    cmsCellsTransform(Tables.documents(s, dir))
      .orderBy("r", "bucket")

  val st11Sql: String = {
    import graft.pipeline.TextAnalysis.{CmsRows, cmsBucketDuck}
    val cellSelects = (0 until CmsRows)
      .map(r => s"SELECT $r AS r, ${cmsBucketDuck(r)} AS bucket FROM toks")
      .mkString("\n    UNION ALL ")
    s"""WITH toks AS (
       |  SELECT t.tok FROM documents, unnest(string_split(text, ' ')) AS t(tok)
       |  WHERE len(t.tok) > 0)
       |SELECT r, bucket, COUNT(*) AS cell_n FROM (
       |    $cellSelects)
       |GROUP BY r, bucket ORDER BY r, bucket""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st11_stream_heavy_hitters" -> (st11StreamHeavyHitters _),
    "st8_stream_mixture" -> (st8StreamMixture _),
    "st9_stream_shard_router" -> (st9StreamShardRouter _),
    "st10_stream_quality_gate" -> (st10StreamQualityGate _),
    "st1_stream_window" -> (st1StreamWindow _),
    "st2_stream_dedup" -> (st2StreamDedup _),
    "st3_stream_session" -> (st3StreamSession _),
    "st4_stream_join" -> (st4StreamJoin _),
    "st5_stream_grid_build" -> (st5StreamGridBuild _),
    "st6_stream_throttle" -> (st6StreamThrottle _),
    "st7_stream_decontaminate" -> (st7StreamDecontaminate _),
  )

  val oracles: Map[String, String] = Map(
    "st11_stream_heavy_hitters" -> st11Sql,
    "st8_stream_mixture" -> st8Sql,
    "st9_stream_shard_router" -> st9Sql,
    "st10_stream_quality_gate" -> st10Sql,
    "st1_stream_window" -> st1Sql,
    "st2_stream_dedup" -> st2Sql,
    "st3_stream_session" -> st3Sql,
    "st4_stream_join" -> st4Sql,
    "st5_stream_grid_build" -> st5Sql,
    "st6_stream_throttle" -> st6Sql,
    "st7_stream_decontaminate" -> st7Sql,
  )
}
