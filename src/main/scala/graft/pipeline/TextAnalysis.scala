package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2-C text analysis: language-ID, quality scoring, token counting,
  * fingerprinting over `documents`. All pure column expressions — no UDFs,
  * no shuffle (except final ordering); at 100 TB these are embarrassingly
  * parallel map-side transforms that stay inside whole-stage codegen.
  */
object TextAnalysis {

  /** Per-"language" marker token sets for the n-gram-heuristic language ID.
    * (The corpus is synthetic; the operator demonstrates the mechanics:
    * score = marker hits, argmax with lexicographic tiebreak.)
    */
  val markers: Map[String, Seq[String]] = Map(
    "de" -> Seq("data", "key", "group"),
    "en" -> Seq("the", "a", "order"),
    "es" -> Seq("table", "row", "value"),
    "fr" -> Seq("join", "filter", "merge"),
    "zh" -> Seq("hash", "scan", "sort"))

  private val langs = markers.keys.toSeq.sorted

  /** `docs`' `cols` sorted by `doc_id`, for a per-row kernel to run on
    * top of. The sort goes below the kernel because a range exchange runs
    * its child twice (once to sample the bounds, once to shuffle): a
    * kernel projected beneath the orderBy would run twice per row.
    */
  private def byDocId(docs: DataFrame, cols: String*): DataFrame =
    docs.select(cols.map(col): _*).orderBy("doc_id")

  // --- t1_langid ----------------------------------------------------------
  def t1Langid(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val scored = byDocId(Tables.documents(s, dir), "doc_id", "lang", "text")
      .withColumn("toks", toks)
    val withScores = markers.foldLeft(scored) { case (df, (lang, ws)) =>
      df.withColumn(s"score_$lang",
        graft.functions.CountInSet(col("toks"), new graft.functions.WordSet(ws)).cast("long"))
    }
    // argmax with lexicographic tiebreak: iterate langs in sorted order,
    // strict > keeps the earlier lang on ties
    val (l0 :: rest) = langs.toList: @unchecked
    val pred = rest.foldLeft((lit(l0), col(s"score_$l0"))) {
      case ((bestLang, bestScore), lang) =>
        val sc = col(s"score_$lang")
        (when(sc > bestScore, lit(lang)).otherwise(bestLang),
         when(sc > bestScore, sc).otherwise(bestScore))
    }
    withScores
      .select(col("doc_id") +: col("lang").as("labeled_lang") +:
        pred._1.as("pred_lang") +: langs.map(l => col(s"score_$l")): _*)
  }

  val t1Sql: String = {
    val scoreExprs = langs.map { l =>
      val ws = markers(l).map(w => s"t = '$w'").mkString(" OR ")
      s"    len(list_filter(string_split(text, ' '), t -> $ws)) AS score_$l"
    }.mkString(",\n")
    val (l0 :: rest) = langs.toList: @unchecked
    val pred = rest.foldLeft(s"'$l0'" -> s"score_$l0") {
      case ((bl, bs), l) =>
        (s"CASE WHEN score_$l > $bs THEN '$l' ELSE $bl END",
         s"CASE WHEN score_$l > $bs THEN score_$l ELSE $bs END")
    }
    s"""WITH scored AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |$scoreExprs
       |  FROM documents)
       |SELECT doc_id, labeled_lang, ${pred._1} AS pred_lang,
       |  ${langs.map(l => s"score_$l").mkString(", ")}
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // --- t2_quality_score ---------------------------------------------------
  // length / token-length / marker-density ratios -> [0,1] quality score.
  /** THE quality/ratio formulas — single definition on purpose (the
    * splitHash doctrine): t2's score and the t8/st10 verdict both come
    * from [[withQuality]], so identical Column trees mean identical IEEE
    * arithmetic by construction, not by parallel edits.
    */
  private[pipeline] def avgTokenLenCol(lenNospace: Column, nTokens: Column): Column =
    lenNospace.cast("double") / nTokens
  private[pipeline] def markerRatioCol(nMarker: Column, nTokens: Column): Column =
    nMarker.cast("double") / nTokens
  private[pipeline] def qualityCol(nTokens: Column, markerRatio: Column,
                                   avgTokenLen: Column): Column =
    least(nTokens.cast("double") / 100, lit(1.0)) * 0.4 +
      markerRatio * 0.3 +
      least(avgTokenLen / 8, lit(1.0)) * 0.3
  /** t6's ratio, shared with the verdict for the same reason. */
  private[pipeline] def ttrCol(nTypes: Column, nTokens: Column): Column =
    nTypes.cast("double") / nTokens.cast("double")

  /** Every language's markers: t2's and the verdict's n_marker set. */
  private val markerSet = new graft.functions.WordSet(markers.values.flatten.toSeq)

  /** `docs` plus its per-row token statistics and t2's quality score:
    * toks, n_tokens, n_marker, len_nospace, avg_token_len, marker_ratio,
    * quality. Every count is an array size or string length of the row
    * itself — no explode, no shuffle. len_nospace counts the code points
    * outside the n_tokens - 1 single-space separators that `split` cut,
    * the same integer as the oracle's length(replace(text, ' ', '')).
    */
  private def withQuality(docs: DataFrame): DataFrame = {
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_marker",
        graft.functions.CountInSet(col("toks"), markerSet).cast("long"))
      .withColumn("len_nospace",
        length(col("text")).cast("long") - col("n_tokens") + 1L)
      .withColumn("avg_token_len",
        avgTokenLenCol(col("len_nospace"), col("n_tokens")))
      .withColumn("marker_ratio",
        markerRatioCol(col("n_marker"), col("n_tokens")))
      .withColumn("quality",
        qualityCol(col("n_tokens"), col("marker_ratio"), col("avg_token_len")))
  }

  def t2Quality(s: SparkSession, dir: String): DataFrame =
    withQuality(byDocId(Tables.documents(s, dir), "doc_id", "text"))
      .select("doc_id", "n_tokens", "avg_token_len", "marker_ratio", "quality")

  val t2Sql: String = {
    val allMarkers = markers.values.flatten.toSeq.sorted
    val hit = allMarkers.map(w => s"t = '$w'").mkString(" OR ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), t -> $hit)) AS BIGINT) AS n_marker,
       |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS len_nospace
       |  FROM documents)
       |SELECT doc_id, n_tokens,
       |  CAST(len_nospace AS DOUBLE) / n_tokens AS avg_token_len,
       |  CAST(n_marker AS DOUBLE) / n_tokens AS marker_ratio,
       |  LEAST(CAST(n_tokens AS DOUBLE) / 100, 1.0) * 0.4 +
       |    (CAST(n_marker AS DOUBLE) / n_tokens) * 0.3 +
       |    LEAST((CAST(len_nospace AS DOUBLE) / n_tokens) / 8, 1.0) * 0.3 AS quality
       |FROM base ORDER BY doc_id""".stripMargin
  }

  // --- t3_token_count: whitespace + BPE-ish regex tokenization ------------
  def t3TokenCount(s: SparkSession, dir: String): DataFrame =
    byDocId(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("bpe_tokens"),
        length(col("text")).cast("long").as("n_chars"))

  val t3Sql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- t4_fingerprint: rolling polynomial hash of the char stream ---------
  // fold-left (acc*31 + codepoint) mod 1e9+7 — sequential fold, identical
  // on both engines. The fold is the native RollingFingerprint
  // expression: the earlier aggregate(sequence(1, length(text)), ...)
  // HOF evaluated an interpreted lambda once per CHARACTER per row and
  // materialized a length(text)-integer scratch array per row — one
  // codegen'd call site now, same semantics (Spark's length/substring
  // and DuckDB's text[i] both count code points).
  def t4Fingerprint(s: SparkSession, dir: String): DataFrame =
    byDocId(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"),
        graft.functions.RollingFingerprint(col("text")).as("fingerprint"))

  val t4Sql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, length(text) + 1), i -> CAST(ascii(text[i]) AS BIGINT))),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- t5_top_terms: TF-IDF-style salient terms, exact arithmetic ---------
  // Classic tf-idf needs log(N/df) — but log() is libm-dependent and a
  // last-ulp divergence between engines would break the bit-exact gate, so
  // the score is the order-equivalent (for a fixed corpus) rational
  // tf/df, computed in exact integer arithmetic: score = tf·1e9 // df.
  // One shuffle for tf, one broadcast-joined df table, one window.
  def t5TopTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // tf is already one row per (doc, tok), so df = tf's group count per
    // tok — deriving it from tf instead of a second explode+distinct
    // saves a full corpus scan and its shuffle; the (doc,tok)→tok agg is
    // over the much smaller tf table
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok"))
    // no broadcast hint: the df table is vocabulary-sized (sub-linear,
    // Heaps' law — AQE broadcasts it at every test SF) but a 100 TB
    // corpus's vocabulary can outgrow broadcast; the planner must stay
    // free to hash-join on the same key
    tf.join(df, "tok")
      .withColumn("score", expr("tf * 1000000000L div df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("doc_id", "rnk", "tok", "tf", "df", "score")
      .orderBy("doc_id", "rnk")
  }

  val t5Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT tok, COUNT(*) AS df
      |       FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
      |scored AS (
      |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
      |    tf.tf * 1000000000 // df.df AS score
      |  FROM tf JOIN df USING (tok)),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |                               ORDER BY score DESC, tok) AS rnk
      |  FROM scored)
      |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok, tf, df, score
      |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  // --- t6_type_token_ratio: lexical-diversity quality signal --------------
  // TTR (distinct tokens / tokens) flags template/spam text that length or
  // punctuation ratios (t2) miss. Unlike t1-t4's map-only shape, this needs
  // a per-doc distinct — executed as the classic two-phase distinct-agg
  // (partial dedup of (doc, tok) map-side, then count) so no token list is
  // ever collected per row. The ratio is a single IEEE division of two
  // exact longs — bit-identical on both engines.
  def t6TypeTokenRatio(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           countDistinct(col("tok")).as("n_types"))
      .withColumn("ttr", ttrCol(col("n_types"), col("n_tokens")))
      .orderBy("doc_id")

  val t6Sql: String =
    """SELECT doc_id, COUNT(*) AS n_tokens,
      |  COUNT(DISTINCT tok) AS n_types,
      |  CAST(COUNT(DISTINCT tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS ttr
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |      FROM documents)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- t7_repetition: Gopher-style repetition signals ---------------------
  // The repetition family of quality filters (Rae et al. 2021 "Scaling
  // Language Models", table A1): templated/spammy text shows a high
  // duplicate-n-gram fraction and a single dominant n-gram. Word bigrams
  // here (the corpus has no line structure; token-level diversity is t6's
  // TTR). Two-phase aggregation — count per (doc, bigram-fingerprint),
  // then per doc — so no token list is ever materialized per row; bigrams
  // are fingerprinted to u32 before the shuffle (8-byte keys, hash
  // mirrored in the oracle). Both fractions are single IEEE divisions of
  // exact longs — bit-identical on both engines.
  val RepetitionThreshold = 0.2

  def t7Repetition(s: SparkSession, dir: String): DataFrame = {
    val bigrams = Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= 2,
            expr("transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))"))
          .otherwise(expr("CAST(array() AS array<string>)"))).as("g"))
      .select(col("doc_id"), graft.functions.GenKey(col("g")).as("h"))
    bigrams
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"),
           count(lit(1)).as("n_distinct_bigrams"),
           max(col("c")).as("top_count"))
      .withColumn("dup_bigram_frac",
        (col("n_bigrams") - col("n_distinct_bigrams")).cast("double") / col("n_bigrams"))
      .withColumn("top_bigram_frac",
        col("top_count").cast("double") / col("n_bigrams"))
      .withColumn("repetitive", col("dup_bigram_frac") > RepetitionThreshold)
      .select("doc_id", "n_bigrams", "n_distinct_bigrams", "top_count",
              "dup_bigram_frac", "top_bigram_frac", "repetitive")
      .orderBy("doc_id")
  }

  val t7Sql: String = {
    val h = graft.arrays.HashRing.duckGenKey("g")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |big AS (
       |  SELECT doc_id, $h AS h FROM (
       |    SELECT doc_id, unnest(
       |      CASE WHEN len(toks) >= 2
       |           THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |           ELSE [] END) AS g
       |    FROM t)),
       |bic AS (SELECT doc_id, h, COUNT(*) AS c FROM big GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |    COUNT(*) AS n_distinct_bigrams, MAX(c) AS top_count
       |  FROM bic GROUP BY doc_id)
       |SELECT doc_id, n_bigrams, n_distinct_bigrams, top_count,
       |  CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / n_bigrams AS dup_bigram_frac,
       |  CAST(top_count AS DOUBLE) / n_bigrams AS top_bigram_frac,
       |  CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / n_bigrams > $RepetitionThreshold AS repetitive
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  // --- t8_quality_filter: the shipped filter stage ------------------------
  // The text-family analogue of d10: curation pipelines don't apply
  // signals one at a time, they ship ONE filter decision per document
  // with an auditable reject reason, combining t2 (quality score), t6
  // (lexical diversity) and t7 (repetition). No new float arithmetic:
  // the thresholds compare doubles both engines already agree on
  // bit-exactly.
  val MinQuality = 0.42
  val MinTtr = 0.35
  val MaxDupBigramFrac = 0.06

  /** THE per-document quality verdict, shared by t8 (batch) and st10
    * (stream boundary): `docs` plus withQuality's columns, ttr,
    * dup_bigram_frac, keep and reject_reason. It is row-local: t6's
    * distinct-token count and t7's duplicate-bigram count are the sizes
    * of per-row `array_distinct`s over the token array and its native
    * bigram keys ([[graft.functions.BigramKeys]], the same u32 keys t7
    * groups by) — the same integers the t6/t7 groupBys produce, with no
    * explode, no shuffle and no state store. A doc of fewer than 2
    * tokens has no bigrams and counts as non-repetitive (fraction 0.0,
    * t8's oracle coalesces t7's missing row the same way). Each input
    * ROW gets one verdict: the caller's `doc_id` must be a row key
    * (`Tables.documents`' contract), since the oracle joins per-doc_id
    * aggregates.
    */
  def qualityVerdicts(docs: DataFrame): DataFrame = {
    val bigrams = graft.functions.BigramKeys(col("toks"))
    withQuality(docs)
      .withColumn("ttr",
        ttrCol(size(array_distinct(col("toks"))), col("n_tokens")))
      .withColumn("dup_bigram_frac",
        when(col("n_tokens") >= 2,
          (size(bigrams) - size(array_distinct(bigrams))).cast("double") /
            size(bigrams))
          .otherwise(lit(0.0)))
      .withColumn("keep",
        col("quality") >= MinQuality && col("ttr") >= MinTtr &&
          col("dup_bigram_frac") <= MaxDupBigramFrac)
      .withColumn("reject_reason",
        when(col("quality") < MinQuality, "low_quality")
          .when(col("ttr") < MinTtr, "low_diversity")
          .when(col("dup_bigram_frac") > MaxDupBigramFrac, "repetitive")
          .otherwise("ok"))
  }

  /** The verdict over the corpus, one row per document with text: a
    * null-text doc has no tokens to judge (its t6/t7 legs are empty), so
    * it gets no row. Plan: scan → the orderBy's one exchange → project.
    * Sorting the scanned rows first ([[byDocId]]) runs the verdict kernel
    * once per document instead of twice, at the price of an exchange that
    * carries the text instead of the verdict row (seed-1 curation corpus,
    * `local[2]` pinned to 2 CPUs: 1,058 → 807 ms median per t8).
    */
  def t8QualityFilter(s: SparkSession, dir: String): DataFrame =
    qualityVerdicts(byDocId(Tables.documents(s, dir).filter(col("text").isNotNull),
        "doc_id", "text"))
      .select("doc_id", "quality", "ttr", "dup_bigram_frac", "keep", "reject_reason")

  val t8Sql: String =
    s"""WITH t2r AS ($t2Sql),
       |t6r AS ($t6Sql),
       |t7r AS ($t7Sql)
       |SELECT t2r.doc_id, quality, ttr,
       |  COALESCE(dup_bigram_frac, 0.0) AS dup_bigram_frac,
       |  quality >= $MinQuality AND ttr >= $MinTtr
       |    AND COALESCE(dup_bigram_frac, 0.0) <= $MaxDupBigramFrac AS keep,
       |  CASE WHEN quality < $MinQuality THEN 'low_quality'
       |       WHEN ttr < $MinTtr THEN 'low_diversity'
       |       WHEN COALESCE(dup_bigram_frac, 0.0) > $MaxDupBigramFrac THEN 'repetitive'
       |       ELSE 'ok' END AS reject_reason
       |FROM t2r JOIN t6r ON t2r.doc_id = t6r.doc_id
       |         LEFT JOIN t7r ON t2r.doc_id = t7r.doc_id
       |ORDER BY t2r.doc_id""".stripMargin

  // --- t9_rarity_score: unigram-LM quality score (perplexity-filter slot) -
  // The standard pipeline stage this family still lacked: score each doc
  // by how SURPRISING its tokens are under the corpus' own unigram model
  // (CCNet/Gopher-style perplexity filtering — low scores ≈ stopword
  // boilerplate, high scores ≈ OOV/gibberish; both tails get filtered or
  // routed). Log-free for the bit-exact gate: a token's corpus count n
  // contributes rarity = bits(max_n) - bits(n) (bit length = exact
  // integer floor(log2)+1 on both engines — the log2-quantized surprisal),
  // and the doc score is the IEEE division of two exact longs.
  // Shape at scale: tokens fingerprint to u32 BEFORE the vocab agg (8-byte
  // shuffle keys); vocab = one map-side-combined agg, vocabulary-sized
  // (sub-linear in the corpus, Heaps' law) and broadcast back like t5's
  // df table — beyond broadcast range it becomes a plain hash join on the
  // same key; the 1-row max joins as a broadcast nested loop. One corpus
  // shuffle total (the per-doc agg).
  def t9RarityScore(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), graft.functions.GenKey(col("tok")).as("h"))
    val vocab = toks.groupBy("h").agg(count(lit(1)).as("n"))
      .withColumn("bits", length(bin(col("n"))).cast("long"))
    val mx = vocab.agg(max(col("bits")).as("maxbits"))
    // vocab unpinned for the same reason as t5's df table
    toks.join(vocab, "h")
      .join(broadcast(mx))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
           sum(col("maxbits") - col("bits")).as("rarity_sum"))
      .withColumn("rarity_mean",
        col("rarity_sum").cast("double") / col("n_toks").cast("double"))
      .select("doc_id", "n_toks", "rarity_sum", "rarity_mean")
      .orderBy("doc_id")
  }

  val t9Sql: String = {
    val h = graft.arrays.HashRing.duckGenKey("tok")
    s"""WITH toks AS (
       |  SELECT doc_id, $h AS h FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
       |vocab AS (
       |  SELECT h, length(bin(COUNT(*))) AS bits FROM toks GROUP BY h),
       |mx AS (SELECT MAX(bits) AS maxbits FROM vocab)
       |SELECT doc_id, COUNT(*) AS n_toks,
       |  CAST(SUM(maxbits - bits) AS BIGINT) AS rarity_sum,
       |  CAST(SUM(maxbits - bits) AS DOUBLE) / COUNT(*) AS rarity_mean
       |FROM toks JOIN vocab USING (h) CROSS JOIN mx
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --- t10_pack_sequences: token-budget training-sequence packing ---------
  // The last pre-training step a text pipeline runs: concatenate documents
  // (in a deterministic order) into fixed-budget token sequences
  // (GPT-style concatenate-and-chunk). Packing is per SOURCE — the unit a
  // mixture schedule actually packs — so the prefix sum that assigns each
  // doc its token offset is a window over (source, doc_id), embarrassingly
  // parallel across sources. Per doc: its token offset in the source
  // stream, the first/last sequence it lands in, and whether it straddles
  // a sequence boundary (the fraction of straddling docs is the
  // attention-mask fragmentation a packer wants to watch).
  // Scale: one shuffle (by source); within a source the ordered cumsum is
  // a single sorted partition — at 100 TB with few huge sources the same
  // contract runs as a two-pass per-partition prefix sum over
  // range-partitioned doc_id (partial sums + broadcast offsets); the
  // per-source window form here IS that plan for source-count >> executor
  // parallelism, which is the real mixture shape (thousands of domains).
  val SeqBudget = 256L

  def t10PackSequences(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("tok_off", sum(col("n_toks")).over(w) - col("n_toks"))
      .withColumn("first_seq", expr(s"tok_off div $SeqBudget"))
      .withColumn("last_seq", expr(s"(tok_off + n_toks - 1) div $SeqBudget"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1L)
      .withColumn("straddles", col("n_seqs") > 1L)
      .select("source", "doc_id", "n_toks", "tok_off", "first_seq",
              "last_seq", "n_seqs", "straddles")
      .orderBy("source", "doc_id")
  }

  val t10Sql: String =
    s"""SELECT source, doc_id, n_toks, tok_off,
       |  tok_off // $SeqBudget AS first_seq,
       |  (tok_off + n_toks - 1) // $SeqBudget AS last_seq,
       |  (tok_off + n_toks - 1) // $SeqBudget - tok_off // $SeqBudget + 1 AS n_seqs,
       |  (tok_off + n_toks - 1) // $SeqBudget > tok_off // $SeqBudget AS straddles
       |FROM (
       |  SELECT source, doc_id, n_toks,
       |    CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
       |                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      - n_toks AS tok_off
       |  FROM (
       |    SELECT source, doc_id,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |    FROM documents))
       |ORDER BY source, doc_id""".stripMargin

  // --- t11_bigram_surprisal: conditional-LM quality score -----------------
  // The bigram step the unigram t9 can't take: a shuffled-word-salad doc
  // has ordinary unigram rarity but IMPROBABLE transitions. Score each
  // position by the log-free quantized conditional surprisal
  // −log₂ P(w2|w1) ≈ bits(c(w1)) − bits(c(w1 w2)) (both counts exact
  // integers; bit length = floor(log₂)+1 on both engines), and the doc
  // by the IEEE mean of exact longs. High mean = rare transitions.
  // Shape: bigrams build in an array lambda over PLAIN expressions (the
  // HOF auditor's allowed form), fingerprint AFTER explode (8-byte
  // keys); unigram and bigram count tables are vocabulary-sized
  // (sub-linear, Heaps) and UNHINTED per the §5 broadcast doctrine; one
  // corpus shuffle for the per-doc agg.
  def t11BigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
    val toks = base
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .select(graft.functions.GenKey(col("tok")).as("h"))
    val ucnt = toks.groupBy("h").agg(count(lit(1)).as("un"))
      .withColumn("ubits", length(bin(col("un"))).cast("long"))
      .select("h", "ubits")
    val bg = base.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks)-2),
          |  i -> struct(toks[i] AS w1, concat_ws(' ', toks[i], toks[i+1]) AS bg))
          |""".stripMargin)).as("p"))
      .select(col("doc_id"),
        graft.functions.GenKey(col("p.w1")).as("h"),
        graft.functions.GenKey(col("p.bg")).as("hb"))
    val bcnt = bg.groupBy("hb").agg(count(lit(1)).as("bn"))
      .withColumn("bbits", length(bin(col("bn"))).cast("long"))
      .select("hb", "bbits")
    val per = bg.join(ucnt, "h").join(bcnt, "hb")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
           sum(col("ubits") - col("bbits")).as("surprisal_sum"))
    Tables.documents(s, dir).select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("surprisal_sum", coalesce(col("surprisal_sum"), lit(0L)))
      .withColumn("surprisal_mean",
        when(col("n_bigrams") > 0,
          col("surprisal_sum").cast("double") / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)))
      .select("doc_id", "n_bigrams", "surprisal_sum", "surprisal_mean")
      .orderBy("doc_id")
  }

  val t11Sql: String = {
    val hTok = graft.arrays.HashRing.duckGenKey("tok")
    val hW1 = graft.arrays.HashRing.duckGenKey("w1")
    val hBg = graft.arrays.HashRing.duckGenKey("bg")
    s"""WITH toks AS (
       |  SELECT $hTok AS h FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
       |ucnt AS (
       |  SELECT h, length(bin(COUNT(*))) AS ubits FROM toks GROUP BY h),
       |bgrows AS (
       |  SELECT doc_id, $hW1 AS h, $hBg AS hb FROM (
       |    SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bg FROM (
       |      SELECT doc_id, t, unnest(range(1, len(t))) AS i
       |      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |            WHERE len(string_split(text, ' ')) >= 2)))),
       |bcnt AS (
       |  SELECT hb, length(bin(COUNT(*))) AS bbits FROM bgrows GROUP BY hb),
       |per AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    CAST(SUM(ubits - bbits) AS BIGINT) AS surprisal_sum
       |  FROM bgrows JOIN ucnt USING (h) JOIN bcnt USING (hb)
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(n_bigrams, 0) AS n_bigrams,
       |  COALESCE(surprisal_sum, 0) AS surprisal_sum,
       |  CASE WHEN COALESCE(n_bigrams, 0) > 0
       |       THEN CAST(surprisal_sum AS DOUBLE) / n_bigrams
       |       ELSE 0.0 END AS surprisal_mean
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // --- t12_heavy_hitters: count-min-sketch frequency estimation -----------
  // The frequency sketch a 100 TB token stream actually uses: when the
  // vocabulary doesn't fit anywhere, a CMS answers "how often did term x
  // occur" from a FIXED 4×W cell grid — each token increments one cell
  // per hash row, estimate = min over rows, never an underestimate. The
  // operator is the sketch-accuracy evaluation (the t-family analogue of
  // s5/s9's recall evaluation): build the sketch over the corpus, track
  // the exact top-CmsTopK terms, report estimate vs exact and the
  // overcount. Shape at scale: the sketch build is ONE partial-agg'd
  // groupBy whose output is bounded by construction (CmsRows·CmsWidth
  // cells at ANY corpus size — map-side combine collapses each partition
  // to ≤4·W rows before the shuffle); the exact side exists for the
  // evaluation and is the piece you'd sample or drop in production. Cell
  // hashes are the MD5 little-endian-u32 ring key with a per-row prefix
  // — the same cross-engine-exact formula every fingerprint op shares.
  val CmsRows = 4
  val CmsWidth = 32
  val CmsTopK = 10

  /** Native GenKey (codegen'd single-digest MD5 u32) — the composed
    * md5()/conv()/substring() form ran 4 interpreted string round trips
    * per token and dominated the operator's wall-clock.
    */
  private[graft] def cmsBucketSpark(r: Int) =
    graft.functions.GenKey(concat(lit(s"$r:"), col("tok"))) % CmsWidth

  private[graft] def cmsBucketDuck(r: Int): String =
    s"${graft.arrays.HashRing.duckGenKey(s"'$r:' || tok")} % $CmsWidth"

  def t12HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val cells = toks
      .select(explode(array((0 until CmsRows).map { r =>
        struct(lit(r).as("r"), cmsBucketSpark(r).as("bucket"))
      }: _*)).as("cell"))
      .groupBy(col("cell.r").as("r"), col("cell.bucket").as("bucket"))
      .agg(count(lit(1)).as("cell_n"))
    // global top-k via TakeOrdered (orderBy+limit — per-partition partial
    // top-k, no single-partition window)
    val tracked = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("tok")).limit(CmsTopK)
    val probes = tracked
      .select(col("tok"), col("exact_n"),
        explode(array((0 until CmsRows).map { r =>
          struct(lit(r).as("r"), cmsBucketSpark(r).as("bucket"))
        }: _*)).as("cell"))
      .select(col("tok"), col("exact_n"),
        col("cell.r").as("r"), col("cell.bucket").as("bucket"))
    // the sketch is bounded by construction (4·W cells) — §5-legitimate
    // pinned broadcast
    probes.join(broadcast(cells), Seq("r", "bucket"))
      .groupBy("tok", "exact_n")
      .agg(min(col("cell_n")).as("cms_est"))
      .withColumn("overcount", col("cms_est") - col("exact_n"))
      .select("tok", "exact_n", "cms_est", "overcount")
      .orderBy("tok")
  }

  val t12Sql: String = {
    val cellSelects = (0 until CmsRows)
      .map(r => s"SELECT $r AS r, ${cmsBucketDuck(r)} AS bucket FROM toks")
      .mkString("\n    UNION ALL ")
    val probeSelects = (0 until CmsRows)
      .map(r => s"SELECT tok, exact_n, $r AS r, ${cmsBucketDuck(r)} AS bucket FROM tracked")
      .mkString("\n    UNION ALL ")
    s"""WITH toks AS (
       |  SELECT t.tok FROM documents, unnest(string_split(text, ' ')) AS t(tok)
       |  WHERE len(t.tok) > 0),
       |cells AS (
       |  SELECT r, bucket, COUNT(*) AS cell_n FROM (
       |    $cellSelects)
       |  GROUP BY r, bucket),
       |tracked AS (
       |  SELECT tok, COUNT(*) AS exact_n FROM toks GROUP BY tok
       |  ORDER BY exact_n DESC, tok LIMIT $CmsTopK),
       |probes AS (
       |    $probeSelects)
       |SELECT p.tok, p.exact_n, MIN(c.cell_n) AS cms_est,
       |  MIN(c.cell_n) - p.exact_n AS overcount
       |FROM probes p JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
       |GROUP BY p.tok, p.exact_n ORDER BY p.tok""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t12_heavy_hitters" -> (t12HeavyHitters _),
    "t11_bigram_surprisal" -> (t11BigramSurprisal _),
    "t9_rarity_score" -> (t9RarityScore _),
    "t10_pack_sequences" -> (t10PackSequences _),
    "t5_top_terms" -> (t5TopTerms _),
    "t1_langid" -> (t1Langid _),
    "t2_quality_score" -> (t2Quality _),
    "t3_token_count" -> (t3TokenCount _),
    "t4_fingerprint" -> (t4Fingerprint _),
    "t6_type_token_ratio" -> (t6TypeTokenRatio _),
    "t7_repetition" -> (t7Repetition _),
    "t8_quality_filter" -> (t8QualityFilter _),
  )

  val oracles: Map[String, String] = Map(
    "t12_heavy_hitters" -> t12Sql,
    "t9_rarity_score" -> t9Sql,
    "t10_pack_sequences" -> t10Sql,
    "t11_bigram_surprisal" -> t11Sql,
    "t5_top_terms" -> t5Sql,
    "t1_langid" -> t1Sql,
    "t2_quality_score" -> t2Sql,
    "t3_token_count" -> t3Sql,
    "t4_fingerprint" -> t4Sql,
    "t6_type_token_ratio" -> t6Sql,
    "t7_repetition" -> t7Sql,
    "t8_quality_filter" -> t8Sql,
  )
}
