package graft.pipeline

import graft.arrays.HashRing
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.TypeTag

/** §2-C deduplication / corpus-curation family over `documents` /
  * `embeddings`.
  *
  * Scale story: d1/d6 are single hash-aggs (exact and canonicalized); d2
  * (MinHash+LSH) generates candidates by band-bucket equi-join so exact
  * verification never goes O(n²); d3 reduces each doc to a 32-bit sketch
  * (constant state per doc); d4 restricts exact Jaccard to pairs sharing
  * >=1 *discriminative* shingle (document-frequency cap bounds the
  * self-join's per-key fan-out); d5 generates candidates with multi-table
  * sign-LSH buckets and exact-verifies per bucket — no driver
  * materialization, no all-pairs; d7 assembles candidate pairs into
  * duplicate groups by
  * min-label propagation; d8 samples a target domain mixture with a
  * shuffle-free hash threshold; d9 decontaminates against a broadcast
  * benchmark shingle set.
  */
object Dedup {

  // ---- shared shingle/minhash machinery ----------------------------------
  val NumPerm = 16
  val Bands = 4 // x 4 rows per band
  val P = 1000000007L
  /** Fixed permutation coefficients, a_j odd, all < 2^30 (overflow-safe:
    * a*h + b < 2^30 * 2^32 < 2^63 on both engines).
    */
  val permA: Seq[Long] = (0 until NumPerm).map(j => (((j + 1) * 2654435761L) % P) | 1L)
  val permB: Seq[Long] = (0 until NumPerm).map(j => ((j + 1) * 40503L * 65537L + 12345L) % P)

  /** 3-word shingle STRINGS of the space-tokenized `toks` column: a doc
    * of fewer than 3 tokens is one shingle, its tokens joined. The batch
    * family keys shingles natively ([[shingleKeys]], same shingles);
    * st7's stream-static decontamination keeps the strings because it
    * dedupes them per row (array_distinct) before hashing — a streaming
    * plan allows only one aggregation.
    */
  def shingleCol: Column =
    when(size(col("toks")) >= 3,
      expr("transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
      .otherwise(array(concat_ws(" ", col("toks"))))

  private val shinglesSqlDuck: String =
    """CASE WHEN len(t) >= 3
      |     THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |     ELSE [array_to_string(t, ' ')] END""".stripMargin

  /** One u32 fingerprint per 3-word shingle of `text`: [[shingleCol]]'s
    * shingles keyed by the native [[graft.functions.ShingleKeys]] — the
    * shared corpus representation of the shingle family (d2/d4/d7/d9/
    * d12/d16). Every downstream exchange (df cap, self-join,
    * decontamination join) moves 8-byte keys instead of 20-40 byte
    * strings, and MinHash is min() over the keys, so hashing first is
    * signature-identical; the oracles apply the same hash, so the (rare)
    * fingerprint merge is mirrored exactly.
    */
  private[graft] def shingleKeys: Column =
    graft.functions.ShingleKeys(split(col("text"), " "))

  /** (doc_id, h) rows, one per shingle occurrence (not distinct): the
    * explode of the codegen'd key array, with no shingle string and no
    * lambda anywhere. Consumers dedupe where their rows are few — d9/d12
    * after the benchmark join (matched rows only), d4/d16 in the sorted
    * kernel — never per row: round 5's `array_distinct(transform(sgl,
    * x => GenKey(x)))` evaluated its lambda interpreted per shingle and
    * cost 13x in the op bench.
    */
  private def shingleKeyRows(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), explode(shingleKeys).as("h"))

  /** The oracle's distinct (doc_id, h) shingle-key CTE `hs`. */
  val hashedShinglesSql: String =
    s"""hs AS (
       |  SELECT DISTINCT doc_id, ${HashRing.duckGenKey("s")} AS h FROM (
       |    SELECT doc_id, unnest($shinglesSqlDuck) AS s
       |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
       |)""".stripMargin

  // --- d1_exact_dedup: content-hash groups (one hash-agg) -----------------
  def d1ExactDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .select(col("content_hash"), col("n_copies"), col("keep_id"),
              (col("n_copies") > 1).as("is_dup_group"))
      .orderBy("content_hash")

  val d1Sql: String =
    """SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
      |  MIN(doc_id) AS keep_id, COUNT(*) > 1 AS is_dup_group
      |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin

  // --- d6_canonical_dedup: dedup after text canonicalization --------------
  // The pipeline stage between exact (d1) and fuzzy (d2+) dedup: hash a
  // canonical form — lowercase, boilerplate/marker tokens stripped,
  // whitespace collapsed — so trivially-decorated copies collapse to
  // exact duplicates. (The synthetic corpus plants near-dups as documents
  // decorated with a 'dup' marker token; stripping it recovers them as
  // exact copies — 23 groups at sf0.01 that d1 cannot see.) Pure column
  // exprs + one hash-agg.
  def d6CanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "\\bdup\\b", ""), " +", " "))
    Tables.documents(s, dir)
      .groupBy(md5(canon.cast("binary")).as("canonical_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") > 1)
      .orderBy("canonical_hash")
  }

  val d6Sql: String =
    """SELECT canonical_hash, n_docs, keep_id FROM (
      |  SELECT md5(trim(regexp_replace(
      |           regexp_replace(lower(text), '\bdup\b', '', 'g'),
      |           ' +', ' ', 'g'))) AS canonical_hash,
      |    COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
      |  FROM documents GROUP BY 1)
      |WHERE n_docs > 1 ORDER BY canonical_hash""".stripMargin

  // --- d2_minhash_lsh: near-dup candidate pairs ---------------------------
  private val minHashFamily = new graft.functions.MinHashFamily(permA, permB, P)

  /** MinHash signatures, one row per doc_id: each row's signature comes
    * from its own shingle keys in one codegen'd call
    * ([[graft.functions.MinHash]]) — no shingle rows, no per-shingle
    * exchange. The element-wise min by doc_id that follows keeps the
    * signature exact when a doc_id spans several rows (the oracle's
    * GROUP BY doc_id); its exchange carries one row per document.
    */
  def signatures(s: SparkSession, dir: String): DataFrame = {
    val mins = (0 until NumPerm).map(j => min(col("sig")(j)).as(s"sig_$j"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.MinHash(shingleKeys, minHashFamily).as("sig"))
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until NumPerm).map(j => col(s"sig_$j")): _*).as("sigs"))
  }

  val signaturesSql: String = {
    val mins = (0 until NumPerm).map { j =>
      s"MIN((${permA(j)} * h + ${permB(j)}) % $P)"
    }.mkString(", ")
    s"""sigs AS (
       |  SELECT doc_id, [$mins] AS sigs
       |  FROM (
       |    SELECT doc_id, ${HashRing.duckGenKey("s")} AS h FROM (
       |      SELECT doc_id, unnest($shinglesSqlDuck) AS s
       |      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)))
       |  GROUP BY doc_id
       |)""".stripMargin
  }

  /** Per-(band, bucket) membership cap. An uncapped LSH bucket emits df²
    * pair rows: a viral duplicate cluster (boilerplate, a mirrored site)
    * lands its whole membership on ONE (band, bkey) key and squares the
    * shuffle — the same hot-key failure d4 caps with MaxShingleDf. Buckets
    * at or under the cap emit their exact C(df,2) pairs; over-cap buckets
    * degrade to STAR edges (bucket-min doc ↔ every other member): linear
    * fan-out, O(cap) kernel state — and the duplicate cluster stays
    * CONNECTED, so d7's label propagation still collapses it to one keeper
    * (dropping the bucket d4-style would exempt exactly the most
    * duplicated content from dedup — the opposite of what a purge wants).
    */
  val MaxBandDf = 16

  /** LSH band-bucket candidate pairs as d7's edge list: every bucket pair
    * (a, b), a < b, in both directions, repeats kept (a pair colliding in
    * several bands comes once per band). Min-label propagation gives the
    * same labels on repeated edges, so the CC loop needs no distinct
    * exchange and no symmetrizing union. d2 scores the same pair set
    * ([[scoredCandidatePairs]]).
    */
  private[graft] def candidateEdges(sig: DataFrame): Dataset[(Long, Long)] =
    bucketPairs(sig).flatMap { case (a, b) => Iterator((a, b), (b, a)) }(
      Encoders.product[(Long, Long)])

  private def bucketPairs(sig: DataFrame): Dataset[(Long, Long)] =
    bandPairs[(Int, Long, Long), (Long, Long)](sig)(
      (x, y) => x._1 == y._1 && x._2 == y._2, (a, b) => (a._3, b._3))

  /** The band builder and bucket pass behind [[candidateEdges]] and
    * [[scoredCandidatePairs]], so both change together: the rows are
    * (band, bkey, doc_id) plus the `carry` columns, and `pair` forms the
    * output row of a bucket pair (a, b), a < b. Every signature must hold
    * exactly NumPerm values (the signature-length contract): the
    * projection before the band explode checks it once per doc and names
    * the offending doc_id, before any band key indexes into the array —
    * so a short signature is not an anonymous index error and a long one
    * is not silently banded on its first NumPerm values.
    */
  private def bandPairs[R <: Product : TypeTag, P <: Product : TypeTag](
      sig: DataFrame, carry: Column*)(
      sameBucket: (R, R) => Boolean, pair: (R, R) => P): Dataset[P] = {
    val checked = when(size(col("sigs")) === NumPerm, col("sigs")).otherwise(raise_error(
      format_string(s"minhash signature length %s != $NumPerm (doc_id=%s)",
        size(col("sigs")), col("doc_id"))))
    // band key fingerprinted to u32 before the shuffle: the raw key is a
    // ~40-char concat of 4 signature values, the fingerprint is 8 bytes —
    // the same shuffle-width win as the shingle family (the oracle applies
    // the identical hash, so the negligible collision mass is mirrored;
    // a colliding band pair just becomes one more LSH candidate for the
    // downstream exact verify, which LSH tolerates by construction)
    val bands = sig
      .select(col("doc_id"), checked.as("sigs"))
      .select(col("doc_id"), explode(array((0 until Bands).map(lit(_)): _*)).as("band"), col("sigs"))
      .withColumn("bkey", graft.functions.GenKey(concat_ws(",",
        (1 to NumPerm / Bands).map(r => element_at(col("sigs"), col("band") * (NumPerm / Bands) + r)): _*)))
      .select(col("band") +: col("bkey") +: col("doc_id") +: carry: _*)
    // ONE shuffle, by the bucket key, feeding a streaming one-group-at-a-
    // time kernel (d4's shape, replacing the former band self-join): doc
    // ids are distinct within a (band, bkey) group (one row per doc per
    // band) and arrive ascending, so the group's first id is its min. At
    // most MaxBandDf rows are ever buffered; a group that exceeds the cap
    // switches to star emission and streams its tail one row at a time —
    // a 10⁶-copy bucket emits 10⁶-1 rows with O(cap) memory, never 10¹².
    bands
      .repartition(col("band"), col("bkey"))
      .sortWithinPartitions("band", "bkey", "doc_id")
      .as(Encoders.product[R])
      .mapPartitions { it =>
        SortedGroups.runs(it)(sameBucket)
          .flatMap(SortedGroups.pairsOrStar(_, MaxBandDf)(pair))
      }(Encoders.product[P])
  }

  /** The pairs CTE chain shared by d2/d7/d10 oracles (needs shingles+sigs);
    * mirrors the band kernel's u32 band-key fingerprint AND its bucket cap:
    * a pair from an over-cap bucket survives only if its smaller side is
    * the bucket min (the star anchor).
    */
  val pairsSql: String = {
    val rows = NumPerm / Bands
    val bstr = (1 to rows).map(r => s"CAST(sigs[b * $rows + $r] AS VARCHAR)").mkString(" || ',' || ")
    val bkey = HashRing.duckGenKey(s"($bstr)")
    s"""bands AS (
       |  SELECT doc_id, b AS band, $bkey AS bkey
       |  FROM sigs CROSS JOIN (SELECT unnest([0,1,2,3]) AS b)),
       |bstat AS (
       |  SELECT band, bkey, COUNT(*) AS df, MIN(doc_id) AS anchor
       |  FROM bands GROUP BY band, bkey),
       |pairs AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
       |  JOIN bstat c ON l.band = c.band AND l.bkey = c.bkey
       |  WHERE c.df <= $MaxBandDf OR l.doc_id = c.anchor)""".stripMargin
  }

  /** The band-bucket pairs (doc_a < doc_b, distinct) with the pair's
    * signature agreement computed IN the kernel (round 15, guide
    * §2.3/§2.4): band rows carry their doc's
    * 16-long signature across the one (band, bkey) exchange, so the
    * group-streaming pass that forms each pair already holds both sides'
    * sigs and emits (doc_a, doc_b, n_match) directly. This replaces d2's
    * former epilogue — re-joining the signature table once per pair SIDE
    * — under which the signature aggregation's shuffle was read (and its
    * doc-sized final agg re-executed) three times: once under the band
    * explode, once as sigs_a, once as sigs_b. One signature final agg,
    * zero sig joins, two fewer pair-stream exchanges; the band exchange
    * widens from (band, bkey, doc_id) to +128 B of sigs per row, but the
    * rows it carries are doc-count-scaled (4/doc — sub-linear in corpus
    * bytes), while the reads it removes were the same sig payload crossing
    * the wire TWICE more via the join sides. n_match is a pure function
    * of the (unordered) pair — both sides' sigs are in hand — so the
    * distinct over (doc_a, doc_b, n_match) dedupes multi-band hits
    * exactly as the old distinct over (doc_a, doc_b) did. Buffered state
    * stays O(MaxBandDf) rows, now MaxBandDf × 16 longs.
    */
  private[graft] def scoredCandidatePairs(sig: DataFrame): DataFrame =
    bandPairs[(Int, Long, Long, Seq[Long]), (Long, Long, Long)](sig, col("sigs"))(
      (x, y) => x._1 == y._1 && x._2 == y._2,
      (a, b) => (a._3, b._3, nMatch(a._4, b._4)))
      .toDF("doc_a", "doc_b", "n_match")
      .distinct()

  /** Exact per-position agreement count — the kernel mirror of the old
    * zip_with(sigs_a, sigs_b, _ === _) filter-size epilogue (and of the
    * oracle's list_filter(range, i -> sa[i] = sb[i]) length). Walks both
    * sides in step: the Dataset decoder hands sigs over as a List, where
    * indexing each position would rescan from the head; the band
    * projection's length check makes both sides NumPerm long.
    */
  private def nMatch(x: Seq[Long], y: Seq[Long]): Long = {
    val xs = x.iterator; val ys = y.iterator
    var c = 0L
    while (xs.hasNext) if (xs.next() == ys.next()) c += 1L
    c
  }

  def d2MinhashLsh(s: SparkSession, dir: String): DataFrame =
    scoredCandidatePairs(signatures(s, dir))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
              (col("n_match").cast("double") / NumPerm).as("est_jaccard"))
      .orderBy("doc_a", "doc_b")

  val d2Sql: String = {
    s"""WITH $signaturesSql,
       |$pairsSql
       |SELECT doc_a, doc_b,
       |  len(list_filter(range(1, $NumPerm + 1), i -> sa.sigs[i] = sb.sigs[i])) AS n_match,
       |  CAST(len(list_filter(range(1, $NumPerm + 1), i -> sa.sigs[i] = sb.sigs[i])) AS DOUBLE) / $NumPerm AS est_jaccard
       |FROM pairs JOIN sigs sa ON doc_a = sa.doc_id JOIN sigs sb ON doc_b = sb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --- d3_simhash: 32-bit sketch + prefix bucket --------------------------
  def d3Simhash(s: SparkSession, dir: String): DataFrame = {
    // hash each token once (see signatures: 32 agg exprs share one digest)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), graft.functions.GenKey(col("tok")).as("h"))
    val bitSums = (0 until 32).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"bit_$b")
    }
    val fp = (0 until 32).map { b =>
      when(col(s"bit_$b") > 0, 1L << b).otherwise(0L)
    }.reduce(_ + _)
    toks.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
      .withColumn("bucket", shiftright(col("simhash"), 24))
      .orderBy("doc_id")
  }

  val d3Sql: String = {
    val h = HashRing.duckGenKey("tok")
    val bitSums = (0 until 32).map { b =>
      s"    SUM(CASE WHEN (($h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS bit_$b"
    }.mkString(",\n")
    val fp = (0 until 32).map { b =>
      s"CASE WHEN bit_$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |bits AS (
       |  SELECT doc_id,
       |$bitSums
       |  FROM toks GROUP BY doc_id)
       |SELECT doc_id, CAST($fp AS BIGINT) AS simhash,
       |  CAST($fp AS BIGINT) >> 24 AS bucket
       |FROM bits ORDER BY doc_id""".stripMargin
  }

  // --- d4_ngram_jaccard: exact verify on shingle-sharing pairs ------------
  // A shingle shared by more than MaxShingleDf documents is boilerplate:
  // it carries no near-dup signal but contributes df² pair rows to the
  // self-join, and one viral shingle (a license header, a nav bar) turns
  // the shuffle into a quadratic hot key at corpus scale. The df cap is a
  // pre-aggregation + semi-join (one extra shuffle on the shingle — the
  // same key the self-join shuffles on anyway) that bounds per-key fan-out
  // at df², with Jaccard computed over the surviving discriminative
  // shingle sets on both engines.
  val MaxShingleDf = 10

  /** The shingle-overlap kernel d4 and d16 share: per-pair intersection
    * size plus both documents' (df-capped) shingle-set sizes — everything
    * a set-overlap metric (Jaccard, containment, overlap coefficient)
    * needs. ONE shuffle of the shingle table, by fingerprint, with
    * BOUNDED memory: rows arrive sorted by (h, doc_id) and a streaming
    * kernel (same doctrine as d5's bucket verify) walks one shingle-group
    * at a time, run-length-deduping doc ids and keeping at most cap+1 of
    * them -- a viral boilerplate shingle overflows the cap and is
    * dropped WITHOUT ever materializing its doc list (a collect_set
    * here would buffer all df ids in one aggregation state before any
    * cap filter could run: the 10^8-doc license-header shingle becomes
    * an executor OOM). The kernel emits both downstream needs off the
    * one exchange, as tagged rows --
    *   kind 0: the group's C(df,2) doc pairs (2 <= df <= cap)
    *   kind 1: per-doc size contributions (df <= cap, incl. singletons)
    * This replaces the round-2 shape (distinct + df pre-agg + semi-join
    * + self-join = three shuffles by the same key) with one shuffle and
    * O(cap) state. Returns (doc_a, doc_b, inter, na, nb), doc_a < doc_b.
    *
    * Downstream of the kernel (round 14, from the tier320 executed-plan
    * probe): the pair stream is ~1.75 rows per shingle row and its keys
    * are ~UNIQUE per shingle group (t320: 146M pair rows -> 139M
    * distinct pairs), so a groupBy's partial HashAggregate reduced
    * nothing while spilling 11.5 GB, the final agg spilled 5.9 GB, and
    * the two sizes joins planned as SortMergeJoin sorted the 139M-row
    * stream twice (8.7 GB more spill) against a build side a thousandth
    * its size. The shipped shape (second restructure, later in round
    * 14): BOTH tagged row kinds cross ONE sized exchange on `a`; a
    * sorted streaming pass counts each doc's size (kind=1 run) and then
    * every (a,b) run's intersection with na already in hand — O(1) agg
    * state, no partial agg, the kernel's map stage executes once (the
    * old three-branch shape re-ran it per branch), and only the nb
    * lookup remains a SHUFFLE_HASH join against the doc-sized size
    * table (build side = n_docs/P rows per task — bounded at 100 TB by
    * the same partition sizing).
    */
  private def shingleOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keyed = shingleKeyRows(s, dir).select("h", "doc_id")
    val tagged = repartitionSized(keyed, shingleShufflePartitions(s, dir), col("h"))
      .sortWithinPartitions("h", "doc_id")
      .as[(Long, Long)]
      .mapPartitions { it =>
        SortedGroups.runs(it)(_._1 == _._1).flatMap { grp =>
          // sorted input: distinct doc ids = the first row of each id run;
          // the cap+1-th distinct id marks the group viral and drops it,
          // its tail skipped unread
          val ids = SortedGroups.runs(grp)(_._2 == _._2).map(_.next()._2)
          val (docs, over) = SortedGroups.capped(ids, MaxShingleDf)
          if (over) Iterator.empty
          else docs.iterator.map(d => (1, d, 0L)) ++
            SortedGroups.pairs(docs)((a, b) => (0, a, b))
        }
      }
      .toDF("kind", "a", "b")
    // Pair intersections AND per-doc sizes off ONE exchange keyed by `a`
    // (round 14, guide §2.3/§2.4). The previous shape branched `tagged`
    // three ways — pairs through their own (a,b) exchange, sizes through
    // a groupBy(a) exchange, then TWO shuffled-hash joins re-exchanging
    // the pair stream by a and again by b — and because the branches are
    // separate exchanges, the shingle kernel above executed once per
    // branch map-stage (executed-plan probe at sf0.1: the h-exchange's
    // records were read 2x its write; at tier320 that is the 140M-row
    // kernel run twice). Shipping BOTH row kinds through one sized
    // exchange on `a` lets a single sorted streaming pass count na
    // (kind=1 run, sorted first) and then each (a,b) run's inter with
    // O(1) state — the kernel runs ONCE, the raw pair occurrences cross
    // the wire ONCE (they used to cross the (a,b) exchange raw and the
    // join exchanges aggregated), and only the nb lookup remains a join.
    // Per-`a` mass is bounded (a doc's pair fan-out <= its shingle count
    // x MaxShingleDf, its size rows <= its shingle count), so the single
    // key carries no viral-skew risk — the cap that bounds the kernel
    // bounds this key too.
    val staged = repartitionSized(tagged.as[(Int, Long, Long)],
        pairShufflePartitions(s, dir), col("a"))
      .sortWithinPartitions(col("a"), col("kind").desc, col("b"))
      .mapPartitions { it =>
        SortedGroups.runs(it)(_._2 == _._2).flatMap { grp =>
          // one row per (kind, b) run of the doc, counted as it streams —
          // state stays O(1). Its size run (kind=1, b=0) sorts first, so
          // na is known before any of its (a,b) runs is counted.
          var na = 0L
          SortedGroups.runs(grp)((x, y) => x._1 == y._1 && x._3 == y._3).map { run =>
            val (kind, a, b) = run.next()
            val n = run.length + 1L
            if (kind == 1) na = n
            (kind, a, b, if (kind == 1) 0L else n, na)
          }
        }
      }
      .toDF("kind", "a", "b", "inter", "na")
    val pairsNa = staged.filter(col("kind") === 0)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
              col("inter"), col("na"))
    val sizesB = staged.filter(col("kind") === 1)
      .select(col("a").as("doc_b"), col("na").as("nb"))
    // both consumers re-run only the cheap post-exchange streaming pass
    // (the staged exchange's map stage — kernel included — runs once);
    // SHUFFLE_HASH keeps the doc-sized nb table the build side instead
    // of sorting the pair stream (same rationale as before)
    pairsNa.join(sizesB.hint("SHUFFLE_HASH"), "doc_b")
  }

  /** The oracle mirror of [[shingleOverlap]]'s output (relational form:
    * the hash-mirrored shingle CTE, the df cap as a semi-join, the
    * self-join intersection). Final CTE `overlap` = (doc_a, doc_b,
    * inter, na, nb).
    */
  private val overlapSql: String =
    s"""$hashedShinglesSql,
       |sh2 AS (
       |  SELECT doc_id, h FROM hs
       |  WHERE h IN (SELECT h FROM hs GROUP BY h HAVING COUNT(*) <= $MaxShingleDf)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
       |inter AS (
       |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh2 l JOIN sh2 r ON l.h = r.h AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2),
       |overlap AS (
       |  SELECT doc_a, doc_b, inter, sa.n AS na, sb.n AS nb
       |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
       |             JOIN sizes sb ON doc_b = sb.doc_id)""".stripMargin

  def d4NgramJaccard(s: SparkSession, dir: String): DataFrame =
    shingleOverlap(s, dir)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") > 0.3)
      .select("doc_a", "doc_b", "inter", "jaccard")
      .orderBy("doc_a", "doc_b")

  val d4Sql: String =
    s"""WITH $overlapSql
       |SELECT doc_a, doc_b, inter,
       |  CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
       |FROM overlap
       |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) > 0.3
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- d16_containment_dedup: asymmetric shingle containment --------------
  // The doc-inside-doc signal symmetric Jaccard is structurally blind to:
  // when a 50-shingle document is quoted whole inside a 5000-shingle
  // document, J = 50/5000 = 0.01 — invisible to d4's 0.3 gate — but
  // containment C(A,B) = |A∩B| / |A| = 1.0. Containment is the metric the
  // suffix-array / exact-substring dedup literature actually thresholds
  // (a small doc fully embedded in a big one IS a duplicate of the small
  // doc), and at corpus scale it is what catches quote farms, scraped
  // aggregators and template-wrapped reposts. Cost: FREE given the
  // overlap pass — the same single-shuffle kernel already carries
  // (inter, na, nb) and containment is one more pure-column epilogue.
  // (As standalone queries d4 and d16 each run their own overlap pass;
  // a deployment wanting both metrics composes both epilogues over ONE
  // shingleOverlap — the kernel output feeds either for free — rather
  // than running the two operators back to back.) Output keeps both
  // directed containments, the dominant direction, and a jaccard_blind
  // flag marking pairs d4's symmetric gate would have missed entirely —
  // the operator's reason to exist, observable in its own output.
  val ContainmentThreshold = 0.6

  def d16Containment(s: SparkSession, dir: String): DataFrame =
    shingleOverlap(s, dir)
      .withColumn("c_ab", col("inter").cast("double") / col("na"))
      .withColumn("c_ba", col("inter").cast("double") / col("nb"))
      .withColumn("containment", greatest(col("c_ab"), col("c_ba")))
      .withColumn("direction",
        when(col("c_ab") >= col("c_ba"), lit("a_in_b")).otherwise(lit("b_in_a")))
      .withColumn("jaccard_blind",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")) <= 0.3)
      .filter(col("containment") >= ContainmentThreshold)
      .select("doc_a", "doc_b", "inter", "na", "nb",
              "containment", "direction", "jaccard_blind")
      .orderBy("doc_a", "doc_b")

  val d16Sql: String =
    s"""WITH $overlapSql
       |SELECT doc_a, doc_b, inter, na, nb,
       |  GREATEST(CAST(inter AS DOUBLE) / na, CAST(inter AS DOUBLE) / nb) AS containment,
       |  CASE WHEN CAST(inter AS DOUBLE) / na >= CAST(inter AS DOUBLE) / nb
       |       THEN 'a_in_b' ELSE 'b_in_a' END AS direction,
       |  CAST(inter AS DOUBLE) / (na + nb - inter) <= 0.3 AS jaccard_blind
       |FROM overlap
       |WHERE GREATEST(CAST(inter AS DOUBLE) / na, CAST(inter AS DOUBLE) / nb)
       |      >= $ContainmentThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- d5_embed_dedup: embedding-cosine near-dup pairs --------------------
  // Bucketed candidate generation + per-bucket exact verify — the shape
  // that survives 100 TB. Each vector gets embTablesFor(k) sign-LSH
  // bucket ids (k random hyperplanes per table); vectors shuffle ONCE by
  // their (table, bucket) key — T·n·dim bytes, never all-pairs, never a
  // driver collect — and the exact cosine runs inside each bucket.
  //
  // k is ADAPTIVE (round 7's one superlinear-trending scale item) and,
  // since round 11, UNCAPPED: the plan carries a 1-row vector count and
  // every kernel computes k = max(bitLength(n / EmbBucketTarget),
  // EmbKMin) — pure integer bit-length, no libm, bit-identical on both
  // engines — so the expected bucket population stays pinned near
  // EmbBucketTarget at ANY corpus size. Round 10 measured what the old
  // kmax = 8 clamp cost: past n = 2^kmax·256 the in-bucket pair work
  // resumed growing n²/2^kmax (e ≈ 1.5 CPU at the tier20→tier40
  // doubling). Plane (t, i) is seeded independently of k AND of the
  // table count (see embPlaneId), so growing either EXTENDS the bank
  // without re-randomizing the prefix: every bucket at k ≤ 8, t < 24 is
  // bit-identical to the r7–r10 operator.
  //
  // Recall: per pair 1-(1-p^k)^T with p = 1-θ/π. Pinning bucket size
  // (growing k) at FIXED T lets recall fall — so T grows WITH k: the
  // classic LSH ρ-exponent trade (Indyk–Motwani; Gionis et al., VLDB
  // '99). embTablesFor(k) is the smallest T keeping recall ≥ 0.98 at
  // the production near-dup band (cos ≥ 0.8 ⇒ p ≈ 0.795), floored at
  // the historical 24 — so every corpus the gate tiers ≤ 20× reach
  // (k ≤ 8) keeps EXACTLY the r10 plan, and k = 9 (tier40) activates
  // T = 29. Cost: T ∝ (n/256)^ρ with ρ = log2(1/p) ≈ 0.33 — total
  // candidate work and shuffle bytes grow n^(1+ρ), the price of
  // HOLDING a fixed-threshold recall guarantee while the bucket stays
  // population-pinned; the alternatives (fixed T: recall decays;
  // fixed k: CPU goes quadratic) are both worse at 100 TB. At the test
  // SFs (n ≤ 2000) the rule selects k=EmbKMin=3, where T=24 tables
  // cover the synthetic θ≥0.45 band completely (PipelineSpec proves it
  // against all-pairs ground truth at both SFs) — and the oracle
  // replays the SAME bucketed plan, so Spark-vs-oracle equivalence is
  // by construction.
  val EmbTablesBase = 24
  val EmbKMin = 3
  val EmbBucketTarget = 256
  val EmbRecall = 0.98

  /** Per-bucket candidate band (round 11, shared doctrine with s10 and
    * d2/d4's df-capped kernel): within one (table, bucket) group —
    * vec_id-sorted, so position is deterministic — a vector is scored
    * only against the EmbBandW rows after it. Rationale: the adaptive k
    * pins E[bucket] near EmbBucketTarget but CANNOT split near-duplicate
    * clusters (nearly identical vectors agree on every plane sign at any
    * k), so the per-table quadratic mass Σ|b|² is dominated by the
    * cluster tail — measured on the s2 bank: Σ|b|² grew e ≈ 1.7 per
    * corpus doubling across tier40/80/160 while E[bucket] stayed at 156.
    * The band caps per-bucket work AND output at |b|·W regardless of
    * cluster shape. Semantics: buckets ≤ W+1 rows are scored
    * completely. W = 512 = 2·EmbBucketTarget (round 12; was 256): the
    * adaptive k pins E[bucket] ∈ [128, 256), so W = EmbBucketTarget put
    * W+1 INSIDE the uniform Poisson range near the top of a k-band
    * (E ≈ 230–255, σ ≈ 16 ⇒ |b| > 257 is routine) — the r11 "whole
    * uniform regime" comment overclaimed. At W = 2·target a uniform
    * bucket truncates only on a ≥ 16σ excursion, so banding engages
    * only on genuine near-dup cluster buckets, where it keeps every
    * position-adjacent pair: the pair set still CONNECTS the cluster
    * (what downstream d7 grouping consumes — BAND_RECALL.json: banded
    * vs exact connected components agree on ALL 320k vertices at
    * tier160 and differ on ≤ 4 vertex labels at tier40/80, with pair
    * recall ≥ 0.997); individual far-apart pairs inside a giant
    * cluster are the sacrificed redundancy, measured there as pair
    * recall. The oracle replays pos/band verbatim.
    */
  val EmbBandW = 512
  /** Plane-agreement probability at the production band edge cos = 0.8:
    * p = 1 − arccos(0.8)/π. StrictMath, so the table below is the same
    * bit pattern in every JVM that generates oracle text or runs the
    * kernel.
    */
  val EmbBandP: Double = 1.0 - StrictMath.acos(0.8) / StrictMath.PI

  /** Oracle unroll depth (tables × planes are literal text in the DuckDB
    * mirror): k = 14 admits n < 2¹⁴·256 = 4,194,304 vectors (round 14;
    * 13 admitted exactly one doubling past tier640's n = 1.28M, so a
    * tier1280 corpus at n = 2.56M would have hit the ceiling — the
    * standing one-doubling-ahead rule bumps the unroll BEFORE the tier
    * exists). Past it the oracle raises via error() instead of silently
    * truncating buckets; the OPERATOR has no such bound (planes are
    * generated on demand). Every k ≤ 13 text decision is unchanged — the
    * added planes/tables are gated on `i < k` / `t < t_cnt` like all the
    * others.
    */
  val EmbOracleK = 14

  /** max(bitLength(n / target), 3): bitLength(q) = 64 - nlz(q) =
    * floor(log2 q) + 1 for q ≥ 1, 0 at q = 0 — the exact integer log2
    * quantization the oracle mirrors with length(bin(q)). No upper
    * clamp (round 11); bitLength of a Long-addressable q tops out at
    * 55, within the Long bucket's 62 usable bits.
    */
  def embK(n: Long): Int = {
    val q = n / EmbBucketTarget
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(q)
    math.max(EmbKMin, bits)
  }

  /** Smallest T with band recall 1-(1-p^k)^T ≥ EmbRecall, floored at the
    * historical EmbTablesBase = 24 (so k ≤ 8 keeps the exact r10 plan:
    * the formula's T(8) = 23 < 24). Closed form
    * ceil(ln(1-R)/ln(1-p^k)); StrictMath throughout, memoized — the
    * oracle embeds the same values as integer literals, so no libm ever
    * crosses the engine boundary at query time.
    */
  private val embTablesMemo = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  def embTablesFor(k: Int): Int =
    embTablesMemo.computeIfAbsent(k, k => {
      val miss = 1.0 - StrictMath.pow(EmbBandP, k.toDouble)
      val t = StrictMath.ceil(
        StrictMath.log(1.0 - EmbRecall) / StrictMath.log(miss)).toInt
      math.max(EmbTablesBase, t)
    })

  /** splitmix64 — decorrelated plane coefficients (the LCG used for s2's
    * four planes shows visible correlation across 72 planes).
    */
  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Plane-bank layout, frozen for bit-compatibility: the r7–r10 bank
    * materialized plane (t, i) at linear index t·8 + i for the 24 tables
    * × 8 planes it could ever activate. The round-11 uncapped bank keeps
    * that region VERBATIM (so every gate artifact at k ≤ 8 is unchanged)
    * and maps all new coordinates — higher planes of legacy tables,
    * whole new tables — into the disjoint region 192 + t·64 + i
    * (injective for i < 64, any t; always ≥ 192). The literals 24/8/192
    * here are the legacy layout's dimensions, not operating limits.
    */
  def embPlaneId(t: Int, i: Int): Long =
    if (t < 24 && i < 8) t * 8L + i else 192L + t * 64L + i

  /** Uniform [-1,1) hyperplane (t, i); dyadic rationals, so the decimal
    * literal in the oracle parses to the bit-identical double. Generated
    * on demand for ANY (t, i) — the bank has no size.
    */
  def embPlaneVals(t: Int, i: Int): Array[Double] = {
    val p = embPlaneId(t, i)
    Array.tabulate(Similarity.Dims) { d =>
      (splitmix64(p * 64L + d) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
  }

  private def planeLitSql(p: Seq[Double]): String =
    "[" + p.map(x => new java.math.BigDecimal(x).toPlainString).mkString(", ") + "]"

  /** Memoized [t][i] plane matrix for one (tCount, k) working set — one
    * volatile map read per row instead of tCount·k lookups.
    */
  private val embMatrixMemo =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Array[Array[Double]]]]
  private def embPlaneMatrix(tCount: Int, k: Int): Array[Array[Array[Double]]] =
    embMatrixMemo.computeIfAbsent(tCount.toLong << 32 | k, _ =>
      Array.tabulate(tCount, k)((t, i) => embPlaneVals(t, i)))

  /** Bucket ids of one vector against the first k planes of tables
    * 0 until tCount — the primitive form of the oracle's
    * CASE/list_reduce expressions, identical fold order (left-to-right
    * from 0.0), so the sign decisions are bit-identical. Runs once per
    * vector; T·k dots of 64 terms in fused loops, where the equivalent
    * higher-order-function column costs seconds interpreted.
    */
  private[graft] def kernelBuckets(emb: Array[Double], k: Int, tCount: Int): Array[Long] = {
    val planes = embPlaneMatrix(tCount, k)
    val out = new Array[Long](tCount)
    var t = 0
    while (t < tCount) {
      val row = planes(t)
      var b = 0L
      var i = 0
      while (i < k) {
        val p = row(i)
        var acc = 0.0
        var d = 0
        while (d < p.length) { acc += emb(d) * p(d); d += 1 }
        if (acc > 0) b |= (1L << i)
        i += 1
      }
      out(t) = b
      t += 1
    }
    out
  }

  /** One table's bucket as SQL, k-GENERIC: an EmbOracleK-deep plane
    * unroll, each bit gated on `i < k` (k rides in from the params CTE),
    * replaying kernelBuckets' "first k planes" rule for every k the gate
    * tiers can select — past the unroll the params CTE raises instead of
    * truncating (s2's oracle set the pattern). The CASE puts the gate
    * first, so DuckDB's lazy branch evaluation skips the inactive
    * planes' dots entirely.
    */
  private def embBucketSqlExpr(t: Int): String =
    (0 until EmbOracleK).map { i =>
      val dot =
        s"""list_reduce(list_prepend(0.0,
           |      list_transform(range(1, 65), i -> emb[i] * (${planeLitSql(embPlaneVals(t, i).toSeq)})[i])),
           |      (acc, x) -> acc + x)""".stripMargin
      s"CASE WHEN $i >= k THEN 0 WHEN $dot > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")

  /** The per-bucket exact verify is a primitive double[] kernel, not a
    * column expression: a 64-term dot evaluated per candidate pair through
    * Catalyst lands either in a join condition (interpreted per probed
    * pair) or in a whole-stage method too large for the JIT — measured
    * 40-100x slower than fused primitive loops. The kernel keeps ONE
    * bucket in memory at a time (rows arrive sorted by (tbl, bkt)), so
    * memory is bounded by the largest bucket — k tunes that at scale —
    * and nothing ever touches the driver. Left-to-right accumulation from
    * 0.0 keeps the IEEE result bit-identical to the oracle's list_reduce.
    */
  def d5EmbedDedup(s: SparkSession, dir: String): DataFrame =
    d5EmbedDedupBanded(s, dir, EmbBandW)

  /** Measured bytes/row of the embeddings table on disk (random floats
    * are incompressible: tier320 = 168.6 MB / 640k rows = 263.5) and of
    * one exploded (tbl, bkt, vec_id, embf: float[64], norm) shuffle row
    * in the sort format (float-width vectors since round 13; the
    * double-width row measured 547 B at tier320 — 21 GB/38.4M rows).
    * Order-of-magnitude calibration for partition sizing only — never
    * used for semantics.
    */
  private val EmbDiskRowBytes = 264L
  private val EmbExecRowBytes = 288L

  /** Post-shuffle SORT data one kernel-exchange task should own: 128 MB.
    * Round 14 halved the r13 256 MB target after the shared-session
    * audit caught the lesson a solo ProbeExec can't: a 255 MB-sort task
    * fits the execution pool when the op runs ALONE (14.2 GB/32
    * concurrent ≈ 440 MB/task), but under a neighbor op's storage-pool
    * pressure in a shared session the same sort spilled 11 GB. 128 MB
    * data (~190 MB sorter allocation) keeps 32 concurrent tasks at
    * ~6 GB — robust headroom at any session state, still big enough to
    * amortize task scheduling.
    */
  private val SortPartBytes = 128L << 20

  /** Shuffle partition count for d5's (tbl, bkt) exchange, sized to the
    * EXPLODED data volume (n·T rows of ~EmbExecRowBytes) instead of the
    * session default. Round 12's t160→t320 doubling showed why: at the
    * session-fixed 32 partitions, tier320's 21 GB exploded table meant
    * 660 MB/task and 12.8 GB of sort spill — inflating the wall exponent
    * (1.65) above the candidate-mass line (1.43) for a pure config
    * reason. n is estimated from the parquet FILE LENGTH (a driver-side
    * FS metadata read — what every planner does; no Spark job runs, so
    * PlanAuditSpec's construction-time-job audit stays satisfied), then
    * T follows from the same adaptive-k rule the kernel applies. None
    * when the want is at or below the session's RAW shuffle-partition
    * count (small SFs keep an UNNUMBERED repartition so AQE can still
    * coalesce the exchange — round 13 learned that pinning an explicit
    * count at tiny SFs disables coalescing and cost d4/d16 50-70% at
    * sf0.1); capped at 1M tasks — at 100 TB the estimate sizes itself
    * (n ≈ 4e11 → k ≈ 31, and the SortPartBytes target is per-task,
    * independent of cluster width).
    */
  private[graft] def embShufflePartitions(s: SparkSession, dir: String): Option[Int] = {
    val nEst = math.max(1L, tableFileBytes(s, dir, "embeddings") / EmbDiskRowBytes)
    val t = embTablesFor(embK(nEst))
    // doubles: n·T·rowBytes overflows Long past ~2e14 rows
    sizedPartitions(s, nEst.toDouble * t * EmbExecRowBytes)
  }

  /** Parquet file length of one table — a driver-side FS metadata read
    * (what every planner does; no Spark job), 0 when absent.
    */
  private[graft] def tableFileBytes(s: SparkSession, dir: String, table: String): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    try path.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(path).getLength
    catch { case _: java.io.IOException => 0L }
  }

  /** Partition count for `sortBytes` of post-shuffle sort data:
    * SortPartBytes tasks, capped at 1M. None when the computed want does
    * not EXCEED the session's raw shuffle-partition count: an explicit
    * count on `repartition` disables AQE partition coalescing on that
    * exchange (RepartitionByExpression with optNumPartitions set is
    * final), which is pure loss when the data is small — the round-13
    * clean bench priced it at +71%/+49% on d4/d16 at sf0.1.
    *
    * The floor is deliberately SHUFFLE_PARTITIONS, NOT
    * conf.numShufflePartitions: with AQE coalescing on, the latter
    * reports coalescePartitions.initialPartitionNum (512 in tier runs),
    * which made every tier-scale want look "small" and handed the
    * kernel sorts to AQE — whose 64 MB SHUFFLE-BYTE coalesce targets
    * underestimate sorter footprint ~4x (bytes decompress, plus record
    * pointers), leaving ~255 MB-sort tasks that spilled 11 GB under
    * shared-session memory pressure (round-14 audit). A sized kernel
    * exchange must pin its own data-derived count whenever the data
    * outgrows the session default; AQE coalescing is for the exchanges
    * the sizing declines.
    */
  private[graft] def sizedPartitions(s: SparkSession, sortBytes: Double): Option[Int] = {
    val want = math.ceil(sortBytes / SortPartBytes)
    val floor = s.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.SHUFFLE_PARTITIONS)
    if (want > floor) Some(math.min(want, 1 << 20).toInt) else None
  }

  /** Hash-repartition by `cols`, with an explicit task count only when
    * the sizing says the exchange outgrows the session default (see
    * [[sizedPartitions]]) — otherwise unnumbered, leaving AQE free to
    * coalesce.
    */
  private def repartitionSized[T](ds: Dataset[T], n: Option[Int],
                                  cols: Column*): Dataset[T] =
    n.fold(ds.repartition(cols: _*))(ds.repartition(_, cols: _*))

  /** Measured sort-data expansion of the d4/d16 shingle exchange over
    * the documents table's ON-DISK size: compressed text explodes to
    * one (h, doc_id) row per shingle. The round-14 tier320 executed-plan
    * probe put the shingle Sort's total in-memory footprint at 4.7 GB
    * against 196 MB of parquet — ~24x (the r13 calibration of 320x had
    * folded in the DOWNSTREAM pair stages' sort/agg data, which are
    * sized separately now). 48 = 2x margin over the measured 24x;
    * order-of-magnitude sizing only.
    */
  private val ShingleSortExpansion = 48.0

  private[graft] def shingleShufflePartitions(s: SparkSession, dir: String): Option[Int] =
    sizedPartitions(s, tableFileBytes(s, dir, "documents") * ShingleSortExpansion)

  /** The pair exchange's sort-data expansion: the kernel emits ~1.75
    * pair rows per (df-capped) shingle row (t320 probe: 146M pairs from
    * 83M shingles), same two-long row shape; the probe measured the
    * pair Sort's footprint at 8.4 GB against 196 MB of parquet — ~43x.
    * 86 = 2x margin, same order-of-magnitude-only intent.
    *
    * Round-15 note (r14 ADVICE): since the round-14 fusion this exchange
    * carries BOTH tagged row kinds — the pair occurrences the 43x was
    * calibrated on PLUS one kind=1 size row per capped shingle
    * occurrence (~+55% rows at t320, same 3-long row shape), i.e. a
    * combined measured footprint of ~67x ([pairs 1.75 + sizes 1] /
    * 1.75 × 43 ≈ 67) against the 86 constant — the margin is ~1.3x, not
    * 2x. Keying on `a` alone also concentrates one document's whole
    * fan-out (≤ shingles × MaxShingleDf pair rows + shingles size rows)
    * on a single key; bounded per doc, but a single enormous document is
    * a per-key mass the task sizing does not spread. Both are accepted:
    * the t320/t640 doubling audits gate the real footprint (spill 0 at
    * both), and SortPartBytes targets leave 4-8x task headroom on top.
    */
  private val PairSortExpansion = 86.0

  private[graft] def pairShufflePartitions(s: SparkSession, dir: String): Option[Int] =
    sizedPartitions(s, tableFileBytes(s, dir, "documents") * PairSortExpansion)

  /** Band width as a parameter — the shipped operator pins
    * w = EmbBandW; BandRecall passes an effectively-infinite width too
    * (exact full in-bucket verify) to measure the band's pair-recall and
    * connected-component cost on real skewed tiers.
    */
  private[graft] def d5EmbedDedupBanded(s: SparkSession, dir: String, bandW: Int): DataFrame = {
    import s.implicits._
    // The vectors cross the big (tbl, bkt) exchange as their SOURCE
    // float32 (256 B/vector), not the double widening (512 B) the math
    // runs in: float -> double conversion is exact, so widening inside
    // the kernels (bucketing before the shuffle, the dot after it)
    // produces bit-identical buckets and cosines while HALVING the
    // operator's dominant byte volume — n·T·row: 53 GB -> 29 GB at
    // tier640, where the double-width exchange crossed the local host's
    // dirty-page writeback throttle and wall went e=2.5 on an e=1.43
    // candidate-mass doubling. norm stays the double Similarity.normed
    // computed (the oracle's fold), 8 B.
    //
    // The explode's MAP side is sized too (round 14): the T-way fan-out
    // turns each input split into T× its bytes of shuffle data, so at
    // tier640 the parquet reader's ~11 natural splits each wrote
    // ~2.8 GB through the shuffle writer's external sorter against a
    // ~1.3 GB memory share — ~24 GB of MAP-side spill that plan-node
    // probes (reduce-side Sorts) cannot see, and the mechanistic
    // identity of the CPU-halving run's ~48 s fixed-I/O term. The same
    // count that sizes the reduce side (exploded bytes / SortPartBytes)
    // sizes the map side: repartitioning the ~n·264 B NARROW input
    // (0.3 GB at t640, vs the 24 GB spill it prevents) gives every map
    // task ~SortPartBytes of exploded output. Hash on vec_id, not
    // round-robin: ids are dense so the distribution is even, and it
    // avoids sortBeforeRepartition's defensive row sort. Row-local
    // bucketing + the downstream (tbl,bkt) sort make the output
    // invariant to this placement. None at small SFs (same
    // sizedPartitions floor), keeping the sf0.01/0.1 plans untouched.
    val sized = embShufflePartitions(s, dir)
    val normed0 = Similarity.normed(s, dir)
      .select(col("vec_id"),
        col("emb").cast("array<float>").as("embf"), col("norm"))
    val normed = sized.fold(normed0)(normed0.repartition(_, col("vec_id")))
    // the vector count rides the plan as a broadcast 1-row aggregate
    // (bounded by construction), so k is chosen from n INSIDE the query —
    // no driver-side count during construction (PlanAuditSpec forbids
    // construction-time jobs), and the plan re-adapts per run as the
    // table grows
    val nRow = normed.groupBy().agg(count(lit(1)).as("n_vec"))
    val exploded = normed.crossJoin(broadcast(nRow))
      .as[(Long, Array[Float], Double, Long)]
      .mapPartitions { it =>
        val widened = new Array[Double](Similarity.Dims)
        it.flatMap { case (id, embf, norm, n) =>
          val k = embK(n)
          val tCount = embTablesFor(k)
          // the reused buffer is only safe when every row fills ALL of
          // it — a short vector would silently inherit the previous
          // row's tail (round-13 ADVICE); fail loudly instead
          require(embf.length == Similarity.Dims,
            s"embedding dim ${embf.length} != ${Similarity.Dims} (vec_id=$id)")
          var d = 0
          while (d < embf.length) { widened(d) = embf(d).toDouble; d += 1 }
          val bs = kernelBuckets(widened, k, tCount)
          (0 until tCount).iterator.map(t => (t, bs(t), id, embf, norm))
        }
      }
      .toDF("tbl", "bkt", "vec_id", "embf", "norm")
      .as[(Int, Long, Long, Array[Float], Double)]
    repartitionSized(exploded, sized, col("tbl"), col("bkt"))
      .sortWithinPartitions("tbl", "bkt", "vec_id")
      .mapPartitions { it =>
        // one (tbl, bkt) group at a time; vec_id-sorted, so id_a < id_b
        SortedGroups.runs(it)((x, y) => x._1 == y._1 && x._2 == y._2).flatMap { run =>
          val grp = ArrayBuffer.from(run.map(r => (r._3, r._4, r._5)))
          // banded verify: only the bandW positions after i (see the
          // EmbBandW scaladoc — exact for |bucket| <= W+1, linear on
          // cluster-skew tails); SortedGroups.pairs bounds the band in
          // longs, so BandRecall's effectively-infinite width cannot
          // overflow. Each float widens at the multiply — (double)a *
          // (double)b over float-valued doubles is the bit-identical
          // product the all-double kernel computed, and the accumulation
          // order is unchanged (left-to-right from 0.0, the oracle's fold).
          SortedGroups.pairs(grp, bandW) { case ((ia, ea, na), (ib, eb, nb)) =>
            var acc = 0.0
            var d = 0
            while (d < ea.length) { acc += ea(d).toDouble * eb(d).toDouble; d += 1 }
            (ia, ib, acc / (na * nb))
          }.filter(_._3 >= 0.45)
        }
      }
      .toDF("id_a", "id_b", "cosine")
      .distinct() // a pair can collide in several tables; the cosine is
                  // bit-identical in each, so distinct collapses exactly
      .orderBy("id_a", "id_b")
  }

  val d5Sql: String = {
    val oracleT = embTablesFor(EmbOracleK)
    val buckets = (0 until oracleT)
      .map(t => s"CASE WHEN $t >= t_cnt THEN 0 ELSE CAST(${embBucketSqlExpr(t)} AS BIGINT) END")
      .mkString(",\n    ")
    // t_cnt lookup: embTablesFor(k) for k = EmbKMin..EmbOracleK, baked
    // as integer literals so no libm runs in SQL (1-indexed: k-EmbKMin+1)
    val tTable = (EmbKMin to EmbOracleK).map(embTablesFor).mkString("[", ", ", "]")
    // params mirrors embK bit-exactly: length(bin(q)) = bitLength(q) for
    // q >= 1 (no libm), floored at EmbKMin, UNCAPPED (round 11). The
    // plane bank is unrolled to EmbOracleK planes × embTablesFor(
    // EmbOracleK) tables, each bit gated on its index vs k and each
    // table on its index vs t_cnt, so the SAME oracle text verifies
    // every k the gate tiers can select; past the unroll it raises
    // loudly (error()) instead of silently truncating — an unroll-depth
    // guard on the verification TEXT, not a branch guard that blinds
    // the gate to reachable regimes (the r9 defect this replaced).
    s"""WITH ${Similarity.normedSql},
       |params AS (
       |  SELECT CASE WHEN k > $EmbOracleK THEN CAST(error(
       |      'd5 oracle bank unrolled to $EmbOracleK planes (n < ${EmbBucketTarget.toLong << EmbOracleK}); got k=' || k)
       |      AS INT) ELSE k END AS k,
       |    ($tTable)[k - ${EmbKMin - 1}] AS t_cnt
       |  FROM (SELECT GREATEST($EmbKMin,
       |          CASE WHEN n // $EmbBucketTarget = 0 THEN 0
       |               ELSE length(bin(n // $EmbBucketTarget)) END) AS k
       |  FROM (SELECT COUNT(*) AS n FROM normed))),
       |bucketed AS (
       |  SELECT vec_id, emb, norm, [$buckets] AS buckets
       |  FROM normed CROSS JOIN params),
       |exploded AS (
       |  SELECT vec_id, emb, norm, tbl, buckets[tbl + 1] AS bkt,
       |    ROW_NUMBER() OVER (PARTITION BY tbl, buckets[tbl + 1]
       |                       ORDER BY vec_id) AS pos
       |  FROM bucketed CROSS JOIN (SELECT unnest(range(0, t_cnt)) AS tbl FROM params))
       |SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b,
       |  ${Similarity.cosineSql("l.emb", "r.emb", "l.norm", "r.norm")} AS cosine
       |FROM exploded l JOIN exploded r
       |  ON l.tbl = r.tbl AND l.bkt = r.bkt AND l.vec_id < r.vec_id
       |  AND r.pos - l.pos <= $EmbBandW
       |WHERE ${Similarity.cosineSql("l.emb", "r.emb", "l.norm", "r.norm")} >= 0.45
       |ORDER BY id_a, id_b""".stripMargin
  }
  // The final SELECT mirrors the OPERATOR's streaming shape exactly:
  // cosine is computed INSIDE the bucket join and the >= 0.45 filter
  // runs BEFORE the distinct, so the oracle — like the kernel — never
  // materializes the O(n·E[bucket]·T) candidate set (the pre-r11 shape
  // built a DISTINCT id-pair table first, then re-joined embeddings:
  // ~180M pairs x 1 KB at the 40x tier, which OOM'd even a spilling
  // DuckDB; the distinct over the tiny filtered survivor set is exact
  // because a pair's cosine is bit-identical in every colliding table).
  // The r.pos - l.pos <= EmbBandW join predicate replays the kernel's
  // banded inner loop: within a vec_id-sorted (tbl, bkt) group, pos
  // rank order IS the kernel's buffer order, and l.vec_id < r.vec_id
  // implies l.pos < r.pos, so "j - i <= W" and "r.pos - l.pos <= W"
  // select the same pairs.

  // --- d7_dup_groups: duplicate-group assembly (connected components) -----
  // The step after candidate generation in every dedup pipeline: pairs are
  // not groups — transitively-linked docs must collapse to ONE keeper. Min-
  // label propagation over the LSH candidate graph, Pregel-style: each doc
  // carries (label, neighbours) as its state, so the edges need no table
  // of their own. A doc's neighbours are split over state rows of at most
  // CcSlice each, so no row grows with a hot bucket's star anchor.
  //  - Before the loop: the band kernel's both-direction edges cross ONE
  //    exchange by doc, which builds the state with the initial label
  //    min(doc, neighbours). With the signature and band exchanges that is
  //    three exchanges (three map-stage jobs under AQE), and nothing is
  //    materialized yet.
  //  - A round is one message exchange (each state row, plus its label
  //    sent to every neighbour, by doc) and ONE job that runs its result
  //    stage: a pass over the round's lazy localCheckpoint of the new
  //    state, which materializes it and counts the docs whose label
  //    dropped in an accumulator. Convergence is that count reaching 0.
  //  - The count is taken downstream of the checkpoint, so a retried task
  //    that finds the block cached still counts its rows; Spark merges
  //    the updates of one successful attempt per result task, so the
  //    count is exact.
  //  - Only the newest state is checkpointed: the one before it is
  //    released once its successor is materialized. After the loop, one
  //    write copies the last state's (doc, label) rows from its cached
  //    blocks to the label store, and the state is released.
  // Rounds = component diameter (near-dup clusters are shallow); on a
  // shallow corpus the one round only confirms the initial labels, so the
  // whole assembly is four exchanges, one counting job and the write. A
  // write per round in place of the count would save that write on one
  // round but cost a parquet commit on every round: on a 64-doc chain
  // (63 rounds, local[2]) that ran 10.1–10.8 s against 4.6–4.9 s.
  // The oracle replays it as a recursive transitive closure.
  /** Release a localCheckpoint's materialized blocks. Dataset.unpersist
    * only consults the cache manager, which never saw a checkpoint — the
    * blocks belong to the internal RDD inside the plan's LogicalRDD node
    * (and a derived projection's plan still contains that node). A plan
    * with no checkpoint in it (the CC loop's lazy initial state) has
    * nothing to release.
    */
  private def releaseCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        // a localCheckpoint's blocks are UNRECOVERABLE once unpersisted
        // (lineage is truncated at checkpoint time): this release is only
        // sound because the checkpoint being released has been
        // MATERIALIZED — by the round's counting job, the action that
        // runs its result stage — and a round is released strictly after
        // its successor materialized. A reorder that releases before the
        // materializing action must fail here, loudly, not lose blocks
        // mid-query later. An RDD of no partitions (an empty graph) has
        // no blocks to lose.
        require(lr.rdd.isCheckpointed || lr.rdd.partitions.isEmpty,
          "releaseCheckpoint called on a non-materialized checkpoint RDD — " +
            "an action must run over the localCheckpoint() before its release")
        // blocking=false is a measured choice, not an oversight: the
        // blocking=true alternative was A/B'd standalone (8 runs each,
        // same host) for d7 — it adds ~20% deterministic cost (min 1.43s
        // vs 1.15s) by serializing every CC round behind block deletion,
        // and does NOT shrink d7's run-to-run spread (which is many-
        // small-jobs scheduling noise, not deferred-cleanup billing).
        // The bench's per-op GC barrier + min-of-4 + published raw runs
        // are the guard against async cleanup landing on a neighbor.
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** A CC state row: (doc, label, label before the round, head, a slice
    * of at most [[CcSlice]] of the doc's distinct neighbours). A doc with
    * more neighbours has several rows carrying the same labels; `head`
    * marks the one the label store keeps. A message row in a round's
    * exchange is (doc, label, label, false, null).
    */
  private type CcState = (Long, Long, Long, Boolean, Array[Long])
  private val ccEnc = Encoders.product[CcState]

  /** Neighbours per CC state row: bounds the row that a star anchor of an
    * over-cap bucket would otherwise grow to the bucket's size.
    */
  private[graft] val CcSlice = 256

  /** The CC state before the first round: each doc's distinct neighbours
    * in slices, labelled min(doc, neighbours).
    */
  private[graft] def ccState(sig: DataFrame): Dataset[CcState] =
    candidateEdges(sig).toDF("doc", "nbr")
      .repartition(col("doc")).sortWithinPartitions("doc", "nbr")
      .as(Encoders.product[(Long, Long)])
      .mapPartitions { it =>
        SortedGroups.runs(it)(_._1 == _._1).flatMap { run =>
          val (doc, first) = run.next()
          val lbl = math.min(doc, first)
          // nbr-sorted, so a repeated edge is adjacent
          var prev = first
          val nbrs = Iterator.single(first) ++ run.map(_._2).filter { n =>
            val fresh = n != prev
            prev = n
            fresh
          }
          nbrs.grouped(CcSlice).zipWithIndex.map { case (ns, i) =>
            (doc, lbl, lbl, i == 0, ns.toArray)
          }
        }
      }(ccEnc)

  /** The CC loop proper: writes (doc, lbl) — the min doc of its component
    * — for every doc with a candidate edge to the parquet store `out`,
    * and returns each round's count of docs whose label dropped (the last
    * is 0). Nothing is collected to the driver but the counts.
    */
  private[graft] def ccLabels(sig: DataFrame, out: String): Seq[Long] = {
    var state = ccState(sig)
    val changed = Seq.newBuilder[Long]
    var last = 1L
    while (last > 0) {
      val dropped = state.sparkSession.sparkContext.longAccumulator
      // lazy: the map stage runs here, the result stage in the count
      val next = ccRound(state).localCheckpoint(eager = false)
      next.foreachPartition { (rows: Iterator[CcState]) =>
        rows.foreach { case (_, lbl, old, head, _) => if (head && lbl < old) dropped.add(1L) }
      }
      last = dropped.value
      changed += last
      releaseCheckpoint(state)
      state = next
    }
    state.filter(col("_4")).select(col("_1").as("doc"), col("_2").as("lbl"))
      .write.mode("overwrite").parquet(out)
    releaseCheckpoint(state)
    changed.result()
  }

  /** One propagation round: every state row crosses the exchange by doc
    * together with its label sent to each neighbour. A doc's messages
    * sort before its own rows, so its new label, the min of its messages
    * and its label, is known when its rows stream past.
    */
  private def ccRound(state: Dataset[CcState]): Dataset[CcState] =
    state
      .flatMap { case st @ (_, lbl, _, _, nbrs) =>
        Iterator.single(st) ++ nbrs.iterator.map(n => (n, lbl, lbl, false, null: Array[Long]))
      }(ccEnc)
      .repartition(col("_1")).sortWithinPartitions(col("_1"), col("_5").isNotNull)
      .mapPartitions { it =>
        SortedGroups.runs(it)(_._1 == _._1).flatMap { run =>
          var msg = Long.MaxValue
          run.flatMap { case (doc, lbl, _, head, nbrs) =>
            if (nbrs == null) { msg = math.min(msg, lbl); Iterator.empty }
            else Iterator.single((doc, math.min(msg, lbl), lbl, head, nbrs))
          }
        }
      }(ccEnc)

  /** The stored label table: the iterative CC assembly (the costliest
    * stage of the dedup family) runs once per `documents` stamp — the
    * [[graft.Derived]] registry keys it on the dir and its files, so a
    * corpus rewritten in place gets fresh labels — and lands in a tmp
    * parquet that d7 and d10 both read. At 100 TB the label table is a
    * first-class pipeline artifact, not a per-query subplan.
    */
  def labelsStored(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Derived.path(s, "labels", dir, Seq("documents"))(
      ccLabels(signatures(s, dir), _))
    // explicit schema: an empty corpus writes a schema-less empty store
    s.read.schema("doc BIGINT, lbl BIGINT").parquet(path)
  }

  /** Duplicate groups: the stored labels with each group's size. */
  def d7DupGroups(s: SparkSession, dir: String): DataFrame = {
    val labels = labelsStored(s, dir)
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("group_size"))
    labels.join(sizes, "lbl")
      .select(col("doc").as("doc_id"), col("lbl").as("group_id"), col("group_size"))
      .orderBy("doc_id")
  }

  /** Connected-components CTE chain (sym/reach/lbl over `pairs`) — the
    * transitive-closure oracle shared by d7 (group listing) and d10
    * (corpus purge).
    */
  private val ccSql: String =
    """sym AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
      |lbl AS (
      |  SELECT a AS doc_id, LEAST(a, MIN(b)) AS group_id
      |  FROM reach GROUP BY a)""".stripMargin

  val d7Sql: String =
    s"""WITH RECURSIVE $signaturesSql,
       |$pairsSql,
       |$ccSql
       |SELECT doc_id, group_id, group_size
       |FROM lbl JOIN (
       |  SELECT group_id, COUNT(*) AS group_size FROM lbl GROUP BY group_id)
       |  USING (group_id)
       |ORDER BY doc_id""".stripMargin

  // --- d10_dedup_purge: end-to-end corpus purge report --------------------
  // The product of the whole dedup family: candidate pairs (d2's LSH) →
  // duplicate groups (d7's connected components) → keeper selection (the
  // group's min doc_id survives) → per-source purge report. This is what a
  // pipeline operator actually ships — "what fraction of each source was
  // near-duplicate" — and it composes the scale-correct pieces: the corpus
  // is touched once more with a LEFT join against the (tiny) group-label
  // table, then one partial-agg'd rollup by source. At 100 TB the label
  // table is ~(dup docs) rows, orders of magnitude smaller than the
  // corpus — broadcastable; nothing all-pairs, nothing driver-side.
  def d10DedupPurge(s: SparkSession, dir: String): DataFrame = {
    // composes the stored label table d7 reads too (see labelsStored):
    // one CC run per corpus stamp, not one per op
    val labels = labelsStored(s, dir)
      .select(col("doc").as("doc_id"), col("lbl").as("group_id"))
    Tables.documents(s, dir)
      // no broadcast hint: the label table scales with the DUPLICATED
      // fraction of the corpus — usually far smaller (AQE broadcasts it
      // here), but a heavily-mirrored corpus can grow it past broadcast
      // range; the planner must stay free to shuffle-join on doc_id
      .join(labels, Seq("doc_id"), "left")
      .withColumn("dropped",
        col("group_id").isNotNull && col("group_id") =!= col("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"))
      .withColumn("n_kept", col("n_docs") - col("n_dropped"))
      .withColumn("drop_rate",
        col("n_dropped").cast("double") / col("n_docs").cast("double"))
      .select("source", "n_docs", "n_dropped", "n_kept", "drop_rate")
      .orderBy("source")
  }

  val d10Sql: String =
    s"""WITH RECURSIVE $signaturesSql,
       |$pairsSql,
       |$ccSql
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  COUNT(*) - CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE) AS drop_rate
       |FROM (
       |  SELECT d.source,
       |    (l.group_id IS NOT NULL AND l.group_id <> d.doc_id) AS dropped
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id)
       |GROUP BY source ORDER BY source""".stripMargin

  // --- d8_mixture_sample: deterministic domain mixing ---------------------
  // The sampling stage of a training-data pipeline: each source gets a
  // target keep-rate (quota in basis points) and docs are kept by a
  // deterministic hash threshold — pmod(md5-key, 10000) < quota — so the
  // sample is reproducible, shuffle-free (a pure filter), and composable
  // (the same key range splits train/val). Quota: sources 0-4 keep all,
  // 5-9 keep half, 10+ keep a quarter.
  private def quotaBp(srcNum: Column): Column =
    when(srcNum < 5, 10000L).when(srcNum < 10, 5000L).otherwise(2500L)

  /** Validated source-number extraction: a source name outside 'srcN'
    * (or with an int-overflowing suffix) raises on BOTH engines instead of
    * one silently re-bucketing into the `otherwise` quota — data-shape
    * drift fails loudly, symmetric with the oracle's error().
    */
  private def srcNum: Column =
    when(col("source").rlike("^src[0-9]{1,9}$"),
        regexp_extract(col("source"), "^src([0-9]+)$", 1).cast("int"))
      .otherwise(raise_error(
        concat(lit("d8: unexpected source name: "), col("source"))))

  def d8MixtureSample(s: SparkSession, dir: String): DataFrame = {
    val h = pmod(graft.functions.GenKey(
      concat(col("source"), lit("/"), col("doc_id").cast("string"))), lit(10000L))
    Tables.documents(s, dir)
      .withColumn("quota_bp", quotaBp(srcNum))
      .withColumn("kept", h < col("quota_bp"))
      .groupBy("source", "quota_bp")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("rate", col("n_kept").cast("double") / col("n_docs").cast("double"))
      .select("source", "quota_bp", "n_docs", "n_kept", "rate")
      .orderBy("source")
  }

  val d8Sql: String = {
    val h = HashRing.duckGenKey("source || '/' || CAST(doc_id AS VARCHAR)")
    // validated extraction mirrored: malformed source names error() here
    // exactly where the Spark side raise_error()s
    val num =
      """CASE WHEN regexp_matches(source, '^src[0-9]{1,9}$')
        |         THEN CAST(regexp_extract(source, '^src([0-9]+)$', 1) AS INTEGER)
        |         ELSE CAST(error('d8: unexpected source name: ' || source) AS INTEGER)
        |    END""".stripMargin
    s"""SELECT source, quota_bp, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS rate
       |FROM (
       |  SELECT source,
       |    CAST(CASE WHEN src_num < 5 THEN 10000
       |              WHEN src_num < 10 THEN 5000
       |              ELSE 2500 END AS BIGINT) AS quota_bp,
       |    ($h) % 10000 < CASE WHEN src_num < 5 THEN 10000
       |                        WHEN src_num < 10 THEN 5000
       |                        ELSE 2500 END AS kept
       |  FROM (SELECT source, doc_id, $num AS src_num FROM documents))
       |GROUP BY source, quota_bp ORDER BY source""".stripMargin
  }

  // --- d9_decontaminate: benchmark-overlap contamination check ------------
  // Before training, corpus docs that overlap an evaluation/benchmark set
  // must be dropped. Benchmark = docs 0-19; a corpus doc is contaminated
  // when it shares >= 5 distinct 3-shingles with the benchmark. The
  // benchmark shingle set is tiny -> broadcast; the corpus side is a
  // map-side hash semi-join + partial-agg count — the corpus never
  // shuffles by shingle.
  val ContamThreshold = 5

  def d9Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleKeyRows(s, dir)
    val bench = sh.filter(col("doc_id") < 20).select("h").distinct()
    // corpus side: map-side broadcast semi-join, then a distinct-count
    // whose partial aggregation dedupes (doc_id, h) before the only
    // exchange — which carries matched rows only (tiny: the contamination
    // overlap, not the corpus)
    sh.filter(col("doc_id") >= 20)
      .join(broadcast(bench), "h")
      .groupBy("doc_id")
      .agg(count_distinct(col("h")).as("n_shared"))
      .filter(col("n_shared") >= ContamThreshold)
      .orderBy("doc_id")
  }

  val d9Sql: String =
    s"""WITH $hashedShinglesSql,
       |bench AS (SELECT DISTINCT h FROM hs WHERE doc_id < 20)
       |SELECT doc_id, COUNT(*) AS n_shared
       |FROM hs JOIN bench USING (h)
       |WHERE doc_id >= 20
       |GROUP BY doc_id
       |HAVING COUNT(*) >= $ContamThreshold
       |ORDER BY doc_id""".stripMargin

  // --- d11_span_dedup: repeated-span (exact-substring) coverage -----------
  // The span-level complement to the doc-level family: instead of asking
  // "is this DOC a near-duplicate" (d2/d4), ask "how much of this doc is
  // made of SPANS that also appear in other docs" — the exact-substring
  // dedup signal used to strip boilerplate (headers, licenses, templated
  // text) that doc-level Jaccard never sees. A span is SpanLen consecutive
  // tokens; a span is `repeated` when it occurs in >= 2 distinct docs;
  // each doc reports the fraction of its span positions covered by
  // repeated spans and a drop verdict at >= SpanDropFrac.
  // Scale: spans fingerprint to u32 before any shuffle (8-byte keys);
  // ONE corpus-side shuffle builds the df table (map-side partial
  // count-distinct), which is then FILTERED to df >= 2 before joining
  // back — cross-doc-repeated spans are a tiny fraction of all distinct
  // spans (broadcast here; a plain hash join on the same key beyond
  // broadcast range), so the join-back never moves the full span table a
  // second time. Per-doc rollup is the last partial-agg'd shuffle.
  val SpanLen = 5
  val SpanDropFrac = 0.5

  /** (doc_id, span-fingerprint) rows, one per span POSITION (multiplicity
    * kept: coverage counts positions, not distinct spans).
    */
  private def spanRows(s: SparkSession, dir: String): DataFrame = {
    val terms = (0 until SpanLen).map(j => s"toks[i+$j]").mkString(", ")
    Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= SpanLen)
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(0, size(toks)-$SpanLen), i -> concat_ws(' ', $terms))")).as("sp"))
      .select(col("doc_id"), graft.functions.GenKey(col("sp")).as("h"))
  }

  private val spanRowsSql: String = {
    val terms = (0 until SpanLen).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""sp AS (
       |  SELECT doc_id, ${HashRing.duckGenKey("s")} AS h FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, len(t) - ${SpanLen - 2}), i -> $terms)) AS s
       |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |          WHERE len(string_split(text, ' ')) >= $SpanLen))
       |)""".stripMargin
  }

  def d11SpanDedup(s: SparkSession, dir: String): DataFrame = {
    val sp = spanRows(s, dir)
    val rep = sp.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("h"), lit(1L).as("hit"))
    // no broadcast hint: cross-doc-repeated spans are usually a small
    // fraction of distinct spans (AQE broadcasts them at these SFs), but
    // a boilerplate-heavy corpus can grow rep past broadcast range — the
    // planner must stay free to fall back to a shuffle join on h
    val per = sp.join(rep, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
           sum(coalesce(col("hit"), lit(0L))).as("n_rep"))
    Tables.documents(s, dir).select("doc_id", "source")
      .join(per, Seq("doc_id"), "left")
      .withColumn("n_spans", coalesce(col("n_spans"), lit(0L)))
      .withColumn("n_rep", coalesce(col("n_rep"), lit(0L)))
      .withColumn("rep_frac",
        when(col("n_spans") > 0,
          col("n_rep").cast("double") / col("n_spans").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("drop_doc", col("rep_frac") >= SpanDropFrac)
      .select("doc_id", "source", "n_spans", "n_rep", "rep_frac", "drop_doc")
      .orderBy("doc_id")
  }

  val d11Sql: String =
    s"""WITH $spanRowsSql,
       |rep AS (
       |  SELECT h FROM (
       |    SELECT h, COUNT(DISTINCT doc_id) AS df FROM sp GROUP BY h)
       |  WHERE df >= 2),
       |per AS (
       |  SELECT sp.doc_id, COUNT(*) AS n_spans,
       |    CAST(SUM(CASE WHEN r.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rep
       |  FROM sp LEFT JOIN rep r ON sp.h = r.h GROUP BY sp.doc_id)
       |SELECT d.doc_id, d.source,
       |  COALESCE(n_spans, 0) AS n_spans, COALESCE(n_rep, 0) AS n_rep,
       |  CASE WHEN COALESCE(n_spans, 0) > 0
       |       THEN CAST(COALESCE(n_rep, 0) AS DOUBLE) / CAST(n_spans AS DOUBLE)
       |       ELSE 0.0 END AS rep_frac,
       |  CASE WHEN COALESCE(n_spans, 0) > 0
       |       THEN CAST(COALESCE(n_rep, 0) AS DOUBLE) / CAST(n_spans AS DOUBLE)
       |       ELSE 0.0 END >= $SpanDropFrac AS drop_doc
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // --- d13_cluster_mixture: cluster-balanced corpus capping ---------------
  // The embedding-space counterpart of d8's source mixture: assign every
  // vector to its nearest coarse centroid (s3's deterministic IVF
  // codebook: the first NumCentroids vectors), then cap each cluster at
  // an equal share of half the corpus — the SemDeDup-style curation move
  // that stops one over-represented semantic cluster (boilerplate, spam
  // templates) from dominating the training mixture. Reports per-cluster
  // occupancy, label diversity, the cap, and how much survives.
  // Scale: the codebook is broadcast (8 rows; k rows generally) and
  // assignment is a map-side argmax folded by partial aggregation —
  // groupBy(vec_id) with max_by collapses the k candidate rows per vector
  // BEFORE the shuffle (vs s3's window form, which moves all k and
  // sorts); the cluster rollup and the 1-row total are partial-agg'd and
  // broadcast-joined. Nothing all-pairs, nothing driver-side.
  def d13ClusterMixture(s: SparkSession, dir: String): DataFrame = {
    val e = Similarity.normed(s, dir)
    val cents = e.filter(col("vec_id") < Similarity.NumCentroids)
      .select(col("vec_id").as("c_id"), col("emb").as("ce"), col("norm").as("cn"))
    // argmax by (cosine desc, c_id asc) without a window: max_by over the
    // (c_cos, -c_id) ordering struct — ties on cosine are impossible to
    // distinguish from the window form because both break by c_id
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("c_cos",
        Similarity.cosine(col("emb"), col("ce"), col("norm"), col("cn")))
      .groupBy("vec_id", "label")
      .agg(max_by(col("c_id"), struct(col("c_cos"), (-col("c_id")).as("nid")))
        .as("cluster"))
    val tot = e.agg(count(lit(1)).as("n_total"))
    val denom = 2 * Similarity.NumCentroids
    assigned.groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"),
           count_distinct(col("label")).as("n_labels"))
      .join(broadcast(tot))
      .withColumn("cap", expr(s"(n_total + ${denom - 1}) div $denom"))
      .withColumn("n_kept", least(col("n_vecs"), col("cap")))
      .withColumn("keep_frac",
        col("n_kept").cast("double") / col("n_vecs").cast("double"))
      .select("cluster", "n_vecs", "n_labels", "cap", "n_kept", "keep_frac")
      .orderBy("cluster")
  }

  val d13Sql: String = {
    val k = Similarity.NumCentroids
    val denom = 2 * k
    s"""WITH ${Similarity.normedSql},
       |cents AS (
       |  SELECT vec_id AS c_id, emb AS ce, norm AS cn FROM normed
       |  WHERE vec_id < $k),
       |assigned AS (
       |  SELECT vec_id, label, c_id AS cluster FROM (
       |    SELECT e.vec_id, e.label, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${Similarity.cosineSql("e.emb", "c.ce", "e.norm", "c.cn")} DESC,
       |        c.c_id) AS arnk
       |    FROM normed e CROSS JOIN cents c) WHERE arnk = 1),
       |tot AS (SELECT COUNT(*) AS n_total FROM normed),
       |sizes AS (
       |  SELECT cluster, COUNT(*) AS n_vecs, COUNT(DISTINCT label) AS n_labels
       |  FROM assigned GROUP BY cluster)
       |SELECT cluster, n_vecs, n_labels,
       |  (n_total + ${denom - 1}) // $denom AS cap,
       |  LEAST(n_vecs, (n_total + ${denom - 1}) // $denom) AS n_kept,
       |  CAST(LEAST(n_vecs, (n_total + ${denom - 1}) // $denom) AS DOUBLE) /
       |    CAST(n_vecs AS DOUBLE) AS keep_frac
       |FROM sizes CROSS JOIN tot ORDER BY cluster""".stripMargin
  }

  // --- d12_bloom_decontaminate: Bloom-prefiltered contamination gate ------
  // d9's architecture upgraded for benchmark sets too big to broadcast
  // exactly: the benchmark's shingle fingerprints fold into a fixed-size
  // Bloom bitset (graft.functions.BloomBuildAgg — one partial-agg'd pass,
  // NumWords longs per partition on the wire), the corpus probes the 8 KB
  // broadcast value map-side (BloomMightContain, codegen'd), and only
  // bloom-POSITIVE rows — true overlap plus the engineered fp rate —
  // reach the exact verification join. Output separates the two:
  // n_candidates (bloom-positive distinct shingles) vs n_confirmed
  // (exactly verified), so the fp behavior is observable and
  // oracle-checked, and the final contaminated verdict is EXACT (bloom
  // has no false negatives; the verify join removes the false
  // positives). The oracle mirrors the bitset relationally: a shingle is
  // bloom-positive iff every one of its K positions is in the union of
  // benchmark positions — precisely what the bitset stores.
  def d12BloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleKeyRows(s, dir)
    val bench = sh.filter(col("doc_id") < 20).select("h").distinct()
    val bloom = bench.agg(graft.functions.BloomBuildAgg(col("h")).as("bloom"))
    val cand = sh.filter(col("doc_id") >= 20)
      .join(broadcast(bloom))
      .filter(graft.functions.BloomMightContain(col("bloom"), col("h")))
      .select("doc_id", "h").distinct()
    // Exact verify as ONE LEFT join + ONE aggregation (round 14, guide
    // §2.3/§2.4): the previous two-branch shape (inner-join confirmed
    // count, outer-merged with a separate candidate count) duplicated
    // the whole cand subtree — scan + shingle explode + distinct +
    // bloom build + probe ran TWICE per query (executed-plan probe:
    // two full corpus scans and two ObjectHashAggregate bloom builds).
    // bench.h is DISTINCT by construction, so the left join preserves
    // cand's cardinality: n_candidates = COUNT(*), n_confirmed =
    // COUNT(hit) (nulls skipped) — the oracle's own shape (d12Sql), so
    // equivalence is by construction. No broadcast hint, same §3
    // freedom as before: a benchmark that outgrew broadcast is the
    // operator's premise; the planner may shuffle-join on h either way
    // (the cand side is the small one by construction then).
    cand.join(bench.withColumn("hit", lit(1L)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_candidates"),
           count(col("hit")).as("n_confirmed"))
      .withColumn("contaminated", col("n_confirmed") >= ContamThreshold)
      .orderBy("doc_id")
  }

  val d12Sql: String = {
    import graft.functions.BloomImpl.{NumBits, K, P => BP}
    def posExprs(h: String): String =
      (0 until K).map { j =>
        val (a, b) = (graft.functions.BloomImpl.hashA(j), graft.functions.BloomImpl.hashB(j))
        s"(($a * $h + $b) % $BP) % $NumBits"
      }.mkString("[", ", ", "]")
    s"""WITH $hashedShinglesSql,
       |bench AS (SELECT DISTINCT h FROM hs WHERE doc_id < 20),
       |bpos AS (SELECT DISTINCT pos FROM (
       |  SELECT unnest(${posExprs("h")}) AS pos FROM bench)),
       |c AS (SELECT doc_id, h FROM hs WHERE doc_id >= 20),
       |cpos AS (SELECT doc_id, h, unnest(${posExprs("h")}) AS pos FROM c),
       |probe AS (
       |  SELECT doc_id, h,
       |    COUNT(DISTINCT cpos.pos) AS np,
       |    COUNT(DISTINCT CASE WHEN bp.pos IS NOT NULL THEN cpos.pos END) AS nm
       |  FROM cpos LEFT JOIN bpos bp ON cpos.pos = bp.pos
       |  GROUP BY doc_id, h),
       |cand AS (SELECT doc_id, h FROM probe WHERE np = nm)
       |SELECT c.doc_id, COUNT(*) AS n_candidates,
       |  CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_confirmed,
       |  CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    >= $ContamThreshold AS contaminated
       |FROM cand c LEFT JOIN bench b ON c.h = b.h
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin
  }

  // --- d14_train_val_split: deterministic leak-free dataset splitting -----
  // The last gate before training: every document lands in exactly ONE of
  // train/val/test by a hash threshold on its identity — the same
  // doctrine as d8's mixture (reproducible, shuffle-free at the split
  // itself, composable: the key space is partitioned, so membership in
  // two splits is impossible BY CONSTRUCTION, not by bookkeeping). A
  // backfill or a re-run assigns every doc identically; per-source split
  // counts + fractions are the audit a leakage review reads.
  val TrainBp = 8000L // [0, 8000) train
  val ValBp = 9000L   // [8000, 9000) val; [9000, 10000) test

  /** THE split-hash formula — single definition on purpose: d14's split
    * and d15's funnel `train` stage promise identical membership, which
    * must hold by construction, not by parallel edits.
    */
  def splitHash: Column =
    pmod(graft.functions.GenKey(
      concat(lit("split/"), col("doc_id").cast("string"))), lit(10000L))

  def d14TrainValSplit(s: SparkSession, dir: String): DataFrame = {
    val h = splitHash
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
    Tables.documents(s, dir)
      .withColumn("split",
        when(h < TrainBp, "train").when(h < ValBp, "val").otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("frac",
        col("n_docs").cast("double") / sum(col("n_docs")).over(w).cast("double"))
      .select("source", "split", "n_docs", "frac")
      .orderBy("source", "split")
  }

  val d14Sql: String = {
    val h = HashRing.duckGenKey("'split/' || CAST(doc_id AS VARCHAR)")
    s"""SELECT source, split, n_docs,
       |  CAST(n_docs AS DOUBLE) /
       |    CAST(SUM(n_docs) OVER (PARTITION BY source) AS DOUBLE) AS frac
       |FROM (
       |  SELECT source, split, COUNT(*) AS n_docs FROM (
       |    SELECT source,
       |      CASE WHEN ($h) % 10000 < $TrainBp THEN 'train'
       |           WHEN ($h) % 10000 < $ValBp THEN 'val'
       |           ELSE 'test' END AS split
       |    FROM documents)
       |  GROUP BY source, split)
       |ORDER BY source, split""".stripMargin
  }

  // --- d15_curation_funnel: the shipped end-to-end curation report --------
  // The composition every training-data team actually operates: raw →
  // quality filter (t8) → benchmark decontamination (d9) → exact dedup
  // keeper selection (d1's contract) → mixture sampling (d8) → train
  // split (d14), reported as a per-source funnel with one row per source
  // and monotonically shrinking stage counts. Each stage is the SAME
  // DataFrame sub-plan the standalone operator ships — the point is that
  // the stages COMPOSE: Catalyst sees one tree (per-doc flags via joins,
  // then a single partial-agg'd rollup), not five materialized passes.
  // Scale: t8's per-doc verdict is row-local on the funnel's own scan;
  // d9's flag list and the >1-copy keeper table are sub-linear
  // (broadcast; hash join beyond); d8/d14 flags are map-side hash
  // arithmetic; ONE corpus-wide rollup at the end.
  def d15CurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val contam = d9Decontaminate(s, dir)
      .select(col("doc_id"), lit(true).as("contaminated"))
    // keeper table restricted to >1-copy groups: sub-linear in the corpus
    val keepers = Tables.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("chash"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
      .filter(col("n") > 1)
      .select("chash", "keep_id")
    val sampledH = pmod(graft.functions.GenKey(
      concat(col("source"), lit("/"), col("doc_id").cast("string"))), lit(10000L))
    val splitH = splitHash
    // contam and keepers carry no broadcast hints: both are sub-linear
    // in the usual case (AQE broadcasts them here), but contamination
    // against a huge benchmark and >1-copy groups under heavy
    // duplication can each outgrow broadcast — the planner must stay
    // free to shuffle-join either
    // the same rows t8 judges (null text has no verdict)
    TextAnalysis.qualityVerdicts(
        Tables.documents(s, dir).filter(col("text").isNotNull))
      .withColumn("chash", md5(col("text").cast("binary")))
      .join(contam, Seq("doc_id"), "left")
      .join(keepers, Seq("chash"), "left")
      .withColumn("clean",
        col("keep") && coalesce(col("contaminated"), lit(false)) === false)
      .withColumn("uniq",
        col("clean") && (col("keep_id").isNull || col("keep_id") === col("doc_id")))
      .withColumn("sampled",
        col("uniq") && sampledH < quotaBp(srcNum))
      .withColumn("train", col("sampled") && splitH < TrainBp)
      .groupBy("source")
      .agg(count(lit(1)).as("n_raw"),
           sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality"),
           sum(when(col("clean"), 1L).otherwise(0L)).as("n_clean"),
           sum(when(col("uniq"), 1L).otherwise(0L)).as("n_unique"),
           sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
           sum(when(col("train"), 1L).otherwise(0L)).as("n_train"))
      .withColumn("yield_frac",
        col("n_train").cast("double") / col("n_raw").cast("double"))
      .select("source", "n_raw", "n_quality", "n_clean", "n_unique",
              "n_sampled", "n_train", "yield_frac")
      .orderBy("source")
  }

  val d15Sql: String = {
    val sampledH = HashRing.duckGenKey("d.source || '/' || CAST(d.doc_id AS VARCHAR)")
    val splitH = HashRing.duckGenKey("'split/' || CAST(d.doc_id AS VARCHAR)")
    val srcNumSql =
      """CASE WHEN regexp_matches(d.source, '^src[0-9]{1,9}$')
        |     THEN CAST(regexp_extract(d.source, '^src([0-9]+)$', 1) AS INTEGER)
        |     ELSE CAST(error('d8: unexpected source name: ' || d.source) AS INTEGER)
        |END""".stripMargin
    s"""WITH q AS (${TextAnalysis.t8Sql}),
       |contam AS ($d9Sql),
       |keepers AS (
       |  SELECT chash, keep_id FROM (
       |    SELECT md5(text) AS chash, COUNT(*) AS n, MIN(doc_id) AS keep_id
       |    FROM documents GROUP BY 1) WHERE n > 1),
       |flags AS (
       |  -- lateral column aliases: each stage references the previous
       |  -- alias, so the funnel predicate chain is written exactly once
       |  -- (a quota edit cannot desynchronize n_sampled from n_train).
       |  -- The side-effecting validated extraction (error() on malformed
       |  -- source names) lives in the inner projection — DuckDB refuses
       |  -- lateral references over side-effecting expressions.
       |  SELECT source, keep,
       |    keep AND no_contam AS clean,
       |    clean AND keeper_ok AS uniq,
       |    uniq AND samp_ok AS sampled,
       |    sampled AND split_ok AS train
       |  FROM (
       |    SELECT d.source, q.keep,
       |      c.doc_id IS NULL AS no_contam,
       |      (k.keep_id IS NULL OR k.keep_id = d.doc_id) AS keeper_ok,
       |      ($sampledH) % 10000 <
       |        CASE WHEN ($srcNumSql) < 5 THEN 10000
       |             WHEN ($srcNumSql) < 10 THEN 5000 ELSE 2500 END AS samp_ok,
       |      ($splitH) % 10000 < $TrainBp AS split_ok
       |    FROM documents d
       |    JOIN q ON d.doc_id = q.doc_id
       |    LEFT JOIN contam c ON d.doc_id = c.doc_id
       |    LEFT JOIN keepers k ON md5(d.text) = k.chash))
       |SELECT source, COUNT(*) AS n_raw,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |  CAST(SUM(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       |  CAST(SUM(CASE WHEN uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       |  CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       |  CAST(SUM(CASE WHEN train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |  CAST(SUM(CASE WHEN train THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE) AS yield_frac
       |FROM flags GROUP BY source ORDER BY source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup" -> (d1ExactDedup _),
    "d11_span_dedup" -> (d11SpanDedup _),
    "d15_curation_funnel" -> (d15CurationFunnel _),
    "d13_cluster_mixture" -> (d13ClusterMixture _),
    "d12_bloom_decontaminate" -> (d12BloomDecontaminate _),
    "d14_train_val_split" -> (d14TrainValSplit _),
    "d6_canonical_dedup" -> (d6CanonicalDedup _),
    "d2_minhash_lsh" -> (d2MinhashLsh _),
    "d3_simhash" -> (d3Simhash _),
    "d4_ngram_jaccard" -> (d4NgramJaccard _),
    "d16_containment_dedup" -> (d16Containment _),
    "d5_embed_dedup" -> (d5EmbedDedup _),
    "d7_dup_groups" -> (d7DupGroups _),
    "d8_mixture_sample" -> (d8MixtureSample _),
    "d9_decontaminate" -> (d9Decontaminate _),
    "d10_dedup_purge" -> (d10DedupPurge _),
  )

  val oracles: Map[String, String] = Map(
    "d1_exact_dedup" -> d1Sql,
    "d11_span_dedup" -> d11Sql,
    "d13_cluster_mixture" -> d13Sql,
    "d12_bloom_decontaminate" -> d12Sql,
    "d14_train_val_split" -> d14Sql,
    "d15_curation_funnel" -> d15Sql,
    "d6_canonical_dedup" -> d6Sql,
    "d2_minhash_lsh" -> d2Sql,
    "d3_simhash" -> d3Sql,
    "d4_ngram_jaccard" -> d4Sql,
    "d16_containment_dedup" -> d16Sql,
    "d5_embed_dedup" -> d5Sql,
    "d7_dup_groups" -> d7Sql,
    "d8_mixture_sample" -> d8Sql,
    "d9_decontaminate" -> d9Sql,
    "d10_dedup_purge" -> d10Sql,
  )
}
