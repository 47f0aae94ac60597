package graft

import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  test("every pipeline op runs non-empty at sf0.001") {
    (TextAnalysis.queries ++ Dedup.queries ++ Similarity.queries ++
      Multimodal.queries).foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name returned 0 rows")
    }
  }

  test("d2 LSH candidates recover the high-jaccard pairs d4 finds") {
    // LSH with 4x4 bands: P(candidate) = 1-(1-j^4)^4 => ~1.0 for j>0.9.
    // Every pair d4 verifies above 0.9 must be produced by the LSH pass.
    val lsh = Dedup.d2MinhashLsh(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.d4NgramJaccard(spark, sf)
      .filter(col("jaccard") > 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    assert(exact.subsetOf(lsh),
      s"LSH missed high-jaccard pairs: ${exact -- lsh}")
  }

  test("d6 canonical dedup groups are exactly the d4 high-jaccard components") {
    // the corpus plants near-dups as marker-decorated copies: stripping
    // the marker (d6) must collapse precisely the pairs d4 scores ~1.0
    val d6Pairs = Dedup.d6CanonicalDedup(spark, sf).count()
    val d4High = Dedup.d4NgramJaccard(spark, sf).filter(col("jaccard") > 0.9).count()
    assert(d6Pairs > 0)
    assert(d6Pairs <= d4High + 1, // components vs pairs: equal when groups are pairs
      s"canonical groups ($d6Pairs) inconsistent with high-jaccard pairs ($d4High)")
  }

  test("d3 simhash: near-dup docs have small hamming distance") {
    val sim = Dedup.d3Simhash(spark, sf).select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.d4NgramJaccard(spark, sf).filter(col("jaccard") > 0.9)
      .select("doc_a", "doc_b").collect()
    pairs.foreach { r =>
      val d = java.lang.Long.bitCount(sim(r.getLong(0)) ^ sim(r.getLong(1)))
      assert(d <= 6, s"near-dup pair ${r} has hamming distance $d")
    }
  }

  test("d5 recall: bucketed LSH finds every exact all-pairs cosine>=0.45 pair") {
    // The oracle replays the SAME bucketed plan, so the correctness gate
    // proves engine equivalence but not recall — a plane-generation or
    // bucketing bug that drops true near-dup pairs would pass on both
    // engines. This is the ground-truth check: brute-force all-pairs
    // cosine (test-only collect; the larger sf0.01 corpus, per ADVICE)
    // vs d5's pair set.
    val dir = "/root/testdata/sf0.01"
    val e = Similarity.normed(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Double]]("emb").toArray, r.getAs[Double]("norm")))
      .sortBy(_._1)
    val truth = Set.newBuilder[(Long, Long)]
    for (i <- e.indices; j <- i + 1 until e.length) {
      val (ia, ea, na) = e(i); val (ib, eb, nb) = e(j)
      var acc = 0.0; var d = 0
      while (d < ea.length) { acc += ea(d) * eb(d); d += 1 }
      if (acc / (na * nb) >= 0.45) truth += ((ia, ib))
    }
    val got = Dedup.d5EmbedDedup(spark, dir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val t = truth.result()
    assert(t.nonEmpty, "test data should contain embedding near-dups")
    assert(got == t,
      s"d5 recall regression: missed ${t -- got}, spurious ${got -- t}")
  }

  /** d7's candidate edges (both directions, repeats kept) as the pair
    * set: doc_a < doc_b, distinct.
    */
  private def candidatePairs(sig: DataFrame): DataFrame =
    Dedup.candidateEdges(sig).toDF("doc_a", "doc_b")
      .filter(col("doc_a") < col("doc_b")).distinct()

  private def bandPairSet(sig: DataFrame): Set[(Long, Long)] =
    candidatePairs(sig).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("candidatePairs: a viral duplicate cluster emits linear star edges, stays connected") {
    // The 100 TB failure mode the cap exists for: 1000 copies of one
    // document share identical signatures, so ALL of them land in the
    // same (band, bkey) bucket in every band. Uncapped, that bucket
    // self-joins to C(1000,2) = 499500 pair rows (df² — at corpus scale,
    // 10⁶ copies → 10¹² rows on one shuffle key). Capped, each over-cap
    // bucket degrades to star edges off the bucket min: linear fan-out
    // AND the cluster remains one connected component for d7.
    import spark.implicits._
    val n = 1000
    val sig = (0 until n).map(i => (i.toLong, Seq.fill(Dedup.NumPerm)(7L)))
      .toDF("doc_id", "sigs")
    val pairs = bandPairSet(sig).toSeq
    assert(pairs.length == n - 1,
      s"expected ${n - 1} star edges, got ${pairs.length} (uncapped would be ${n * (n - 1) / 2})")
    assert(pairs.forall(_._1 == 0L), "star edges must anchor at the bucket min")
    assert(pairs.map(_._2).toSet == (1L until n.toLong).toSet,
      "every cluster member must stay connected to the anchor")
  }

  test("candidatePairs: buckets within the cap emit exact all-pairs") {
    import spark.implicits._
    val n = Dedup.MaxBandDf // boundary: exactly at the cap is still exact
    val sig = (0 until n).map(i => (i.toLong, Seq.fill(Dedup.NumPerm)(3L)))
      .toDF("doc_id", "sigs")
    val pairs = bandPairSet(sig)
    val expected = (for {
      i <- 0 until n; j <- i + 1 until n
    } yield (i.toLong, j.toLong)).toSet
    assert(pairs == expected,
      s"cap-boundary bucket must emit all C($n,2) pairs: missing ${expected -- pairs}")
  }

  test("scoredCandidatePairs: kernel n_match equals the per-position agreement count") {
    // Focused test for the round-15 d2 kernel change: the pair score is
    // now computed INSIDE the band-bucket kernel (from the sigs the band
    // rows carry) instead of by re-joining the signature table. Three
    // docs collide on band 0 only (positions 1-4 identical); all other
    // positions are distinct per doc except one planted extra agreement
    // between docs 1 and 2 — so the kernel must score (0,1) and (0,2)
    // at 4 and (1,2) at 5, exactly the zip_with count the old epilogue
    // (and the DuckDB oracle's list_filter) computes.
    import spark.implicits._
    def sigs(doc: Int): Seq[Long] =
      Seq.fill(4)(9L) ++ (4 until Dedup.NumPerm).map(p => (100 * doc + p).toLong)
    val sig = Seq(
      (0L, sigs(0)),
      (1L, sigs(1)),
      (2L, sigs(2).updated(7, sigs(1)(7)))
    ).toDF("doc_id", "sigs")
    val got = Dedup.scoredCandidatePairs(sig)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 1L, 4L), (0L, 2L, 4L), (1L, 2L, 5L)),
      s"kernel-scored pairs wrong: $got")
  }

  test("scoredCandidatePairs: over-cap star edges carry each member's true score") {
    // The star path buffers only the anchor's sigs and streams the tail:
    // each emitted (anchor, member, n_match) must still score against
    // the MEMBER's own sigs. 20 docs (> MaxBandDf = 16) collide on band
    // 0; doc 5 additionally agrees with the anchor at position 9, so its
    // star edge must score 5 while every other edge scores 4.
    import spark.implicits._
    def sigs(doc: Int): Seq[Long] =
      Seq.fill(4)(7L) ++ (4 until Dedup.NumPerm).map(p => (100 * doc + p).toLong)
    val n = Dedup.MaxBandDf + 4
    val rows = (0 until n).map { d =>
      val s = if (d == 5) sigs(5).updated(9, sigs(0)(9)) else sigs(d)
      (d.toLong, s)
    }
    val got = Dedup.scoredCandidatePairs(rows.toDF("doc_id", "sigs"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == n - 1, s"expected ${n - 1} star edges, got ${got.length}")
    assert(got.forall(_._1 == 0L), "star edges must anchor at the bucket min")
    val scores = got.map(t => t._2 -> t._3).toMap
    assert(scores(5L) == 5L, s"planted extra agreement must score 5: $scores")
    assert((scores - 5L).values.forall(_ == 4L),
      s"every other member agrees on band 0 only: $scores")
  }

  /** Messages along a failure's cause chain (a task failure wraps the
    * kernel's exception in the driver-side SparkException).
    */
  private def failureMessages(run: => Any): List[String] = {
    val e = intercept[Exception](run)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
  }

  private def contractMessage(len: Int, doc: Long): String =
    s"minhash signature length $len != ${Dedup.NumPerm} (doc_id=$doc)"

  test("scoredCandidatePairs: a signature shorter than NumPerm fails naming its doc_id") {
    // Signature-length contract: the kernel scores pairs position by
    // position up to NumPerm, so a short sigs array must be rejected
    // with the offending doc named — not die as a bare index error. The
    // band projection checks it before the band key's element_at, which
    // under ANSI off would tolerate a short array; this case runs on a
    // non-ANSI session, the default-session cases are below.
    val lenient = spark.newSession()
    lenient.conf.set("spark.sql.ansi.enabled", "false")
    import lenient.implicits._
    val full = Seq.fill(Dedup.NumPerm)(5L)
    val sig = Seq((0L, full), (1L, full), (2L, full.take(Dedup.NumPerm - 1)))
      .toDF("doc_id", "sigs")
    val msgs = failureMessages(Dedup.scoredCandidatePairs(sig).collect())
    assert(msgs.exists(_.contains(contractMessage(Dedup.NumPerm - 1, 2L))),
      s"expected the signature-length contract to name doc 2, got: ${msgs.headOption}")
    // the default (ANSI) session rejects it too
    val strict = spark.createDataFrame(Seq((0L, full), (2L, full.take(Dedup.NumPerm - 1))))
      .toDF("doc_id", "sigs")
    intercept[Exception](Dedup.scoredCandidatePairs(strict).collect())
  }

  test("scoredCandidatePairs: a signature longer than NumPerm fails naming its doc_id") {
    // A long array passes the band key (it reads positions 1..NumPerm
    // only) and would be scored on its first NumPerm values; the band
    // projection rejects it instead.
    import spark.implicits._
    val full = Seq.fill(Dedup.NumPerm)(5L)
    val sig = Seq((0L, full), (1L, full :+ 5L)).toDF("doc_id", "sigs")
    val msgs = failureMessages(Dedup.scoredCandidatePairs(sig).collect())
    assert(msgs.exists(_.contains(contractMessage(Dedup.NumPerm + 1, 1L))),
      s"expected the signature-length contract to name doc 1, got: ${msgs.headOption}")
  }

  /** Both band-pair paths, d7/d10's and d2's, on the default (ANSI)
    * session: a signature of `len` values must fail naming its doc_id.
    */
  private def assertLengthContract(len: Int): Unit = {
    import spark.implicits._
    val full = Seq.fill(Dedup.NumPerm)(5L)
    val sig = Seq((0L, full), (1L, full), (2L, Seq.fill(len)(5L))).toDF("doc_id", "sigs")
    Seq[(String, DataFrame => DataFrame)](
      "candidateEdges" -> candidatePairs,
      "scoredCandidatePairs" -> Dedup.scoredCandidatePairs
    ).foreach { case (name, pairs) =>
      val msgs = failureMessages(pairs(sig).collect())
      assert(msgs.exists(_.contains(contractMessage(len, 2L))),
        s"$name: expected the signature-length contract to name doc 2, got: ${msgs.headOption}")
    }
  }

  test("band pairs: a signature shorter than NumPerm fails naming its doc_id on the default session") {
    assertLengthContract(Dedup.NumPerm - 1)
  }

  test("band pairs: a signature longer than NumPerm fails naming its doc_id on the default session") {
    assertLengthContract(Dedup.NumPerm + 1)
  }

  test("d10 purge agrees with d7's groups: dropped = non-keeper members") {
    val dropped = Dedup.d7DupGroups(spark, sf)
      .filter(col("doc_id") =!= col("group_id")).count()
    val reported = Dedup.d10DedupPurge(spark, sf)
      .agg(sum(col("n_dropped"))).collect()(0).getLong(0)
    assert(dropped > 0, "test data should contain dup groups")
    assert(reported == dropped,
      s"d10 reports $reported dropped docs; d7 groups imply $dropped")
  }

  test("s5 recall is a valid fraction and matches a recount") {
    val rows = Similarity.s5AnnRecall(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (k, hit, rec) = (r.getAs[Long]("k"), r.getAs[Long]("n_hit"),
        r.getAs[Double]("recall"))
      assert(k == Similarity.RecallK && hit >= 0 && hit <= k)
      assert(rec == hit.toDouble / k)
    }
  }

  test("t7 fractions are consistent per doc") {
    val rows = TextAnalysis.t7Repetition(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_bigrams"); val d = r.getAs[Long]("n_distinct_bigrams")
      val top = r.getAs[Long]("top_count")
      assert(d >= 1 && d <= n && top >= 1 && top <= n - d + 1)
      assert(r.getAs[Double]("dup_bigram_frac") == (n - d).toDouble / n)
      assert(r.getAs[Double]("top_bigram_frac") == top.toDouble / n)
    }
  }

  test("d4 kernel: a viral shingle (df > cap) yields no pairs and leaves size counts") {
    // 15 docs all share the boilerplate shingle "x y z" (df=15 > cap=10):
    // it must contribute NO pairs and NO size counts. Docs 0 and 1 also
    // share the rare shingle "p q r": exactly that one pair must survive,
    // with sizes counting only the rare/unique shingles.
    val d = java.nio.file.Files.createTempDirectory("graft-viral").toString
    import spark.implicits._
    (0 until 15).map { i =>
      val rare = if (i < 2) "p q r " else s"u$i v$i w$i "
      (i.toLong, rare + "x y z", "en", s"src$i", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = Dedup.d4NgramJaccard(spark, d).collect()
    // each doc's text has 6 tokens -> 4 shingles, of which "x y z" is
    // viral; the other 3 are unique to the doc (or shared by 0/1 only)
    assert(rows.length == 1, s"expected exactly one pair, got ${rows.toSeq}")
    val r = rows(0)
    assert(r.getAs[Long]("doc_a") == 0L && r.getAs[Long]("doc_b") == 1L)
    // docs 0/1 share shingles "p q r", "q r x", "r x y" (all rare) but
    // NOT "x y z" (viral, dropped): inter = 3 over capped sizes of 3
    assert(r.getAs[Long]("inter") == 3L, s"inter: $r")
    assert(r.getAs[Double]("jaccard") == 3.0 / (3 + 3 - 3), s"jaccard: $r")
  }

  test("m3/m4 survive a zero-length payload (no div-by-zero, no NaN)") {
    // not in the synthetic corpus, but a real one has empty documents;
    // m3's modulo indexing and m4's fraction must degrade to 0, matching
    // the oracles' CASE WHEN nb = 0 branches
    val d = java.nio.file.Files.createTempDirectory("graft-emptytext").toString
    Tables.documents(spark, sf).limit(1)
      .withColumn("text", lit(""))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val m3 = Multimodal.m3Resize(spark, d).collect()
    assert(m3.length == 1 && m3(0).getAs[Long]("thumb_checksum") == 0L)
    val m4 = Multimodal.m4FeatureExtract(spark, d).collect()
    assert(m4.length == Multimodal.FeatureBins)
    m4.foreach { r =>
      assert(r.getAs[Long]("n") == 0L && r.getAs[Double]("frac") == 0.0)
    }
  }

  test("Ppm codec: real round-trip parse; malformed payloads raise typed errors") {
    import graft.pipeline.Ppm
    // round trip preserves header fields and raster bytes exactly
    val raster = Array.tabulate(3 * 4 * 2)(i => ((i * 37) % 251).toByte)
    val good = Ppm.encode(Ppm.Image(4, 2, raster))
    val img = Ppm.decode(good)
    assert(img.width == 4 && img.height == 2)
    assert(java.util.Arrays.equals(img.raster, raster))
    // the decoder interprets the header for real: every corruption raises
    // the TYPED media error instead of deriving fake metadata from bytes
    val badMagic = good.clone(); badMagic(1) = '5'
    intercept[graft.GraftMediaDecodeError](Ppm.decode(badMagic))
    intercept[graft.GraftMediaDecodeError](Ppm.decode(good.dropRight(1)))
    intercept[graft.GraftMediaDecodeError](Ppm.decode(good ++ Array[Byte](0)))
    intercept[graft.GraftMediaDecodeError](Ppm.decode(
      "P6\n4 2\n254\n".getBytes("US-ASCII") ++ raster))
    intercept[graft.GraftMediaDecodeError](Ppm.decode(
      "P6\nx 2\n255\n".getBytes("US-ASCII") ++ raster))
    intercept[graft.GraftMediaDecodeError](Ppm.decode(
      "P6\n4 0\n255\n".getBytes("US-ASCII")))
    // m1's metadata comes from the PARSED container: n_bytes is the full
    // P6 size (ASCII header + 3wh raster), strictly larger than the
    // source document and consistent with the parsed dimensions
    val r = Multimodal.m1Multimodal(spark, sf).limit(5).collect()
    r.foreach { row =>
      val (w, h) = (row.getAs[Long]("width"), row.getAs[Long]("height"))
      val header = 3 + w.toString.length + 1 + h.toString.length + 5
      assert(row.getAs[Long]("n_bytes") == header + 3 * w * h)
      assert(row.getAs[String]("format") == "image/x-portable-pixmap")
    }
  }

  test("s1 knn: neighbors are truly the top-k (spot-check query 0)") {
    val e = Similarity.normed(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Double]]("emb").toArray, r.getAs[Double]("norm"))).toSeq
    val (qid, qe, qn) = e.find(_._1 == 0L).get
    val brute = e.filter(_._1 != qid)
      .map { case (id, v, n) =>
        (id, qe.zip(v).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y } / (qn * n))
      }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    val got = Similarity.s1KnnBrute(spark, sf).filter(col("q_id") === 0)
      .orderBy("rnk").select("neighbor_id").collect().map(_.getLong(0)).toSeq
    assert(got == brute.toSeq)
  }

  test("s2 ANN results are a subset of same-bucket exact ranking") {
    val s2 = Similarity.s2LshAnn(spark, sf)
    // every returned neighbor shares the query's bucket (join guarantees),
    // and ranks are contiguous from 1 per query
    val byQ = s2.groupBy("q_id").agg(collect_list("rnk").as("rnks")).collect()
    byQ.foreach { r =>
      val rnks = r.getSeq[Long](1).toList.sorted
      assert(rnks == (1L to rnks.length).toSeq, s"ranks not contiguous: $rnks")
    }
  }

  test("s3 IVF: probing more lists can only improve recall vs s1 exact top-k") {
    // every s3 neighbor must appear in s1's exact ranking for queries that
    // overlap -- here queries differ (100-104 vs <5), so instead check
    // internal consistency: ranks contiguous, cosine non-increasing
    val rows = Similarity.s3IvfAnn(spark, sf)
      .orderBy("q_id", "rnk").collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val cos = rs.map(_.getDouble(4))
      assert(cos.sameElements(cos.sorted.reverse), "cosine not descending")
      assert(rs.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq)
    }
  }

  test("s4 quantized ANN recovers the exact top-3 (20 int8 candidates suffice)") {
    val e = Similarity.normed(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Double]]("emb").toArray, r.getAs[Double]("norm"))).toSeq
    val got = Similarity.s4SqAnn(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq)
    (200L until 205L).foreach { qid =>
      val (_, qe, qn) = e.find(_._1 == qid).get
      val exact = e.filter(_._1 != qid)
        .map { case (id, v, n) =>
          (id, qe.zip(v).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y } / (qn * n))
        }
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1)
      assert(got(qid) == exact.toSeq,
        s"quantized candidates missed exact neighbors for query $qid")
    }
  }

  test("t5 top terms: scores are per-doc descending and tf/df consistent") {
    val rows = TextAnalysis.t5TopTerms(spark, sf).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val scores = rs.sortBy(_.getLong(1)).map(_.getLong(5))
      assert(scores.sameElements(scores.sorted.reverse))
    }
    rows.foreach { r =>
      assert(r.getLong(5) == r.getLong(3) * 1000000000L / r.getLong(4))
    }
  }

  test("t4 fingerprint matches a JVM-side reference fold") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .limit(20).collect()
    val got = TextAnalysis.t4Fingerprint(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.foreach { r =>
      val expect = r.getString(1).foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
      assert(got(r.getLong(0)) == expect)
    }
    // the native kernel's non-ASCII fallback folds over CODE POINTS
    // (same units as Spark length/substring and DuckDB text[i])
    val uni = "héllo wörld 世界 😀"
    val expectUni = uni.codePoints().toArray
      .foldLeft(0L)((acc, cp) => (acc * 31 + cp) % 1000000007L)
    assert(graft.functions.RollingHashImpl.fingerprint(
      org.apache.spark.unsafe.types.UTF8String.fromString(uni)) == expectUni)
    // and the ASCII fast path agrees with the general walk
    val asc = "plain ascii 123"
    assert(graft.functions.RollingHashImpl.fingerprint(
      org.apache.spark.unsafe.types.UTF8String.fromString(asc)) ==
      asc.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L))
  }

  test("m1 multimodal mapPartitions plumbing emits one row per doc") {
    val docs = Tables.documents(spark, sf).count()
    val m = Multimodal.m1Multimodal(spark, sf)
    assert(m.count() == docs)
    // metadata derived from actual bytes
    assert(m.filter(col("n_bytes") <= 0).count() == 0)
  }

  test("d7 dup groups: canonical keeper, transitive closure of d2 pairs") {
    val pairs = Dedup.d2MinhashLsh(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val groups = Dedup.d7DupGroups(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every candidate edge's endpoints land in the same group, and the
    // group id is the component minimum (so it's one of its own members)
    pairs.foreach { case (a, b) =>
      assert(groups(a) == groups(b), s"edge ($a,$b) split across groups")
    }
    groups.values.foreach(g => assert(groups(g) == g, s"group id $g not canonical"))
    groups.foreach { case (d, g) => assert(g <= d) }
  }

  test("t6 TTR: bounded by 1, types never exceed tokens") {
    val rows = TextAnalysis.t6TypeTokenRatio(spark, sf).collect()
    rows.foreach { r =>
      val (n, ty, ttr) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(ty >= 1 && ty <= n)
      assert(ttr > 0.0 && ttr <= 1.0)
      assert(ttr == ty.toDouble / n.toDouble)
    }
  }

  test("m2 frame sampling: every 4th 64-byte frame, checksums match bytes") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .limit(10).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val frames = Multimodal.m2FrameSample(spark, sf).collect()
      .groupBy(_.getLong(0))
    docs.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val expect = (0 until (bytes.length + 63) / 64).filter(_ % 4 == 0)
      val got = frames(id).sortBy(_.getLong(1))
      assert(got.map(_.getLong(1)).toSeq == expect.map(_.toLong))
      got.foreach { r =>
        val f = r.getLong(1).toInt
        val chunk = bytes.slice(f * 64, math.min(f * 64 + 64, bytes.length))
        assert(r.getLong(2) == chunk.length.toLong)
        assert(r.getLong(3) == chunk.map(_ & 0xff).map(_.toLong).sum)
      }
    }
  }

  test("d8 mixture sampling: rates track quotas, sample is deterministic") {
    val rows = Dedup.d8MixtureSample(spark, sf).collect()
    rows.foreach { r =>
      val (bp, n, kept) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(kept <= n)
      if (bp == 10000L) assert(kept == n, "quota 100% must keep everything")
    }
    // deterministic: a second run keeps the identical counts
    val again = Dedup.d8MixtureSample(spark, sf).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("d9 decontamination flags the planted benchmark near-dups") {
    val flagged = Dedup.d9Decontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.nonEmpty, "corpus should contain benchmark-overlapping docs")
    assert(flagged.keys.forall(_ >= 20), "benchmark docs must not flag themselves")
    assert(flagged.values.forall(_ >= Dedup.ContamThreshold))
    // any d4-verified near-dup of a benchmark doc must be flagged
    val nearDups = Dedup.d4NgramJaccard(spark, sf)
      .filter(col("jaccard") > 0.9 && col("doc_a") < 20 && col("doc_b") >= 20)
      .select("doc_b").collect().map(_.getLong(0))
    nearDups.foreach(d => assert(flagged.contains(d),
      s"near-dup $d of a benchmark doc escaped decontamination"))
  }

  test("t9 rarity score matches a JVM-side unigram-model recompute") {
    // ground truth, independent of both engines: build the corpus unigram
    // counts in plain Scala and recompute every doc's bit-length rarity.
    // (The op counts by u32 fingerprint; this recount is by raw token —
    // they differ only on a fingerprint collision, vanishingly unlikely in
    // this vocabulary and worth failing loudly on.)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val counts = docs.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def bits(n: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(n)
    val maxBits = counts.values.map(bits).max
    val got = pipeline.TextAnalysis.t9RarityScore(spark, sf).collect()
    assert(got.length == docs.size)
    got.foreach { r =>
      val (id, nToks, sum, mean) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val toks = docs(id)
      val expSum = toks.map(t => maxBits - bits(counts(t))).sum
      assert(nToks == toks.length, s"doc $id token count")
      assert(sum == expSum, s"doc $id rarity_sum: got $sum, expected $expSum")
      assert(mean == expSum.toDouble / toks.length, s"doc $id rarity_mean")
    }
  }

  test("t10 packing: per-source token conservation and contiguous offsets") {
    // ground truth independent of both engines: replay the packing in
    // plain Scala from the raw documents
    val docs = Tables.documents(spark, sf)
      .select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2).split(" ", -1).length.toLong))
    val got = pipeline.TextAnalysis.t10PackSequences(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))
      .toMap
    assert(got.size == docs.length)
    docs.groupBy(_._1).foreach { case (src, rows) =>
      var off = 0L
      rows.sortBy(_._2).foreach { case (_, id, nToks) =>
        val (gToks, gOff, gFirst, gLast, gN, gStraddles) = got((src, id))
        assert(gToks == nToks, s"doc $id n_toks")
        assert(gOff == off, s"doc $id tok_off: got $gOff, expected $off")
        assert(gFirst == off / pipeline.TextAnalysis.SeqBudget)
        assert(gLast == (off + nToks - 1) / pipeline.TextAnalysis.SeqBudget)
        assert(gN == gLast - gFirst + 1)
        assert(gStraddles == (gN > 1))
        off += nToks
      }
    }
  }

  test("d11 span coverage: d4-verified near-dup docs are span-flagged") {
    // a doc that is a near-copy of another (d4 jaccard > 0.9) shares
    // almost all its 5-token spans with its twin -> high repeated-span
    // coverage and a drop verdict. This is the ground-truth link between
    // the span view and the doc view (the oracle replays the same plan,
    // so cross-operator consistency is the real check).
    val d11 = Dedup.d11SpanDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5)))
      .toMap
    val dupDocs = Dedup.d4NgramJaccard(spark, sf).filter(col("jaccard") > 0.9)
      .select("doc_a", "doc_b").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(dupDocs.nonEmpty, "test data should contain planted near-dups")
    dupDocs.foreach { d =>
      val (nSpans, nRep, frac, drop) = d11(d)
      assert(nSpans > 0, s"near-dup doc $d has no spans")
      assert(frac >= 0.5 && drop,
        s"near-dup doc $d not span-flagged (rep_frac=$frac)")
      assert(nRep <= nSpans)
    }
    // every doc is reported exactly once, flags consistent with fractions
    assert(d11.size == Tables.documents(spark, sf).count())
    d11.values.foreach { case (nSpans, nRep, frac, drop) =>
      val expFrac = if (nSpans > 0) nRep.toDouble / nSpans else 0.0
      assert(frac == expFrac)
      assert(drop == (frac >= Dedup.SpanDropFrac))
    }
  }

  test("d13 cluster mixture: occupancy matches a JVM-side argmax recount") {
    // independent ground truth: recompute every vector's nearest-centroid
    // assignment in plain Scala (same left-to-right fold the engines use)
    // and check cluster occupancy + cap arithmetic
    val vecs = Similarity.normed(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Seq[Double]]("emb").toArray, r.getAs[Double]("norm")))
    val cents = vecs.filter(_._1 < Similarity.NumCentroids).sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double], na: Double, nb: Double) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s / (na * nb)
    }
    val assign = vecs.map { case (id, label, e, n) =>
      val best = cents.map { case (cid, _, ce, cn) => (cid, cos(e, ce, n, cn)) }
        .maxBy { case (cid, c) => (c, -cid) }._1
      (id, label, best)
    }
    val expSizes = assign.groupBy(_._3).view
      .mapValues(g => (g.length.toLong, g.map(_._2).distinct.length.toLong)).toMap
    val total = vecs.length.toLong
    val cap = (total + 2 * Similarity.NumCentroids - 1) / (2 * Similarity.NumCentroids)
    val got = Dedup.d13ClusterMixture(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSet == expSizes.keySet)
    got.foreach { r =>
      val (cl, nVecs, nLabels, gCap, nKept) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert((nVecs, nLabels) == expSizes(cl), s"cluster $cl occupancy")
      assert(gCap == cap)
      assert(nKept == math.min(nVecs, cap))
      assert(r.getDouble(5) == nKept.toDouble / nVecs)
    }
  }

  test("d12 bloom gate: confirmed verdicts equal d9 exactly (no false negatives)") {
    // the bloom prefilter may only ADD candidates (false positives,
    // removed by the verify join) — the confirmed counts and the final
    // contaminated set must be bit-identical to d9's exact architecture
    val d9 = Dedup.d9Decontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d12 = Dedup.d12BloomDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val contaminated = d12.filter(_._4).map(t => t._1 -> t._3).toMap
    assert(contaminated == d9,
      s"bloom-gated verdicts diverge from exact: ${contaminated.toSet -- d9.toSet}")
    d12.foreach { case (doc, nCand, nConf, _) =>
      assert(nCand >= nConf, s"doc $doc: candidates < confirmed")
    }
  }

  test("bloom filter kernel: no false negatives, merge = union, fp rate engineered") {
    import graft.functions.BloomImpl
    // 5k keys in 64 Kbit at k=4: fill = 1-e^(-20000/65536) ~ 0.26,
    // fp ~ fill^4 ~ 0.5% — the filter's design load
    val inserted = (0L until 5000L).map(i => (i * 2654435761L) % 4294967296L)
    val insertedSet = inserted.toSet
    val words = new Array[Long](BloomImpl.NumWords)
    inserted.foreach(BloomImpl.setBits(words, _))
    val bytes = BloomImpl.serialize(words)
    // no false negatives, ever
    inserted.foreach(h => assert(BloomImpl.mightContain(bytes, h)))
    // serialize/deserialize round-trips
    assert(BloomImpl.deserialize(bytes).sameElements(words))
    // merge (partition OR) equals building once
    val (wa, wb) = (new Array[Long](BloomImpl.NumWords), new Array[Long](BloomImpl.NumWords))
    inserted.take(2500).foreach(BloomImpl.setBits(wa, _))
    inserted.drop(2500).foreach(BloomImpl.setBits(wb, _))
    var i = 0
    while (i < wa.length) { wa(i) |= wb(i); i += 1 }
    assert(wa.sameElements(words), "merged partials != single-pass build")
    // the fp path exists and is bounded: at the design fill ratio some
    // absent keys probe positive, but around the engineered ~0.5%
    val absent = (0L until 100000L).map(i => 4000000000L + i)
      .filterNot(insertedSet.contains)
    val fps = absent.count(BloomImpl.mightContain(bytes, _))
    assert(fps > 0, "fill ratio should produce observable false positives")
    assert(fps < absent.length / 50,
      s"false-positive rate out of band: $fps / ${absent.length}")
  }

  test("m5 manifest: shard assignment is deterministic, bounded and balanced") {
    val rows = Multimodal.m5PairManifest(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    val nPairs = Tables.documents(spark, sf).select("doc_id")
      .join(Tables.embeddings(spark, sf)
        .select(col("vec_id").as("doc_id")), "doc_id").count()
    assert(rows.length == nDocs, "one manifest row per document")
    assert(rows.count(_.getBoolean(4)) == nPairs, "has_emb must match the pair count")
    rows.foreach { r =>
      val (nBytes, dims, hasEmb, recBytes, shard) =
        (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getLong(5), r.getLong(6))
      assert(shard >= 0 && shard < Multimodal.ShardCount)
      assert(recBytes == nBytes + 4 * dims + 16)
      assert(hasEmb == (dims > 0))
    }
    // hash sharding balances: no shard holds more than 3x the fair share
    val byShard = rows.groupBy(_.getLong(6)).view.mapValues(_.length)
    assert(byShard.values.max <= 3 * rows.length / Multimodal.ShardCount,
      s"shard skew: ${byShard.toMap}")
    // determinism: a replay assigns identical shards
    val replay = Multimodal.m5PairManifest(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(6)).toMap
    rows.foreach(r => assert(replay(r.getLong(0)) == r.getLong(6)))
  }

  test("s6 MIPS: top-3 by raw dot matches a JVM-side recount (query 300)") {
    val vecs = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Double]]("emb").toArray))
    val q = vecs.find(_._1 == 300L).get._2
    def dot(a: Array[Double], b: Array[Double]) = {
      var s0 = 0.0; var i = 0
      while (i < a.length) { s0 += a(i) * b(i); i += 1 }
      s0
    }
    val expected = vecs.filter(_._1 != 300L)
      .map { case (id, e) => (id, dot(q, e)) }
      .sortBy { case (id, d) => (-d, id) }.take(3)
    val got = Similarity.s6MipsTopk(spark, sf)
      .filter(col("q_id") === 300L).orderBy("rnk").collect()
      .map(r => (r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == expected.toSeq,
      s"MIPS top-3 mismatch: got ${got.toSeq}, expected ${expected.toSeq}")
  }

  test("d14 split: exact coverage, leak-free by construction, quotas track") {
    val rows = Dedup.d14TrainValSplit(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val total = rows.map(_._3).sum
    assert(total == Tables.documents(spark, sf).count(),
      "every document lands in exactly one (source, split) cell")
    // per-source fractions sum to 1 exactly (same-denominator divisions)
    rows.groupBy(_._1).foreach { case (src, g) =>
      assert(math.abs(g.map(_._4).sum - 1.0) < 1e-9, s"$src fracs do not sum to 1")
    }
    // global proportions track the 80/10/10 hash quotas
    val bySplit = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(math.abs(bySplit("train").toDouble / total - 0.8) < 0.08)
    assert(bySplit.getOrElse("val", 0L) + bySplit.getOrElse("test", 0L) > 0)
    // replay determinism: a second run produces identical cells
    val replay = Dedup.d14TrainValSplit(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(replay.toSeq == rows.toSeq)
  }

  test("d15 funnel: stages shrink monotonically and agree with the standalone ops") {
    val rows = Dedup.d15CurationFunnel(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, raw, q, c, u, sm, tr, yf) =>
      assert(raw >= q && q >= c && c >= u && u >= sm && sm >= tr,
        s"$src funnel not monotone: $raw >= $q >= $c >= $u >= $sm >= $tr")
      assert(yf == tr.toDouble / raw)
    }
    // stage totals agree with the operators the funnel composes
    assert(rows.map(_._1).toSeq ==
      Tables.documents(spark, sf).select("source").distinct()
        .collect().map(_.getString(0)).sorted.toSeq)
    assert(rows.map(_._2).sum == Tables.documents(spark, sf).count())
    val t8Keep = pipeline.TextAnalysis.t8QualityFilter(spark, sf)
      .filter(col("keep")).count()
    assert(rows.map(_._3).sum == t8Keep, "n_quality must equal t8's keep count")
    val contaminated = Dedup.d9Decontaminate(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val qualityDocs = pipeline.TextAnalysis.t8QualityFilter(spark, sf)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_._4).sum == (qualityDocs -- contaminated).size,
      "n_clean must equal quality minus contaminated")
  }

  test("t11 bigram surprisal matches a JVM-side conditional-LM recompute") {
    // independent ground truth by raw string (the op counts by u32
    // fingerprint; divergence = a fingerprint collision, worth failing on)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val ucnt = docs.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bcnt = docs.values.flatMap(t => t.zip(t.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def bits(n: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(n)
    val got = pipeline.TextAnalysis.t11BigramSurprisal(spark, sf).collect()
    assert(got.length == docs.size)
    got.foreach { r =>
      val (id, n, sum, mean) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val pairs = docs(id).zip(docs(id).drop(1))
      val expSum = pairs.map { case (w1, w2) =>
        bits(ucnt(w1)) - bits(bcnt((w1, w2)))
      }.sum
      assert(n == pairs.length, s"doc $id bigram count")
      assert(sum == expSum, s"doc $id surprisal_sum: got $sum, expected $expSum")
      assert(mean == (if (pairs.isEmpty) 0.0 else expSum.toDouble / pairs.length))
      // conditional surprisal is non-negative: c(w1 w2) <= c(w1)
      assert(sum >= 0)
    }
  }

  test("labelsStored: concurrent first callers race safely to one store") {
    // the round-7 lock fix: TrieMap.getOrElseUpdate is get-then-update,
    // so before the lock two concurrent first callers BOTH ran the CC
    // loop and overwrote the same path mid-read. Race two threads on a
    // fresh dir (fresh cache key) and require consistent, equal results.
    val d = java.nio.file.Files.createTempDirectory("graft-race").toString
    Tables.documents(spark, sf).write.mode("overwrite")
      .parquet(s"$d/documents.parquet")
    // a DEDICATED 2-thread pool (the global EC can be 1-wide on a small
    // runner, serializing the "racers") + a start latch so both threads
    // reach the first labelsStored call together
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val gate = new java.util.concurrent.CountDownLatch(2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    try {
      val fs = (1 to 2).map(_ => Future {
        gate.countDown(); gate.await()
        Dedup.d10DedupPurge(spark, d).collect().map(_.toString).sorted.toSeq
      })
      val results = fs.map(Await.result(_, 5.minutes))
      assert(results(0).nonEmpty && results(0) == results(1),
        "concurrent first callers must observe one consistent label store")
    } finally pool.shutdown()
  }

  test("pipeline text ops are shuffle-free map plans") {
    val plan = TextAnalysis.t3TokenCount(spark, sf)
      .queryExecution.executedPlan.toString
    // only the final orderBy exchanges; no hash-agg shuffles
    assert(!plan.contains("hashpartitioning"),
      s"unexpected shuffle in map-only text op:\n$plan")
  }

  test("d5 adaptive k: full production-band recall where the rule selects k=4") {
    // The verify SFs (n = 500 / 2000) all select k = EmbKMin = 3, so the
    // oracle gate never exercises the ADAPTIVE branch. This proves it end
    // to end: a 2560-vector store makes the in-plan count pick k = 4
    // (bitLength(2560/256) = 4), and the real operator must still recall
    // every production-band pair (cos >= 0.8) against an exhaustive
    // brute-force ground truth. Corpus: 1280 near-orthogonal bases
    // (d = 64, random cross-cos ~ N(0, 0.125): nothing near the band) +
    // one perturbed near-duplicate per base (cos ~ 0.94), so the band is
    // exactly the 1280 constructed pairs and recall misses are loud.
    assert(Dedup.embK(2560) == 4 && Dedup.embK(2000) == 3)
    // the oracle is k-generic (round 10): plane bank gated on i < k for
    // every k up to the unroll depth. Round 11 uncapped k itself, so the
    // text now carries ONE guard — at the unroll depth EmbOracleK, past
    // which it raises instead of silently truncating buckets. That depth
    // must stay strictly above every gate-reachable k (tier80 = 160k
    // vectors -> k = 10), or the guard starts blinding the driver gate
    // to reachable adaptive regimes again (the r9 defect).
    // round 14: tier640 (n = 1.28M -> k = 13) is the deepest persisted
    // tier; the one-doubling-ahead rule requires the unroll to admit a
    // FULL tier1280 doubling (n = 2.56M -> k = 14; round 13's k = 13
    // only reached n < 2,097,152 — ~1.64x headroom, not a doubling)
    assert(Dedup.EmbOracleK >= Dedup.embK(1280L * 2000),
      s"d5 oracle unroll (${Dedup.EmbOracleK}) below gate-tier headroom")
    assert(Dedup.d5Sql.contains(s"k > ${Dedup.EmbOracleK} THEN"),
      "d5Sql must guard exactly at the unroll depth, nowhere below")
    val dims = Similarity.Dims
    val half = 1280
    def u01(x0: Long): Double = { // splitmix64-style mix to [-1, 1)
      var z = x0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      ((z >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    val bases = Array.tabulate(half, dims)((i, d) => u01(i.toLong * 131 + d).toFloat)
    val dups = Array.tabulate(half, dims)((i, d) =>
      (bases(i)(d) + 0.35 * u01((i + half).toLong * 131 + d)).toFloat)
    val rows = (bases ++ dups).zipWithIndex.map { case (v, id) =>
      (id.toLong, v.toSeq, id % 7)
    }
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-d5k4-${ProcessHandle.current.pid}"
    TmpCleanup.register(dir)
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // ground truth: exhaustive cosines with the operator's exact fold
    // (left-to-right double accumulation over the float-cast values)
    val all = (bases ++ dups).map(_.map(_.toDouble))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var d = 0
      while (d < a.length) { acc += a(d) * b(d); d += 1 }
      acc
    }
    val norms = all.map(v => math.sqrt(dot(v, v)))
    val truth = (for {
      i <- all.indices.iterator
      j <- (i + 1) until all.length
      if dot(all(i), all(j)) / (norms(i) * norms(j)) >= 0.8
    } yield (i.toLong, j.toLong)).toSet
    assert(truth.size == half, s"construction: expected $half band pairs, got ${truth.size}")
    val got = SparkEntry.queries("d5_embed_dedup")(spark, dir)
      .filter(col("cosine") >= 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(got),
      s"adaptive-k recall miss: ${(truth -- got).take(5)} of ${truth.size} band pairs absent")
  }

  test("s2 adaptive k: extra planes activate in-plan on a larger corpus") {
    // n = 4608 -> q = n/256 = 18 -> bitLength = 5 -> k = 5: the 5th plane
    // (bit 4) must participate in the bucket the PLAN computes. Proven by
    // recomputing each query's k=5 bucket JVM-side from the public plane
    // bank with the operator's fold semantics and matching the operator's
    // output bucket column — and by checking the k=4 bucket would differ
    // for at least one query (so the assertion cannot pass vacuously).
    // round 11: k is uncapped; the oracle-unroll depth must keep strict
    // headroom over every gate-reachable k — one full tier doubling
    // ahead of the deepest persisted tier (round 14: tier1280 -> k = 14)
    assert(Similarity.S2KMin == 4 && Similarity.S2OracleK >= 14)
    val dims = Similarity.Dims
    def u01(x0: Long): Double = {
      var z = x0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      ((z >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    val n = 4608
    val vecs = Array.tabulate(n, dims)((i, d) => u01(i.toLong * 977 + d).toFloat)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-s2k5-${ProcessHandle.current.pid}"
    TmpCleanup.register(dir)
    import spark.implicits._
    vecs.zipWithIndex.map { case (v, id) => (id.toLong, v.toSeq, id % 7) }
      .toSeq.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def bucketAt(v: Array[Float], k: Int): Long =
      (0 until k).map { i =>
        var acc = 0.0
        val p = Similarity.planes(i)
        for (d <- 0 until dims) acc += v(d).toDouble * p(d)
        if (acc > 0) 1L << i else 0L
      }.sum
    val out = SparkEntry.queries("s2_lsh_ann")(spark, dir)
      .select("q_id", "bucket").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty, "larger-corpus s2 returned no neighbors")
    out.foreach { case (qId, bkt) =>
      assert(bkt == bucketAt(vecs(qId.toInt), 5),
        s"query $qId bucket $bkt != JVM k=5 recompute")
    }
    assert(out.exists { case (qId, _) =>
      bucketAt(vecs(qId.toInt), 5) != bucketAt(vecs(qId.toInt), 4)
    }, "no query exercises the 5th plane; corpus seed needs changing")
  }

  test("s7 multi-probe: Hamming<=1 candidates, rank-wise dominance over s2") {
    // JVM ground truth: recompute every vector's bucket with the operator's
    // exact fold semantics (double-cast floats, left-to-right accumulation
    // over the public plane bank at the adaptive k this corpus selects).
    // Every returned neighbor must sit at Hamming distance probe_dist
    // (0 = home bucket, 1 = one sign flip) from the query's bucket.
    val vecs = Similarity.normed(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Double]]("emb").toArray)
      .toMap
    val q = vecs.size.toLong / Similarity.S2BucketTarget
    val bitLen = 64 - java.lang.Long.numberOfLeadingZeros(q)
    val k = math.max(Similarity.S2KMin, bitLen) // uncapped since round 11
    def bucketOf(v: Array[Double]): Long =
      (0 until k).map { i =>
        var acc = 0.0
        val p = Similarity.planes(i)
        for (d <- 0 until Similarity.Dims) acc += v(d) * p(d)
        if (acc > 0) 1L << i else 0L
      }.sum
    val bucket = vecs.map { case (id, v) => id -> bucketOf(v) }
    val s7 = Similarity.s7Multiprobe(spark, sf).collect()
    assert(s7.nonEmpty, "s7 returned no neighbors")
    s7.foreach { r =>
      val ham = java.lang.Long.bitCount(
        bucket(r.getAs[Long]("q_id")) ^ bucket(r.getAs[Long]("neighbor_id")))
      assert(ham.toLong == r.getAs[Long]("probe_dist") && ham <= 1,
        s"neighbor ${r.getAs[Long]("neighbor_id")} at Hamming $ham, " +
          s"probe_dist ${r.getAs[Long]("probe_dist")}")
    }
    // Multi-probe's candidate pool is a strict superset of s2's (the home
    // bucket is always probed), so at every (q_id, rnk) the s7 cosine must
    // be >= s2's — the recall-uplift claim as an exact invariant, not a
    // statistic.
    val s2 = Similarity.s2LshAnn(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk")) ->
        r.getAs[Double]("cosine")).toMap
    s7.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"))
      s2.get(key).foreach { c2 =>
        assert(r.getAs[Double]("cosine") >= c2,
          s"s7 cosine below s2 at $key: ${r.getAs[Double]("cosine")} < $c2")
      }
    }
    // and the probing must actually surface a flipped-bucket neighbor —
    // otherwise the dominance check is vacuously equal to s2
    assert(s7.exists(_.getAs[Long]("probe_dist") == 1L),
      "no Hamming-1 neighbor in any top-3; corpus makes the test vacuous")
  }

  test("s9 recall matrix: k accounting, s5 agreement, multiprobe dominance") {
    val rows = Similarity.s9RecallMatrix(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows.keySet ==
      Set("s2_lsh", "s3_ivf", "s4_sq", "s7_multiprobe", "s8_pq"))
    rows.foreach { case (n, (nq, k, h, rec)) =>
      assert(nq == 5 && k == nq * Similarity.RecallK,
        s"$n k accounting: $nq queries, $k slots")
      assert(h >= 0 && h <= k && rec == h.toDouble / k,
        s"$n recall not the exact hit fraction: $h/$k vs $rec")
    }
    // the s2 arm must micro-average exactly to s5's per-query recall rows
    val s5rows = Similarity.s5AnnRecall(spark, sf).collect()
    val hk = s5rows.map(_.getAs[Long]("n_hit")).sum
    val kk = s5rows.map(_.getAs[Long]("k")).sum
    assert(rows("s2_lsh")._3 == hk && rows("s2_lsh")._2 == kk,
      s"s9's s2 arm (${rows("s2_lsh")}) disagrees with s5 ($hk/$kk)")
    // a superset candidate pool can only help: every exact-top-k member
    // present in a pool ranks above all non-members, so recall is
    // monotone in the pool — s7 ⊇ s2 must hold in the measured matrix
    assert(rows("s7_multiprobe")._4 >= rows("s2_lsh")._4,
      s"multiprobe recall below s2: ${rows("s7_multiprobe")} < ${rows("s2_lsh")}")
  }

  test("s10 knn graph: full JVM recount of every vector's in-bucket top-k") {
    // ground truth: recompute buckets (operator's exact fold semantics at
    // the adaptive k this corpus selects) and each vector's banded
    // in-bucket top-GraphK by cosine with the same left-to-right
    // accumulation, then compare the WHOLE graph row-for-row. The recount
    // replays the round-11 candidate bound from the DEFINITION — members
    // within S10BandW positions of the vec_id-ordered bucket ranking —
    // knowing nothing of the band-join execution device, so it also
    // proves the explode/adjacent-band join emits exactly {Δpos ≤ W},
    // each pair once. (At this SF every bucket is ≤ W+1 rows, so the
    // banded graph equals the full in-bucket graph; BandedBucketSpec
    // exercises the truncating regime on a synthetic cluster corpus.)
    val vecs = Similarity.normed(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Double]]("emb").toArray, r.getAs[Double]("norm"))).toSeq
    val q = vecs.size.toLong / Similarity.S2BucketTarget
    val bitLen = 64 - java.lang.Long.numberOfLeadingZeros(q)
    val k = math.max(Similarity.S2KMin, bitLen) // uncapped since round 11
    def bucketOf(v: Array[Double]): Long =
      (0 until k).map { i =>
        var acc = 0.0
        val p = Similarity.planes(i)
        for (d <- 0 until Similarity.Dims) acc += v(d) * p(d)
        if (acc > 0) 1L << i else 0L
      }.sum
    val byBucket = vecs.groupBy { case (_, v, _) => bucketOf(v) }
    val expected = byBucket.values.flatMap { members =>
      val ordered = members.sortBy(_._1).zipWithIndex // pos = index + 1
      ordered.flatMap { case ((id, v, n), i) =>
        ordered
          .filter { case ((nid, _, _), j) =>
            nid != id && math.abs(i - j) <= Similarity.S10BandW }
          .map { case ((nid, nv, nn), _) =>
            var acc = 0.0
            for (d <- 0 until Similarity.Dims) acc += v(d) * nv(d)
            (nid, acc / (n * nn))
          }
          .sortBy { case (nid, c) => (-c, nid) }
          .take(Similarity.GraphK)
          .zipWithIndex
          .map { case ((nid, c), j) => (id, (j + 1).toLong, nid, c) }
      }
    }.toSeq.sortBy { case (id, r, _, _) => (id, r) }
    val got = Similarity.s10KnnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.nonEmpty, "empty knn graph")
    assert(got == expected,
      s"graph mismatch: got ${got.size} rows, expected ${expected.size}")
  }

  test("t12 CMS: full JVM sketch recount; estimates never underestimate") {
    val toks = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty)
    def bucket(r: Int, tok: String): Long =
      graft.functions.GenKeyImpl.genKey(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$r:$tok")) %
        TextAnalysis.CmsWidth
    val cells = collection.mutable.Map.empty[(Int, Long), Long]
    for (t <- toks; r <- 0 until TextAnalysis.CmsRows)
      cells.updateWith((r, bucket(r, t)))(c => Some(c.getOrElse(0L) + 1L))
    val exact = toks.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val tracked = exact.toSeq
      .sortBy { case (t, n) => (-n, t) }.take(TextAnalysis.CmsTopK)
    val expected = tracked.map { case (t, n) =>
      val est = (0 until TextAnalysis.CmsRows).map(r => cells((r, bucket(r, t)))).min
      (t, n, est, est - n)
    }.sortBy(_._1)
    val got = TextAnalysis.t12HeavyHitters(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, s"CMS mismatch:\n got $got\n exp $expected")
    // the CMS law: min-of-counters can overcount (collisions) but NEVER
    // undercount — est >= exact for every term, by construction
    got.foreach { case (t, n, est, over) =>
      assert(est >= n && over == est - n, s"$t underestimated: $est < $n")
    }
  }

  test("d16 containment: a planted doc-inside-doc pair invisible to d4") {
    // doc 0 (5 tokens -> 3 shingles) is quoted verbatim at the head of
    // doc 1 (17 tokens -> 15 shingles): every doc-0 shingle is in doc 1,
    // so containment = 3/3 = 1.0, while jaccard = 3/15 = 0.2 sits below
    // d4's 0.3 gate — the operator's reason to exist, as a planted fact.
    val d = java.nio.file.Files.createTempDirectory("graft-contain").toString
    import spark.implicits._
    val small = "a b c d e"
    val big = small + " " + (1 to 12).map(i => s"f$i").mkString(" ")
    Seq((0L, small, "en", "src0", 0L), (1L, big, "en", "src1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    assert(Dedup.d4NgramJaccard(spark, d).count() == 0,
      "jaccard gate should NOT see the planted pair")
    val rows = Dedup.d16Containment(spark, d).collect()
    assert(rows.length == 1, s"expected the planted pair only, got ${rows.toSeq}")
    val r = rows(0)
    assert(r.getAs[Long]("doc_a") == 0L && r.getAs[Long]("doc_b") == 1L)
    assert(r.getAs[Long]("inter") == 3L && r.getAs[Long]("na") == 3L &&
      r.getAs[Long]("nb") == 15L, s"overlap wrong: $r")
    assert(r.getAs[Double]("containment") == 1.0, s"containment: $r")
    assert(r.getAs[String]("direction") == "a_in_b", s"direction: $r")
    assert(r.getAs[Boolean]("jaccard_blind"), s"pair should be jaccard-blind: $r")
  }

  test("d16 containment matches a JVM df-capped overlap recount at sf0.001") {
    import org.apache.spark.unsafe.types.UTF8String
    // ground truth straight from the raw text with the operator's exact
    // shingle fingerprints and df cap
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def shingles(text: String): Set[Long] = {
      val t = text.split(" ", -1)
      val raw = if (t.length >= 3) (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}")
                else Seq(t.mkString(" "))
      raw.map(s0 => graft.functions.GenKeyImpl.genKey(UTF8String.fromString(s0))).toSet
    }
    val sets = docs.map { case (id, tx) => id -> shingles(tx) }.toMap
    val df = sets.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val capped = sets.view.mapValues(_.filter(h => df(h) <= Dedup.MaxShingleDf)).toMap
    val expected = (for {
      Seq(a, b) <- capped.keys.toSeq.sorted.combinations(2)
      inter = (capped(a) & capped(b)).size
      if inter > 0
      na = capped(a).size; nb = capped(b).size
      c = math.max(inter.toDouble / na, inter.toDouble / nb)
      if c >= Dedup.ContainmentThreshold
    } yield (a, b) -> (inter.toLong, na.toLong, nb.toLong, c)).toMap
    val got = Dedup.d16Containment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("inter"), r.getAs[Long]("na"), r.getAs[Long]("nb"),
         r.getAs[Double]("containment"))).toMap
    assert(got == expected,
      s"pair sets differ: extra=${got.keySet -- expected.keySet} " +
        s"missing=${expected.keySet -- got.keySet}")
    assert(got.nonEmpty, "no containment pairs at sf0.001; test is vacuous")
  }

  test("s8 PQ: codes, ADC candidates and re-rank match a full JVM replay") {
    val e = Similarity.normed(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Double]]("emb").toArray, r.getAs[Double]("norm")))
      .sortBy(_._1)
    val cb = e.filter(_._1 < Similarity.PqK).map(_._2)
    val m = Similarity.PqM; val sub = Similarity.PqSub
    def codesOf(v: Array[Double]): Array[Int] =
      Array.tabulate(m) { mm =>
        val base = mm * sub
        var bestS = Double.PositiveInfinity; var bestJ = 0
        cb.indices.foreach { j =>
          var ssq = 0.0; var dot = 0.0
          (0 until sub).foreach { d => val cd = cb(j)(base + d); ssq += cd * cd }
          (0 until sub).foreach { d => dot += v(base + d) * cb(j)(base + d) }
          val score = ssq - 2.0 * dot
          if (score < bestS) { bestS = score; bestJ = j }
        }
        bestJ
      }
    def dtabOf(q: Array[Double]): Array[Array[Double]] =
      Array.tabulate(m) { mm =>
        cb.map { c =>
          var acc = 0.0
          (0 until sub).foreach { d =>
            val diff = q(mm * sub + d) - c(mm * sub + d); acc += diff * diff
          }
          acc
        }
      }
    val allCodes = e.map { case (id, v, _) => id -> codesOf(v) }.toMap
    val got = Similarity.s8PqAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getAs[Double]("adist"), r.getAs[Double]("cosine"))).toMap
    (400L until 405L).foreach { qid =>
      val (_, qe, qn) = e.find(_._1 == qid).get
      val dtab = dtabOf(qe)
      val cands = e.filter(_._1 != qid).map { case (id, _, _) =>
        var acc = 0.0
        (0 until m).foreach { mm => acc += dtab(mm)(allCodes(id)(mm)) }
        (id, acc)
      }.sortBy { case (id, a) => (a, id) }.take(Similarity.PqCandidates)
      val reranked = cands.map { case (id, a) =>
        val (_, v, n) = e.find(_._1 == id).get
        var dot = 0.0
        v.indices.foreach(i => dot += qe(i) * v(i))
        (id, a, dot / (qn * n))
      }.sortBy { case (id, _, c) => (-c, id) }.take(3)
      reranked.zipWithIndex.foreach { case ((id, a, c), i) =>
        assert(got((qid, i + 1L)) == ((id, a, c)),
          s"q$qid rnk ${i + 1}: got ${got((qid, i + 1L))}, expected ${(id, a, c)}")
      }
    }
    assert(got.size == 15, s"expected 5 queries x top-3, got ${got.size} rows")
  }

  test("uncapped k: adaptive rules have no ceiling and pin E[bucket]") {
    // round 11: the kmax=8 clamp (r10's one measured scale defect —
    // in-bucket CPU e≈1.54 past the ceiling) is gone from BOTH rules
    assert(Dedup.embK(40000) == 8 && Dedup.embK(80000) == 9 &&
      Dedup.embK(160000) == 10, "tier20/40/80 k progression")
    assert(Dedup.embK(1L << 40) == 33, "no clamp: k keeps tracking n")
    // E[bucket] = n/2^k stays in [128, 256) for every n >= 256*8
    Seq(80000L, 160000L, 1L << 20, 1L << 30, 1L << 40).foreach { n =>
      val e = n.toDouble / (1L << Dedup.embK(n)).toDouble
      assert(e >= 128.0 && e < 256.0, s"E[bucket] unpinned at n=$n: $e")
    }
  }

  test("d5 table growth: embTablesFor is the exact rho-exponent schedule") {
    // independent recomputation of the closed form at the production
    // band (cos >= 0.8 => p = 1 - acos(0.8)/pi), floored at the
    // historical 24 so every k <= 8 corpus keeps the bit-identical r10
    // plan (the raw formula gives T(8) = 23)
    val p = 1.0 - StrictMath.acos(0.8) / StrictMath.PI
    (3 to 20).foreach { k =>
      val raw = StrictMath.ceil(
        StrictMath.log(0.02) / StrictMath.log(1.0 - StrictMath.pow(p, k))).toInt
      assert(Dedup.embTablesFor(k) == math.max(24, raw),
        s"T($k): ${Dedup.embTablesFor(k)} != max(24, $raw)")
      // the schedule's point: band recall holds at every k
      val recall = 1.0 - StrictMath.pow(
        1.0 - StrictMath.pow(p, k), Dedup.embTablesFor(k).toDouble)
      assert(recall >= 0.98, s"band recall broken at k=$k: $recall")
    }
    // pinned values the tier gates exercise (tier40 k=9, tier80 k=10)
    assert((3 to 8).forall(Dedup.embTablesFor(_) == 24), "legacy region")
    assert(Dedup.embTablesFor(9) == 29 && Dedup.embTablesFor(10) == 37 &&
      Dedup.embTablesFor(12) == 60)
    assert((3 to 30).sliding(2).forall(w =>
      Dedup.embTablesFor(w.head) <= Dedup.embTablesFor(w.last)), "monotone")
  }

  test("d5 extended plane bank: legacy region verbatim, new region disjoint") {
    // legacy (t < 24, i < 8): embPlaneVals must reproduce the r10 bank's
    // splitmix64(p*64+d) at p = t*8+i, recomputed here from scratch
    def mix(x0: Long): Long = {
      var z = x0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def legacy(p: Long, d: Int): Double =
      (mix(p * 64L + d) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    for (t <- 0 until 24; i <- 0 until 8) {
      val got = Dedup.embPlaneVals(t, i)
      (0 until 64).foreach { d =>
        assert(got(d) == legacy(t * 8L + i, d),
          s"legacy plane ($t,$i) dim $d drifted")
      }
    }
    // layout injectivity: every id in the working set any gate tier can
    // touch (t < 60, i < 12) is unique, and extended ids never collide
    // with the legacy region [0, 192)
    val ids = for (t <- 0 until 60; i <- 0 until 12) yield Dedup.embPlaneId(t, i)
    assert(ids.distinct.size == ids.size, "plane-id collision")
    assert(ids.filter(_ >= 192).forall(id => id >= 192 + 8),
      "extended region must start past the legacy stride")
    assert(!(for (t <- 24 until 60; i <- 0 until 12) yield Dedup.embPlaneId(t, i))
      .exists(_ < 192), "new tables leaked into the legacy region")
  }

  test("d5 kernel at k=9/T=29: from-scratch recount of the extended bank") {
    // the exact (k, T) the tier40 gate exercises, proven against an
    // independent recomputation of splitmix planes through the layout
    def mix(x0: Long): Long = {
      var z = x0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def plane(t: Int, i: Int): Array[Double] = {
      val p = if (t < 24 && i < 8) t * 8L + i else 192L + t * 64L + i
      Array.tabulate(64)(d =>
        (mix(p * 64L + d) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0)
    }
    def u01(x0: Long): Double = (mix(x0) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    val vecs = Array.tabulate(32, 64)((v, d) => u01(v * 8191L + d))
    vecs.zipWithIndex.foreach { case (emb, v) =>
      val got = Dedup.kernelBuckets(emb, 9, 29)
      assert(got.length == 29)
      (0 until 29).foreach { t =>
        var expect = 0L
        (0 until 9).foreach { i =>
          val p = plane(t, i)
          var acc = 0.0
          (0 until 64).foreach(d => acc += emb(d) * p(d))
          if (acc > 0) expect |= 1L << i
        }
        assert(got(t) == expect, s"vec $v table $t: ${got(t)} != $expect")
      }
      // bit 8 must actually activate somewhere, or k=9 is vacuous here
    }
    assert(vecs.exists(emb =>
      Dedup.kernelBuckets(emb, 9, 29).exists(b => (b & (1L << 8)) != 0)),
      "no vector exercises the 9th plane; seed needs changing")
    assert(Dedup.kernelBuckets(vecs(0), 9, 24).length == 24 &&
      Dedup.kernelBuckets(vecs(0), 3, 24).length == 24,
      "tCount drives the output arity")
    // the legacy prefix of the extended run equals the pure-legacy run's
    // low bits: growing k or T never re-randomizes what came before
    vecs.take(4).foreach { emb =>
      val ext = Dedup.kernelBuckets(emb, 9, 29)
      val leg = Dedup.kernelBuckets(emb, 8, 24)
      (0 until 24).foreach { t =>
        assert((ext(t) & 0xFFL) == leg(t),
          s"table $t: k=9 low bits ${ext(t) & 0xFFL} != k=8 bucket ${leg(t)}")
      }
    }
  }

  test("s2 SignLshBucket expression: k=10 matches the seeded splitmix fold, eval==codegen") {
    import spark.implicits._
    def mix(x0: Long): Long = {
      var z = x0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // THE plane definition (round 12): splitmix64 over the s2 seed
    // namespace 0x53320000000 + p*64 + d, dyadic-rational output —
    // recomputed here from scratch so a kernel drift fails loudly
    def plane(p: Int, d: Int): Double =
      (mix(0x53320000000L + p * 64L + d) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    def u01(x0: Long): Double = (mix(x0) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    val vecs = Array.tabulate(64, 64)((v, d) => u01(v * 524287L + d))
    def bucketOf(emb: Array[Double], k: Int): Long =
      (0 until k).map { i =>
        var acc = 0.0
        (0 until 64).foreach(d => acc += emb(d) * plane(i, d))
        if (acc > 0) 1L << i else 0L
      }.sum
    val df = vecs.zipWithIndex.map { case (v, id) => (id.toLong, v.toSeq) }
      .toSeq.toDF("vec_id", "emb")
    Seq(4, 8, 10).foreach { k =>
      val got = df.select(col("vec_id"),
          Similarity.bucketCol(lit(k)).as("bucket"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      vecs.zipWithIndex.foreach { case (v, id) =>
        assert(got(id.toLong) == bucketOf(v, k),
          s"k=$k vec $id: ${got(id.toLong)} != ${bucketOf(v, k)}")
      }
    }
    // past the old kmax=8 ceiling, planes 8/9 must actually flip bits
    assert(vecs.exists(v => bucketOf(v, 10) != bucketOf(v, 8)),
      "no vector exercises planes 8-9; seed needs changing")
    // interpreted eval must agree with the codegen'd path the plan used
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val bound = graft.functions.SignLshBucket(
      BoundReference(0, ArrayType(DoubleType, containsNull = false), nullable = false),
      Literal(10))
    val row = InternalRow(ArrayData.toArrayData(vecs(0)))
    assert(bound.eval(row) == bucketOf(vecs(0), 10), "interpreted eval drifted")
  }
}
