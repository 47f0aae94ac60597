package graft

import graft.pipeline.{Dedup, ReferencePlans, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The row-local document kernels against the grouped plans they
  * replaced (kept in [[ReferencePlans]]): native shingle keys and
  * per-row MinHash signatures vs explode(shingleCol) + GenKey + groupBy,
  * and t8's row-local verdict vs its token-explode + groupBy form, on
  * hostile micro-tables and on the test corpus.
  */
class RowLocalKernelsSpec extends SparkSpec {
  import spark.implicits._

  /** Writes a documents table of (doc_id, text) rows to a fresh dir. */
  private def corpus(name: String, docs: (Long, Option[String])*): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", coalesce(length(col("text")).cast("long"), lit(0L)))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  // 0, 1, 2, 3 and many tokens; empty text; leading, trailing and double
  // spaces (empty tokens); multi-byte UTF-8; repeated shingles; null text
  private val hostile: Seq[(Long, Option[String])] = Seq(
    0L -> Some(""),
    1L -> Some("one"),
    2L -> Some("two words"),
    3L -> Some("exactly three words"),
    4L -> Some("the order of the data key group hash scan sort the order of the data"),
    5L -> Some(" leading space"),
    6L -> Some("trailing space "),
    7L -> Some("double  space  here  and  there"),
    8L -> Some("  "),
    9L -> Some("naïve café — 東京 データ 🙂 emoji ü"),
    10L -> Some("a b a b a b a b a b a b"),
    11L -> None)

  private def keyMap(df: DataFrame): Map[(Long, Int), Long] =
    df.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

  private val family = new graft.functions.MinHashFamily(Dedup.permA, Dedup.permB, Dedup.P)

  /** Whether `ex` or one of its causes carries `text` in its message. */
  private def raised(ex: Throwable, text: String): Boolean =
    Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(text))

  test("ShingleKeys equals explode(shingleCol) + GenKey on every token-count shape") {
    val rows = hostile.map { case (id, t) => (id, t.map(_.split(" ", -1).toSeq)) } :+
      (100L -> Some(Seq.empty[String])) // 0 tokens: split never yields it
    val df = rows.toDF("id", "toks")
    val native = keyMap(df.select(col("id"),
      posexplode(graft.functions.ShingleKeys(col("toks"))).as(Seq("pos", "h"))))
    val reference = keyMap(ReferencePlans.shingleKeyRows(df))
    assert(native == reference)
    // shapes the reference pins: < 3 tokens (and 0, and null) is one
    // shingle of the joined tokens; null and empty both key ""
    val empty = graft.functions.GenKeyImpl.genKey(
      org.apache.spark.unsafe.types.UTF8String.fromString(""))
    assert(native.keySet.count(_._1 == 100L) == 1 && native(100L -> 0) == empty)
    assert(native.keySet.count(_._1 == 11L) == 1 && native(11L -> 0) == empty,
      "a null token array is one empty shingle, as shingleCol's concat_ws makes it")
    assert(native.keySet.count(_._1 == 2L) == 1)
    assert(native.keySet.count(_._1 == 3L) == 1)
    assert(native.keySet.count(_._1 == 4L) == 13)
    // a null TOKEN is a contract violation, not a silently skipped word
    val ex = intercept[Exception] {
      Seq(Seq("a", null, "c")).toDF("toks")
        .select(graft.functions.ShingleKeys(col("toks"))).collect()
    }
    assert(raised(ex, "null token at index 1"))
  }

  test("per-row MinHash equals the grouped signature of every row's shingles") {
    val df = hostile.map { case (id, t) => (id, t.map(_.split(" ", -1).toSeq)) }
      .toDF("id", "toks")
    val native = df.select(col("id"),
        graft.functions.MinHash(graft.functions.ShingleKeys(col("toks")), family))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    import Dedup.{NumPerm, P, permA, permB}
    val aggs = (0 until NumPerm).map { j =>
      min(pmod(lit(permA(j)) * col("h") + lit(permB(j)), lit(P))).as(s"sig_$j")
    }
    val reference = ReferencePlans.shingleKeyRows(df)
      .groupBy("id").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to NumPerm).map(r.getLong)).toMap
    assert(native.size == hostile.size && native == reference)
    // the kernel's input contract: keys are u32 and there is at least one
    for (bad <- Seq("array(cast(-1 as bigint))", "cast(array() as array<bigint>)")) {
      val ex = intercept[Exception] {
        spark.range(1).select(graft.functions.MinHash(expr(bad), family)).collect()
      }
      assert(raised(ex, "graft_minhash"), bad)
    }
  }

  test("signatures: exact per doc_id, a repeated doc_id takes the min over its rows") {
    val d = corpus("sigs", hostile ++ Seq(
      4L -> Some("completely different words in a second row of doc four"),
      20L -> Some("x y z")): _*)
    def sigs(df: DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = sigs(Dedup.signatures(spark, d))
    assert(got == sigs(ReferencePlans.signaturesGrouped(spark, d)))
    assert(got.size == hostile.size + 1, "one signature per doc_id")
    // doc 4's signature is the element-wise min of its two rows' own
    val perRow = Tables.documents(spark, d).filter(col("doc_id") === 4L)
      .select(graft.functions.MinHash(Dedup.shingleKeys, family))
      .collect().map(_.getSeq[Long](0))
    assert(perRow.length == 2 && perRow(0) != perRow(1))
    assert(got(4L) == perRow(0).zip(perRow(1)).map { case (a, b) => math.min(a, b) })
    // null text signs as one empty shingle, as the grouped plan always did
    assert(got(11L) == got(0L))
  }

  test("signatures and t8 equal their grouped references on the test corpus") {
    def rows(df: DataFrame): Set[Row] = df.collect().toSet
    assert(rows(Dedup.signatures(spark, sf).select(col("doc_id"), col("sigs").cast("string"))) ==
      rows(ReferencePlans.signaturesGrouped(spark, sf)
        .select(col("doc_id"), col("sigs").cast("string"))))
    val t8 = TextAnalysis.t8QualityFilter(spark, sf).collect().toSeq
    assert(t8.nonEmpty && t8 == ReferencePlans.t8Grouped(spark, sf).collect().toSeq)
  }

  test("t8 on a hostile micro-table matches the grouped plan row for row") {
    val d = corpus("t8", hostile: _*)
    val got = TextAnalysis.t8QualityFilter(spark, d).collect().toSeq
    assert(got == ReferencePlans.t8Grouped(spark, d).collect().toSeq)
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(!byId.contains(11L), "a null-text doc gets no verdict")
    assert(byId.size == hostile.size - 1)
    // empty text is one empty token: no bigrams, so not repetitive
    assert(byId(0L).getAs[Double]("dup_bigram_frac") == 0.0)
    assert(byId(0L).getAs[String]("reject_reason") == "low_quality")
    // one token: no bigrams, dup fraction 0.0 rather than a missing row
    assert(byId(1L).getAs[Double]("dup_bigram_frac") == 0.0)
    assert(byId(1L).getAs[Double]("ttr") == 1.0)
    assert(byId(10L).getAs[String]("reject_reason") != "ok")
  }

  test("t8 with a repeated doc_id: one verdict per ROW, each on its own text") {
    // Pinned behaviour, not an oracle match. The oracle's t2 leg is per
    // row while its t6/t7 legs group by doc_id, so it pairs each row's
    // quality with the merged rows' ttr and repetition — neither the
    // grouped plan (one merged row) nor the row-local verdict (one row
    // per row) reproduces that. `doc_id` is the documents row key.
    val a = "the order of the data key group hash scan sort join filter merge"
    val b = "a a a a a a a a a a a a a a a a"
    val d = corpus("t8dup", 1L -> Some(a), 1L -> Some(b), 2L -> Some(a))
    val got = TextAnalysis.t8QualityFilter(spark, d).collect()
    assert(got.count(_.getLong(0) == 1L) == 2)
    val single = TextAnalysis.t8QualityFilter(spark, corpus("t8a", 1L -> Some(a)))
      .collect().head
    val ofB = TextAnalysis.t8QualityFilter(spark, corpus("t8b", 1L -> Some(b)))
      .collect().head
    assert(got.filter(_.getLong(0) == 1L).toSet == Set(single, ofB))
    // the grouped reference merges the two rows into one verdict
    assert(ReferencePlans.t8Grouped(spark, d).filter(col("doc_id") === 1L).count() == 1)
  }

  test("t1-t4 and t8 sort the scanned columns before their per-row kernel") {
    // a range exchange runs its child twice (bounds sample, then shuffle),
    // so anything computed beneath the sort is computed twice per row
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
    for (op <- Seq("t1_langid", "t2_quality_score", "t3_token_count", "t4_fingerprint",
                   "t8_quality_filter")) {
      val plan = SparkEntry.queries(op)(spark, sf).queryExecution.optimizedPlan
      val sorts = plan.collect { case s: Sort => s }
      assert(sorts.size == 1, s"$op: expected one sort\n$plan")
      val beneath = sorts.head.child.collect { case p: Project => p.projectList }.flatten
      assert(beneath.forall(_.isInstanceOf[Attribute]), s"$op computes beneath its sort:\n$plan")
    }
  }

  test("CountInSet equals the size(filter(...)) lambda form it replaced") {
    // empty text, a null array, repeated markers, markers inside longer
    // tokens and a token that differs in case only
    val words = Seq("the", "a", "order", "data")
    val rows = Seq(0L -> Some(""), 1L -> None, 2L -> Some("the the a the"),
      3L -> Some("there other aorder dataset a"), 4L -> Some("The A ORDER data"),
      5L -> Some("data  the "))
    val df = rows.toDF("id", "text").withColumn("toks", split(col("text"), " "))
    // built under the conf being tested: the null branch is fixed when
    // the expression is made
    def both(): Seq[(Long, Option[Int], Option[Int])] =
      df.select(col("id"),
        graft.functions.CountInSet(col("toks"), new graft.functions.WordSet(words)),
        size(filter(col("toks"), t => words.map(w => t === w).reduce(_ || _))))
        .collect().toSeq.map(r =>
        (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Int]),
          Option(r.get(2)).map(_.asInstanceOf[Int])))
    // codegen'd and interpreted, on the default (ANSI) session and with
    // the legacy size-of-null (-1 for a null array)
    for ((ansi, nullCount) <- Seq("true" -> None, "false" -> Some(-1));
         mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val conf = Map("spark.sql.ansi.enabled" -> ansi,
        "spark.sql.legacy.sizeOfNull" -> "true", "spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString)
      val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      try {
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        val got = both()
        got.foreach { case (id, n, l) => assert(n == l, s"doc $id ($ansi, $mode): $n vs lambda $l") }
        assert(got.map(r => r._1 -> r._2).toMap ==
          Map(0L -> Some(0), 1L -> nullCount, 2L -> Some(4), 3L -> Some(1),
              4L -> Some(1), 5L -> Some(2)), s"ansi=$ansi $mode")
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
