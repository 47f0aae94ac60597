package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The grouped plans the row-local document kernels replaced, kept as
  * test references: one row per token or shingle, regrouped by doc_id.
  * The specs compare the row-local t8 verdict and the native shingle
  * keys / MinHash signatures against them, so the equivalence is checked
  * against an independent formulation rather than against itself.
  */
object ReferencePlans {

  /** t8 as a token explode + groupBy(doc_id) for t2/t6's statistics,
    * LEFT-joined with t7's grouped repetition signal.
    */
  def t8Grouped(s: SparkSession, dir: String): DataFrame = {
    import TextAnalysis._
    val allMarkers = markers.values.flatten.toSeq.sorted
    val stats = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           countDistinct(col("tok")).as("n_types"),
           sum(length(col("tok")).cast("long")).as("len_nospace"),
           sum(when(allMarkers.map(w => col("tok") === w).reduce(_ || _), 1L)
             .otherwise(0L)).as("n_marker"))
      .withColumn("avg_token_len",
        avgTokenLenCol(col("len_nospace"), col("n_tokens")))
      .withColumn("marker_ratio",
        markerRatioCol(col("n_marker"), col("n_tokens")))
      .withColumn("quality",
        qualityCol(col("n_tokens"), col("marker_ratio"), col("avg_token_len")))
      .withColumn("ttr", ttrCol(col("n_types"), col("n_tokens")))
      .select("doc_id", "quality", "ttr")
    val rep = t7Repetition(s, dir).select("doc_id", "dup_bigram_frac")
    stats.join(rep, Seq("doc_id"), "left")
      .withColumn("dup_bigram_frac", coalesce(col("dup_bigram_frac"), lit(0.0)))
      .withColumn("keep",
        col("quality") >= MinQuality && col("ttr") >= MinTtr &&
          col("dup_bigram_frac") <= MaxDupBigramFrac)
      .withColumn("reject_reason",
        when(col("quality") < MinQuality, "low_quality")
          .when(col("ttr") < MinTtr, "low_diversity")
          .when(col("dup_bigram_frac") > MaxDupBigramFrac, "repetitive")
          .otherwise("ok"))
      .select("doc_id", "quality", "ttr", "dup_bigram_frac", "keep", "reject_reason")
      .orderBy("doc_id")
  }

  /** (id, pos, h) rows of a frame with `id` and a `toks` token-array
    * column: the shingle strings of `Dedup.shingleCol`, exploded, then
    * keyed by GenKey one row at a time.
    */
  def shingleKeyRows(df: DataFrame): DataFrame =
    df.select(col("id"), posexplode(Dedup.shingleCol).as(Seq("pos", "s")))
      .select(col("id"), col("pos"), graft.functions.GenKey(col("s")).as("h"))

  /** MinHash signatures as explode(shingleCol) + GenKey + a groupBy(doc_id)
    * of NumPerm mins.
    */
  def signaturesGrouped(s: SparkSession, dir: String): DataFrame = {
    import Dedup.{NumPerm, P, permA, permB}
    val aggs = (0 until NumPerm).map { j =>
      min(pmod(lit(permA(j)) * col("h") + lit(permB(j)), lit(P))).as(s"sig_$j")
    }
    shingleKeyRows(Tables.documents(s, dir)
        .select(col("doc_id").as("id"), split(col("text"), " ").as("toks")))
      .groupBy(col("id").as("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until NumPerm).map(j => col(s"sig_$j")): _*).as("sigs"))
  }
}
