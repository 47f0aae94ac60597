package graftbench

import graft.pipeline.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** curation_pass: the LLM curation flow t8 -> d2 -> d7 -> d10 -> d12 ->
  * d13 -> t10 over one corpus, pass after pass in a warm engine. Each
  * pass reads its own copy of the corpus at a path this JVM has not seen,
  * so the per-directory memos (the d10 label store among them) are paid
  * inside every pass, as for a new batch. Every result is hashed and
  * compared with the DuckDB oracle's hash for the same corpus; results
  * that come before the oracle's answers are compared once they arrive.
  */
final class Curation(spark: SparkSession, runner: Runner, corpus: String, work: String) {
  private var passes = 0
  private var expected: Option[Map[String, (Long, String)]] = None
  private val pending = mutable.ArrayBuffer.empty[(String, String, Long, String)]

  /** Sets the oracle's answers and checks the results held back for them. */
  def expect(answers: Map[String, (Long, String)]): Unit = {
    expected = Some(answers)
    for ((kind, name, n, h) <- pending; msg <- compare(name, n, h)) runner.failLate(kind, msg)
    pending.clear()
  }

  private def compare(name: String, n: Long, h: String): Option[String] =
    expected.get.get(name) match {
      case None => Some(s"$name: no expected hash")
      case Some((en, eh)) if en == n && eh == h => None
      case Some((en, eh)) => Some(s"$name: $n rows hash $h, oracle $en rows hash $eh")
    }

  /** Copies the corpus tables to a fresh directory; untimed. */
  private def freshCopy(): String = {
    val dir = Paths.get(work, s"pass-$passes")
    passes += 1
    for (t <- Seq("documents.parquet", "embeddings.parquet")) {
      val src = Paths.get(corpus, t)
      Files.createDirectories(dir.resolve(t))
      Files.list(src).forEach(f => Files.copy(f, dir.resolve(t).resolve(f.getFileName)))
    }
    dir.toString
  }

  def pass(): Unit = {
    val dir = freshCopy()
    for ((kind, name, op) <- Curation.Flow)
      runner.query(kind)(op(spark, dir)) { rows =>
        val (n, h) = RowHash.of(rows)
        if (expected.isDefined) compare(name, n, h)
        else { pending += ((kind, name, n, h)); None }
      }
  }
}

object Curation {
  val Flow: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("t8", "t8_quality_filter", TextAnalysis.t8QualityFilter _),
    ("d2", "d2_minhash_lsh", Dedup.d2MinhashLsh _),
    ("d7", "d7_dup_groups", Dedup.d7DupGroups _),
    ("d10", "d10_dedup_purge", Dedup.d10DedupPurge _),
    ("d12", "d12_bloom_decontaminate", Dedup.d12BloomDecontaminate _),
    ("d13", "d13_cluster_mixture", Dedup.d13ClusterMixture _),
    ("t10", "t10_pack_sequences", TextAnalysis.t10PackSequences _))
}
