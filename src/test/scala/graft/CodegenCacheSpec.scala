package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Runs the curation ops twice in a session from [[GraftSession.builder]],
  * each round over its own copy of the sf0.001 corpus (a new path, as for
  * a new batch), and prints `round <n> <classes compiled>` per round.
  */
object CodegenCacheMain {
  val Ops: Seq[String] = Seq("t8_quality_filter", "d2_minhash_lsh", "d7_dup_groups",
    "d10_dedup_purge", "d12_bloom_decontaminate", "d13_cluster_mixture", "t10_pack_sequences")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[2]", 2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft-codegen")
    try (1 to 2).foreach { round =>
      val dir = work.resolve(s"round$round")
      Files.createDirectories(dir)
      // the test tables are single parquet files
      for (t <- Seq("documents.parquet", "embeddings.parquet"))
        Files.copy(Paths.get(args.head, t), dir.resolve(t))
      val before = GraftSession.codegenCompiles
      Ops.foreach(op => SparkEntry.queries(op)(spark, dir.toString).collect())
      println(s"round $round ${GraftSession.codegenCompiles - before}")
    } finally spark.stop()
  }
}

/** Spark's codegen cache is JVM-wide and sized once, by the first session,
  * so what a repeated pass compiles is shown in a child JVM: the first
  * curation round compiles more classes than Spark's default cache holds
  * (100), and the second, with graft's size, compiles none.
  */
class CodegenCacheSpec extends AnyFunSuite {

  test("a repeated curation pass compiles no generated class") {
    val (code, lines, tail) = ChildJvm.run(CodegenCacheMain, Seq("/root/testdata/sf0.001"))
    assert(code == 0, s"codegen run exited $code:\n$tail")
    val compiled = lines.map(_.split(" ")).collect { case Array("round", n, c) => n.toInt -> c.toLong }.toMap
    assert(compiled.keySet == Set(1, 2), s"no per-round counts:\n${lines.mkString("\n")}")
    assert(compiled(1) > 100, s"the first round compiled ${compiled(1)} classes, within Spark's default cache")
    assert(compiled(2) == 0L, s"the second round recompiled ${compiled(2)} of ${compiled(1)} classes")
  }

  test("every session in the program is built by GraftSession.builder") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val builders = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        "SparkSession\\s*\\.\\s*builder\\b".r.findFirstIn(Files.readString(p)).isDefined)
      .map(root.relativize(_).toString).toList
    finally walk.close()
    assert(builders == List("graft/GraftSession.scala"),
      "a main that calls SparkSession.builder itself misses the codegen cache size")
  }
}
