package graft

import graft.arrays.{ArrayModel, ArrayOps, HashRing}
import graft.arrays.ArrayOps.Dim
import graft.functions.GenKey
import graft.plans.{BoundParam, RingLookup}
import graft.sources.ArrayStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** One kind of Deker request, run against the cell store and, for the
  * expected answer, against a frame of the same cells that no store scan
  * backs (so [[graft.plans.BoundParams]] leaves its literals in place).
  */
sealed trait DekerRequest extends Product
object DekerRequest {
  final case class Read(array: String, b0: (Long, Long), b1: (Long, Long)) extends DekerRequest
  final case class Strided(array: String, d0: Dim, d1: Dim) extends DekerRequest
  final case class Chunked(array: String, d0: Dim, d1: Dim, maxCells: Long) extends DekerRequest
  final case class Place(array: String, b0: (Long, Long), b1: (Long, Long)) extends DekerRequest
  /** Payload `c + a*i0 + b*i1`. */
  final case class Patch(array: String, b0: (Long, Long), b1: (Long, Long),
                         a: Double, b: Double, c: Double) extends DekerRequest {
    def data: Column = lit(c) + col("i0") * lit(a) + col("i1") * lit(b)
  }

  /** The answer of a read or placement request over `cells`. */
  def query(cells: DataFrame, r: DekerRequest): DataFrame = r match {
    case Read(a, b0, b1) =>
      ArrayStore.sliceRead(cells, ArrayModel.Coll, a, b0, b1).select("array_id", "i0", "i1", "value")
    case Strided(a, d0, d1) =>
      ArrayOps.sliceRead(cells, a, d0, d1).select("array_id", "i0", "i1", "value")
    case Chunked(a, d0, d1, n) =>
      ArrayOps.chunkedSliceRead(cells, a, d0, d1, n).select("array_id", "i0", "i1", "value")
    case Place(a, b0, b1) =>
      val key = concat(lit(s"$a/"), col("v0"), lit("-"), col("v1"))
      ArrayStore.sliceRead(cells, ArrayModel.Coll, a, b0, b1)
        .groupBy((col("i0") / ArrayModel.Tile0).cast("long").as("v0"),
                 (col("i1") / ArrayModel.Tile1).cast("long").as("v1"))
        .agg(count(lit(1)).as("n_cells"))
        .select(key.as("hash_key"), col("n_cells"),
          RingLookup.place(GenKey(key), HashRing.current).as("node"),
          RingLookup.place(GenKey(key), HashRing.target).as("target_node"))
    case p: Patch => throw new IllegalArgumentException(s"$p is not a query")
  }

  /** Block `k` of the request mix: the same plan shapes for every `k`
    * (same strides, chunk counts and kinds), with bounds, stride phases
    * and patch payloads that move with `k`. Every region lies inside the
    * sf0.001 arrays (30 days x 16 buckets).
    */
  def block(k: Int): Seq[DekerRequest] = Seq(
    Patch("click", (5L + 4 * k, 14L + 4 * k), (3L + k, 10L + k), 0.5 - k, -0.75 + 0.5 * k, 1.25 + 3.5 * k),
    Read("click", (3L + 5 * k, 15L + 5 * k), (2L + 3 * k, 11L + 3 * k)),
    Strided("error", Dim(1L + k, 19L + k, 2), Dim(3L + 2 * k, 15L + 2 * k)),
    Place("click", (4L + 3 * k, 16L + 3 * k), (2L + k, 12L + k)),
    Patch("view", (10L + 2 * k, 20L + 2 * k), (0L + 5 * k, 8L + 5 * k), -1.0 + 0.25 * k, 2.0 - k, 7.75 - 2 * k),
    Chunked("signup", Dim(2L + 6 * k, 22L + 6 * k), Dim(1L + k, 13L + k, 2), 60L),
    Read("view", (9L + 4 * k, 21L + 4 * k), (1L + 2 * k, 9L + 2 * k)),
    Strided("purchase", Dim(4L + k, 28L, 3), Dim(0L + k, 16L, 2)),
    Place("view", (8L + 5 * k, 20L + 5 * k), (0L + 4 * k, 12L + 4 * k)),
    Chunked("click", Dim(0L + 5 * k, 24L + 5 * k), Dim(4L + k, 12L + k), 64L))

  /** Rows as comparable strings; doubles by bit pattern, so NaN, -0.0 and
    * 0.0 compare exactly.
    */
  def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
    case v => String.valueOf(v)
  }.mkString("|")).sorted
}

/** Runs [[DekerRequest.block]] 0 and then 1 against a fresh sf0.001 cell
  * store in a session from [[GraftSession.builder]], checking every
  * answer against the same request over [[ArrayModel.cells]] (patches
  * applied with [[ArrayOps.patch]]). Prints, per block, `block <k>
  * <classes the store requests compiled>` and `kinds <k> <kind>=<classes>
  * ...`, then `checked <answers>`, and a `mismatch ...` line for any
  * answer that differs.
  */
object DekerCodegenMain {
  import DekerRequest._

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[2]", 2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft-deker-codegen").toString
    TmpCleanup.register(work)
    val store = s"$work/store"
    try {
      ArrayStore.materialize(ArrayModel.cells(spark, args.head), store)
      var model = ArrayModel.cells(spark, args.head).localCheckpoint()
      var checked = 0
      def check(what: Any, got: Seq[String], want: Seq[String]): Unit = {
        checked += 1
        if (got != want) println(s"mismatch $what: got ${got.size} rows, want ${want.size}")
      }
      Seq(0, 1).foreach { k =>
        val compiled = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        block(k).foreach { r =>
          val c0 = GraftSession.codegenCompiles
          val got = r match {
            case p: Patch =>
              ArrayStore.patchPartition(spark, store, ArrayModel.Coll, p.array, p.b0, p.b1, p.data)
              Seq.empty
            case q => rows(query(ArrayStore.open(spark, store), q))
          }
          compiled(r.productPrefix) =
            compiled.getOrElse(r.productPrefix, 0L) + GraftSession.codegenCompiles - c0
          r match {
            case p: Patch =>
              model = ArrayOps.patch(model, p.array, p.b0, p.b1, p.data).localCheckpoint()
              check(p, rows(ArrayStore.open(spark, store).select(model.columns.toIndexedSeq.map(col): _*)),
                rows(model))
            case q => check(q, got, rows(query(model, q)))
          }
        }
        println(s"block $k ${compiled.values.sum}")
        println(s"kinds $k ${compiled.map { case (kind, n) => s"$kind=$n" }.mkString(" ")}")
      }
      println(s"checked $checked")
    } finally spark.stop()
  }
}

/** Deker requests through graft's bound-parameter rule: a warm block
  * compiles no class, the store read keeps its pushdown with none of its
  * bounds in the generated code, and parameterized edge values give the
  * literal form's rows in generated and interpreted evaluation.
  */
class DekerCodegenSpec extends SparkSpec {
  import DekerRequest._

  test("a second block of Deker requests with new bounds and payloads compiles no class") {
    // the codegen cache is JVM-wide: a child JVM starts from an empty one
    val (code, lines, tail) = ChildJvm.run(DekerCodegenMain, Seq(sf))
    assert(code == 0, s"deker run exited $code:\n$tail")
    val mismatches = lines.filter(_.startsWith("mismatch"))
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
    val compiled = lines.map(_.split(" ")).collect { case Array("block", k, c) => k.toInt -> c.toLong }.toMap
    assert(compiled.keySet == Set(0, 1), s"no per-block counts:\n${lines.mkString("\n")}")
    assert(lines.contains(s"checked ${2 * block(0).size}"), lines.mkString("\n"))
    assert(compiled(0) > 0, "the first block compiled nothing: the counter is not counting")
    assert(compiled(1) == 0L, s"the warm block compiled ${compiled(1)} classes (cold block: ${compiled(0)})")
  }

  private def freshDir(): String = {
    val dir = Files.createTempDirectory("graft-params").toString
    TmpCleanup.register(dir)
    dir
  }

  private def freshStore(cells: DataFrame): String = {
    val path = s"${freshDir()}/store"
    ArrayStore.materialize(cells, path)
    path
  }

  private def params(df: DataFrame): Seq[BoundParam] =
    df.queryExecution.executedPlan.flatMap(_.expressions.flatMap(_.collect { case b: BoundParam => b }))

  /** `cells` as a checkpointed RDD: its scan is not the store's, so the
    * rule leaves its filters and projections with their literals, and it
    * pushes no filter into a reader (parquet's dictionary filter drops a
    * row group whose dictionary holds -0.0 but not 0.0 from `= 0.0`).
    */
  private def literalForm(cells: DataFrame): DataFrame = cells.localCheckpoint()

  test("a store read keeps partition pruning and pushdown, and its generated code holds no bound") {
    val cells = ArrayModel.cells(spark, sf)
    def read(cells: DataFrame) = query(cells, Read("click", (5L, 13L), (3L, 11L)))
    val stored = read(ArrayStore.open(spark, freshStore(cells)))
    val text = stored.queryExecution.executedPlan.toString
    assert(text.contains("PartitionFilters") && text.contains("array_id"),
      s"expected directory pruning on array_id:\n$text")
    assert(text.contains("PushedFilters: [") && text.contains("GreaterThanOrEqual(i0,5)"),
      s"expected row-group filters on i0:\n$text")
    assert(params(stored).map(_.value).toSet == Set(5L, 13L, 3L, 11L))
    // a Long literal is generated as `<value>L`
    val bounds = "(?<![\\w.])(5|13|3|11)L\\b".r
    def inlined(df: DataFrame) =
      codegenStringSeq(df.queryExecution.executedPlan).flatMap(c => bounds.findAllIn(c._2)).toSet
    assert(inlined(stored).isEmpty, "bounds inlined in the store read's code")
    val literal = read(literalForm(cells))
    assert(inlined(literal) == Set("5L", "13L", "3L", "11L"))
    assert(rows(stored) == rows(literal))
  }

  test("parameterized edge values give the literal form's rows, generated and interpreted") {
    val nan = Double.NaN
    val values = Seq(nan, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0, 1.5, -2.5)
    val idx = Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue)
    val local = spark.createDataFrame(
      for ((v, n) <- values.zipWithIndex; i0 <- idx)
        yield ("weather", "edge", i0, n.toLong, v)).toDF("coll", "array_id", "i0", "i1", "value")
    val store = ArrayStore.open(spark, freshStore(local)).select(local.columns.toIndexedSeq.map(col): _*)
    val cells = literalForm(local)
    val queries: Seq[DataFrame => DataFrame] = Seq(
      _.filter(col("value") === lit(nan)),
      _.filter(col("value") > lit(Double.NegativeInfinity) && col("value") < lit(Double.PositiveInfinity)),
      _.filter(col("value") === lit(-0.0)),
      _.filter(col("value") <=> lit(0.0)),
      _.filter(col("i0") === lit(Long.MinValue) || col("i0") === lit(Long.MaxValue)),
      _.filter(col("i0") > lit(Long.MinValue) && col("i0") < lit(Long.MaxValue)),
      _.filter(col("i1").cast("int") > lit(Int.MinValue) && col("i1").cast("int") =!= lit(3)),
      _.select(col("i0"), col("value") * lit(-0.0), col("value") + lit(Double.PositiveInfinity),
        when(col("value") === lit(nan), lit(Double.NegativeInfinity)).otherwise(lit(nan)),
        greatest(col("i0"), lit(Long.MinValue)), col("i0") === lit(Long.MaxValue),
        col("i1").cast("int") + lit(Int.MinValue)))
    val modes = Seq(
      "whole-stage" -> Seq("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.factoryMode" -> "FALLBACK"),
      "generated" -> Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((mode, conf) <- modes) withConf(spark, conf) {
      queries.zipWithIndex.foreach { case (q, n) =>
        assert(params(q(store)).nonEmpty, s"$mode query $n: no bound parameter in the store's plan")
        assert(params(q(cells)).isEmpty, s"$mode query $n: the literal form was rewritten")
        assert(rows(q(store)) == rows(q(cells)), s"$mode query $n")
      }
    }
  }

  private def withConf(s: SparkSession, conf: Seq[(String, String)])(body: => Unit): Unit = {
    val prev = conf.map { case (k, _) => k -> s.conf.getOption(k) }
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
