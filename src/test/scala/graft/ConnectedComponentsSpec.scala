package graft

import graft.pipeline.Dedup
import org.apache.spark.{FailFirstAttemptAtEndShuffleManager, FailFirstAttemptShuffleManager}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Graphs for d7's connected-components loop, planted through MinHash
  * signatures: a doc's band b holds four copies of one value, so two docs
  * share a (band, bucket) exactly when they share that band's value.
  */
object CcGraphs {
  /** Band values of doc `d`: `shared(b)` where given, else unique. */
  def bands(d: Long, shared: Map[Int, Long]): Seq[Long] =
    (0 until Dedup.Bands).flatMap { b =>
      Seq.fill(Dedup.NumPerm / Dedup.Bands)(shared.getOrElse(b, 1000000L * (b + 1) + d))
    }

  /** A path 0 - 1 - ... - (n-1): doc i shares band 0 with its even-aligned
    * partner and band 1 with its odd-aligned one.
    */
  def chain(n: Int): Seq[(Long, Map[Int, Long])] =
    (0L until n).map(i => i -> Map(0 -> (10000000L + i / 2), 1 -> (20000000L + (i + 1) / 2)))

  /** `n` docs in one band-0 bucket, so over MaxBandDf the bucket emits
    * star edges off its min doc; ids are scattered so the min is not 0.
    */
  def star(n: Int): Seq[(Long, Map[Int, Long])] =
    (0 until n).map(i => (97L * i + 13L) % 1009L + 5L -> Map(0 -> 30000000L))

  /** Two 5-doc buckets bridged by docs 14 and 20 sharing band 1, plus a
    * separate pair and a singleton.
    */
  val bridged: Seq[(Long, Map[Int, Long])] = {
    def bucket(d: Long, v: Long) =
      d -> (Map(0 -> v) ++ (if (d == 14L || d == 20L) Map(1 -> 40000004L) else Map()))
    (10L to 14L).map(bucket(_, 40000001L)) ++ (20L to 24L).map(bucket(_, 40000002L)) ++
      Seq(30L -> Map(2 -> 40000003L), 31L -> Map(2 -> 40000003L), 40L -> Map.empty[Int, Long])
  }

  val graphs: Map[String, Seq[(Long, Map[Int, Long])]] = Map(
    "chain64" -> chain(64),
    "chain16" -> chain(16),
    "star" -> star(Dedup.MaxBandDf + 5),
    "viral" -> star(1000),
    "bridged" -> bridged)

  /** The undirected edges the band kernel must find: all pairs of a
    * bucket within the cap, star edges off the bucket min over it.
    */
  def edges(g: Seq[(Long, Map[Int, Long])]): Set[(Long, Long)] =
    g.flatMap { case (d, m) => m.map { case (b, v) => (b, v) -> d } }
      .groupBy(_._1).values.map(_.map(_._2).sorted).flatMap { docs =>
        if (docs.length <= Dedup.MaxBandDf)
          for (i <- docs.indices; j <- i + 1 until docs.length) yield (docs(i), docs(j))
        else docs.tail.map(docs.head -> _)
      }.toSet

  /** Synchronous min-label propagation on the driver: the labels and the
    * per-round drop counts the Spark loop must reproduce.
    */
  def simulate(es: Set[(Long, Long)]): (Map[Long, Long], Seq[Long]) = {
    val nbrs = (es.toSeq ++ es.toSeq.map(_.swap)).groupMap(_._1)(_._2)
    var lbl = nbrs.map { case (d, ns) => d -> (d +: ns).min }
    val changed = Seq.newBuilder[Long]
    var last = 1L
    while (last > 0) {
      val next = nbrs.map { case (d, ns) => d -> (lbl(d) +: ns.map(lbl)).min }
      last = next.count { case (d, l) => l < lbl(d) }.toLong
      changed += last
      lbl = next
    }
    (lbl, changed.result())
  }

  /** One result as a line: `<changed counts> <sorted doc:label pairs>`. */
  def render(labels: Map[Long, Long], changed: Seq[Long]): String =
    s"${changed.mkString(",")} " + labels.toSeq.sorted.map { case (d, l) => s"$d:$l" }.mkString(",")

  /** Runs the loop on `g`: its stored labels and per-round drop counts. */
  def run(spark: SparkSession, g: Seq[(Long, Map[Int, Long])]): (Map[Long, Long], Seq[Long]) = {
    import spark.implicits._
    val sig = g.map { case (d, m) => (d, bands(d, m)) }.toDF("doc_id", "sigs")
    val out = java.nio.file.Files.createTempDirectory("graft-cc").toString + "/labels"
    val changed = Dedup.ccLabels(sig, out)
    val labels = spark.read.schema("doc BIGINT, lbl BIGINT").parquet(out)
      .as[(Long, Long)].collect().toMap
    (labels, changed)
  }
}

/** Runs [[CcGraphs]] in its own `local[4,2]` session and prints one line
  * per graph — `<name> <render>` — then `injected <failed attempts>`. The
  * first argument picks where the first attempt of a task that reads or
  * writes a shuffle fails: `open` as it opens the shuffle, before it
  * computes a row ([[FailFirstAttemptShuffleManager]]); `end` once it has
  * run to completion ([[FailFirstAttemptAtEndShuffleManager]]).
  */
object CcRetryMain {
  def main(args: Array[String]): Unit = {
    val hook = args.head match {
      case "open" => classOf[FailFirstAttemptShuffleManager]
      case "end" => classOf[FailFirstAttemptAtEndShuffleManager]
    }
    val spark = SparkSession.builder()
      .master("local[4,2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.manager", hook.getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val injected = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.reason.toString.contains(FailFirstAttemptShuffleManager.Message)) injected.incrementAndGet()
    })
    try {
      args.tail.foreach { name =>
        val (labels, changed) = CcGraphs.run(spark, CcGraphs.graphs(name))
        println(s"$name ${CcGraphs.render(labels, changed)}")
      }
      org.apache.spark.GraftTestShim.drainListenerBus(spark.sparkContext)
      println(s"injected ${injected.get}")
    } finally spark.stop()
  }
}

/** d7's CC loop against a driver-side simulation: labels are the min
  * doc_id of each component, the per-round drop counts are exact, and
  * neither changes when every task's first attempt fails, before or after
  * it computed its rows.
  */
class ConnectedComponentsSpec extends SparkSpec {

  /** The loop's result on graph `name`, checked against the simulation. */
  private def check(name: String): (Map[Long, Long], Seq[Long]) = {
    val got @ (labels, changed) = CcGraphs.run(spark, CcGraphs.graphs(name))
    val (want, wantChanged) = CcGraphs.simulate(CcGraphs.edges(CcGraphs.graphs(name)))
    assert(labels == want, s"$name: labels differ from the component minimum")
    assert(changed == wantChanged, s"$name: per-round drop counts")
    got
  }

  test("a 64-doc duplicate chain converges to its min doc over many rounds") {
    val (labels, changed) = check("chain64")
    assert(labels.size == 64 && labels.values.toSet == Set(0L))
    assert(changed.length > 60, s"a 64-doc path needs ~62 rounds, ran ${changed.length}")
  }

  test("a star over MaxBandDf labels every member with the bucket min") {
    val (labels, changed) = check("star")
    assert(labels.values.toSet == Set(CcGraphs.graphs("star").map(_._1).min))
    assert(changed == Seq(0L), "a star is labelled by the initial label alone")
  }

  test("a viral bucket's star anchor spreads its neighbours over bounded state rows") {
    import spark.implicits._
    val (labels, _) = check("viral")
    assert(labels.size == 1000)
    val g = CcGraphs.graphs("viral")
    val sig = g.map { case (d, m) => (d, CcGraphs.bands(d, m)) }.toDF("doc_id", "sigs")
    val rows = Dedup.ccState(sig).map(r => (r._1, r._5.length)).collect()
    assert(rows.forall(_._2 <= Dedup.CcSlice), "a state row holds more than CcSlice neighbours")
    val anchorRows = rows.count(_._1 == g.map(_._1).min)
    assert(anchorRows == (999 + Dedup.CcSlice - 1) / Dedup.CcSlice,
      s"the anchor's 999 neighbours should span ${(999 + Dedup.CcSlice - 1) / Dedup.CcSlice} rows, got $anchorRows")
  }

  test("two components bridged by one edge become one; a separate pair stays apart") {
    val (labels, _) = check("bridged")
    assert(((10L to 14L) ++ (20L to 24L)).forall(labels(_) == 10L))
    assert(labels(30L) == 30L && labels(31L) == 30L)
    assert(!labels.contains(40L), "a doc with no candidate edge gets no label")
  }

  test("a corpus with no candidate pairs stores an empty, readable label table") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-cc-none").toString
    Seq((1L, "alpha beta gamma delta"), (2L, "one two three four five"),
        (3L, "red green blue"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val labels = Dedup.labelsStored(spark, d)
    assert(labels.schema.fieldNames.toSeq == Seq("doc", "lbl"))
    assert(labels.count() == 0L)
    assert(Dedup.d7DupGroups(spark, d).count() == 0L)
    assert(Dedup.d10DedupPurge(spark, d).select("n_dropped").as[Long].collect().toSeq == Seq(0L))
  }

  /** Runs [[CcRetryMain]] with `hook` in a child JVM and checks each
    * graph's line against the simulation.
    */
  private def checkRetried(hook: String, names: Seq[String]): Unit = {
    val (code, lines, tail) = ChildJvm.run(CcRetryMain, hook +: names)
    assert(code == 0, s"$hook retry run exited $code:\n$tail")
    val got = lines.map(_.split(" ", 2)).collect { case Array(n, rest) => n -> rest }.toMap
    names.foreach { name =>
      val (labels, changed) = CcGraphs.simulate(CcGraphs.edges(CcGraphs.graphs(name)))
      val want = CcGraphs.render(labels, changed)
      assert(got.get(name).contains(want), s"$name under $hook retries:\n${got.get(name)}\nvs\n$want")
    }
    assert(got.get("injected").exists(_.toLong > 0), s"the $hook retry run failed no task attempt:\n$tail")
  }

  test("labels and drop counts do not change when every task's first attempt fails") {
    checkRetried("open", Seq("chain16", "bridged"))
  }

  test("labels and drop counts do not change when a task fails after its checkpoint block is stored") {
    checkRetried("end", Seq("chain16", "bridged"))
  }
}
