package graft

import graft.arrays.{ArrayModel, ArrayOps, HashRing}
import graft.sources.ArrayStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class StoreAndExtensionsSpec extends SparkSpec {

  test("bucketed co-located join: zero shuffle on either side (the SURVEY §5 claim)") {
    // bucket both sides of the fact-fact join on the join key: at 100 TB
    // this is how a repeated lineitem-orders join avoids shuffling either
    // table — Spark reads matching buckets pair-wise. Assert the physical
    // plan has NO exchange once the tables are bucketed.
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS l_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
      Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice")
        .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("l_bucketed")
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("o_bucketed")
      val j = spark.table("l_bucketed").join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      val expected = Tables.lineitem(spark, sf).join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() == expected, "bucketed join changed the result")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS l_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("stored cells round-trip the derivation exactly (no loss through the layout)") {
    val derived = ArrayModel.cells(spark, sf)
    val stored = ArrayModel.cellsStored(spark, sf)
    assert(stored.count() == derived.count())
    assert(stored.except(derived).count() == 0 && derived.except(stored).count() == 0)
  }

  test("ArrayStore: pruned layout slice read equals model slice read") {
    val path = java.nio.file.Files.createTempDirectory("graft-store").toString
    ArrayStore.materialize(ArrayModel.cells(spark, sf), path)
    val store = ArrayStore.open(spark, path)
    val got = ArrayStore.sliceRead(store, "weather", "click", (5L, 15L), (2L, 10L))
      .select("array_id", "i0", "i1", "value")
    val expected = ArrayOps.sliceRead(ArrayModel.cells(spark, sf), "click", (5L, 15L), (2L, 10L))
      .select("array_id", "i0", "i1", "value")
    assert(got.except(expected).count() == 0 && expected.except(got).count() == 0)
  }

  test("ArrayStore: array_id prunes directories, dim bounds push to scan") {
    val path = java.nio.file.Files.createTempDirectory("graft-store2").toString
    ArrayStore.materialize(ArrayModel.cells(spark, sf), path)
    val plan = ArrayStore.sliceRead(ArrayStore.open(spark, path),
      "weather", "click", (5L, 15L), (2L, 10L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("array_id"),
      s"expected directory pruning on array_id:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(i0,5)"),
      s"expected row-group filters on i0:\n$plan")
  }

  test("GraftExtensions: SQL users get graft_gen_key / graft_ring_place") {
    // extensions apply at session construction: build a sibling session
    // over the same SparkContext with the extensions class wired in
    // (touch the suite session first so the shared context exists even
    // when this test runs in isolation)
    spark.sparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val sess = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions()(_))
      .getOrCreate()
    SparkSession.setDefaultSession(spark)
    SparkSession.setActiveSession(spark)
    val rows = sess.sql(
      "SELECT graft_ring_place(graft_gen_key('click/0-0')) AS node, " +
      "graft_gen_key('click/0-0') AS h, " +
      "graft_ring_replicas(graft_gen_key('click/0-0')) AS reps").collect()
    assert(rows.head.getAs[String]("node") == HashRing.current.getNode("click/0-0"))
    assert(rows.head.getAs[Long]("h") == HashRing.current.genKey("click/0-0"))
    val reps = rows.head.getSeq[String](2)
    assert(reps.head == HashRing.current.getNode("click/0-0") &&
           reps.toSet == HashRing.currentNodes.toSet)
    // second registration batch: vector dot + bloom probe + fingerprint
    val dot = sess.sql(
      "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .collect().head.getDouble(0)
    assert(dot == 32.0)
    val fp = sess.sql("SELECT graft_rolling_fingerprint('abc') AS f")
      .collect().head.getLong(0)
    assert(fp == "abc".foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L))
    // bloom probe over an explicitly built bitset: all-zero bits reject,
    // set bits accept (build the 8 KB value in plain Scala — the SQL
    // surface is the PROBE, the aggregate stays a DataFrame-side tool)
    val words = new Array[Long](graft.functions.BloomImpl.NumWords)
    graft.functions.BloomImpl.setBits(words, 42L)
    val lit = java.util.Base64.getEncoder.encodeToString(
      graft.functions.BloomImpl.serialize(words))
    val probe = sess.sql(
      s"SELECT graft_bloom_might_contain(unbase64('$lit'), 42L) AS hit, " +
      s"graft_bloom_might_contain(unbase64('$lit'), 43L) AS miss").collect().head
    assert(probe.getBoolean(0))
    assert(!probe.getBoolean(1) ||
      // 43 could collide in principle; the kernel spec pins fp behavior —
      // here assert only that the call path works and hit is true
      probe.getBoolean(1) == graft.functions.BloomImpl.mightContain(
        graft.functions.BloomImpl.serialize(words), 43L))
  }

  test("patchPartition rewrites only the target array's partition") {
    import org.apache.spark.sql.functions.lit
    val path = java.nio.file.Files.createTempDirectory("graft-patch").toString
    ArrayStore.materialize(ArrayModel.cells(spark, sf), path)
    def files(arrayId: String): Map[String, Long] = {
      val dir = new java.io.File(s"$path/coll=weather/array_id=$arrayId")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val errorFilesBefore = files("error")
    val clickBefore = ArrayStore.sliceRead(ArrayStore.open(spark, path),
      "weather", "click", (0L, 5L), (0L, 4L)).count()
    ArrayStore.patchPartition(spark, path, "weather", "click",
      (0L, 5L), (0L, 4L), lit(-7.5))
    // untouched sibling partition: identical files, identical mtimes
    assert(files("error") == errorFilesBefore)
    // patched values visible, cell count preserved
    val after = ArrayStore.sliceRead(ArrayStore.open(spark, path),
      "weather", "click", (0L, 5L), (0L, 4L))
    assert(after.count() == clickBefore)
    assert(after.filter(col("value") =!= -7.5).count() == 0)
  }

  /** A fresh store of the sf cells. */
  private def freshStore(prefix: String): String = {
    val path = java.nio.file.Files.createTempDirectory(prefix).toString
    ArrayStore.materialize(ArrayModel.cells(spark, sf), path)
    path
  }

  /** Every parquet file of the store, by partition directory and name, with its mtime. */
  private def storeFiles(path: String): Map[String, Long] =
    new java.io.File(s"$path/coll=weather").listFiles().filter(_.isDirectory)
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${d.getName}/${f.getName}" -> f.lastModified()))
      .toMap

  /** Spark jobs started while `run` runs. */
  private def jobsStarted(run: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.GraftTestShim.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      run
      org.apache.spark.GraftTestShim.drainListenerBus(spark.sparkContext)
      n.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ArrayStore: a slice read builds with no job, a patch is one job writing one sorted file") {
    val path = freshStore("graft-jobs")
    assert(jobsStarted(ArrayStore.sliceRead(ArrayStore.open(spark, path),
      "weather", "click", (0L, 10L), (0L, 8L))) == 0,
      "building a slice read over the declared-schema store started a job")
    val patchJobs = jobsStarted(ArrayStore.patchPartition(spark, path, "weather", "click",
      (0L, 10L), (0L, 8L), lit(2.5)))
    assert(patchJobs == 1, s"a patch started $patchJobs jobs")
    val parts = new java.io.File(s"$path/coll=weather/array_id=click").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.length == 1, s"patched partition holds ${parts.length} files")
    val keys = spark.read.parquet(parts.head.getPath).select("i0", "i1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(keys.nonEmpty && keys == keys.sorted, "patched file is not in (i0, i1) order")
  }

  test("ArrayStore.patchPartition overwrites one partition on a static session, leaving its conf") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val path = freshStore("graft-static")
      val before = storeFiles(path)
      val cells = ArrayStore.open(spark, path).count()
      ArrayStore.patchPartition(spark, path, "weather", "click", (0L, 5L), (0L, 4L), lit(-1.5))
      assert(spark.conf.get(key) == "static")
      val after = storeFiles(path)
      // every other partition keeps its files; the store keeps every cell
      assert(after.filterNot(_._1.startsWith("array_id=click/")) ==
        before.filterNot(_._1.startsWith("array_id=click/")))
      assert(ArrayStore.open(spark, path).count() == cells)
      assert(ArrayStore.sliceRead(ArrayStore.open(spark, path), "weather", "click",
        (0L, 5L), (0L, 4L)).filter(col("value") =!= -1.5).count() == 0)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("ArrayStore.patchPartition of an array not in the store changes no file") {
    val path = freshStore("graft-missing")
    val before = storeFiles(path)
    ArrayStore.patchPartition(spark, path, "weather", "no_such_array", (0L, 5L), (0L, 4L), lit(1.0))
    assert(storeFiles(path) == before)
    assert(!new java.io.File(s"$path/coll=weather/array_id=no_such_array").exists())
  }

  test("ArrayStore: a store materialized from zero cells opens as an empty table") {
    val path = java.nio.file.Files.createTempDirectory("graft-empty").toString
    ArrayStore.materialize(ArrayModel.cells(spark, sf).filter(lit(false)), path)
    val store = ArrayStore.open(spark, path)
    assert(store.count() == 0)
    assert(ArrayStore.sliceRead(store, "weather", "click", (0L, 5L), (0L, 4L)).count() == 0)
  }

  test("ArrayStore.materialize rejects a frame that drifts from the declared schema") {
    val path = s"${java.nio.file.Files.createTempDirectory("graft-drift")}/store"
    val drifted = ArrayModel.cells(spark, sf).withColumn("value", col("value").cast("float"))
    val e = intercept[IllegalArgumentException](ArrayStore.materialize(drifted, path))
    assert(e.getMessage.contains("value: declared double, got float"), e.getMessage)
    assert(!new java.io.File(path).exists(), "a drifted frame was written")
  }

  test("GridSource V2: bounds push down and prune whole tiles at plan time") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val grid = spark.read.format("graft.sources.GridSource")
      .option("d0", 30).option("d1", 16).option("t0", 10).option("t1", 16)
      .load()
    // unfiltered: 3 tiles along i0 x 1 along i1
    val fullScan = grid.queryExecution.executedPlan
      .collectLeaves().collectFirst { case b: BatchScanExec => b }.get
    assert(fullScan.inputPartitions.size == 3)
    // bounds [5,15) touch tiles 0 and 1 only; tile 2 is pruned pre-launch
    val sliced = grid.filter(col("i0") >= 5 && col("i0") < 15 && col("i1") >= 2 && col("i1") < 10)
    val slicedScan = sliced.queryExecution.executedPlan
      .collectLeaves().collectFirst { case b: BatchScanExec => b }.get
    assert(slicedScan.inputPartitions.size == 2,
      s"expected tile pruning to 2 partitions, got ${slicedScan.inputPartitions}")
    // and the rows are exactly the dense bounds
    assert(sliced.count() == 10 * 8)
    assert(sliced.agg(min("i0"), max("i0"), min("i1"), max("i1")).head.toSeq == Seq(5L, 14L, 2L, 9L))
  }

  test("GridSource V2: strides generate the exact lattice and prune tiles with no aligned index") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // stride 25 anchored at 0 over [0,30) with 10-wide tiles: hits are
    // {0, 25} — the middle tile [10,20) holds no aligned index and must
    // be pruned at plan time, not filtered at run time
    val grid = spark.read.format("graft.sources.GridSource")
      .option("d0", 30).option("d1", 16).option("t0", 10).option("t1", 16)
      .option("s0", 25).option("a0", 0)
      .load()
    val scan = grid.queryExecution.executedPlan
      .collectLeaves().collectFirst { case b: BatchScanExec => b }.get
    assert(scan.inputPartitions.size == 2,
      s"stride-empty tile not pruned: ${scan.inputPartitions}")
    assert(grid.select("i0").distinct().collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 25L))
    // anchored stride composed with pushed bounds: [5,25) step 2 anchor 5,
    // i1 [0,16) step 3 anchor 0 — the a24 lattice
    val a24grid = spark.read.format("graft.sources.GridSource")
      .option("d0", 30).option("d1", 16).option("t0", 10).option("t1", 8)
      .option("s0", 2).option("a0", 5).option("s1", 3).option("a1", 0)
      .load()
      .filter(col("i0") >= 5 && col("i0") < 25 && col("i1") >= 0 && col("i1") < 16)
    assert(a24grid.count() == 10 * 6)
    a24grid.collect().foreach { r =>
      assert((r.getLong(0) - 5) % 2 == 0 && r.getLong(1) % 3 == 0)
    }
  }

  test("GridSource V2: 3-D grids prune tiles per dim and emit the exact lattice") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val grid = spark.read.format("graft.sources.GridSource")
      .option("dims", 3)
      .option("d0", 30).option("d1", 16).option("d2", 24)
      .option("t0", 10).option("t1", 8).option("t2", 6)
      .load()
    // unfiltered: 3 x 2 x 4 tiles
    val full = grid.queryExecution.executedPlan
      .collectLeaves().collectFirst { case b: BatchScanExec => b }.get
    assert(full.inputPartitions.size == 3 * 2 * 4)
    // a21's bounds: i0 [5,10) -> 1 tile, i1 [0,8) -> 1 tile, i2 [6,18) -> 2
    val sliced = grid.filter(col("i0") >= 5 && col("i0") < 10 &&
      col("i1") >= 0 && col("i1") < 8 && col("i2") >= 6 && col("i2") < 18)
    val scan = sliced.queryExecution.executedPlan
      .collectLeaves().collectFirst { case b: BatchScanExec => b }.get
    assert(scan.inputPartitions.size == 1 * 1 * 2,
      s"3-D tile pruning failed: ${scan.inputPartitions.size} partitions")
    assert(sliced.count() == 5 * 8 * 12) // exact dense shape, no dupes
    assert(sliced.select("v0", "v1", "v2").distinct().count() == 2)
    // a stride along i2 composes with the pruning (no aligned index in a
    // tile -> tile never launches)
    val strided = grid.filter(col("i2") >= 0 && col("i2") < 24)
    assert(strided.count() == 30L * 16 * 24)
  }

  test("a31 dense 3-D read: dense shape with fill, sparse cells where populated") {
    val dense = graft.arrays.ArrayOps.a31DenseRead3d(spark, sf)
    assert(dense.count() == 5 * 8 * 12) // always the full 3-D slice shape
    val sparse = graft.arrays.ArrayOps.a21SubsetRead3d(spark, sf)
    assert(dense.filter(col("value") =!= 0.0).count() ==
      sparse.filter(col("value") =!= 0.0).count())
  }

  test("a14 dense read: dense shape with fill, sparse cells where populated") {
    val dense = graft.arrays.ArrayOps.a14DenseRead(spark, sf)
    assert(dense.count() == 10 * 8) // always the full slice shape
    val sparse = graft.arrays.ArrayOps.sliceRead(
      ArrayModel.cells(spark, sf), "click", (5L, 15L), (2L, 10L))
    assert(dense.filter(col("value") =!= 0.0).count() == sparse.filter(col("value") =!= 0.0).count())
  }

  test("DotProduct natives: codegen'd and fold-identical to the unrolled sums they replaced") {
    import graft.functions.{DotProduct, LongDotProduct}
    val df = spark.range(500)
      .withColumn("a", expr("transform(sequence(1, 64), i -> CAST(i AS DOUBLE) / 7.0 + CAST(id AS DOUBLE))"))
      .withColumn("b", expr("transform(sequence(1, 64), i -> CAST(i AS DOUBLE) / 3.0 - CAST(id AS DOUBLE))"))
      .withColumn("dot", DotProduct(col("a"), col("b")))
      .withColumn("ref",
        (1 to 64).map(i => element_at(col("a"), i) * element_at(col("b"), i)).reduce(_ + _))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().startsWith("*("),
      s"graft_dot fell out of whole-stage codegen:\n$plan")
    // bit-exact: the fused loop folds left from 0.0 exactly like the tree
    assert(df.filter(col("dot") =!= col("ref")).count() == 0)
    val ldf = spark.range(200)
      .withColumn("a", expr("transform(sequence(1, 64), i -> i * (id + 3))"))
      .withColumn("b", expr("transform(sequence(1, 64), i -> i - id)"))
      .withColumn("dot", LongDotProduct(col("a"), col("b")))
      .withColumn("ref",
        (1 to 64).map(i => element_at(col("a"), i) * element_at(col("b"), i)).reduce(_ + _))
    assert(ldf.filter(col("dot") =!= col("ref")).count() == 0)
  }

  test("DotProduct validation: length mismatch and null elements raise; wrong types fail analysis") {
    import graft.functions.DotProduct
    // length mismatch: must raise, not read past the shorter array
    val mismatch = spark.range(1)
      .withColumn("a", expr("array(1.0d, 2.0d, 3.0d)"))
      .withColumn("b", expr("array(1.0d, 2.0d)"))
      .withColumn("dot", DotProduct(col("a"), col("b")))
    val e1 = intercept[Exception](mismatch.collect())
    assert(e1.getMessage != null &&
      (e1.getMessage.contains("length mismatch") ||
       Option(e1.getCause).exists(_.getMessage.contains("length mismatch"))),
      s"expected length-mismatch error, got: ${e1.getMessage}")
    // null element: must raise, not silently read garbage
    val withNull = spark.range(1)
      .withColumn("a", expr("array(1.0d, CAST(NULL AS DOUBLE))"))
      .withColumn("b", expr("array(1.0d, 2.0d)"))
      .withColumn("dot", DotProduct(col("a"), col("b")))
    val e2 = intercept[Exception](withNull.collect())
    assert(e2.getMessage != null &&
      (e2.getMessage.contains("null element") ||
       Option(e2.getCause).exists(_.getMessage.contains("null element"))),
      s"expected null-element error, got: ${e2.getMessage}")
    // non-array / wrong element type: rejected at analysis, not at runtime
    val badType = spark.range(1)
      .withColumn("a", expr("array(1, 2)")) // ints, not doubles
      .withColumn("b", expr("array(1.0d, 2.0d)"))
    assertThrows[org.apache.spark.sql.AnalysisException] {
      badType.withColumn("dot", DotProduct(col("a"), col("b"))).collect()
    }
    // same doctrine for the other SQL-exposed natives: a non-string
    // fingerprint input and a non-(binary, long) bloom probe fail at
    // analysis, not executor-side in codegen
    assertThrows[org.apache.spark.sql.AnalysisException] {
      spark.range(1).withColumn("f",
        graft.functions.RollingFingerprint(col("id"))).collect()
    }
    assertThrows[org.apache.spark.sql.AnalysisException] {
      spark.range(1).withColumn("p",
        graft.functions.BloomMightContain(col("id"), col("id"))).collect()
    }
    // and the bloom BUILD aggregate: a non-long fingerprint child would
    // otherwise pass analysis and ClassCastException executor-side in
    // update()'s asInstanceOf
    assertThrows[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(col("id").cast("string").as("s"))
        .agg(graft.functions.BloomBuildAgg(col("s"))).collect()
    }
  }

  test("GridSource validation: zero/negative steps and bad tile extents rejected at resolution") {
    def read(opts: (String, String)*): Unit = {
      val r = spark.read.format("graft.sources.GridSource")
      opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load().collect()
    }
    // s0=0 would divide-by-zero in align(); s1<0 would never terminate
    // the reader loop; t0=0 would divide-by-zero in tile enumeration
    assertThrows[graft.GraftBoundsError](read("s0" -> "0"))
    assertThrows[graft.GraftBoundsError](read("s1" -> "-2"))
    assertThrows[graft.GraftBoundsError](read("t0" -> "0"))
    // non-numeric option: typed error, not a bare NumberFormatException
    assertThrows[graft.GraftBoundsError](read("s0" -> "abc"))
    // sane options still read
    read("s0" -> "2", "s1" -> "3")
  }

  test("GraftSession: cluster config set is wired (extensions, overwrite mode)") {
    // spark.sql.extensions is a STATIC conf: it only takes effect on a
    // fresh SparkContext (as on a real cluster); on the shared test
    // context the functional path is covered by the withExtensions test
    // above. Here we assert the wiring and that the session is usable.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val sess = GraftSession.builder("local[2]", shufflePartitions = 2).getOrCreate()
    try {
      assert(sess.conf.get("spark.sql.sources.partitionOverwriteMode") == "dynamic")
      assert(sess.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      val h = sess.range(1)
        .select(graft.functions.GenKey(concat(lit("probe"), lit(""))).as("h"))
        .head.getLong(0)
      assert(h == HashRing.current.genKey("probe"))
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("native GenKey equals the composed md5/conv form") {
    val df = spark.range(500)
      .withColumn("k", concat(lit("key-"), col("id")))
      .withColumn("h_native", graft.functions.GenKey(col("k")))
      .withColumn("h_composed", expr(HashRing.sparkGenKey("k")))
    assert(df.filter(col("h_native") =!= col("h_composed")).count() == 0)
  }

  test("BigramKeys native equals the composed HOF form on real documents") {
    // the fused per-row kernel must produce byte-identical fingerprint
    // arrays to the transform() + composed md5/conv form it replaced in
    // st10 (and to t7's exploded GenKey, transitively — same u32).
    // Scope: >= 2 tokens — on shorter arrays the composed form
    // degenerates (sequence(0, -1) = [0, -1] -> null lambda outputs),
    // which is exactly why short docs get the kernel's [] instead.
    val composed = expr(
      "transform(sequence(0, size(toks) - 2), i -> " +
        HashRing.sparkGenKey("concat(toks[i], ' ', toks[i+1])") + ")")
    val df = Tables.documents(spark, sf)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .withColumn("native", graft.functions.BigramKeys(col("toks")))
      .withColumn("hof", composed)
    assert(df.count() > 0 &&
      df.filter(not(col("native") <=> col("hof"))).count() == 0)
    // sub-2-token arrays yield an empty key array, not an error
    val tiny = spark.range(1).withColumn("toks", expr("array('only')"))
      .select(graft.functions.BigramKeys(col("toks")).as("k")).collect()
    assert(tiny(0).getSeq[Long](0).isEmpty)
    // wrong input type fails analysis
    assertThrows[org.apache.spark.sql.AnalysisException] {
      spark.range(1).withColumn("k",
        graft.functions.BigramKeys(col("id"))).collect()
    }
  }

  test("PQ kernels: self-encode identity, malformed inputs raise, wrong types fail analysis") {
    import graft.functions.{PqAdc, PqEncode}
    import graft.pipeline.Similarity
    // a codebook vector's true distance to itself is 0 in every subspace,
    // so each of the first PqK vectors must encode to its own index in
    // ALL PqM subspaces (strict-< argmin; the synthetic vectors are
    // distinct, so no ties)
    val self = Similarity.s8SelfEncode(spark, sf).collect()
    assert(self.length == Similarity.PqK, s"expected PqK rows, got ${self.length}")
    self.foreach { r =>
      val id = r.getLong(0)
      val codes = r.getSeq[Long](1)
      assert(codes == Seq.fill(Similarity.PqM)(id),
        s"centroid $id did not self-encode: $codes")
    }
    // runtime validation: empty codebook and out-of-range code raise
    // typed errors instead of emitting garbage codes / reading past the
    // table (the DotProduct doctrine one level up)
    val emptyCb = spark.range(1)
      .withColumn("e", expr("array(1.0d, 2.0d)"))
      .withColumn("cb", expr("CAST(array() AS ARRAY<ARRAY<DOUBLE>>)"))
      .withColumn("c", PqEncode(col("e"), col("cb"), 1))
    val e1 = intercept[Exception](emptyCb.collect())
    def msgHas(e: Throwable, s: String): Boolean =
      Option(e.getMessage).exists(_.contains(s)) ||
        Option(e.getCause).exists(c => Option(c.getMessage).exists(_.contains(s)))
    assert(msgHas(e1, "empty codebook"), s"expected empty-codebook error: ${e1.getMessage}")
    val badCode = spark.range(1)
      .withColumn("dtab", expr("array(array(1.0d, 2.0d))"))
      .withColumn("codes", expr("array(CAST(7 AS BIGINT))"))
      .withColumn("d", PqAdc(col("dtab"), col("codes")))
    val e2 = intercept[Exception](badCode.collect())
    assert(msgHas(e2, "out of range"), s"expected out-of-range error: ${e2.getMessage}")
    // wrong dims (not a multiple of the subspace width) raises
    val badDims = spark.range(1)
      .withColumn("e", expr("array(1.0d, 2.0d, 3.0d)"))
      .withColumn("cb", expr("array(array(1.0d, 2.0d, 3.0d))"))
      .withColumn("c", PqEncode(col("e"), col("cb"), 2))
    val e3 = intercept[Exception](badDims.collect())
    assert(msgHas(e3, "not a multiple"), s"expected dims error: ${e3.getMessage}")
    // type mismatches are rejected at analysis, not executor-side
    assertThrows[org.apache.spark.sql.AnalysisException] {
      spark.range(1)
        .withColumn("e", expr("array(1, 2)"))
        .withColumn("cb", expr("array(array(1.0d, 2.0d))"))
        .withColumn("c", PqEncode(col("e"), col("cb"), 1)).collect()
    }
    assertThrows[org.apache.spark.sql.AnalysisException] {
      spark.range(1)
        .withColumn("dtab", expr("array(1.0d)"))
        .withColumn("codes", expr("array(CAST(0 AS BIGINT))"))
        .withColumn("d", PqAdc(col("dtab"), col("codes"))).collect()
    }
  }
}
