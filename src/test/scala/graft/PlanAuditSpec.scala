package graft

/** Whole-inventory physical-plan audit: invariants that must hold for
  * EVERY operator, because at 100 TB a plan regression (an accidental
  * non-broadcast cartesian product, an interpreted Python-style UDF
  * fallback) is a cluster outage, not a slow test.
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries whose construction builds the stored label table: on the
    * first call for a corpus its driver-side iteration (localCheckpoint)
    * runs the connected-components jobs — audited by their building
    * blocks instead. d7 and d10 both read that table; d10's own purge
    * stage is the broadcast-join shape audited below.
    */
  private val iterative = Set("d7_dup_groups", "d10_dedup_purge")

  test("no operator plans a non-broadcast cartesian product") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => iterative(n) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        // CartesianProductExec = both sides shuffled row-by-row, O(n*m)
        // across the cluster; broadcast nested-loop over a tiny side
        // (BroadcastNestedLoopJoin) is the acceptable form
        if (plan.contains("CartesianProduct")) Some(name) else None
      }
    assert(offenders.isEmpty,
      s"non-broadcast cartesian products in: ${offenders.mkString(", ")}")
  }

  test("constructing an operator's DataFrame launches no Spark jobs") {
    // Driver-side materialization (collect/count during query CONSTRUCTION,
    // as d5 once did) is invisible in the plan text but fatal at scale: it
    // pulls a table through the driver before the query even runs.
    arrays.ArrayModel.cellsStored(spark, sf).count()   // one-time layout ETL
    arrays.ArrayModel.cellsBucketed(spark, sf).count() // one-time bucketed ETL
    // Tables resolves every table's schema from one footer on the
    // driver, so the ONLY job construction may launch is the schema
    // inference of an `events` read (Tables.events and the events stream
    // keep Spark's inferring read, a DataFrameReader frame in the stage
    // details), and only for an op whose plan reads `events`. Any other
    // job — a schema job, a sync Dataset action frame or an opaque
    // async-execution stack — means work ran while the query was being
    // BUILT. Each op's jobs carry its name as a local property, which
    // the listener reads off the job, not off a racing variable.
    def readsEvents(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.exists {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.exists(_.getName == "events.parquet")
            case _ => false
          }
        case _ => false
      }
    val started = new scala.collection.concurrent.TrieMap[Int, (String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val stack = js.stageInfos.map(_.details).mkString("\n")
        val op = Option(js.properties).flatMap(p => Option(p.getProperty("graft.audit.op")))
        started.put(js.jobId, (op.getOrElse("<no op>"), stack))
      }
    }
    val eventsOps = scala.collection.mutable.Set.empty[String]
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot { case (n, _) => iterative(n) }
        .foreach { case (name, fn) =>
          spark.sparkContext.setLocalProperty("graft.audit.op", name)
          if (readsEvents(fn(spark, sf))) eventsOps += name
        }
      spark.sparkContext.setLocalProperty("graft.audit.op", null)
      org.apache.spark.GraftTestShim.drainListenerBus(spark.sparkContext)
      val offenders = started.values.collect {
        case (op, stack) if !(eventsOps(op) && stack.contains("DataFrameReader")) =>
          s"$op (${stack.linesIterator.take(2).mkString(" / ")})"
      }
      assert(offenders.isEmpty,
        s"plan construction ran jobs in: ${offenders.toSet.mkString(", ")}")
    } finally {
      spark.sparkContext.setLocalProperty("graft.audit.op", null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("d5_embed_dedup: bucket-partitioned kernel, no driver-collected input") {
    val plan = SparkEntry.queries("d5_embed_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    // the one shuffle is the vectors moving to their (tbl, bkt) buckets;
    // the exact verify runs per bucket downstream of that exchange
    assert(plan.contains("hashpartitioning(tbl"),
      s"d5 must partition by the LSH bucket key:\n${plan.take(1500)}")
    // a collect()-then-parallelize round trip would surface as an
    // ExistingRDD scan (the construction-time job audit above catches the
    // collect itself)
    assert(!plan.contains("ExistingRDD"), "driver-collected input in d5 plan")
  }

  test("every array slice-read shape: partition prune + pushed dim bounds + zero Exchange") {
    // The a-family read path at 100 TB is directory prune (array_id) +
    // row-group skip (dim bounds) and NO shuffle. Audit every slice shape
    // the operators use — plain, chunked, label-converted, strided —
    // against the materialized store (StoreAndExtensionsSpec covers
    // pieces; this is the inventory-wide invariant).
    import graft.arrays.{ArrayModel, ArrayOps}
    import ArrayOps.Dim
    val c = ArrayModel.cellsStored(spark, sf)
    val slices = Map(
      "plain(a2)" -> ArrayOps.sliceRead(c, "click", (5L, 15L), (2L, 10L)),
      "chunked(a13)" -> ArrayOps.chunkedSliceRead(c, "view", (5L, 15L), (2L, 10L), 64),
      "label(a16)" -> ArrayOps.sliceRead(c, "signup", (5L, 15L), (0L, 16L)),
      "strided(a22)" -> ArrayOps.sliceRead(c, "click", Dim(5, 25, 2), Dim(0, 16, 3)))
    slices.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("array_id"),
        s"$name: array_id must prune partitions:\n$plan")
      assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThanOrEqual(i0,5)"),
        s"$name: dim bounds must reach the scan:\n$plan")
      assert(!plan.contains("Exchange"),
        s"$name: a slice read must not shuffle:\n$plan")
    }
  }

  test("a25_array_combine: co-located bucketed merge, zero join exchange") {
    // Both operands come off the bucketed store (bucketBy(i0), sorted by
    // (i0, i1)): HashPartitioning(i0) satisfies the full-outer join's
    // ClusteredDistribution(i0, i1) on both sides, so the merge join needs
    // no exchange of either grid — the plan a 100 TB array-vs-array map
    // algebra needs. (The trailing orderBy's rangepartitioning is the
    // deterministic-output sort, not part of the join.)
    graft.arrays.ArrayModel.cellsBucketed(spark, sf).count() // one-time ETL
    val plan = SparkEntry.queries("a25_array_combine")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"a25 should plan a sort-merge join over the bucketed layout:\n${plan.take(1200)}")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"a25's join must not shuffle either bucketed side:\n${plan.take(1800)}")
    assert(!plan.contains("BroadcastExchange"),
      s"a25 should co-located-merge, not broadcast:\n${plan.take(1200)}")
  }

  test("a14/a24 dense reads: the grid lattice joins without shuffling") {
    // The dense-read family LEFT-joins the generated vgrid lattice with the
    // sparse slice. At 100 TB the lattice side is the large one (every
    // coordinate of the requested shape); the plan that survives scale
    // keeps it in place — the sparse slice (already pruned to the bounds)
    // broadcasts, and the lattice side must never sort-merge (which would
    // shuffle every generated coordinate). a25's shape is asserted above;
    // this is the same guarantee for the GridSource join.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def stripAqe(p: SparkPlan): SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    Seq("a14_dense_read", "a24_strided_dense_read", "a31_dense_read_3d").foreach { n =>
      val plan = stripAqe(SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan)
      val bhj = plan.collectFirst { case j: BroadcastHashJoinExec => j }
      assert(bhj.isDefined,
        s"$n should broadcast the pruned sparse slice against the lattice:\n${plan.toString.take(1500)}")
      assert(!plan.toString.contains("SortMergeJoin"),
        s"$n must not merge-join the generated lattice:\n${plan.toString.take(1800)}")
      // the STREAMED side is the lattice: it must come straight off the
      // DSv2 grid scan with no shuffle anywhere beneath it (the build side
      // may legitimately aggregate before its broadcast)
      val streamed = bhj.get.left
      assert(streamed.collect { case e: ShuffleExchangeLike => e }.isEmpty,
        s"$n shuffles the lattice side:\n${streamed.toString.take(1200)}")
      assert(streamed.toString.contains("BatchScan grid("),
        s"$n's streamed side should be the DSv2 grid source:\n${streamed.toString.take(1200)}")
    }
  }

  test("pipeline joins against sub-linear sides are broadcast") {
    // Each of these ops joins the corpus/vector table against a side that
    // stays tiny at any corpus scale (benchmark shingles, query samples,
    // centroids, term-df); if that join ever degrades to a sort-merge,
    // the big side shuffles — a silent 100 TB regression.
    val expectBroadcast = Seq("d9_decontaminate", "t5_top_terms",
      "t9_rarity_score", "s1_knn_brute", "s2_lsh_ann", "s3_ivf_ann",
      "s4_sq_ann", "s5_ann_recall", "s7_multiprobe", "s8_pq_ann",
      "s9_recall_matrix",
      "st7_stream_decontaminate",
      "d11_span_dedup", "d12_bloom_decontaminate", "d13_cluster_mixture",
      "d15_curation_funnel")
    expectBroadcast.foreach { n =>
      val plan = SparkEntry.queries(n)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastExchange"),
        s"$n should broadcast its small side:\n${plan.take(800)}")
    }
    // d10 (iterative construction, excluded above): its purge stage must
    // broadcast the group-label table against the corpus
    val d10 = SparkEntry.queries("d10_dedup_purge")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(d10.contains("BroadcastExchange"),
      s"d10's label join should broadcast:\n${d10.take(800)}")
  }

  test("no pinned broadcast hint on an unbounded SF-scaling side") {
    // §5 doctrine: a pinned broadcast() hint is only legitimate on a side
    // BOUNDED BY CONSTRUCTION — at 100 TB an unbounded pinned side is an
    // unrecoverable executor OOM (AQE cannot un-pin a user hint), where an
    // unhinted join degrades gracefully to shuffle. Round 7 shipped three
    // violations (q2/q5/q18 pinning customer/part/supplier, which grow
    // linearly with SF); this rule keeps them from coming back. A hinted
    // subtree over a scaling table passes only if the plan itself proves
    // the bound: an Aggregate (distinct/codebook/1-row reduction), a
    // Limit, or a constant upper bound on a key (*_id) column — the
    // fixed-prefix query-sample shape. Attribute filters (p_type='PROMO')
    // thin a table without bounding it and do NOT qualify.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, LessThan, LessThanOrEqual}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scaling = Set("customer", "orders", "lineitem", "part", "supplier",
      "events", "documents", "embeddings")
    def scalingLeaves(p: LogicalPlan): Seq[String] = p.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths
          .map(_.getName.stripSuffix(".parquet")).filter(scaling)
        case _ => Seq.empty[String]
      }
    }.flatten
    def bounded(p: LogicalPlan): Boolean = p.exists {
      // Deduplicate is distinct()'s ANALYZED form (the optimizer rewrites
      // it to Aggregate later); the foldable right side covers the
      // analyzer's implicit Cast around an integer literal bound
      case _: Aggregate | _: GlobalLimit | _: LocalLimit | _: Deduplicate => true
      case f: Filter => f.condition.exists {
        case LessThan(a: AttributeReference, r) => a.name.endsWith("_id") && r.foldable
        case LessThanOrEqual(a: AttributeReference, r) => a.name.endsWith("_id") && r.foldable
        case _ => false
      }
      case _ => false
    }
    // negative control: the auditor must flag the round-7 q18 shape
    val part = Tables.part(spark, sf).filter(
      org.apache.spark.sql.functions.col("p_type") === "PROMO")
    val l = Tables.lineitem(spark, sf)
    val bad = l.join(org.apache.spark.sql.functions.broadcast(part),
      l("l_partkey") === part("p_partkey"))
    def offenses(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
          val leaves = scalingLeaves(h.child)
          if (leaves.nonEmpty && !bounded(h.child)) leaves else Nil
      }.flatten
    assert(offenses(bad).nonEmpty,
      "auditor failed to flag a pinned hint on an unbounded scaling side")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => iterative(n) }
      .flatMap { case (name, fn) =>
        val off = offenses(fn(spark, sf))
        if (off.nonEmpty) Some(s"$name(${off.mkString("+")})") else None
      }
    assert(offenders.isEmpty,
      s"pinned broadcast hints on unbounded SF-scaling sides in: ${offenders.mkString(", ")}")
  }

  test("d12: bloom probe is a codegen'd map-side filter, bitset built by partial agg") {
    val plan = SparkEntry.queries("d12_bloom_decontaminate")(spark, sf)
      .queryExecution.executedPlan.toString
    // the probe must prune map-side BEFORE the verify join. Catalyst
    // folds the Filter into the 1-row broadcast join's condition
    // (BroadcastNestedLoopJoin Inner, condition =
    // graft_bloom_might_contain) — same stage, same map-side semantics,
    // still codegen'd (BNLJ inner participates in whole-stage codegen);
    // what must NOT happen is the probe disappearing or migrating
    // downstream of the exact verify join
    assert(plan.contains("graft_bloom_might_contain"),
      s"bloom probe missing from d12 plan:\n${plan.take(1200)}")
    val probeAt = plan.indexOf("graft_bloom_might_contain")
    val verifyAt = plan.indexOf("BroadcastHashJoin")
    assert(verifyAt < 0 || probeAt > verifyAt,
      "probe must sit upstream (deeper in the plan tree) of the verify join")
    // the bitset aggregate partial-aggregates map-side: the shuffle
    // carries one buffer per partition, not one row per shingle
    assert(plan.contains("partial_graft_bloom_build"),
      s"bloom build is not partial-aggregated:\n${plan.take(1200)}")
  }

  test("t8 and MinHash signatures are row-local: no Generate, t8 shuffles only to sort") {
    // The curation pass's per-document statistics are computed inside
    // each document's row (array sizes, native key arrays), not by
    // exploding tokens or shingles into rows and regrouping by doc_id.
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    def plan(df: org.apache.spark.sql.DataFrame): SparkPlan =
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
    val t8 = plan(SparkEntry.queries("t8_quality_filter")(spark, sf))
    assert(t8.collect { case g: GenerateExec => g }.isEmpty,
      s"t8 explodes rows:\n${t8.toString.take(1500)}")
    val exchanges = t8.collect { case e: Exchange => e }
    assert(exchanges.length == 1 && (exchanges.head match {
        case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
        case _ => false
      }), s"t8's only exchange must be its orderBy's range partitioning:\n${t8.toString.take(1500)}")
    val sigs = plan(pipeline.Dedup.signatures(spark, sf))
    assert(sigs.collect { case g: GenerateExec => g }.isEmpty,
      s"signatures explode shingles:\n${sigs.toString.take(1500)}")
  }

  test("no native graft expression evaluates under an interpreted lambda") {
    // A higher-order function's lambda is NOT whole-stage-codegen'd: it
    // evaluates through interpreted expression machinery once per array
    // ELEMENT per row. Wrapping a native expression in one silently
    // forfeits its codegen — round 5's d9 did exactly this
    // (array_distinct(transform(sgl, x => GenKey(x)))) and paid 13x in
    // the driver bench. Array-BUILDING lambdas over plain expressions
    // (st7's shingle strings) pass this audit but still evaluate
    // interpreted per element — the t1/t2/t8 marker filter did until the
    // native CountInSet replaced it (~90 ms of t8 on the seed-1
    // curation corpus, local[2] on a 4-vCPU host) — and shingleCol's
    // concat_ws transform built every shingle string of the d-family
    // until the native ShingleKeys array (with a per-row MinHash)
    // replaced it — traced seed-1 curation_pass, local[2] on a 4-vCPU
    // host, exec CPU d2 1392 → 520 ms, d7 1195 → 836 ms, d12 1205 →
    // 815 ms. A graft.* expression under a lambda is never acceptable —
    // apply it natively, to the whole array or after explode, instead.
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    def offenses(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.flatMap(_.expressions).flatMap(_.collect {
        case h: HigherOrderFunction if h.functions.exists(_.exists(
            _.getClass.getName.startsWith("graft."))) => h.prettyName
      })
    // negative control: the auditor must flag the round-5 d9 shape
    import org.apache.spark.sql.functions._
    val bad = spark.range(1).select(
      transform(array(lit("a"), lit("b")),
        x => graft.functions.GenKey(x)).as("y"))
    assert(offenses(bad).nonEmpty,
      "auditor failed to flag a native expression under a lambda")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => iterative(n) }
      .flatMap { case (name, fn) =>
        val off = offenses(fn(spark, sf))
        if (off.nonEmpty) Some(s"$name(${off.mkString(",")})") else None
      }
    assert(offenders.isEmpty,
      s"native expressions under interpreted lambdas in: ${offenders.mkString(", ")}")
  }

  test("no operator falls back to interpreted ScalaUDF in its plan") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => iterative(n) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        if (plan.contains("UDF(")) Some(name) else None
      }
    assert(offenders.isEmpty,
      s"ScalaUDF (interpreted, codegen-opaque) used by: ${offenders.mkString(", ")}")
  }
}
