package graft

/** Post-execution adaptive-plan inspector: runs each named operator at
  * sf0.1 and reports the FINAL (AQE re-optimized) join strategies —
  * `PlanDump` writes the static plan, which under AQE is not what
  * executes. Used to prove the unpinned sub-linear joins (t5 df, t9
  * vocab, d10 labels, d11 rep, d12 verify, d15 contam/keepers) recover
  * broadcast at runtime. `runMain graft.PlanCheck [dir] <name>...` —
  * an argument containing "/" selects the corpus dir (default sf0.1),
  * so the same probe runs against a MakeTier corpus: the broadcast
  * recovery claim is a SCALE claim and should be checked at the tier,
  * not only at the SF where the sub-linear side is trivially small.
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (dir, names) = args.partition(_.contains("/")) match {
      case (Array(d), ns) => (d, ns)
      case (Array(), ns)  => ("/root/testdata/sf0.1", ns)
      case _ => sys.error("at most one dir argument")
    }
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.count()
      val p = df.queryExecution.executedPlan.toString
      val smj = p.linesIterator.count(_.contains("SortMergeJoin"))
      val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
      println(s"[plancheck] $name final-plan SMJ=$smj BHJ=$bhj")
      // GRAFT_PLANCHECK_DUMP=1: print the join lines themselves, to see
      // WHICH join a strategy count change refers to
      if (sys.env.get("GRAFT_PLANCHECK_DUMP").contains("1"))
        p.linesIterator.filter(l => l.contains("Join")).foreach(l =>
          println(s"[plancheck]   ${l.trim.take(200)}"))
    }
    spark.stop()
  }
}
