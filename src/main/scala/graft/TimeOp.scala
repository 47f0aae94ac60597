package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

/** Local iteration helper: time one operator at one SF without running the
  * whole bench. `runMain graft.TimeOp <name>[,<name>...] [sfDir] [runs]`.
  * Each run's time comes with the generated classes it compiled: a run
  * that recompiles what an earlier one already compiled shows itself.
  * A run is a `noop`-format write of every output column, so the timed
  * plan computes all the op's columns and keeps its final sort; a
  * `count()` would let the optimizer prune both away.
  */
object TimeOp {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.entry(spark).count() // session warm-up, as in Bench
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to runs).map { _ =>
        val rows = Observation("rows")
        val c0 = GraftSession.codegenCompiles
        val t0 = System.nanoTime()
        fn(spark, sfDir).observe(rows, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        val dt = ((System.nanoTime() - t0) / 1e9, rows.get("n"), GraftSession.codegenCompiles - c0)
        // GC barrier between runs (outside the timed window), as in
        // Bench: ContextCleaner only deletes the previous run's shuffle
        // files after its DataFrame is COLLECTED BY GC, and a tier640 d5
        // run writes ~27 GB of compressed shuffle — without the barrier,
        // repeated runs race the async cleaner to ENOSPC on this host's
        // 57 GB of free disk (observed: run 2 of 3 died mid-shuffle).
        System.gc()
        Thread.sleep(2000)
        dt
      }
      println(f"[timeop] $name rows=${times.head._2} " +
        times.map(t => f"${t._1}%.3f").mkString("times=[", ", ", "]") +
        times.map(_._3).mkString(" compiles=[", ", ", "]") +
        f" min=${times.map(_._1).min}%.3f load1=${Bench.load1()}%.2f")
    }
    spark.stop()
  }
}
