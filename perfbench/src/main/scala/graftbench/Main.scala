package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.GraftSession
import graft.arrays.ArrayModel
import graft.sources.ArrayStore
import org.apache.spark.graftbench.BusAccess

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side; perfbench/run.py prepares the inputs, starts
  * it and reports. Two entry points:
  *
  *   oracle-sql <out.json>   the DuckDB oracle SQL of the curation ops
  *   run key=value ...       one benchmark run (keys: see [[run]])
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "oracle-sql" :: out :: Nil =>
      val sql = Curation.Flow.map { case (_, name, _) => name -> graft.SparkEntry.oracleSql(name) }
      writeJson(out, sql.toMap)
    case "run" :: kvs =>
      run(kvs.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap)
    case _ =>
      System.err.println("usage: Main oracle-sql <out.json> | Main run key=value ...")
      sys.exit(2)
  }

  private def nowMs: Double = System.currentTimeMillis().toDouble

  /** Keys: workload, seed, seconds, trace (0|1), cores, work (fresh
    * scratch dir), sf (source tables), corpus, expected and ready
    * (curation inputs: the oracle's answers are written to `expected`
    * after this JVM creates `ready`), warmup (untimed request blocks or
    * passes), result and spans (output files).
    */
  def run(conf: Map[String, String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val mainMs = nowMs
    val workload = conf("workload")
    val seconds = conf("seconds").toDouble
    val tracing = conf("trace") == "1"
    val cores = conf("cores").toInt
    val work = conf("work")

    val sessionStart = nowMs
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (nowMs - sessionStart) / 1000
    val layers = new Layers
    if (tracing) spark.sparkContext.addSparkListener(layers)
    val runner = new Runner(spark)

    var storeS = 0.0
    var setupS = 0.0
    var warmupS = 0.0
    var patchCount, cellsPatched = 0L
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    // whole units (a block of requests, a pass) until `seconds` have
    // passed, so every run measures the same mix; a traced run needs two
    // units to instrument every kind
    def timedLoop(unit: () => Unit): Unit = {
      runner.warmup = false
      runner.tracing = tracing
      val t0 = System.nanoTime()
      var units = 0
      while ({
        unit()
        runner.nextUnit()
        units += 1
        units < (if (tracing) 2 else 1) || System.nanoTime() - t0 < seconds * 1e9
      }) ()
      info("loop_s") = (System.nanoTime() - t0) / 1e9
    }
    workload match {
      case "deker_session" =>
        val storePath = s"$work/store"
        val t = nowMs
        ArrayStore.materialize(ArrayModel.cells(spark, conf("sf")), storePath)
        storeS = (nowMs - t) / 1000
        setupS = (nowMs - jvmStartMs) / 1000
        val deker = new Deker(spark, runner, conf("seed").toLong, storePath)
        deker.loadModel()
        val w = nowMs
        (1 to conf("warmup").toInt).foreach(_ => deker.block())
        warmupS = (nowMs - w) / 1000
        timedLoop(() => deker.block())
        patchCount = deker.patches
        cellsPatched = deker.patchedCells
        info ++= Seq("reads" -> deker.reads, "reads_on_patched" -> deker.readsOnPatched,
          "patches" -> patchCount, "patched_cells" -> cellsPatched)
      case "curation_pass" =>
        setupS = (nowMs - jvmStartMs) / 1000
        Files.createFile(Paths.get(conf("ready")))
        val cur = new Curation(spark, runner, conf("corpus"), work)
        val w = nowMs
        (1 to conf("warmup").toInt).foreach(_ => cur.pass())
        warmupS = (nowMs - w) / 1000
        val waited = nowMs
        cur.expect(awaitExpected(Paths.get(conf("expected"))))
        info("oracle_wait_s") = (nowMs - waited) / 1000
        timedLoop(() => cur.pass())
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum.toDouble
    val peakRss = peakRssMb()
    val e2e = Report.endToEnd(runner, setupS)
    val perLayer =
      if (!tracing) Map.empty[String, Double]
      else {
        BusAccess.drain(spark.sparkContext)
        val patches = runner.timed.filter(o => o.kind == "patch" && o.traced)
        val writePerPatch = if (patches.isEmpty) 0.0
          else patches.map(o => layers.bySpan.get(o.id).fold(0L)(_.writeBytes)).sum.toDouble / patches.size
        val cellsPerPatch = cellsPatched.toDouble / math.max(1L, patchCount)
        Report.perLayer(runner, layers) ++ Map(
          "setup.jvm_s" -> (mainMs - jvmStartMs) / 1000,
          "setup.session_s" -> sessionS,
          "setup.store_s" -> storeS,
          "warmup_s" -> warmupS,
          "jvm.gc_ms" -> gcMs,
          "jvm.peak_rss_mb" -> peakRss,
          "patch.write_bytes" -> writePerPatch,
          "patch.write_amp" -> (if (cellsPerPatch > 0) writePerPatch / cellsPerPatch else 0.0))
      }
    def kindPercentile(p: Double) = runner.timed.groupBy(_.kind)
      .map { case (k, v) => k -> Report.percentile(v.map(_.totalMs), p) }.asJava
    info ++= Seq("session_s" -> sessionS, "store_s" -> storeS, "warmup_s" -> warmupS,
      "timed_ops" -> runner.timed.size, "gc_ms" -> gcMs, "peak_rss_mb" -> peakRss,
      "samples" -> runner.timed.groupBy(_.kind).map { case (k, v) => k -> v.size }.asJava,
      "kind_p50_ms" -> kindPercentile(0.5), "kind_p90_ms" -> kindPercentile(0.9))
    writeJson(conf("result"), Map(
      "attempted" -> runner.attempted, "failed" -> runner.failed,
      "errors" -> runner.errors.asJava,
      "end_to_end" -> e2e.asJava, "per_layer" -> perLayer.asJava, "info" -> info.asJava))
    if (tracing) writeJson(conf("spans"), Map(
      "ops" -> runner.ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "warmup" -> o.warmup,
        "traced" -> o.traced, "ok" -> o.ok, "start_ms" -> o.startMs, "construct_ms" -> o.constructMs,
        "plan_ms" -> o.planMs, "exec_ms" -> o.execMs).asJava).asJava,
      "jobs" -> layers.jobs.map(j => Map("id" -> j.id, "parent" -> j.span,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs).asJava).asJava))
    spark.stop()
  }

  /** The oracle's answers, `op<TAB>rows<TAB>sha256` lines, once written. */
  private def awaitExpected(path: java.nio.file.Path): Map[String, (Long, String)] = {
    val deadline = nowMs + 150000
    while (!Files.exists(path)) {
      if (nowMs > deadline) throw new IllegalStateException(s"no oracle answers at $path")
      Thread.sleep(50)
    }
    Files.readAllLines(path).asScala.map(_.split('\t')).map(f => f(0) -> (f(1).toLong, f(2))).toMap
  }

  /** High-water resident set of this JVM, from /proc. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def writeJson(path: String, m: Map[String, Any]): Unit =
    Files.write(Paths.get(path), new ObjectMapper().writeValueAsBytes(m.asJava))
}
