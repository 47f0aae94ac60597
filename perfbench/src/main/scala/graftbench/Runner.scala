package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed operation. Phase times are wall milliseconds; `startMs` is
  * epoch time, so scheduler events (also epoch stamped) can be placed in
  * a phase. Action ops (a patch) have no construct or plan phase.
  */
final case class OpRec(id: Long, kind: String, warmup: Boolean, traced: Boolean,
                       startMs: Double, constructMs: Double, planMs: Double,
                       execMs: Double) {
  var ok: Boolean = true
  def totalMs: Double = constructMs + planMs + execMs
  def execStartMs: Double = startMs + constructMs + planMs
}

/** Runs ops the way one client would: one at a time on the calling thread.
  * Every op is counted as attempted; an op that throws or returns a wrong
  * result counts as failed and contributes no latency sample.
  *
  * An instrumented op runs under a job group equal to its kind, carries
  * its span id as a local property for [[Layers]], and has its Catalyst
  * planning forced as a phase of its own. Other ops run exactly as in an
  * untraced run.
  */
final class Runner(val spark: SparkSession) {
  val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var attempted = 0
  var failed = 0
  var warmup = true

  /** Set for the timed loop of a traced run: every other op of a unit is
    * instrumented, from the first op in even units and from the second in
    * odd ones, so every kind gets instrumented and plain samples.
    */
  var tracing = false
  private var unit = 0
  private var inUnit = 0
  def nextUnit(): Unit = { unit += 1; inUnit = 0 }

  /** Builds a DataFrame, plans it and collects it; `check` returns an
    * error message when the rows are wrong.
    */
  def query(kind: String)(build: => DataFrame)(check: Array[Row] => Option[String]): Unit =
    run(kind) { traced =>
      val t0 = System.nanoTime()
      val df = build
      val built = System.nanoTime()
      if (traced) df.queryExecution.executedPlan
      val planned = System.nanoTime()
      val rows = df.collect()
      (Seq(t0, built, planned, System.nanoTime()), () => check(rows))
    }

  /** An op that is a single call returning nothing, such as a patch. */
  def action(kind: String)(act: => Unit)(check: => Option[String]): Unit =
    run(kind) { _ =>
      val t0 = System.nanoTime()
      act
      (Seq(t0, t0, t0, System.nanoTime()), () => check)
    }

  /** `body` returns its phase boundaries (start, built, planned, done) in
    * nanoseconds and the check of its answer.
    */
  private def run(kind: String)(body: Boolean => (Seq[Long], () => Option[String])): Unit = {
    val traced = tracing && (inUnit + unit) % 2 == 0
    if (tracing) inUnit += 1
    val id = attempted.toLong
    attempted += 1
    val sc = spark.sparkContext
    if (traced) {
      sc.setJobGroup(kind, kind)
      sc.setLocalProperty(Layers.SpanKey, id.toString)
    }
    val startMs = System.currentTimeMillis().toDouble
    var rec: OpRec = null
    val outcome =
      try {
        val (t, check) = body(traced)
        val ms = t.sliding(2).map(p => (p(1) - p(0)) / 1e6).toIndexedSeq
        rec = OpRec(id, kind, warmup, traced, startMs, ms(0), ms(1), ms(2))
        ops += rec
        check()
      } catch {
        case NonFatal(e) => Some(s"threw ${e.getClass.getName}: ${e.getMessage}")
      } finally if (traced) {
        sc.clearJobGroup()
        sc.setLocalProperty(Layers.SpanKey, null)
      }
    if (rec != null) rec.ok = outcome.isEmpty
    outcome.foreach(msg => fail(s"$kind #$id", msg))
  }

  /** Counts a wrong answer found after its op was recorded: a warm-up
    * result checked once the expected answers arrived.
    */
  def failLate(kind: String, msg: String): Unit = fail(s"$kind (checked late)", msg)

  private def fail(op: String, msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"$op: ${msg.take(400)}"
  }

  def timed: Seq[OpRec] = ops.toSeq.filter(o => !o.warmup && o.ok)
}
