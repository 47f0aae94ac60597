package graft.functions

import graft.arrays.HashRing
import graft.plans.{BoundParams, RingLookup, RingReplicas, RingTable}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

/** SparkSessionExtensions registrar: exposes graft's native expressions to
  * SQL users. Activate with
  * `spark.sql.extensions=graft.functions.GraftExtensions`, then:
  *
  * {{{
  *   SELECT graft_gen_key(k)            -- ring hash position of a key
  *   SELECT graft_ring_place(graft_gen_key(k))  -- owning node, current ring
  *   SELECT graft_ring_replicas(graft_gen_key(k))  -- 3-node failover list
  * }}}
  *
  * This is the preference-order-(c) integration path from SURVEY §2:
  * whole-session extension points rather than per-DataFrame helpers.
  *
  * It also injects [[graft.plans.BoundParams]], which takes the bounds and
  * payload values of a cell-store request out of its generated code, so a
  * Deker slice read, patch or placement compiles once per plan shape, not
  * once per request. The rule is scoped to plans that scan the cell store:
  * other plans repeat their literals from run to run and already hit the
  * codegen cache, so rewriting them would change their code for nothing.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    def unary(name: String)(args: Seq[Expression]): Expression = {
      if (args.length != 1)
        throw new IllegalArgumentException(
          s"$name expects exactly 1 argument, got ${args.length}")
      args.head
    }
    e.injectFunction((
      new FunctionIdentifier("graft_gen_key"),
      new ExpressionInfo(classOf[GenKey].getName, "graft_gen_key"),
      (args: Seq[Expression]) => GenKey(unary("graft_gen_key")(args))))
    e.injectFunction((
      new FunctionIdentifier("graft_ring_place"),
      new ExpressionInfo(classOf[RingLookup].getName, "graft_ring_place"),
      (args: Seq[Expression]) =>
        RingLookup(unary("graft_ring_place")(args), new RingTable(HashRing.current))))
    e.injectFunction((
      new FunctionIdentifier("graft_ring_replicas"),
      new ExpressionInfo(classOf[RingReplicas].getName, "graft_ring_replicas"),
      (args: Seq[Expression]) =>
        RingReplicas(unary("graft_ring_replicas")(args),
          new RingTable(HashRing.current), 3)))
    def pair(name: String)(args: Seq[Expression]): (Expression, Expression) = {
      if (args.length != 2)
        throw new IllegalArgumentException(
          s"$name expects exactly 2 arguments, got ${args.length}")
      (args(0), args(1))
    }
    e.injectFunction((
      new FunctionIdentifier("graft_rolling_fingerprint"),
      new ExpressionInfo(classOf[RollingFingerprint].getName,
        "graft_rolling_fingerprint"),
      (args: Seq[Expression]) =>
        RollingFingerprint(unary("graft_rolling_fingerprint")(args))))
    e.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        val (a, b) = pair("graft_dot")(args); DotProduct(a, b)
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName,
        "graft_bloom_might_contain"),
      (args: Seq[Expression]) => {
        val (bloom, h) = pair("graft_bloom_might_contain")(args)
        BloomMightContain(bloom, h)
      }))
    e.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = BoundParams
    })
  }
}
