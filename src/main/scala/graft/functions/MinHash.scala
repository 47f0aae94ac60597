package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** A fixed MinHash permutation family: signature position j of a key set
  * is min over its keys h of (a_j * h + b_j) mod p. Keys are u32 ring
  * fingerprints and every coefficient is below 2^31, so a_j * h + b_j
  * stays below 2^63 — the same exact long arithmetic as the composed
  * `pmod(a * h + b, p)` column form and the DuckDB oracle. Built once
  * with the plan and shipped in the expression.
  */
final class MinHashFamily(a: Seq[Long], b: Seq[Long], p: Long) extends Serializable {
  require(a.nonEmpty && a.length == b.length, "minhash: need one b per a")
  require(p > 0 && (a ++ b).forall(c => c >= 0 && c < (1L << 31)),
    "minhash: coefficients must lie in [0, 2^31) and p must be positive")
  private val as = a.toArray
  private val bs = b.toArray

  /** The signature of one key array. An empty array has no minimum and
    * a key outside u32 could overflow the product; both throw.
    */
  def signature(keys: ArrayData): ArrayData = {
    val n = keys.numElements()
    if (n == 0) throw new IllegalArgumentException("graft_minhash: empty key array")
    val out = Array.fill(as.length)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = keys.getLong(i)
      if ((h >>> 32) != 0)
        throw new IllegalArgumentException(s"graft_minhash: key $h is not a u32")
      var j = 0
      while (j < as.length) {
        val v = (as(j) * h + bs(j)) % p
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Native per-row MinHash signature of an array<bigint> of u32 keys (see
  * [[MinHashFamily]]): one codegen'd call per row, so a document's
  * signature needs no per-shingle rows.
  */
case class MinHash(child: Expression, family: MinHashFamily) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    family.signature(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhash", family, classOf[MinHashFamily].getName)
    defineCodeGen(ctx, ev, c => s"$ref.signature($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHash =
    copy(child = newChild)
}

object MinHash {
  def apply(keys: Column, family: MinHashFamily): Column =
    GraftShim.column(MinHash(GraftShim.expression(keys), family))
}
