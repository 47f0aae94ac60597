package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A fixed word set for [[CountInSet]], built once with the plan and
  * shipped in the expression.
  */
final class WordSet(words: Seq[String]) extends Serializable {
  private val set: Set[UTF8String] = words.map(UTF8String.fromString).toSet

  /** How many elements of `toks` are in the set; a null element is in
    * no set.
    */
  def count(toks: ArrayData): Int = {
    var c = 0
    var i = 0
    while (i < toks.numElements()) {
      if (!toks.isNullAt(i) && set.contains(toks.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }
}

/** Native count of an array<string>'s elements that lie in a fixed word
  * set: one codegen'd call per row, the same int as
  * `size(filter(toks, t => t === w1 || ... ))`, whose lambda evaluates
  * interpreted once per element. A null array counts like `size` of
  * one: null, or -1 under `spark.sql.legacy.sizeOfNull` with ANSI off.
  */
case class CountInSet(child: Expression, words: WordSet, legacySizeOfNull: Boolean)
    extends UnaryExpression {
  def this(child: Expression, words: WordSet) =
    this(child, words, SQLConf.get.legacySizeOfNull)

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = !legacySizeOfNull && child.nullable
  override def prettyName: String = "graft_count_in_set"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.catalogString}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) { if (legacySizeOfNull) -1 else null }
    else words.count(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("words", words, classOf[WordSet].getName)
    if (legacySizeOfNull) {
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        boolean ${ev.isNull} = false;
        int ${ev.value} = ${c.isNull} ? -1 : $ref.count(${c.value});""")
    } else defineCodeGen(ctx, ev, c => s"$ref.count($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): CountInSet =
    copy(child = newChild)
}

object CountInSet {
  def apply(toks: Column, words: WordSet): Column =
    GraftShim.column(new CountInSet(GraftShim.expression(toks), words))
}
