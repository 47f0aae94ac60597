package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Shared kernel for the ring hash: little-endian u32 of the first four
  * MD5 digest bytes (hash_ring.py:18-24 semantics). One digest per call,
  * thread-local MessageDigest — no hex-string round trip like the
  * md5()/conv()/substring() composition needs.
  */
object GenKeyImpl {
  private val md = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))
  private val Space = Array[Byte](' ')

  def genKey(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    update(d, s)
    key(d)
  }

  /** genKey of `toks[from until until]` joined by single spaces — the
    * n-gram key of the token window. The digest is fed piece by piece
    * (MD5 of a concatenation = MD5 updated with its parts), so the
    * joined string is never built. An empty window keys "". Token arrays
    * must be null-free (split never emits null); `kernel` names the
    * caller in the error.
    */
  def joinedKey(toks: ArrayData, from: Int, until: Int, kernel: String): Long = {
    val d = md.get()
    d.reset()
    var i = from
    while (i < until) {
      if (toks.isNullAt(i))
        throw new IllegalArgumentException(
          s"$kernel: null token at index $i (token arrays must be null-free)")
      if (i > from) d.update(Space)
      update(d, toks.getUTF8String(i))
      i += 1
    }
    key(d)
  }

  /** Digests the string's bytes in place when it is backed by a byte
    * array (row and array data are), copying only otherwise.
    */
  private def update(d: MessageDigest, s: UTF8String): Unit = s.getBaseObject match {
    case a: Array[Byte] =>
      d.update(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes())
    case _ => d.update(s.getBytes)
  }

  private def key(d: MessageDigest): Long = {
    val b = d.digest()
    ((b(3) & 0xffL) << 24) | ((b(2) & 0xffL) << 16) |
      ((b(1) & 0xffL) << 8) | (b(0) & 0xffL)
  }
}

/** Native Catalyst expression for the ring hash key. Equivalent to the
  * composed form HashRing.sparkGenKey (and the DuckDB oracle), ~3x faster
  * per row, and stays inside whole-stage codegen.
  */
case class GenKey(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_gen_key"

  override protected def nullSafeEval(input: Any): Any =
    GenKeyImpl.genKey(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GenKeyImpl.genKey($c)")

  override protected def withNewChildInternal(newChild: Expression): GenKey =
    copy(child = newChild)
}

object GenKey {
  def apply(c: Column): Column = GraftShim.column(GenKey(GraftShim.expression(c)))
}

/** array<string> tokens in, array<bigint> u32 keys out: the contract
  * [[BigramKeys]] and [[ShingleKeys]] share.
  */
trait TokenKeys extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.catalogString}")
  }
}

/** Adjacent-bigram ring-hash fingerprints of a token array:
  * out[i] = genKey(toks[i] + " " + toks[i+1]). One codegen'd call per
  * ROW where the HOF formulation (transform + the composed md5/conv
  * ring hash) evaluated interpreted per bigram — the t4
  * RollingFingerprint lesson applied to the quality verdict (t8/st10),
  * whose dup-bigram count must use THE SAME u32 bigram keys as
  * t7 so a (vanishingly rare) in-doc hash collision biases the verdict
  * and t7 identically. Equivalence to the composed form holds for
  * arrays of >= 2 tokens; below that this kernel returns the EMPTY
  * array (the useful semantics) where the composed
  * transform(sequence(0, size-2), ...) form degenerates — Spark's
  * sequence(0, -1) descends to [0, -1] and the lambda emits nulls —
  * so callers on unguarded short docs must use this kernel, not the
  * HOF.
  */
object BigramKeysImpl {
  def keys(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val out = new Array[Long](math.max(n - 1, 0))
    var i = 0
    while (i < n - 1) {
      out(i) = GenKeyImpl.joinedKey(toks, i, i + 2, "graft_bigram_keys")
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

case class BigramKeys(child: Expression) extends TokenKeys {
  override def prettyName: String = "graft_bigram_keys"

  override protected def nullSafeEval(input: Any): Any =
    BigramKeysImpl.keys(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BigramKeysImpl.keys($c)")

  override protected def withNewChildInternal(newChild: Expression): BigramKeys =
    copy(child = newChild)
}

object BigramKeys {
  def apply(c: Column): Column =
    GraftShim.column(BigramKeys(GraftShim.expression(c)))
}

/** 3-word shingle fingerprints of a token array, the sibling of
  * [[BigramKeysImpl]]: out[i] = genKey(toks[i] + " " + toks[i+1] + " " +
  * toks[i+2]). An array of fewer than 3 tokens is ONE shingle, its tokens
  * joined by spaces, and a null array is one empty shingle — exactly the
  * fallback of `Dedup.shingleCol` (`concat_ws` over a null array is ""),
  * so the keys equal `transform(shingleCol, GenKey)` on every null-free
  * token array (a null token throws, as in [[BigramKeysImpl]]). One
  * codegen'd call per row replaces an interpreted `transform` lambda
  * building every shingle string, and no shingle string is built at all.
  */
object ShingleKeysImpl {
  private val Width = 3

  def keys(toks: ArrayData): ArrayData = {
    val n = if (toks == null) 0 else toks.numElements()
    if (n < Width)
      return UnsafeArrayData.fromPrimitiveArray(
        Array(GenKeyImpl.joinedKey(toks, 0, n, "graft_shingle_keys")))
    val out = new Array[Long](n - Width + 1)
    var i = 0
    while (i < out.length) {
      out(i) = GenKeyImpl.joinedKey(toks, i, i + Width, "graft_shingle_keys")
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

case class ShingleKeys(child: Expression) extends TokenKeys {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral

  override def prettyName: String = "graft_shingle_keys"
  // a null token array is one empty shingle, never a null result
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    ShingleKeysImpl.keys(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} =
        graft.functions.ShingleKeysImpl.keys(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleKeys =
    copy(child = newChild)
}

object ShingleKeys {
  def apply(c: Column): Column =
    GraftShim.column(ShingleKeys(GraftShim.expression(c)))
}
