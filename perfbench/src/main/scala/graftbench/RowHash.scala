package graftbench

import org.apache.spark.sql.Row

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Order-normalized result hash, computed the same way by the benchmark's
  * DuckDB side (perfbench/oracle.py): columns in name order, each value
  * encoded by kind (integers of any width alike, floating point by its
  * IEEE-754 bits with -0.0 folded into 0.0), rows sorted by their UTF-8
  * bytes. Equal hashes mean equal row multisets, compared as strictly as
  * the repository's oracle check compares them.
  */
object RowHash {
  def encode(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b:1" else "b:0"
    case x: Byte => s"i:$x"
    case x: Short => s"i:$x"
    case x: Int => s"i:$x"
    case x: Long => s"i:$x"
    case x: Float => real(x.toDouble)
    case x: Double => real(x)
    case s: String => "s:" + s
    case other => throw new IllegalArgumentException(
      s"no canonical encoding for ${other.getClass.getName}")
  }

  private def real(d: Double): String =
    if (d.isNaN) "f:nan"
    else if (d == 0.0) "f:0"
    else "f:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  /** (row count, hex sha-256) of a collected result. */
  def of(rows: Array[Row]): (Long, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.headOption.foreach { r =>
      val names = r.schema.fieldNames
      val order = names.indices.sortBy(names(_))
      md.update(order.map(names(_)).mkString("cols:", ",", "\n").getBytes(UTF_8))
      val lines = rows.map(row => order.map(i => encode(row.get(i))).mkString("\u001f").getBytes(UTF_8))
      java.util.Arrays.sort(lines, (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b))
      lines.foreach { l => md.update(l); md.update('\n'.toByte) }
    }
    (rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}
