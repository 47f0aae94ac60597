package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The registry of derived stores: artifacts built once from a corpus dir
  * and read by later ops (the cell store, the bucketed cell table, the
  * dedup label table). [[path]] owns the whole policy, so no store keeps a
  * memo of its own:
  *
  *  - The key is (kind, dir, stamp of every input file): relative name,
  *    length and mtime of each file under `$dir/<table>.parquet`, listed
  *    on the driver through the Hadoop `FileSystem` (no Spark job). A
  *    corpus rewritten under the same dir is a new key, so it is never
  *    answered from the old store.
  *  - The store's tmp path is a digest of the key (plus the pid, so two
  *    JVMs never share one), never a `hashCode` two dirs can collide on.
  *  - One monitor per key collapses concurrent first callers to one build;
  *    different keys build in parallel. A build that throws is not
  *    recorded: the next caller builds again.
  *  - Every path goes to [[TmpCleanup]]. A superseded store stays until
  *    JVM exit, so a reader still scanning it never loses its files.
  */
private[graft] object Derived {
  private final class Slot { var path: Option[String] = None }
  private val slots = scala.collection.concurrent.TrieMap.empty[String, Slot]

  /** The stored artifact of `kind` derived from `inputs` (table names)
    * under `dir`; `write` builds it at the path it is given, on the first
    * call for this key only.
    */
  def path(s: SparkSession, kind: String, dir: String, inputs: Seq[String])(
      write: String => Unit): String = {
    val key = (Seq(kind, dir) ++ inputs.map(t => s"$t=${stamp(s, dir, t)}")).mkString("\n")
    val fresh = new Slot
    val slot = slots.putIfAbsent(key, fresh).getOrElse(fresh)
    slot.synchronized {
      slot.path.getOrElse {
        val p = s"${System.getProperty("java.io.tmpdir")}/graft-$kind-" +
          s"${ProcessHandle.current.pid}-${digest(key)}"
        TmpCleanup.register(p)
        write(p)
        slot.path = Some(p)
        p
      }
    }
  }

  /** `name:length:mtime` of every file under `$dir/<table>.parquet`, in
    * name order; empty when the table is absent.
    */
  private def stamp(s: SparkSession, dir: String, table: String): String = {
    val root = new Path(s"$dir/$table.parquet")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) ""
    else {
      val base = fs.makeQualified(root).toString
      val files = fs.listFiles(root, true)
      val out = Seq.newBuilder[String]
      while (files.hasNext) {
        val f = files.next()
        out += s"${f.getPath.toString.stripPrefix(base)}:${f.getLen}:${f.getModificationTime}"
      }
      out.result().sorted.mkString(",")
    }
  }

  private def digest(key: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
}
