package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query subset (local iteration;
    // the driver always runs the full set)
    val subset = args.lift(2).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // getOrCreate reuses any live session (VerifySpec drives main() inside
    // the shared test JVM) — only stop a session this main itself created.
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var nFailed = 0
    SparkEntry.queries
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A throwing operator must yield an AUDITABLE record, not a
        // silently absent key (round 8's NTZ crash made 48 failures look
        // like "only 62 queries exist"): write an error sidecar in place
        // of the result dir so the gate sees an err row per key.
        nFailed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val dir = Paths.get(s"$outDir/$name")
        try {
          if (Files.exists(dir)) {
            import scala.jdk.CollectionConverters._
            // Files.walk holds a directory handle until closed — one leak
            // per failing query adds up over a 111-op run
            val walk = Files.walk(dir)
            try walk.iterator().asScala.toSeq.reverse
              .foreach(p => Files.deleteIfExists(p))
            finally walk.close()
          }
          Files.createDirectories(dir)
          Files.writeString(dir.resolve("_ERROR"),
            s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(2000)}\n")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name: sidecar write failed: ${e2.getMessage}")
        }
      }
    }
    if (nFailed > 0)
      System.err.println(s"[verify] $nFailed of ${SparkEntry.queries.size} queries FAILED")
    System.err.println(s"[verify] codegen compiles: ${GraftSession.codegenCompiles}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Provenance stamp (round-13 verdict #4): a separate file — NOT a
    // key inside oracle_sql.json, whose every value the driver executes
    // as SQL. check.py folds it into the correctness artifact so a gate
    // generated from stale dumps self-identifies.
    Files.writeString(Paths.get(s"$outDir/_meta.json"),
      s"""{${Bench.gitStamp},"sfdir":${q(sfDir)}}\n""")
    if (!preExisting) spark.stop()
  }
}
