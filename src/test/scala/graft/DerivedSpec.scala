package graft

import graft.arrays.ArrayModel
import graft.pipeline.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The derived-store registry (`Derived`): a store follows the input files
  * it was built from, not the dir string it was asked for.
  */
class DerivedSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    TmpCleanup.register(d)
    d
  }

  private def writeCorpus(dir: String, docs: DataFrame, events: DataFrame): Unit = {
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("a corpus rewritten under the same dir gets fresh stores, not the old ones") {
    val (dir, reference) = (tmpDir("graft-stale"), tmpDir("graft-stale-ref"))
    val (docs, events) = (Tables.documents(spark, sf), Tables.events(spark, sf))
    def answers(d: String) =
      (rows(Dedup.d10DedupPurge(spark, d)), rows(ArrayModel.cellsStored(spark, d)))
    writeCorpus(dir, docs, events)
    val before = answers(dir)
    val (docs2, events2) =
      (docs.filter(col("doc_id") % 3 =!= 0), events.filter(col("event_id") % 2 === 0))
    writeCorpus(dir, docs2, events2)
    writeCorpus(reference, docs2, events2)
    val after = answers(dir)
    assert(after._1 != before._1 && after._2 != before._2, "the rewrite changed no answer")
    assert(after._1 == answers(reference)._1, "d10 answered from the old corpus's labels")
    assert(after._2 == answers(reference)._2, "cellsStored answered from the old corpus's store")
  }

  test("a build that throws is not recorded: the next caller builds again") {
    val dir = tmpDir("graft-throw")
    var builds = 0
    intercept[IllegalStateException](Derived.path(spark, "probe", dir, Seq("events")) { _ =>
      builds += 1
      throw new IllegalStateException("build failed")
    })
    val p = Derived.path(spark, "probe", dir, Seq("events")) { p =>
      builds += 1
      new java.io.File(p).mkdirs()
    }
    assert(builds == 2)
    assert(Derived.path(spark, "probe", dir, Seq("events"))(_ => builds += 1) == p && builds == 2)
  }

  test("two dirs whose names collide under String.hashCode keep their own cells") {
    val base = tmpDir("graft-collide")
    val (a, b) = (s"$base/Aa", s"$base/BB")
    assert(a.hashCode == b.hashCode)
    val events = Tables.events(spark, sf)
    events.write.parquet(s"$a/events.parquet")
    events.withColumn("value", col("value") * 2).write.parquet(s"$b/events.parquet")
    for (d <- Seq(a, b)) {
      ArrayModel.cellsStored(spark, d).count()
      ArrayModel.cellsBucketed(spark, d).count()
    }
    assert(rows(ArrayModel.cells(spark, a)) != rows(ArrayModel.cells(spark, b)))
    for (d <- Seq(a, b)) {
      val own = rows(ArrayModel.cells(spark, d))
      assert(rows(ArrayModel.cellsStored(spark, d)) == own, s"cellsStored($d) holds another dir's cells")
      assert(rows(ArrayModel.cellsBucketed(spark, d).select("coll", "array_id", "i0", "i1", "value")) == own,
        s"cellsBucketed($d) holds another dir's cells")
    }
  }
}
