package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Physical storage layout for the cell model — the piece that makes the
  * reference's `read_data(array, bounds)` (base.py:225) a *pruned scan*
  * instead of a query at 100 TB.
  *
  * Layout: parquet partitioned by `(coll, array_id)` (directory-level
  * pruning: a bounds read of one array touches exactly one directory) and
  * sorted within partitions by `(i0, i1)` (row-group zone maps: the dim
  * filters skip row groups before decoding). One file per array partition
  * keeps the file count linear in arrays, not in executors. The file
  * writer needs its input ordered by the partition columns, and it puts
  * its own sort on them, replacing the caller's and dropping the
  * `(i0, i1)` order, unless the caller's sort already leads with them.
  * The writer leaves a constant partition column out of that order, so
  * a sort must leave it out too: `materialize` takes frames of one
  * collection whose `coll` is a literal (`ArrayModel.cells`) and sorts by
  * `(array_id, i0, i1)`, one sort in the write's plan; `patchPartition`
  * reads `coll` back from the store and leads with it.
  *
  * The store's schema is declared ([[schema]]), not inferred: `open` runs
  * no parquet footer job, so a Deker request costs only the jobs its
  * answer needs (a read one, a patch one), and a store written from zero
  * cells still opens, as an empty table. `materialize` refuses a frame
  * whose columns drift from the declared schema, before anything is
  * written.
  *
  * On a cluster the same layout holds with `bucketBy` on array_id for
  * shuffle-free re-reads; directory partitioning is the portable core.
  */
object ArrayStore {

  /** The cell store's columns, in the order a scan returns them: data
    * columns first, then the partition columns.
    */
  private[graft] val schema: StructType = StructType(Seq(
    StructField("i0", LongType), StructField("i1", LongType),
    StructField("value", DoubleType),
    StructField("coll", StringType), StructField("array_id", StringType)))

  /** Write cells of one collection, with a literal `coll`, in the pruned
    * layout; each array's file comes out in `(i0, i1)` order.
    */
  def materialize(cells: DataFrame, path: String): Unit = {
    val got = cells.schema.map(f => f.name -> f.dataType).toMap
    schema.foreach { f =>
      require(got.get(f.name).contains(f.dataType),
        s"cell store column ${f.name}: declared ${f.dataType.simpleString}, got " +
          got.get(f.name).fold("no such column")(_.simpleString))
    }
    val extra = cells.columns.filterNot(schema.fieldNames.contains)
    require(extra.isEmpty, s"cell store: undeclared columns ${extra.mkString(", ")}")
    cells
      .repartition(col("coll"), col("array_id"))
      .sortWithinPartitions("array_id", "i0", "i1")
      .write.mode("overwrite")
      .partitionBy("coll", "array_id")
      .parquet(path)
  }

  def open(s: SparkSession, path: String): DataFrame =
    s.read.schema(schema).parquet(path)

  /** Bounds read against the materialized layout: array_id becomes a
    * PartitionFilter (directory pruning), i0/i1 become PushedFilters
    * (row-group skipping). Same semantics as ArrayOps.sliceRead.
    */
  def sliceRead(store: DataFrame, coll: String, arrayId: String,
                b0: (Long, Long), b1: (Long, Long)): DataFrame =
    store.filter(col("coll") === coll && col("array_id") === arrayId &&
      col("i0") >= b0._1 && col("i0") < b0._2 &&
      col("i1") >= b1._1 && col("i1") < b1._2)

  /** The write path of `update(array, bounds, data)` (base.py:272-303) at
    * scale: copy-on-write of ONLY the affected array's partition via
    * dynamic partition overwrite, set on this write alone (the session's
    * own overwrite mode is neither read nor changed) — every other array's
    * files are untouched (no full-table rewrite, no read-modify-write of
    * unrelated data), and an array not in the store writes nothing. The
    * rows already come from one directory, so `coalesce(1)` gathers them
    * into the one sorted file without an exchange: the patch is one job.
    */
  def patchPartition(s: SparkSession, path: String, coll: String,
                     arrayId: String, b0: (Long, Long), b1: (Long, Long),
                     data: org.apache.spark.sql.Column): Unit = {
    graft.Errors.requireBounds(b0, b1)
    val one = open(s, path)
      .filter(col("coll") === coll && col("array_id") === arrayId)
    val inBounds = col("i0") >= b0._1 && col("i0") < b0._2 &&
      col("i1") >= b1._1 && col("i1") < b1._2
    one.withColumn("value", when(inBounds, data).otherwise(col("value")))
      .coalesce(1)
      .sortWithinPartitions("coll", "array_id", "i0", "i1")
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("coll", "array_id").parquet(path)
  }
}
