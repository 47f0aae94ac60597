package graft.arrays

import graft.{Det, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The Spark encoding of the reference's array data model.
  *
  * Deker stores collections of n-dimensional typed arrays addressed by id
  * or primary attributes, with VArrays tiled over a vgrid
  * (deker_server_adapters/base.py, varray_adapter.py). The Spark-native
  * encoding is *long form*: one row per populated cell,
  * `(coll, array_id, i0, i1, value)`, derived deterministically from the
  * `events` table — one 2-D array per event_type, dims = (day-of-month,
  * user bucket). At 100 TB this table is partitioned by (coll, array_id)
  * and sorted by (i0, i1): a bounds read (base.py:225 read_data) is then
  * partition pruning + row-group skipping, never a shuffle.
  *
  * VArray view: each array doubles as a VArray (`vid` = array_id) tiled
  * into a true n-dim vgrid of TILE0-day × TILE1-bucket tiles;
  * `v_position` = (i0 / TILE0, i1 / TILE1), and the primary-attribute key
  * joins every vgrid coordinate with '-' exactly like utils/hashing.py:17
  * (`"-".join(v_position)`).
  */
object ArrayModel {
  val Coll = "weather"
  val Dim1Size = 16   // user buckets
  val Tile0 = 10      // vgrid tile extent along dim 0
  val Tile1 = 8       // vgrid tile extent along dim 1 (2 tiles across)
  val Tile2 = 6       // vgrid tile extent along dim 2 (hours: 4 tiles / 24)

  /** Long-form cell table: one row per populated cell. */
  def cells(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        col("event_type").as("array_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).cast("long").as("i0"),
        pmod(col("user_id"), lit(Dim1Size)).cast("long").as("i1"))
      .agg(Det.dsum(col("value")).as("value"))
      .withColumn("coll", lit(Coll))
      // dim indices are non-negative by contract (events before the grid
      // epoch are out of the collection's domain); this also keeps Spark's
      // truncating integer division aligned with the oracle's floor
      // division in every tile computation downstream. i1 is always >= 0
      // (pmod here, and the oracle mirrors pmod for negative user_id via
      // ((u % n) + n) % n), so the i1 predicate is a vacuous guard.
      .filter(col("i0") >= 0 && col("i1") >= 0)
      .select("coll", "array_id", "i0", "i1", "value")

  /** cells through the materialized pruned layout (sources/ArrayStore):
    * derived once per (run, sf-dir), then every array op reads the stored
    * partitioned+sorted table — array_id filters become directory prunes,
    * dim filters row-group skips. This is the at-scale read path; `cells`
    * itself remains the derivation (exercised directly by a1).
    */
  def cellsStored(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    // per-key lock, not bare getOrElseUpdate: TrieMap's default
    // getOrElseUpdate is get-then-update, so two concurrent first
    // callers would BOTH run the one-time ETL and overwrite-write the
    // same path mid-read. Collapsing duplicate first callers of the SAME
    // dir is the point; a different dir (or the bucketed cache) holds a
    // different monitor, so unrelated multi-job materializations no
    // longer serialize behind each other.
    val path = ArrayModel.lockFor(s"stored:$dir").synchronized {
      ArrayModel.storedPaths.getOrElseUpdate(dir, {
      val p = s"${System.getProperty("java.io.tmpdir")}/graft-cells-" +
        s"${ProcessHandle.current.pid}-${Integer.toHexString(dir.hashCode)}"
      graft.sources.ArrayStore.materialize(cells(s, dir), p)
      graft.TmpCleanup.register(p)
      p
    })
    }
    graft.sources.ArrayStore.open(s, path)
      .select("coll", "array_id", "i0", "i1", "value")
  }

  private val storedPaths = scala.collection.concurrent.TrieMap[String, String]()

  /** One monitor per materialization key, minted via putIfAbsent (atomic
    * on TrieMap, unlike getOrElseUpdate) so every racer resolves the same
    * Object for a given key.
    */
  private val keyLocks = scala.collection.concurrent.TrieMap[String, Object]()
  private def lockFor(key: String): Object = {
    val fresh = new Object
    keyLocks.putIfAbsent(key, fresh).getOrElse(fresh)
  }

  /** cells as a bucketed session table: partitioned by (coll, array_id)
    * like the path store, PLUS bucketed AND sorted by the full dim key
    * (i0, i1). This is the layout that makes array-vs-array map algebra
    * (a25) a co-located merge: both operands scan as
    * HashPartitioning(i0, i1), which covers every join key — Spark's
    * co-partition check (requireAllClusterKeysForCoPartition, default on
    * since 3.3) accepts nothing less — so the equi-join plans with ZERO
    * exchange on either side (PlanAuditSpec asserts it): at 100 TB
    * neither grid ever shuffles. Derived once per (catalog, sf-dir); 8
    * buckets stands in for the cluster-sized bucket count.
    */
  def cellsBucketed(s: SparkSession, dir: String): DataFrame = {
    val t = s"graft_cells_b_${Integer.toHexString(dir.hashCode)}"
    // same check-then-act race as cellsStored: collapse duplicate first
    // callers of this table under its own monitor (the catalog existence
    // check re-runs under the lock, so a second racer sees the table)
    ArrayModel.lockFor(s"bucketed:$t").synchronized {
    if (!s.catalog.tableExists(t)) {
      // external table at a per-JVM tmp path: a managed table's warehouse
      // directory outlives the in-memory catalog (a previous run's
      // leftover location fails CREATE with LOCATION_ALREADY_EXISTS)
      val loc = s"${System.getProperty("java.io.tmpdir")}/graft-cells-b-" +
        s"${ProcessHandle.current.pid}-${Integer.toHexString(dir.hashCode)}"
      graft.TmpCleanup.register(loc)
      cells(s, dir)
        .write.mode("overwrite").option("path", loc)
        .partitionBy("coll", "array_id")
        .bucketBy(8, "i0", "i1").sortBy("i0", "i1")
        .saveAsTable(t)
    }
    }
    s.table(t)
  }

  /** DuckDB CTE mirroring [[cells]]; prepend to every §2-A oracle. */
  val cellsSql: String =
    s"""cells AS (
       |  SELECT '$Coll' AS coll, event_type AS array_id,
       |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS i0,
       |    CAST(((user_id % $Dim1Size) + $Dim1Size) % $Dim1Size AS BIGINT) AS i1,
       |    ${Det.sqlDsum("value")} AS value
       |  FROM events GROUP BY 1, 2, 3, 4
       |  HAVING i0 >= 0 AND i1 >= 0
       |)""".stripMargin

  /** Second collection, derived from `documents`: one array per corpus
    * source, dims = (doc bucket of 100, doc_id mod 16), cell value =
    * summed n_chars (integer-valued, exact in double). Exists so the
    * collection-management operators (collection_adapter.py create /
    * iterate / delete) act on a client with MULTIPLE collections, like the
    * reference's.
    */
  val CorpusColl = "corpus"

  def corpusCells(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(
        col("source").as("array_id"),
        expr("doc_id div 100").as("i0"),
        pmod(col("doc_id"), lit(Dim1Size.toLong)).as("i1"))
      .agg(sum(col("n_chars")).cast("double").as("value"))
      .withColumn("coll", lit(CorpusColl))
      .select("coll", "array_id", "i0", "i1", "value")

  val corpusCellsSql: String =
    s"""corpus_cells AS (
       |  SELECT '$CorpusColl' AS coll, source AS array_id,
       |    CAST(doc_id // 100 AS BIGINT) AS i0,
       |    CAST(((doc_id % $Dim1Size) + $Dim1Size) % $Dim1Size AS BIGINT) AS i1,
       |    CAST(SUM(n_chars) AS DOUBLE) AS value
       |  FROM documents GROUP BY 1, 2, 3, 4
       |)""".stripMargin

  /** Third collection: the corpus char counts at their NATIVE dtype.
    * Deker arrays carry a dtype in the collection schema and the meta
    * round-trip preserves it (base.py:35-48 create_array_from_meta) — a
    * float64-only cell model would silently widen an int collection.
    * These cells keep `value` as int64 end-to-end; a27 exercises
    * patch/read/stats on them with exact BIGINT arithmetic on both
    * engines.
    */
  val IntColl = "corpus_i64"

  def intCells(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(
        col("source").as("array_id"),
        expr("doc_id div 100").as("i0"),
        pmod(col("doc_id"), lit(Dim1Size.toLong)).as("i1"))
      .agg(sum(col("n_chars")).as("value"))
      .withColumn("coll", lit(IntColl))
      .select("coll", "array_id", "i0", "i1", "value")

  val intCellsSql: String =
    s"""int_cells AS (
       |  SELECT '$IntColl' AS coll, source AS array_id,
       |    CAST(doc_id // 100 AS BIGINT) AS i0,
       |    CAST(((doc_id % $Dim1Size) + $Dim1Size) % $Dim1Size AS BIGINT) AS i1,
       |    CAST(SUM(n_chars) AS BIGINT) AS value
       |  FROM documents GROUP BY 1, 2, 3, 4
       |)""".stripMargin

  /** Fourth collection: float32 cells — with int64 (a27) the other common
    * gridded-weather dtype, completing the dtype story the reference's
    * meta round-trip implies (base.py:35-48 decodes buffers as
    * `array.dtype`; numpy dtype strings include f4). Values are
    * integer-valued (summed n_chars — exact in float32's 24-bit mantissa
    * at test SFs, and the BIGINT→float32 cast rounds half-to-even
    * identically on both engines), so dtype fidelity is provable
    * bit-exactly WITHOUT order-dependent float accumulation anywhere:
    * a silent widen to double (Spark's default coercion trap for
    * FloatType) hash-mismatches the oracle's REAL.
    */
  val FloatColl = "corpus_f32"

  def floatCells(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(
        col("source").as("array_id"),
        expr("doc_id div 100").as("i0"),
        pmod(col("doc_id"), lit(Dim1Size.toLong)).as("i1"))
      .agg(sum(col("n_chars")).cast("float").as("value"))
      .withColumn("coll", lit(FloatColl))
      .select("coll", "array_id", "i0", "i1", "value")

  val floatCellsSql: String =
    s"""float_cells AS (
       |  SELECT '$FloatColl' AS coll, source AS array_id,
       |    CAST(doc_id // 100 AS BIGINT) AS i0,
       |    CAST(((doc_id % $Dim1Size) + $Dim1Size) % $Dim1Size AS BIGINT) AS i1,
       |    CAST(SUM(n_chars) AS REAL) AS value
       |  FROM documents GROUP BY 1, 2, 3, 4
       |)""".stripMargin

  /** Catalog: one row per array — schema, shape, stats, custom attrs.
    * This is the Spark form of read_meta (base.py:166): metadata is a
    * (broadcastable) table derived from, or stored beside, the cells.
    */
  def catalog(s: SparkSession, dir: String): DataFrame =
    cellsStored(s, dir)
      .groupBy("coll", "array_id")
      .agg(
        (max(col("i0")) + 1).as("dim0_size"),
        lit(Dim1Size.toLong).as("dim1_size"),
        count(lit(1)).as("n_cells"),
        Det.dsum(col("value")).as("value_sum"))
      .withColumn("dtype", lit("float64"))
      .withColumn("attr_source", lit("events"))
      .withColumn("attr_unit", lit("usd"))

  val catalogSql: String =
    s"""catalog AS (
       |  SELECT coll, array_id,
       |    MAX(i0) + 1 AS dim0_size,
       |    CAST($Dim1Size AS BIGINT) AS dim1_size,
       |    COUNT(*) AS n_cells,
       |    ${Det.sqlDsum("value")} AS value_sum,
       |    'float64' AS dtype, 'events' AS attr_source, 'usd' AS attr_unit
       |  FROM cells GROUP BY coll, array_id
       |)""".stripMargin

  /** VArray tile view: (vid, v0, v1) per tile, with the reference's
    * primary-attribute hash key "vid/v0-v1" (utils/hashing.py:8-21).
    */
  def tiles(s: SparkSession, dir: String): DataFrame =
    cellsStored(s, dir)
      .select(col("array_id").as("vid"),
              (col("i0") / Tile0).cast("long").as("v0"),
              (col("i1") / Tile1).cast("long").as("v1"))
      .distinct()
      .withColumn("hash_key", concat(col("vid"), lit("/"), col("v0"), lit("-"), col("v1")))

  val tilesSql: String =
    s"""tiles AS (
       |  SELECT DISTINCT array_id AS vid, CAST(i0 // $Tile0 AS BIGINT) AS v0,
       |    CAST(i1 // $Tile1 AS BIGINT) AS v1,
       |    array_id || '/' || CAST(i0 // $Tile0 AS BIGINT) || '-' ||
       |      CAST(i1 // $Tile1 AS BIGINT) AS hash_key
       |  FROM cells
       |)""".stripMargin
}
