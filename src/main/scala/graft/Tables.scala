package graft

import org.apache.hadoop.fs.{LocatedFileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * Each table is read with a schema resolved on the driver from ONE
  * parquet footer ([[footerSchema]]), so building a DataFrame launches no
  * Spark job; `spark.read.parquet` without a schema would run a footer/
  * schema-merge job per load. Column pruning and filter pushdown then
  * happen at the scan via Catalyst, which is the scale-path we care about
  * (verified with `.explain`: `PushedFilters`, `ReadSchema`).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The Spark schema of the parquet data at `path` (a file or a
    * directory), read from the footer of its first data file in name
    * order — Spark's own non-merging inference also takes one file's
    * footer as the schema — and converted by Spark's footer converter
    * under the session's parquet flags. Runs on the driver: no Spark job.
    * None when `path` holds no data file, so the caller's plain read
    * raises Spark's own error for a missing or empty table.
    */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) None
    else {
      val files = fs.listFiles(root, true)
      var first: Option[LocatedFileStatus] = None
      while (files.hasNext) {
        val f = files.next()
        val name = f.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".") &&
            first.forall(_.getPath.toString > f.getPath.toString)) first = Some(f)
      }
      first.map { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
    }
  }

  /** events.ts has shipped in three parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) (Spark 4 reads those as a nanos long
    * under the `nanosAsLong` flag), TIMESTAMP(MICROS, adjustedToUTC=true)
    * (read natively as TimestampType), and TIMESTAMP(MICROS,
    * adjustedToUTC=false) (read as TimestampNTZType since
    * `inferTimestampNTZ` defaults true). Normalize all three to Spark's
    * microsecond TimestampType. The session timezone is pinned to UTC in
    * GraftSession, so the NTZ->TZ cast is a wall-clock identity and the
    * DuckDB oracle semantics are unchanged. The nanos branch truncates
    * toward zero (`div`), which is also what DuckDB's parquet ns->us
    * conversion does for BOTH pre- and post-epoch values (verified
    * empirically against DuckDB 1.x: -1500ns reads back as -1us, -999ns
    * as 0 — truncation, not floor), so the parity holds everywhere, not
    * just on post-epoch data; TablesSpec pins the pre-epoch cases.
    */
  def normalizeTs(df: DataFrame): DataFrame = normalizeTs(df, "ts")

  /** Encoding-agnostic temporal loader: accept any of the three observed
    * encodings for `colName` and emit canonical TimestampType.
    */
  def normalizeTs(df: DataFrame, colName: String): DataFrame =
    df.schema(colName).dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Raw int64 is interpreted as epoch-NANOS (how nanosAsLong
        // surfaces TIMESTAMP(NANOS)). Sanity-gate the magnitude per row:
        // an epoch-days (~2e4) or epoch-seconds (~2e9) int64 that lost
        // its logical type would otherwise silently normalize to ~1970
        // and surface later as a confusing oracle hash mismatch; any
        // plausible nanos instant is >= 100 s (1e11 ns) from the epoch
        // in magnitude (0 itself — the exact epoch — is allowed).
        import org.apache.spark.sql.functions._
        val nanos = col(colName)
        df.withColumn(colName, timestamp_micros(
          when(nanos.isNull, lit(null).cast("long"))
            .when(nanos =!= 0L && abs(nanos) < 100000000000L,
              raise_error(concat(
                lit(s"$colName: int64 magnitude implausible for epoch-nanos" +
                  " (epoch-days or epoch-seconds that lost their parquet" +
                  " logical type?): "), nanos.cast("string"))))
            .otherwise(expr(s"$colName div 1000"))))
      case _: org.apache.spark.sql.types.TimestampType => df
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(colName, org.apache.spark.sql.functions.col(colName)
          .cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.DateType =>
        // date32 drift (midnight-UTC semantics match DuckDB's DATE ->
        // TIMESTAMP promotion under the UTC-pinned session)
        df.withColumn(colName, org.apache.spark.sql.functions.col(colName)
          .cast(org.apache.spark.sql.types.TimestampType))
      case other => throw new IllegalStateException(
        s"$colName: expected nanos LongType, TimestampType, TimestampNTZType or DateType, got $other")
    }

  /** events keeps Spark's inferring read: its schema depends on the
    * session-wide `nanosAsLong` flag set here.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(s.read.parquet(s"$d/events.parquet"))
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "lineitem"), "l_shipdate")
  /** The text corpus: doc_id, text, lang, source, n_chars. `doc_id` is
    * the row key — one row per document — which the row-local quality
    * verdict of t8 and st10 assumes: it judges each ROW, while the oracle
    * joins per-doc_id aggregates, so a repeated doc_id would split the
    * two apart.
    */
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")

  /** The whole s-family's oracle parity rests on float-exact arithmetic
    * over `array<float>` embeddings (DuckDB replays the same float casts).
    * A generator drift to `array<double>` would not throw anywhere — every
    * op would run and hash-mismatch silently. Fail loudly instead, same
    * doctrine as normalizeTs's unknown-encoding branch (Verify turns the
    * throw into an auditable _ERROR sidecar).
    */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "embeddings")
    df.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => df
      case other => throw new IllegalStateException(
        s"embeddings.embedding: expected array<float> (float-exact oracle " +
          s"contract), got $other")
    }
  }
}
