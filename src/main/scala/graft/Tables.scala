package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access layer.
  *
  * The reference loads header-only CSV into untyped DataFrames
  * (`/root/reference/MarchineLearningAlgorithm.txt:38-41`,
  * `/root/reference/A related code.txt:41-44`); the harness corpus is typed
  * Parquet (`TESTDATA.md`). Both paths go through `spark.read`, so Catalyst
  * gets a declarative relation it can push filters and column pruning into —
  * at 100 TB the parquet scan with `PushedFilters`/`ReadSchema` pruning is
  * the single most important optimization and it is free here.
  */
object Tables {

  /** Parquet relation for one harness table (region/nation/customer/supplier/
    * part/orders/lineitem/events/documents/embeddings).
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Options shared by the engine's CSV reads and writes so round-trips
    * are lossless: NULL is spelled `\N` (write) and only `\N` parses back
    * as NULL (read) — with the defaults an empty string and a NULL are
    * written identically and both come back NULL, silently corrupting
    * string columns through any CSV hop.
    */
  val csvOptions: Map[String, String] = Map("nullValue" -> "\\N")

  /** CSV relation, header-driven schema, mirroring the reference's load shape
    * (`/root/reference/MarchineLearningAlgorithm.txt:38-41`): all columns
    * arrive as strings unless a schema is supplied; types are imposed after
    * load by explicit `cast` (SURVEY §1).
    */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.format("csv").option("header", "true")
      .options(csvOptions).load(path)

  /** Write `df` as 8 buckets on `cols` (sorted by the same) at `path`,
    * through a throwaway external catalog table — bucketing is only
    * reachable via `saveAsTable`, and dropping an external table keeps
    * its files. The files stay plain parquet, so a later session registers
    * them metadata-only (`CREATE TABLE … CLUSTERED BY … LOCATION`) or reads
    * them schema-only. The stage table is named `graft_stage_<name>_<appId>`:
    * two sessions racing on a first build each stage under their own name,
    * and `name` must be distinct among concurrent writes of one session.
    */
  def writeBucketed(df: DataFrame, path: String, name: String,
      cols: String*): Unit = {
    val spark = df.sparkSession
    val app = spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9_]", "_")
    val stage = s"graft_stage_${name}_$app"
    spark.sql(s"DROP TABLE IF EXISTS $stage")
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(8, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
      .saveAsTable(stage)
    spark.sql(s"DROP TABLE $stage")
  }

  /** `events` with its timestamp normalized to a plain µs-precision
    * `TimestampType` `ts`, whatever physical shape the harness parquet
    * carries this round. One chokepoint for every consumer — the harness
    * has already shipped three representations across rounds, and each
    * drift that escaped this function broke seven query keys at once.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(table(spark, sfDir, "events"))

  /** Normalizes column `ts` to `TimestampType` (µs precision, UTC instant).
    * Handled representations, in the order the harness has shipped them:
    *
    *  - `LongType` — parquet TIMESTAMP(NANOS) read under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` as raw int64 ns;
    *    `timestamp_micros(ts div 1000)` floors ns→µs exactly like DuckDB's
    *    `CAST(ts AS TIMESTAMP)` does for positive epochs.
    *  - `TimestampNTZType` — parquet `timestamp[us]` without timezone
    *    (the current corpus, round 7+). The session timezone is pinned UTC
    *    everywhere (Bench/Verify/specs), so casting NTZ→TIMESTAMP relabels
    *    the same wall-clock instant without shifting it — bit-identical to
    *    DuckDB, whose TIMESTAMP is timezone-naive µs.
    *  - `TimestampType` — already normalized; pass through.
    *
    * Anything else fails loud HERE with the observed type, not at seven
    * query sites with an analysis-time `DATATYPE_MISMATCH`.
    */
  def normalizeTs(raw: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    raw.schema(colName).dataType match {
      case LongType =>
        raw.withColumn(colName, expr(s"timestamp_micros($colName div 1000)"))
      case TimestampNTZType =>
        raw.withColumn(colName, col(colName).cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"unsupported events.$colName representation $other — " +
          "extend Tables.normalizeTs (int64-ns / TIMESTAMP_NTZ / TIMESTAMP " +
          "are the known harness shapes)")
    }
  }
}
