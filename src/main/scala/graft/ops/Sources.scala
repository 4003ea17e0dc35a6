package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** §2a sources / sinks.
  *
  * The reference's entire I/O surface is header-CSV in
  * (`/root/reference/MarchineLearningAlgorithm.txt:38-41`,
  * `/root/reference/RandomeForestAnalysisOnUSElectionPrediction.txt:44-52`)
  * and header-CSV out (`/root/reference/MarchineLearningAlgorithm.txt:283-293`,
  * `/root/reference/A related code.txt:202-212`), over HDFS URIs. Here both
  * directions go through `spark.read`/`df.write` so they work against any
  * Hadoop filesystem and scale by partitioned part-files — the CSV sink
  * writes one part per partition, no driver collection.
  */
object Sources {

  /** Per-session sink path under tmp ([[graft.LocalFs.sessionDir]]):
    * unique per appId (concurrent runs stay isolated), deleted on JVM
    * exit, with aged crashed-session siblings swept on allocation —
    * repeated sessions leave at most the live session's directory behind.
    */
  private def sessionSinkPath(spark: SparkSession, prefix: String): String =
    graft.LocalFs.sessionDir(prefix, spark.sparkContext.applicationId).getPath

  /** Plain parquet scan. Catalyst prunes `ReadSchema` to the projected
    * columns — on a wide 100 TB table this is the difference between reading
    * two columns and reading all of them.
    */
  def scanParquet(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "region")
      .select(col("r_regionkey"), col("r_name"))
      .orderBy(col("r_regionkey"))

  /** CSV round-trip: write with header (reference sink shape,
    * `/root/reference/MarchineLearningAlgorithm.txt:283-293`), re-read with
    * header, re-impose types by cast (the reference's post-hoc typing
    * discipline, SURVEY §1). Verified by the oracle comparing the round-trip
    * to the original table.
    */
  def sinkCsvRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    // per-session path: two concurrent runs (e.g. a Bench overlapping a
    // Verify) must not overwrite each other's sink mid-read
    val out = sessionSinkPath(spark, graft.LocalFs.Names.SinkCsv)
    Tables.table(spark, sfDir, "nation")
      .write.mode("overwrite").format("csv").option("header", "true").options(Tables.csvOptions).save(out)
    Tables.csv(spark, out)
      .select(
        col("n_nationkey").cast(IntegerType).as("n_nationkey"),
        col("n_name"),
        col("n_regionkey").cast(IntegerType).as("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  /** CSV as the PRIMARY source — the reference's load shape: header CSV
    * arrives all-string (no schema inference), then the projection re-imposes
    * types by cast and `na.drop` cleans, before any relational work
    * (`/root/reference/MarchineLearningAlgorithm.txt:38-41` + SURVEY §1).
    * The harness corpus ships as parquet, so the CSV is materialized once
    * per session from `customer` and then treated as the entry relation;
    * the post-cast predicate shows filters still push into the CSV scan.
    */
  def scanCsvTyped(spark: SparkSession, sfDir: String): DataFrame = {
    // the CSV stand-in for the reference's source file is materialized once
    // per corpus (a LocalFs.landOnce landing) — the key's point is the
    // all-string SCAN + post-hoc cast, not the write. The tag includes a
    // source-content fingerprint (LocalFs.cachePath): regenerating the
    // corpus at the same path changes the tag, so a stale CSV can never be
    // served.
    val out = graft.LocalFs.landOnce(spark.sparkContext.applicationId,
      graft.LocalFs.Names.ScanCsvCache, sfDir,
      new java.io.File(s"$sfDir/customer.parquet")) { tmp =>
      Tables.table(spark, sfDir, "customer")
        .write.mode("overwrite").format("csv").option("header", "true")
        .options(Tables.csvOptions).save(tmp.getPath)
    }
    Tables.csv(spark, out) // all-string schema, the reference's entry shape
      .select(
        col("c_custkey").cast(IntegerType).as("c_custkey"),
        col("c_name"),
        col("c_nationkey").cast(IntegerType).as("c_nationkey"),
        col("c_acctbal").cast(DoubleType).as("c_acctbal"),
        col("c_mktsegment"))
      .na.drop()
      .filter(col("c_acctbal") > 0.0)
      .orderBy(col("c_custkey"))
  }

  /** JSONL round-trip — the crawl-pipeline interchange format (WARC
    * extractors, CommonCrawl derivatives and most open-data text corpora
    * ship as JSON lines): documents written as one JSON object per line
    * (`df.write.json` — one part file per partition, no driver
    * collection), re-read with an EXPLICIT schema. The explicit schema is
    * the 100 TB discipline: schema inference is a full extra pass over
    * the data and can silently widen types between backfills; a declared
    * `StructType` makes the read single-pass and the contract stable.
    * Verified by the oracle comparing the round-trip to the original
    * table — JSON string escaping (newlines, quotes, unicode) must
    * round-trip the text column bit-exactly.
    */
  def sinkJsonlRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = sessionSinkPath(spark, graft.LocalFs.Names.SinkJsonl)
    Tables.table(spark, sfDir, "documents")
      .write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.read.schema(schema).json(out)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** TRAINING-MIX SAMPLING — the source-mixture step every LLM data
    * pipeline runs before packing: each source is up-/down-weighted to a
    * target epoch count (GPT-3/Dolma-style mixture weights). Per row the
    * emitted copy count is `floor(w) + (hash < frac(w) ? 1 : 0)` with a
    * DETERMINISTIC per-(row, salt) hash — the `split_hash` discipline, so
    * the sample is reproducible across engines, re-runs and backfills,
    * needs no stored assignment table, and per-source expected volume is
    * exactly `w · n_source`. Rows with weight 0 (and hash-rejected
    * fractional rows) are dropped in the scan stage; replicated rows are
    * emitted by an in-row bounded `explode(sequence(...))` with a
    * `copy_idx` so downstream shuffles (packing, shard assignment) can
    * decorrelate epochs. Zero shuffle, zero state — the whole mixture is
    * a projection.
    *
    * The demo key's weights exercise all regimes: src0 ×2.5 (integer +
    * fractional epochs), src1 ×1.0 (pass-through), src2 ×0.25
    * (downsample), everything else ×0.5.
    */
  def mixSample(spark: SparkSession, sfDir: String): DataFrame =
    mixSample(Tables.table(spark, sfDir, "documents"), col("doc_id"),
      col("source"),
      Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25),
      defaultWeight = 0.5, salt = "mix_v1")
      .select(col("doc_id"), col("source"), col("copy_idx"))
      .orderBy(col("doc_id"), col("copy_idx"))

  /** API form: mixture-sample any frame. `key` must be row-unique (it
    * seeds the per-row hash); `weights` maps source values to target
    * epoch counts, `defaultWeight` covers unlisted sources. Unordered.
    */
  def mixSample(df: DataFrame, key: org.apache.spark.sql.Column,
      source: org.apache.spark.sql.Column, weights: Map[String, Double],
      defaultWeight: Double, salt: String): DataFrame = {
    require((weights.values.toSeq :+ defaultWeight).forall(_ >= 0),
      "mixture weights must be >= 0")
    // only the documented OUTPUT column `copy_idx` is a genuine conflict —
    // fail fast rather than silently overwrite it (the zorderWrite
    // collision discipline); working columns use the reserved prefix
    require(!df.columns.contains("copy_idx"),
      "mixSample emits its replica index as column `copy_idx`; rename or " +
        "drop the input's existing `copy_idx` column first")
    val Seq(wc, nc) = Seq("w", "n").map("__graft_mix_" + _)
    // weight lookup as a literal CASE chain — tiny, codegen'd, no join
    val w = weights.foldLeft(lit(defaultWeight)) { case (acc, (s, wt)) =>
      when(source === s, lit(wt)).otherwise(acc)
    }
    // 60-bit md5-derived hash scaled to [0, 1) — same conv discipline as
    // split_hash/sketch_kmv (15 hex chars avoid signed-64 overflow); the
    // salt decorrelates this draw from any other hash of the same key
    val u = conv(substring(md5(concat(key.cast(StringType), lit(":"),
      lit(salt))), 1, 15), 16, 10).cast(DoubleType) / lit(1.152921504606846976e18)
    df.withColumn(wc, w)
      .withColumn(nc,
        (floor(col(wc)) + when(u < col(wc) - floor(col(wc)), 1L)
          .otherwise(0L)).cast(LongType))
      .filter(col(nc) > 0)
      .withColumn("copy_idx", explode(sequence(lit(0L), col(nc) - 1)))
      .drop(wc, nc)
  }

  /** FRAME-WEIGHTS form of [[mixSample]] — the shape a real mixture config
    * takes when the source dimension is large (thousands of domains): a
    * literal CASE chain over 10k sources would blow past codegen limits
    * and bake the config into the plan, so the weights arrive as a
    * `(source, weight)` frame (a config table) and attach via a BROADCAST
    * left join — still no shuffle of the corpus, and the mixture config
    * becomes data a pipeline can version and join-audit. Unlisted sources
    * fall back to `defaultWeight`; non-positive weights drop their rows
    * (the copy count never goes below zero); the per-row draw and copy
    * arithmetic match the Map form row-for-row (suite-pinned — only the
    * join's column ordering differs).
    */
  def mixSample(df: DataFrame, key: org.apache.spark.sql.Column,
      sourceCol: String, weightsDf: DataFrame,
      defaultWeight: Double, salt: String): DataFrame = {
    require(!df.columns.contains("copy_idx"),
      "mixSample emits its replica index as column `copy_idx`; rename or " +
        "drop the input's existing `copy_idx` column first")
    val Seq(wc, nc) = Seq("w", "n").map("__graft_mix_" + _)
    val w = weightsDf.select(col(sourceCol),
      col("weight").cast(DoubleType).as(wc))
    // A duplicated config row would multiply every row of its source
    // through the join BEFORE the copy explode — duplicate (key, copy_idx)
    // pairs, silently breaking the dense-copy_idx contract the packing
    // composition's instance ids depend on. The Map form can't hit this;
    // the config-table form can, so fail fast (the copy_idx-collision
    // discipline). The config frame is broadcast-sized by contract, so ONE
    // driver-side collect of the key column checks it — the frame's
    // lineage (which may be a non-trivial or side-effecting query) is
    // evaluated once here, not twice as two separate count actions.
    val srcKeys = w.select(col(sourceCol)).collect().map(_.get(0))
    require(srcKeys.length == srcKeys.distinct.length,
      s"mixSample weights frame has duplicate `$sourceCol` rows; " +
        "deduplicate the mixture config first (each source must map to " +
        "exactly one weight)")
    val u = conv(substring(md5(concat(key.cast(StringType), lit(":"),
      lit(salt))), 1, 15), 16, 10).cast(DoubleType) / lit(1.152921504606846976e18)
    df.join(broadcast(w), Seq(sourceCol), "left")
      .withColumn(wc, coalesce(col(wc), lit(defaultWeight)))
      .withColumn(nc,
        (floor(col(wc)) + when(u < col(wc) - floor(col(wc)), 1L)
          .otherwise(0L)).cast(LongType))
      .filter(col(nc) > 0)
      .withColumn("copy_idx", explode(sequence(lit(0L), col(nc) - 1)))
      .drop(wc, nc)
  }

  /** Partitioned parquet sink + partition-pruned re-read: documents written
    * `partitionBy(lang)`, then read back filtered to one language. At 100 TB
    * the filter never touches the other partitions' files (explain shows
    * `PartitionFilters`, not a data filter) — the layout decision that turns
    * a full scan into a directory listing.
    */
  def sinkParquetPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    val out = sessionSinkPath(spark, graft.LocalFs.Names.SinkParquet)
    Tables.table(spark, sfDir, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    spark.read.parquet(out)
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Bucketed co-located join: lineitem and orders written `bucketBy(8, key)`
    * + `sortBy(key)` as external tables, then joined and aggregated on that
    * key. Both sides pre-hashed into matching buckets → the sort-merge join
    * AND the following groupBy need no Exchange at all (verified in the
    * plan) — the write-once layout that removes the per-query shuffle for
    * repeated joins on the same key, the biggest lever for 100 TB fact-to-
    * fact joins.
    */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // Write-once layout, keyed by corpus + layout version + source content
    // fingerprint (NOT per session): at 100 TB the whole point of bucketing
    // is paying the clustered write once and reusing it for every
    // subsequent join on that key. Both tables land under one
    // LocalFs.landOnce marker; a later JVM re-registers the existing
    // bucketed files with a metadata-only CREATE TABLE ... CLUSTERED BY and
    // skips the rewrite; a regenerated corpus changes the fingerprint and
    // provably rebuilds.
    val tables = Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")
    val base = graft.LocalFs.landOnce(spark.sparkContext.applicationId,
      graft.LocalFs.Names.BucketedCache, sfDir,
      new java.io.File(s"$sfDir/lineitem.parquet"),
      new java.io.File(s"$sfDir/orders.parquet")) { tmp =>
      tables.foreach { case (name, key) =>
        Tables.writeBucketed(Tables.table(spark, sfDir, name),
          s"$tmp/$name", s"bucketed_$name", key)
      }
    }
    // metadata-only registration of the (complete) bucketed files
    tables.foreach { case (name, key) =>
      val tbl = s"graft_bucketed_$name"
      val schemaDdl = Tables.table(spark, sfDir, name).schema.toDDL
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(
        s"""CREATE TABLE $tbl ($schemaDdl) USING parquet
           |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
           |LOCATION '$base/$name'""".stripMargin)
    }
    val li = spark.table("graft_bucketed_lineitem")
    val o = spark.table("graft_bucketed_orders")
    // MERGE hint: at harness scale Catalyst would broadcast the small
    // orders side, which hides the point — at 100 TB neither fact side is
    // broadcastable, and the bucket-aligned sort-merge join is the plan
    // that runs with zero Exchange and zero Sort (buckets are sortBy'd).
    o.hint("merge").join(li, o("o_orderkey") === li("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  /** Grid resolution per dimension for the z-order keys: 8 bits → a
    * 256×256 grid, 16-bit z-values, 256 graded z-runs. Part of the
    * `zorder_layout` ORACLE contract (the twin hard-codes the same
    * constants), so changing it requires changing both sides together.
    */
  private[graft] val ZBits = 8

  /** Morton (Z-order) interleave of two grid coordinates: bit i of `x`
    * lands at bit 2i, bit i of `y` at bit 2i+1 (Morton 1966). Pure in-row
    * long arithmetic — codegen'd, zero shuffle. Inputs must already be
    * normalized to [0, 2^bits); [[zorderGrid]] does that.
    */
  private[graft] def zvalue(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Min-max normalize a key to the [0, 2^bits) grid by INTEGER
    * arithmetic: `((k − min) << bits) div (max − min + 1)`. Integer `div`,
    * not floor of a double ratio — double division loses exactness past
    * 2^53 and a 100 TB fact key times 2^bits can exceed it. Contract:
    * keys fit in 64−bits bits (any practical surrogate key).
    */
  private[graft] def zorderGrid(k: String, kmin: String, kmax: String,
      bits: Int): org.apache.spark.sql.Column =
    expr(s"((CAST($k AS BIGINT) - $kmin) * ${1L << bits})" +
      s" div (CAST($kmax AS BIGINT) - $kmin + 1)")

  /** `zorder_layout` checked key: the multi-dimensional clustering layout
    * (Z-order / Morton curve — the data-skipping layout lakehouse table
    * formats expose as OPTIMIZE ... ZORDER BY) over
    * lineitem (l_partkey, l_suppkey), surfaced as its per-z-run locality
    * stats: each of the 256 z-runs (top 8 z-bits) reports its row count
    * and its min/max grid cell in BOTH dims. The point the stats prove:
    * consecutive z-runs cover small boxes in (partkey, suppkey) space —
    * each run spans ≤ 1/16 of each dim's grid — so file-level min/max
    * stats on a z-sorted layout prune MULTI-dimensional box predicates,
    * which a single-column sort can only do for its leading column.
    * [[zorderWrite]] is the layout op itself; this key is its
    * SQL-expressible certificate (SourcesSpec pins the physical write).
    *
    * Scale shape: one stats agg (4 scalars, broadcast back — the
    * minmax_scale pattern), then one in-row z computation + a partial agg
    * on the 256 run ids. No sort in the graded plan — ordering 256 rows
    * is the caller's display concern, the layout cost lives in
    * [[zorderWrite]] where it belongs.
    */
  def zorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.table(spark, sfDir, "lineitem")
      .select(col("l_partkey").as("x"), col("l_suppkey").as("y"))
    val stats = li.agg(min(col("x")).as("xmin"), max(col("x")).as("xmax"),
      min(col("y")).as("ymin"), max(col("y")).as("ymax"))
    val gridded = li.crossJoin(broadcast(stats))
      .select(zorderGrid("x", "xmin", "xmax", ZBits).as("xb"),
        zorderGrid("y", "ymin", "ymax", ZBits).as("yb"))
    gridded
      .select(shiftright(zvalue(col("xb"), col("yb"), ZBits), ZBits)
          .as("z_run"),
        col("xb"), col("yb"))
      .groupBy(col("z_run"))
      .agg(count(lit(1)).as("n"),
        min(col("xb")).as("x_lo"), max(col("xb")).as("x_hi"),
        min(col("yb")).as("y_lo"), max(col("yb")).as("y_hi"))
      .orderBy(col("z_run"))
  }

  /** The layout op itself: write `df` clustered on the z-order of two key
    * columns — range-partitioned into `nFiles` z-ranges, z-sorted within
    * each — so every output file covers one compact z-interval (≈ a box
    * in key space) and its parquet min/max column stats prune 2-D box
    * predicates. The write-once economics are [[bucketedJoin]]'s: pay the
    * clustered write once, skip data on every subsequent scan.
    * Returns the re-read frame; SourcesSpec asserts the per-file
    * z-intervals are disjoint and dim spans stay narrow.
    */
  def zorderWrite(df: DataFrame, x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column, nFiles: Int, out: String): DataFrame = {
    val spark = df.sparkSession
    // working columns use a reserved prefix so a caller frame that already
    // has e.g. an `xmin` or `zx` column is never silently overwritten
    // (ADVICE r10); only the documented OUTPUT column `z` is a genuine
    // conflict, and that one fails fast rather than corrupting the layout
    require(!df.columns.contains("z"),
      "zorderWrite writes its sort key as column `z`; rename or drop the " +
        "input's existing `z` column first")
    val Seq(zx, zy, xmn, xmx, ymn, ymx) =
      Seq("zx", "zy", "xmin", "xmax", "ymin", "ymax").map("__graft_" + _)
    val keyed = df.withColumn(zx, x).withColumn(zy, y)
    val stats = keyed.agg(min(col(zx)).as(xmn), max(col(zx)).as(xmx),
      min(col(zy)).as(ymn), max(col(zy)).as(ymx))
    keyed.crossJoin(broadcast(stats))
      .withColumn("z", zvalue(
        zorderGrid(zx, xmn, xmx, ZBits),
        zorderGrid(zy, ymn, ymx, ZBits), ZBits))
      .drop(xmn, xmx, ymn, ymx, zx, zy)
      .repartitionByRange(nFiles, col("z"))
      .sortWithinPartitions(col("z"))
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
  }

  val oracleSql: Map[String, String] = Map(
    // round-trip identity: the JSONL write+read must reproduce the table
    "sink_jsonl" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // identical md5-hash mixture arithmetic: same 60-bit uniform draw,
    // same CASE weight chain, same floor+fractional copy count, same
    // range-explode — the sample is engine-reproducible by construction
    "mix_sample" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
        |                WHEN 'src2' THEN 0.25 ELSE 0.5 END AS w,
        |    CAST(CAST(concat('0x', substring(md5(
        |        CAST(doc_id AS VARCHAR) || ':mix_v1'), 1, 15)) AS BIGINT)
        |      AS DOUBLE) / 1152921504606846976 AS u
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |    CAST(FLOOR(w) + CASE WHEN u < w - FLOOR(w) THEN 1 ELSE 0 END
        |      AS BIGINT) AS n
        |  FROM w)
        |SELECT doc_id, source, CAST(j AS BIGINT) AS copy_idx
        |FROM c, unnest(range(0, n)) AS t(j)
        |WHERE n > 0
        |ORDER BY doc_id, copy_idx""".stripMargin,
    // identical grid + interleave arithmetic, generated for the same ZBits
    "zorder_layout" -> {
      val bits = ZBits
      val terms = (0 until bits).flatMap(i => Seq(
        s"(((xb >> $i) & 1) << ${2 * i})",
        s"(((yb >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH st AS (
         |  SELECT min(l_partkey) AS xmin, max(l_partkey) AS xmax,
         |         min(l_suppkey) AS ymin, max(l_suppkey) AS ymax
         |  FROM lineitem),
         |g AS (
         |  SELECT ((l_partkey - xmin) * ${1L << bits})
         |           // (xmax - xmin + 1) AS xb,
         |         ((l_suppkey - ymin) * ${1L << bits})
         |           // (ymax - ymin + 1) AS yb
         |  FROM lineitem, st)
         |SELECT ($terms) >> $bits AS z_run, count(*) AS n,
         |       min(xb) AS x_lo, max(xb) AS x_hi,
         |       min(yb) AS y_lo, max(yb) AS y_hi
         |FROM g GROUP BY z_run ORDER BY z_run""".stripMargin
    },
    "sink_parquet_partitioned" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin,
    "bucketed_join" ->
      """SELECT o_orderkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "scan_parquet" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "sink_csv" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    // doubles round-trip CSV exactly (shortest-repr write, exact parse), so
    // the oracle can compare against the original parquet values
    "scan_csv_typed" ->
      """SELECT CAST(c_custkey AS INTEGER) AS c_custkey, c_name,
        |  CAST(c_nationkey AS INTEGER) AS c_nationkey,
        |  c_acctbal, c_mktsegment
        |FROM customer
        |WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
        |  AND c_nationkey IS NOT NULL AND c_acctbal IS NOT NULL
        |  AND c_mktsegment IS NOT NULL AND c_acctbal > 0.0
        |ORDER BY c_custkey""".stripMargin
  )
}
