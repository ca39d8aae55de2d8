package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sink surfaces (SURVEY.md §2.1 K1–K5).
  *
  * The reference's sinks are MySQL statements (multi-row INSERT,
  * dup-key upsert, delete-then-insert) plus an append-only log file.
  * Engine equivalents: appending/overwriting parquet (or any
  * DataFrameWriter format), the atomic merge publish in [[Merge]], and
  * a driver-side run log. Identifier quoting (the reference escapes
  * `long`, `group`, … by hand, `services/etlService.js:135-138`) is
  * handled by Spark's parser/writers natively — covered by a
  * reserved-word column test.
  */
object Sinks {

  /** K1 — bulk append. The reference builds multi-row VALUES inserts;
    * the engine's equivalent is a partitioned columnar append (row
    * groups are the "batches").
    */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** K1 in ORC — the same bulk-append contract on Spark's native ORC
    * datasource. Format is a LAYOUT choice, not a semantic one: the
    * round-trip preserves schema and values exactly, and predicate
    * pushdown / column pruning work identically (ORC carries its own
    * min/max stride indexes) — a deployment already standardized on
    * ORC (Hive-lineage warehouses) plugs in without a conversion hop.
    */
  def appendOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).orc(path)

  /** K1 in JSONL (one JSON object per line) — the lingua franca of
    * LLM training-data interchange (every public corpus release and
    * tokenizer pipeline reads it). Spark's json datasource IS
    * line-delimited by default; compression keeps the text-heavy
    * rows reasonable on disk. Lossy-by-design relative to parquet:
    * JSON has no int-vs-long or timestamp types — [[readJsonl]]
    * documents the schema-pinned round-trip contract.
    */
  def appendJsonl(df: DataFrame, path: String,
      codec: String = "gzip"): Unit =
    df.write.mode(SaveMode.Append).option("compression", codec).json(path)

  /** Read a JSONL corpus with a PINNED schema (never inferred:
    * inference costs an extra full pass at 100 TB and silently widens
    * int→long or parses timestamp-looking strings; a pinned schema
    * makes the [[appendJsonl]] round-trip exact for the JSON-safe
    * types — long/double/string/bool/arrays/structs).
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** K4 — ensure-schema (`CREATE TABLE IF NOT EXISTS`,
    * `services/etlService.js:203-242`): create an empty parquet target
    * with the declared catalog schema if absent. Secondary indexes have
    * no Spark equivalent — key layout is the bucketing choice in
    * [[Merge.bucketedMerge]] (SURVEY.md §4).
    */
  def ensureTable(spark: SparkSession, path: String, schema: StructType): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode(SaveMode.ErrorIfExists).parquet(path)
    }
  }

  /** K4 for a catalog table by name — all 12 reference tables have
    * full declared schemas in [[graft.schema.Schemas]].
    */
  def ensureCatalogTable(spark: SparkSession, dir: String, table: String): Unit = {
    val schema = graft.schema.Schemas.byName.getOrElse(table,
      throw new IllegalArgumentException(s"no declared schema for $table"))
    ensureTable(spark, s"$dir/$table.parquet", schema)
  }

  /** Layout: partition the files by a column so selective scans prune
    * whole directories (the engine's stand-in for the reference's
    * secondary indexes on filter keys, SURVEY.md §4) — a `lang = 'en'`
    * scan over a lang-partitioned corpus never opens other languages'
    * files.
    */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  /** Layout: persist as a hash-bucketed, bucket-sorted managed table.
    * Two tables bucketed on the same key with the same count join
    * WITHOUT a shuffle — the pre-partitioning a 100 TB deployment uses
    * for repeated fact⋈fact joins (the one-off broadcast semi joins of
    * the ETL path don't need it). Managed-table only: bucketing
    * metadata lives in the catalog.
    */
  def writeBucketed(
      df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)

  /** Layout: Z-ORDER the files on N columns so range/point filters
    * on ANY of them skip most files (parquet min/max footer pruning —
    * the multi-dimensional counterpart of [[writeBucketed]]'s same-key
    * join locality and [[writePartitioned]]'s directory pruning). Each
    * column is linearly normalized to `bits` bits via its global
    * min/max (2·N scalars — a bounded driver read), the shared Morton
    * interleave [[Layout.interleaveBitsN]] gives the curve position
    * (ONE Morton implementation serves both the stats query and this
    * rewrite), and `repartitionByRange` over it makes every output
    * file a compact z-range — so per-file min/max envelopes stay
    * narrow on EVERY z-ordered dimension at once, which a
    * single-column sort can only give the leading dimension.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      numFiles: Int, bits: Int): Unit = {
    require(zCols.nonEmpty && zCols.length * bits <= 63,
      s"need 1..63/bits z-columns, got ${zCols.length} x $bits bits")
    writeCurveOrdered(df, path, zCols, numFiles,
      normed => Layout.interleaveBitsN(normed, bits), bits)
  }

  /** Shared curve-write scaffolding for [[writeZOrdered]] /
    * [[writeHilbertOrdered]]: global min/max per key (2·N scalars — a
    * bounded driver read), normalize each key to `bits` bits, map the
    * normalized tuple through `curve`, `repartitionByRange` on the
    * curve position + in-file sort. One quantizer serves both curves,
    * so a scaling fix cannot silently diverge the sinks.
    */
  private def writeCurveOrdered(df: DataFrame, path: String,
      keys: Seq[String], numFiles: Int,
      curve: Seq[Column] => Column, bits: Int): Unit = {
    val mm = df.agg(
      min(col(keys.head)).cast("long"),
      (max(col(keys.head)).cast("long") +: keys.tail.flatMap(c =>
        Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))): _*).head()
    val top = (1L << bits) - 1
    // double-domain scaling: (v−lo)·top can overflow 64-bit for wide
    // value ranges (ANSI would throw); the result stays ≤ top exactly
    def norm(c: String, lo: Long, hi: Long): Column =
      if (hi == lo) lit(0L)
      else floor((col(c).cast("long") - lit(lo)).cast("double")
        * lit(top.toDouble) / lit((hi - lo).toDouble)).cast("long")
    val normed = keys.zipWithIndex.map { case (c, j) =>
      norm(c, mm.getLong(2 * j), mm.getLong(2 * j + 1))
    }
    df.withColumn("__curve", curve(normed))
      .repartitionByRange(numFiles, col("__curve"))
      .sortWithinPartitions("__curve")
      .drop("__curve")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Two-column form (source-compatible API). */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int, bits: Int = 12): Unit =
    writeZOrdered(df, path, Seq(colA, colB), numFiles, bits)

  /** Layout: HILBERT-order the files on two columns — the same
    * rewrite shape as [[writeZOrdered]] (global min/max normalize →
    * curve position → `repartitionByRange` + in-file sort) with the
    * Morton interleave swapped for the shared Hilbert kernel
    * ([[graft.plans.Hilbert2Expr]], the same implementation behind
    * the `layout_hilbert` stats query). Consecutive Hilbert cells are
    * always grid-adjacent, so file envelopes avoid Morton's
    * quadrant-boundary jumps — measurably narrower zones when file
    * boundaries don't align to power-of-4 curve blocks (LayoutSpec
    * pins the comparison; the sink spec checks both dims skip).
    */
  def writeHilbertOrdered(df: DataFrame, path: String, colA: String,
      colB: String, numFiles: Int, bits: Int = 12): Unit = {
    require(bits >= 1 && 2 * bits <= 63, s"bits must be in [1,31], got $bits")
    writeCurveOrdered(df, path, Seq(colA, colB), numFiles,
      normed => graft.plans.GraftFunctions.hilbert2(df.sparkSession,
        normed(0), normed(1), bits), bits)
  }

  /** Operational: small-file compaction. Incremental appends (K1
    * ticks) accumulate row-group-sized files; a table read through
    * thousands of tiny files loses columnar scan efficiency and floods
    * the driver with listing/footer work. Rewrites the directory into
    * `ceil(rows / targetRowsPerFile)` evenly-sized files and publishes
    * atomically (staged write + swap, [[Merge.atomicOverwrite]] — the
    * same transaction discipline as the merge path). Returns the new
    * file count.
    *
    * Whole-directory form; a 100 TB deployment runs it per partition
    * directory (e.g. each `lang=…` of [[writePartitioned]] output)
    * after each ingest wave, so the rewrite is O(new partition), never
    * O(table).
    */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long): Int = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val df = spark.read.parquet(path)
    val rows = df.count()
    val nFiles =
      math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    Merge.atomicOverwrite(df.repartition(nFiles), path)
    nFiles
  }

  /** K5 — append-only run log with Manila-formatted timestamps
    * (`utils/logger.js:45-66`): driver-side, newline-framed
    * `[ts] message`, the format the log-analytics pipeline (S9/S10)
    * parses back.
    */
  /** K5 complement — truncate the run log (`DELETE /api/logs`,
    * `index.js:255-276`; the HTTP layer broadcasts `clear` to stream
    * followers, [[graft.pipeline.ControlServer]]).
    */
  def truncateLog(path: String): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path), "",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)

  def appendLog(path: String, message: String, nowMs: Long = System.currentTimeMillis()): Unit = {
    val ts = java.time.Instant.ofEpochMilli(nowMs)
      .atZone(java.time.ZoneId.of("Asia/Manila"))
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSxxx"))
    val line = s"[$ts] $message\n"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path), line,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }
}
