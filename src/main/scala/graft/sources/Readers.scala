package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source readers (SURVEY.md §2.1 S1–S10).
  *
  * All relational sources are parquet directories/files under a
  * scale-factor dir; at deployment scale the same API fronts any
  * Catalyst-pushdown-capable source (parquet on object storage, JDBC).
  * Filters and projections applied on the returned DataFrames reach the
  * scan via Catalyst (PushedFilters / ReadSchema) — no hand pagination.
  */
object Readers {

  /** Generic keyed-table reader (reference S4's `SELECT * FROM <table>`;
    * `services/etlService.js:34-38`). Dynamic table name, declared-schema
    * parquet.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The same keyed-table surface over ORC (Spark-native datasource;
    * see [[graft.operators.Sinks.appendOrc]] — predicate pushdown and
    * column pruning behave as on parquet, asserted in
    * `SchedulerSinksSpec`).
    */
  def orcTable(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** The change-log source (reference `etl_logger_profiling`,
    * `models/EtlLogger.js:8-13`). The driver fixtures model it with
    * `events` (`event_id`→`log_id`, `user_id`→`rsbsa_no`,
    * `event_type`→`table` per FIXTURES.md), so this reader exposes the
    * change-log column names over the events table.
    *
    * The fixture's `ts` is parquet TIMESTAMP(NANOS), which Spark 4 only
    * reads via `spark.sql.legacy.parquet.nanosAsLong` (session config,
    * set in Verify/Bench/tests). The raw nanos are truncated to
    * microseconds (same as DuckDB's nanos→micros read) and exposed as
    * TIMESTAMP_NTZ so written parquet is wall-clock naive like the
    * source.
    */
  def changeLog(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = table(spark, sfDir, "events")
    val ts = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz").as("ts")
      case _ => col("ts")
    }
    ev.select(
      col("event_id").as("log_id"),
      col("user_id").as("rsbsa_no"),
      col("event_type").as("table"),
      ts,
      col("value"),
      col("props"),
    )
  }

  /** Valid change-log entries: the *effective* predicate of the
    * reference's scan — `rsbsa_no IS NOT NULL AND table IS NOT NULL`.
    * The reference's literal SQL also has `OR table = 'farmparcel'`
    * (`services/etlService.js:598`) but that branch is unreachable
    * (x = 'farmparcel' implies x IS NOT NULL), so the engine encodes
    * the effective predicate (SURVEY.md §2.1 S3).
    */
  def validChangeLog(spark: SparkSession, sfDir: String): DataFrame =
    changeLog(spark, sfDir)
      .filter(col("rsbsa_no").isNotNull && col("table").isNotNull)

  /** Log-file batch scan (reference S9, `index.js:226-237`): read lines,
    * drop blanks, regex-parse `[timestamp] message`.
    */
  def logLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(
        regexp_extract(col("value"), "^\\[(.*?)\\]", 1).as("ts"),
        trim(regexp_replace(col("value"), "^\\[(.*?)\\]\\s*", "")).as("message"),
      )

  /** Log-file tail stream (reference S10, `index.js:292-302`): the same
    * parse as a Structured Streaming source over a directory of logs.
    */
  def logStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(dir)
      .filter(length(trim(col("value"))) > 0)
      .select(
        regexp_extract(col("value"), "^\\[(.*?)\\]", 1).as("ts"),
        trim(regexp_replace(col("value"), "^\\[(.*?)\\]\\s*", "")).as("message"),
      )
}
