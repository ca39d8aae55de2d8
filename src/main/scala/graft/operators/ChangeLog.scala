package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-log-driven incremental selection (SURVEY.md §2.1 S1–S3,
  * §2.4 A2/A3, §2.2 P6).
  *
  * The reference replays `etl_logger_profiling` in 50,000-row pages on a
  * single node (`services/etlService.js:694-735`); the engine processes
  * the whole log as one partitioned DataFrame — Spark partitions *are*
  * the batches, so the LIMIT/OFFSET loop disappears (SURVEY.md §2.5 W2).
  */
object ChangeLog {

  /** A2 — distinct (table, key) work units from the log: the reference
    * builds `{table → {table:rsbsa_no → [entries]}}` in memory
    * (`services/etlService.js:611-625`); the engine's equivalent is a
    * distinct over the pair — one shuffle, map-side combined.
    */
  def workUnits(log: DataFrame): DataFrame =
    log.select(col("table"), col("rsbsa_no")).distinct()

  /** A3 — distinct keys for one table (the IN-list the reference ships
    * to the source, `services/etlService.js:627-637`). At engine scale
    * this stays a DataFrame (joined, never collected —
    * SURVEY.md §7.4 "50k-key IN-lists must become joins").
    */
  def keysForTable(log: DataFrame, table: String): DataFrame =
    log.filter(col("table") === table).select("rsbsa_no").distinct()

  /** S2 — ordered page of the log (LIMIT/OFFSET pagination,
    * `models/EtlLogger.js:6-17`). Kept for API parity; the engine's
    * replay path never paginates.
    */
  def page(log: DataFrame, limit: Int, offset: Int): DataFrame =
    log.orderBy(col("log_id")).offset(offset).limit(limit)

  /** S4/J1 — keyed extract: source rows whose key is in the batch key
    * set, as a semi join (broadcast when small — Catalyst/AQE decides).
    */
  def keyedExtract(source: DataFrame, keys: DataFrame, key: String): DataFrame =
    source.join(keys.select(key).distinct(), Seq(key), "left_semi")

  /** S5+S6/J2 — two-hop extract through a bridge table
    * (`farmers → farmparcelownership → farmparcel`,
    * `services/etlService.js:20-32`): semi-join the bridge on the batch
    * keys, project the far key, semi-join the far table on it.
    */
  def twoHopExtract(
      far: DataFrame,
      bridge: DataFrame,
      keys: DataFrame,
      nearKey: String,
      farKey: String,
  ): DataFrame = {
    val farKeys = bridge
      .join(keys.select(nearKey).distinct(), Seq(nearKey), "left_semi")
      .select(farKey).distinct()
    far.join(farKeys, Seq(farKey), "left_semi")
  }
}
