package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Offset-tracked incremental replay over a JDBC change-log TABLE —
  * the reference's actual cron+replay loop (`services/etlService.js:
  * 694-735` reading the MySQL `etl_changelog`, `models/EtlLogger.js:
  * 8-13`), where the file-based [[graft.streaming.Streams.changeLogStream]]
  * covers the directory-of-parquet shape.
  *
  * Each [[tick]] is one micro-batch:
  *   1. read the durable high-water mark (a tiny atomic file — the
  *      engine-side equivalent of the reference keeping its offset in
  *      the log table itself);
  *   2. scan the remote change-log WHERE `log_id > mark` — a range
  *      predicate the JDBC source pushes into the remote SQL, so a
  *      tick's cost is O(new rows), never O(log);
  *   3. snapshot the batch's upper bound (max log_id) and re-bound the
  *      scan with `log_id <= hi`: [[EtlRun.run]] executes several jobs
  *      over the batch (one aggregate for the counts and the table
  *      list, then one job per table), and rows INSERTED CONCURRENTLY
  *      by the source application must not straddle them
  *      half-processed — they belong to the next tick;
  *   4. run the full per-table merge lifecycle on the bounded batch;
  *   5. advance the mark only when every table merged cleanly —
  *      otherwise the whole batch replays next tick. At-least-once is
  *      safe here BY CONSTRUCTION: the merge is a keyed
  *      delete-then-insert ([[graft.sources.Jdbc.refresh]]), so
  *      replaying a batch is idempotent (same keys, same final rows).
  *
  * Visibility assumption: advancing the mark to `max(log_id)` is
  * exactly correct only when log_id VISIBILITY is monotonic with
  * commit order. With concurrent writers and auto-increment ids, a
  * writer can allocate `log_id = hi − 1`, then commit AFTER another
  * writer's `hi` was scanned — once the mark passes `hi`, that
  * straggler is never scanned again. Deployments with concurrent
  * log writers should pass `rescanLag > 0`: every tick then re-scans
  * `(last − rescanLag, last]` in addition to the new window, and the
  * idempotent merge makes the re-processing harmless. Size the lag to
  * cover the log writer's max transaction age (ids are allocated at
  * INSERT time, so a straggler's id is at most
  * ids-allocated-during-its-transaction below the scanned hi).
  *
  * Single-flight/cron composition: schedule `tick(...)` with
  * [[Scheduler]] (R1/R3) exactly like any other job — the tick itself
  * is synchronous and stateless apart from the offset file.
  */
object JdbcReplay {

  /** One tick's outcome: the offset window it covered, the run report
    * (None = nothing new), and whether the window was durably
    * CONSUMED. `committed = false` means the run reported errors: the
    * offset file did NOT advance and the same rows replay next tick —
    * `toOffset` still reports the scanned upper bound so callers can
    * log the attempted window, but they must not treat it as progress
    * ([[advanced]] is false).
    */
  final case class Tick(
      fromOffset: Long, toOffset: Long, report: Option[RunReport],
      committed: Boolean = true) {
    /** True only when new rows were processed AND the mark durably
      * advanced past them.
      */
    def advanced: Boolean = committed && toOffset > fromOffset
  }

  /** The durable high-water mark; 0 before the first tick. */
  def readOffset(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    else 0L
  }

  private def writeOffset(path: String, v: Long): Unit = {
    val p = java.nio.file.Paths.get(path)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp,
      v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Process every change-log row that arrived since the last tick.
    *
    * @param logUrl     JDBC url of the database holding the change-log
    * @param logTable   change-log table (log_id BIGINT, rsbsa_no, table, …)
    * @param etl        the runner the batch drives (e.g. [[EtlRun.onJdbc]])
    * @param offsetPath durable high-water-mark file
    * @param rescanLag  re-scan this many ids BEHIND the mark each tick
    *                   (0 = trust monotonic log_id visibility; see the
    *                   object docs for when that assumption breaks)
    */
  def tick(
      spark: SparkSession, logUrl: String, logTable: String,
      etl: EtlRun, offsetPath: String,
      options: Map[String, String] = Map.empty,
      rescanLag: Long = 0L): Tick = {
    val last = readOffset(offsetPath)
    val fresh = graft.sources.Jdbc.table(spark, logUrl, logTable, options)
      .filter(col("log_id") > math.max(0L, last - rescanLag))
    val mx = fresh.agg(max(col("log_id"))).head()
    if (mx.isNullAt(0)) Tick(last, last, None)
    else {
      val hi = mx.getLong(0)
      val report = etl.run(fresh.filter(col("log_id") <= hi))
      val ok = report.errors == 0
      // the mark only moves FORWARD (a lag-window-only batch keeps it)
      if (ok && hi > last) writeOffset(offsetPath, hi)
      Tick(last, math.max(last, hi), Some(report), committed = ok)
    }
  }
}
