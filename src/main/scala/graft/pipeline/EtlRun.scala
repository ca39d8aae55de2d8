package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Normalize
import graft.operators.{ChangeLog, Merge}
import graft.schema.Catalog

/** Run report for one ETL execution (reference
  * `services/etlService.js:671-691`: processed/skipped counts, error
  * samples, progress).
  */
final case class TableResult(
    table: String,
    extracted: Long,
    merged: Long,
    error: Option[String],
)

final case class RunReport(
    totalLogRecords: Long,
    skipped: Long,
    tables: Seq[TableResult],
) {
  def processed: Long = tables.map(_.extracted).sum
  def errors: Int = tables.count(_.error.isDefined)
  def errorRatePct: Double =
    if (tables.isEmpty) 0.0
    else BigDecimal(100.0 * errors / tables.size)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
}

/** The flagship end-to-end lifecycle (SURVEY.md §3 E1), Spark-first.
  *
  * The reference's run is: count the change-log, page through it,
  * group by (table, key), extract each table's rows for the touched
  * keys, normalize, merge into the target, cascade
  * `farmparcelownership → farmparcel`, and report counts
  * (`services/etlService.js:694-743`). Here each table becomes ONE
  * logical plan — `log → distinct keys → semi-join source → normalize
  * → merge` — that Catalyst optimizes end-to-end. The tables' plans
  * are independent (each writes only its own target), so a run submits
  * them together, one thread per table, and Spark's scheduler shares
  * the cores between their jobs. Pagination is gone: Spark partitions
  * are the batches.
  *
  * Storage layout: `tablesDir/<name>.parquet` for source extracts and
  * `targetDir/<name>.parquet` for merge targets; merges publish
  * atomically (staged write + swap — the reference's per-(table,batch)
  * transaction, SURVEY.md §4).
  */
final class EtlRun(
    spark: SparkSession,
    readSource: String => DataFrame,
    readTarget: String => DataFrame,
    writeTarget: (String, DataFrame) => Unit,
    incrementalWrite: Option[(String, DataFrame) => Unit] = None,
    keyedRead: Option[(String, String, DataFrame) => DataFrame] = None,
) {

  /** Source rows of `table` whose `key` is in `keys` (a frame with a
    * `key` column): the backend's own keyed read when it has one (a
    * remote store takes the keys into its SQL), else a semi join of
    * the full source read.
    */
  private def keyedSource(table: String, key: String, keys: DataFrame): DataFrame =
    keyedRead match {
      case Some(read) => read(table, key, keys)
      case None => ChangeLog.keyedExtract(readSource(table), keys, key)
    }

  /** The extraction a table's plan runs on: keyed extract, or — for
    * `farmparcel` — the two-hop bridge extract (S5+S6/J2: farmers →
    * ownership → parcel), each hop a keyed read. Shared by the merge
    * plan and the run report so counts describe the same rows that
    * were merged.
    */
  def extractFor(log: DataFrame, table: String): DataFrame = {
    val keys = ChangeLog.keysForTable(log, table)
    if (table == "farmparcel")
      keyedSource("farmparcel", "parcel_id",
        keyedSource("farmparcelownership", "rsbsa_no", keys).select("parcel_id"))
    else {
      val key = Catalog.specFor(table).key
      keyedSource(table, key, keys.withColumnRenamed("rsbsa_no", key))
    }
  }

  /** Execute a full run: every table named in the change-log, with the
    * reference's cascade (a `farmparcelownership` sync re-syncs
    * `farmparcel`, `services/etlService.js:642-654`) and per-table
    * failure isolation (R8: one table failing doesn't abort the run).
    *
    * One aggregate over the log yields the total, the valid count and
    * the named tables. The tables' plans are then submitted together,
    * one thread each, and Spark's scheduler shares the cores between
    * their jobs: each plan is a chain of small jobs, so run one after
    * another the cores sat idle through every table's driver-side
    * planning, observation wait and publish. Concurrency is safe
    * because the tables are independent: each writes only its own
    * target, the cascade reads the SOURCE ownership table, and each
    * table has its own `Observation`. `run` returns only after every
    * table thread has ended, with results in sorted table order.
    */
  def run(log: DataFrame): RunReport = {
    val isValid = col("rsbsa_no").isNotNull && col("table").isNotNull
    val preamble = log.agg(count(lit(1)), count_if(isValid),
      collect_set(when(isValid, col("table")))).head()
    val total = preamble.getLong(0)
    val skipped = total - preamble.getLong(1)
    val named = preamble.getSeq[String](2).sorted
    val tables =
      if (named.contains("farmparcelownership") && !named.contains("farmparcel"))
        named :+ "farmparcel"
      else named
    if (tables.isEmpty) return RunReport(total, skipped, Nil)
    val cascaded = EtlRun.cascadeLog(log.filter(isValid))
    // One thread per table, at most one per catalog table: the log is
    // outside input and may name any number of unknown tables. Threads
    // made for this run inherit the caller's Spark local properties
    // (job group, scheduler pool) as they stand now.
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tables.size, Catalog.tables.size), r => {
        val t = new Thread(r); t.setDaemon(true); threads.add(t); t
      })
    val results =
      try {
        val pending = tables.map(table => pool.submit { () =>
          Thread.currentThread.setName(s"graft-etl-$table")
          runTable(cascaded, table)
        })
        pending.map { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally {
        pool.shutdown()
        // a table still writing when the caller gives up finishes
        // first: no publish happens after `run` returns
        threads.forEach(_.join())
      }
    RunReport(total, skipped, results)
  }

  /** One table's merge: extract, normalize, merge and publish, with
    * failures caught into its [[TableResult]].
    */
  private def runTable(cascaded: DataFrame, table: String): TableResult =
    try {
      // Single pass per table: the extraction count rides the merge
      // write as an `observe` metric instead of a separate
      // `extract.count()` job (which re-ran the whole extract — at
      // 100 TB that doubled every per-table scan+shuffle). The
      // incoming side is tagged so the metric counts exactly the
      // rows this run merged in ("Processed" semantics —
      // normalization and both merge strategies are row-preserving
      // on the incoming side); the tag is dropped before the write.
      val obs = org.apache.spark.sql.Observation()
      incrementalWrite match {
        case Some(write) =>
          // Target store merges in place (a transactional
          // delete-then-insert by key IS the merge there): ship ONLY
          // the normalized incoming rows — O(incoming), never
          // O(target) — with the count riding the same job.
          val incoming = Normalize
            .forTable(extractFor(cascaded, table), table)
            .observe(obs, count(lit(1)).as("extracted"))
          write(table, incoming)
        case None =>
          val normalized = Normalize
            .forTable(extractFor(cascaded, table), table)
            .withColumn("__incoming", lit(true))
          val target = readTarget(table).withColumn("__incoming", lit(false))
          val merged = Merge.merge(table, target, normalized)
            .observe(obs, sum(when(col("__incoming"), 1L).otherwise(0L))
              .as("extracted"))
            .drop("__incoming")
          writeTarget(table, merged)
      }
      // The metric lands via the (async) listener bus shortly after
      // the write job ends. A writeTarget that never executes the
      // observed plan (a dry-run or test double) would leave the
      // observation pending forever — so bound the wait and fall back
      // to a direct count (correct, just the old two-pass cost) if no
      // observation arrives.
      val extracted =
        try {
          val got = scala.concurrent.Await.result(obs.future,
            scala.concurrent.duration.Duration(10, "s"))
          got.get(0) match {
            case n: java.lang.Number => n.longValue()
            case _ => 0L // sum over an empty merge result is SQL NULL
          }
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            extractFor(cascaded, table).count()
        }
      TableResult(table, extracted, extracted, None)
    } catch {
      // class and message (Throwable.toString): a bare getMessage
      // drops the class and is null for a message-less exception
      case e: Exception => TableResult(table, 0, 0, Some(e.toString))
    }
}

object EtlRun {

  /** S7/J5 — the reference's cascade as a log rewrite: an ownership
    * change always re-syncs the referenced parcels
    * (`services/etlService.js:642-654`), so every log row naming
    * `farmparcelownership` also counts as a `farmparcel` row — including
    * when farmparcel is independently named too. Declarative (a no-op
    * union when the log names no ownership rows), shared by [[EtlRun.run]]
    * and the `s7_cascade_extract` oracle query so pipeline and query
    * exercise one implementation.
    */
  def cascadeLog(valid: DataFrame): DataFrame =
    valid.unionByName(
      valid.filter(col("table") === "farmparcelownership")
        .withColumn("table", lit("farmparcel")))

  /** JDBC-backed runner — the reference's actual deployment shape
    * (MySQL source pool in, MySQL target pool out,
    * `config/db.js:5-35`): sources read through
    * [[graft.sources.Jdbc.keyedExtract]], so a batch's keys reach the
    * remote SQL as an `IN` list (at most 1,000 keys; a semi join of
    * the remote read above that) and an extract reads O(keys) rows,
    * not the whole table — both hops of the `farmparcel` extract
    * included. The target database merges IN PLACE: only the
    * normalized incoming rows ship, through
    * [[graft.sources.Jdbc.refresh]]'s per-partition transactional
    * delete-then-insert on the merge key — O(incoming) per run, never
    * an O(target) rewrite (exactly the reference's
    * upsert/delete-then-insert statements). Target tables must exist
    * (K4: [[graft.sources.Jdbc.ensureTable]]).
    */
  def onJdbc(
      spark: SparkSession, sourceUrl: String, targetUrl: String,
      options: Map[String, String] = Map.empty): EtlRun =
    new EtlRun(
      spark,
      readSource = name => graft.sources.Jdbc.table(spark, sourceUrl, name, options),
      readTarget = name => graft.sources.Jdbc.table(spark, targetUrl, name, options),
      // unreachable while incrementalWrite is Some — loud, not a
      // silent data-discarding stub, in case a future edit decouples
      // the two channels
      writeTarget = (name, _) => throw new IllegalStateException(
        s"onJdbc merges in place; writeTarget must not be called (table $name)"),
      incrementalWrite = Some((name, df) =>
        graft.sources.Jdbc.refresh(df, targetUrl, name, Catalog.specFor(name).key,
          connectionProperties = options)),
      keyedRead = Some((name, key, keys) =>
        graft.sources.Jdbc.keyedExtract(spark, sourceUrl, name, key, keys,
          options = options)),
    )

  /** Parquet-directory-backed runner (targets under `targetDir`,
    * sources under `sourceDir`), merges published atomically.
    */
  def onParquet(
      spark: SparkSession, sourceDir: String, targetDir: String): EtlRun =
    new EtlRun(
      spark,
      readSource = name => spark.read.parquet(s"$sourceDir/$name.parquet"),
      readTarget = name => {
        val p = s"$targetDir/$name.parquet"
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
          spark.read.parquet(p)
        else spark.read.parquet(s"$sourceDir/$name.parquet").limit(0)
      },
      writeTarget = (name, df) =>
        Merge.atomicOverwrite(df, s"$targetDir/$name.parquet"),
    )
}
