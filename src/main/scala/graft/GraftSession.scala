package graft

import org.apache.spark.sql.SparkSession

/** The engine's session-configuration face: one place that states —
  * and applies — the Spark configuration this library is designed
  * against, so a user standing up a 1000-executor cluster job and a
  * dev iterating at local[32] run the same recipe with different
  * numbers.
  *
  * Every operator here is declarative DataFrame code, so almost all
  * scale tuning is exactly these knobs (the plans adapt through
  * Catalyst + AQE; nothing is hand-scheduled):
  *
  *  - `spark.sql.shuffle.partitions` — sized from TOTAL CORES, not
  *    data: local mode wants `cores` (one wave, no scheduling
  *    overhead); a cluster wants 2–3× total executor cores so AQE has
  *    slack to coalesce down and skew-split up. Every groupBy/join in
  *    the engine shuffles at this width before AQE re-plans it.
  *  - AQE (`adaptive.enabled`, `skewJoin.enabled`, default-on in
  *    Spark 3.2+, pinned explicitly here): runtime coalescing +
  *    skew-join splitting are the engine's first line of skew defense
  *    (`operators.Skew` salting is the declarative fallback for hot
  *    KEYS, which AQE cannot split). Caveat the engine already codes
  *    around: AQE's small-table coalesce can serialize a tiny table
  *    feeding a fan-out — materialization sites that need parallelism
  *    repartition explicitly BEFORE checkpointing (see
  *    `Dedup.bagCosinePairs`).
  *  - `spark.sql.files.maxPartitionBytes` — scan-split granularity;
  *    128 MiB (the default, pinned) keeps a 100 TB table at ~800k
  *    input splits, each comfortably inside executor memory for the
  *    engine's narrow map passes. Raise only for schema-narrow scans
  *    on very fast storage.
  *  - `spark.sql.session.timeZone = UTC` — the engine's timestamp
  *    semantics (Manila-local formatting is explicit in
  *    `functions.Normalize`, never ambient).
  *  - `spark.sql.legacy.parquet.nanosAsLong` — the events fixture
  *    carries TIMESTAMP(NANOS); `Readers.changeLog` converts
  *    long-nanos explicitly.
  *  - `spark.sql.codegen.cache.maxEntries = 1024` — Spark's cache of
  *    Janino-compiled classes (default 100 entries, LRU). The engine is
  *    a long-lived loop over the same plans (`Scheduler` ticks,
  *    `ControlServer` requests, repeated query passes), and an LRU
  *    cache smaller than a repeating cycle never hits: at 100 entries
  *    every pass recompiles every class. Measured at 4 cores, one JVM:
  *    a pass of `dedup_apss_cosine`, `text_kn5_score`,
  *    `er_golden_record` and `media_frames` compiles 260–280 classes
  *    on every pass at 100 entries; at 1024 the first pass compiles
  *    268 and the next 8–16. A change-log ETL tick over 5 tables
  *    compiles 79 classes, then 6, then 0 at either size: its cycle
  *    fits. The whole 266-query suite does not: run twice in name
  *    order in one JVM at 4 cores, it compiled 3,242 classes in its
  *    first pass and 3,105 in its second at sf0.01 (3,226 and 3,092
  *    at sf0.001), so a process cycling every query recompiles nearly
  *    all of them. An entry holds about 25–30 KB of heap, so 1024
  *    entries (about 4× the heads' cycle) cost at most about 30 MiB,
  *    where holding the whole suite would cost about 90 MiB. Static:
  *    Spark reads it once, when the JVM first generates code.
  *
  * Durable checkpointing: pass `checkpointDir` (HDFS/object-store
  * path) and every lineage-truncation site in the engine
  * ([[graft.plans.Materialize]]) switches from executor-local blocks
  * to reliable checkpoints that survive executor loss — the
  * correctness-of-availability requirement for long-lived cluster
  * jobs. Leave it unset in local mode and tests.
  */
object GraftSession {

  /** The recommended configuration, as data — pure, spec-pinned.
    * `shufflePartitions` should be `cores` in local mode and 2–3×
    * total executor cores on a cluster.
    */
  def recommendedConf(shufflePartitions: Int,
      maxPartitionBytes: Long = 128L << 20): Map[String, String] = {
    require(shufflePartitions >= 1, "need at least one shuffle partition")
    require(maxPartitionBytes >= (1L << 20), "scan splits below 1 MiB thrash")
    Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> maxPartitionBytes.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "1024",
    )
  }

  /** Local-mode session with the engine recipe — the builder Bench,
    * Verify and the dev tools share. `checkpointDir` switches
    * [[graft.plans.Materialize]] into durable mode.
    */
  def local(cores: Int, appName: String = "graft",
      uiEnabled: Boolean = false,
      checkpointDir: Option[String] = None): SparkSession = {
    val spark = recommendedConf(shufflePartitions = cores)
      .foldLeft(SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.ui.enabled", uiEnabled.toString)) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    spark
  }
}
