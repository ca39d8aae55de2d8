package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Streaming / incremental surfaces (SURVEY.md §2.8 R1–R8).
  *
  * The reference's incrementality is a cron-driven replay of the
  * change-log plus a tailable log file (`index.js:75-86, 278-312`).
  * Spark-first, those become Structured Streaming jobs:
  *   - the change-log as a streaming source with `log_id` as the
  *     implicit offset (file source: new parquet files = new entries),
  *   - `Trigger.AvailableNow` for the "run once, catch up" cron tick
  *     and `Trigger.ProcessingTime` for the resident scheduler,
  *   - `foreachBatch` running the per-table merge — each micro-batch is
  *     exactly the reference's "batch" (R2), single-flight by
  *     construction (R3: one StreamingQuery per source),
  *   - the log tail as `readStream.text` (R4).
  *
  * Event-time windows + watermarks are the engine's extension beyond
  * the reference's processing-time-only model (SURVEY §2.8 note).
  *
  * Replay rule. `foreachBatch` is at-least-once: a crash after a
  * batch wrote its state but before the checkpoint recorded the batch
  * runs the same batchId over the same input again. Every stream that
  * keeps state under a `statePath` is therefore written so that a
  * batch reads only state that batches BEFORE it committed, and writes
  * its own result under `b<batchId>`:
  *   - bounded state (counts, top-k, a reservoir, drift references,
  *     fingerprint sets) is a SNAPSHOT: the batch reads the newest
  *     `b<bid>` with bid < batchId ([[priorSnapshot]]) and commits the
  *     next one ([[commitSnapshot]]), which then deletes the snapshots
  *     older than the one it read;
  *   - corpus-sized history (seen URL keys, shingle tables) is
  *     APPEND-ONLY: each batch writes only its own increment and reads
  *     every committed one ([[committedBatchDirs]]), so per-batch state
  *     I/O is O(batch), never O(corpus).
  * A replayed batch thus recomputes from the same inputs: it commits
  * the same state and emits the same rows. The reference's keyed
  * delete-then-insert sync is idempotent in the same way
  * (`services/etlService.js:85-115`).
  */
object Streams {

  /** Streaming change-log source over a directory of parquet files
    * (R2). Schema must be supplied — streaming sources don't infer.
    */
  def changeLogStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("log_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rsbsa_no",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("table",
        org.apache.spark.sql.types.StringType),
    ))
    spark.readStream.schema(schema).parquet(dir)
      .filter(col("rsbsa_no").isNotNull && col("table").isNotNull)
  }

  /** Incremental replay (R1+R2): each micro-batch of change-log
    * entries drives the per-batch merge via `foreachBatch`. `availableNow`
    * = the cron-tick semantics (process everything pending, then stop);
    * otherwise a resident `ProcessingTime` trigger.
    */
  def replay(
      log: DataFrame,
      onBatch: (DataFrame, Long) => Unit,
      checkpoint: String,
      availableNow: Boolean = true,
      interval: String = "1 minute",
  ): StreamingQuery = {
    val writer: DataStreamWriter[Row] = log.writeStream
      .foreachBatch((batch: DataFrame, id: Long) => onBatch(batch, id))
      .option("checkpointLocation", checkpoint)
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime(interval))).start()
  }

  /** Tumbling event-time aggregation with watermark (extension over
    * `events.ts`): count + exact-decimal value sum per window and
    * table.
    */
  def windowedActivity(
      log: DataFrame, window: String = "1 hour", watermark: String = "2 hours")
      : DataFrame =
    log
      // watermarks require TIMESTAMP (not NTZ); UTC session ⇒ same wall clock
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("table"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("table"), col("n"), col("total_value"))

  /** Watermarked stream-stream interval join (extension): pair each
    * left event with the right-stream events for the same key landing
    * in `(l_ts, l_ts + maxDelay]` — cause→effect correlation (an
    * update followed by an error, an impression followed by a click)
    * computed incrementally. Both sides carry watermarks and the join
    * condition carries a closed time bound, so the state store is
    * self-expiring: a buffered left row ages out once the right
    * watermark passes `l_ts + maxDelay`, a right row once the left
    * watermark passes its own join window. Without the bound the join
    * state would grow forever — the time condition IS the retention
    * policy, which is what makes this runnable as a resident query.
    *
    * `leftOuter = true` additionally emits unmatched left events (null
    * right columns) once their match window is watermark-closed —
    * "updates that never errored" — exactly-once, no resurrection.
    */
  def correlatedEvents(
      left: DataFrame, right: DataFrame,
      key: String = "rsbsa_no", maxDelay: String = "15 minutes",
      watermark: String = "30 minutes", leftOuter: Boolean = false): DataFrame = {
    val l = left
      .withColumn("l_ts", col("ts").cast("timestamp"))
      .withWatermark("l_ts", watermark)
      .select(col(key).as("key"), col("l_ts"),
        col("log_id").as("l_id"), col("table").as("l_table"))
    val r = right
      .withColumn("r_ts", col("ts").cast("timestamp"))
      .withWatermark("r_ts", watermark)
      .select(col(key).as("r_key"), col("r_ts"),
        col("log_id").as("r_id"), col("table").as("r_table"))
    l.join(r,
      col("key") === col("r_key") &&
        col("r_ts") > col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxDelay"),
      if (leftOuter) "leftOuter" else "inner")
      .drop("r_key")
  }

  /** Log-file tail (R4/S10): parsed `[ts] message` stream; see
    * [[graft.sources.Readers.logStream]]. Convenience re-export.
    */
  def logTail(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Readers.logStream(spark, dir)

  /** Custom streaming state (extension; brief: `mapGroupsWithState`
    * for custom state): first-seen dedup across micro-batches — emit a
    * change-log key only the first time it appears in the stream;
    * subsequent entries for the key are suppressed. State (seen flag)
    * is checkpointed, so the guarantee holds across restarts.
    */
  def firstSeenKeys(log: DataFrame): org.apache.spark.sql.Dataset[(Long, String)] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.streaming.GroupState
    val spark = log.sparkSession
    import spark.implicits._
    log.select(col("log_id").cast("long"), col("rsbsa_no").cast("string"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .mapGroupsWithState[Boolean, (Long, String)](
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[Boolean]) =>
          val first = rows.minBy(_._1)
          if (state.getOption.contains(true)) (-1L, key) // already seen
          else { state.update(true); (first._1, key) }
      }
      .filter(_._1 >= 0)
  }

  /** Streaming rolling z-score — the incremental face of
    * [[graft.operators.TimeSeries.rollingZScore]]: per key, a ring
    * buffer of the last `lookback` observations (state = ≤ lookback
    * longs of exact cents per key, never the events) scores each new
    * observation against its priors, self excluded. Within a
    * micro-batch rows are processed in (ts, log_id) order; across
    * batches the contract is arrival order — a late event is scored
    * against the state as it stands, not retro-inserted into history
    * (the batch operator is the replayable source of truth for
    * out-of-order data).
    *
    * Numeric parity with the batch operator is exact for in-order
    * arrival: values are held as integer cents (the DECIMAL(18,2)
    * cast's exact form), sums divided once by 100/10000 — IEEE
    * division of an exact integer is the same correctly-rounded
    * double as Spark's DECIMAL→DOUBLE cast — and the z expression
    * tree is the batch operator's, rounded identically
    * (`StreamingSpec` proves output equality on a chronological
    * replay).
    */
  def anomalyStream(
      log: DataFrame, lookback: Int = 20, minBaseline: Int = 10,
      zThreshold: Double = 3.0, idleTimeoutMs: Long = 0L)
      : org.apache.spark.sql.Dataset[(Long, Long, Double, Double, Boolean)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = log.sparkSession
    import spark.implicits._
    // State eviction is OPT-IN (`idleTimeoutMs` > 0): a RESIDENT query
    // over unbounded key cardinality should evict idle keys' rings —
    // one ring per EVER-SEEN key otherwise grows forever — and a
    // returning key restarts its baseline (the documented
    // arrival-order contract; the batch operator is the replayable
    // source of truth). The default stays NoTimeout because of a
    // structural Spark behavior, not a preference: with
    // ProcessingTimeTimeout, FlatMapGroupsWithStateExec reports
    // shouldRunAnotherBatch = true on EVERY trigger (processing time
    // always advances), so the engine schedules no-data micro-batches
    // continuously and `processAllAvailable()` NEVER settles — any
    // drain-and-assert consumer (tests, backfills) would hang. Evicting
    // deployments must therefore pace triggers
    // (`Trigger.ProcessingTime`) and poll the sink instead of draining.
    val timeoutConf =
      if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else {
        // the r6 default flip (30 min → NoTimeout) means resident
        // deployments on defaults accumulate one ring per EVER-SEEN
        // key — correct for drain-and-assert consumers, a leak for
        // unbounded key cardinality; surface it instead of silently
        // growing
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "anomalyStream: idleTimeoutMs=0 (NoTimeout) — per-key ring state " +
            "is never evicted; resident deployments over unbounded key " +
            "cardinality should pass idleTimeoutMs > 0 and pace triggers " +
            "(see scaladoc: ProcessingTimeTimeout never settles under " +
            "processAllAvailable)")
        GroupStateTimeout.NoTimeout()
      }
    log
      .filter(col("value").isNotNull)
      .select(col("log_id").cast("long"), col("rsbsa_no").cast("long"),
        unix_micros(col("ts").cast("timestamp")), col("value").cast("double"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[List[Long], (Long, Long, Double, Double, Boolean)](
        OutputMode.Append(), timeoutConf) {
        case (key, rows, state: GroupState[List[Long]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
          var ring = state.getOption.getOrElse(Nil) // oldest → newest cents
          val out = rows.toSeq.sortBy(r => (r._3, r._1)).flatMap {
            case (id, _, _, v) =>
              val n = ring.size
              val res =
                if (n < minBaseline) None
                else {
                  val s = ring.sum.toDouble / 100.0
                  val ss = ring.map(c => c * c).sum.toDouble / 10000.0
                  val nd = n.toDouble
                  val mean = s / nd
                  val vr = (ss - s * s / nd) / (nd - 1.0)
                  if (vr > 0.0) {
                    val z = (v - mean) / math.sqrt(vr)
                    val zr = BigDecimal(z)
                      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
                    Some((id, key, v, zr, math.abs(z) > zThreshold))
                  } else None
                }
              ring = (ring :+ math.round(v * 100.0)).takeRight(lookback)
              res
          }
          state.update(ring)
          if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
          out.iterator
          }
      }
  }

  /** Streaming Holt smoothing — the incremental face of
    * [[graft.operators.TimeSeries.holt]]: per-key state is the same
    * `lookback`-bounded ring of exact CENTS the z-score stream keeps
    * (≤ lookback longs per key, never events), and each arrival
    * re-folds its ring with the batch operator's exact lambda
    * arithmetic — so on chronological replay the emitted (level,
    * trend, forecast) are BIT-IDENTICAL to the batch windowed fold
    * (integer-cents ÷ 100 reproduces the 2-decimal DECIMAL→DOUBLE
    * cast exactly; spec-proven incl. across a restart). In-batch rows
    * process in (ts, log_id) order; across batches the arrival-order
    * contract applies and the batch operator stays the replayable
    * source of truth ([[anomalyStream]]'s discipline, including its
    * NoTimeout-by-default rationale).
    */
  def holtStream(
      log: DataFrame, alpha: Double = 0.3, gamma: Double = 0.1,
      lookback: Int = 20, idleTimeoutMs: Long = 0L)
      : org.apache.spark.sql.Dataset[(Long, Long, Double, Long, Double, Double, Double)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = log.sparkSession
    import spark.implicits._
    val na = 1.0 - alpha; val ng = 1.0 - gamma
    val timeoutConf =
      if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    log
      .filter(col("value").isNotNull)
      .select(col("log_id").cast("long"), col("rsbsa_no").cast("long"),
        unix_micros(col("ts").cast("timestamp")), col("value").cast("double"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[List[Long], (Long, Long, Double, Long, Double, Double, Double)](
        OutputMode.Append(), timeoutConf) {
        case (key, rows, state: GroupState[List[Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var ring = state.getOption.getOrElse(Nil) // oldest → newest cents
            val out = rows.toSeq.sortBy(r => (r._3, r._1)).map {
              case (id, _, _, v) =>
                ring = (ring :+ math.round(v * 100.0)).takeRight(lookback)
                val vals = ring.map(_ / 100.0)
                // the batch fold verbatim: l₁ = x₁, b₁ = 0, then the
                // identical IEEE multiply-add chain per element
                var l = vals.head; var b = 0.0
                for (x <- vals.tail) {
                  val ln = alpha * x + na * (l + b)
                  b = gamma * (ln - l) + ng * b
                  l = ln
                }
                (id, key, v, vals.size.toLong, l, b, l + b)
            }
            state.update(ring)
            if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
            out.iterator
          }
      }
  }

  /** Streaming next-fit packing — the incremental face of
    * [[graft.functions.Packing.packNoSplitCounts]] for an ingest
    * pipeline: documents arrive as (doc_id, n_tokens), key by
    * `bucket = doc_id div width`, and each bucket's (seq, fill)
    * cursor lives in keyed state — TWO longs per bucket, never the
    * documents — so placement is identical to the batch layout on
    * chronological (doc_id-ordered) replay; out-of-order arrival
    * follows the arrival-order contract and the batch operator stays
    * the replayable source of truth (same discipline as
    * [[anomalyStream]]). Within a micro-batch rows are processed in
    * doc_id order.
    *
    * `width` is pinned by the caller (the batch rule is
    * `max(doc_id) div buckets + 1`, which a stream cannot know) — a
    * publisher fixes the id space up front, which also keeps the
    * state bounded: at most `idSpace/width` bucket cursors, ever.
    */
  def packStream(toks: DataFrame, seqLen: Int, width: Long)
      : org.apache.spark.sql.Dataset[graft.functions.Packing.PackedDoc] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(seqLen > 0, "seqLen must be positive")
    require(width > 0, "width must be positive")
    val spark = toks.sparkSession
    import spark.implicits._
    val L = seqLen.toLong
    toks.select(col("doc_id").cast("long"), col("n_tokens").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1 / width)
      .flatMapGroupsWithState[(Long, Long), graft.functions.Packing.PackedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (bucket, rows, state: GroupState[(Long, Long)]) =>
          var cur = state.getOption // (seq_in_bucket, fill)
          val out = rows.toSeq.sortBy(_._1).map { case (id, n) =>
            val (seq, fill) = cur match {
              case None => (0L, n) // first doc opens seq 0 even oversize
              case Some((s, f)) => if (f + n > L) (s + 1, n) else (s, f + n)
            }
            cur = Some((seq, fill))
            graft.functions.Packing.PackedDoc(id, n, bucket, seq, fill - n)
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming near-duplicate filter — the incremental complement of
    * [[graft.functions.Dedup.simHashDuplicates]] for an ingest
    * pipeline: each micro-batch of documents is SimHash-fingerprinted
    * (narrow kernel pass), candidate-matched against the accumulated
    * fingerprint state AND earlier docs of the same batch via the
    * 16-bit-chunk pigeonhole buckets, and only novel documents (no
    * prior fingerprint within `maxHamming`) are emitted; survivors'
    * fingerprints append to the state table. State is (doc_id, fp) —
    * 16 bytes/doc, never the text — and the per-batch work is
    * O(batch × bucket-collisions), exactly the batch operator's
    * shape applied incrementally. Deterministic: earlier-arriving
    * (lower-doc_id-within-batch) documents win. The fingerprint set is
    * a snapshot under the replay rule ([[Streams]]).
    */
  def nearDupFreeStream(
      docs: DataFrame,
      statePath: String,
      checkpoint: String,
      onSurvivors: DataFrame => Unit,
      maxHamming: Int = 3,
  ): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fps = graft.functions.Dedup.simHashTable(batch)
        val state = priorSnapshot(spark, statePath, batchId)
          .getOrElse(fps.limit(0))
        def chunked(df: DataFrame, side: String) =
          df.select(col("doc_id").as(s"${side}_id"), col("fp").as(s"${side}_fp"),
            explode(array((0 until 4).map(i =>
              struct(lit(i).as("chunk"),
                shiftright(col("fp"), i * 16).bitwiseAND(lit(0xffffL)).as("ch"))): _*))
              .as("c"))
            .select(col(s"${side}_id"), col(s"${side}_fp"), col("c.chunk"), col("c.ch"))
        val newSide = chunked(fps, "n")
        // a doc is disqualified by ANY state row, or by an
        // EARLIER-in-batch doc (lower doc_id) — so exactly the first
        // of a within-batch dup cluster survives
        val priorSide = chunked(state, "p").withColumn("from_state", lit(true))
          .unionByName(chunked(fps, "p").withColumn("from_state", lit(false)))
        val dupIds = newSide.join(priorSide, Seq("chunk", "ch"))
          .filter(col("from_state") || col("p_id") < col("n_id"))
          .filter(graft.plans.GraftFunctions.hamming64(
            spark, col("n_fp"), col("p_fp")) <= maxHamming)
          .select(col("n_id").as("doc_id")).distinct()
        val survivors = batch.join(dupIds, Seq("doc_id"), "left_anti")
        onSurvivors(survivors)
        // state accumulates EVERY seen fingerprint (dropped docs too):
        // "any earlier-arriving doc disqualifies" — the same rule as
        // the in-batch comparison, and it suppresses future members of
        // an already-seen duplicate cluster even when their nearest
        // neighbor was itself dropped
        commitSnapshot(state.unionByName(fps), statePath, batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming heavy-hitter sketch — the streaming face of
    * [[graft.functions.TextAnalysis.cmsHeavyHitterSketch]]: the SAME
    * per-occurrence CMS rows + sampled-candidate rows, as a native
    * Structured Streaming aggregation. Counts are associative, so
    * Spark's stateful agg merges micro-batches incrementally and the
    * state store holds exactly the bounded sketch table (d·w cells +
    * sampled candidates) — the fixed-size-state property that makes
    * CMS the streaming-friendly counting structure; no watermark
    * needed because the key space cannot grow past the bound.
    * Complete-mode emission per batch; after `Trigger.AvailableNow`
    * over a static corpus the final emission is bit-identical to the
    * batch sketch (`StreamingSpec` proves batch ≡ stream, and that
    * the probed top-20 matches `agg_heavy_hitters_sketch`).
    */
  def heavyHittersStream(
      docs: DataFrame,
      checkpoint: String,
      onSketch: DataFrame => Unit,
      d: Int = 4, w: Int = 4096, sampleMod: Int = 64,
  ): StreamingQuery =
    graft.functions.TextAnalysis.cmsHeavyHitterSketch(docs, d, w, sampleMod)
      .writeStream
      .outputMode("complete")
      .foreachBatch { (sketch: DataFrame, _: Long) => onSketch(sketch) }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming CURATION FUNNEL — the monitoring face of
    * `curation_funnel`: per micro-batch, every screen flag is
    * computed in the same one narrow pass as the batch operator
    * (shared `funnelAgg` core), the keep-first dedup flag consults
    * the ACCUMULATED seen-keys state (a key is "first" only on its
    * first appearance across the stream's whole life), and the
    * per-stage counts — additive by construction — are merged into
    * the running totals. The callback receives the accumulated
    * funnel table after each batch; feeding the corpus through in
    * doc_id-ordered batches reproduces the batch `curationFunnel`
    * EXACTLY (spec-pinned). State: the seen-keys digest table under
    * `statePath/keys` + one counts row under `statePath/counts`, both
    * snapshots under the replay rule ([[Streams]]).
    */
  def funnelStream(
      docs: DataFrame,
      screens: Seq[(String, org.apache.spark.sql.Column)],
      dedupStage: (String, org.apache.spark.sql.Column),
      statePath: String,
      checkpoint: String,
      onFunnel: DataFrame => Unit,
  ): StreamingQuery = {
    val names = screens.map(_._1) :+ dedupStage._1
    val k = names.size
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val keysPath = s"$statePath/keys"
        val countsPath = s"$statePath/counts"
        val screenCols = screens.zipWithIndex.map { case ((_, c), i) =>
          c.as(s"f$i") }
        val flagged = batch.select(
          (col("doc_id") +: screenCols) :+ dedupStage._2.as("__key"): _*)
        val seen = priorSnapshot(spark, keysPath, batchId)
          .getOrElse(flagged.select(col("__key")).limit(0))
        // first GLOBALLY = first within the batch (by doc_id) AND the
        // key never appeared in any prior batch
        val withFirst = flagged
          .withColumn("__rk", org.apache.spark.sql.functions.row_number()
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("__key")).orderBy(col("doc_id"))))
          .join(seen.select(col("__key"), lit(true).as("__seen")),
            Seq("__key"), "left")
          .withColumn(s"f${k - 1}",
            col("__rk") === 1 && col("__seen").isNull)
        val prior = priorSnapshot(spark, countsPath, batchId).map(_.head())
        val batchRow = graft.functions.TextAnalysis
          .funnelAgg(withFirst, k).head()
        val merged = (0 to k).map(i =>
          prior.fold(0L)(_.getLong(i)) + batchRow.getLong(i))
        import spark.implicits._
        val one = Seq(merged).toDF().select(
          (0 to k).map(i => col("value").getItem(i).as(s"n$i")): _*)
        onFunnel(graft.functions.TextAnalysis.funnelRows(one, names))
        commitSnapshot(one, countsPath, batchId)
        commitSnapshot(
          seen.unionByName(flagged.select(col("__key"))).distinct(),
          keysPath, batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming TOP-K MAINTENANCE — incremental similarity search (the
    * interactive-session theme of EDBT'20 "Incremental Based Framework
    * for Efficient Top-K Similarity Search" / SIGMOD'20 "Continuously
    * Adaptive Similarity Search"): a FIXED probe set's exact top-k is
    * maintained as corpus vectors ARRIVE. Per micro-batch only the NEW
    * vectors are scored — the same exact quantized-integer cosine as
    * [[graft.functions.Similarity.bruteForceTopK]], map-only against
    * the broadcast probe set — and merged with the state via the
    * top-k monoid: `topk(topk(A) ∪ B) = topk(A ∪ B)`. State is
    * EXACTLY |queries|·k rows, never the corpus; ties break by
    * neighbor id, so feeding a corpus through in ANY batching (or
    * re-feeding a vector — scores are deterministic per (qid, nid),
    * the distinct absorbs duplicates) reproduces the batch operator
    * bit-for-bit (spec-pinned). PRECONDITION (the same one
    * [[graft.functions.Dedup.crossJaccardPairs]] states for doc_ids):
    * `vec_id` must be globally unique across the stream — the distinct
    * that absorbs re-fed vectors would also collapse two genuine rows
    * sharing a vec_id into one, where the batch operator's row_number
    * would rank both; parity holds only under unique ids. The callback
    * receives the ranked top-k table after each batch in
    * [[graft.functions.Similarity.bruteForceTopK]]'s output shape. The
    * top-k table is a snapshot under the replay rule ([[Streams]]).
    */
  def topkStream(
      vecs: DataFrame,
      queries: DataFrame,
      k: Int,
      statePath: String,
      checkpoint: String,
      onTopk: DataFrame => Unit,
  ): StreamingQuery = {
    import graft.functions.Similarity.{quantized, cosineFromInts}
    // the probe side is STATIC — quantize it once on the driver,
    // against ITS session (foreachBatch hands a cloned session whose
    // registry does not serve frames bound to the root session)
    graft.plans.GraftFunctions.register(queries.sparkSession)
    val q = queries.select(col("vec_id").as("qid"),
        quantized(col("embedding")).as("qv"))
      .withColumn("qn", call_function("graft_norm_sq", col("qv")))
    vecs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.plans.GraftFunctions.register(spark)
        val b = batch.select(col("vec_id"),
            quantized(col("embedding")).as("v"))
          .withColumn("nsq", call_function("graft_norm_sq", col("v")))
        val scored = b.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("nid"),
            cosineFromInts(call_function("graft_dot", col("v"), col("qv")),
              col("nsq"), col("qn")).as("cos"))
        val state = priorSnapshot(spark, statePath, batchId)
          .getOrElse(scored.limit(0))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
        val merged = state.unionByName(scored).distinct()
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= k)
          .drop("__rk")
        onTopk(commitSnapshot(merged, statePath, batchId)
          .withColumn("rank", row_number().over(w))
          .select(col("qid"), col("rank"), col("nid"),
            round(col("cos"), 6).as("cos")))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming PII AUDIT — the monitoring face of `text_pii_audit`:
    * each micro-batch's typed per-source counts (ADDITIVE by
    * construction — [[graft.functions.TextAnalysis.piiAuditCounts]])
    * merge into the accumulated per-source state; the callback
    * receives the accumulated audit (with rates) after every batch.
    * Feeding a corpus through in any batching reproduces the batch
    * `piiAudit` EXACTLY (spec-pinned). State: one row per source, a
    * snapshot under the replay rule ([[Streams]]).
    */
  def piiAuditStream(
      docs: DataFrame,
      statePath: String,
      checkpoint: String,
      onAudit: DataFrame => Unit,
  ): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cols = Seq("n_docs", "n_email", "n_ip", "n_phone",
          "n_docs_with_pii")
        val b = graft.functions.TextAnalysis.piiAuditCounts(batch)
        val merged = priorSnapshot(batch.sparkSession, statePath, batchId)
          .fold(b)(_.unionByName(b).groupBy("source")
            .agg(sum(cols.head).as(cols.head),
              cols.tail.map(c => sum(c).as(c)): _*))
        onAudit(graft.functions.TextAnalysis.piiRate(
          commitSnapshot(merged, statePath, batchId)))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming RESERVOIR SAMPLE — the ingest twin of
    * `sample_reservoir` ([[graft.functions.Selection.reservoirSample]]
    * — per-group exact-k uniform sample by salted-hash rank), kept
    * EXACTLY equal to the batch sample over everything seen so far:
    * bottom-k-by-priority is a monoid (bottom-k(A ∪ B) =
    * bottom-k(bottom-k(A) ∪ B)), and the priority is recomputable from
    * the id (md5(salt:id)), so state is just the current winner
    * `(g, id)` rows — ≤ groups·k rows, never the corpus. Each batch
    * unions the state rows with the arrivals and re-runs the batch
    * reservoir on that union; the callback receives the full current
    * sample `(g, id, rk)` after every batch (complete-mode emission,
    * the [[heavyHittersStream]] convention). This is the eval-set /
    * holdout maintenance job of an ingest pipeline: a uniform
    * per-source sample that stays valid as the corpus grows, without
    * ever rescanning it.
    *
    * The winner rows are a snapshot under the replay rule
    * ([[Streams]]).
    *
    * Unlike arrival-order operators ([[topkStream]]'s conventions),
    * the result is BATCHING-INVARIANT with no ordering precondition:
    * any partition of the corpus into micro-batches, in any order,
    * yields the same final sample as the one-shot batch query.
    */
  def reservoirStream(
      docs: DataFrame,
      statePath: String,
      checkpoint: String,
      k: Int,
      onSample: DataFrame => Unit,
      group: String = "source",
      id: String = "doc_id",
      salt: String = "rsv",
  ): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val arrivals = batch.select(col(group), col(id))
        val pool = priorSnapshot(batch.sparkSession, statePath, batchId)
          .fold(arrivals)(_.select(col("g").as(group), col("id").as(id))
            .unionByName(arrivals))
        val merged = graft.functions.Selection.reservoirSample(
          pool, col(group), col(id), k, salt)
        onSample(commitSnapshot(
          merged.select(col("g"), col("id"), col("rk")), statePath, batchId))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming CDC CHUNK STORE — the ingest twin of `dedup_cdc_ratio`:
    * each micro-batch's documents are content-defined-chunked
    * ([[graft.functions.Dedup.cdcChunks]] — doc-local, so chunk
    * identity is batching-invariant by construction) and merged into
    * the accumulated per-hash store state (chunk_hash, ln, n); the
    * callback receives the CUMULATIVE store-once savings row in
    * exactly `cdcDedupRatio`'s shape after every batch — the dedup
    * meter a chunk-store ingest pipeline exposes. State is one row per
    * UNIQUE chunk (the store's own index, never the corpus text), a
    * snapshot under the replay rule ([[Streams]]).
    */
  def cdcStoreStream(
      docs: DataFrame,
      statePath: String,
      checkpoint: String,
      onRatio: DataFrame => Unit,
  ): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = graft.functions.Dedup.cdcPerHash(batch)
        val merged = priorSnapshot(batch.sparkSession, statePath, batchId)
          .fold(b)(_.unionByName(b).groupBy(col("chunk_hash"))
            .agg(min(col("ln")).as("ln"), sum(col("n")).as("n")))
        onRatio(graft.functions.Dedup.cdcRatioOf(
          commitSnapshot(merged, statePath, batchId)))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming DRIFT monitor — the per-batch face of `corpus_drift`:
    * each micro-batch's token counts are compared against the
    * ACCUMULATED reference distribution (all prior batches) with the
    * same exact-integer TV deviation `|c_batch·N_ref − c_ref·N_batch|`
    * (one IEEE division at the end), then merged into the reference.
    * The callback receives `(batch_id, tv_distance, n_batch_tokens,
    * n_ref_tokens)` — a drift spike between arriving data and the
    * corpus so far is the signal a production ingest gate alerts on.
    * First batch reports 0.0 (no reference yet). Reference state is
    * the vocabulary-sized count table, a snapshot under the replay
    * rule ([[Streams]]).
    */
  def driftStream(
      docs: DataFrame,
      statePath: String,
      checkpoint: String,
      onDrift: (Long, Double, Long, Long) => Unit,
  ): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val counts = batch.select(explode(
            filter(split(lower(col("text")), "\\s+"), t => length(t) > 0))
            .as("token"))
          .groupBy("token").agg(count(lit(1)).as("c"))
        val state = priorSnapshot(spark, statePath, batchId)
          .getOrElse(counts.limit(0))
        val joined = counts.withColumnRenamed("c", "cb")
          .join(state.withColumnRenamed("c", "cr"), Seq("token"), "full")
          .na.fill(0L, Seq("cb", "cr"))
        joined.persist()
        val totals = joined.agg(sum(col("cb")), sum(col("cr"))).head()
        // empty micro-batch → null sums (the embDriftStream guard)
        def cnt(i: Int): Long = if (totals.isNullAt(i)) 0L else totals.getLong(i)
        val (nb, nr) = (cnt(0), cnt(1))
        val tv =
          if (nr == 0L || nb == 0L) 0.0
          else {
            val dev = joined
              .agg(sum(abs(col("cb") * lit(nr) - col("cr") * lit(nb))))
              .head().getLong(0)
            dev.toDouble / (2.0 * nb.toDouble * nr.toDouble)
          }
        onDrift(batchId, tv, nb, nr)
        commitSnapshot(
          joined.select(col("token"), (col("cb") + col("cr")).as("c")),
          statePath, batchId)
        joined.unpersist()
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming EMBEDDING-drift monitor — the per-batch face of
    * `emb_drift` (the vector-side twin of [[driftStream]]): each
    * micro-batch's per-dimension quantized component sums are
    * compared against the ACCUMULATED reference (all prior batches)
    * with the exact-integer mean-shift numerator `|sb·nr − sr·nb|`
    * per dimension, reduced to the MAX de-quantized shift across
    * dimensions (the alert scalar — one IEEE division per dim at the
    * end, exact integers everywhere else), then merged into the
    * reference. Callback gets `(batch_id, max_mean_shift, n_batch,
    * n_ref)`; first batch reports 0.0. State is the dims-row
    * (dim, s, n) table — fixed KB at any corpus size, a snapshot
    * under the replay rule ([[Streams]]).
    */
  def embDriftStream(
      embeddings: DataFrame,
      statePath: String,
      checkpoint: String,
      onDrift: (Long, Double, Long, Long) => Unit,
  ): StreamingQuery =
    embeddings.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val sums = batch.select(posexplode(
            graft.functions.Similarity.quantized(col("embedding")))
            .as(Seq("dim", "qx")))
          .groupBy("dim")
          .agg(sum(col("qx")).as("s"), count(lit(1)).as("n"))
        val state = priorSnapshot(spark, statePath, batchId)
          .getOrElse(sums.limit(0))
        val joined = sums
          .select(col("dim"), col("s").as("sb"), col("n").as("nb"))
          .join(state.select(col("dim"), col("s").as("sr"),
            col("n").as("nr")), Seq("dim"), "full")
          .na.fill(0L, Seq("sb", "nb", "sr", "nr"))
        joined.persist()
        val totals = joined.agg(max(col("nb")), max(col("nr"))).head()
        // empty micro-batch (or empty reference) → null aggregates
        def cnt(i: Int): Long = if (totals.isNullAt(i)) 0L else totals.getLong(i)
        val (nb, nr) = (cnt(0), cnt(1))
        val shift =
          if (nr == 0L || nb == 0L) 0.0
          else joined
            // a dimension present on only ONE side (nb or nr = 0 for
            // that row) is a vector-SHAPE change — the strongest drift
            // signal there is; report it as +Infinity instead of the
            // NaN the raw 0/0 would produce (NaN sorts above every
            // double in Spark but fails every numeric alert threshold).
            // Cross products in decimal(38,0): the reference sums and
            // counts grow without bound over the stream's life, so the
            // long·long products would hit ANSI-mode overflow on a
            // long-lived monitor (~1e9+ accumulated rows) — the
            // bagCosinePairs overflow discipline.
            .select(when(col("nb") > 0 && col("nr") > 0,
              abs(col("sb").cast("decimal(38,0)") * col("nr").cast("decimal(38,0)")
                  - col("sr").cast("decimal(38,0)") * col("nb").cast("decimal(38,0)"))
                .cast("double")
                / (col("nb").cast("decimal(38,0)")
                  * col("nr").cast("decimal(38,0)")).cast("double") / 1000.0)
              .otherwise(lit(Double.PositiveInfinity)).as("ms"))
            .agg(max(col("ms"))).head().getDouble(0)
        onDrift(batchId, shift, nb, nr)
        commitSnapshot(
          joined.select(col("dim"), (col("sb") + col("sr")).as("s"),
            (col("nb") + col("nr")).as("n")),
          statePath, batchId)
        joined.unpersist()
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming semantic dedup — the embedding-side complement of
    * [[nearDupFreeStream]] and the incremental face of
    * [[graft.functions.Similarity.semanticDedup]] (SemDeDup, Abbas et
    * al. 2023): each micro-batch of `(vec_id, embedding)` rows is
    * k-means-assigned to its nearest cell of the FIXED `centroids`
    * (map-only, centroids ride as literals), candidate-matched by
    * exact quantized-integer cosine against the accumulated state AND
    * earlier rows of the same batch — candidates exist only WITHIN a
    * cell, the same blocking scheme as the batch operator — and only
    * semantically novel vectors are emitted. Every seen vector's
    * quantized form appends to the state table (dropped ones too), so
    * future members of an already-seen cluster are suppressed even
    * when their nearest neighbor was itself dropped.
    *
    * Dedup rule is greedy earlier-wins (lower `vec_id` within a batch,
    * arrival order across batches). Relation to the batch operator's
    * connected-components survivors on the same chronological corpus:
    * the streamed DROP set is always a SUBSET of the batch flagged set
    * (a vector with an earlier similar neighbor is never its
    * component's minimum), and the two are EQUAL whenever each
    * duplicate group is pairwise-similar — the tight-cluster regime
    * SemDeDup targets. Chains (A~B~C, A≁C) can keep one more survivor
    * here than batch CC; spec-asserted both ways.
    *
    * Centroids must be stable across batches (train once — e.g.
    * [[graft.functions.Similarity.trainedCentroids]] on a bootstrap
    * sample — then pin); re-training mid-stream would silently change
    * the blocking and lose cross-batch candidates. State is
    * `(vec_id, cell, q, nsq)` — dim×8 bytes per vector, never raw
    * text/media — and per-batch compare cost is Σ_cell |batch∩cell| ×
    * |seen∩cell| via a hash equi-join on the cell id, never batch×N.
    * The vector set is a snapshot under the replay rule ([[Streams]]).
    */
  def semanticDedupStream(
      embeddings: DataFrame,
      centroids: Array[Array[Long]],
      threshold: Double,
      statePath: String,
      checkpoint: String,
      onSurvivors: DataFrame => Unit,
  ): StreamingQuery =
    embeddings.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.plans.GraftFunctions.register(spark)
        import graft.functions.Similarity
        val quant = batch.select(
          col("vec_id"), Similarity.quantized(col("embedding")).as("q"))
          .withColumn("nsq", call_function("graft_norm_sq", col("q")))
          .withColumn("cell", Similarity.cellOf(col("q"), centroids))
          .select("vec_id", "cell", "q", "nsq")
        val state = priorSnapshot(spark, statePath, batchId)
          .getOrElse(quant.limit(0))
        def side(df: DataFrame, s: String) = df.select(
          col("cell"), col("vec_id").as(s"${s}_id"),
          col("q").as(s"${s}_q"), col("nsq").as(s"${s}_n"))
        val prior = side(state, "p").withColumn("from_state", lit(true))
          .unionByName(side(quant, "p").withColumn("from_state", lit(false)))
        val dupIds = side(quant, "n").join(prior, Seq("cell"))
          .filter(col("from_state") || col("p_id") < col("n_id"))
          .filter(Similarity.cosineFromInts(
            call_function("graft_dot", col("n_q"), col("p_q")),
            col("n_n"), col("p_n")) >= threshold)
          .select(col("n_id").as("vec_id")).distinct()
        onSurvivors(batch.join(dupIds, Seq("vec_id"), "left_anti"))
        commitSnapshot(state.unionByName(quant), statePath, batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Committed per-batch state directories under `root`: the `b<bid>`
    * children with bid < `batchId` — the one place that decides which
    * state a batch reads under the replay rule ([[Streams]]). A
    * replayed batch never reads its own, possibly half-written, output;
    * `.staged`/`.old` siblings of an interrupted commit never match.
    * Append-only state reads all of them, snapshot state the newest
    * ([[priorSnapshot]]).
    */
  private[graft] def committedBatchDirs(
      root: java.nio.file.Path, batchId: Long): Seq[String] =
    if (!java.nio.file.Files.isDirectory(root)) Nil
    else {
      val it = java.nio.file.Files.list(root)
      try {
        val b = Seq.newBuilder[String]
        it.forEach { p =>
          val n = p.getFileName.toString
          if (n.startsWith("b") && !n.contains(".") &&
              n.drop(1).forall(_.isDigit) &&
              n.drop(1).toLong < batchId)
            b += p.toString
        }
        b.result()
      } finally it.close()
    }

  private def bidOf(dir: String): Long =
    java.nio.file.Paths.get(dir).getFileName.toString.drop(1).toLong

  /** The snapshot batch `batchId` reads: the newest one under `root`
    * that an earlier batch committed, or None before the first.
    */
  private[graft] def priorSnapshot(
      spark: SparkSession, root: String, batchId: Long): Option[DataFrame] =
    committedBatchDirs(java.nio.file.Paths.get(root), batchId)
      .maxByOption(bidOf).map(spark.read.parquet(_))

  /** Commits `state` as batch `batchId`'s snapshot `root/b<batchId>`
    * (atomic overwrite, so a replay replaces it whole), then deletes
    * the snapshots older than the one the batch read — that one stays,
    * since a replay of `batchId` reads it again. Returns the committed
    * snapshot.
    */
  private[graft] def commitSnapshot(
      state: DataFrame, root: String, batchId: Long): DataFrame = {
    val path = s"$root/b$batchId"
    graft.operators.Merge.atomicOverwrite(state, path)
    committedBatchDirs(java.nio.file.Paths.get(root), batchId)
      .sortBy(bidOf).dropRight(1)
      .foreach(old => graft.operators.Merge.deleteRecursive(
        java.nio.file.Paths.get(old)))
    state.sparkSession.read.parquet(path)
  }

  /** Seen-key screen shared by [[urlDedupStream]] and
    * [[hostCapStream]]: the rows of `winners` whose `canon_key` has
    * NOT been recorded in any committed state directory. Runs as TWO
    * BROADCAST joins so the corpus-sized digest history never
    * shuffles — (1) the batch's (small) key set broadcast-SEMI-joins
    * the history scan (map-only: each history partition probes the
    * broadcast hash and emits only keys this batch re-saw, ≤ batch
    * rows), (2) that seen subset broadcasts back as the ANTI side
    * over the batch winners. No dedup between the two joins: every
    * state directory holds only keys that were FIRST seen in its
    * batch, so a key lives in exactly one committed directory and the
    * semi-join output is duplicate-free by construction (a distinct
    * here would be the screen's only exchange — `StreamPlanSpec` pins
    * the zero-exchange shape).
    */
  private[graft] def seenKeyScreen(
      winners: DataFrame, priorDirs: Seq[String]): DataFrame =
    if (priorDirs.isEmpty) winners
    else {
      val spark = winners.sparkSession
      val history = spark.read.parquet(priorDirs: _*)
      val seen = history.join(
        broadcast(winners.select(col("canon_key"))),
        Seq("canon_key"), "left_semi")
      winners.join(broadcast(seen), Seq("canon_key"), "left_anti")
    }

  /** Streaming URL FRONTIER DEDUP — the crawl-loop twin of
    * `dedup_by_url`: each micro-batch's URLs are canonicalized
    * ([[graft.functions.Normalize.canonicalUrl]]) and KEEP-FIRST
    * deduplicated, both within the batch (by doc_id — a batch carrying
    * two cosmetic variants of one resource must keep only the earlier)
    * and against the ACCUMULATED seen-key state, so the union of
    * emitted survivors over ANY chronological batching equals the
    * batch `dedupByUrl` keeper set (spec-pinned across 1/2/3-batch
    * splits). PRECONDITION: doc_ids globally unique and arrival-
    * ordered (the [[topkStream]] convention — keep-FIRST is only
    * well-defined under an arrival order).
    *
    * State is the seen canonical-key set — 16-byte md5 digests only,
    * never URL text — APPEND-ONLY under the replay rule ([[Streams]]):
    * each batch writes its survivor keys under `statePath/b<batchId>`.
    *
    * Scale shape: the history check is [[seenKeyScreen]]'s two
    * broadcast joins, so the corpus-sized seen set never shuffles. The
    * per-batch history SCAN is the indexless frontier baseline (columnar
    * digests, ~16 bytes/URL); a 100 TB deployment fronts it with the
    * host-level policy tables this engine already derives
    * (`dedup_url_hosts` ratios, `corpus_host_cap` caps) so the
    * frontier only consults the digest store for hosts worth crawling.
    *
    * Survivors handed to the callback: `(doc_id, url, canon_url,
    * canon_key)` — the fetch queue a crawler actually enqueues.
    */
  def urlDedupStream(
      docs: DataFrame,
      statePath: String,
      checkpoint: String,
      onSurvivors: DataFrame => Unit,
  ): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val canon = graft.functions.Normalize.canonicalUrl(col("url"))
        val keyed = batch.select(col("doc_id"), col("url"),
          canon.as("canon_url"),
          md5(canon.cast("binary")).as("canon_key"))
        // within-batch keep-first: digest-keyed min-doc_id groupBy
        // (map-side combined, skew-free by construction) + join back —
        // the Dedup.exact discipline, no window over the batch
        val winners = keyed.join(
          keyed.groupBy(col("canon_key"))
            .agg(min(col("doc_id")).as("doc_id")),
          Seq("canon_key", "doc_id"), "left_semi")
        // survivors feed TWO actions (the state write and the
        // callback) — cache so the batch dedup chain runs once
        val survivors = graft.plans.Materialize(seenKeyScreen(winners,
          committedBatchDirs(java.nio.file.Paths.get(statePath), batchId)))
        graft.operators.Merge.atomicOverwrite(
          survivors.select(col("canon_key")), s"$statePath/b$batchId")
        onSurvivors(survivors.select(col("doc_id"), col("url"),
          col("canon_url"), col("canon_key")))
        graft.plans.Materialize.free(survivors, blocking = false)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming HOST-BUDGET ADMISSION — the online enforcement twin of
    * `corpus_host_cap`, closing the crawl-policy loop this engine's
    * batch faces feed (`dedup_url_hosts` measures per-host duplication,
    * `corpus_host_cap` derives ratio-scaled caps, this admits documents
    * against those caps AS THEY ARRIVE): each micro-batch's URLs are
    * canonicalized, keep-first deduplicated within the batch and
    * against the accumulated seen-key state (the [[urlDedupStream]]
    * two-broadcast-join screen — the corpus-sized digest set never
    * shuffles), then ADMITTED per host while the host's budget lasts.
    * The budget is recomputed per batch from CUMULATIVE knowledge —
    * `cap_h = max(1, ⌊base·(1 − dup_ratio_h)⌋)` with `dup_ratio_h`
    * over every URL seen so far (the batch twin's rule applied to the
    * stream's prefix), `remaining_h = max(0, cap_h − kept_h)` — so a
    * host that reveals itself as a mirror farm mid-crawl loses its
    * allowance for later batches even though its early documents were
    * admitted. Admission within a batch is first-by-doc_id through
    * [[graft.functions.TextAnalysis.capPerGroup]] (two-phase cap — no
    * per-host window over the batch). PRECONDITION: doc_ids globally
    * unique and arrival-ordered (the [[topkStream]] convention).
    *
    * State, under the replay rule ([[Streams]]): (1) first-seen
    * canonical keys, APPEND-ONLY under `statePath/keys`; ALL
    * first-seen keys are recorded, admitted or not — key knowledge is
    * what the dup ratio measures, the budget only gates fetching. (2)
    * per-host counters `(host, n_urls, n_canonical, n_kept)`, one row
    * per host, a snapshot under `statePath/counters`.
    *
    * The callback receives this batch's admitted `(doc_id, url,
    * canon_url, canon_key, host)` — the fetch queue under budget.
    */
  def hostCapStream(
      docs: DataFrame,
      statePath: String,
      checkpoint: String,
      baseCap: Int,
      onAdmitted: DataFrame => Unit,
  ): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val countersPath = s"$statePath/counters"
        val canon = graft.functions.Normalize.canonicalUrl(col("url"))
        val keyed = batch.select(col("doc_id"), col("url"),
          canon.as("canon_url"),
          md5(canon.cast("binary")).as("canon_key"),
          graft.functions.Normalize.urlHost(col("url")).as("host"))
        val winners = keyed.join(
          keyed.groupBy(col("canon_key"))
            .agg(min(col("doc_id")).as("doc_id")),
          Seq("canon_key", "doc_id"), "left_semi")
        // fresh feeds four consumers (stats, admission, the key
        // write, the emitted rows' lineage) — cache it once
        val fresh = graft.plans.Materialize(seenKeyScreen(winners,
          committedBatchDirs(
            java.nio.file.Paths.get(s"$statePath/keys"), batchId)))
        // cumulative per-host knowledge INCLUDING this batch: every
        // batch row counts as a seen URL, every fresh key as a new
        // canonical resource
        val batchStats = keyed.groupBy(col("host"))
          .agg(count(lit(1)).as("n_urls_b"))
          .join(fresh.groupBy(col("host"))
            .agg(count(lit(1)).as("n_new_b")), Seq("host"), "left")
          .na.fill(0L, Seq("n_new_b"))
        // counters feeds budgets AND the post-admission update
        val counters = graft.plans.Materialize(
          priorSnapshot(batch.sparkSession, countersPath, batchId) match {
            case None => batchStats.select(col("host"),
              col("n_urls_b").as("n_urls"),
              col("n_new_b").as("n_canonical"), lit(0L).as("n_kept"))
            case Some(st) => st
              .join(batchStats, Seq("host"), "full_outer")
              .select(col("host"),
                (coalesce(col("n_urls"), lit(0L))
                  + coalesce(col("n_urls_b"), lit(0L))).as("n_urls"),
                (coalesce(col("n_canonical"), lit(0L))
                  + coalesce(col("n_new_b"), lit(0L))).as("n_canonical"),
                coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          })
        // the batch twin's cap rule on the stream's prefix
        val budgets = counters
          .withColumn("dup_ratio",
            round(lit(1.0) - col("n_canonical").cast("double")
              / col("n_urls").cast("double"), 4))
          .withColumn("cap", greatest(lit(1L),
            floor(lit(baseCap.toDouble) * (lit(1.0) - col("dup_ratio")))
              .cast("long")))
          .select(col("host"),
            greatest(lit(0L), col("cap") - col("n_kept"))
              .as("remaining"))
        // admitted feeds the counter update AND the callback
        val admitted = graft.plans.Materialize(
          graft.functions.TextAnalysis.capPerGroup(
            fresh, budgets, "remaining", baseCap, "host",
            col("doc_id"), col("doc_id")))
        graft.operators.Merge.atomicOverwrite(
          fresh.select(col("canon_key")), s"$statePath/keys/b$batchId")
        commitSnapshot(
          counters.join(
              admitted.groupBy(col("host"))
                .agg(count(lit(1)).as("n_adm_b")), Seq("host"), "left")
            .na.fill(0L, Seq("n_adm_b"))
            .select(col("host"), col("n_urls"), col("n_canonical"),
              (col("n_kept") + col("n_adm_b")).as("n_kept")),
          countersPath, batchId)
        onAdmitted(admitted.select(col("doc_id"), col("url"),
          col("canon_url"), col("canon_key"), col("host")))
        Seq(admitted, counters, fresh)
          .foreach(graft.plans.Materialize.free(_, blocking = false))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming INCREMENTAL NEAR-DUP SCREEN — the daily-ingest twin of
    * `dedup_incremental_neardup` ([[graft.functions.Dedup
    * .crossJaccardPairs]]) end-to-end: each micro-batch's documents
    * are exact-Jaccard screened against the ACCUMULATED history (and
    * against earlier rows of the same batch, by doc_id — a batch
    * carrying two copies must flag the later one), so the union of
    * emitted pairs over ANY chronological batching equals the
    * batching-invariant directional pair set {(later, earlier) :
    * J ≥ t} (spec-pinned ≡ the batch `ngramJaccardPairs` re-keyed by
    * arrival). PRECONDITION: doc_ids globally unique and
    * arrival-ordered (the [[topkStream]] convention).
    *
    * State is the history's `(doc_id, shingles)` table, APPEND-ONLY
    * under the replay rule ([[Streams]]): each batch writes its own
    * shingle table under `statePath/b<batchId>`, so per-batch I/O is
    * O(batch) — a full-state snapshot per micro-batch would be
    * quadratic over an ingest day at corpus scale. History is re-read
    * from columnar parquet per batch and never re-shingled. Internal
    * checkpoints are freed per batch
    * ([[graft.functions.Dedup.ingestScreenPairs]]); the emitted pairs
    * table is freed after the callback returns.
    */
  def neardupScreenStream(
      docs: DataFrame,
      statePath: String,
      checkpoint: String,
      w: Int = 3,
      threshold: Double = 0.5,
      onPairs: DataFrame => Unit,
  ): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.plans.GraftFunctions.register(spark)
        // one kernel pass shingles the batch; the table serves the
        // screen AND becomes this batch's history increment
        val arrs = graft.plans.Materialize(
          graft.functions.Dedup.shingleTable(batch, w))
        // history = every COMMITTED prior batch's directory
        val priorDirs = committedBatchDirs(
          java.nio.file.Paths.get(statePath), batchId)
        val history =
          if (priorDirs.nonEmpty) spark.read.parquet(priorDirs: _*)
          else arrs.select("doc_id", "shingles").limit(0)
        val pairs = graft.functions.Dedup
          .ingestScreenPairs(arrs, history, threshold)
        graft.operators.Merge.atomicOverwrite(
          arrs.select("doc_id", "shingles"), s"$statePath/b$batchId")
        onPairs(pairs)
        graft.plans.Materialize.free(pairs, blocking = false)
        graft.plans.Materialize.free(arrs, blocking = false)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
