package graft

import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** Streaming surfaces (SURVEY.md §2.8): incremental change-log replay
  * via AvailableNow + foreachBatch, log tail, windowed aggregation
  * batch/stream equivalence.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** The newest snapshot a snapshot-state stream committed under `root`. */
  private def newestSnapshot(root: String) =
    Streams.priorSnapshot(spark, root, Long.MaxValue).get

  test("changeLogStream + replay: AvailableNow processes all pending entries once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    Seq((1L, "R1", "t1"), (2L, null.asInstanceOf[String], "t1"), (3L, "R2", "t2"))
      .toDF("log_id", "rsbsa_no", "table")
      .write.parquet(s"$dir/batch1.parquet")
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = Streams.replay(
      Streams.changeLogStream(spark, s"$dir/*"),
      onBatch = (batch, _) => seen.addAndGet(batch.count()),
      checkpoint = ckpt)
    q.awaitTermination(60000)
    assert(seen.get() == 2) // null-key row filtered (P6), rest replayed

    // incremental: new file → only new entries on restart (offset kept)
    Seq((4L, "R3", "t1")).toDF("log_id", "rsbsa_no", "table")
      .write.parquet(s"$dir/batch2.parquet")
    val seen2 = new java.util.concurrent.atomic.AtomicLong(0)
    val q2 = Streams.replay(
      Streams.changeLogStream(spark, s"$dir/*"),
      onBatch = (batch, _) => seen2.addAndGet(batch.count()),
      checkpoint = ckpt)
    q2.awaitTermination(60000)
    assert(seen2.get() == 1) // only the new entry — true incrementality
  }

  test("resident replay paces micro-batches with a ProcessingTime trigger (R5)") {
    // the reference throttles its replay loop with a 100 ms sleep
    // between batches (etlService.js:734); the Spark-native form is a
    // resident ProcessingTime trigger — same pacing contract, engine-
    // managed. The AvailableNow tests cover the cron-tick arm; this
    // covers the resident arm.
    val dir = java.nio.file.Files.createTempDirectory("graft-resident").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-resident-ckpt").toString
    Seq((1L, "R1", "t1"), (2L, "R2", "t2")).toDF("log_id", "rsbsa_no", "table")
      .write.parquet(s"$dir/batch1.parquet")
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = Streams.replay(
      Streams.changeLogStream(spark, s"$dir/*"),
      onBatch = (batch, _) => seen.addAndGet(batch.count()),
      checkpoint = ckpt, availableNow = false, interval = "100 milliseconds")
    try {
      q.processAllAvailable()
      assert(seen.get() == 2)
      assert(q.isActive) // resident: keeps ticking after draining, unlike AvailableNow
      Seq((3L, "R3", "t1")).toDF("log_id", "rsbsa_no", "table")
        .write.parquet(s"$dir/batch2.parquet")
      q.processAllAvailable()
      assert(seen.get() == 3) // picked up by a later paced tick, exactly once
    } finally q.stop()
  }

  test("watermark drops late events from finalized windows (append mode)") {
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("graft-late").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-late-ckpt").toString
    def ts(s: String) = Timestamp.valueOf(s"2026-01-01 $s")
    val schema = Seq((ts("10:30:00"), "t1", 1.0)).toDF("ts", "table", "value").schema
    // one RESIDENT query: the watermark advances between micro-batches
    // within the run (restart watermark recovery is a separate concern)
    val stream = spark.readStream.schema(schema).parquet(s"$dir/*")
    val q = Streams.windowedActivity(stream, watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // batch 1: an event in the 10:00 window + a 12:30 event that
      // advances the watermark past that window's end
      Seq((ts("10:30:00"), "t1", 1.0), (ts("12:30:00"), "t1", 1.0))
        .toDF("ts", "table", "value").write.parquet(s"$dir/b1.parquet")
      q.processAllAvailable()
      // batch 2: one LATE event inside the closed 10:00 window and one
      // on-time event — the late one must be dropped, not resurrected
      Seq((ts("10:15:00"), "t1", 99.0), (ts("12:45:00"), "t1", 1.0))
        .toDF("ts", "table", "value").write.parquet(s"$dir/b2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("late_out")
      .select($"w_start", $"n", $"total_value").collect()
      .map(r => (r.getTimestamp(0).toString.substring(11, 13), r.getLong(1), r.getDouble(2)))
    val w10 = out.filter(_._1 == "10")
    // the finalized 10:00 window was emitted exactly once, WITHOUT the
    // late 99.0 event (append mode re-emits nothing)
    assert(w10.toSeq == Seq(("10", 1L, 1.0)), out.toSeq.toString)
  }

  test("windowed activity: streaming result equals batch computation") {
    val events = sources.Readers.validChangeLog(spark, sfDir)
      .select("log_id", "rsbsa_no", "table", "ts", "value")
    val batchResult = events
      .withColumn("ts", $"ts".cast("timestamp")) // match streaming side
      .groupBy(window($"ts", "1 hour"), $"table")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total_value"))
      .select($"window.start".as("w_start"), $"table", $"n", $"total_value")

    val dir = java.nio.file.Files.createTempDirectory("graft-winsrc").toString
    events.write.parquet(s"$dir/data.parquet")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/*")
    val agg = Streams.windowedActivity(stream)
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("win_out")
      .select("w_start", "table", "n", "total_value")
    assert(streamed.count() == batchResult.count())
    assert(streamed.exceptAll(batchResult).isEmpty)
    assert(batchResult.exceptAll(streamed).isEmpty)
  }

  test("stream-stream interval join pairs across micro-batches; batch face agrees") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s"2026-01-01 $s")
    val dirV = java.nio.file.Files.createTempDirectory("graft-ssj-v").toString
    val dirC = java.nio.file.Files.createTempDirectory("graft-ssj-c").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ssj-ckpt").toString
    def df(rows: Seq[(Long, Long, String, Timestamp)]) =
      rows.toDF("log_id", "rsbsa_no", "table", "ts")
    val schema = df(Seq((0L, 0L, "x", ts("00:00:00")))).schema
    val views = spark.readStream.schema(schema).parquet(s"$dirV/*")
    val clicks = spark.readStream.schema(schema).parquet(s"$dirC/*")
    val q = Streams.correlatedEvents(views, clicks, maxDelay = "15 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .option("checkpointLocation", ckpt)
      .start()
    val b1v = Seq((1L, 7L, "view", ts("10:00:00")))
    val b1c = Seq((2L, 7L, "click", ts("10:05:00")),  // in-band match
      (3L, 8L, "click", ts("10:05:00")))              // no view for user 8
    val b2c = Seq((4L, 7L, "click", ts("10:10:00")),  // matches ACROSS batches
      (5L, 7L, "click", ts("11:00:00")))              // outside the 15-min band
    try {
      df(b1v).write.parquet(s"$dirV/b1.parquet")
      df(b1c).write.parquet(s"$dirC/b1.parquet")
      q.processAllAvailable()
      df(b2c).write.parquet(s"$dirC/b2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssj_out")
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    // the buffered view from batch 1 still matches batch 2's click
    assert(got == Set((1L, 2L), (1L, 4L)))
    // the batch face — same operator, watermark no-ops — agrees exactly
    val batch = Streams.correlatedEvents(
        df(b1v), df(b1c ++ b2c), maxDelay = "15 minutes")
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(batch == got)
  }

  test("streaming z-score equals the batch operator on a chronological replay") {
    import java.sql.Timestamp
    def tsm(m: Int) = Timestamp.valueOf(f"2026-01-01 ${1 + m / 60}%02d:${m % 60}%02d:00")
    // two keys: key 7 calm-then-spike, key 8 noisy ramp — enough rows
    // that batches 1 and 2 both carry scored observations
    val rows = (0 until 15).map(i =>
      (i.toLong, 7L, "t", tsm(i), if (i == 14) 99.0 else if (i % 2 == 0) 10.0 else 12.3)) ++
      (0 until 14).map(i => (100L + i, 8L, "t", tsm(i), 1.0 + i * 0.07))
    val df = rows.toDF("log_id", "rsbsa_no", "table", "ts", "value")
    val batch = graft.operators.TimeSeries
      .rollingZScore(df, "rsbsa_no", "ts", "log_id", "value",
        lookback = 8, minBaseline = 5)
      .select("log_id", "z", "is_anomaly")
      .as[(Long, Double, Boolean)].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("graft-zs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-zs-ckpt").toString
    val stream = spark.readStream.schema(df.schema).parquet(s"$dir/*")
    val q = Streams.anomalyStream(stream, lookback = 8, minBaseline = 5)
      .toDF("log_id", "rsbsa_no", "value", "z", "is_anomaly")
      .writeStream.outputMode("append")
      .format("memory").queryName("zs_out")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // chronological split: each key's earlier half, then the rest.
      // coalesce(1) keeps each batch dir a single atomic rename — a
      // live source listing must never see a half-committed batch
      // (the z-score contract is arrival-order).
      val (b1, b2) = rows.partition(_._4.getTime < tsm(8).getTime)
      b1.toDF("log_id", "rsbsa_no", "table", "ts", "value")
        .coalesce(1).write.parquet(s"$dir/b1.parquet")
      q.processAllAvailable()
      b2.toDF("log_id", "rsbsa_no", "table", "ts", "value")
        .coalesce(1).write.parquet(s"$dir/b2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("zs_out")
      .select("log_id", "z", "is_anomaly")
      .as[(Long, Double, Boolean)].collect().toSet
    assert(streamed == batch, // bit-identical z, ring state carried across batches
      s"stream=${streamed.toSeq.sortBy(_._1)}\nbatch=${batch.toSeq.sortBy(_._1)}")
    assert(batch.exists(_._3), "fixture should contain an anomaly")
  }

  test("streaming Holt is bit-identical to the batch windowed fold across batches") {
    import java.sql.Timestamp
    def tsm(m: Int) = Timestamp.valueOf(f"2026-01-01 01:$m%02d:00")
    // two keys, values strictly 2-decimal (the cents-ring contract);
    // series longer than lookback so truncation is exercised
    // cents-first construction (c / 100.0): the cents ring's replay of
    // DECIMAL(18,2)→DOUBLE is exact only for values that ARE 2-decimal
    // doubles — 10.0 + 1.37*k would differ from its decimal roundtrip
    // by an ulp and the contract doesn't cover such inputs
    val rows = (0 until 15).map(i =>
      (i.toLong, 7L, "t", tsm(i), (1000L + 137L * (i % 5)) / 100.0)) ++
      (0 until 12).map(i => (100L + i, 8L, "t", tsm(i), (525L + 50L * i) / 100.0))
    val df = rows.toDF("log_id", "rsbsa_no", "table", "ts", "value")
    val batch = graft.operators.TimeSeries
      .holt(df, "rsbsa_no", "ts", "log_id", "value",
        alpha = 0.3, gamma = 0.1, lookback = 8)
      .select("log_id", "n_obs", "level", "trend", "forecast")
      .as[(Long, Long, Double, Double, Double)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-holt").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-holt-ckpt").toString
    val stream = spark.readStream.schema(df.schema).parquet(s"$dir/*")
    val q = Streams.holtStream(stream, alpha = 0.3, gamma = 0.1, lookback = 8)
      .toDF("log_id", "rsbsa_no", "value", "n_obs", "level", "trend", "forecast")
      .writeStream.outputMode("append")
      .format("memory").queryName("holt_out")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      val (b1, b2) = rows.partition(_._4.getTime < tsm(8).getTime)
      b1.toDF("log_id", "rsbsa_no", "table", "ts", "value")
        .coalesce(1).write.parquet(s"$dir/b1.parquet")
      q.processAllAvailable()
      b2.toDF("log_id", "rsbsa_no", "table", "ts", "value")
        .coalesce(1).write.parquet(s"$dir/b2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("holt_out")
      .select("log_id", "n_obs", "level", "trend", "forecast")
      .as[(Long, Long, Double, Double, Double)].collect().toSet
    assert(streamed == batch,
      s"stream=${streamed.toSeq.sortBy(_._1)}\nbatch=${batch.toSeq.sortBy(_._1)}")
  }

  test("streaming z-score ring state survives a query restart (checkpoint recovery)") {
    import java.sql.Timestamp
    def tsm(m: Int) = Timestamp.valueOf(f"2026-01-01 01:$m%02d:00")
    val rows = (0 until 12).map(i =>
      (i.toLong, 7L, "t", tsm(i), if (i == 11) 77.0 else 5.0 + (i % 2)))
    val df = rows.toDF("log_id", "rsbsa_no", "table", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft-zsr").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-zsr-ckpt").toString
    // memory sinks cannot recover a checkpoint — a restart test needs a
    // durable (file) sink
    val outDir = java.nio.file.Files.createTempDirectory("graft-zsr-out").toString
    def start() = Streams.anomalyStream(
        spark.readStream.schema(df.schema).parquet(s"$dir/*"),
        lookback = 8, minBaseline = 5)
      .toDF("log_id", "rsbsa_no", "value", "z", "is_anomaly")
      .writeStream.outputMode("append")
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    try {
      // coalesce(1): one part file per batch dir, so a concurrent
      // source listing can never see a half-committed batch
      rows.take(8).toDF("log_id", "rsbsa_no", "table", "ts", "value")
        .coalesce(1).write.parquet(s"$dir/b1.parquet")
      q1.processAllAvailable()
    } finally q1.stop()
    // batch 2 lands while NO query runs; the restarted query must
    // recover the ring (last 8 of batch 1) to score it correctly
    rows.drop(8).toDF("log_id", "rsbsa_no", "table", "ts", "value")
      .coalesce(1).write.parquet(s"$dir/b2.parquet")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir)
      .select("log_id", "z", "is_anomaly")
      .as[(Long, Double, Boolean)].collect().toSet
    val batch = graft.operators.TimeSeries
      .rollingZScore(df, "rsbsa_no", "ts", "log_id", "value",
        lookback = 8, minBaseline = 5)
      .select("log_id", "z", "is_anomaly")
      .as[(Long, Double, Boolean)].collect().toSet
    assert(got == batch,
      s"restart lost ring state:\nstream=${got.toSeq.sortBy(_._1)}" +
        s"\nbatch=${batch.toSeq.sortBy(_._1)}")
    assert(got.exists(_._3), "the post-restart spike should flag")
  }

  test("anomaly stream idle-timeout eviction: an evicted key restarts its baseline") {
    import java.sql.Timestamp
    def tsm(m: Int) = Timestamp.valueOf(f"2026-01-01 01:$m%02d:00")
    val schema = Seq((0L, 0L, "t", tsm(0), 0.0))
      .toDF("log_id", "rsbsa_no", "table", "ts", "value").schema
    val dir = java.nio.file.Files.createTempDirectory("graft-evict").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-evict-ckpt").toString
    // opt-in eviction: ProcessingTimeTimeout keeps the engine running
    // no-data batches continuously, so processAllAvailable would never
    // settle — this test POLLS the sink instead (the documented
    // consumption pattern for evicting deployments)
    val q = Streams.anomalyStream(
        spark.readStream.schema(schema).parquet(s"$dir/*"),
        lookback = 8, minBaseline = 3, idleTimeoutMs = 300L)
      .toDF("log_id", "rsbsa_no", "value", "z", "is_anomaly")
      .writeStream.outputMode("append")
      .format("memory").queryName("evict_out")
      .option("checkpointLocation", ckpt)
      .start()
    def outRows() = spark.table("evict_out")
      .select("log_id", "rsbsa_no").as[(Long, Long)].collect().toSet
    def awaitRow(p: ((Long, Long)) => Boolean, what: String): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!outRows().exists(p)) {
        assert(System.nanoTime() < deadline, s"timed out waiting for $what")
        Thread.sleep(100)
      }
    }
    try {
      // batch 1: key 7 builds a ≥3-row baseline and scores rows 4-6
      (0 until 6).map(i => (i.toLong, 7L, "t", tsm(i), 5.0 + (i % 2)))
        .toDF("log_id", "rsbsa_no", "table", "ts", "value")
        .coalesce(1).write.parquet(s"$dir/b1.parquet")
      awaitRow(_._2 == 7L, "batch-1 key-7 scores")
      Thread.sleep(1500) // >> idleTimeoutMs: no-data batches evict key 7
      // batch 2: two key-7 rows (scored ONLY if the old ring survived)
      // plus a fresh key-9 baseline whose score is the processed-sentinel
      ((0 until 5).map(i => (200L + i, 9L, "t", tsm(10 + i), 5.0 + (i % 2))) ++
        Seq((100L, 7L, "t", tsm(10), 5.0), (101L, 7L, "t", tsm(11), 6.0)))
        .toDF("log_id", "rsbsa_no", "table", "ts", "value")
        .coalesce(1).write.parquet(s"$dir/b2.parquet")
      awaitRow(r => r._2 == 9L && r._1 >= 200L, "batch-2 key-9 sentinel")
      // the evicted key saw only 2 rows since restart (< minBaseline=3):
      // a score for log_id 100/101 means the ring was NOT evicted
      assert(!outRows().exists(r => r._1 == 100L || r._1 == 101L),
        "key 7 scored after eviction — ring state survived the idle timeout")
    } finally q.stop()
  }

  test("streaming replay drives an incremental merge (R2 end-to-end)") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-r2src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-r2ckpt").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft-r2tgt").toString + "/t.parquet"
    // initial target state
    operators.Merge.atomicOverwrite(
      Seq(("R1", "old"), ("R2", "old")).toDF("rsbsa_no", "payload"), tgt)

    def replayAll(): Unit = {
      val q = Streams.replay(
        Streams.changeLogStream(spark, s"$srcDir/*"),
        onBatch = (batch, _) => {
          val merged = operators.Merge.replaceByKey(
            spark.read.parquet(tgt),
            operators.Merge.latestPerKey(
              batch.select($"rsbsa_no", $"log_id",
                concat(lit("v"), $"log_id").as("payload")),
              "rsbsa_no", "log_id").select("rsbsa_no", "payload"),
            "rsbsa_no")
          operators.Merge.atomicOverwrite(merged, tgt)
        },
        checkpoint = ckpt)
      q.awaitTermination(120000)
    }

    Seq((1L, "R1", "t"), (2L, "R1", "t"), (3L, "R3", "t"))
      .toDF("log_id", "rsbsa_no", "table")
      .write.parquet(s"$srcDir/b1.parquet")
    replayAll()
    val after1 = spark.read.parquet(tgt)
      .as[(String, String)].collect().toMap
    assert(after1 == Map("R1" -> "v2", "R2" -> "old", "R3" -> "v3"))

    // second micro-batch only replays the new entries (offsets kept)
    Seq((4L, "R2", "t")).toDF("log_id", "rsbsa_no", "table")
      .write.parquet(s"$srcDir/b2.parquet")
    replayAll()
    val after2 = spark.read.parquet(tgt)
      .as[(String, String)].collect().toMap
    assert(after2 == Map("R1" -> "v2", "R2" -> "v4", "R3" -> "v3"))
  }

  test("gopher quality filter applies unchanged to a stream (stateless map)") {
    // The filter is a narrow map, so the same Column expressions drive
    // batch curation and streaming ingest gating identically.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val batchSignals = graft.functions.TextAnalysis
      .gopherSignals(docs, col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-gopher").toString
    docs.write.parquet(s"$dir/data.parquet")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$dir/*")
    val q = graft.functions.TextAnalysis.gopherSignals(stream, col("text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("gopher_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("gopher_out")
    assert(streamed.count() == batchSignals.count() && streamed.count() > 0)
    assert(streamed.exceptAll(batchSignals).isEmpty)
    assert(batchSignals.exceptAll(streamed).isEmpty)
  }

  test("streaming CMS heavy hitters: final sketch ≡ batch sketch across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hh").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hh-ck").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").filter($"doc_id" < 120)
    // two micro-batches with DISJOINT halves of the corpus: the merged
    // stream state must equal the one-shot batch sketch over the union
    docs.filter($"doc_id" < 60).write.parquet(s"$dir/in/b1.parquet")
    docs.filter($"doc_id" >= 60).write.parquet(s"$dir/in/b2.parquet")
    var last: Option[org.apache.spark.sql.DataFrame] = None
    val q = Streams.heavyHittersStream(
      spark.readStream.schema(schema).parquet(s"$dir/in/*"), ckpt,
      sketch => { last = Some(sketch.sparkSession.createDataFrame(
        java.util.Arrays.asList(sketch.collect(): _*), sketch.schema)) },
      d = 2, w = 256, sampleMod = 8)
    q.awaitTermination(120000)
    val streamed = last.get
    val batch = graft.functions.TextAnalysis
      .cmsHeavyHitterSketch(docs, d = 2, w = 256, sampleMod = 8)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed sketch state diverged from the batch sketch")
  }

  test("streaming drift monitor: per-batch TV vs accumulated reference, batch-exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-drift-ck").toString
    val state = s"$dir/state.parquet"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").filter($"doc_id" < 100)
    val h1 = docs.filter($"doc_id" < 50)
    val h2 = docs.filter($"doc_id" >= 50)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Double, Long, Long)]()
    def run(): Unit = {
      val q = Streams.driftStream(
        spark.readStream.schema(schema).parquet(s"$dir/in/*"), state, ckpt,
        (id, tv, nb, nr) => out += ((id, tv, nb, nr)))
      q.awaitTermination(120000)
    }
    h1.write.parquet(s"$dir/in/b1.parquet")
    run()
    h2.write.parquet(s"$dir/in/b2.parquet")
    run()
    assert(out.size == 2, out)
    // first batch has no reference → 0.0
    assert(out(0)._2 == 0.0 && out(0)._4 == 0L)
    // second batch's TV must equal the BATCH computation h2-vs-h1
    def counts(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(org.apache.spark.sql.functions.filter(
        split(lower($"text"), "\\s+"), t => length(t) > 0)).as("token"))
      .groupBy("token").count().as[(String, Long)].collect().toMap
    val (c1, c2) = (counts(h1), counts(h2))
    val (n1, n2) = (c1.values.sum, c2.values.sum)
    val dev = (c1.keySet ++ c2.keySet).toSeq.map(t =>
      math.abs(c2.getOrElse(t, 0L) * n1 - c1.getOrElse(t, 0L) * n2)).sum
    val want = dev.toDouble / (2.0 * n2.toDouble * n1.toDouble)
    assert(math.abs(out(1)._2 - want) < 1e-12,
      s"streamed TV ${out(1)._2} vs batch $want")
    // state accumulated both batches
    assert(newestSnapshot(state).agg(sum($"c")).head().getLong(0) == n1 + n2)
  }

  test("streaming curation funnel: accumulated stage counts equal the batch funnel") {
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-funnel-ck").toString
    val state = s"$dir/state"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val schema = docs.schema
    // doc_id-ordered batches: global keep-first-by-key then equals the
    // batch window's first-by-doc_id, so stream totals must be EXACT
    val h1 = docs.filter($"doc_id" < 250)
    val h2 = docs.filter($"doc_id" >= 250)
    var last: Option[Seq[(Long, String, Long, Long, Double)]] = None
    def run(): Unit = {
      val q = Streams.funnelStream(
        spark.readStream.schema(schema).parquet(s"$dir/in/*"),
        Queries.funnelScreens, Queries.funnelDedup, state, ckpt,
        f => { last = Some(f.orderBy("stage")
          .as[(Long, String, Long, Long, Double)].collect().toSeq) })
      q.awaitTermination(120000)
    }
    h1.write.parquet(s"$dir/in/b1.parquet")
    run()
    val afterB1 = last.get
    assert(afterB1.head._3 == 250L, afterB1) // n_in of stage 1 = batch size
    h2.write.parquet(s"$dir/in/b2.parquet")
    run()
    val streamed = last.get
    val batch = graft.functions.TextAnalysis
      .curationFunnel(docs, Queries.funnelScreens,
        dedupStage = Some(Queries.funnelDedup))
      .orderBy("stage")
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(streamed == batch,
      s"stream totals diverged:\n  stream $streamed\n  batch  $batch")
    // restart recovery: the seen-keys state makes a re-fed duplicate
    // batch contribute ZERO to the dedup stage's kept count
    h2.write.mode("overwrite").parquet(s"$dir/in/b3.parquet")
    run()
    val afterDup = last.get
    assert(afterDup.last._4 == batch.last._4,
      s"re-fed batch inflated dedup survivors: $afterDup")
  }

  test("streaming top-k maintenance: incremental state equals brute-force top-k across restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-topk").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-topk-ck").toString
    val state = s"$dir/state"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val qids = Seq(0L, 1L, 2L)
    val queries = embs.filter($"vec_id".isin(qids.map(Long.box): _*))
    val schema = embs.schema
    var last: Option[Seq[(Long, Long, Long, Double)]] = None
    def run(): Unit = {
      val q = Streams.topkStream(
        spark.readStream.schema(schema).parquet(s"$dir/in/*"),
        queries, k = 10, state, ckpt,
        t => { last = Some(t.orderBy("qid", "rank")
          .as[(Long, Long, Long, Double)].collect().toSeq) })
      q.awaitTermination(120000)
    }
    val mid = 80L
    embs.filter($"vec_id" < mid).write.parquet(s"$dir/in/b1.parquet")
    run() // batch 1, then a RESTART
    embs.filter($"vec_id" >= mid).write.parquet(s"$dir/in/b2.parquet")
    run()
    val streamed = last.get
    val batch = graft.functions.Similarity.bruteForceTopK(embs, qids, 10)
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(streamed == batch,
      s"incremental top-k diverged:\n  stream ${streamed.take(6)}…" +
        s"\n  batch  ${batch.take(6)}…")
    // state really is bounded at |queries|·k rows
    assert(newestSnapshot(state).count() == qids.size * 10L)
  }

  test("streaming PII audit: accumulated per-source counts equal the batch audit across restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pii").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pii-ck").toString
    val state = s"$dir/state"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    // the sf0.001 fixture carries no PII — decorate every 7th doc with
    // one hit of each type so the typed counters are exercised on BOTH
    // faces identically
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact a.b@mail.co at 10.0.0.1 or +6329876543 ")))
          .otherwise(col("text")).as("text"))
    val schema = docs.schema
    var last: Option[Seq[(String, Long, Long, Long, Long, Long, Double)]] = None
    def run(): Unit = {
      val q = Streams.piiAuditStream(
        spark.readStream.schema(schema).parquet(s"$dir/in/*"),
        state, ckpt,
        a => { last = Some(a.orderBy("source")
          .as[(String, Long, Long, Long, Long, Long, Double)]
          .collect().toSeq) })
      q.awaitTermination(120000)
    }
    docs.filter($"doc_id" < 250).write.parquet(s"$dir/in/b1.parquet")
    run() // batch 1, then a RESTART (new query, same checkpoint/state)
    assert(last.get.map(_._2).sum == 250L, last.get)
    docs.filter($"doc_id" >= 250).write.parquet(s"$dir/in/b2.parquet")
    run()
    val streamed = last.get
    val batch = graft.functions.TextAnalysis.piiAudit(docs)
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(streamed == batch,
      s"stream audit diverged:\n  stream $streamed\n  batch  $batch")
    // the fixture must actually exercise the typed counters
    assert(batch.map(_._3).sum + batch.map(_._4).sum + batch.map(_._5).sum > 0,
      "fixture contains no PII at all — audit untested")
  }

  test("streaming embedding drift: per-batch max mean-shift vs reference, batch-exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-edrift").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-edrift-ck").toString
    val state = s"$dir/state.parquet"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val h1 = emb.filter($"vec_id" < 250)
    val h2 = emb.filter($"vec_id" >= 250)
    val schema = h1.schema
    val out = scala.collection.mutable.ArrayBuffer[(Long, Double, Long, Long)]()
    def run(): Unit = {
      val q = Streams.embDriftStream(
        spark.readStream.schema(schema).parquet(s"$dir/in/*"), state, ckpt,
        (id, ms, nb, nr) => out += ((id, ms, nb, nr)))
      q.awaitTermination(120000)
    }
    h1.write.parquet(s"$dir/in/b1.parquet")
    run()
    h2.write.parquet(s"$dir/in/b2.parquet")
    run()
    assert(out.size == 2, out)
    assert(out(0)._2 == 0.0 && out(0)._4 == 0L)
    // second batch's max shift must equal the BATCH emb_drift maximum
    // (h2 as the batch, h1 as the reference): max over dims of
    // |s2*n1 - s1*n2| / (n1*n2*1000) — the registered query's formula
    val q = Queries.embDrift(spark, sfDir)
    val want = q.select(
      (col("drift_num").cast("double")
        / (col("n1") * col("n2")).cast("double") / 1000.0).as("ms"))
      .agg(org.apache.spark.sql.functions.max($"ms")).head().getDouble(0)
    assert(math.abs(out(1)._2 - want) < 1e-12,
      s"streamed shift ${out(1)._2} vs batch $want")
    // reference accumulated both halves
    assert(newestSnapshot(state).agg(sum($"n")).head().getLong(0)
      == emb.count() * 64)
  }

  test("streaming near-dup filter drops dups across and within micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nds").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-nds-ck").toString
    val state = s"$dir/state.parquet"
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    def docStream() = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      spark.readStream.schema(schema).parquet(s"$dir/in/*")
    }
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    def run(): Unit = {
      val q = Streams.nearDupFreeStream(docStream(), state, ckpt,
        survivors => out ++= survivors.select("doc_id")
          .collect().map(_.getLong(0)))
      q.awaitTermination(120000)
    }
    // batch 1: novel doc + its exact copy (within-batch dup) + novel
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    Seq((1L, base), (2L, base), (3L, "completely different content here with many original words"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in/b1.parquet")
    run()
    assert(out.sorted == Seq(1L, 3L), out)

    // batch 2: near-dup of batch-1 doc (one word changed; hamming 1
    // under the md5-portable token hashes) is dropped ACROSS batches;
    // a genuinely novel doc passes
    out.clear()
    Seq((4L, base.replace("dog", "pup")),
        (5L, "nothing like anything processed before in any earlier batch at all"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in/b2.parquet")
    run()
    assert(out.sorted == Seq(5L), out)
    // state holds every seen fingerprint
    assert(newestSnapshot(state).count() == 5)
  }

  test("log tail stream parses [ts] message lines (R4/S10)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-logs").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/app.log"),
      "[2025-05-03T10:31:00.800Z] Starting ETL process. Total records: 8\n" +
      "\n" + // blank dropped
      "[2025-05-03T10:31:02.080Z] ETL process completed. Processed: 17, Skipped: 0\n")
    val q = Streams.logTail(spark, dir)
      .writeStream.format("memory").queryName("log_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-logckpt").toString)
      .start()
    q.awaitTermination(60000)
    val rows = spark.table("log_out").orderBy("ts").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "2025-05-03T10:31:00.800Z")
    assert(rows(0).getString(1) == "Starting ETL process. Total records: 8")
    assert(rows(1).getString(1).startsWith("ETL process completed"))
  }

  test("batch log scan: last-100 newest-first (S9/W3 shape)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-logs2").toString
    val lines = (1 to 150).map(i =>
      f"[2025-05-03T10:${i / 60}%02d:${i % 60}%02d.000Z] run $i")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/app.log"), lines.mkString("\n"))
    val last100 = sources.Readers.logLines(spark, s"$dir/app.log")
      .orderBy($"ts".desc).limit(100)
    val got = last100.collect()
    assert(got.length == 100)
    assert(got.head.getString(1) == "run 150")
    assert(got.last.getString(1) == "run 51")
  }

  test("streaming semantic dedup equals batch SemDeDup on tight-cluster replay") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sds").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sds-ck").toString
    val state = s"$dir/state.parquet"
    def v(xs: Float*) = xs.toArray
    // two tight clusters (pairwise-similar within each) + two singletons
    val all = Seq(
      1L -> v(1f, 0f, 0f, 0f), 2L -> v(0.99f, 0.01f, 0f, 0f), // cluster A
      3L -> v(0f, 0f, 1f, 0f),                                // singleton
      4L -> v(0.98f, 0.02f, 0f, 0f),                          // A, batch 2
      5L -> v(0f, 1f, 0f, 0f), 6L -> v(0.01f, 0.99f, 0f, 0f), // cluster B
      7L -> v(0f, 0f, 0f, 1f))                                // singleton
    val centroids = Array(Array(1000L, 0L, 0L, 0L), Array(0L, 1000L, 0L, 0L))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    def run(): Unit = {
      val q = Streams.semanticDedupStream(
        spark.readStream.schema(schema).parquet(s"$dir/in/*"),
        centroids, threshold = 0.95, state, ckpt,
        survivors => out ++= survivors.select("vec_id")
          .collect().map(_.getLong(0)))
      q.awaitTermination(120000)
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    all.take(3).toDF("vec_id", "embedding")
      .write.parquet(s"$dir/in/b1.parquet")
    run()
    assert(out.sorted == Seq(1L, 3L), out) // within-batch A-dup dropped
    all.drop(3).toDF("vec_id", "embedding")
      .write.parquet(s"$dir/in/b2.parquet")
    run()
    // 4 dropped ACROSS batches (cluster A seen in b1); 6 within-batch
    assert(out.sorted == Seq(1L, 3L, 5L, 7L), out)
    // batch ≡ stream: survivors equal the batch operator's component
    // minima plus its untouched singletons on the full corpus
    val batchDf = all.toDF("vec_id", "embedding")
    val flagged = functions.Similarity.semanticDedup(batchDf, 0.95, centroids)
      .select($"vec_id", $"component").as[(Long, Long)].collect()
    val batchSurvivors = (all.map(_._1).toSet -- flagged.map(_._1)) ++
      flagged.map(_._2)
    assert(out.toSet == batchSurvivors)
    // state holds every seen quantized vector, never raw payloads
    val st = newestSnapshot(state)
    assert(st.count() == 7 &&
      st.columns.sorted.toSeq == Seq("cell", "nsq", "q", "vec_id"))
  }

  test("streaming semantic dedup chain divergence is exactly the documented one") {
    // edges A~C and B~C only (order A,B,C): batch CC drops {B,C} — the
    // greedy earlier-wins stream keeps B (no EARLIER similar neighbor)
    // and drops C. Pins the scaladoc'd subset relation as behavior.
    val dir = java.nio.file.Files.createTempDirectory("graft-sds2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sds2-ck").toString
    val r2 = (1.0 / math.sqrt(2.0)).toFloat
    val all = Seq(
      1L -> Array(1f, 0f), 2L -> Array(0f, 1f), 3L -> Array(r2, r2))
    val centroids = Array(Array(0L, 0L)) // one cell — no blocking effect
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    all.toDF("vec_id", "embedding").write.parquet(s"$dir/in/b1.parquet")
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    val q = Streams.semanticDedupStream(
      spark.readStream.schema(schema).parquet(s"$dir/in/*"),
      centroids, threshold = 0.7, s"$dir/state.parquet", ckpt,
      survivors => out ++= survivors.select("vec_id")
        .collect().map(_.getLong(0)))
    q.awaitTermination(120000)
    assert(out.sorted == Seq(1L, 2L), out) // stream keeps B
    val batchDropped = functions.Similarity
      .semanticDedup(all.toDF("vec_id", "embedding"), 0.7, centroids)
      .filter($"vec_id" =!= $"component")
      .select("vec_id").as[Long].collect().toSet
    assert(batchDropped == Set(2L, 3L)) // batch CC also drops B
    // the invariant that DOES hold universally: stream-drop ⊆ batch-drop
    val streamDropped = all.map(_._1).toSet -- out
    assert(streamDropped.subsetOf(batchDropped))
  }

  test("streaming next-fit packing equals the batch layout across restart (chronological replay)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pack").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pack-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-pack-out").toString
    // token counts that exercise: exact fit, overflow, an OVERSIZE doc
    // (> seqLen opens its own sequence), and a bucket boundary
    val rows = (0L until 40L).map(i =>
      (i, Seq(300L, 700L, 1100L, 2500L, 100L)(i.toInt % 5)))
    val toksDf = rows.toDF("doc_id", "n_tokens")
    val buckets = 4
    val width = math.max(1L, rows.map(_._1).max / buckets + 1)
    val schema = toksDf.schema
    def start() = Streams.packStream(
        spark.readStream.schema(schema).parquet(s"$dir/*"),
        seqLen = 2048, width = width)
      .toDF()
      .writeStream.outputMode("append")
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()
    // batch 1: first 25 docs; then a restart; batch 2: the rest — the
    // (seq, fill) cursors must survive the restart or every bucket
    // restarts at seq 0 and offsets collapse
    val q1 = start()
    try {
      rows.take(25).toDF("doc_id", "n_tokens")
        .coalesce(1).write.parquet(s"$dir/b1.parquet")
      q1.processAllAvailable()
    } finally q1.stop()
    rows.drop(25).toDF("doc_id", "n_tokens")
      .coalesce(1).write.parquet(s"$dir/b2.parquet")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(outDir)
      .as[graft.functions.Packing.PackedDoc].collect().toSet
    val batch = graft.functions.Packing
      .packNoSplitCounts(toksDf, seqLen = 2048, buckets = buckets)
      .as[graft.functions.Packing.PackedDoc].collect().toSet
    assert(got == batch,
      s"stream layout diverged:\nstream=${got.toSeq.sortBy(_.doc_id)}" +
        s"\nbatch=${batch.toSeq.sortBy(_.doc_id)}")
    // the fixture really exercised multi-sequence buckets and oversize docs
    assert(batch.exists(_.seq_in_bucket >= 2))
    assert(batch.exists(p => p.n_tokens > 2048 && p.offset_in_seq == 0))
  }

  test("streaming near-dup ingest screen equals the batch pair sets across restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nds").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-nds-ck").toString
    val state = s"$dir/state"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val schema = docs.schema
    // arrival order = the batch query's split: history (even doc_ids)
    // first — in TWO batches with a stream restart between them — then
    // every delta (odd) doc in one final batch
    val evens = docs.filter($"doc_id" % 2 === 0)
    val odds = docs.filter($"doc_id" % 2 === 1)
    val got = scala.collection.mutable.Set[(Long, Long, Long, Double)]()
    def run(): Unit = {
      val q = Streams.neardupScreenStream(
        spark.readStream.schema(schema).parquet(s"$dir/in/*"),
        state, ckpt, w = 3, threshold = 0.5,
        onPairs = p => got ++=
          p.as[(Long, Long, Long, Double)].collect())
      q.awaitTermination(180000)
    }
    evens.filter($"doc_id" < 250).write.parquet(s"$dir/in/b1.parquet")
    run()
    evens.filter($"doc_id" >= 250).write.parquet(s"$dir/in/b2.parquet")
    run() // restart: history state + source offsets must both recover
    odds.write.parquet(s"$dir/in/b3.parquet")
    run()
    // (1) the incremental face: emitted (odd delta, even prior) pairs
    // ≡ the registered batch query crossJaccardPairs(odds, evens)
    val crossWant = graft.functions.Dedup
      .crossJaccardPairs(odds, evens, w = 3, threshold = 0.5)
      .as[(Long, Long, Long, Double)].collect().toSet
    val crossGot = got.toSet.filter(t => t._1 % 2 == 1 && t._2 % 2 == 0)
    assert(crossGot == crossWant,
      s"stream cross pairs diverged from batch dedup_incremental_neardup:" +
        s"\n stream-only=${(crossGot -- crossWant).toSeq.sorted.take(5)}" +
        s"\n batch-only=${(crossWant -- crossGot).toSeq.sorted.take(5)}")
    // (2) the batching-invariance theorem: the cumulative emitted set
    // is ngramJaccardPairs over everything seen, re-keyed (later
    // arrival, earlier) — same parity ⇒ by doc_id, cross parity ⇒ the
    // odd doc arrived later (all evens preceded all odds here)
    val allWant = graft.functions.Dedup
      .ngramJaccardPairs(docs, w = 3, threshold = 0.5)
      .select("a_id", "b_id", "inter", "jaccard")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (a, b, i, j) =>
        if (a % 2 == b % 2) (math.max(a, b), math.min(a, b), i, j)
        else if (a % 2 == 1) (a, b, i, j)
        else (b, a, i, j)
      }.toSet
    assert(got.toSet == allWant,
      s"cumulative stream pairs != directional batch pair set:" +
        s"\n stream-only=${(got.toSet -- allWant).toSeq.sorted.take(5)}" +
        s"\n batch-only=${(allWant -- got.toSet).toSeq.sorted.take(5)}")
    // the fixture exercised all three emission classes
    assert(got.exists(t => t._1 % 2 == 1 && t._2 % 2 == 0))
    assert(got.exists(t => t._1 % 2 == t._2 % 2))
    // state is append-only: one committed directory per micro-batch
    val stateDirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(state))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val names = scala.collection.mutable.Buffer[String]()
    stateDirs.forEachRemaining(p => names += p.getFileName.toString)
    assert(names.count(n => n.matches("b\\d+")) == 3, names)
  }

  test("streaming url frontier dedup: cumulative survivors equal the batch " +
      "keeper set across restarts, state stays append-only") {
    val dir = java.nio.file.Files.createTempDirectory("graft-urls").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-urls-ck").toString
    val state = s"$dir/state"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val urls = Queries.urlFixture(spark, sfDir)
    val schema = urls.schema
    val got = scala.collection.mutable.Set[(Long, String, String, String)]()
    def run(): Unit = {
      val q = Streams.urlDedupStream(
        spark.readStream.schema(schema).parquet(s"$dir/in/*"),
        state, ckpt,
        onSurvivors = s => got ++=
          s.as[(Long, String, String, String)].collect())
      q.awaitTermination(180000)
    }
    // arrival order = doc_id order, split so cosmetic variants of one
    // resource land in DIFFERENT batches (variant classes are 5 blocks
    // of 20 consecutive doc_ids each) — the cross-batch dedup is real,
    // with a stream restart between every batch
    urls.filter($"doc_id" < 150).coalesce(1).write.parquet(s"$dir/in/b1.parquet")
    run()
    urls.filter($"doc_id" >= 150 && $"doc_id" < 320).coalesce(1)
      .write.parquet(s"$dir/in/b2.parquet")
    run()
    urls.filter($"doc_id" >= 320).coalesce(1).write.parquet(s"$dir/in/b3.parquet")
    run()
    // batching-invariance: cumulative survivors ≡ the registered batch
    // query's keepers (keep-first under doc_id order = min doc_id)
    val keepers = SparkEntry.queries("dedup_by_url")(spark, sfDir)
      .select($"keeper", $"canon_url", $"canon_key")
      .as[(Long, String, String)].collect().toSet
    val gotKeepers = got.toSet.map((t: (Long, String, String, String)) =>
      (t._1, t._3, t._4))
    assert(gotKeepers == keepers,
      s"stream survivors diverged from batch dedup_by_url keepers:" +
        s"\n stream-only=${(gotKeepers -- keepers).toSeq.sorted.take(5)}" +
        s"\n batch-only=${(keepers -- gotKeepers).toSeq.sorted.take(5)}")
    // the fixture really exercised cross-batch dedup: fewer survivors
    // than inputs, and at least one batch emitted zero-or-reduced rows
    assert(got.size < urls.count())
    // state is append-only: one committed digest directory per batch
    val stateDirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(state))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val names = scala.collection.mutable.Buffer[String]()
    stateDirs.forEachRemaining(p => names += p.getFileName.toString)
    assert(names.count(n => n.matches("b\\d+")) == 3, names)
  }

  test("streaming host-budget admission: admissions match the sequential " +
      "fold of the batch cap rule, across restarts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hcap").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hcap-ck").toString
    val state = s"$dir/state"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    // base 20 (not corpus_host_cap's 8): large enough that the budget
    // is not exhausted by batch 1 — later batches must still admit
    // (the cap is a running budget, not a first-batch gate) — yet
    // small enough that the dup-scaled cap binds below the fresh count
    val baseCap = 20
    val urls = Queries.urlFixture(spark, sfDir)
    val schema = urls.schema
    // the reference fold consumes the ENGINE's canonicalization (the
    // rule under test here is the budget admission, not the URL
    // kernel — UrlCanonSpec owns that)
    val keyedRef = urls.select($"doc_id",
        md5(graft.functions.Normalize.canonicalUrl($"url").cast("binary"))
          .as("ck"),
        graft.functions.Normalize.urlHost($"url").as("host"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    val splits: Seq[(Long, Long)] =
      Seq((0L, 150L), (150L, 320L), (320L, Long.MaxValue))
    // driver-side fold of the documented rule: within-batch keep-first,
    // seen-key screen, cumulative counters, round-4 dup ratio,
    // cap = max(1, floor(base * (1 - dup))), remaining = cap - kept,
    // admit first-by-doc_id
    val seen = scala.collection.mutable.Set[String]()
    val nUrls = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val nCanon = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val nKept = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val expAdmitted = scala.collection.mutable.Set[Long]()
    for ((lo, hi) <- splits) {
      val rows = keyedRef.filter(r => r._1 >= lo && r._1 < hi)
      val winners = rows.groupBy(_._2).map(_._2.minBy(_._1)).toSeq.sortBy(_._1)
      val fresh = winners.filterNot(r => seen(r._2))
      rows.foreach(r => nUrls(r._3) += 1)
      fresh.foreach(r => nCanon(r._3) += 1)
      for ((host, rs) <- fresh.groupBy(_._3)) {
        val dup = BigDecimal(1.0 - nCanon(host).toDouble / nUrls(host).toDouble)
          .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
        val cap = math.max(1L, math.floor(baseCap.toDouble * (1.0 - dup)).toLong)
        val rem = math.max(0L, cap - nKept(host))
        val adm = rs.sortBy(_._1).take(math.min(rem, baseCap.toLong).toInt)
        adm.foreach(r => expAdmitted += r._1)
        nKept(host) += adm.size
      }
      fresh.foreach(r => seen += r._2)
    }
    val got = scala.collection.mutable.Set[Long]()
    def run(): Unit = {
      val q = Streams.hostCapStream(
        spark.readStream.schema(schema).parquet(s"$dir/in/*"),
        state, ckpt, baseCap,
        onAdmitted = a => got ++= a.select("doc_id").as[Long].collect())
      q.awaitTermination(180000)
    }
    for (((lo, hi), i) <- splits.zipWithIndex) {
      urls.filter($"doc_id" >= lo && $"doc_id" < hi).coalesce(1)
        .write.parquet(s"$dir/in/b$i.parquet")
      run() // restart between every batch: both state stores recover
    }
    assert(got.toSet == expAdmitted.toSet,
      s"stream admissions diverged from the reference fold:" +
        s"\n stream-only=${(got.toSet -- expAdmitted).toSeq.sorted.take(8)}" +
        s"\n fold-only=${(expAdmitted.toSet -- got).toSeq.sorted.take(8)}")
    // the budget really bound somewhere (admitted < fresh keys), and
    // some host still admitted in a later batch (the cap is a running
    // budget, not a first-batch gate)
    assert(expAdmitted.size < seen.size)
    assert(expAdmitted.exists(_ >= 150L))
  }

  test("streaming host-budget admission: a REPLAYED committed batch " +
      "re-emits its persisted delta and leaves counters untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hcr").toString
    val ckpt = s"$dir/ck"
    val state = s"$dir/state"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val urls = Queries.urlFixture(spark, sfDir).filter($"doc_id" < 200)
    urls.coalesce(1).write.parquet(s"$dir/in/b0.parquet")
    var emitted: Seq[(Long, String)] = Nil
    def run(): Unit = {
      val q = Streams.hostCapStream(
        spark.readStream.schema(urls.schema).parquet(s"$dir/in/*"),
        state, ckpt, baseCap = 8,
        onAdmitted = a => emitted =
          a.select("doc_id", "host").as[(Long, String)].collect().toSeq)
      q.awaitTermination(180000)
    }
    run()
    val first = emitted.toSet
    assert(first.nonEmpty)
    def counters() = newestSnapshot(s"$state/counters")
      .select("host", "n_urls", "n_canonical", "n_kept")
      .as[(String, Long, Long, Long)].collect().toSet
    val before = counters()
    // deleting ONLY the checkpoint's commit record (state survives)
    // forces the source to re-deliver batch 0 with the same batchId —
    // the at-least-once replay the replay rule exists for
    StreamReplaySpec.uncommitNewest(ckpt)
    emitted = Nil
    run()
    assert(emitted.toSet == first,
      s"replay emission diverged from the first run's:" +
        s"\n replay-only=${(emitted.toSet -- first).take(5)}" +
        s"\n first-only=${(first -- emitted.toSet).take(5)}")
    assert(counters() == before, "replay must not re-apply counters")
  }

  test("streaming reservoir sample: state equals the one-shot batch sample " +
      "under arbitrary batching, across restarts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rsv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rsv-ck").toString
    val state = s"$dir/state.parquet"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source")
    val schema = docs.schema
    var last: Set[(String, Long, Long)] = Set.empty
    def run(): Unit = {
      val q = Streams.reservoirStream(
        spark.readStream.schema(schema).parquet(s"$dir/in/*"),
        state, ckpt, k = 20,
        onSample = s => last =
          s.select("g", "id", "rk").as[(String, Long, Long)].collect().toSet)
      q.awaitTermination(180000)
    }
    // deliberately NOT doc_id-ordered batches: the sample is a monoid
    // over the pool, so ANY batching must converge to the same state
    docs.filter($"doc_id" % 3 === 2).coalesce(1).write.parquet(s"$dir/in/b1.parquet")
    run()
    docs.filter($"doc_id" % 3 === 0).coalesce(1).write.parquet(s"$dir/in/b2.parquet")
    run() // restart: reservoir state + source offsets must both recover
    docs.filter($"doc_id" % 3 === 1).coalesce(1).write.parquet(s"$dir/in/b3.parquet")
    run()
    val want = graft.functions.Selection
      .reservoirSample(docs, $"source", $"doc_id", k = 20)
      .as[(String, Long, Long)].collect().toSet
    assert(last == want,
      s"streamed reservoir diverged from the one-shot batch sample:" +
        s"\n stream-only=${(last -- want).toSeq.sorted.take(5)}" +
        s"\n batch-only=${(want -- last).toSeq.sorted.take(5)}")
    // bounded state: exactly k winners per source (fixture has >k docs
    // per source), never the corpus
    val perGroup = last.groupBy(_._1).map(_._2.size).toSet
    assert(perGroup == Set(20), s"per-group sizes: $perGroup")
  }

  test("streaming cdc chunk store: cumulative savings row is batch-exact across a restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-ck").toString
    val state = s"$dir/state.parquet"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val schema = docs.schema
    var last: Option[(Long, Long, Long, Long, Double)] = None
    def run(): Unit = {
      val q = Streams.cdcStoreStream(
        spark.readStream.schema(schema).parquet(s"$dir/in/*"),
        state, ckpt,
        r => { last = Some(
          r.as[(Long, Long, Long, Long, Double)].head()) })
      q.awaitTermination(120000)
    }
    docs.filter($"doc_id" < 250).write.parquet(s"$dir/in/b1.parquet")
    run() // batch 1, then a RESTART (new query, same checkpoint/state)
    val mid = last.get
    // the mid-stream meter must itself be a valid cdc ratio (of the
    // half corpus) — the chunking is doc-local, so any prefix of the
    // stream equals the batch operator on the docs seen so far
    val halfWant = graft.functions.Dedup
      .cdcDedupRatio(docs.filter($"doc_id" < 250))
      .as[(Long, Long, Long, Long, Double)].head()
    assert(mid == halfWant, s"mid-stream meter drifted: $mid vs $halfWant")
    docs.filter($"doc_id" >= 250).write.parquet(s"$dir/in/b2.parquet")
    run()
    val want = graft.functions.Dedup.cdcDedupRatio(docs)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(last.get == want,
      s"stream savings diverged:\n  stream ${last.get}\n  batch  $want")
    // state is the store's index: one row per unique chunk, no text
    val st = newestSnapshot(state)
    assert(st.count() == want._2, "state must hold exactly n_unique rows")
    assert(!st.columns.contains("text"))
  }
}
