package graft

import graft.operators.Sinks
import graft.pipeline.{Cron, EtlScheduler}

/** Control-plane semantics (R1/R3/R6/R7/F11) and sink surfaces (K1/K4/K5). */
class SchedulerSinksSpec extends SparkSpec {
  import spark.implicits._

  test("cron validation accepts the reference's patterns, rejects junk (F11)") {
    assert(Cron.isValid("* * * * *"))
    assert(Cron.isValid("*/5 * * * *"))
    assert(Cron.isValid("0 3 * * 1"))
    assert(Cron.isValid("0,30 1-5 * * *"))
    assert(!Cron.isValid("not a cron"))
    assert(!Cron.isValid("* * * *"))       // 4 fields
    assert(!Cron.isValid("61x * * * *"))
    assert(!Cron.isValid("*/0 * * * *"))   // zero step can never fire
  }

  test("single-flight: overlapping runOnce is refused (R3)") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val sched = new EtlScheduler(() => { entered.countDown(); gate.await() })
    val t = new Thread(() => sched.runOnce())
    t.start()
    entered.await()
    assert(!sched.runOnce()) // refused while in flight
    assert(sched.status.running)
    gate.countDown(); t.join()
    assert(!sched.status.running)
    assert(sched.status.runsCompleted == 1)
    assert(sched.runOnce()) // accepted after completion
  }

  test("cron matching honors all five fields in the reference's zone") {
    // Times are MANILA wall-clock (the zone node-cron runs in,
    // index.js:75-86). 2026-08-10 = Monday, 08-12 = Wednesday,
    // 08-16 = Sunday.
    def ms(mo: Int, d: Int, h: Int, m: Int): Long =
      java.time.ZonedDateTime.of(2026, mo, d, h, m, 0, 0, Cron.DefaultZone)
        .toInstant.toEpochMilli
    assert(Cron.matches("*/5 * * * *", ms(8, 12, 3, 10)))
    assert(!Cron.matches("*/5 * * * *", ms(8, 12, 3, 11)))
    assert(Cron.matches("0,30 1-5 * * *", ms(8, 12, 2, 30)))
    assert(!Cron.matches("0,30 1-5 * * *", ms(8, 12, 6, 30)))
    assert(Cron.matches("* * * * *", ms(8, 12, 23, 59)))
    // Zone: 03:00 Manila is 19:00 UTC the previous day — a UTC matcher
    // would reject the hour field.
    assert(Cron.matches("0 3 * * *", ms(8, 12, 3, 0)))
    // Day-of-week: Monday-only pattern fires Monday, not Wednesday,
    // and both 0 and 7 mean Sunday.
    assert(Cron.matches("0 3 * * 1", ms(8, 10, 3, 0)))
    assert(!Cron.matches("0 3 * * 1", ms(8, 12, 3, 0)))
    assert(!Cron.matches("0 3 * * 1", ms(8, 10, 4, 0)))
    assert(Cron.matches("0 3 * * 0", ms(8, 16, 3, 0)))
    assert(Cron.matches("0 3 * * 7", ms(8, 16, 3, 0)))
    // Day-of-month + month: a monthly pattern fires ONLY on the 1st
    // (the round-1/2 matcher fired it daily), a yearly one only in its
    // month.
    assert(Cron.matches("0 0 1 * *", ms(9, 1, 0, 0)))
    assert(!Cron.matches("0 0 1 * *", ms(8, 12, 0, 0)))
    assert(Cron.matches("0 0 1 9 *", ms(9, 1, 0, 0)))
    assert(!Cron.matches("0 0 1 8 *", ms(9, 1, 0, 0)))
    // Step expansion anchors at the field's range minimum: */7 on
    // day-of-month fires on the 1st, 8th, … — not on multiples of 7.
    assert(Cron.matches("0 0 */7 * *", ms(8, 8, 0, 0)))
    assert(!Cron.matches("0 0 */7 * *", ms(8, 7, 0, 0)))
    // node-cron AND rule: restricted dom and dow must BOTH match.
    assert(Cron.matches("0 0 10 * 1", ms(8, 10, 0, 0)))  // Mon the 10th
    assert(!Cron.matches("0 0 10 * 0", ms(8, 10, 0, 0))) // Mon, not Sun
    assert(!Cron.matches("0 0 16 * 1", ms(8, 10, 0, 0))) // Mon, not 16th
    // Vixie "n/step": n..max by step (NOT the single value n) —
    // "5/1" fires minutes 5-59, "10/15" fires 10, 25, 40, 55.
    assert(Cron.matches("5/1 * * * *", ms(8, 12, 3, 30)))
    assert(!Cron.matches("5/1 * * * *", ms(8, 12, 3, 4)))
    assert(Cron.matches("10/15 * * * *", ms(8, 12, 3, 40)))
    assert(!Cron.matches("10/15 * * * *", ms(8, 12, 3, 30)))
  }

  test("scheduler tick survives a throwing run and reports lastError (R1)") {
    val boom = new EtlScheduler(() => sys.error("etl exploded"))
    boom.tickOnce("* * * * *") // must not throw — cadence would die
    assert(boom.status.lastError.exists(_.contains("etl exploded")))
    assert(!boom.status.running)
    assert(boom.status.runsCompleted == 0)
    // A subsequent healthy tick still fires: the schedule survived.
    var ran = false
    val ok = new EtlScheduler(() => { ran = true })
    ok.tickOnce("* * * * *")
    assert(ran && ok.status.runsCompleted == 1)
    // Non-matching minute: no fire, no error.
    val never = new EtlScheduler(() => fail("must not fire"))
    val nowManila = java.time.Instant.now().atZone(Cron.DefaultZone)
    val otherMinute = (nowManila.getMinute + 30) % 60
    never.tickOnce(s"$otherMinute * * * *")
    assert(never.status.runsCompleted == 0 && never.status.lastError.isEmpty)
  }

  test("status bookkeeping + graceful stop (R6/R7)") {
    val sched = new EtlScheduler(() => ())
    val s0 = sched.status
    assert(!s0.scheduled && s0.lastRunMs.isEmpty && s0.runsCompleted == 0)
    sched.runOnce()
    assert(sched.status.lastRunMs.isDefined)
    sched.start("*/5 * * * *")
    assert(sched.status.scheduled && sched.status.startTimeMs.isDefined)
    val after = sched.stop()
    assert(!after.scheduled && !after.running)
  }

  test("scheduler restarts after a force-stop killed its executor (R7)") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val sched = new EtlScheduler(() => { entered.countDown(); gate.await() })
    val t = new Thread(() => { val _ = sched.runOnce() })
    t.start(); entered.await()
    // in-flight run outlives the grace window → shutdownNow path
    val st = sched.stop(graceMs = 100)
    assert(st.running) // run still in flight at force-kill
    gate.countDown(); t.join()
    // a fresh start must still work (executor is recreated)
    sched.start("*/5 * * * *")
    assert(sched.status.scheduled)
    sched.stop()
  }

  test("z-ordered layout skips files on BOTH dimensions; single-sort only on one") {
    // two independent uniform dims — the adversarial case for
    // single-column sorting
    val d = (0L until 4096L).map(i => (i % 64, (i / 64) % 64)).toDF("a", "b")
    def envelopes(dir: String): Seq[((Long, Long), (Long, Long))] = {
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .toArray.map(_.toString).filter(_.endsWith(".parquet")).toSeq
      files.map { f =>
        import org.apache.spark.sql.functions.{max, min}
        val r = spark.read.parquet(f)
          .agg(min($"a"), max($"a"), min($"b"), max($"b")).head()
        ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))
      }
    }
    // fraction of files a point filter must read, averaged over values
    def readFraction(env: Seq[((Long, Long), (Long, Long))],
        pick: (((Long, Long), (Long, Long))) => (Long, Long)): Double =
      (0L until 64L).map(v =>
        env.count(e => pick(e)._1 <= v && v <= pick(e)._2).toDouble / env.size)
        .sum / 64.0

    val zDir = java.nio.file.Files.createTempDirectory("graft-z")
      .resolve("z.parquet").toString
    graft.operators.Sinks.writeZOrdered(d, zDir, "a", "b", numFiles = 16, bits = 6)
    val zEnv = envelopes(zDir)
    assert(zEnv.size == 16)

    val sDir = java.nio.file.Files.createTempDirectory("graft-s")
      .resolve("s.parquet").toString
    d.repartitionByRange(16, $"a").sortWithinPartitions("a")
      .write.parquet(sDir)
    val sEnv = envelopes(sDir)

    // leading dim: both layouts skip well
    assert(readFraction(sEnv, _._1) < 0.2)
    assert(readFraction(zEnv, _._1) < 0.5)
    // trailing dim: the sort layout reads EVERY file; z-order skips
    assert(readFraction(sEnv, _._2) > 0.9)
    assert(readFraction(zEnv, _._2) < 0.5)
    // no data loss through the curve
    assert(spark.read.parquet(zDir).count() == 4096)

    // hilbert arm: same rewrite contract, both dims skip, no loss
    val hDir = java.nio.file.Files.createTempDirectory("graft-h")
      .resolve("h.parquet").toString
    graft.operators.Sinks.writeHilbertOrdered(d, hDir, "a", "b",
      numFiles = 16, bits = 6)
    val hEnv = envelopes(hDir)
    assert(hEnv.size == 16)
    assert(readFraction(hEnv, _._1) < 0.5)
    assert(readFraction(hEnv, _._2) < 0.5)
    assert(spark.read.parquet(hDir).count() == 4096)
  }

  test("compact rewrites a fragmented directory into evenly-sized files, data intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")
      .resolve("t.parquet").toString
    val d = (1L to 900L).map(i => (i, s"v$i")).toDF("id", "v")
    d.repartition(30).write.parquet(dir) // fragmented: 30 tiny files
    def parquetFiles() = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString).count(_.endsWith(".parquet"))
    assert(parquetFiles() == 30)
    val n = Sinks.compact(spark, dir, targetRowsPerFile = 300)
    assert(n == 3 && parquetFiles() == 3)
    val after = spark.read.parquet(dir)
    assert(after.count() == 900)
    assert(after.exceptAll(d).isEmpty && d.exceptAll(after).isEmpty)
    // sub-target tables collapse to a single file, never zero
    assert(Sinks.compact(spark, dir, targetRowsPerFile = 10000) == 1)
    assert(parquetFiles() == 1)
  }

  test("ensureTable creates declared-schema targets once (K4)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ddl").toString
    Sinks.ensureCatalogTable(spark, dir, "farmparcel")
    val df = spark.read.parquet(s"$dir/farmparcel.parquet")
    // parquet read-back is always nullable — compare names + types
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      == graft.schema.Schemas.farmparcel.fields
        .map(f => (f.name, f.dataType)).toSeq)
    assert(df.count() == 0)
    Sinks.ensureCatalogTable(spark, dir, "farmparcel") // idempotent
    // reserved-word column name round-trips (bulk-insert quoting, K1/P9)
    assert(df.columns.contains("long"))
  }

  test("append sink + append log (K1/K5) feed the log-analytics parse (S9)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    Sinks.append(Seq((1, "a")).toDF("id", "v"), s"$dir/t.parquet")
    Sinks.append(Seq((2, "b")).toDF("id", "v"), s"$dir/t.parquet")
    assert(spark.read.parquet(s"$dir/t.parquet").count() == 2)

    val log = s"$dir/run.log"
    Sinks.appendLog(log, "Starting ETL process. Total records: 8",
      nowMs = 1714700000000L)
    Sinks.appendLog(log, "ETL process completed. Processed: 17, Skipped: 0",
      nowMs = 1714700002000L)
    val parsed = sources.Readers.logLines(spark, log).collect()
    assert(parsed.length == 2)
    assert(parsed(0).getString(0).endsWith("+08:00")) // Manila offset (F5)
    assert(parsed(1).getString(1).contains("Processed: 17"))
  }

  test("ORC round-trip: exact schema + values, append semantics, pushdown + pruning") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-orc")
      .resolve("docs.orc").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    graft.operators.Sinks.appendOrc(docs, dir)
    val back = sources.Readers.orcTable(spark, dir)
    assert(back.schema == docs.schema)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    // append is additive, not overwrite
    graft.operators.Sinks.appendOrc(docs.limit(5), dir)
    assert(sources.Readers.orcTable(spark, dir).count() == docs.count() + 5)
    // the scan must push the predicate and prune to the read columns
    val plan = sources.Readers.orcTable(spark, dir)
      .filter(col("doc_id") === 7L).select("doc_id", "lang")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)]"),
      plan.take(800))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      plan.take(800))
  }

  test("JSONL round-trip: pinned schema, exact values, append semantics, column pruning") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl")
      .resolve("docs.jsonl").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    graft.operators.Sinks.appendJsonl(docs, dir)
    val back = graft.operators.Sinks.readJsonl(spark, dir, docs.schema)
    assert(back.schema == docs.schema)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    // append is additive, not overwrite
    graft.operators.Sinks.appendJsonl(docs.limit(5), dir)
    assert(graft.operators.Sinks.readJsonl(spark, dir, docs.schema).count()
      == docs.count() + 5)
    // pinned schema + projection prune to the read columns (JSON scans
    // cannot push predicates, but must not parse unread fields)
    val plan = graft.operators.Sinks.readJsonl(spark, dir, docs.schema)
      .select("doc_id", "lang")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      plan.take(800))
  }
}
