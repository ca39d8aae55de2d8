package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Merge
import graft.functions.Normalize

/** Merge semantics on tiny hand-built frames (SURVEY.md §5-2):
  * exists-split correctness, upsert ≤1-row-per-key, refresh mirror,
  * untouched keys unmodified, cascade fan-out.
  */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq(
    ("R1", "old-a", 1), ("R2", "old-b", 2), ("R3", "old-c", 3),
  ).toDF("rsbsa_no", "name", "v")

  test("existsSplit partitions incoming into updates/inserts") {
    val incoming = Seq(("R2", "new-b", 20), ("R9", "new-i", 90))
      .toDF("rsbsa_no", "name", "v")
    val (updates, inserts) = Merge.existsSplit(incoming, target, "rsbsa_no")
    assert(updates.select("rsbsa_no").as[String].collect().toSet == Set("R2"))
    assert(inserts.select("rsbsa_no").as[String].collect().toSet == Set("R9"))
  }

  test("upsert: replaces touched keys, keeps untouched, inserts new, ≤1 row/key") {
    val incoming = Seq(("R2", "new-b", 20), ("R9", "new-i", 90))
      .toDF("rsbsa_no", "name", "v")
    val out = Merge.replaceByKey(target, incoming, "rsbsa_no")
    val rows = out.as[(String, String, Int)].collect().toSet
    assert(rows == Set(
      ("R1", "old-a", 1), ("R3", "old-c", 3),    // untouched unchanged
      ("R2", "new-b", 20), ("R9", "new-i", 90))) // replaced + inserted
    val perKey = out.groupBy("rsbsa_no").count().filter($"count" > 1).count()
    assert(perKey == 0)
  }

  test("refresh: one-to-many delete-then-insert mirrors incoming for touched keys") {
    val t = Seq(("R1", 1), ("R1", 2), ("R2", 3), ("R3", 4))
      .toDF("rsbsa_no", "v")
    val incoming = Seq(("R1", 10), ("R1", 11), ("R1", 12)).toDF("rsbsa_no", "v")
    val out = Merge.replaceByKey(t, incoming, "rsbsa_no")
    val r1 = out.filter($"rsbsa_no" === "R1").select("v").as[Int].collect().sorted
    assert(r1.sameElements(Array(10, 11, 12))) // exact mirror, old rows gone
    assert(out.filter($"rsbsa_no" === "R2").count() == 1) // untouched
    assert(out.count() == 5)
  }

  test("latestPerKey collapses duplicate log entries, highest log_id wins") {
    val dup = Seq(("R1", 1L, "a"), ("R1", 5L, "b"), ("R2", 3L, "c"))
      .toDF("rsbsa_no", "log_id", "payload")
    val out = Merge.latestPerKey(dup, "rsbsa_no", "log_id")
    assert(out.count() == 2)
    assert(out.filter($"rsbsa_no" === "R1").select("payload")
      .as[String].head() == "b")
  }

  test("replay idempotence: merging the same incoming twice is a no-op") {
    val incoming = Seq(("R2", "new-b", 20)).toDF("rsbsa_no", "name", "v")
    val once = Merge.replaceByKey(target, incoming, "rsbsa_no")
    val twice = Merge.replaceByKey(once, incoming, "rsbsa_no")
    assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty)
    val t = Seq(("R1", 1), ("R2", 3)).toDF("rsbsa_no", "v")
    val inc = Seq(("R1", 10)).toDF("rsbsa_no", "v")
    val ronce = Merge.replaceByKey(t, inc, "rsbsa_no")
    val rtwice = Merge.replaceByKey(ronce, inc, "rsbsa_no")
    assert(rtwice.exceptAll(ronce).isEmpty && ronce.exceptAll(rtwice).isEmpty)
  }

  test("atomicOverwrite publishes staged state and survives re-read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge").toString
    val path = s"$dir/t.parquet"
    Merge.atomicOverwrite(target, path)
    assert(spark.read.parquet(path).count() == 3)
    val incoming = Seq(("R2", "new-b", 20)).toDF("rsbsa_no", "name", "v")
    val merged = Merge.replaceByKey(spark.read.parquet(path), incoming, "rsbsa_no")
    Merge.atomicOverwrite(merged, path)
    val back = spark.read.parquet(path)
    assert(back.count() == 3)
    assert(back.filter($"rsbsa_no" === "R2").select("name")
      .as[String].head() == "new-b")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".old")))
  }

  test("bucketedMerge rewrites only touched buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val path = s"$dir/t.parquet"
    val n = 16
    val init = spark.range(0, 200).toDF("k")
      .withColumn("rsbsa_no", concat(lit("R"), $"k")).drop("k")
      .withColumn("v", lit(0))
      .withColumn("__bucket", Merge.bucketColumn($"rsbsa_no", n))
    init.write.partitionBy("__bucket").parquet(path)
    val before = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      .toArray.map(_.toString).filter(_.contains("__bucket=")).sorted
    val incoming = Seq(("R7", 99)).toDF("rsbsa_no", "v")
    Merge.bucketedMerge(spark, path, incoming, "rsbsa_no", n)
    val back = spark.read.parquet(path)
    assert(back.count() == 200)
    assert(back.filter($"rsbsa_no" === "R7").select("v").as[Int].head() == 99)
    assert(back.filter($"rsbsa_no" === "R8").select("v").as[Int].head() == 0)
    assert(before.length == java.nio.file.Files.list(
      java.nio.file.Paths.get(path)).toArray
      .map(_.toString).count(_.contains("__bucket=")))
  }

  test("asOf join: latest right at-or-before left time, tolerance, ties, no-match") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val trades = Seq(
      (1L, "K1", ts("2024-01-01 10:00:30")),
      (2L, "K1", ts("2024-01-01 10:05:00")),
      (3L, "K2", ts("2024-01-01 10:00:00")), // no quote for K2
      (4L, "K1", ts("2024-01-01 09:00:00")), // before all quotes
    ).toDF("trade_id", "key", "t_time")
    val quotes = Seq(
      ("K1", 101L, ts("2024-01-01 10:00:00")),
      ("K1", 102L, ts("2024-01-01 10:00:30")), // tie with trade 1 time
      ("K1", 103L, ts("2024-01-01 10:00:30")), // same ts → tiebreak by id desc
      ("K1", 104L, ts("2024-01-01 10:04:00")),
    ).toDF("q_key", "quote_id", "q_time")
    val out = graft.operators.AsOfJoin.asOf(
      trades, quotes, "trade_id", "key", "q_key", "t_time", "q_time",
      tieBreaker = "quote_id")
      .select($"trade_id", $"quote_id").as[(Long, Option[Long])]
      .collect().toMap
    assert(out(1L).contains(103L)) // equal ts allowed, max id wins tie
    assert(out(2L).contains(104L)) // latest ≤ 10:05
    assert(out(3L).isEmpty)        // left-outer: no quote for K2
    assert(out(4L).isEmpty)        // nothing at-or-before

    val bounded = graft.operators.AsOfJoin.asOf(
      trades, quotes, "trade_id", "key", "q_key", "t_time", "q_time",
      tieBreaker = "quote_id",
      tolerance = Some(org.apache.spark.sql.functions.expr("INTERVAL 30 SECONDS")))
      .select($"trade_id", $"quote_id").as[(Long, Option[Long])]
      .collect().toMap
    assert(bounded(1L).contains(103L)) // exactly at trade time: within 30s
    assert(bounded(2L).isEmpty)        // nearest quote is 60s old: outside tolerance
  }

  test("pointInTime: half-open validity selects exactly one version; equi-key plan") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // K1 versions: v1 [10:00, 10:05), v2 [10:05, null)
    val dim = Seq(
      ("K1", 1L, ts("2024-01-01 10:00:00"), Some(ts("2024-01-01 10:05:00"))),
      ("K1", 2L, ts("2024-01-01 10:05:00"), None),
      ("K2", 3L, ts("2024-01-01 11:00:00"), None)
    ).toDF("dim_key", "version_id", "valid_from", "valid_to")
    val fact = Seq(
      (10L, "K1", ts("2024-01-01 10:00:00")), // inclusive lower bound → v1
      (11L, "K1", ts("2024-01-01 10:04:59")), // inside v1
      (12L, "K1", ts("2024-01-01 10:05:00")), // exclusive upper → v2
      (13L, "K1", ts("2024-01-01 09:59:59")), // before history: drops
      (14L, "K2", ts("2024-01-01 12:00:00")), // open-ended current
      (15L, "K3", ts("2024-01-01 10:00:00")) // unknown key: drops
    ).toDF("fact_id", "key", "t")
    val out = graft.operators.AsOfJoin.pointInTime(fact, dim,
        "key", "dim_key", "t", "valid_from", "valid_to")
      .select($"fact_id", $"version_id").as[(Long, Long)].collect()
    assert(out.toMap == Map(10L -> 1L, 11L -> 1L, 12L -> 2L, 14L -> 3L))
    assert(out.length == 4) // at most ONE version per fact row
    // the join partitions by key — an equi join with a residual, not
    // a nested-loop range join
    val plan = graft.operators.AsOfJoin.pointInTime(fact, dim,
      "key", "dim_key", "t", "valid_from", "valid_to")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(600))
  }

  test("asOf union-window ≡ range-join baseline under hot-key fan-out (stress)") {
    // One hot key: 400 left × 2000 right rows. The range-join baseline
    // materializes 800k intermediate rows for this key; the
    // union-window form sorts 2400. Results must be identical — with
    // and without tolerance — including duplicate right timestamps
    // (tiebreak), a cold key, and a left key with no right rows.
    // null keys on BOTH sides: equi-join semantics say they never
    // match each other (NULL = NULL is not true) — the union-window
    // form must agree with the join baseline here too
    val left = ((1 to 400).map(i => (Some(i.toLong), Some("HOT"), (i * 7 % 3000).toLong))
      ++ Seq((Some(401L), Some("COLD"), 100L), (Some(402L), Some("NONE"), 100L),
        (Some(403L), Option.empty[String], 100L)))
      .toDF("trade_id", "key", "t_time")
    val right = ((1 to 2000).map(j => (Some("HOT"), j.toLong, (j * 3 % 3000).toLong))
      ++ Seq((Some("COLD"), 9001L, 50L), (Some("COLD"), 9002L, 50L),
        (Option.empty[String], 9003L, 50L)))
      .toDF("q_key", "quote_id", "q_time")
    for (tol <- Seq(None, Some(lit(5L)))) {
      val fast = graft.operators.AsOfJoin.asOf(
        left, right, "trade_id", "key", "q_key", "t_time", "q_time",
        tieBreaker = "quote_id", tolerance = tol)
        .select("trade_id", "quote_id", "q_time")
      val base = graft.operators.AsOfJoin.asOfViaRangeJoin(
        left, right, "trade_id", "key", "q_key", "t_time", "q_time",
        tieBreaker = "quote_id", tolerance = tol)
        .select("trade_id", "quote_id", "q_time")
      assert(fast.count() == left.count()) // exactly one row per left row
      assert(fast.exceptAll(base).isEmpty && base.exceptAll(fast).isEmpty,
        s"asOf mismatch vs baseline (tolerance=$tol)")
    }
  }

  test("normalization: uppercase is null-safe, string-only, idempotent") {
    val df = Seq(
      (Some("abc"), Some(1)), (None, Some(2)), (Some("MiXeD"), None),
    ).toDF("name", "v")
    val out = Normalize.uppercase(df, Seq("name", "v", "missing_col"))
    val names = out.select("name").as[Option[String]].collect().toSet
    assert(names == Set(Some("ABC"), None, Some("MIXED")))
    // non-string 'v' untouched even though listed
    assert(out.schema("v").dataType == df.schema("v").dataType)
    val again = Normalize.uppercase(out, Seq("name"))
    assert(again.exceptAll(out).isEmpty)
  }

  test("catalog drives per-table normalization lists") {
    val df = Seq(("r1", "juan", "dela cruz", "x"))
      .toDF("rsbsa_no", "first_name", "surname", "other")
    val out = Normalize.forTable(df, "farmers_kyc1")
    val row = out.head()
    assert(row.getString(1) == "JUAN" && row.getString(2) == "DELA CRUZ")
    assert(row.getString(3) == "x") // not in kyc1's list
  }
}
