package graft

import org.apache.spark.sql.functions._

import graft.pipeline.EtlRun

/** End-to-end lifecycle on RSBSA-shaped fixtures (SURVEY.md §3 E1,
  * §5-4): change-log replay → extract → normalize → merge → cascade,
  * reproducing the reference's 8-logs→17-rows style fan-out.
  */
class EtlRunSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixtures(dir: String): Unit = {
    // source state: one-to-one kyc1, one-to-many livelihood,
    // bridge ownership + parcels
    Seq(
      ("R1", "juan", "cruz"), ("R2", "maria", "santos"), ("R3", "jose", "reyes"),
    ).toDF("rsbsa_no", "first_name", "surname")
      .write.parquet(s"$dir/farmers_kyc1.parquet")
    Seq(
      ("R1", "farming"), ("R1", "fishing"), ("R2", "farming"),
    ).toDF("rsbsa_no", "livelihood")
      .write.parquet(s"$dir/farmers_livelihood.parquet")
    Seq(
      ("P1", "R1", "owner"), ("P2", "R1", "tenant"), ("P3", "R2", "owner"),
    ).toDF("parcel_id", "rsbsa_no", "own_status")
      .write.parquet(s"$dir/farmparcelownership.parquet")
    Seq(
      ("P1", "lot a"), ("P2", "lot b"), ("P3", "lot c"), ("P4", "lot d"),
    ).toDF("parcel_id", "desc_location")
      .write.parquet(s"$dir/farmparcel.parquet")
  }

  /** The run's per-table threads (`graft-etl-<table>`) still alive. */
  private def liveTableThreads(report: graft.pipeline.RunReport): Set[String] = {
    import scala.jdk.CollectionConverters._
    val names = report.tables.map(t => s"graft-etl-${t.table}").toSet
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && names(t.getName)).map(_.getName).toSet
  }

  test("full run: replay, normalize, merge, cascade, fan-out counts") {
    val src = java.nio.file.Files.createTempDirectory("graft-src").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft-tgt").toString
    writeFixtures(src)
    // 4 log entries for R1 (kyc1, livelihood, ownership ×2 dup) → the
    // one-to-many + cascade fan-out yields more synced rows than log rows
    val log = Seq(
      (1L, "R1", "farmers_kyc1"),
      (2L, "R1", "farmers_livelihood"),
      (3L, "R1", "farmparcelownership"),
      (4L, "R1", "farmparcelownership"),
      (5L, null, "farmers_kyc1"), // invalid → skipped
    ).toDF("log_id", "rsbsa_no", "table")

    val run = EtlRun.onParquet(spark, src, tgt)
    val report = run.run(log)

    assert(report.totalLogRecords == 5)
    assert(report.skipped == 1)
    assert(report.errors == 0)
    // cascade: farmparcel synced although never named in the log
    assert(report.tables.map(_.table).contains("farmparcel"))

    val kyc = spark.read.parquet(s"$tgt/farmers_kyc1.parquet")
    assert(kyc.filter($"rsbsa_no" === "R1").select("first_name")
      .as[String].head() == "JUAN") // normalized on the way in
    val liv = spark.read.parquet(s"$tgt/farmers_livelihood.parquet")
    assert(liv.count() == 2) // both R1 rows, mirrored
    val parcels = spark.read.parquet(s"$tgt/farmparcel.parquet")
    // R1 owns P1+P2 through the bridge; P3/P4 untouched (not in target)
    assert(parcels.select("parcel_id").as[String].collect().toSet
      == Set("P1", "P2"))
    // fan-out: 4 valid log rows → 1 kyc + 2 livelihood + 2 ownership
    // + 2 cascaded parcels = 7 synced rows ("17 rows from 8 logs" shape)
    assert(report.tables.map(_.merged).sum == 7)
  }

  test("replay idempotence: running the same log twice leaves targets unchanged") {
    val src = java.nio.file.Files.createTempDirectory("graft-src2").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft-tgt2").toString
    writeFixtures(src)
    val log = Seq(
      (1L, "R1", "farmers_kyc1"), (2L, "R2", "farmers_livelihood"),
    ).toDF("log_id", "rsbsa_no", "table")
    val run = EtlRun.onParquet(spark, src, tgt)
    run.run(log)
    val kyc1 = spark.read.parquet(s"$tgt/farmers_kyc1.parquet").collect().toSet
    val liv1 = spark.read.parquet(s"$tgt/farmers_livelihood.parquet").collect().toSet
    run.run(log)
    assert(spark.read.parquet(s"$tgt/farmers_kyc1.parquet").collect().toSet == kyc1)
    assert(spark.read.parquet(s"$tgt/farmers_livelihood.parquet").collect().toSet == liv1)
  }

  test("cascade still fires when farmparcel is also named directly") {
    val src = java.nio.file.Files.createTempDirectory("graft-src4").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft-tgt4").toString
    writeFixtures(src)
    // R1 touches ownership (parcels P1,P2 via bridge); the log ALSO
    // names farmparcel directly for R2 (parcels P3 via bridge) — both
    // key sets must re-sync.
    val log = Seq(
      (1L, "R1", "farmparcelownership"),
      (2L, "R2", "farmparcel"),
    ).toDF("log_id", "rsbsa_no", "table")
    val report = EtlRun.onParquet(spark, src, tgt).run(log)
    assert(report.errors == 0)
    val parcels = spark.read.parquet(s"$tgt/farmparcel.parquet")
    assert(parcels.select("parcel_id").as[String].collect().toSet
      == Set("P1", "P2", "P3"))
    // report counts describe the rows actually merged per table
    val parcelResult = report.tables.find(_.table == "farmparcel").get
    assert(parcelResult.extracted == 3 && parcelResult.merged == 3)
    val ownResult = report.tables.find(_.table == "farmparcelownership").get
    assert(ownResult.extracted == 2)
  }

  test("run() is single-pass: one query execution per table (no double extract)") {
    val src = java.nio.file.Files.createTempDirectory("graft-src5").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft-tgt5").toString
    writeFixtures(src)
    val log = Seq(
      (1L, "R1", "farmers_kyc1"), (2L, "R2", "farmers_livelihood"),
    ).toDF("log_id", "rsbsa_no", "table")
    val funcs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { val _ = funcs.add(funcName) }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val report = EtlRun.onParquet(spark, src, tgt).run(log)
      assert(report.errors == 0)
      assert(report.tables.map(_.extracted).sum == 2) // counts unchanged
      // the listener bus is async — wait for it to drain
      val deadline = System.currentTimeMillis() + 15000
      var last = -1
      while (System.currentTimeMillis() < deadline && funcs.size != last) {
        last = funcs.size; Thread.sleep(300)
      }
      // ONE driver-side bookkeeping action (total, valid count and
      // table-name list in a single aggregate over the log) + exactly
      // ONE action per table: the merge write carrying the observe
      // metric. A 2nd per-table action means the extract ran twice
      // (the pre-round-3 double-scan).
      assert(funcs.size == 1 + report.tables.size,
        s"expected ${1 + report.tables.size} executions, saw: $funcs")
    } finally spark.listenerManager.unregister(listener)
  }

  test("failure isolation: one broken table does not abort the run") {
    val src = java.nio.file.Files.createTempDirectory("graft-src3").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft-tgt3").toString
    writeFixtures(src)
    val log = Seq(
      (1L, "R1", "farmers_kyc1"),
      (2L, "R1", "no_such_table"), // source parquet missing → error
    ).toDF("log_id", "rsbsa_no", "table")
    val report = EtlRun.onParquet(spark, src, tgt).run(log)
    assert(report.errors == 1)
    assert(liveTableThreads(report).isEmpty)
    assert(report.tables.find(_.table == "farmers_kyc1").get.error.isEmpty)
    assert(spark.read.parquet(s"$tgt/farmers_kyc1.parquet").count() == 1)
    assert(report.errorRatePct == 50.0)
  }

  test("failure inside a table's write job: target unchanged, others publish, error names the class") {
    val src = java.nio.file.Files.createTempDirectory("graft-src6").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft-tgt6").toString
    writeFixtures(src)
    EtlRun.onParquet(spark, src, tgt).run(Seq(
      (1L, "R1", "farmers_kyc1"), (2L, "R1", "farmers_livelihood"),
    ).toDF("log_id", "rsbsa_no", "table"))
    val livBefore = spark.read.parquet(s"$tgt/farmers_livelihood.parquet")
      .collect().toSet
    // livelihood's merged frame fails inside its Spark job; farmparcel
    // fails on the driver with an exception that carries no message
    val boom = udf((k: String) => {
      if (k != null) throw new IllegalStateException(s"bad row $k")
      true
    })
    val run = new EtlRun(spark,
      readSource = name => spark.read.parquet(s"$src/$name.parquet"),
      readTarget = name => {
        val p = s"$tgt/$name.parquet"
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
          spark.read.parquet(p)
        else spark.read.parquet(s"$src/$name.parquet").limit(0)
      },
      writeTarget = {
        case ("farmers_livelihood", df) =>
          graft.operators.Merge.atomicOverwrite(
            df.filter(boom(col("rsbsa_no"))), s"$tgt/farmers_livelihood.parquet")
        case ("farmparcel", _) => throw new IllegalStateException()
        case (name, df) =>
          graft.operators.Merge.atomicOverwrite(df, s"$tgt/$name.parquet")
      })
    val report = run.run(Seq(
      (3L, "R2", "farmers_kyc1"), (4L, "R2", "farmers_livelihood"),
      (5L, "R2", "farmparcelownership"),
    ).toDF("log_id", "rsbsa_no", "table"))

    def error(table: String): Option[String] =
      report.tables.find(_.table == table).get.error
    assert(report.errors == 2, report.tables)
    assert(spark.read.parquet(s"$tgt/farmers_livelihood.parquet")
      .collect().toSet == livBefore)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tgt/farmparcel.parquet")))
    assert(error("farmers_kyc1").isEmpty && error("farmparcelownership").isEmpty)
    assert(spark.read.parquet(s"$tgt/farmers_kyc1.parquet")
      .select("rsbsa_no").as[String].collect().toSet == Set("R1", "R2"))
    assert(spark.read.parquet(s"$tgt/farmparcelownership.parquet")
      .select("parcel_id").as[String].collect().toSet == Set("P3"))
    val jobError = error("farmers_livelihood").get
    assert(jobError.startsWith("org.apache.spark.SparkException: "), jobError)
    assert(jobError.contains("IllegalStateException: bad row"), jobError)
    assert(error("farmparcel").contains("java.lang.IllegalStateException"))
  }

  test("tables run concurrently: every table's write is in flight at once") {
    val src = java.nio.file.Files.createTempDirectory("graft-src7").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft-tgt7").toString
    writeFixtures(src)
    // three named tables + the farmparcel cascade = four writes; each
    // waits until all four have started, which only a concurrent run
    // gets past (one after another, the first wait times out)
    val started = new java.util.concurrent.CountDownLatch(4)
    val run = new EtlRun(spark,
      readSource = name => spark.read.parquet(s"$src/$name.parquet"),
      readTarget = name => spark.read.parquet(s"$src/$name.parquet").limit(0),
      writeTarget = (name, df) => {
        started.countDown()
        if (!started.await(30, java.util.concurrent.TimeUnit.SECONDS))
          throw new IllegalStateException(s"$name wrote alone")
        graft.operators.Merge.atomicOverwrite(df, s"$tgt/$name.parquet")
      })
    val report = run.run(Seq(
      (1L, "R1", "farmers_kyc1"), (2L, "R1", "farmers_livelihood"),
      (3L, "R1", "farmparcelownership"),
    ).toDF("log_id", "rsbsa_no", "table"))
    assert(report.tables.map(_.table) == Seq("farmers_kyc1",
      "farmers_livelihood", "farmparcelownership", "farmparcel"))
    assert(report.errors == 0, report.tables)
    assert(report.tables.map(_.merged) == Seq(1L, 2L, 2L, 2L))
    for (t <- report.tables)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tgt/${t.table}.parquet")))
    assert(liveTableThreads(report).isEmpty)
  }

  test("a log naming more tables than the catalog runs them all on at most 12 threads") {
    val src = java.nio.file.Files.createTempDirectory("graft-src9").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft-tgt9").toString
    writeFixtures(src)
    // unknown names take the default one-to-many arm; each reads the
    // kyc1 fixture as its source
    val names = (0 until 20).map(i => f"extra_$i%02d")
    val workers = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    val run = new EtlRun(spark,
      readSource = _ => {
        workers.add(Thread.currentThread)
        spark.read.parquet(s"$src/farmers_kyc1.parquet")
      },
      readTarget = _ => spark.read.parquet(s"$src/farmers_kyc1.parquet").limit(0),
      writeTarget = (name, df) =>
        graft.operators.Merge.atomicOverwrite(df, s"$tgt/$name.parquet"))
    val report = run.run(names.zipWithIndex
      .map { case (n, i) => (i.toLong, "R1", n) }.toDF("log_id", "rsbsa_no", "table"))
    assert(report.tables.map(_.table) == names)
    assert(report.errors == 0, report.tables)
    assert(report.tables.forall(_.merged == 1))
    assert(workers.size <= graft.schema.Catalog.tables.size, workers.size)
    assert(liveTableThreads(report).isEmpty)
  }

  test("a log naming no valid table reports its counts and touches no target") {
    val src = java.nio.file.Files.createTempDirectory("graft-src8").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft-tgt8").resolve("out")
    writeFixtures(src)
    val run = EtlRun.onParquet(spark, src, tgt.toString)
    val empty = Seq.empty[(Long, String, String)].toDF("log_id", "rsbsa_no", "table")
    assert(run.run(empty) == graft.pipeline.RunReport(0, 0, Nil))
    val invalid = Seq[(Long, String, String)](
      (1L, null, "farmers_kyc1"), (2L, "R1", null), (3L, null, null),
    ).toDF("log_id", "rsbsa_no", "table")
    assert(run.run(invalid) == graft.pipeline.RunReport(3, 3, Nil))
    assert(!java.nio.file.Files.exists(tgt))
  }
}
