package graft

import org.apache.spark.sql.functions._

import graft.sources.Jdbc

/** JDBC source/sink surface against embedded Derby (the container has
  * no network; Derby ships with Spark's jars). Covers: batched append,
  * keyed extract under both policy arms (IN pushdown vs semi join),
  * filter pushdown reaching the remote scan, and the per-partition
  * delete-then-insert refresh (K3).
  */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  private def freshDb(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-derby").toString
    s"jdbc:derby:$dir/db;create=true"
  }

  private def exec(url: String, sql: String*): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try sql.foreach(st.executeUpdate)
      finally st.close()
    } finally conn.close()
  }

  test("append writes batched rows; table() reads them back (K1/S4)") {
    val url = freshDb()
    exec(url, "CREATE TABLE farmers (rsbsa_no VARCHAR(20) NOT NULL, first_name VARCHAR(50))")
    val df = (1 to 250).map(i => (f"R$i%04d", s"name$i")).toDF("rsbsa_no", "first_name")
    Jdbc.append(df, url, "farmers", batchSize = 100)
    val back = Jdbc.table(spark, url, "farmers")
    assert(back.count() == 250)
    // projection + filter push into the remote scan (P2/P3 over JDBC)
    val one = back.select("first_name").where($"rsbsa_no" === "R0042")
    assert(one.as[String].collect().toSeq == Seq("name42"))
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters"), scan)
  }

  test("keyedExtract: small key set pushes an IN filter, large set semi-joins (S4 policy)") {
    val url = freshDb()
    exec(url, "CREATE TABLE orders2 (o_id INT NOT NULL, o_cust INT NOT NULL)")
    Jdbc.append((1 to 500).map(i => (i, i % 50)).toDF("o_id", "o_cust"), url, "orders2")

    val smallKeys = Seq(3, 7).toDF("o_cust")
    val small = Jdbc.keyedExtract(spark, url, "orders2", "o_cust", smallKeys)
    assert(small.count() == 20) // 10 orders per cust key
    val smallPlan = small.queryExecution.executedPlan.toString
    assert(smallPlan.contains("PushedFilters") && smallPlan.toLowerCase.contains("in("),
      smallPlan)

    val bigKeys = (0 until 40).toDF("o_cust")
    val big = Jdbc.keyedExtract(spark, url, "orders2", "o_cust", bigKeys, inListLimit = 10)
    assert(big.count() == 400)
    assert(big.queryExecution.executedPlan.toString.contains("Join"), "expected semi-join arm")
  }

  test("refresh: delete-then-insert per key inside partition transactions (K3)") {
    val url = freshDb()
    exec(url,
      "CREATE TABLE livelihood (rsbsa_no VARCHAR(20) NOT NULL, activity VARCHAR(50) NOT NULL)",
      "INSERT INTO livelihood VALUES ('R1','farming'), ('R1','fishing'), ('R2','farming'), ('R3','poultry')")
    // incoming: R1 shrinks to one row, R2 changes, R4 is new; R3 untouched
    val incoming = Seq(
      ("R1", "rice"), ("R2", "corn"), ("R2", "fishing"), ("R4", "farming"),
    ).toDF("rsbsa_no", "activity")
    Jdbc.refresh(incoming, url, "livelihood", "rsbsa_no", batchSize = 2)
    val after = Jdbc.table(spark, url, "livelihood")
      .as[(String, String)].collect().toSet
    assert(after == Set(
      ("R1", "rice"), ("R2", "corn"), ("R2", "fishing"),
      ("R3", "poultry"), ("R4", "farming")))
  }

  test("refresh quotes reserved-word identifiers (P9 over JDBC)") {
    val url = freshDb()
    // "year" is reserved in Derby — refresh must quote table + columns
    exec(url,
      "CREATE TABLE resv (rsbsa_no VARCHAR(20) NOT NULL, \"year\" INT NOT NULL)",
      "INSERT INTO resv VALUES ('R1', 2020), ('R2', 2021)")
    Jdbc.refresh(Seq(("R1", 2024)).toDF("rsbsa_no", "year"), url, "resv", "rsbsa_no")
    val after = Jdbc.table(spark, url, "resv").as[(String, Int)].collect().toSet
    assert(after == Set(("R1", 2024), ("R2", 2021)))
  }

  test("full ETL lifecycle against live databases (EtlRun.onJdbc, E1)") {
    // The reference's deployment: relational source pool in, relational
    // target pool out. Extract is keyed+pushed-down; the target merges
    // IN PLACE — only incoming rows ship (never an O(target) rewrite).
    // The log names three tables and the ownership change cascades to
    // farmparcel, so four refresh transactions run on the target at once.
    val srcUrl = freshDb()
    val tgtUrl = freshDb()
    val ddl = Seq(
      "CREATE TABLE farmers_kyc1 (rsbsa_no VARCHAR(20) NOT NULL, first_name VARCHAR(50), surname VARCHAR(50))",
      "CREATE TABLE farmers_livelihood (rsbsa_no VARCHAR(20) NOT NULL, livelihood VARCHAR(50))",
      "CREATE TABLE farmparcelownership (parcel_id VARCHAR(20) NOT NULL, rsbsa_no VARCHAR(20) NOT NULL, encoder_agency VARCHAR(50))",
      "CREATE TABLE farmparcel (parcel_id VARCHAR(20) NOT NULL, desc_location VARCHAR(50))")
    exec(srcUrl, ddl ++ Seq(
      "INSERT INTO farmers_kyc1 VALUES ('R1','juan','cruz'), ('R2','maria','santos')",
      "INSERT INTO farmers_livelihood VALUES ('R1','farming'), ('R1','fishing'), ('R2','poultry')",
      "INSERT INTO farmparcelownership VALUES ('P1','R1','da'), ('P2','R1','lgu'), ('P3','R2','da')",
      "INSERT INTO farmparcel VALUES ('P1','lot a'), ('P2','lot b'), ('P3','lot c')"): _*)
    exec(tgtUrl, ddl ++ Seq(
      "INSERT INTO farmers_kyc1 VALUES ('R9','old','row'), ('R1','stale','state')",
      "INSERT INTO farmers_livelihood VALUES ('R1','stale'), ('R9','old')",
      "INSERT INTO farmparcelownership VALUES ('P9','R9','old')",
      "INSERT INTO farmparcel VALUES ('P1','stale'), ('P9','old')"): _*)
    val run = graft.pipeline.EtlRun.onJdbc(spark, srcUrl, tgtUrl)
    val log = Seq(
      (1L, "R1", "farmers_kyc1"), (2L, "R1", "farmers_livelihood"),
      (3L, "R1", "farmparcelownership"),
    ).toDF("log_id", "rsbsa_no", "table")
    val report = run.run(log)
    assert(report.errors == 0, report.tables.map(_.error))
    assert(report.tables.map(t => t.table -> t.extracted) == Seq(
      "farmers_kyc1" -> 1L, "farmers_livelihood" -> 2L,
      "farmparcelownership" -> 2L, "farmparcel" -> 2L))
    def target(table: String) = Jdbc.table(spark, tgtUrl, table)
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    // R1 refreshed in place (normalized upper-case, stale rows gone);
    // untouched pre-existing R9/P9 rows retained
    assert(target("farmers_kyc1") == Set(Seq("R1", "JUAN", "CRUZ"), Seq("R9", "old", "row")))
    assert(target("farmers_livelihood") ==
      Set(Seq("R1", "FARMING"), Seq("R1", "FISHING"), Seq("R9", "old")))
    assert(target("farmparcelownership") ==
      Set(Seq("P1", "R1", "DA"), Seq("P2", "R1", "LGU"), Seq("P9", "R9", "old")))
    assert(target("farmparcel") ==
      Set(Seq("P1", "LOT A"), Seq("P2", "LOT B"), Seq("P9", "old")))
  }

  test("onJdbc extracts push the batch keys into the remote SQL, both farmparcel hops included") {
    val srcUrl = freshDb()
    exec(srcUrl,
      "CREATE TABLE farmers_kyc1 (rsbsa_no VARCHAR(20) NOT NULL, first_name VARCHAR(50))",
      "CREATE TABLE farmparcelownership (parcel_id VARCHAR(20) NOT NULL, rsbsa_no VARCHAR(20) NOT NULL)",
      "CREATE TABLE farmparcel (parcel_id VARCHAR(20) NOT NULL, desc_location VARCHAR(50))",
      "INSERT INTO farmers_kyc1 VALUES ('R1','juan'), ('R2','maria'), ('R3','jose')",
      "INSERT INTO farmparcelownership VALUES ('P1','R1'), ('P2','R1'), ('P3','R2'), ('P4','R3')",
      "INSERT INTO farmparcel VALUES ('P1','lot a'), ('P2','lot b'), ('P3','lot c'), ('P4','lot d')")
    val run = graft.pipeline.EtlRun.onJdbc(spark, srcUrl, freshDb())
    val log = graft.pipeline.EtlRun.cascadeLog(Seq(
      (1L, "R1", "farmers_kyc1"), (2L, "R2", "farmers_kyc1"),
      (3L, "R1", "farmparcelownership"), (4L, "R2", "farmparcelownership"),
      (5L, "R9", "farmparcelownership"),
    ).toDF("log_id", "rsbsa_no", "table"))
    def pushedIn(df: org.apache.spark.sql.DataFrame, key: String): Boolean = {
      val plan = df.queryExecution.executedPlan.toString
      s"(?is)PushedFilters: \\[[^\\]]*\\bIn\\($key,".r.findFirstIn(plan).isDefined &&
        !plan.contains("Join")
    }
    val kyc1 = run.extractFor(log, "farmers_kyc1")
    assert(pushedIn(kyc1, "rsbsa_no"), kyc1.queryExecution.executedPlan.toString)
    assert(kyc1.select("rsbsa_no").as[String].collect().sorted.toSeq == Seq("R1", "R2"))
    // hop 1 reads the ownership rows of R1, R2 and R9; hop 2 the parcels
    // they name
    val ownership = run.extractFor(log, "farmparcelownership")
    assert(pushedIn(ownership, "rsbsa_no"), ownership.queryExecution.executedPlan.toString)
    val parcels = run.extractFor(log, "farmparcel")
    assert(pushedIn(parcels, "parcel_id"), parcels.queryExecution.executedPlan.toString)
    assert(parcels.select("parcel_id").as[String].collect().sorted.toSeq ==
      Seq("P1", "P2", "P3"))
    // a batch whose owners hold no parcel extracts none
    val none = graft.pipeline.EtlRun.cascadeLog(
      Seq((1L, "R9", "farmparcelownership")).toDF("log_id", "rsbsa_no", "table"))
    assert(run.extractFor(none, "farmparcel").count() == 0)
  }

  test("JdbcReplay: offset-tracked ticks sync only rows that arrived in between (R1/R2)") {
    val srcUrl = freshDb()
    val tgtUrl = freshDb()
    exec(srcUrl,
      "CREATE TABLE farmers_kyc1 (rsbsa_no VARCHAR(20) NOT NULL, first_name VARCHAR(50), surname VARCHAR(50))",
      "INSERT INTO farmers_kyc1 VALUES ('R1','juan','cruz'), ('R2','maria','santos')",
      "CREATE TABLE etl_changelog (log_id BIGINT NOT NULL, rsbsa_no VARCHAR(20), \"table\" VARCHAR(60))",
      "INSERT INTO etl_changelog VALUES (1, 'R1', 'farmers_kyc1')")
    exec(tgtUrl,
      "CREATE TABLE farmers_kyc1 (rsbsa_no VARCHAR(20) NOT NULL, first_name VARCHAR(50), surname VARCHAR(50))")
    val etl = graft.pipeline.EtlRun.onJdbc(spark, srcUrl, tgtUrl)
    val offsets = java.nio.file.Files
      .createTempDirectory("graft-replay").resolve("offset").toString

    // tick 1: only the logged key R1 syncs
    val t1 = graft.pipeline.JdbcReplay.tick(spark, srcUrl, "etl_changelog", etl, offsets)
    assert(t1.fromOffset == 0 && t1.toOffset == 1 && t1.advanced)
    assert(t1.report.get.errors == 0)
    def target() = Jdbc.table(spark, tgtUrl, "farmers_kyc1")
      .as[(String, String, String)].collect().toSet
    assert(target() == Set(("R1", "JUAN", "CRUZ")))

    // between ticks: R2 gets logged; R1's SOURCE row changes WITHOUT a
    // new log entry — tick 2 must sync R2 only and must not re-extract R1
    exec(srcUrl,
      "UPDATE farmers_kyc1 SET first_name='edited' WHERE rsbsa_no='R1'",
      "INSERT INTO etl_changelog VALUES (2, 'R2', 'farmers_kyc1')")
    val t2 = graft.pipeline.JdbcReplay.tick(spark, srcUrl, "etl_changelog", etl, offsets)
    assert(t2.fromOffset == 1 && t2.toOffset == 2)
    assert(target() == Set(("R1", "JUAN", "CRUZ"), ("R2", "MARIA", "SANTOS")))

    // tick 3: nothing new — no run, offset stays
    val t3 = graft.pipeline.JdbcReplay.tick(spark, srcUrl, "etl_changelog", etl, offsets)
    assert(t3.report.isEmpty && !t3.advanced && t3.toOffset == 2)
  }

  test("JdbcReplay: failed tick keeps the offset; retry re-syncs the same batch exactly once") {
    val srcUrl = freshDb()
    val tgtUrl = freshDb()
    exec(srcUrl,
      "CREATE TABLE farmers_kyc1 (rsbsa_no VARCHAR(20) NOT NULL, first_name VARCHAR(50), surname VARCHAR(50))",
      "INSERT INTO farmers_kyc1 VALUES ('R1','juan','cruz'), ('R2','maria','santos')",
      "CREATE TABLE etl_changelog (log_id BIGINT NOT NULL, rsbsa_no VARCHAR(20), \"table\" VARCHAR(60))",
      "INSERT INTO etl_changelog VALUES (1, 'R1', 'farmers_kyc1'), (2, 'R2', 'farmers_kyc1')")
    // the TARGET table does not exist yet: the merge write must throw
    val etl = graft.pipeline.EtlRun.onJdbc(spark, srcUrl, tgtUrl)
    val offsets = java.nio.file.Files
      .createTempDirectory("graft-replay-fail").resolve("offset").toString

    val t1 = graft.pipeline.JdbcReplay.tick(spark, srcUrl, "etl_changelog", etl, offsets)
    assert(t1.report.get.errors == 1)
    assert(!t1.committed && !t1.advanced, t1)
    assert(t1.toOffset == 2) // the attempted window is still reported
    // the contract under test: a failed batch is NOT durably consumed
    assert(graft.pipeline.JdbcReplay.readOffset(offsets) == 0)

    // operator fixes the environment; the SAME window replays, and the
    // idempotent merge lands each key exactly once
    exec(tgtUrl,
      "CREATE TABLE farmers_kyc1 (rsbsa_no VARCHAR(20) NOT NULL, first_name VARCHAR(50), surname VARCHAR(50))")
    val t2 = graft.pipeline.JdbcReplay.tick(spark, srcUrl, "etl_changelog", etl, offsets)
    assert(t2.fromOffset == 0 && t2.toOffset == 2 && t2.committed && t2.advanced)
    assert(t2.report.get.errors == 0)
    val rows = Jdbc.table(spark, tgtUrl, "farmers_kyc1")
      .as[(String, String, String)].collect()
    assert(rows.length == 2) // no duplicates from the replay
    assert(rows.toSet == Set(("R1", "JUAN", "CRUZ"), ("R2", "MARIA", "SANTOS")))
    assert(graft.pipeline.JdbcReplay.readOffset(offsets) == 2)
  }

  test("JdbcReplay: rescanLag picks up a log row that committed late below the mark") {
    val srcUrl = freshDb()
    val tgtUrl = freshDb()
    exec(srcUrl,
      "CREATE TABLE farmers_kyc1 (rsbsa_no VARCHAR(20) NOT NULL, first_name VARCHAR(50), surname VARCHAR(50))",
      "INSERT INTO farmers_kyc1 VALUES ('R1','juan','cruz'), ('R2','maria','santos')",
      "CREATE TABLE etl_changelog (log_id BIGINT NOT NULL, rsbsa_no VARCHAR(20), \"table\" VARCHAR(60))",
      // ids 1 and 3 are visible; id 2's writer has not committed yet
      "INSERT INTO etl_changelog VALUES (1, 'R1', 'farmers_kyc1'), (3, 'R1', 'farmers_kyc1')")
    exec(tgtUrl,
      "CREATE TABLE farmers_kyc1 (rsbsa_no VARCHAR(20) NOT NULL, first_name VARCHAR(50), surname VARCHAR(50))")
    val etl = graft.pipeline.EtlRun.onJdbc(spark, srcUrl, tgtUrl)
    val offsets = java.nio.file.Files
      .createTempDirectory("graft-replay-lag").resolve("offset").toString

    val t1 = graft.pipeline.JdbcReplay.tick(spark, srcUrl, "etl_changelog", etl, offsets,
      rescanLag = 2L)
    assert(t1.advanced && t1.toOffset == 3)
    def target() = Jdbc.table(spark, tgtUrl, "farmers_kyc1")
      .as[(String, String, String)].collect().toSet
    assert(target() == Set(("R1", "JUAN", "CRUZ")))

    // the straggler commits with an id BELOW the mark — an unlagged
    // tick would skip R2 forever; the lag window replays it
    exec(srcUrl, "INSERT INTO etl_changelog VALUES (2, 'R2', 'farmers_kyc1')")
    val t2 = graft.pipeline.JdbcReplay.tick(spark, srcUrl, "etl_changelog", etl, offsets,
      rescanLag = 2L)
    assert(t2.committed && !t2.advanced && t2.toOffset == 3) // mark never regresses
    assert(t2.report.get.errors == 0)
    assert(target() == Set(("R1", "JUAN", "CRUZ"), ("R2", "MARIA", "SANTOS")))
    assert(graft.pipeline.JdbcReplay.readOffset(offsets) == 3)
  }

  test("ensureTable creates a declared-schema table once (K4 over JDBC)") {
    val url = freshDb()
    val schema = graft.schema.Schemas.byName("farmers_kyc1")
    Jdbc.ensureTable(url, "farmers_kyc1", schema)
    Jdbc.ensureTable(url, "farmers_kyc1", schema) // idempotent
    assert(Jdbc.table(spark, url, "farmers_kyc1").count() == 0)
    // the merge key is indexed: refresh deletes by key, and a full scan
    // per DELETE deadlocks concurrent partition transactions
    val conn = java.sql.DriverManager.getConnection(url)
    val indexed = try {
      val rs = conn.getMetaData.getIndexInfo(null, null, "FARMERS_KYC1",
        false, false)
      try Iterator.continually(rs).takeWhile(_.next())
        .map(r => Option(r.getString("COLUMN_NAME")).map(_.toLowerCase))
        .toList.flatten
      finally rs.close()
    } finally conn.close()
    assert(indexed.contains("rsbsa_no"), indexed)
    // the created table must be USABLE by the keyed refresh — i.e.
    // the KEY column is comparable VARCHAR, not CLOB/TEXT (a
    // dialect-typed key column would break every keyed DELETE) — while
    // non-key strings keep the dialect's unbounded type (no
    // VARCHAR(255) truncation of long text fields)
    Jdbc.refresh(
      Seq(("R1", "x" * 4000)).toDF("rsbsa_no", "first_name"),
      url, "farmers_kyc1", "rsbsa_no")
    assert(Jdbc.table(spark, url, "farmers_kyc1").count() == 1)
    // reserved-word column in the catalog DDL round-trips (P9):
    // farmparcel declares a `long` column
    Jdbc.ensureTable(url, "farmparcel", graft.schema.Schemas.byName("farmparcel"))
    assert(Jdbc.table(spark, url, "farmparcel").columns
      .map(_.toLowerCase).contains("long"))
  }

  test("reserved-word identifiers round-trip through the JDBC writer (P9)") {
    val url = freshDb()
    // "year" is reserved in Derby — Spark's JDBC writer must quote it.
    val df = Seq((1, 2024)).toDF("id", "year")
    df.write.format("jdbc").option("url", url)
      .option("dbtable", "withres").mode("append").save()
    assert(Jdbc.table(spark, url, "withres").columns.map(_.toLowerCase).toSet
      == Set("id", "year"))
  }
}
