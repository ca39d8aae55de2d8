package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** JDBC source/sink surface (SURVEY.md §2.1 S4/K1–K3 endpoints).
  *
  * The reference's entire IO surface is a relational database — two
  * pools (`config/db.js:5-35`), keyed `SELECT … WHERE key IN (…)`
  * extracts (`services/etlService.js:34-38`), and multi-row
  * insert/upsert/delete-then-insert sinks
  * (`services/etlService.js:117-146`). Engine equivalents, Spark-first:
  *
  *  - reads go through `spark.read.jdbc` so Catalyst pushes projections
  *    and filters into the remote SQL;
  *  - the keyed extract applies the IN-pushdown-or-semi-join policy:
  *    small key sets become an `In` filter the JDBC source pushes into
  *    the remote `WHERE` (the reference's literal IN list); large key
  *    sets stay distributed — partitioned read + semi join (a 50k-key
  *    IN list must become a join, SURVEY §7.4);
  *  - the append sink is Spark's batched JDBC writer (`batchsize` rows
  *    per round trip — the reference's multi-row VALUES insert);
  *  - delete-then-insert (K3, the one-to-many refresh) runs per
  *    partition inside executor-side transactions after a repartition
  *    by key, so no key list is ever collected to the driver.
  */
object Jdbc {

  private def newConnection(
      url: String, props: Map[String, String]): java.sql.Connection = {
    val jprops = new java.util.Properties()
    props.foreach { case (k, v) => jprops.setProperty(k, v) }
    java.sql.DriverManager.getConnection(url, jprops)
  }

  /** Resolve the STORED spelling of a table name (unquoted DDL is
    * case-folded differently per store), scoped to the connection's
    * current catalog/schema — a null scope would scan every database
    * on the server and a same-named table elsewhere would shadow the
    * answer. Metadata name patterns treat `_`/`%` as LIKE wildcards,
    * so the candidate is escaped first.
    */
  private def escapePattern(meta: java.sql.DatabaseMetaData, s: String): String = {
    val esc = meta.getSearchStringEscape
    s.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
  }

  private def currentScope(conn: java.sql.Connection): (String, String) = (
    // LinkageError too: getSchema is JDBC 4.1 — a legacy driver throws
    // AbstractMethodError, which must also degrade to the null scope
    try conn.getCatalog catch { case _: Exception | _: LinkageError => null },
    try conn.getSchema catch { case _: Exception | _: LinkageError => null },
  )

  private def storedTableName(
      conn: java.sql.Connection, tableName: String): Option[String] = {
    val meta = conn.getMetaData
    val (catalog, schema) = currentScope(conn)
    Seq(tableName, tableName.toUpperCase, tableName.toLowerCase)
      .distinct.find { cand =>
        val rs = meta.getTables(catalog, schema, escapePattern(meta, cand), null)
        try rs.next() finally rs.close()
      }
  }

  /** Read a remote table. Column pruning and filter pushdown reach the
    * generated SQL (`PushedFilters` in the scan; verified in
    * `JdbcSpec`).
    */
  def table(
      spark: SparkSession, url: String, table: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(options)
      .load()

  /** S4/J1/P4 over JDBC — keyed extract with the
    * IN-pushdown-or-semi-join policy. `keys` is a single-column
    * DataFrame of key values; when its count is ≤ `inListLimit` the
    * keys ship as an `In` filter (pushed into the remote WHERE),
    * otherwise the remote table is read partitioned and semi-joined.
    */
  def keyedExtract(
      spark: SparkSession, url: String, tableName: String, key: String,
      keys: DataFrame, inListLimit: Int = 1000,
      options: Map[String, String] = Map.empty): DataFrame = {
    val src = table(spark, url, tableName, options)
    // limit+1 probe: never collects more than inListLimit+1 values to
    // decide the policy.
    val probe = keys.select(col(key)).distinct().limit(inListLimit + 1).collect()
    if (probe.length <= inListLimit)
      src.filter(col(key).isin(probe.toIndexedSeq.map(_.get(0)): _*))
    else
      src.join(keys.select(key).distinct(), Seq(key), "left_semi")
  }

  /** K1 over JDBC — batched multi-row append (the reference's
    * `INSERT INTO … VALUES (…),(…),…`, `services/etlService.js:117-129`).
    */
  def append(
      df: DataFrame, url: String, table: String, batchSize: Int = 1000,
      options: Map[String, String] = Map.empty): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize.toString)
      .options(options)
      .mode(SaveMode.Append)
      .save()

  /** K4 over JDBC — ensure-schema (`CREATE TABLE IF NOT EXISTS`,
    * `services/etlService.js:203-242`): create the target table from a
    * declared Spark schema when absent; no-op when present. Type
    * mapping prefers the dialect's own (`getJDBCType`), falling back
    * to ANSI-ish defaults — EXCEPT the key column (defaulting to the
    * catalog's merge key): dialects map StringType to CLOB (Derby) /
    * TEXT (MySQL), which are not comparable, so a dialect-typed key
    * would break every keyed DELETE/WHERE; keys get VARCHAR like the
    * reference's own DDL. Non-key strings keep the dialect's unbounded
    * type (the reference has TEXT attachment/remarks fields a
    * VARCHAR(255) cap would truncate). The key column is indexed in
    * the same step: [[refresh]] deletes by key, and without the index
    * each `DELETE … WHERE key = ?` scans the whole table, so concurrent
    * partition transactions lock each other's rows (Derby deadlocks,
    * SQLState 40001).
    */
  def ensureTable(
      url: String, tableName: String,
      schema: org.apache.spark.sql.types.StructType,
      options: Map[String, String] = Map.empty,
      keyColumn: Option[String] = None): Unit = {
    import org.apache.spark.sql.types._
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    val key = keyColumn.getOrElse(
      graft.schema.Catalog.specFor(tableName).key).toLowerCase
    def sqlType(name: String, dt: DataType): String = dt match {
      case StringType if name.toLowerCase == key => "VARCHAR(255)"
      case other => dialect.getJDBCType(other)
        .map(_.databaseTypeDefinition).getOrElse(other match {
        case StringType => "VARCHAR(255)"
        case IntegerType => "INTEGER"
        case LongType => "BIGINT"
        case DoubleType => "DOUBLE"
        case FloatType => "REAL"
        case BooleanType => "BOOLEAN"
        case ByteType => "SMALLINT"
        case ShortType => "SMALLINT"
        case DateType => "DATE"
        case TimestampType | TimestampNTZType => "TIMESTAMP"
        case t: DecimalType => s"DECIMAL(${t.precision},${t.scale})"
        case BinaryType => "BLOB"
        case unsupported =>
          throw new IllegalArgumentException(s"no JDBC type for $unsupported")
      })
    }
    val conn = newConnection(url, options)
    try {
      if (storedTableName(conn, tableName).isEmpty) {
        val cols = schema.fields.map { f =>
          val nullability = if (f.nullable) "" else " NOT NULL"
          s"${dialect.quoteIdentifier(f.name)} ${sqlType(f.name, f.dataType)}$nullability"
        }.mkString(", ")
        // table name stays UNQUOTED so the store folds it the same way
        // every later unquoted read/write reference will (a quoted
        // name would be case-sensitive and unreachable via table());
        // column names are quoted — the catalog declares reserved
        // words like `long` (P9)
        val keyField = schema.fields.find(_.name.toLowerCase == key)
        val st = conn.createStatement()
        try {
          st.executeUpdate(s"CREATE TABLE $tableName ($cols)")
          keyField.foreach(f => st.executeUpdate(
            s"CREATE INDEX ${tableName}_key_idx ON $tableName " +
              s"(${dialect.quoteIdentifier(f.name)})"))
        } catch {
          // check-then-create is racy: a concurrent ensure may have
          // created it between the probe and here — that IS the
          // documented IF NOT EXISTS outcome, not an error
          case e: java.sql.SQLException
              if storedTableName(conn, tableName).isDefined => ()
        }
        finally st.close()
      }
    } finally conn.close()
  }

  /** K3 over JDBC — delete-then-insert refresh
    * (`services/etlService.js:85-115`): every target row whose key
    * appears in `df` is deleted, then the full incoming row set is
    * inserted, per-partition in one executor-side transaction each.
    * The repartition by key guarantees a key's delete and inserts land
    * in the same partition/transaction, so concurrent readers never
    * see a half-refreshed key and nothing is collected to the driver.
    */
  def refresh(
      df: DataFrame, url: String, tableName: String, key: String,
      batchSize: Int = 1000,
      connectionProperties: Map[String, String] = Map.empty): Unit = {
    val cols = df.columns
    // case-insensitive like Spark's own column resolution — a JDBC
    // round-trip may legitimately fold the frame's column case
    val keyIdx = cols.indexWhere(_.equalsIgnoreCase(key))
    require(keyIdx >= 0, s"key column $key not in ${cols.mkString(",")}")
    // Dialect-correct identifier quoting (backticks on MySQL, double
    // quotes on Derby/ANSI) — the reference escapes reserved words like
    // `long`/`group` by hand (`services/etlService.js:135-138`). Since
    // quoting makes identifiers case-SENSITIVE while unquoted DDL is
    // case-folded by the store, the STORED spellings are resolved from
    // JDBC metadata first (same as Spark's own JDBC writer).
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    val props = connectionProperties
    val (qTable, storedCols) = {
      val conn = newConnection(url, props)
      try {
        val meta = conn.getMetaData
        val stored = storedTableName(conn, tableName).getOrElse(tableName)
        val colCase = {
          val (catalog, sch) = currentScope(conn)
          val rs = meta.getColumns(catalog, sch, escapePattern(meta, stored), null)
          val m = scala.collection.mutable.LinkedHashMap[String, String]()
          try while (rs.next()) {
            val c = rs.getString("COLUMN_NAME"); m(c.toLowerCase) = c
          } finally rs.close()
          m
        }
        (dialect.quoteIdentifier(stored),
          cols.map(c => dialect.quoteIdentifier(
            colCase.getOrElse(c.toLowerCase, c))))
      } finally conn.close()
    }
    val insertSql =
      s"INSERT INTO $qTable (${storedCols.mkString(", ")})" +
        s" VALUES (${cols.map(_ => "?").mkString(", ")})"
    val deleteSql = s"DELETE FROM $qTable WHERE ${storedCols(keyIdx)} = ?"
    df.repartition(col(cols(keyIdx))).foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val conn = newConnection(url, props)
        try {
          conn.setAutoCommit(false)
          val del = conn.prepareStatement(deleteSql)
          val ins = conn.prepareStatement(insertSql)
          try {
            val seenKeys = new java.util.HashSet[AnyRef]()
            var pendingDel = 0
            var pendingIns = 0
            rows.foreach { row =>
              val k = row.get(keyIdx).asInstanceOf[AnyRef]
              if (seenKeys.add(k)) {
                del.setObject(1, k); del.addBatch(); pendingDel += 1
                if (pendingDel >= batchSize) { del.executeBatch(); pendingDel = 0 }
              }
              var i = 0
              while (i < cols.length) {
                ins.setObject(i + 1, row.get(i).asInstanceOf[AnyRef]); i += 1
              }
              ins.addBatch(); pendingIns += 1
              // deletes always flush before the batch of inserts that
              // could collide with them
              if (pendingIns >= batchSize) {
                if (pendingDel > 0) { del.executeBatch(); pendingDel = 0 }
                ins.executeBatch(); pendingIns = 0
              }
            }
            if (pendingDel > 0) del.executeBatch()
            if (pendingIns > 0) ins.executeBatch()
            conn.commit()
          } catch {
            case e: Throwable => conn.rollback(); throw e
          } finally { del.close(); ins.close() }
        } finally conn.close()
      }
    }
  }
}
