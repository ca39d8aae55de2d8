package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.schema.Catalog

/** MergeExecutor — the heart of the engine (SURVEY.md §7.2-4).
  *
  * The reference implements two merge strategies against the target DB
  * (`services/etlService.js:54-115`):
  *   - one-to-one upsert: probe existing keys, UPDATE matches, INSERT
  *     the rest (J3 exists-split + K2), and
  *   - one-to-many refresh: DELETE all target rows for incoming keys,
  *     then bulk INSERT the incoming rows (J4 + K3),
  * each inside a per-(table,batch) transaction.
  *
  * Spark-first formulation: both strategies are the same DataFrame
  * algebra ([[replaceByKey]]) — `target.join(incomingKeys, key,
  * "left_anti") UNION incoming` — differing only in how `incoming` is
  * deduplicated first. No row-at-a-time probes: the exists-split is a
  * semi/anti join that Catalyst plans (broadcast-hash when the key
  * set is small, shuffle hash otherwise via AQE). Batch atomicity
  * without a transactional store is staged-write + atomic directory
  * swap.
  */
object Merge {

  /** J3 — split incoming records into (updates, inserts) by key
    * existence in the target (`services/etlService.js:59-67`).
    */
  def existsSplit(incoming: DataFrame, target: DataFrame, key: String)
      : (DataFrame, DataFrame) = {
    val targetKeys = target.select(key).distinct()
    (incoming.join(targetKeys, Seq(key), "left_semi"),
     incoming.join(targetKeys, Seq(key), "left_anti"))
  }

  /** A6 — collapse duplicate incoming rows per key, latest (highest
    * `orderCol`) wins: the reference replays the log in `log_id` order
    * and each re-extract yields current source state, so the last write
    * per key is the observable result (`services/etlService.js:620-624`).
    */
  def latestPerKey(incoming: DataFrame, key: String, orderCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(orderCol).desc)
    incoming.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Replace-by-key merge, the one plan behind both reference
    * strategies: every target row whose key appears in `incoming` is
    * dropped and the incoming rows are inserted; all other target rows
    * are retained. For a one-to-many table this is the refresh (J4 +
    * K3 delete-then-insert, `services/etlService.js:85-115`); for a
    * one-to-one table, whose `incoming` holds ≤1 row per key (use
    * [[latestPerKey]] upstream when replaying a log), it is the upsert
    * (K2 guarded by J3).
    */
  def replaceByKey(target: DataFrame, incoming: DataFrame, key: String): DataFrame = {
    val incomingKeys = incoming.select(key).distinct()
    target.join(incomingKeys, Seq(key), "left_anti")
      .unionByName(incoming)
  }

  /** Merge one catalog table on its key. The reference's two
    * strategies (`services/etlService.js:47-51`) share one plan, so the
    * cardinality class does not change it. Tables outside the catalog
    * get the reference's default key, `rsbsa_no`.
    */
  def merge(table: String, target: DataFrame, incoming: DataFrame): DataFrame =
    replaceByKey(target, incoming, Catalog.specFor(table).key)

  /** Staged atomic publish: write the merged state to a fresh staging
    * dir, then swap it into place with directory renames. Readers see
    * either the old or the new complete state — the file-store analogue
    * of the reference's per-(table,batch) transaction
    * (`services/etlService.js:56-82`). Crash between the two renames
    * leaves `<path>.old` for manual recovery; crash before the first
    * leaves the target untouched.
    */
  def atomicOverwrite(df: DataFrame, path: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val staged = path + ".staged"
    val old = path + ".old"
    df.write.mode(SaveMode.Overwrite).parquet(staged)
    val p = Paths.get(path)
    val exists = Files.exists(p)
    if (exists) Files.move(p, Paths.get(old), StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(staged), p, StandardCopyOption.ATOMIC_MOVE)
    if (exists) deleteRecursive(Paths.get(old))
  }

  private[graft] def deleteRecursive(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.forEach(deleteRecursive) finally children.close()
    }
    Files.deleteIfExists(p)
  }

  /** Scale path: a hash-bucketed merge that rewrites only the buckets
    * the incoming keys touch, instead of the whole target. At 100 TB a
    * full-table anti-join rewrite is infeasible; with the target laid
    * out as `bucket=pmod(hash(key), n)` partitions, the merge prunes to
    * touched buckets (partition filter — no full scan) and the anti-join
    * runs only inside them. The bucket column doubles as a co-location
    * key so the anti-join shuffles only the (small) incoming side.
    */
  def bucketColumn(key: Column, numBuckets: Int): Column =
    pmod(hash(key), lit(numBuckets))

  def bucketedMerge(
      spark: SparkSession,
      targetPath: String,
      incoming: DataFrame,
      key: String,
      numBuckets: Int,
  ): Unit = {
    val bucketed = incoming.withColumn("__bucket", bucketColumn(col(key), numBuckets))
    val touched = bucketed.select("__bucket").distinct()
      .collect().map(_.getInt(0)).sorted // small: ≤ numBuckets values
    val target = spark.read.parquet(targetPath)
      .filter(col("__bucket").isin(touched.map(Integer.valueOf).toIndexedSeq: _*))
    val merged = replaceByKey(target, bucketed, key)
    // Stage the rewritten buckets, then swap each touched bucket dir into
    // place (Spark cannot overwrite a path it is reading from; the
    // per-bucket swap keeps untouched buckets' files intact and gives
    // bucket-level atomicity).
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val staged = targetPath + ".staged"
    merged.write
      .partitionBy("__bucket")
      .mode(SaveMode.Overwrite)
      .parquet(staged)
    touched.foreach { b =>
      val src = Paths.get(s"$staged/__bucket=$b")
      val dst = Paths.get(s"$targetPath/__bucket=$b")
      if (Files.exists(src)) {
        deleteRecursive(dst)
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      }
    }
    deleteRecursive(Paths.get(staged))
  }
}
