package graft.plans

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Pluggable lineage-truncation point for every iterative / fan-out
  * operator in the engine (round loops, and shared subtrees feeding
  * 2+ consumers — Catalyst never shares subtrees, so a DataFrame with
  * multiple consumers must be materialized once or its upstream
  * re-executes per consumer).
  *
  * Two storage disciplines, selected by the SparkContext's checkpoint
  * dir (`SparkContext.setCheckpointDir`):
  *
  *  - UNSET (local mode, tests, the bench): `localCheckpoint()` —
  *    executor-local blocks, no filesystem round-trip. Fast, but the
  *    blocks die with their executor: an executor loss mid-job kills
  *    the truncated lineage and fails the query. Fine at local[32].
  *  - SET (a long-lived cluster job pointing at durable storage —
  *    HDFS/object store): reliable `checkpoint()` — the dataset is
  *    written to the checkpoint dir and survives executor loss, at
  *    the cost of a filesystem write per materialization. Checkpoint
  *    files are reclaimed by Spark's ContextCleaner when
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  *    (default false: files outlive the job and need external
  *    cleanup — the standard Spark trade).
  *
  * Both paths are EAGER (the default for both Dataset methods), so
  * callers keep the property the engine's loop disciplines rely on:
  * after `materialize()` the result is computed, its lineage is
  * truncated, and superseded rounds can be freed.
  *
  * Round loops keep their bookkeeping in one [[Rounds]] tracker per
  * call: it materializes each round, frees the rounds a loop no longer
  * reads, and frees what is left once the caller is done. It and every
  * other caller of [[free]] stay correct in durable mode: reliable
  * checkpoints don't register persistent RDDs, so the free is a no-op
  * — retention is handed to the checkpoint-dir cleanup discipline
  * instead.
  */
object Materialize {

  /** Truncate lineage and materialize: reliable `checkpoint()` when a
    * checkpoint dir is set on the SparkContext, `localCheckpoint()`
    * otherwise.
    *
    * Durable mode caches around the checkpoint: Spark's reliable
    * checkpoint runs the eager action AND a second job that
    * re-executes the RDD to write the files (the classic
    * checkpoint-without-cache 2× recompute) — with the dataset cached,
    * the write job reads blocks instead of recomputing the subtree.
    */
  def apply[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      ds.persist()
      try ds.checkpoint()
      finally ds.unpersist(blocking = false)
    } else ds.localCheckpoint()

  /** Materialize with job-metric piggybacking: `metrics` (named
    * aggregate expressions) ride as an `observe` on the
    * materialization job itself, so loop disciplines that need a
    * per-round count / max / signature pay ZERO extra jobs for it.
    * Returns the materialized dataset and the observed metric row as
    * a name→value map (aggregates over zero rows observe as null —
    * callers own that default).
    */
  def withMetrics[T](ds: Dataset[T], first: org.apache.spark.sql.Column,
      rest: org.apache.spark.sql.Column*): (Dataset[T], Map[String, Any]) = {
    val obs = org.apache.spark.sql.Observation()
    val ck = apply(ds.observe(obs, first, rest: _*))
    (ck, obs.get)
  }

  /** The persisted RDD ids backing a MATERIALIZED dataset (its
    * LogicalRDD leaves) — lets loop disciplines free exactly their
    * own superseded checkpoints, with no global `getPersistentRDDs`
    * set-diffing (which assumes single-threaded query construction
    * and breaks under concurrent plans). Reliable-checkpoint RDDs
    * don't hold blocks, so freeing them is a harmless no-op.
    */
  def rddIds[T](ds: Dataset[T]): Set[Int] =
    ds.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet

  /** Free a materialized dataset's own blocks (its [[rddIds]]) and
    * nothing else, so a checkpoint another thread holds is never
    * touched. `blocking` waits for the block removals to finish.
    */
  def free[T](ds: Dataset[T], blocking: Boolean): Unit =
    free(ds.sparkSession.sparkContext, rddIds(ds), blocking)

  /** [[free]] by ids a caller collected earlier with [[rddIds]]. */
  def free(sc: org.apache.spark.SparkContext, ids: Set[Int],
      blocking: Boolean): Unit =
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking)))

  /** One loop call's materialized state, the single place a round
    * loop keeps its bookkeeping. Each round goes through [[apply]] or
    * [[withMetrics]]: it is materialized and its [[rddIds]] recorded,
    * and rounds older than the last `keep` are freed (a materialized
    * round is computed, so a later round never reads an earlier one
    * through it). Tables every round reads are [[hold]] (materialized)
    * or [[cache]] (persisted, filled by their first consumer); they
    * live until [[close]], which frees everything the loop's output
    * does not read. Each call makes its own tracker and frees only the
    * ids it recorded, so loops running on other threads never lose a
    * block. Not thread-safe: one loop drives it.
    */
  final class Rounds(keep: Int) {
    require(keep >= 1, "keep must be >= 1")
    private var rounds = Vector.empty[Set[Int]] // oldest first
    private var held = Set.empty[Int]
    private var cached = List.empty[Dataset[_]]
    private var sc: Option[org.apache.spark.SparkContext] = None // of the recorded ids

    /** Persist an input every round reads; unpersisted by [[close]]. */
    def cache[T](ds: Dataset[T]): Dataset[T] = {
      cached ::= ds.persist(StorageLevel.MEMORY_AND_DISK)
      ds
    }

    /** Materialize a table every round reads; freed by [[close]]. */
    def hold[T](ds: Dataset[T]): Dataset[T] = {
      val ck = Materialize(ds)
      held ++= rddIds(ck)
      sc = Some(ck.sparkSession.sparkContext)
      ck
    }

    /** Materialize one round. */
    def apply[T](ds: Dataset[T]): Dataset[T] = record(Materialize(ds))

    /** Materialize one round with its observed metrics
      * ([[Materialize.withMetrics]]).
      */
    def withMetrics[T](ds: Dataset[T], first: org.apache.spark.sql.Column,
        rest: org.apache.spark.sql.Column*): (Dataset[T], Map[String, Any]) = {
      val (ck, m) = Materialize.withMetrics(ds, first, rest: _*)
      (record(ck), m)
    }

    private def record[T](ck: Dataset[T]): Dataset[T] = {
      rounds :+= rddIds(ck)
      sc = Some(ck.sparkSession.sparkContext)
      if (rounds.size > keep) {
        free(ck.sparkSession.sparkContext, rounds.head, blocking = false)
        rounds = rounds.tail
      }
      ck
    }

    /** The loop is done: free every round and held table that `out`
      * does not read, unpersist the caches, and return `out`. What
      * `out` reads passes to its caller.
      */
    def close[T](out: Dataset[T]): Dataset[T] = {
      release(rddIds(out))
      out
    }

    /** [[close]] for a loop that returns only driver values: frees
      * everything.
      */
    def close(): Unit = release(Set.empty)

    private def release(kept: Set[Int]): Unit = {
      sc.foreach(free(_, (rounds.flatten ++ held).toSet -- kept, blocking = false))
      cached.foreach(_.unpersist(blocking = false))
    }
  }

  /** Postfix syntax: `df.materialize()` reads like the
    * `localCheckpoint()` calls it replaces.
    */
  implicit final class MaterializeOps[T](private val ds: Dataset[T])
      extends AnyVal {
    def materialize(): Dataset[T] = Materialize(ds)
  }
}
