package graft.plans

import org.apache.spark.sql.Dataset

/** Pluggable lineage-truncation point for every iterative / fan-out
  * operator in the engine (connected-components rounds, HITS
  * half-steps, APSS prefix tables, shared subtrees feeding 2+
  * consumers — Catalyst never shares subtrees, so a DataFrame with
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
  * Callers that free superseded rounds through [[free]]
  * (connectedComponents, hits) stay correct in durable mode: reliable
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
    * callers own that default). The shared form of the pattern
    * HITS, k-core and BFS each carried privately.
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

  /** Postfix syntax: `df.materialize()` reads like the
    * `localCheckpoint()` calls it replaces.
    */
  implicit final class MaterializeOps[T](private val ds: Dataset[T])
      extends AnyVal {
    def materialize(): Dataset[T] = Materialize(ds)
  }
}
