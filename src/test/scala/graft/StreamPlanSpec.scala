package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Plan-shape guards for the streaming state machinery the batch
  * PlanQualitySpec sweep cannot see (streams are not registered
  * queries): the seen-key screen must stay BROADCAST-ONLY — the
  * corpus-sized digest history crossing an exchange per micro-batch
  * is exactly the shape that stops scaling at 100 TB — and the
  * committed-directory read rule must never surface a half-written
  * current batch.
  */
class StreamPlanSpec extends SparkSpec {
  import spark.implicits._

  test("seenKeyScreen: zero shuffle exchanges — history rides broadcast " +
      "joins only, and the screen is exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sks").toString
    (1L to 1000L).map(i => f"k$i%04d").toDF("canon_key")
      .write.parquet(s"$dir/b0")
    (1001L to 1500L).map(i => f"k$i%04d").toDF("canon_key")
      .write.parquet(s"$dir/b1")
    val winners = Seq("k0005", "k1200", "k9999", "kNEW")
      .toDF("canon_key").withColumn("doc_id", monotonically_increasing_id())
    val screened = Streams.seenKeyScreen(winners,
      Seq(s"$dir/b0", s"$dir/b1"))
    assert(screened.select("canon_key").as[String].collect().toSet
      == Set("k9999", "kNEW"))
    val plan = screened.queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hash"),
      s"seen-key screen shuffled:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast joins:\n$plan")
  }

  test("committedBatchDirs: only b<bid> children with bid < batchId, " +
      "non-state names ignored") {
    val root = java.nio.file.Files.createTempDirectory("graft-cbd")
    for (n <- Seq("b0", "b1", "b2", "b10", "b2.staged", "counters.parquet",
        "bx", "_tmp"))
      java.nio.file.Files.createDirectories(root.resolve(n))
    def names(bid: Long): Set[String] =
      Streams.committedBatchDirs(root, bid)
        .map(p => java.nio.file.Paths.get(p).getFileName.toString).toSet
    assert(names(2L) == Set("b0", "b1"))
    assert(names(3L) == Set("b0", "b1", "b2")) // the .staged twin is ignored
    assert(names(11L) == Set("b0", "b1", "b2", "b10"))
    assert(names(0L) == Set.empty[String])
    assert(Streams.committedBatchDirs(
      root.resolve("missing"), 5L) == Nil)
    // snapshot state: a batch reads the newest committed bid < batchId
    val snaps = java.nio.file.Files.createTempDirectory("graft-snap")
    for (b <- Seq(1L, 3L, 7L))
      Seq(b).toDF("bid").write.parquet(snaps.resolve(s"b$b").toString)
    for ((n, b) <- Seq("b4.staged" -> 4L, "b9.old" -> 9L, "counters.parquet" -> 5L))
      Seq(b).toDF("bid").write.parquet(snaps.resolve(n).toString)
    def read(bid: Long): Option[Long] =
      Streams.priorSnapshot(spark, snaps.toString, bid).map(_.as[Long].head())
    assert(read(5L) == Some(3L)) // not b4.staged, not the newer b7
    assert(read(2L) == Some(1L))
    assert(read(1L) == None)
    assert(read(Long.MaxValue) == Some(7L)) // not b9.old
    // a commit keeps the snapshot it read and deletes the older ones;
    // the siblings stay untouched
    val committed = Streams.commitSnapshot(
      Seq(8L).toDF("bid"), snaps.toString, 8L)
    assert(committed.as[Long].collect().toSeq == Seq(8L))
    val left = java.nio.file.Files.list(snaps)
    val kept = try left.iterator().asScala.map(_.getFileName.toString).toSet
      finally left.close()
    assert(kept == Set("b7", "b8", "b4.staged", "b9.old", "counters.parquet"),
      kept)
    assert(read(9L) == Some(8L))
  }
}
