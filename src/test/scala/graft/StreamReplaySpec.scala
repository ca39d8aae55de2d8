package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.Streams

/** The replay rule of every file-state stream ([[Streams]]):
  * `foreachBatch` is at-least-once, so a batch that wrote its state
  * but crashed before the checkpoint recorded it runs again under the
  * same batchId. Each stream here gets two micro-batches, then its
  * newest batch is replayed with its state left on disk; the replay
  * must emit the rows the first run emitted and leave every state
  * table as it was.
  */
class StreamReplaySpec extends SparkSpec {
  import spark.implicits._
  import StreamReplaySpec._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** Feeds `batches` one micro-batch per run (the stream restarts
    * between them), replays the newest batch and asserts the rule.
    * `start(stream, statePath, checkpoint, emit)` starts the stream
    * with its callback handing what it receives to `emit`.
    */
  private def assertReplaySafe(batches: Seq[DataFrame])(
      start: (DataFrame, String, String, Seq[String] => Unit) => StreamingQuery)
      : Unit = {
    val dir = Files.createTempDirectory("graft-replay").toString
    val (state, ckpt) = (s"$dir/state", s"$dir/ck")
    val emitted = scala.collection.mutable.ArrayBuffer[String]()
    def run(): Seq[String] = {
      emitted.clear()
      start(spark.readStream.schema(batches.head.schema).parquet(s"$dir/in/*"),
        state, ckpt, emitted ++= _).awaitTermination(180000)
      emitted.sorted.toSeq
    }
    var first: Seq[String] = Nil
    for ((b, i) <- batches.zipWithIndex) {
      b.coalesce(1).write.parquet(s"$dir/in/b$i.parquet")
      first = run()
    }
    assert(first.nonEmpty, "the newest batch emitted nothing to compare")
    val before = stateTables(spark, state)
    uncommitNewest(ckpt)
    val replayed = run()
    assert(replayed == first,
      s"replayed batch emitted other rows:" +
        s"\n replay-only=${replayed.diff(first).take(5)}" +
        s"\n first-only=${first.diff(replayed).take(5)}")
    val after = stateTables(spark, state)
    assert(after == before,
      s"replay changed the state: ${(after.toSet diff before.toSet)
        .map(t => t._1 -> t._2.take(3)).take(3)}")
  }

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select("vec_id", "embedding")
  private lazy val urls = Queries.urlFixture(spark, sfDir)

  test("replay: nearDupFreeStream") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    assertReplaySafe(Seq(
      Seq((1L, base), (2L, base),
        (3L, "completely different content here with many original words")),
      Seq((4L, base.replace("dog", "pup")),
        (5L, "nothing like anything processed before in any earlier batch at all"),
        (6L, "yet another sentence that shares very little with the others")))
      .map(_.toDF("doc_id", "text"))) { (in, st, ck, emit) =>
      Streams.nearDupFreeStream(in, st, ck, s => emit(rows(s)))
    }
  }

  test("replay: semanticDedupStream") {
    val vs = Seq(
      1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(0.99f, 0.01f, 0f, 0f),
      3L -> Array(0f, 0f, 1f, 0f), 4L -> Array(0.98f, 0.02f, 0f, 0f),
      5L -> Array(0f, 1f, 0f, 0f), 6L -> Array(0.01f, 0.99f, 0f, 0f))
    val centroids = Array(Array(1000L, 0L, 0L, 0L), Array(0L, 1000L, 0L, 0L))
    assertReplaySafe(Seq(vs.take(3), vs.drop(3))
        .map(_.toDF("vec_id", "embedding"))) { (in, st, ck, emit) =>
      Streams.semanticDedupStream(in, centroids, 0.95, st, ck,
        s => emit(rows(s)))
    }
  }

  test("replay: driftStream") {
    val d = docs.select("doc_id", "text")
    assertReplaySafe(Seq(d.filter($"doc_id" < 50),
        d.filter($"doc_id" >= 50 && $"doc_id" < 100))) { (in, st, ck, emit) =>
      Streams.driftStream(in, st, ck,
        (id, tv, nb, nr) => emit(Seq(s"$id,$tv,$nb,$nr")))
    }
  }

  test("replay: embDriftStream") {
    assertReplaySafe(Seq(embs.filter($"vec_id" < 50),
        embs.filter($"vec_id" >= 50 && $"vec_id" < 100))) { (in, st, ck, emit) =>
      Streams.embDriftStream(in, st, ck,
        (id, ms, nb, nr) => emit(Seq(s"$id,$ms,$nb,$nr")))
    }
  }

  test("replay: topkStream") {
    val queries = embs.filter($"vec_id" < 3)
    assertReplaySafe(Seq(embs.filter($"vec_id" < 40),
        embs.filter($"vec_id" >= 40 && $"vec_id" < 80))) { (in, st, ck, emit) =>
      Streams.topkStream(in, queries, 5, st, ck, t => emit(rows(t)))
    }
  }

  test("replay: funnelStream") {
    val d = docs.select("doc_id", "text")
    assertReplaySafe(Seq(d.filter($"doc_id" < 100),
        d.filter($"doc_id" >= 100 && $"doc_id" < 200))) { (in, st, ck, emit) =>
      Streams.funnelStream(in, Queries.funnelScreens, Queries.funnelDedup,
        st, ck, f => emit(rows(f)))
    }
  }

  test("replay: piiAuditStream") {
    val d = docs.select(col("doc_id"), col("source"),
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" contact a.b@mail.co at 10.0.0.1 ")))
        .otherwise(col("text")).as("text"))
    assertReplaySafe(Seq(d.filter($"doc_id" < 100),
        d.filter($"doc_id" >= 100 && $"doc_id" < 200))) { (in, st, ck, emit) =>
      Streams.piiAuditStream(in, st, ck, a => emit(rows(a)))
    }
  }

  test("replay: reservoirStream") {
    val d = docs.select("doc_id", "source")
    assertReplaySafe(Seq(d.filter($"doc_id" % 2 === 0),
        d.filter($"doc_id" % 2 === 1))) { (in, st, ck, emit) =>
      Streams.reservoirStream(in, st, ck, k = 5, s => emit(rows(s)))
    }
  }

  test("replay: cdcStoreStream") {
    val d = docs.select("doc_id", "text")
    assertReplaySafe(Seq(d.filter($"doc_id" < 100),
        d.filter($"doc_id" >= 100 && $"doc_id" < 200))) { (in, st, ck, emit) =>
      Streams.cdcStoreStream(in, st, ck, r => emit(rows(r)))
    }
  }

  test("replay: urlDedupStream") {
    assertReplaySafe(Seq(urls.filter($"doc_id" < 150),
        urls.filter($"doc_id" >= 150 && $"doc_id" < 320))) { (in, st, ck, emit) =>
      Streams.urlDedupStream(in, st, ck, s => emit(rows(s)))
    }
  }

  test("replay: hostCapStream") {
    assertReplaySafe(Seq(urls.filter($"doc_id" < 150),
        urls.filter($"doc_id" >= 150 && $"doc_id" < 320))) { (in, st, ck, emit) =>
      Streams.hostCapStream(in, st, ck, baseCap = 20, a => emit(rows(a)))
    }
  }

  test("replay: neardupScreenStream") {
    val d = docs.select("doc_id", "text")
    assertReplaySafe(Seq(d.filter($"doc_id" % 2 === 0),
        d.filter($"doc_id" % 2 === 1))) { (in, st, ck, emit) =>
      Streams.neardupScreenStream(in, st, ck, onPairs = p => emit(rows(p)))
    }
  }
}

object StreamReplaySpec {

  /** Deletes only the checkpoint's record that its newest batch
    * committed; the stream's state stays on disk. The next run
    * re-delivers that batch under the same batchId — the window
    * between a batch's state writes and the checkpoint commit that
    * `foreachBatch`'s at-least-once delivery leaves open.
    */
  def uncommitNewest(ckpt: String): Unit = {
    val commits = Paths.get(ckpt, "commits")
    val newest = commits.toFile.list().filter(_.forall(_.isDigit))
      .map(_.toLong).max
    Seq(s"$newest", s".$newest.crc").foreach(n =>
      Files.deleteIfExists(commits.resolve(n)))
  }

  /** Every parquet table under `root`, keyed by its path relative to
    * `root`, as its sorted row strings.
    */
  def stateTables(spark: SparkSession, root: String): Map[String, Seq[String]] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    val tables =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(_.getParent).toSet
      finally walk.close()
    tables.map(d => base.relativize(d).toString ->
      spark.read.parquet(d.toString).collect().map(_.toString).sorted.toSeq)
      .toMap
  }
}
