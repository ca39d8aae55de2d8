package graft

import graft.functions.{Bpe, Dedup, Similarity, WordPiece}
import graft.plans.Materialize
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** The round loops outside `Graphs` (connected components, the
  * BPE-family trainers, k-center): what each leaves behind, what it
  * compiles, and how many Spark jobs it runs.
  */
class RoundLoopsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("every ported round loop leaves only the RDDs its output reads") {
    // a chain of 80 nodes spread over 4 partitions: the local
    // contraction leaves cross-partition edges, so star rounds run
    val chain = new scala.util.Random(11).shuffle((1L until 80L).map(i => (i, i + 1)))
      .toDF("a_id", "b_id").repartition(4)
    // (name, run); run returns the RDDs its output reads: none for a
    // driver result or for k-center's output, a local relation
    val ops: Seq[(String, () => Set[Int])] = Seq(
      ("connectedComponents", () => {
        val out = Dedup.connectedComponents(chain)
        noop(out)
        Materialize.rddIds(out)
      }),
      ("kCenterCoreset", () => { noop(Similarity.kCenterCoreset(embs, k = 8)); Set.empty }),
      ("trainBpe", () => { Bpe.trainBpe(docs, numMerges = 3); Set.empty }),
      ("trainBpeBytes", () => { Bpe.trainBpeBytes(docs, numMerges = 3); Set.empty }),
      ("trainWordPiece", () => { WordPiece.trainWordPiece(docs, numMerges = 3); Set.empty }))
    val leaks = ops.flatMap { case (name, run) =>
      val before = persisted
      val reads = run()
      val left = persisted -- before
      Materialize.free(spark.sparkContext, left, blocking = true)
      if (left == reads) None
      else Some(s"$name left ${left.size} RDDs, its output reads ${reads.size}")
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }

  test("kCenterCoreset compiles no new classes for a new embedding set once warm") {
    // Each round's center reaches the plan as data: the generated code
    // is the same for every embedding set of the same schema.
    noop(Similarity.kCenterCoreset(embs, k = 8))
    val other = spark.read.parquet(
      s"${new java.io.File(sfDir).getParent}/sf0.01/embeddings.parquet")
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    noop(Similarity.kCenterCoreset(other, k = 8))
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"kCenterCoreset on a new set compiled $compiled classes")
  }

  test("round loops run the pinned number of Spark jobs") {
    def query(name: String): Unit = noop(SparkEntry.queries(name)(spark, sfDir))
    // resolving a parquet schema runs a job: do it before counting
    Seq(docs, embs).foreach(_.schema)
    // (name, pinned, exact, run); k-center runs one job for the seed
    // state, one for each of the 7 further rounds and one to write the
    // picks; the others may not exceed what they ran before they moved
    // onto the round tracker
    val pins: Seq[(String, Int, Boolean, () => Unit)] = Seq(
      ("kCenterCoreset(k = 8)", 9, true,
        () => noop(Similarity.kCenterCoreset(embs, k = 8))),
      ("trainBpe(3)", 12, false, () => Bpe.trainBpe(docs, numMerges = 3)),
      ("trainWordPiece(3)", 20, false,
        () => WordPiece.trainWordPiece(docs, numMerges = 3)),
      ("dedup_cosine_components", 8, false, () => query("dedup_cosine_components")),
      ("er_golden_record", 12, false, () => query("er_golden_record")))
    val off = pins.flatMap { case (name, pinned, exact, run) =>
      val jobs = JobCount(spark.sparkContext)(run())._2
      if (jobs == pinned || (!exact && jobs < pinned)) None
      else Some(s"$name ran $jobs jobs (pinned ${if (exact) "" else "<= "}$pinned)")
    }
    assert(off.isEmpty, off.mkString("; "))
  }
}
