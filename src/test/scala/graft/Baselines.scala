package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, TextAnalysis}

/** Reference formulations the specs compare the engine against: the
  * plain composed-builtin or naive form of an operator whose shipped
  * version is a native kernel or a scale-safe plan. Test code only —
  * each is correct but too slow (or single-task) for a real corpus.
  */
object Baselines {

  /** Connected-component labels of an undirected pair list by a
    * sequential union-find: node → smallest node of its component, for
    * every node of a pair. Self-loops connect nothing and are skipped,
    * as `Dedup.connectedComponents` skips them.
    */
  def componentLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val links = pairs.filter { case (a, b) => a != b }
    links.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    links.flatMap { case (a, b) => Seq(a, b) }.distinct.map(x => x -> find(x)).toMap
  }

  /** Quantize a float embedding to exact integer components in
    * higher-order-function form — the semantics `graft_quantize`
    * (`Similarity.quantized`) reproduces.
    */
  def quantizedHof(embedding: Column, scale: Int = 1000): Column =
    transform(embedding, x => round(x * scale).cast("long"))

  /** PQ codes in expression-tree form: codes[j] = argmin_c
    * ‖sub_j − cw_{j,c}‖² (ties → lowest code), the semantics
    * `graft_pq_encode` reproduces bit-for-bit.
    */
  def pqCodesColHof(q: Column, cb: Array[Array[Array[Long]]]): Column = {
    val dsub = cb(0)(0).length
    array(cb.indices.map { j =>
      val sub = slice(q, j * dsub + 1, dsub)
      val scored = cb(j).zipWithIndex.map { case (w, c) =>
        val wLit = array(w.map(lit).toIndexedSeq: _*)
        struct(
          (lit(w.map(x => x * x).sum) -
            lit(2L) * call_function("graft_dot", sub, wLit)).as("d"),
          lit(c).as("c"))
      }
      array_min(array(scored.toIndexedSeq: _*)).getField("c").cast("long")
    }: _*)
  }

  /** PQ distance table in expression-tree form: flat
    * dt[j*ksub + c] = ‖qsub_j − cw_{j,c}‖², the semantics `graft_pq_dt`
    * reproduces bit-for-bit.
    */
  def pqDistTableColHof(q: Column, cb: Array[Array[Array[Long]]]): Column = {
    val dsub = cb(0)(0).length
    flatten(array(cb.indices.map { j =>
      val qsub = slice(q, j * dsub + 1, dsub)
      array(cb(j).zipWithIndex.map { case (w, _) =>
        val wLit = array(w.map(lit).toIndexedSeq: _*)
        call_function("graft_norm_sq", qsub) + lit(w.map(x => x * x).sum) -
          lit(2L) * call_function("graft_dot", qsub, wLit)
      }.toIndexedSeq: _*)
    }: _*))
  }

  /** The join formulation of `Dedup.removeRepeatedSpans`: a doc's
    * tokens join to ALL of its spans before re-grouping, quadratic
    * inside one un-splittable doc_id key.
    */
  def removeRepeatedSpansViaJoin(
      docs: DataFrame, w: Int = 8, minCount: Long = 2): DataFrame = {
    val spans = Dedup.repeatedSpans(docs, w, minCount)
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\\s+")).as(Seq("pos", "tok")))
    val kept = toks
      .join(spans, Seq("doc_id"), "left")
      .withColumn("__in_span",
        col("span_start").isNotNull &&
          col("pos") >= col("span_start") && col("pos") < col("span_end"))
      .groupBy(col("doc_id"), col("pos"), col("tok"))
      .agg(max(when(col("__in_span"), 1L).otherwise(0L)).as("__covered"))
    kept.groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__covered") === 0,
            struct(col("pos"), col("tok"))))),
          s => s.getField("tok"))).as("clean_text"),
        sum(col("__covered")).as("n_removed_tokens"))
  }

  /** Naive single-global-window form of `Packing.packChunks` (identical
    * output, one task for the whole corpus).
    */
  def packChunksGlobalWindow(
      docs: DataFrame,
      seqLen: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    docs.select(
        col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn(
        "t_start",
        coalesce(
          sum("n_tokens").over(Window.orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("t_start"),
        expr(s"t_start div ${seqLen}L").as("first_chunk"),
        expr(s"(t_start + n_tokens - 1) div ${seqLen}L").as("last_chunk"),
        pmod(col("t_start"), lit(seqLen.toLong)).as("chunk_offset"))
  }
}
