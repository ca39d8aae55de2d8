package graft.functions
import graft.plans.Materialize.{MaterializeOps, Rounds}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (north star: similarity search for training-data curation).
  *
  * Numeric determinism: embeddings are quantized to integers
  * (round(x·1000)) so dot products are exact 64-bit sums —
  * order-independent and bit-identical across engines (the DuckDB
  * oracle computes the same integers). Norms/cosines then take one
  * sqrt + one divide each: single IEEE ops, still deterministic.
  *
  * Scale design: brute-force top-k is the correctness baseline
  * (O(Q·N) — fine when the query set is small and broadcast). The
  * scale path is random-hyperplane LSH bucketing: each vector lands in
  * 2^p sign-buckets, probes join only within their bucket, so the
  * candidate set shrinks ~2^p-fold; recall is traded via multi-probe.
  */
object Similarity {

  /** Quantize a float embedding to exact integer components. Native
    * codegen'd kernel; HALF_UP rounding bit-identical to `round()`.
    * Self-registering: resolves on any session, no pipeline ordering
    * dependency.
    */
  def quantized(embedding: Column, scale: Int = 1000): Column = {
    graft.plans.GraftFunctions.registerActive()
    call_function("graft_quantize", embedding, lit(scale))
  }

  /** Exact integer dot product of two quantized vectors. */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Squared L2 norm of a quantized vector (exact integer). */
  def intNormSq(a: Column): Column =
    aggregate(transform(a, x => x * x), lit(0L), (acc, v) => acc + v)

  /** Cosine similarity from exact integer dot/norms; deterministic. */
  def cosineFromInts(dot: Column, normA: Column, normB: Column): Column =
    dot.cast("double") / (sqrt(normA.cast("double")) * sqrt(normB.cast("double")))

  /** Brute-force cosine top-k: every query vector against the full
    * corpus. The query side is tiny (selected ids) → Catalyst
    * broadcasts it; the corpus is scanned once, never shuffled until
    * the per-query top-k (partial top-k per partition via the window's
    * underlying sort — k rows per query survive).
    */
  def bruteForceTopK(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val quant = embeddings.select(
      col("vec_id"),
      quantized(col("embedding")).as("q"),
    ).withColumn("nsq", call_function("graft_norm_sq", col("q")))
    val queries = quant
      .filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("nsq").as("qn"))
    val scored = quant.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosineFromInts(call_function("graft_dot", col("q"), col("qv")),
          col("nsq"), col("qn")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 6).as("cos"))
  }

  /** Semi-hard negative mining (Schroff et al. 2015, "FaceNet", §3.3 —
    * the triplet-selection rule contrastive training pipelines run over
    * the whole corpus): for each anchor, find the top-k OTHER-label
    * vectors that are LESS similar than the anchor's hardest (least
    * similar) same-label positive but maximally similar among those —
    * negatives inside the positive radius are "too hard" (they collapse
    * training), so the mined set is the closest negatives that still
    * respect the margin. Anchors with no same-label positive emit
    * nothing (there is no radius to respect).
    *
    * Emits (qid, rank, nid, cos, pos_cos) — pos_cos is the anchor's
    * positive radius, so the per-row margin is pos_cos − cos.
    *
    * Scale shape: the anchor set is tiny and broadcast, and NOTHING
    * corpus-sized ever rides a qid-keyed shuffle. The positive radius
    * is a `groupBy(qid)` conditional min — map-side combined, so the
    * radius exchange carries ≤ |anchors| rows per map task — broadcast
    * back onto a second map-only scoring pass; the same-label and
    * outside-radius rows (the vast majority of the corpus) are
    * filtered MAP-SIDE, and only then does the rank window run, whose
    * `rank <= k` filter triggers WindowGroupLimit: each map task
    * pre-prunes to its local top-k per anchor BEFORE the window
    * exchange, so the rank shuffle carries O(|anchors|·k·tasks) rows.
    * (The previous shape computed the radius as a min-window sharing
    * the rank window's exchange — one shuffle, but that one shuffle
    * moved corpus×anchors rows into |anchors| window partitions, a
    * per-anchor reducer sorting the whole corpus.) The corpus is
    * scanned twice, both passes map-only — scans parallelize; a
    * |anchors|-partition sort does not. Cosines are exact-integer
    * dots (deterministic), so the strict `cos < pos_cos` comparison
    * is bit-identical to the oracle's.
    */
  def semiHardNegatives(
      embeddings: DataFrame, anchorIds: Seq[Long], k: Int): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val quant = embeddings.select(
      col("vec_id"), col("label"),
      quantized(col("embedding")).as("q"),
    ).withColumn("nsq", call_function("graft_norm_sq", col("q")))
    val anchors = quant
      .filter(col("vec_id").isin(anchorIds.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("q").as("qv"), col("nsq").as("qn"))
    def scored = quant.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("vec_id").as("nid"), col("label"),
        cosineFromInts(call_function("graft_dot", col("q"), col("qv")),
          col("nsq"), col("qn")).as("cos"))
    // |anchors| rows out; anchors with no same-label positive get a
    // null pos_cos and the strict `cos < pos_cos` drops them entirely
    // (no radius to respect — FaceNet emits nothing for them)
    val radius = scored.groupBy(col("qid"))
      .agg(min(when(col("label") === col("qlabel"), col("cos")))
        .as("pos_cos"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored
      .join(broadcast(radius), Seq("qid"))
      .filter(col("label") =!= col("qlabel") && col("cos") < col("pos_cos"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"),
        round(col("cos"), 6).as("cos"), round(col("pos_cos"), 6).as("pos_cos"))
  }

  /** Two-stage prefix-dimension rerank (Matryoshka-style screening):
    * stage 1 scores the whole corpus against each query on only the
    * first `prefixDims` components — a dot product dims/prefixDims×
    * cheaper on the pass that actually reads the corpus — and keeps
    * the `candidates` best per query by exact integer prefix dot
    * (ties broken by id); stage 2 re-reads ONLY the candidate rows
    * (semi-join back on id — the full vectors never ride the stage-1
    * shuffle) and reranks them with the exact full-dimension cosine.
    * Exact top-k iff the true winners survive screening; recall is a
    * measured contract (`sim_rerank_contract`), not a guess.
    */
  def rerankTopK(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      prefixDims: Int, candidates: Int): DataFrame = {
    require(candidates >= k, "screening must keep at least k candidates")
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val quant = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
    val prefixed = quant.select(col("vec_id"),
      slice(col("q"), 1, prefixDims).as("p"))
    val queries = quant
      .filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        call_function("graft_norm_sq", col("q")).as("qn"),
        slice(col("q"), 1, prefixDims).as("qp"))
    val screenW = Window.partitionBy(col("qid"))
      .orderBy(col("pdot").desc, col("nid"))
    val cands = prefixed.crossJoin(broadcast(queries.select("qid", "qp")))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        call_function("graft_dot", col("p"), col("qp")).as("pdot"))
      .withColumn("__srk", row_number().over(screenW))
      .filter(col("__srk") <= candidates)
      .select("qid", "nid")
    val rerankW = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    cands
      .join(quant.select(col("vec_id").as("nid"), col("q"),
        call_function("graft_norm_sq", col("q")).as("nsq")), Seq("nid"))
      .join(broadcast(queries.select("qid", "qv", "qn")), Seq("qid"))
      .select(col("qid"), col("nid"),
        cosineFromInts(call_function("graft_dot", col("q"), col("qv")),
          col("nsq"), col("qn")).as("cos"))
      .withColumn("rank", row_number().over(rerankW))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 6).as("cos"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998): greedily select k items trading relevance against
    * redundancy — `argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c,s)`
    * — the standard diversity pass over an ANN candidate pool (RAG
    * retrieval, diverse few-shot selection, eval-set sampling).
    *
    * Exactness: relevance and pairwise similarity are RAW integer
    * dots of the quantized vectors and λ is a percentage, so every
    * MMR score is the exact integer `λ%·rel − (100−λ%)·maxSim` — no
    * FP anywhere, ties broken by vec_id; the whole greedy trajectory
    * is deterministic and the oracle replays it with k unrolled
    * rounds.
    *
    * Shape at scale: the DISTRIBUTED part is the part that scales —
    * one map + TakeOrdered builds the `pool`-row candidate set
    * (integer relevance against the broadcast query, no shuffle of
    * the corpus); the greedy runs driver-side over that pool —
    * BOUNDED state by construction (pool ≤ a few hundred rows, the
    * BPE-argmax discipline), because MMR's sequential argmax is
    * inherently order-dependent: each pick changes every remaining
    * score, so there is nothing to distribute beyond the pool build.
    * Returns `(rank, vec_id, rel, max_sim, mmr)`; rank 1 carries a
    * NULL max_sim (nothing selected yet) and mmr = λ%·rel.
    */
  def mmrRerank(embeddings: DataFrame, queryId: Long, k: Int,
      pool: Int, lambdaPct: Int): DataFrame = {
    require(k >= 1 && pool >= k, "need pool >= k >= 1")
    require(lambdaPct >= 0 && lambdaPct <= 100, "lambdaPct in [0,100]")
    val spark = embeddings.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val quant = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
    val qv = quant.filter(col("vec_id") === queryId)
      .select(col("q").as("qv"))
    val cands = quant.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("q"),
        call_function("graft_dot", col("q"), col("qv")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(pool)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val selected = scala.collection.mutable.ArrayBuffer[
      (Int, Long, Long, Option[Long], Long)]()
    val chosen = scala.collection.mutable.ArrayBuffer[(Long, Array[Long])]()
    val remaining = scala.collection.mutable.LinkedHashMap(
      cands.map(c => c._1 -> c): _*)
    for (rank <- 1 to math.min(k, cands.length)) {
      val best = remaining.values.map { case (id, v, rel) =>
        val ms = if (chosen.isEmpty) None
          else Some(chosen.iterator.map(s => dot(v, s._2)).max)
        val mmr = lambdaPct * rel - (100L - lambdaPct) * ms.getOrElse(0L)
        (mmr, id, rel, ms, v)
      }.minBy { case (mmr, id, _, _, _) => (-mmr, id) }
      selected += ((rank, best._2, best._3, best._4, best._1))
      chosen += ((best._2, best._5))
      remaining.remove(best._2)
    }
    import spark.implicits._
    selected.toSeq.toDF("rank", "vec_id", "rel", "max_sim", "mmr")
  }

  /** Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    * traversal — the 2-approximation every coreset/active-learning
    * curation pipeline runs to pick a maximally-spread representative
    * subset): seed at the minimum vec_id, then k−1 times pick the
    * vector FARTHEST (max min-squared-L2 over chosen centers, ties by
    * vec_id) from everything chosen so far. Distances are exact
    * integers over the quantized vectors (‖a−b‖² = ‖a‖² + ‖b‖² −
    * 2·a·b), so the trajectory is bit-reproducible and the DuckDB
    * oracle unrolls it round for round. Emits `(rank, vec_id,
    * dist_sq)` — dist_sq is the cover radius² at selection time (the
    * k-center objective's trajectory; rank 1 = 0), so the caller reads
    * coverage quality straight off the result.
    *
    * Scale shape: the min-distance state table carries (vec_id, q,
    * nsq, d) and is updated MAP-ONLY against the one newest center per
    * round. Every state is a round of one
    * [[graft.plans.Materialize.Rounds]] tracker, and its farthest row
    * (max d, ties to the lowest vec_id) is observed on that round's
    * own materialization job, so a pick costs no job of its own. The
    * center (id, vector, squared norm) reaches the next round as one
    * struct-valued scalar subquery over a one-row local relation:
    * data, not literals, so a new corpus compiles no new classes
    * (generated code inlines a primitive subquery result, but reads a
    * struct from its reference array). The driver ever holds k rows.
    * O(k·corpus) total work, k bounded — never all-pairs, nothing
    * corpus-scale collected. Every state is freed before returning.
    */
  def kCenterCoreset(embeddings: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = embeddings.sparkSession
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val rounds = new Rounds(keep = 1)
    var state: DataFrame = null
    // materialize the next state; its farthest row, None when it is empty
    def round(next: DataFrame): Option[Row] = {
      val (ck, m) = rounds.withMetrics(next,
        max(struct(col("d"), -col("vec_id"), col("q"), col("nsq"))).as("far"))
      state = ck
      Option(m("far").asInstanceOf[Row])
    }
    // every d starts unbounded, so the first farthest row is the seed:
    // the minimum vec_id
    var far = round(embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"),
    ).withColumn("nsq", call_function("graft_norm_sq", col("q")))
      .withColumn("d", lit(Long.MaxValue)))
    val picked = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    while (far.isDefined) {
      val f = far.get
      val rank = picked.size + 1
      picked += ((rank, -f.getLong(1), if (rank == 1) 0L else f.getLong(0)))
      far = if (rank == k) None else {
        val center = Seq((-f.getLong(1), f.getSeq[Long](2), f.getLong(3)))
          .toDF("id", "q", "nsq").select(struct("id", "q", "nsq")).scalar()
        val dist = col("nsq") + center.getField("nsq") - lit(2L) *
          call_function("graft_dot", col("q"), center.getField("q"))
        round(state.filter(col("vec_id") =!= center.getField("id"))
          .select(col("vec_id"), col("q"), col("nsq"), least(col("d"), dist).as("d")))
      }
    }
    rounds.close(picked.toSeq.toDF("rank", "vec_id", "dist_sq"))
  }

  /** Random-hyperplane signature: p sign bits packed into a long. The
    * hyperplane components are deterministic pseudo-random ±[0,1)
    * values derived from `md5("p_i")` (see
    * [[graft.plans.TextKernels.planeWeight]]) — reproducible across
    * runs AND engines (the DuckDB oracle rebuilds identical buckets),
    * no RNG state. Narrow map-only transform (no shuffle).
    * Column-level reference form, interpreted — kept as the baseline
    * the native kernel is unit-tested against.
    */
  private[graft] def lshSignatureHof(embedding: Column, planes: Int): Column =
    (0 until planes).foldLeft(lit(0L)) { (acc, p) =>
      val u32 = (i: Column) =>
        conv(substring(md5(concat(lit(s"${p}_"), i.cast("string"))), 1, 8), 16, 10)
          .cast("long")
      val dot = aggregate(
        zip_with(embedding,
          sequence(lit(0), size(embedding) - 1),
          (x, i) => x * ((u32(i) % 2000L - 1000L).cast("double") / 1000.0)),
        lit(0.0), (a, v) => a + v)
      acc.bitwiseOR(when(dot > 0, lit(1L << p)).otherwise(lit(0L)))
    }

  /** Random-hyperplane signature, native codegen'd kernel
    * ([[graft.plans.HyperplaneSigExpr]]) — bit-identical buckets to
    * [[lshSignatureHof]], one kernel call per row. Self-registering.
    */
  def lshSignature(embedding: Column, planes: Int): Column = {
    graft.plans.GraftFunctions.registerActive()
    call_function("graft_hyperplane_sig", embedding, lit(planes))
  }

  /** LSH-bucketed ANN: probes only meet corpus vectors in their own
    * sign-bucket. With p planes the corpus splits into ≤2^p buckets —
    * the shuffle moves each vector once (by bucket), and each query
    * joins a ~N/2^p slice instead of N.
    *
    * `probes` > 1 enables multi-probe (Lv et al., VLDB'07 shape): the
    * QUERY side additionally probes the nearest other buckets by
    * Hamming distance from its own signature, so recall rises steeply
    * while the candidate set grows only ×probes — and only the tiny
    * broadcast query side is replicated, the corpus still shuffles
    * once. `probes` ∈ [1, 2^planes]: up to planes+1 the probe set is
    * own bucket + single-bit flips (cheap XOR generation); beyond that
    * the full bucket space is enumerated and ranked by Hamming
    * distance (ties toward the lower bucket id), so `probes = 2^planes`
    * probes every bucket — the LSH analog of IVF's nprobe = nlist,
    * PROVABLY equal to brute force (and the oracle-backed registration).
    */
  def lshTopK(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int, planes: Int = 8,
      probes: Int = 1): DataFrame = {
    require(planes >= 1 && planes <= 16, s"planes must be in [1, 16], got $planes")
    require(probes >= 1 && probes <= (1 << planes),
      s"probes must be in [1, ${1 << planes}]")
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val sig = embeddings.select(
      col("vec_id"),
      quantized(col("embedding")).as("q"),
      lshSignature(col("embedding"), planes).as("bucket"),
    ).withColumn("nsq", call_function("graft_norm_sq", col("q")))
    val probeBuckets =
      if (probes <= planes + 1)
        array((col("bucket") +:
          (0 until probes - 1).map(b =>
            col("bucket").bitwiseXOR(lit(1L << b)))): _*)
      else {
        // Hamming-ball enumeration: every bucket id, ranked by distance
        // from the query's own signature. The 2^planes-element literal
        // array is per-PLAN (a handful of KB at the [1,16] planes cap),
        // not per-row state; only `probes` survive the slice.
        val ranked = array_sort(transform(
          array((0L until (1L << planes)).map(lit): _*),
          b => struct(bit_count(col("bucket").bitwiseXOR(b)).as("d"), b.as("bk"))))
        transform(slice(ranked, 1, probes), s => s.getField("bk"))
      }
    val queries = sig
      .filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        col("nsq").as("qn"), explode(probeBuckets).as("bucket"))
    val scored = sig.join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      // a neighbor can land in several probed buckets — dedupe before
      // ranking or multi-probe would emit duplicate (qid, nid) rows
      .select(col("qid"), col("vec_id").as("nid"),
        cosineFromInts(call_function("graft_dot", col("q"), col("qv")),
          col("nsq"), col("qn")).as("cos"))
      .distinct()
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 6).as("cos"))
  }

  /** Driver-visible ANN RECALL CONTRACT: for every probe budget, the
    * partial-probe LSH top-k joined against [[bruteForceTopK]] ground
    * truth → per-(budget, query) hit counts and recall@k — the
    * accuracy/cost frontier as a TABLE the driver can hash-check and
    * trend across rounds (both arms are exact-integer / md5-portable,
    * so the whole report is oracle-expressible end to end).
    *
    * Cost shape: ONE corpus signature pass serves every budget — each
    * candidate (qid, nid) records `minprobe`, the rank of the first
    * probed bucket that finds it (own bucket = 1, single-bit flip of
    * bit b = b + 2), and membership at budget p is just
    * `minprobe ≤ p`, a codegen'd filter, not a re-probe. Ground truth
    * is the one additional brute-force pass — inherent to measuring
    * recall.
    */
  def lshRecallReport(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      planes: Int, budgets: Seq[Int]): DataFrame = {
    val session = embeddings.sparkSession
    import session.implicits._
    require(budgets.nonEmpty && budgets == budgets.distinct.sorted,
      s"budgets must be distinct ascending, got $budgets")
    val maxProbes = budgets.max
    require(budgets.head >= 1 && maxProbes <= planes + 1,
      s"budgets must sit in [1, planes + 1] (own bucket + single-bit flips)")
    graft.plans.GraftFunctions.register(session)
    val sig = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"),
      lshSignature(col("embedding"), planes).as("bucket"),
    ).withColumn("nsq", call_function("graft_norm_sq", col("q")))
    val probeList = array((1 to maxProbes).map { r =>
      struct(lit(r).as("prank"),
        (if (r == 1) col("bucket")
         else col("bucket").bitwiseXOR(lit(1L << (r - 2)))).as("pbucket"))
    }: _*)
    val queries = sig.filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("nsq").as("qn"),
        explode(probeList).as("p"))
      .select(col("qid"), col("qv"), col("qn"),
        col("p.prank").as("prank"), col("p.pbucket").as("bucket"))
    val cands = sig.join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), col("prank"),
        cosineFromInts(call_function("graft_dot", col("q"), col("qv")),
          col("nsq"), col("qn")).as("cos"))
      // a neighbor reachable through several probed buckets keeps the
      // CHEAPEST one; cos is probe-independent (max = the one value)
      .groupBy("qid", "nid")
      .agg(min(col("prank")).as("minprobe"), max(col("cos")).as("cos"))
    val budgeted = cands.select(col("qid"), col("nid"), col("cos"),
      explode(filter(array(budgets.map(b => lit(b)): _*),
        b => b >= col("minprobe"))).as("probes"))
    val w = Window.partitionBy(col("probes"), col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    val ranked = budgeted.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).select("probes", "qid", "nid")
    val truth = bruteForceTopK(embeddings, queryIds, k).select("qid", "nid")
    val hits = ranked.join(truth, Seq("qid", "nid"))
      .groupBy("probes", "qid").agg(count(lit(1)).as("n_hit"))
    // a budget that finds NOTHING for a query must still report its
    // zero — materialize the full (budget × query) grid
    val grid = budgets.flatMap(b => queryIds.map(q => (b, q)))
      .toDF("probes", "qid")
    grid.join(hits, Seq("probes", "qid"), "left")
      .na.fill(0L, Seq("n_hit"))
      .select(col("probes").cast("long").as("probes"), col("qid"),
        col("n_hit"),
        round(col("n_hit").cast("double") / lit(k.toDouble), 6).as("recall"))
  }

  // ------------------------------------------------------------- IVF

  /** Argmin-cell expression: the cell whose centroid minimizes
    * ‖v−c‖² = ‖v‖² − 2·v·c + ‖c‖² (the ‖v‖² term is constant per row —
    * dropped). One `graft_dot` kernel call per centroid inside codegen;
    * ties break toward the lower cell id via struct ordering.
    */
  private[graft] def cellOf(q: Column, centroids: Array[Array[Long]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cLit = array(c.map(lit).toIndexedSeq: _*)
      val cNorm = c.map(x => x * x).sum
      struct(
        (lit(-2L) * call_function("graft_dot", q, cLit) + lit(cNorm)).as("d"),
        lit(i).as("cell"))
    }
    array_min(array(scored.toIndexedSeq: _*)).getField("cell")
  }

  /** The `nprobe` nearest cells (ascending distance) as an array. */
  private def probeCellsOf(
      q: Column, centroids: Array[Array[Long]], nprobe: Int): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cLit = array(c.map(lit).toIndexedSeq: _*)
      val cNorm = c.map(x => x * x).sum
      struct(
        (lit(-2L) * call_function("graft_dot", q, cLit) + lit(cNorm)).as("d"),
        lit(i).as("cell"))
    }
    slice(array_sort(array(scored.toIndexedSeq: _*)), 1, nprobe)
      .getField("cell")
  }

  /** Deterministic k-means over the QUANTIZED vectors: init = the
    * `nlist` vectors with the smallest `xxhash64(vec_id)` (reproducible
    * pseudo-random sample), then `iters` assign/update rounds where the
    * update is an exact integer sum per (cell, dim) — order-independent
    * across partitions, so centroids are bit-identical run to run —
    * re-quantized back to longs. Collected state is nlist×dim longs
    * (driver-tiny at any corpus size).
    *
    * TRAINING runs on a deterministic hash-sample capped at
    * `sampleCap` rows (k-means centroid quality needs a representative
    * sample, not the population — at 100 TB, iters full-corpus scans
    * for centroid TRAINING would dominate the query; ASSIGNMENT, which
    * must see every vector, stays full-corpus in [[ivfTopK]]). Below
    * the cap the sample is the whole corpus, so fixture-scale output
    * is unchanged. The sample predicate is `xxhash64(vec_id)`-bucketed:
    * reproducible across runs, partitionings, and subsets.
    */
  private def kmeansCentroids(
      quant: DataFrame, nlist: Int, iters: Int,
      sampleCap: Long = 262144): Array[Array[Long]] = {
    val n = quant.count()
    val train =
      if (n <= sampleCap) quant
      else {
        val keep = math.max(1L, sampleCap * 1000000L / n)
        quant.filter(pmod(xxhash64(col("vec_id")), lit(1000000L)) < keep)
      }
    val init = train
      .withColumn("__h", xxhash64(col("vec_id")))
      .orderBy(col("__h")).limit(nlist)
      .select(col("q")).collect()
      .map(_.getSeq[Long](0).toArray)
    kmeansRounds(train, init, iters)((s, n) => math.round(s.toDouble / n))
  }

  /** The k-means round body both trainers share: `iters` rounds that
    * assign every vector to its [[cellOf]] cell (exact-integer argmin,
    * ties to the lowest cell), sum each (cell, dim) exactly in one
    * map-combined aggregate, and collect the nlist×dim sums. `mean`
    * turns a (sum, count) into the new coordinate; an empty cell
    * keeps its centroid.
    */
  private def kmeansRounds(train: DataFrame, init: Array[Array[Long]],
      iters: Int)(mean: (Long, Long) => Long): Array[Array[Long]] =
    (1 to iters).foldLeft(init) { (centroids, _) =>
      val sums = train.withColumn("__cell", cellOf(col("q"), centroids))
        .select(col("__cell"), posexplode(col("q")).as(Seq("__pos", "__v")))
        .groupBy(col("__cell"), col("__pos"))
        .agg(sum(col("__v")).as("__s"), count(lit(1)).as("__n"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      centroids.indices.map { cell =>
        byCell.get(cell) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1)).map(r => mean(r.getLong(2), r.getLong(3)))
          case None => centroids(cell)
        }
      }.toArray
    }

  /** IVF ANN (the other scale path besides LSH): the corpus is
    * partitioned into `nlist` Voronoi cells around k-means centroids;
    * each query scores only the vectors in its `nprobe` nearest cells.
    * Shuffle shape: the corpus moves once (by cell), the query side is
    * tiny and broadcast — identical to the LSH path, but with
    * data-adaptive buckets (recall degrades gracefully with nprobe
    * instead of cliff-edging on hash sign boundaries).
    */
  def ivfTopK(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
      trainSampleCap: Long = 262144,
      centroidsOverride: Option[Array[Array[Long]]] = None): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val quant = embeddings.select(
      col("vec_id"),
      quantized(col("embedding")).as("q"),
    ).withColumn("nsq", call_function("graft_norm_sq", col("q")))
    // the k-means loop scans its training sample iters+1 times — cache
    // for the centroid computation only, release before returning the
    // plan (the returned query recomputes it once; no cache leaks
    // across query invocations). An explicit override (e.g.
    // oracle-rebuildable seedCentroids for the registered
    // partial-probe arm) skips training entirely.
    val centroids = centroidsOverride.getOrElse(
      try { quant.persist(); kmeansCentroids(quant, nlist, iters, trainSampleCap) }
      finally quant.unpersist())
    val celled = quant.withColumn("cell", cellOf(col("q"), centroids))
    val queries = celled
      .filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("nsq").as("qn"),
        explode(probeCellsOf(col("q"), centroids, nprobe)).as("cell"))
    val scored = celled.join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosineFromInts(call_function("graft_dot", col("q"), col("qv")),
          col("nsq"), col("qn")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 6).as("cos"))
  }

  /** IVF face of the recall contract ([[lshRecallReport]]'s shape on
    * data-adaptive cells): seed centroids (oracle-rebuildable — the
    * `nlist` lowest vec_ids), each corpus vector's ONE cell, each
    * query's full cell ranking by ascending centroid distance; a
    * neighbor's probe rank is its cell's rank, so membership at
    * budget nprobe = `crank ≤ nprobe` — one corpus join serves every
    * budget, plus the brute-force ground-truth pass.
    */
  def ivfRecallReport(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      nlist: Int, budgets: Seq[Int]): DataFrame = {
    val session = embeddings.sparkSession
    import session.implicits._
    require(budgets.nonEmpty && budgets == budgets.distinct.sorted,
      s"budgets must be distinct ascending, got $budgets")
    require(budgets.head >= 1 && budgets.max <= nlist,
      s"nprobe budgets must sit in [1, nlist=$nlist]")
    graft.plans.GraftFunctions.register(session)
    val centroids = seedCentroids(embeddings, nlist)
    val quant = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"),
    ).withColumn("nsq", call_function("graft_norm_sq", col("q")))
    val celled = quant.withColumn("cell", cellOf(col("q"), centroids))
    val queries = celled
      .filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("nsq").as("qn"),
        posexplode(probeCellsOf(col("q"), centroids, nlist)).as(Seq("__p", "cell")))
      .select(col("qid"), col("qv"), col("qn"),
        (col("__p") + 1).as("crank"), col("cell"))
    val cands = celled.join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), col("crank"),
        cosineFromInts(call_function("graft_dot", col("q"), col("qv")),
          col("nsq"), col("qn")).as("cos"))
    val budgeted = cands.select(col("qid"), col("nid"), col("cos"),
      explode(filter(array(budgets.map(b => lit(b)): _*),
        b => b >= col("crank"))).as("nprobe"))
    val w = Window.partitionBy(col("nprobe"), col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    val ranked = budgeted.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).select("nprobe", "qid", "nid")
    val truth = bruteForceTopK(embeddings, queryIds, k).select("qid", "nid")
    val hits = ranked.join(truth, Seq("qid", "nid"))
      .groupBy("nprobe", "qid").agg(count(lit(1)).as("n_hit"))
    val grid = budgets.flatMap(b => queryIds.map(q => (b, q)))
      .toDF("nprobe", "qid")
    grid.join(hits, Seq("nprobe", "qid"), "left")
      .na.fill(0L, Seq("n_hit"))
      .select(col("nprobe").cast("long").as("nprobe"), col("qid"),
        col("n_hit"),
        round(col("n_hit").cast("double") / lit(k.toDouble), 6).as("recall"))
  }

  // ------------------------------------------------------------- PCA

  /** First principal component by POWER ITERATION over the exact
    * integer scatter matrix, and the per-vector projection onto it —
    * the classic embedding-pipeline dimension-reduction / whitening
    * step (project onto leading components before ANN, or drop the
    * dominant direction à la Arora et al.'s "all-but-the-top").
    *
    * Exactness: with n, Sᵢ = Σqᵢ and the Gram Gᵢⱼ = Σqᵢqⱼ all EXACT
    * INTEGERS from the quantized grid, the n²-scaled covariance
    * Bᵢⱼ = n·Gᵢⱼ − Sᵢ·Sⱼ is an exact long (scaling by n² changes
    * eigenVECTORS not at all). Power iteration runs `iters` fixed
    * rounds on B as doubles in the DRIVER (d² values — driver-tiny),
    * every inner sum a 0.0-seeded ascending left fold, so the whole
    * trajectory — including the final sign — is deterministic and
    * replayed bit-for-bit by the oracle's recursive CTE. Projection
    * subtracts the mean through the same fold: pc1 = Σqᵢvᵢ − Σ(Sᵢ/n)vᵢ.
    *
    * Scale shape: moments are one explode + map-side-combined
    * groupBy (d² keys); at corpus scale the scatter pass would run on
    * a hash-capped sample exactly like `kmeansCentroids` training
    * (fixture n sits below any such cap, so output is unchanged);
    * the projection is MAP-ONLY — v rides as a literal array, one
    * codegen'd fold per row, zero exchange.
    */
  /** Driver-side PCA fit shared by [[pcaProject]] and
    * [[pcaResiduals]]: quantized table, component v, per-dim sums S,
    * corpus count n. 0.0-seeded ascending left folds throughout — the
    * oracle's list_prepend(0.0) + list_reduce replays the identical
    * IEEE chain.
    */
  private def pcaFit(embeddings: DataFrame, iters: Int)
      : (DataFrame, Array[Double], Array[Long], Long) = {
    require(iters >= 1, "iters must be >= 1")
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val quant = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
    val d = quant.select(size(col("q"))).first().getInt(0)
    val n = quant.count()
    val ex = quant.select(col("vec_id"), posexplode(col("q")).as(Seq("i", "vi")))
    val sArr = new Array[Long](d)
    ex.groupBy("i").agg(sum(col("vi")).as("s")).collect()
      .foreach(r => sArr(r.getInt(0)) = r.getLong(1))
    val gArr = Array.ofDim[Long](d, d)
    ex.join(ex.select(col("vec_id"), col("i").as("j"), col("vi").as("vj")),
        Seq("vec_id"))
      .groupBy("i", "j").agg(sum(col("vi") * col("vj")).as("g")).collect()
      .foreach(r => gArr(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    val b = Array.tabulate(d, d)((i, j) => (n * gArr(i)(j) - sArr(i) * sArr(j)).toDouble)
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(i =>
        pcaFold((0 until d).iterator.map(j => b(i)(j) * v(j))))
      val nrm = math.sqrt(pcaFold(w.iterator.map(x => x * x)))
      v = w.map(_ / nrm)
    }
    (quant, v, sArr, n)
  }

  private def pcaFold(xs: Iterator[Double]): Double = {
    var s = 0.0; xs.foreach(x => s = s + x); s
  }

  def pcaProject(embeddings: DataFrame, iters: Int = 20): DataFrame = {
    val (quant, v, sArr, n) = pcaFit(embeddings, iters)
    val d = v.length
    val c0 = pcaFold((0 until d).iterator.map(i => sArr(i).toDouble / n.toDouble * v(i)))
    val vLit = array(v.toIndexedSeq.map(lit): _*)
    quant.select(col("vec_id"),
      (aggregate(zip_with(col("q"), vLit, (x, vv) => x.cast("double") * vv),
        lit(0.0), (acc, x) => acc + x) - lit(c0)).as("pc1"))
  }

  /** All-but-the-top residuals (Mu & Viswanath 2018, "All-but-the-Top:
    * Simple and Effective Postprocessing for Word Representations"):
    * embedding spaces concentrate mass in their mean and a few
    * dominant directions that encode corpus-frequency artifacts, not
    * meaning; subtracting the mean and the projection onto the top
    * component measurably improves similarity tasks. Emits the long
    * format `(vec_id, dim, resid)` with
    * resid_i = (q_i − S_i/n) − pc1·v_i, every term the same fold/
    * literal discipline as [[pcaProject]] so the oracle replays it
    * exactly. Map-only: mean, component, and the per-row pc1 all live
    * inside one codegen'd projection, zero exchange.
    */
  def pcaResiduals(embeddings: DataFrame, iters: Int = 20): DataFrame = {
    val (quant, v, sArr, n) = pcaFit(embeddings, iters)
    val d = v.length
    val c0 = pcaFold((0 until d).iterator.map(i => sArr(i).toDouble / n.toDouble * v(i)))
    val vLit = array(v.toIndexedSeq.map(lit): _*)
    val pc1 = aggregate(zip_with(col("q"), vLit, (x, vv) => x.cast("double") * vv),
      lit(0.0), (acc, x) => acc + x) - lit(c0)
    val comps = (0 until d).map { i =>
      struct(lit(i.toLong).as("dim"),
        ((element_at(col("q"), i + 1).cast("double")
          - lit(sArr(i).toDouble / n.toDouble))
          - col("__pc1") * lit(v(i))).as("resid"))
    }
    quant.withColumn("__pc1", pc1)
      .select(col("vec_id"), explode(array(comps.toIndexedSeq: _*)).as("e"))
      .select(col("vec_id"), col("e.dim").as("dim"), col("e.resid").as("resid"))
  }

  // ------------------------------------------------------------ MIPS

  /** Maximum inner-product search, EXACT (the dual-encoder retrieval /
    * recommendation scoring face: rank by the raw dot product q·x, not
    * cosine — a trained two-tower model's scores are inner products,
    * and a high-norm item legitimately out-ranks a nearer-by-angle
    * one; normalizing would change the model's answers). Exact integer
    * dot over the quantized grid, full corpus scan per query — the
    * ground-truth baseline (`sim_mips_topk`, tagged baselineOnly;
    * scale twin [[mipsIvfTopK]]).
    */
  def mipsTopK(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val quant = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
    val queries = quant
      .filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    val scored = quant.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        call_function("graft_dot", col("q"), col("qv")).as("dot"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("dot"))
  }

  /** MIPS at scale via the norm-augmentation reduction (Bachrach et
    * al. 2014, "Speeding Up the Xbox Recommender"; Neyshabur & Srebro
    * 2015, "On Symmetric and Asymmetric LSHs for Inner Product
    * Search"): inner product is not a metric (a vector need not be its
    * own nearest neighbor), so no metric index serves it directly; the
    * fix is to append `⌊√(M² − ‖x‖²)⌋` to every CORPUS vector (M² =
    * max corpus squared norm) so augmented vectors share norm ≈ M, and
    * zero-pad queries — then augmented-L2 ORDER coincides with
    * inner-product order and ANY metric ANN structure applies. Here
    * the structure is the oracle-rebuildable seed-centroid IVF: cells
    * are Voronoi regions of the AUGMENTED vectors, queries probe their
    * `nprobe` nearest augmented centroids through the zero pad
    * (prefix dot, full centroid norm), and candidates score by the
    * EXACT integer dot — the approximation is exactly the probe set,
    * nothing else (`sim_ivf_partial`'s honest-approximation
    * convention), so rows are directly comparable to [[mipsTopK]].
    *
    * Scale shape: one 1-row max-norm aggregate, one corpus shuffle by
    * cell, broadcast query side, codegen'd integer dots throughout.
    */
  /** Shared augmented-IVF prelude for the MIPS family: quantized
    * table, corpus assigned to augmented seed cells, the augmented
    * centroids, and the sorted (distance, cell) struct array a query
    * ranks cells by — dot over the UNPADDED prefix, norm over the
    * FULL augmented centroid (queries are zero-padded by
    * construction).
    */
  private def mipsAugCells(embeddings: DataFrame, nlist: Int)
      : (DataFrame, DataFrame, Column) = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val quant = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"),
    ).withColumn("nsq", call_function("graft_norm_sq", col("q")))
    val m2 = quant.agg(max(col("nsq"))).collect()(0).getLong(0)
    val aug = quant.select(col("vec_id"), col("q"),
      concat(col("q"), array(
        floor(sqrt((lit(m2) - col("nsq")).cast("double"))).cast("long")))
        .as("qa"))
    val cents = aug.orderBy(col("vec_id")).limit(nlist)
      .select(col("qa")).collect().map(_.getSeq[Long](0).toArray)
    val celled = aug.withColumn("cell", cellOf(col("qa"), cents))
    val qCellScores = cents.zipWithIndex.map { case (c, i) =>
      val pref = array(c.dropRight(1).map(lit).toIndexedSeq: _*)
      val cNorm = c.map(x => x * x).sum
      struct(
        (lit(-2L) * call_function("graft_dot", col("q"), pref) + lit(cNorm))
          .as("d"),
        lit(i).as("cell"))
    }
    (quant, celled, array_sort(array(qCellScores.toIndexedSeq: _*)))
  }

  def mipsIvfTopK(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      nlist: Int = 8, nprobe: Int = 2): DataFrame = {
    val (quant, celled, cellRanking) = mipsAugCells(embeddings, nlist)
    val queries = quant
      .filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        explode(slice(cellRanking, 1, nprobe).getField("cell")).as("cell"))
    val scored = celled.join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        call_function("graft_dot", col("q"), col("qv")).as("dot"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("dot"))
  }

  /** MIPS face of the recall contract ([[ivfRecallReport]]'s shape on
    * augmented cells): per probe budget, the augmented-IVF top-k
    * joined against [[mipsTopK]] ground truth — both arms exact
    * integer arithmetic, so the whole report is oracle-replayable and
    * the driver can trend the Bachrach/Neyshabur reduction's quality
    * across rounds. One corpus join serves every budget (a neighbor's
    * budget membership is `crank ≤ nprobe`).
    */
  def mipsRecallReport(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      nlist: Int, budgets: Seq[Int]): DataFrame = {
    val session = embeddings.sparkSession
    import session.implicits._
    require(budgets.nonEmpty && budgets == budgets.distinct.sorted,
      s"budgets must be distinct ascending, got $budgets")
    require(budgets.head >= 1 && budgets.max <= nlist,
      s"nprobe budgets must sit in [1, nlist=$nlist]")
    val (quant, celled, cellRanking) = mipsAugCells(embeddings, nlist)
    val queries = quant
      .filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        posexplode(cellRanking.getField("cell")).as(Seq("__p", "cell")))
      .select(col("qid"), col("qv"), (col("__p") + 1).as("crank"), col("cell"))
    val cands = celled.join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), col("crank"),
        call_function("graft_dot", col("q"), col("qv")).as("dot"))
    val budgeted = cands.select(col("qid"), col("nid"), col("dot"),
      explode(filter(array(budgets.map(b => lit(b)): _*),
        b => b >= col("crank"))).as("nprobe"))
    val w = Window.partitionBy(col("nprobe"), col("qid"))
      .orderBy(col("dot").desc, col("nid"))
    val ranked = budgeted.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).select("nprobe", "qid", "nid")
    val truth = mipsTopK(embeddings, queryIds, k).select("qid", "nid")
    val hits = ranked.join(truth, Seq("qid", "nid"))
      .groupBy("nprobe", "qid").agg(count(lit(1)).as("n_hit"))
    val grid = budgets.flatMap(b => queryIds.map(q => (b, q)))
      .toDF("nprobe", "qid")
    grid.join(hits, Seq("nprobe", "qid"), "left")
      .na.fill(0L, Seq("n_hit"))
      .select(col("nprobe").cast("long").as("nprobe"), col("qid"),
        col("n_hit"),
        round(col("n_hit").cast("double") / lit(k.toDouble), 6).as("recall"))
  }

  /** Embedding-cosine near-duplicate pairs above a similarity
    * threshold, EXACT (all-pairs) — the correctness baseline the
    * LSH-bucketed [[cosineNearDupPairs]] trades recall against.
    * Quantized-integer dots keep scores bit-identical across engines;
    * the threshold applies to the unrounded cosine (rounding is
    * display only). O(N²) — fixture/SF-scale verification, not the
    * 100 TB path.
    */
  def cosineNearDupPairsExact(
      embeddings: DataFrame, threshold: Double): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val q = embeddings.select(
      col("vec_id"),
      quantized(col("embedding")).as("q"),
    ).withColumn("nsq", call_function("graft_norm_sq", col("q")))
    val a = q.select(col("vec_id").as("a_id"), col("q").as("a_q"), col("nsq").as("a_n"))
    val b = q.select(col("vec_id").as("b_id"), col("q").as("b_q"), col("nsq").as("b_n"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("__c", cosineFromInts(
        call_function("graft_dot", col("a_q"), col("b_q")),
        col("a_n"), col("b_n")))
      .filter(col("__c") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("__c"), 6).as("cos"))
  }

  /** Embedding-cosine near-duplicate pairs above a similarity
    * threshold, via BANDED LSH (scale path for embedding dedup — the
    * cosine analog of MinHash-LSH banding): ONE `bands·bandPlanes`-bit
    * hyperplane signature per vector (single kernel call), sliced into
    * `bands` band keys of `bandPlanes` bits each; vectors colliding in
    * ANY band become candidates (OR-amplification lifts recall the way
    * a single must-match-everything signature cannot), then every
    * candidate pair is verified with the exact quantized-integer
    * cosine — so the output is always a sound subset of
    * [[cosineNearDupPairsExact]], with recall tuned by (bands,
    * bandPlanes), and the md5-portable plane weights make the whole
    * candidate generation reproducible in the DuckDB oracle.
    *
    * Scale shape: the shuffle moves (band, key, vec_id) triples — never
    * embeddings; each band partitions the corpus into 2^bandPlanes
    * buckets, so candidates are bounded by bands·Σ(bucket²) and
    * `bandPlanes` is the knob that keeps buckets small at scale.
    */
  def cosineNearDupPairs(
      embeddings: DataFrame, threshold: Double, bandPlanes: Int = 8,
      bands: Int = 8): DataFrame = {
    require(bandPlanes >= 1 && bands >= 1 && bandPlanes * bands <= 64,
      s"bandPlanes * bands must fit one 64-bit signature, got $bandPlanes x $bands")
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val mask = (1L << bandPlanes) - 1
    // quantize + signature kernels once: the sketch feeds the banding
    // self-join AND both verification joins (4 corpus passes round 8)
    val sig = embeddings.select(
      col("vec_id"),
      quantized(col("embedding")).as("q"),
      lshSignature(col("embedding"), bandPlanes * bands).as("sig"),
    ).withColumn("nsq", call_function("graft_norm_sq", col("q")))
      .materialize()
    val banded = sig.select(col("vec_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * bandPlanes).bitwiseAND(lit(mask)).as("bk"))): _*))
        .as("c"))
      .select(col("vec_id"), col("c.band"), col("c.bk"))
    val cands = banded
      .join(banded.select(col("band"), col("bk"), col("vec_id").as("b_id")),
        Seq("band", "bk"))
      .filter(col("vec_id") < col("b_id"))
      .select(col("vec_id").as("a_id"), col("b_id")).distinct()
    val sk = sig.select(col("vec_id"), col("q"), col("nsq"))
    cands
      .join(sk.select(col("vec_id").as("a_id"), col("q").as("a_q"),
        col("nsq").as("a_n")), Seq("a_id"))
      .join(sk.select(col("vec_id").as("b_id"), col("q").as("b_q"),
        col("nsq").as("b_n")), Seq("b_id"))
      // threshold on the UNROUNDED cosine — same rule as the exact
      // baseline and the DuckDB oracle, so the LSH arm's output is a
      // strict subset of cosineNearDupPairsExact's (rounding is
      // display only)
      .withColumn("__c", cosineFromInts(
        call_function("graft_dot", col("a_q"), col("b_q")),
        col("a_n"), col("b_n")))
      .filter(col("__c") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("__c"), 6).as("cos"))
  }

  /** KNN graph: the top-`k` nearest neighbors of EVERY vector (a KNN
    * join — distinct from the probe-set top-k of [[bruteForceTopK]]/
    * [[lshTopK]], where only a handful of query vectors score against
    * the corpus). All-pairs is O(N²) and unrunnable at 100 TB, so the
    * candidate set is the banded-LSH collision graph (same 8×8-bit
    * signature banding as [[cosineNearDupPairs]], both directions),
    * each candidate verified with the exact quantized-integer cosine,
    * then one ranking window per vector — Spark 4 inserts
    * WindowGroupLimit, so only k rows per vector survive each
    * partition before the final sort. Emits `(qid, rank, nid, cos)`.
    *
    * Recall caveat (inherent, documented not hidden): a true neighbor
    * sharing NO band with its query is never a candidate — the
    * banding trades recall for the Σ|bucket|² candidate bound exactly
    * as in the near-dup operator. The oracle rebuilds the banded
    * candidate set bit-for-bit, so the GRAPH SEMANTICS (top-k of the
    * candidate set) are exact.
    */
  def knnGraph(embeddings: DataFrame, k: Int, bandPlanes: Int = 8,
      bands: Int = 8): DataFrame = {
    require(bandPlanes >= 1 && bands >= 1 && bandPlanes * bands <= 64,
      s"bandPlanes * bands must fit one 64-bit signature, got $bandPlanes x $bands")
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val mask = (1L << bandPlanes) - 1
    // quantize + signature kernels once: the sketch feeds the banding
    // self-join AND both verification joins (4 corpus passes round 8)
    val sig = embeddings.select(
      col("vec_id"),
      quantized(col("embedding")).as("q"),
      lshSignature(col("embedding"), bandPlanes * bands).as("sig"),
    ).withColumn("nsq", call_function("graft_norm_sq", col("q")))
      .materialize()
    val banded = sig.select(col("vec_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * bandPlanes).bitwiseAND(lit(mask)).as("bk"))): _*))
        .as("c"))
      .select(col("vec_id"), col("c.band"), col("c.bk"))
    val cands = banded
      .join(banded.select(col("band"), col("bk"), col("vec_id").as("nid")),
        Seq("band", "bk"))
      .filter(col("vec_id") =!= col("nid"))
      .select(col("vec_id").as("qid"), col("nid")).distinct()
    val sk = sig.select(col("vec_id"), col("q"), col("nsq"))
    val scored = cands
      .join(sk.select(col("vec_id").as("qid"), col("q").as("a_q"),
        col("nsq").as("a_n")), Seq("qid"))
      .join(sk.select(col("vec_id").as("nid"), col("q").as("b_q"),
        col("nsq").as("b_n")), Seq("nid"))
      .select(col("qid"), col("nid"),
        cosineFromInts(call_function("graft_dot", col("a_q"), col("b_q")),
          col("a_n"), col("b_n")).as("cs"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), round(col("cs"), 6).as("cos"))
  }

  /** Trained centroid set for [[kmeansAssign]]/[[semanticDedup]]:
    * sample-capped deterministic k-means (see [[kmeansCentroids]]).
    */
  def trainedCentroids(embeddings: DataFrame, nlist: Int, iters: Int = 3,
      sampleCap: Long = 262144): Array[Array[Long]] = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val quant = embeddings
      .select(col("vec_id"), quantized(col("embedding")).as("q"))
    try { quant.persist(); kmeansCentroids(quant, nlist, iters, sampleCap) }
    finally quant.unpersist()
  }

  /** Deterministic SEED centroid set: the quantized vectors of the
    * `nlist` lowest `vec_id`s. Not a trained codebook — a reproducible
    * anchor set that an external oracle can rebuild exactly (the
    * trained path is [[trainedCentroids]], spec-exercised). Collected
    * state is nlist×dim longs — driver-tiny at any corpus size.
    */
  def seedCentroids(embeddings: DataFrame, nlist: Int): Array[Array[Long]] = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    embeddings
      .select(col("vec_id"), quantized(col("embedding")).as("q"))
      .orderBy(col("vec_id")).limit(nlist)
      .select(col("q")).collect()
      .map(_.getSeq[Long](0).toArray)
  }

  /** K-means cluster assignment (document clustering face): each
    * vector to its nearest centroid by exact integer arithmetic.
    * Emits `(vec_id, cell, l2sq)` with `l2sq` the exact squared L2
    * distance (`|q|² − 2·q·c + |c|²`, all 64-bit integer terms); ties
    * break to the lowest cell index.
    *
    * Scale shape: the centroid table (nlist×dim longs) rides inside
    * literal expressions — assignment is MAP-ONLY over one corpus
    * scan, zero exchange, whole-stage codegen'd.
    */
  def kmeansAssign(
      embeddings: DataFrame, centroids: Array[Array[Long]]): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    // One scored (d, cell) struct per centroid, min once; each dot is
    // computed exactly once per (row, centroid). d = |c|² − 2·q·c, so
    // the true squared L2 distance is nsq + d.
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cLit = array(c.map(lit).toIndexedSeq: _*)
      val cNorm = c.map(x => x * x).sum
      struct(
        (lit(-2L) * call_function("graft_dot", col("q"), cLit) + lit(cNorm))
          .as("d"),
        lit(i).as("cell"))
    }
    embeddings.select(
      col("vec_id"),
      quantized(col("embedding")).as("q"),
    ).withColumn("nsq", call_function("graft_norm_sq", col("q")))
      .withColumn("__best", array_min(array(scored.toIndexedSeq: _*)))
      .select(col("vec_id"), col("__best.cell").cast("long").as("cell"),
        (col("nsq") + col("__best.d")).as("l2sq"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication with k-means clustering as the BLOCKING scheme.
    * Vectors are assigned to their nearest centroid; candidate
    * near-dup pairs exist only WITHIN a cluster; each candidate is
    * verified with the exact quantized-integer cosine; verified pairs
    * collapse to duplicate groups via connected components (components
    * never span clusters because edges don't). Emits one row per
    * vector belonging to a multi-member group:
    * `(vec_id, cell, component)` with `component` the group minimum
    * (the SemDeDup survivor).
    *
    * Scale shape: assignment is map-only (centroids broadcast as
    * literals); the pair join is an EQUI-join on the cell id —
    * hash-partitioned, AQE-splittable, never cartesian — so compare
    * cost is Σ|cell|² instead of N². The cosine threshold runs as the
    * join's residual predicate (one kernel evaluation per candidate);
    * survivors recompute it in the projection. Skew caveat: a
    * degenerate centroid set concentrates mass in one cell — the
    * trained-codebook path keeps cells balanced in practice.
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double,
      centroids: Array[Array[Long]]): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val quant = embeddings.select(
      col("vec_id"),
      quantized(col("embedding")).as("q"),
    ).withColumn("nsq", call_function("graft_norm_sq", col("q")))
      .withColumn("cell", cellOf(col("q"), centroids))
    val a = quant.select(col("cell"), col("vec_id").as("a_id"),
      col("q").as("a_q"), col("nsq").as("a_n"))
    val b = quant.select(col("cell").as("b_cell"), col("vec_id").as("b_id"),
      col("q").as("b_q"), col("nsq").as("b_n"))
    val pairs = a.join(b, col("cell") === col("b_cell") &&
        col("a_id") < col("b_id") &&
        cosineFromInts(call_function("graft_dot", col("a_q"), col("b_q")),
          col("a_n"), col("b_n")) >= threshold)
      .select(col("a_id"), col("b_id"))
    Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("vec_id"), col("component"))
      .join(quant.select(col("vec_id"), col("cell")), "vec_id")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("component"))
  }

  /** Semantic decontamination: flag every corpus vector whose cosine
    * against ANY eval-set vector reaches `threshold` — the embedding
    * analogue of n-gram [[Dedup.decontaminate]] (GPT-3 appendix C
    * dedups eval overlap lexically; semantic overlap catches
    * paraphrases n-grams miss). Emits `(vec_id, eval_id, cos)`, one
    * row per flagged (corpus, eval) pair.
    *
    * Scale shape: eval sets are small (10³–10⁵ benchmark rows), so the
    * honest 100-TB plan is exact brute force — corpus × BROADCAST
    * eval, map-only, zero shuffle, no recall loss; each corpus row
    * pays |eval| codegen'd integer dots. Only if the eval side
    * outgrows broadcast does the banded-LSH screen
    * ([[cosineNearDupPairs]]) become the right tool — composition,
    * not a replacement. Exact quantized-integer cosine, same
    * convention as `dedup_cosine_pairs` → fully oracle-backed.
    */
  def decontaminateSemantic(
      corpus: DataFrame, evalSet: DataFrame, threshold: Double): DataFrame = {
    graft.plans.GraftFunctions.register(corpus.sparkSession)
    def q(df: DataFrame) = df.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
      .withColumn("nsq", call_function("graft_norm_sq", col("q")))
    val ev = q(evalSet).select(col("vec_id").as("eval_id"),
      col("q").as("eq"), col("nsq").as("en"))
    q(corpus).crossJoin(broadcast(ev))
      .withColumn("__c", cosineFromInts(
        call_function("graft_dot", col("q"), col("eq")), col("nsq"), col("en")))
      .filter(col("__c") >= threshold)
      .select(col("vec_id"), col("eval_id"), round(col("__c"), 6).as("cos"))
  }

  /** ±1 sign matrix for [[randomProjection]]: sign(r, i) is the parity
    * of the first 4 md5 bytes of `"rp:r_i"` — engine-portable (an
    * external oracle recomputes the same md5 of the same ASCII
    * string), driver-tiny (outDims×inDims bytes), and independent of
    * the data.
    */
  def rpSigns(outDims: Int, inDims: Int): Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDims) { r =>
      Array.tabulate(inDims) { i =>
        val h = md.digest(s"rp:${r}_$i".getBytes("UTF-8"))
        val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
          ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
        if (v % 2 == 0) 1L else -1L
      }
    }
  }

  /** Johnson–Lindenstrauss random projection with ±1 signs (Achlioptas
    * 2003: database-friendly random projections — sign matrices
    * preserve pairwise distances in expectation like Gaussians, with
    * integer arithmetic). Projects each quantized vector to `outDims`
    * components, `comp_r = Σ_i sign(r,i)·q_i` — EXACT integers, so the
    * whole operator is oracle-backed (no FP anywhere). Emits long-form
    * `(vec_id, dim, comp)` rows.
    *
    * Scale shape: map-only — the sign matrix rides as literal arrays
    * into `outDims` codegen'd integer dot kernels; zero exchange, no
    * state. The standard preprocessing step before brute/LSH ANN when
    * dims is large: a 64→16 projection cuts every downstream dot and
    * shuffle byte count 4× while keeping relative distances within
    * the JL bound.
    */
  def randomProjection(
      embeddings: DataFrame, outDims: Int, inDims: Int = 64): DataFrame = {
    require(outDims >= 1 && inDims >= 1, "dims must be >= 1")
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val signs = rpSigns(outDims, inDims)
    val comps = (0 until outDims).map { r =>
      struct(lit(r.toLong).as("dim"),
        call_function("graft_dot", col("q"),
          array(signs(r).map(lit).toIndexedSeq: _*)).as("comp"))
    }
    embeddings
      // fail LOUDLY on a dims mismatch: the sign-dot kernel iterates
      // min(len) components, so a short/long embedding would otherwise
      // silently project a truncated prefix that disagrees with the
      // fixed-dims oracle
      .select(col("vec_id"),
        when(size(col("embedding")) === inDims, quantized(col("embedding")))
          .otherwise(raise_error(concat(
            lit(s"randomProjection: embedding dims != $inDims for vec_id="),
            col("vec_id").cast("string")))).as("q"))
      .select(col("vec_id"), explode(array(comps.toIndexedSeq: _*)).as("pc"))
      .select(col("vec_id"), col("pc.dim").as("dim"), col("pc.comp").as("comp"))
  }

  // -------------------------------------------------- product quantization

  /** Deterministic SEED sub-quantizer codebooks for [[pqTopK]]: the
    * quantized vectors of the `ksub` lowest `vec_id`s, each split into
    * `m` contiguous sub-vectors — codebook `(j)(c)` is seed vector `c`
    * restricted to subspace `j`. Not a trained codebook (the trained
    * path would run [[kmeansCentroids]] per subspace); a reproducible
    * anchor set an external oracle rebuilds exactly. Driver state is
    * ksub×dims longs — tiny at any corpus size.
    */
  def seedPqCodebooks(
      embeddings: DataFrame, m: Int, ksub: Int): Array[Array[Array[Long]]] = {
    val seeds = seedCentroids(embeddings, ksub)
    require(seeds.nonEmpty && seeds.head.length % m == 0,
      s"dims ${seeds.headOption.fold(0)(_.length)} must divide by m=$m")
    val dsub = seeds.head.length / m
    Array.tabulate(m)(j => seeds.map(_.slice(j * dsub, (j + 1) * dsub)))
  }

  /** TRAINED sub-quantizer codebooks for [[pqTopK]]: per-subspace
    * k-means — the composition the seed-codebook scaladoc names. Each
    * of the `m` contiguous sub-vector slices trains its own `ksub`
    * centroids via the same deterministic sample-capped
    * [[kmeansCentroids]] loop the IVF coarse quantizer uses (exact
    * integer update sums, bit-identical run to run), so codewords land
    * where sub-vector mass actually concentrates instead of on the
    * `ksub` lowest-id anchor vectors — the gap between "FAISS shape"
    * and "FAISS quality": ADC recall at partial settings rises
    * materially (spec-measured against the seeded arm). Driver state
    * is m×ksub×dsub longs — tiny at any corpus size. The registered
    * `sim_pq_topk` stays on seed codebooks (externally rebuildable by
    * the DuckDB oracle); the trained path is spec-exercised.
    */
  def trainedPqCodebooks(
      embeddings: DataFrame, m: Int, ksub: Int, iters: Int = 3,
      sampleCap: Long = 262144): Array[Array[Array[Long]]] = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val quant = embeddings
      .select(col("vec_id"), quantized(col("embedding")).as("q"))
    val dims = quant.select(size(col("q"))).head.getInt(0)
    require(dims % m == 0, s"dims $dims must divide by m=$m")
    val dsub = dims / m
    try {
      quant.persist()
      Array.tabulate(m) { j =>
        val sub = quant.select(col("vec_id"),
          slice(col("q"), j * dsub + 1, dsub).as("q"))
        kmeansCentroids(sub, ksub, iters, sampleCap)
      }
    } finally quant.unpersist()
  }

  /** Per-vector PQ RECONSTRUCTION error Σ_j ‖sub_j − codeword(code_j)‖²
    * under the seed codebooks — the quantization-error face of the PQ
    * family (`sim_sq_error`'s pattern): each vector encodes with the
    * same `graft_pq_encode` kernel the search path uses, then the
    * chosen codewords (literal arrays, data-dependent `element_at`
    * lookup) reconstruct and the exact-integer squared error folds in
    * codegen. Map-only, one corpus pass.
    */
  def pqErrorTable(embeddings: DataFrame, m: Int, ksub: Int): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val cb = seedPqCodebooks(embeddings, m, ksub)
    val dsub = cb(0)(0).length
    val quant = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
    val withCodes = quant.withColumn("codes", pqCodesCol(col("q"), cb))
    val errCols = (0 until m).map { j =>
      val cwLit = array(cb(j).toIndexedSeq.map(w =>
        array(w.toIndexedSeq.map(lit): _*)): _*)
      val subj = slice(col("q"), j * dsub + 1, dsub)
      val chosen = element_at(cwLit,
        (element_at(col("codes"), j + 1) + 1L).cast("int"))
      aggregate(zip_with(subj, chosen, (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v)
    }
    withCodes.select(col("vec_id"), errCols.reduce(_ + _).as("err"))
  }

  /** Product-quantization ADC top-k (Jégou, Douze, Schmid: "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011). The
    * vector space splits into `m` orthogonal subspaces; each corpus
    * vector is ENCODED as m small codes (nearest codeword per
    * subspace, exact integer argmin, ties to the lowest code); each
    * query precomputes an m×ksub DISTANCE TABLE of exact integer
    * sub-distances to every codeword; the approximate distance of a
    * corpus vector is then m table lookups + a sum — the scan never
    * touches the original vector again. Emits `(qid, rank, nid,
    * adist)` with `adist` the exact INTEGER ADC squared-L2 estimate
    * (quantized units) — bit-identical in any engine, so the row is
    * fully oracle-backed even though the ESTIMATE is approximate
    * (the oracle mirrors the PQ computation itself, the
    * `dedup_cosine_lsh` convention).
    *
    * Scale shape: encoding is MAP-ONLY (codebooks ride as literal
    * expressions — m×ksub sub-dots per row, whole-stage codegen'd);
    * the scored scan reads only `(vec_id, codes)` — m bytes-scale
    * state per vector instead of dims floats (the 8×-compression that
    * makes PQ the memory-bound-ANN workhorse); query distance tables
    * are computed once per QUERY row on the tiny broadcast side; the
    * per-query top-k bounds window state to k rows/query/partition.
    * Exactness escape hatch (spec-exercised): with m = 1 and
    * ksub ≥ N every vector is its own nearest codeword, so `adist`
    * IS the exact squared L2 distance.
    */
  def pqTopK(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      m: Int = 8, ksub: Int = 16,
      codebooks: Option[Array[Array[Array[Long]]]] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val cb = codebooks.getOrElse(seedPqCodebooks(embeddings, m, ksub))
    val quant = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
    val encoded = quant.select(col("vec_id"), pqCodesCol(col("q"), cb).as("codes"))
    val queries = quant
      .filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("qid"), pqDistTableCol(col("q"), cb).as("dt"))
    val scored = encoded.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      // ADC stride = the EFFECTIVE codebook size cb(0).length, which is
      // min(ksub, N): on a corpus smaller than the declared ksub the
      // seed LIMIT returns fewer codewords, and an m>1 lookup with the
      // declared stride would silently read across subspace boundaries
      // (UnsafeArrayData.getLong is not bounds-checked)
      .select(col("qid"), col("vec_id").as("nid"),
        pqAdcCol(cb(0).length).as("adist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("adist"))
  }

  /** SQ8 trainer (FAISS ScalarQuantizer shape): per-dimension
    * (min, width) of the QUANTIZED corpus — one map-combined
    * posexplode aggregate, driver state = dims rows (bounded). Widths
    * are `max − min + 1` so they are strictly positive even on
    * constant dimensions.
    */
  def sqStats(embeddings: DataFrame): (Array[Long], Array[Long]) = {
    val rows = embeddings
      .select(posexplode(quantized(col("embedding"))).as(Seq("d", "v")))
      .groupBy("d").agg(min("v").as("lo"), max("v").as("hi"))
      .orderBy("d").collect()
    require(rows.nonEmpty, "sqStats needs a non-empty corpus")
    (rows.map(_.getLong(1)),
      rows.map(r => r.getLong(2) - r.getLong(1) + 1L))
  }

  /** SQ8 asymmetric top-k (the memory-bound-ANN path one notch
    * simpler than PQ): corpus vectors compress to one byte-range code
    * per dimension against corpus-trained (min, width) ranges; queries
    * stay full-precision and score against bucket-midpoint
    * reconstructions — Σ(q_d − recon_d)², exact nonneg integers
    * throughout, so the whole computation (training stats included) is
    * oracle-reproducible. Same plan shape as [[pqTopK]]: encode is a
    * narrow kernel projection, queries broadcast, only (vec_id, codes)
    * reach the scored join, top-k via a per-query ranking window.
    */
  def sqTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val (mins, widths) = sqStats(embeddings)
    val minsLit = array(mins.toIndexedSeq.map(lit): _*)
    val widthsLit = array(widths.toIndexedSeq.map(lit): _*)
    val quant = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
    val encoded = quant.select(col("vec_id"),
      call_function("graft_sq_encode", col("q"), minsLit, widthsLit).as("codes"))
    val queries = quant
      .filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("q"))
    val scored = encoded.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        call_function("graft_sq_adc", col("q"), col("codes"),
          minsLit, widthsLit).as("adist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("adist"))
  }

  /** Deterministic SEED codebooks in RESIDUAL space for the residual
    * arm of [[ivfPqTopK]]: the residuals (vector − its own coarse
    * centroid, exact integer argmin assignment — the same
    * `d = |c|² − 2·v·c`, ties-to-lowest-cell rule the engine's
    * [[cellOf]] codegens) of the `ksub` lowest `vec_id`s, split into
    * `m` sub-vectors. Reproducible by an external oracle from the
    * parquet alone; the TRAINED residual path is
    * [[trainedResidualPqCodebooks]] (spec-exercised).
    */
  def seedResidualCodebooks(
      embeddings: DataFrame, coarse: Array[Array[Long]], m: Int,
      ksub: Int): Array[Array[Array[Long]]] = {
    val seeds = seedCentroids(embeddings, ksub)
    val res = seeds.map { v =>
      val cell = coarse.zipWithIndex.map { case (c, i) =>
        (c.map(x => x * x).sum -
          2L * v.zip(c).map { case (x, y) => x * y }.sum, i)
      }.min._2
      v.zip(coarse(cell)).map { case (x, y) => x - y }
    }
    require(res.nonEmpty && res.head.length % m == 0,
      s"dims ${res.headOption.fold(0)(_.length)} must divide by m=$m")
    val dsub = res.head.length / m
    Array.tabulate(m)(j => res.map(_.slice(j * dsub, (j + 1) * dsub)))
  }

  /** TRAINED residual codebooks — the full FAISS IVFPQ recipe:
    * per-subspace k-means over the RESIDUALS (vector − its coarse
    * centroid), so codewords model the within-cell delta distribution
    * the codes actually quantize. Same deterministic sample-capped
    * training loop as everywhere else; driver state m×ksub×dsub longs.
    */
  def trainedResidualPqCodebooks(
      embeddings: DataFrame, coarse: Array[Array[Long]], m: Int, ksub: Int,
      iters: Int = 3, sampleCap: Long = 262144): Array[Array[Array[Long]]] = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val centArr = array(coarse.map(c =>
      array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
    val res = embeddings
      .select(col("vec_id"), quantized(col("embedding")).as("q0"))
      .select(col("vec_id"),
        zip_with(col("q0"),
          element_at(centArr, cellOf(col("q0"), coarse) + 1),
          (x, c) => x - c).as("q"))
    val dims = coarse.head.length
    require(dims % m == 0, s"dims $dims must divide by m=$m")
    val dsub = dims / m
    try {
      res.persist()
      Array.tabulate(m) { j =>
        val sub = res.select(col("vec_id"),
          slice(col("q"), j * dsub + 1, dsub).as("q"))
        kmeansCentroids(sub, ksub, iters, sampleCap)
      }
    } finally res.unpersist()
  }

  /** ORACLE-REPLAYABLE trained residual codebooks — the registered
    * face of the FAISS IVFPQ training recipe ([[trainedResidualPqCodebooks]]
    * stays the sampled production variant; its `xxhash64`-ordered
    * k-means init and through-double mean rounding are exactly the two
    * steps an external SQL engine cannot replay). Here:
    *
    *  - init = [[seedResidualCodebooks]] (the `ksub` lowest-`vec_id`
    *    residuals, already the oracle-rebuildable convention);
    *  - `iters` EM rounds where assignment is the exact-integer
    *    argmin ([[cellOf]]'s `|c|² − 2·v·c`, ties to lowest code) and
    *    the update rounds the per-(code, dim) mean HALF-AWAY-FROM-ZERO
    *    in pure integer arithmetic — `sign(s)·((2|s| + n) div (2n))`
    *    with truncating division on non-negative operands, identical
    *    in any engine (DuckDB's `//` truncates; Scala `/` truncates);
    *  - empty codes keep their codeword (the [[trainedResidualPqCodebooks]]
    *    convention).
    *
    * Driver state: m × ksub × dsub longs; per round, one map-combined
    * (code, dim) sum over the residual table per subspace.
    */
  def seededTrainedResidualCodebooks(
      embeddings: DataFrame, coarse: Array[Array[Long]], m: Int, ksub: Int,
      iters: Int = 2): Array[Array[Array[Long]]] = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val init = seedResidualCodebooks(embeddings, coarse, m, ksub)
    val centArr = array(coarse.map(c =>
      array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
    val res = embeddings
      .select(col("vec_id"), quantized(col("embedding")).as("q0"))
      .select(col("vec_id"),
        zip_with(col("q0"),
          element_at(centArr, cellOf(col("q0"), coarse) + 1),
          (x, c) => x - c).as("q"))
    val dsub = coarse.head.length / m
    try {
      res.persist()
      Array.tabulate(m) { j =>
        val sub = res.select(col("vec_id"),
          slice(col("q"), j * dsub + 1, dsub).as("q"))
        kmeansRounds(sub, init(j), iters) { (s, n) =>
          if (s >= 0L) (2L * s + n) / (2L * n) else -((-2L * s + n) / (2L * n))
        }
      }
    } finally res.unpersist()
  }

  /** IVF + PQ composition (FAISS's IVFPQ): the coarse quantizer prunes
    * the scan to the query's `nprobe` nearest seed-centroid cells;
    * within the probed cells distances come from PQ codes (ADC — the
    * vector itself is never read after encoding). The genuinely-100-TB
    * ANN architecture: the per-query work is (corpus/nlist)·nprobe
    * code lookups, the shuffled state is (vec_id, cell, m codes) per
    * vector, and both prune AND scan stay exact-integer →
    * bit-identical in any engine, so partial-probe output is itself
    * oracle-backed (unlike IVF-flat, whose oracle needed
    * nprobe = nlist).
    *
    * `residual = true` (default — the actual FAISS IVFPQ) encodes the
    * DELTA `vector − coarse_centroid` instead of the vector: residuals
    * concentrate near the origin, so the same code bits quantize a
    * tighter distribution (better recall at equal bits). The cost is
    * per-(query, probed-cell) distance tables — computed on the tiny
    * broadcast side, where the probe explosion already pays one row
    * per (query, cell); the corpus-side shape is unchanged. ADC stays
    * exact: for a neighbor x in probed cell c,
    * ‖q−x‖² = ‖(q−c) − (x−c)‖², so with m = 1 and ksub ≥ N (every
    * residual its own codeword) the ranking is EXACT squared L2 at any
    * nprobe coverage (spec-proven). `residual = false` keeps the
    * global-codebook arm (one distance table per query) for
    * comparison; at nprobe = nlist it is exactly [[pqTopK]]
    * (spec-asserted).
    */
  def ivfPqTopK(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      nlist: Int = 8, nprobe: Int = 2, m: Int = 8, ksub: Int = 16,
      residual: Boolean = true,
      codebooks: Option[Array[Array[Array[Long]]]] = None,
      coarseCentroids: Option[Array[Array[Long]]] = None): DataFrame = {
    require(k >= 1 && nprobe >= 1 && nprobe <= nlist,
      "need k >= 1 and 1 <= nprobe <= nlist")
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    // default: SEED coarse centroids (externally rebuildable → the
    // registered arm stays oracle-backed). The QUALITY configuration
    // passes trainedCentroids here: residuals only concentrate near
    // the origin when centroids sit where vector mass actually is —
    // residual PQ against arbitrary anchor cells can LOSE to global
    // codes (spec-measured), the trained coarse is what makes the
    // FAISS recipe pay off.
    val coarse = coarseCentroids.getOrElse(seedCentroids(embeddings, nlist))
    val quant = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
    val centArr = array(coarse.map(c =>
      array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
    def resOf(q: Column, cell: Column): Column =
      zip_with(q, element_at(centArr, cell + 1), (x, c) => x - c)
    val cb = codebooks.getOrElse(
      if (residual) seedResidualCodebooks(embeddings, coarse, m, ksub)
      else seedPqCodebooks(embeddings, m, ksub))
    val encoded =
      if (residual)
        quant.withColumn("cell", cellOf(col("q"), coarse))
          .select(col("vec_id"), col("cell"),
            pqCodesCol(resOf(col("q"), col("cell")), cb).as("codes"))
      else
        quant.select(col("vec_id"), cellOf(col("q"), coarse).as("cell"),
          pqCodesCol(col("q"), cb).as("codes"))
    // Query side: one row per (query, probed cell) — tiny, broadcast;
    // the cell equi-join replaces pqTopK's full-corpus cross join. In
    // residual mode the distance table is computed per (query, cell)
    // from the query's residual AGAINST THAT CELL — the nlist×m×ksub
    // state FAISS pays for residual ADC, here confined to the
    // broadcast side.
    val probed = quant
      .filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("q"),
        explode(probeCellsOf(col("q"), coarse, nprobe)).as("cell"))
    val queries =
      if (residual)
        probed.select(col("qid"), col("cell"),
          pqDistTableCol(resOf(col("q"), col("cell")), cb).as("dt"))
      else
        probed.select(col("qid"), col("cell"),
          pqDistTableCol(col("q"), cb).as("dt"))
    val scored = encoded.join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      // effective-ksub stride, same rationale as in pqTopK
      .select(col("qid"), col("vec_id").as("nid"),
        pqAdcCol(cb(0).length).as("adist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("adist"))
  }

  /** codes[j] = argmin_c ‖sub_j − cw_{j,c}‖² over codebook `cb` (ties
    * → lowest code) — ONE `graft_pq_encode` kernel call per row; the
    * codebook rides flat as a single literal folded into a task-level
    * reference object (the m×ksub-struct expression-tree formulation
    * is kept in the specs as the baseline — its codegen
    * alone cost more than the whole scan).
    */
  private def pqCodesCol(q: Column, cb: Array[Array[Array[Long]]]): Column =
    call_function("graft_pq_encode", q, flatCbLit(cb),
      lit(cb.length), lit(cb(0).length))

  /** Flat dt[j*ksub + c] = exact ‖qsub_j − cw_{j,c}‖² — the per-query
    * ADC lookup table (m×ksub longs), one `graft_pq_dt` kernel call
    * per query row on the broadcast side.
    */
  private def pqDistTableCol(q: Column, cb: Array[Array[Array[Long]]]): Column =
    call_function("graft_pq_dt", q, flatCbLit(cb),
      lit(cb.length), lit(cb(0).length))

  /** ADC distance of the row's `codes` against the row's flat `dt`:
    * m table lookups + a sum in one kernel call.
    */
  private def pqAdcCol(ksub: Int): Column =
    call_function("graft_pq_adc", col("dt"), col("codes"), lit(ksub))

  /** Codebook flattened (j, c, d) row-major into one array literal. */
  private def flatCbLit(cb: Array[Array[Array[Long]]]): Column =
    array(cb.flatten.flatten.map(lit).toIndexedSeq: _*)
}
