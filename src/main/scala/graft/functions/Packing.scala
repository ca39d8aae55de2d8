package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining: the concat-and-chunk layout.
  *
  * Documents are tokenized, logically concatenated in `doc_id` order,
  * and the token stream is cut into fixed `seqLen`-token training
  * sequences. The output maps every document to its place in that
  * layout: global token offset, first/last chunk ids, offset within its
  * first chunk. (This is the standard GPT-style pretraining layout —
  * documents may span chunk boundaries; packing without splitting is a
  * bin-packing variant the reference pipeline has no analogue for.)
  *
  * Scale shape — the global running offset is a distributed prefix sum,
  * NOT a global window: `Window.orderBy(doc_id)` with no partitioning
  * would coalesce the whole corpus into one task. Instead:
  *   1. docs get an order-preserving bucket (integer-exact `doc_id div
  *      width`; no sampled range boundaries, so re-execution of the
  *      plan is deterministic);
  *   2. a within-bucket cumulative window runs in parallel per bucket;
  *   3. bucket subtotals (one row per bucket) get a prefix-sum window —
  *      the only unpartitioned window, over `buckets` rows, not the
  *      corpus — and broadcast-join back.
  * Total cost: one shuffle of (doc_id, n_tokens) pairs by bucket + a
  * KB-scale side plan. The document text itself never shuffles.
  */
object Packing {

  /** Pack `docs(idCol, textCol)` into `seqLen`-token chunks.
    *
    * Bucket width derives from `max(doc_id)`, so bucket sizes follow id
    * density; ids are assumed non-negative and roughly dense (corpus
    * export convention). Returns one row per document:
    * `(doc_id, n_tokens, t_start, first_chunk, last_chunk,
    * chunk_offset)`.
    */
  /** Pack with an id upper bound the caller already knows. Offsets are
    * bucketing-invariant (buckets respect doc_id order for any width),
    * so ANY upper bound yields identical output — supplying one avoids
    * the max(doc_id) action re-executing an expensive upstream plan
    * (e.g. the flagship's dedup subplan) just to size buckets.
    */
  def packChunks(
      docs: DataFrame, seqLen: Int, buckets: Int, idCol: String,
      textCol: String, maxIdHint: Long): DataFrame =
    packChunksImpl(docs, seqLen, buckets, idCol, textCol, Some(maxIdHint))

  def packChunks(
      docs: DataFrame,
      seqLen: Int = 2048,
      buckets: Int = 256,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    packChunksImpl(docs, seqLen, buckets, idCol, textCol, None)

  private def packChunksImpl(
      docs: DataFrame,
      seqLen: Int,
      buckets: Int,
      idCol: String,
      textCol: String,
      maxIdHint: Option[Long]): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    require(buckets > 0, "buckets must be positive")
    val toks = docs.select(
      col(idCol).cast("long").as("doc_id"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val maxId = maxIdHint.getOrElse(toks.agg(max("doc_id")).head() match {
      case r if r.isNullAt(0) => 0L // empty corpus
      case r => r.getLong(0)
    })
    val width = math.max(1L, maxId / buckets + 1)
    val bucketed = toks.withColumn("bucket", expr(s"doc_id div ${width}L"))

    // Explicit ROWS frame: the default RANGE frame includes ORDER BY
    // peers, which would overlap offsets if a caller ever passes
    // duplicate ids — and must match the oracle's ROWS semantics.
    val inBucket = bucketed.withColumn(
      "cum_in_bucket",
      sum("n_tokens").over(Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    // One row per bucket; the unpartitioned window below runs over
    // `buckets` rows only (KB-scale), then broadcasts. Totals are the
    // per-bucket MAX of the inclusive cumsum (monotone, so max = last
    // = total) taken from the window output — not a second aggregation
    // of `bucketed` — so this branch reuses the window's exchange
    // instead of re-scanning and re-shuffling the corpus.
    val bucketTotals = inBucket.groupBy("bucket")
      .agg(max("cum_in_bucket").as("btok"))
    val bucketStarts = bucketTotals
      .withColumn(
        "bstart",
        coalesce(
          sum("btok").over(Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("bucket", "bstart")

    // Integer `div`, not floor(x / L): double division rounds above
    // 2^53 tokens and this arithmetic must stay exact at any scale.
    inBucket.join(broadcast(bucketStarts), "bucket")
      .withColumn("t_end", col("bstart") + col("cum_in_bucket"))
      .withColumn("t_start", col("t_end") - col("n_tokens"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("t_start"),
        expr(s"t_start div ${seqLen}L").as("first_chunk"),
        expr(s"(t_end - 1) div ${seqLen}L").as("last_chunk"),
        pmod(col("t_start"), lit(seqLen.toLong)).as("chunk_offset"))
  }

  /** One document's slot under no-split packing ([[packNoSplit]]). */
  final case class PackedDoc(
      doc_id: Long, n_tokens: Long, bucket: Long,
      seq_in_bucket: Long, offset_in_seq: Long)

  /** No-split packing (SFT-style): documents are placed whole into
    * `seqLen`-token sequences — next-fit in doc_id order, so a doc that
    * doesn't fit the current sequence starts a new one, and an oversize
    * doc (> seqLen tokens) sits alone in its own sequence. Sequences
    * are scoped per bucket (`(bucket, seq_in_bucket)` is the sequence
    * id), which is what makes the layout computable at scale: each
    * bucket packs independently, so the inherently sequential next-fit
    * state never crosses an executor.
    *
    * The per-bucket fold is a `mapPartitions` — justified here because
    * next-fit is prefix-recursive (each placement depends on the
    * running fill), which no window/aggregate expresses. The stream is
    * `repartition(bucket)` + sort within partitions, so every bucket
    * arrives contiguous and ordered; state resets on bucket change.
    * Deterministic for a fixed (seqLen, buckets).
    */
  def packNoSplit(
      docs: DataFrame,
      seqLen: Int = 2048,
      buckets: Int = 256,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    packNoSplitCounts(
      docs.select(
        col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens")),
      seqLen, buckets)

  /** The tokenizer-agnostic core of [[packNoSplit]]: next-fit packing
    * over PRECOMPUTED per-doc token counts `(doc_id: long, n_tokens:
    * long)` — so the layout can be driven by whitespace counts,
    * trained-BPE subword counts ([[Bpe.tokenCounts]]), or anything
    * else, without re-deriving the text column.
    */
  def packNoSplitCounts(
      toks: DataFrame,
      seqLen: Int = 2048,
      buckets: Int = 256): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    require(buckets > 0, "buckets must be positive")
    val spark = toks.sparkSession
    import spark.implicits._
    val maxId = toks.agg(max("doc_id")).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val width = math.max(1L, maxId / buckets + 1)
    val L = seqLen.toLong
    toks.withColumn("bucket", expr(s"doc_id div ${width}L"))
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "doc_id")
      .select("doc_id", "n_tokens", "bucket").as[(Long, Long, Long)]
      .mapPartitions { it =>
        var cur = Long.MinValue
        var seq = 0L
        var fill = 0L
        it.map { case (id, n, b) =>
          if (b != cur) { cur = b; seq = 0L; fill = n }
          else if (fill + n > L) { seq += 1; fill = n }
          else fill += n
          PackedDoc(id, n, b, seq, fill - n)
        }
      }
      .toDF()
  }

  case class BfdBin(
      bucket: Long, bin_idx: Long, bin_load: Long, n_docs: Long)

  /** Best-fit-decreasing no-split packing (the classic bin-packing
    * heuristic; the layout of "Fewer Truncations Improve Language
    * Modeling", Ding et al. 2024): within each bucket, documents are
    * taken LONGEST-FIRST and each goes into the fullest open bin that
    * still fits (ties: lowest bin index); none fits → a new bin.
    * BFD's 11/9·OPT+1 guarantee is why it beats next-fit's
    * arrival-order packing on padding waste — the `pack_efficiency` /
    * `pack_bfd` pair makes the win measurable on the same corpus.
    * Oversize docs (> seqLen) sit alone, as in [[packNoSplit]].
    *
    * Scale shape: identical to [[packNoSplitCounts]] — one shuffle of
    * (doc_id, n_tokens) by order-preserving bucket, a per-bucket
    * sequential fold in `mapPartitions` (bin packing is inherently
    * prefix-recursive; state = the open-bin load array, O(bins) per
    * bucket, emitted and cleared at each bucket boundary — rows
    * stream through, only bins buffer). Returns the per-bin summary
    * `(bucket, bin_idx, bin_load, n_docs)`; deterministic for fixed
    * (seqLen, buckets).
    */
  def packBfdCounts(
      toks: DataFrame,
      seqLen: Int = 2048,
      buckets: Int = 256): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    require(buckets > 0, "buckets must be positive")
    val spark = toks.sparkSession
    import spark.implicits._
    val maxId = toks.agg(max("doc_id")).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val width = math.max(1L, maxId / buckets + 1)
    val L = seqLen.toLong
    toks.withColumn("bucket", expr(s"doc_id div ${width}L"))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("n_tokens").desc, col("doc_id"))
      .select("doc_id", "n_tokens", "bucket").as[(Long, Long, Long)]
      .mapPartitions { it =>
        var cur = Long.MinValue
        val loads = scala.collection.mutable.ArrayBuffer[Long]()
        val counts = scala.collection.mutable.ArrayBuffer[Long]()
        def flush(): Seq[BfdBin] = {
          val b = cur
          val out = loads.indices.map(i =>
            BfdBin(b, i.toLong, loads(i), counts(i)))
          loads.clear(); counts.clear()
          out
        }
        (it.map(Option(_)) ++ Iterator(None)).flatMap {
          case Some((id, n, b)) =>
            val _ = id
            val emit = if (b != cur && cur != Long.MinValue) flush() else Nil
            cur = b
            var best = -1
            var bestLoad = -1L
            var i = 0
            while (i < loads.length) {
              if (loads(i) + n <= L && loads(i) > bestLoad) {
                best = i; bestLoad = loads(i)
              }
              i += 1
            }
            if (best >= 0) { loads(best) += n; counts(best) += 1 }
            else { loads += n; counts += 1L }
            emit
          case None => if (cur != Long.MinValue) flush() else Nil
        }
      }
      .toDF()
  }

  /** [[packBfdCounts]] over whitespace token counts of `docs`. */
  def packBfd(
      docs: DataFrame, seqLen: Int = 2048, buckets: Int = 256): DataFrame =
    packBfdCounts(
      docs.select(col("doc_id").cast("long").as("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
      seqLen, buckets)

  /** Sliding-window chunking with overlap (the RAG / long-context
    * pre-chunking layout, vs the concat-and-chunk pretraining layout
    * above): each document is cut independently into windows of
    * `chunkSize` tokens advancing by `stride` (< chunkSize ⇒ adjacent
    * chunks share `chunkSize − stride` tokens of context). A document
    * of n tokens yields `1 + max(0, ceil((n − chunkSize)/stride))`
    * chunks; the last chunk may be short; sub-`chunkSize` documents
    * yield exactly one chunk. Returns
    * `(doc_id, chunk_no, n_chunk_tokens, chunk_text)`.
    *
    * Scale shape: pure narrow map — tokenize, build the chunk index
    * range, explode, slice; no shuffle at all, no state across
    * documents. The per-row fan-out is n/stride chunks whose combined
    * size is (chunkSize/stride)× the input text — bounded by the
    * overlap factor the caller chose.
    */
  def chunkWithOverlap(
      docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      "need 1 <= stride <= chunkSize")
    val toks = split(col("text"), "\\s+")
    docs
      .select(col("doc_id"), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__nchunks",
        when(col("__n") <= chunkSize, lit(1)).otherwise(
          ceil((col("__n") - lit(chunkSize)).cast("double") / lit(stride))
            .cast("int") + lit(1)))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("__nchunks") - 1),
          i => slice(col("__toks"), i * stride + 1, lit(chunkSize))))
          .as(Seq("chunk_no", "__chunk")))
      .select(col("doc_id"), col("chunk_no").cast("long").as("chunk_no"),
        size(col("__chunk")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("__chunk")).as("chunk_text"))
  }

  /** Length-bucket batching analysis: each document assigned to the
    * smallest power-of-two token bucket ≥ its whitespace token count
    * (clamped to [minBucket, maxBucket] — the bucket ladder dynamic-
    * padding batchers use), with per-bucket doc/token totals and the
    * padding waste `Σ (bucket − min(n, bucket))` a fixed-shape batcher
    * would pay. The standard pre-training question "is bucketed
    * batching worth it" answered from the data.
    *
    * The bucket is a chain of INTEGER comparisons over the explicit
    * ladder — never `ceil(log2(n))`, whose FP rounding at exact powers
    * of two can differ between engines and flip a bucket. Map-only +
    * one map-combined aggregation over ≤ log2(max/min)+1 keys.
    * Returns `(bucket, n_docs, n_tokens, n_padding)`.
    */
  def lengthBuckets(
      docs: DataFrame, minBucket: Int = 16, maxBucket: Int = 1024): DataFrame = {
    require(minBucket >= 1 && maxBucket >= minBucket &&
      Integer.bitCount(minBucket) == 1 && Integer.bitCount(maxBucket) == 1,
      "minBucket/maxBucket must be powers of two with min <= max")
    val ladder = Iterator.iterate(minBucket.toLong)(_ * 2)
      .takeWhile(_ <= maxBucket.toLong).toSeq
    val n = size(split(col("text"), "\\s+")).cast("long")
    val top: Column = lit(ladder.last)
    val bucket = ladder.init.foldRight(top) {
      (b, acc) => when(n <= b, lit(b)).otherwise(acc)
    }
    docs
      .select(bucket.as("bucket"), n.as("__n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"),
        sum(col("bucket") - least(col("__n"), col("bucket"))).as("n_padding"))
  }

  /** Training-shard manifest: deterministic doc→shard assignment
    * (salted-md5 hash mod `nshards` — stable under re-runs, engine
    * changes, and corpus subsets, unlike round-robin or RNG) with the
    * per-shard bookkeeping a sharded-output writer publishes: doc
    * count, whitespace-token count, and an order-independent content
    * checksum (`bit_xor` of per-doc 60-bit md5 prefixes — commutative,
    * so partitioning and arrival order never change it).
    *
    * Shape: one map-combined aggregation over nshards keys; the hash
    * spreads docs uniformly, so shard sizes concentrate tightly
    * (±√(N/nshards)) — no skew handling needed at any scale. Returns
    * `(shard, n_docs, n_tokens, checksum)`.
    */
  def shardManifest(docs: DataFrame, nshards: Int): DataFrame = {
    require(nshards >= 1, "nshards must be >= 1")
    val shard = pmod(
      conv(substring(md5(concat(lit("shard:"), col("doc_id").cast("string"))
        .cast("binary")), 1, 15), 16, 10).cast("long"),
      lit(nshards.toLong))
    docs
      .select(shard.as("shard"),
        size(split(col("text"), "\\s+")).cast("long").as("__tok"),
        conv(substring(md5(col("text").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("__h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("n_tokens"),
        bit_xor(col("__h")).as("checksum"))
  }
}
