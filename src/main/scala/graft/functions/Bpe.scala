package graft.functions

import graft.plans.Materialize.Rounds
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING and ENCODING at corpus scale
  * (Sennrich, Haddow & Birch 2016, arXiv:1508.07909 — the subword
  * algorithm behind GPT-2/RoBERTa-class vocabularies). The engine's
  * `approxBpeTokenCount` estimates token counts with a fixed regex;
  * this module learns the ACTUAL merge table from the corpus — the
  * training half a tokenizer pipeline needs before any token budget
  * ([[TextAnalysis.sampleTokenBudget]]) or packing
  * ([[Packing]]) decision is meaningful.
  *
  * Scale shape — the part that matters at 100 TB: BPE statistics are a
  * function of the WORD-COUNT TABLE, not the corpus. One map-combined
  * word count is the only corpus-scale pass; every training iteration
  * then runs over the distinct-word table (Heaps'-law-bounded, further
  * capped at `vocabCap` by frequency), so k merges cost k shuffles of
  * at most `vocabCap` short rows regardless of corpus size. Driver
  * state per round is ONE collected row (the argmax pair — the same
  * bounded-collect discipline as `kmeansCentroids`). Merge application
  * is a left fold over each word's symbol array via the `aggregate`
  * higher-order function — codegen'd Catalyst, no UDF.
  */
object Bpe {

  /** End-of-word sentinel (Sennrich Fig. 2 `</w>`): distinguishes
    * "low" the word from "low" the prefix of "lower", and makes the
    * learned units reversible into words.
    */
  val EndOfWord = "</w>"

  /** Map-combined distinct-word counts, frequency-capped to keep every
    * downstream training iteration bounded. Deterministic under the
    * cap: ties break lexicographically.
    */
  def wordCounts(docs: DataFrame, vocabCap: Int = 65536): DataFrame =
    docs.select(explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(vocabCap)

  /** Seed symbolization: a word becomes its character sequence plus
    * [[EndOfWord]] — `"hug"` → `["h","u","g","</w>"]`.
    */
  def initialSymbols(word: Column): Column =
    concat(split(word, ""), array(lit(EndOfWord)))

  /** Corpus-weighted adjacent-pair counts over a symbolized vocabulary
    * `(symbols: array<string>, n: long)`. The pair table is the heart
    * of one BPE round: `count(a,b) = Σ_word n(word) × occurrences of
    * (a,b) adjacent in word`. Pure relational: transform+explode the
    * positions, one map-combined aggregation.
    */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab.filter(size(col("symbols")) >= 2)
      .select(col("n"), explode(expr(
        "transform(sequence(0, size(symbols) - 2), " +
          "i -> struct(symbols[i] AS a, symbols[i+1] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("n")).as("cnt"))

  /** Apply ONE merge `(a, b) → a||b` to a symbol array: a left fold
    * that replaces every non-overlapping adjacent `a,b` with the fused
    * symbol, leftmost-first (the reference algorithm's re-scan
    * semantics: after fusing at i, position i+1 is consumed and the
    * scan resumes at i+2). Codegen'd `aggregate` HOF — the fold state
    * is the rebuilt array.
    */
  def mergeOnce(symbols: Column, a: String, b: String): Column =
    mergeOnceAs(symbols, a, b, a + b)

  /** [[mergeOnce]] with an EXPLICIT fused symbol — the WordPiece
    * trainer fuses `(a, ##b)` into `a·b` (continuation marker of the
    * RIGHT side stripped), so the fusion string is not always `a+b`.
    * Precondition (holds for both tokenizers): `fused != a`, or a
    * fusion could chain into the next scan position.
    */
  def mergeOnceAs(
      symbols: Column, a: String, b: String, fused: String): Column = {
    require(fused != a && b.nonEmpty,
      s"fused symbol must differ from the left input: ($a, $b) -> $fused")
    // acc: the output array. Append s; but if the last element is `a`
    // and s == b, replace it with the fusion. This fold IS the
    // reference's leftmost-non-overlapping scan: a freshly fused
    // element equals `fused`, never `a` (b is non-empty), so a fusion
    // can't chain into the next one. `get` (not element_at) so the
    // empty-acc probe yields NULL→otherwise instead of an ANSI
    // out-of-bounds error.
    aggregate(
      symbols,
      array().cast("array<string>"),
      (acc, s) => when(
        get(acc, size(acc) - 1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(fused))))
        .otherwise(concat(acc, array(s))))
  }

  /** One whole training round over the symbolized vocab: find the
    * most frequent pair (count-desc, then (a,b) lexicographic — the
    * deterministic tie-break DuckDB reproduces) and fuse it
    * everywhere. Returns the chosen pair and the rewritten vocab, or
    * None when no adjacent pairs remain.
    */
  def trainRound(vocab: DataFrame): Option[((String, String), DataFrame)] = {
    val top = pairCounts(vocab)
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(1).collect()
    top.headOption.map { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      ((a, b), vocab.withColumn("symbols", mergeOnce(col("symbols"), a, b)))
    }
  }

  /** Learn `numMerges` BPE merges from the corpus. The returned list
    * is rank-ordered — the tokenizer artifact. Each rewritten vocab is
    * materialized and the one it supersedes freed (lineage stays one
    * round deep; the table is ≤ vocabCap rows throughout).
    */
  def trainBpe(docs: DataFrame, numMerges: Int,
      vocabCap: Int = 65536): Seq[(String, String)] =
    trainLoop(wordCounts(docs, vocabCap)
      .select(initialSymbols(col("word")).as("symbols"), col("n")),
      numMerges)(trainRound)

  /** The round loop of every BPE-family trainer (char and byte BPE,
    * WordPiece): the seed symbolization and the round function are
    * the only things that differ. `round` picks one merge and returns
    * it with the rewritten vocab, or None when no pairs remain. The
    * seed vocab is cached, each rewritten vocab materialized; all of it
    * is freed when the loop ends.
    */
  private[functions] def trainLoop[M](vocab0: DataFrame, numMerges: Int)(
      round: DataFrame => Option[(M, DataFrame)]): Seq[M] = {
    val rounds = new Rounds(keep = 1)
    try {
      val merges = scala.collection.mutable.ArrayBuffer.empty[M]
      var next = if (numMerges > 0) round(rounds.cache(vocab0)) else None
      while (next.isDefined) {
        val (m, vocab) = next.get
        merges += m
        next = if (merges.size < numMerges) round(rounds(vocab)) else None
      }
      merges.toSeq
    } finally rounds.close()
  }

  /** Frequency-capped distinct-PIECE counts — the byte face of
    * [[wordCounts]]: pieces are alternating whitespace/non-whitespace
    * runs (lookaround split, every char kept, NO lowercase), so the
    * trained merges see exactly what [[encodeBytes]] will encode.
    * Single-char pieces (lone spaces) survive the count but carry no
    * adjacent pairs, so they never influence training — multi-space
    * runs CAN learn 'ĠĠ'-style merges, the GPT-2 behavior.
    */
  def pieceCounts(docs: DataFrame, vocabCap: Int = 65536): DataFrame =
    docs.select(explode(split(col("text"),
        "(?<=\\s)(?=\\S)|(?<=\\S)(?=\\s)")).as("piece"))
      .filter(length(col("piece")) > 0)
      .groupBy("piece").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("piece"))
      .limit(vocabCap)

  /** Learn `numMerges` BYTE-level merges — [[trainBpe]]'s loop over
    * [[pieceCounts]] seeded through the byte alphabet
    * (`graft_byte_syms`): train + encode + decode now all live on the
    * byte face. Same scale shape: one corpus pass, then k rounds over
    * the ≤`vocabCap` piece table, one collected argmax row per round.
    */
  def trainBpeBytes(docs: DataFrame, numMerges: Int,
      vocabCap: Int = 65536): Seq[(String, String)] = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    trainLoop(pieceCounts(docs, vocabCap)
      .select(call_function("graft_byte_syms", col("piece")).as("symbols"),
        col("n")),
      numMerges)(trainRound)
  }

  /** Encode a text column with a trained merge list: lowercase,
    * whitespace-split, symbolize each word, then apply every merge in
    * RANK ORDER (the BPE encode convention — training order IS the
    * application order). Emits one `array<string>` of subword tokens
    * per row, words' tokens concatenated left to right. Map-only, zero
    * exchange: ONE `graft_bpe_encode` kernel call per row — the merge
    * table folds into the expression at construction; the per-row work
    * is a tight JVM loop instead of k interpreted `aggregate` lambdas
    * (the HOF form, kept below as [[encodeFold]], measured ~50× slower
    * on the flagship corpus pass).
    */
  def encode(text: Column, merges: Seq[(String, String)]): Column = {
    graft.plans.GraftFunctions.registerActive()
    val flat = merges.flatMap { case (a, b) => Seq(a, b) }
    val mergeLit =
      if (flat.isEmpty) array().cast("array<string>")
      else array(flat.map(lit): _*)
    call_function("graft_bpe_encode", text, mergeLit)
  }

  /** [[encode]] with deterministic BPE-DROPOUT (Provilkov et al. 2020
    * — subword regularization: exposing a model to multiple
    * segmentations of the same word measurably improves translation/
    * LM quality; the mechanism is skipping a random subset of merges
    * per encode). This face replaces the PRNG with md5-keyed
    * per-(word, merge-rank) decisions — drop merge r for word w iff
    * `first_byte(md5("bpedrop:" + w + ":" + r)) < dropByte` — so the
    * augmentation is reproducible, engine-portable (the DuckDB oracle
    * replays every decision), and shuffles/retries cannot change the
    * output. Different corpora epochs re-salt by rewriting the word
    * (e.g. prepending an epoch tag upstream). `dropByte = 0` ≡
    * [[encode]] exactly (spec-pinned); `dropByte = 64` ≈ Provilkov's
    * recommended p = 0.1–0.3 range. Map-only, one kernel call per row.
    */
  def encodeDropout(text: Column, merges: Seq[(String, String)],
      dropByte: Int): Column = {
    graft.plans.GraftFunctions.registerActive()
    val flat = merges.flatMap { case (a, b) => Seq(a, b) }
    val mergeLit =
      if (flat.isEmpty) array().cast("array<string>")
      else array(flat.map(lit): _*)
    call_function("graft_bpe_dropout", text, mergeLit, lit(dropByte))
  }

  /** The column-level fold form of [[encode]] — k chained `aggregate`
    * folds over each word's symbol array. Semantically the reference
    * the kernel is spec-proven equal to (`BpeSpec`); interpreted HOF
    * evaluation makes it the slow arm, so nothing registered uses it.
    */
  private[graft] def encodeFold(text: Column, merges: Seq[(String, String)]): Column = {
    val words = filter(TextAnalysis.tokens(lower(text)), w => length(w) > 0)
    flatten(transform(words, w => {
      merges.foldLeft(initialSymbols(w): Column) {
        case (acc, (a, b)) => mergeOnce(acc, a, b)
      }
    }))
  }

  /** The VOCABULARY a merge list induces over the corpus — the
    * artifact a tokenizer ships: every distinct symbol left in the
    * word table after applying `merges` in rank order, with its
    * corpus-weighted occurrence count and the number of distinct
    * words containing it. Runs entirely on the ≤`vocabCap` word
    * table (symbolize + k folds + one explode/agg), never the corpus.
    */
  def vocabAfter(docs: DataFrame, merges: Seq[(String, String)],
      vocabCap: Int = 65536): DataFrame = {
    val symbolized = wordCounts(docs, vocabCap)
      .select(initialSymbols(col("word")).as("symbols"), col("n"))
    val rewritten = merges.foldLeft(symbolized) { case (v, (a, b)) =>
      v.withColumn("symbols", mergeOnce(col("symbols"), a, b))
    }
    rewritten
      .select(explode(col("symbols")).as("symbol"), col("n"))
      .groupBy("symbol")
      .agg(sum(col("n")).as("cnt"), count(lit(1)).as("n_words"))
  }

  /** Invert [[encode]]: subword tokens → whitespace-normalized text.
    * Merges only ever CONCATENATE adjacent symbols, so joining the
    * tokens and turning each [[EndOfWord]] back into a space recovers
    * the lowercased, single-space-joined words exactly — for ANY merge
    * list, trained or fixed (the reversibility the `</w>` sentinel
    * exists to guarantee). Map-only.
    */
  def decode(toks: Column): Column =
    trim(replace(concat_ws("", toks), lit(EndOfWord), lit(" ")))

  /** Per-document subword token count under a trained merge list —
    * the honest version of `approxBpeTokenCount` once a tokenizer has
    * been trained. Map-only.
    */
  def tokenCounts(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    docs.select(col("doc_id"),
      size(encode(col("text"), merges)).as("n_tokens"))

  /** The fixed merge list the `tok_bpe_encode` registered query and
    * its recursive-CTE oracle both apply (rank order matters: merge 3
    * can consume an `a` that merges 1–2 already contextualized).
    * Chosen to fire on the fixture vocabulary, including an
    * order-dependence case ("table": `t,a` fuses only because
    * (`a`,`</w>`) at rank 1 didn't touch the interior `a`).
    */
  val fixtureMerges: Seq[(String, String)] =
    Seq(("a", EndOfWord), ("e", EndOfWord), ("t", "a"), ("s", "c"))

  /** BYTE-level BPE encode — the GPT-2/Llama-lineage face
    * ([[graft.plans.TextKernels.bpeEncodeBytes]]): the text's UTF-8
    * bytes map through the published GPT-2 byte→unicode alphabet
    * (printable bytes to themselves, the rest to 256+n; space → 'Ġ'),
    * merges apply over the mapped symbols, and NOTHING is normalized
    * or dropped — no lowercase, no `</w>`, no [UNK], no char-level
    * fallback; whitespace runs are their own pieces, so
    * [[decodeBytes]] reproduces any input bit-for-bit. One kernel
    * call per row, map-only.
    */
  def encodeBytes(text: Column, merges: Seq[(String, String)]): Column = {
    graft.plans.GraftFunctions.registerActive()
    val flat = merges.flatMap { case (a, b) => Seq(a, b) }
    val mergeLit =
      if (flat.isEmpty) array().cast("array<string>")
      else array(flat.map(lit): _*)
    call_function("graft_bpe_bytes", text, mergeLit)
  }

  /** Exact inverse of [[encodeBytes]]: tokens → bytes → UTF-8. */
  def decodeBytes(toks: Column): Column = {
    graft.plans.GraftFunctions.registerActive()
    call_function("graft_bpe_bytes_decode", toks)
  }

  /** Fixed byte-level merge table for the driver-contract fixture
    * (rank-ordered; all pairs x ≠ y so the oracle's two-pass
    * replace-chain convention is faithful). ("th","e") at rank 2
    * exercises rank chaining — it only fires after rank 1 built
    * "th"; ASCII letters map to themselves under the byte alphabet,
    * so the oracle needs no byte table for these symbols.
    */
  val fixtureByteMerges: Seq[(String, String)] =
    Seq(("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"))
}
