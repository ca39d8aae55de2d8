package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WordPiece tokenization (Wu+ 2016, the BERT tokenizer family):
  * greedy LONGEST-MATCH-FIRST segmentation of each word against a
  * fixed vocabulary, continuation pieces carrying the `##` prefix, and
  * the classic whole-word `[UNK]` fallback — if any position fails to
  * match, the entire word collapses to one `[UNK]` token (HuggingFace
  * `BertTokenizer` semantics, not partial emission).
  *
  * The complement of [[Bpe]]: BPE learns merges bottom-up and encodes
  * by replaying them; WordPiece encodes top-down against a finished
  * vocabulary. Encoding is map-only — one `graft_wordpiece` kernel
  * call per row with the vocabulary folded into the expression at
  * construction (same discipline as `graft_bpe_encode`), zero
  * exchange, so the corpus pass scales exactly like any narrow
  * projection.
  */
object WordPiece {

  val Unk = "[UNK]"

  /** Deterministic fixture vocabulary the registered query and its
    * recursive-CTE oracle both use: ASCII letters/digits MINUS q/x/z
    * as both word-start and `##` continuation pieces (the corpus has
    * hundreds of q/x/z words, so the whole-word [UNK] collapse fires
    * on real data and the oracle must reproduce it), plus multi-char
    * pieces that make longest-match-first observable ("tab"+"##le"
    * beats "t","a","b",…).
    */
  val fixtureVocab: Seq[String] = {
    val singles = (('a' to 'z') ++ ('0' to '9')).map(_.toString)
      .filterNot(Set("q", "x", "z"))
    val multi = Seq("the", "ta", "tab", "##le", "##er", "##st", "##ing",
      "##ed", "##es", "##al", "##ow", "##an", "##on")
    singles ++ singles.map("##" + _) ++ multi
  }

  /** Encode a text column against a WordPiece vocabulary: lowercase,
    * whitespace-split, greedy longest-match per word, `array<string>`
    * of pieces out (words' pieces concatenated left to right, failed
    * words as one [[Unk]]). Map-only kernel call.
    */
  def encode(text: Column, vocab: Seq[String]): Column = {
    graft.plans.GraftFunctions.registerActive()
    val vocabLit =
      if (vocab.isEmpty) array().cast("array<string>")
      else array(vocab.map(lit): _*)
    call_function("graft_wordpiece", text, vocabLit)
  }

  // ------------------------------------------------------- training

  /** One trained merge: `(a, b)` fused into [[WpMerge.fused]] (the
    * right side's `##` stripped), with the exact integer statistics
    * the likelihood score was computed from — kept so the artifact is
    * FP-free and oracle-comparable.
    */
  final case class WpMerge(
      a: String, b: String, fused: String,
      cntAb: Long, cntA: Long, cntB: Long)

  /** Seed symbolization for TRAINING: a word becomes its first
    * character plus `##`-prefixed continuations — `"tab"` →
    * `["t","##a","##b"]` (Schuster & Nakajima 2012's word-boundary
    * marking; no `</w>` sentinel — the `##` prefix carries the
    * boundary information instead).
    */
  def initialPieces(word: Column): Column =
    transform(split(word, ""), (c, i) =>
      when(i === 0, c).otherwise(concat(lit("##"), c)))

  /** Corpus-weighted symbol occurrence counts over a symbolized vocab
    * `(symbols: array<string>, n: long)` — the denominator terms of
    * the WordPiece likelihood score.
    */
  def symbolCounts(vocab: DataFrame): DataFrame =
    vocab.select(explode(col("symbols")).as("s"), col("n"))
      .groupBy("s").agg(sum(col("n")).as("cnt"))

  /** One WordPiece training round over the symbolized vocab: pick the
    * adjacent pair maximizing the LIKELIHOOD score
    * `count(a,b) / (count(a)·count(b))` — the published WordPiece
    * objective (merge the pair whose fusion most increases corpus
    * likelihood under a unigram LM), *not* BPE's raw frequency — and
    * fuse it everywhere. Scoring arithmetic is one IEEE-754 division
    * of exact integer counts, bit-identical in any engine, with the
    * deterministic (score desc, a, b) tie-break; the returned
    * [[WpMerge]] carries the integer counts so the driver artifact
    * needs no FP columns at all. Returns None when no pairs remain.
    */
  def trainRound(vocab: DataFrame): Option[(WpMerge, DataFrame)] = {
    val sc = symbolCounts(vocab)
    val top = Bpe.pairCounts(vocab)
      .join(sc.select(col("s").as("a"), col("cnt").as("cnt_a")), Seq("a"))
      .join(sc.select(col("s").as("b"), col("cnt").as("cnt_b")), Seq("b"))
      .withColumn("score", col("cnt").cast("double")
        / (col("cnt_a").cast("double") * col("cnt_b").cast("double")))
      .orderBy(col("score").desc, col("a"), col("b"))
      .limit(1).select("a", "b", "cnt", "cnt_a", "cnt_b").collect()
    top.headOption.map { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val fused = a + b.stripPrefix("##")
      val m = WpMerge(a, b, fused, r.getLong(2), r.getLong(3), r.getLong(4))
      (m, vocab.withColumn("symbols",
        Bpe.mergeOnceAs(col("symbols"), a, b, fused)))
    }
  }

  /** Learn `numMerges` WordPiece merges from the corpus — the
    * vocabulary-induction half the BERT tokenizer family needs before
    * [[encode]] is meaningful on real data. Scale shape is exactly
    * [[Bpe.trainBpe]]'s: ONE corpus-scale pass (the map-combined word
    * count, frequency-capped at `vocabCap`), then every round runs
    * over the ≤`vocabCap`-row word table with one 1-row driver
    * collect (the argmax) — k merges cost k bounded shuffles
    * regardless of corpus size. The rounds run on [[Bpe.trainLoop]],
    * the loop every BPE-family trainer shares.
    */
  def trainWordPiece(docs: DataFrame, numMerges: Int,
      vocabCap: Int = 65536): Seq[WpMerge] =
    Bpe.trainLoop(Bpe.wordCounts(docs, vocabCap)
      .select(initialPieces(col("word")).as("symbols"), col("n")),
      numMerges)(trainRound)

  /** The vocabulary a trained merge list induces for [[encode]]:
    * every single-character piece (word-start and `##` continuation —
    * the base alphabet greedy matching falls back to) plus each
    * merge's fused piece. Driver-side assembly of the bounded merge
    * artifact; encoding against it is the same map-only kernel as the
    * fixture path.
    */
  def inducedVocab(merges: Seq[WpMerge],
      alphabet: Seq[String]): Seq[String] =
    (alphabet ++ alphabet.map("##" + _) ++ merges.map(_.fused)).distinct

  /** Map encoded pieces to integer ids — the 1-based position in the
    * vocabulary, with 0 reserved for [[Unk]] (and anything else off
    * vocabulary): `array_position`'s miss value IS 0, so the [UNK]
    * convention falls out of the lookup. The trainer-facing tail of
    * the tokenizer: text → pieces → ids. Map-only.
    */
  def toIds(pieces: Column, vocab: Seq[String]): Column = {
    val vocabLit =
      if (vocab.isEmpty) array().cast("array<string>")
      else array(vocab.map(lit): _*)
    transform(pieces, p => array_position(vocabLit, p))
  }
}
