package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Similarity}

/** Explicit kernel-vs-column-baseline equivalence (VERDICT r2 item 7):
  * every native Catalyst kernel must produce the same values as the
  * interpreted higher-order-function form it replaced, on both the
  * driver fixtures and constructed edge cases (float and double
  * element types, negatives, half-way rounding values, nulls).
  */
class KernelEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("graft_quantize ≡ quantizedHof on the fixture embeddings") {
    val both = embs.select(
      Baselines.quantizedHof($"embedding").as("hof"),
      Similarity.quantized($"embedding").as("native"))
    assert(both.filter(not($"hof" <=> $"native")).count() == 0)
  }

  test("graft_quantize ≡ quantizedHof on float edge cases") {
    // Half-way products, negatives, float-vs-double product divergence
    // candidates, and the empty array.
    val df = Seq(
      Array(0.0005f, -0.0005f, 0.0015f, -0.0015f, 0.0025f),
      Array(1.5f, -1.5f, 2.5f, -2.5f, 0.5f, -0.5f),
      Array(0.1f, -0.1f, 0.9999995f, 1e-9f, -1e-9f),
      Array.empty[Float],
    ).toDF("embedding")
    val both = df.select(
      Baselines.quantizedHof($"embedding").as("hof"),
      Similarity.quantized($"embedding").as("native"))
    assert(both.filter(not($"hof" <=> $"native")).count() == 0)
  }

  test("graft_quantize ≡ quantizedHof on double arrays") {
    val df = Seq(
      Array(0.0005, -0.0005, 1.5, -1.5, 0.12345),
      Array(-0.9999995, 1e-12, -1e-12),
    ).toDF("embedding")
    val both = df.select(
      Baselines.quantizedHof($"embedding").as("hof"),
      Similarity.quantized($"embedding").as("native"))
    assert(both.filter(not($"hof" <=> $"native")).count() == 0)
  }

  test("graft_tokenhashes ≡ transform(split(lower),md5-portable) incl. dup/empty tokens") {
    val fixture = docs.select($"text")
    val edge = Seq("", " ", "a  b a", " leading", "trailing ", "UP low UP")
      .toDF("text")
    for (df <- Seq(fixture, edge)) {
      val both = df.select(
        transform(split(lower($"text"), "\\s+"),
          t => Dedup.portableTokenHash(t)).as("hof"),
        Dedup.nativeTokenHashes($"text").as("native"))
      assert(both.filter(not($"hof" <=> $"native")).count() == 0)
    }
  }

  test("graft_simhash64 ∘ graft_tokenhashes ≡ column-form simHash on fixtures") {
    val both = docs.select(
      Dedup.simHash($"text").as("hof"),
      call_function("graft_simhash64", Dedup.nativeTokenHashes($"text")).as("native"))
    assert(both.filter(not($"hof" <=> $"native")).count() == 0)
  }

  test("graft_minhash ≡ minHashSignature on fixture shingle arrays") {
    val sh = docs.select(Dedup.nativeShingles($"text", 3).as("shingles"))
    val both = sh.select(
      Dedup.minHashSignature($"shingles", 32).as("hof"),
      call_function("graft_minhash", $"shingles", lit(32)).as("native"))
    assert(both.filter(not($"hof" <=> $"native")).count() == 0)
  }

  test("graft_minhash skips null elements (≡ array_min null-ignore)") {
    val df = Seq(
      (Seq[Option[Long]](Some(42L), None, Some(-7L)), Seq(42L, -7L)),
      (Seq[Option[Long]](None, Some(0L)), Seq(0L)),
    ).toDF("with_null", "without")
    val both = df.select(
      call_function("graft_minhash", $"with_null", lit(16)).as("a"),
      call_function("graft_minhash", $"without", lit(16)).as("b"),
      Dedup.minHashSignature($"with_null", 16).as("hof"))
    assert(both.filter(not($"a" <=> $"b") || not($"a" <=> $"hof")).count() == 0)
  }

  test("graft_hyperplane_sig ≡ lshSignatureHof on the fixture embeddings") {
    val both = embs.select(
      Similarity.lshSignatureHof($"embedding", 8).as("hof"),
      Similarity.lshSignature($"embedding", 8).as("native"))
    assert(both.filter(not($"hof" <=> $"native")).count() == 0)
  }

  test("graft_hyperplane_sig ≡ lshSignatureHof on doubles incl. empty") {
    val df = Seq(
      Array(0.3, -0.7, 0.2, 0.9),
      Array(-1.0, -2.0),
      Array.empty[Double],
    ).toDF("embedding")
    val both = df.select(
      Similarity.lshSignatureHof($"embedding", 12).as("hof"),
      Similarity.lshSignature($"embedding", 12).as("native"))
    assert(both.filter(not($"hof" <=> $"native")).count() == 0)
  }

  test("graft_pq_encode / graft_pq_dt / graft_pq_adc ≡ expression-tree baselines") {
    graft.plans.GraftFunctions.register(spark)
    val cb = Similarity.seedPqCodebooks(embs, m = 8, ksub = 16)
    val flat = array(cb.flatten.flatten.map(lit).toIndexedSeq: _*)
    val q = embs.select($"vec_id", Similarity.quantized($"embedding").as("q"))
    val both = q.select(
      call_function("graft_pq_encode", $"q", flat, lit(8), lit(16)).as("kc"),
      Baselines.pqCodesColHof($"q", cb).as("hc"),
      call_function("graft_pq_dt", $"q", flat, lit(8), lit(16)).as("kt"),
      Baselines.pqDistTableColHof($"q", cb).as("ht"))
    assert(both.filter(not($"kc" <=> $"hc") || not($"kt" <=> $"ht")).count() == 0)
    // ADC kernel vs the zip_with/element_at fold over the same inputs
    val adcBoth = both.select(
      call_function("graft_pq_adc", $"kt", $"kc", lit(16)).as("k"),
      aggregate(
        zip_with(expr("transform(sequence(0, 7), j -> slice(kt, j * 16 + 1, 16))"),
          $"kc", (t, c) => element_at(t, c.cast("int") + 1)),
        lit(0L), (acc, v) => acc + v).as("h"))
    assert(adcBoth.filter(not($"k" <=> $"h")).count() == 0)
  }

  test("graft_winnow ≡ relational window form on fixtures + edge cases") {
    import graft.functions.TextAnalysis
    val edge = Seq(
      (1L, ""), (2L, "one two three"), // shorter than the window
      (3L, "a a a a a a"),             // all-equal hashes: tie-breaks
      (4L, "x y z x y z x y z"),       // repeating selections dedupe
      (5L, "  leading and trailing  "),
    ).toDF("doc_id", "text")
    for (df <- Seq(docs.select($"doc_id", $"text"), edge)) {
      val fast = TextAnalysis.winnowFingerprints(df, 4)
      val base = TextAnalysis.winnowFingerprintsRelational(df, 4)
      assert(fast.exceptAll(base).isEmpty && base.exceptAll(fast).isEmpty)
    }
  }

  test("fuzz: kernels ≡ column baselines on 200 seeded-random vectors") {
    val rnd = new scala.util.Random(0xf00dL)
    def rf(): Float = ((rnd.nextFloat() - 0.5f) * 4f)
    val floats = (1 to 100).map(_ =>
      Array.fill(rnd.nextInt(96) + 1)(rf())).toDF("embedding")
    val doubles = (1 to 100).map(_ =>
      Array.fill(rnd.nextInt(96) + 1)(rnd.nextDouble() * 4 - 2)).toDF("embedding")
    for (df <- Seq(floats, doubles)) {
      val q = df.select(
        Baselines.quantizedHof($"embedding").as("hof"),
        Similarity.quantized($"embedding").as("native"))
      assert(q.filter(not($"hof" <=> $"native")).count() == 0)
      val h = df.select(
        Similarity.lshSignatureHof($"embedding", 10).as("hof"),
        Similarity.lshSignature($"embedding", 10).as("native"))
      assert(h.filter(not($"hof" <=> $"native")).count() == 0)
    }
    val longArrays = (1 to 200).map(_ =>
      Array.fill(rnd.nextInt(64) + 1)(rnd.nextLong())).toDF("shingles")
    val m = longArrays.select(
      Dedup.minHashSignature($"shingles", 24).as("hof"),
      call_function("graft_minhash", $"shingles", lit(24)).as("native"))
    assert(m.filter(not($"hof" <=> $"native")).count() == 0)
  }

  test("graft_nfc / graft_strip_accents: UAX #15 semantics and java.text.Normalizer equivalence") {
    import graft.plans.TextKernels
    import org.apache.spark.unsafe.types.UTF8String
    def nfc(s: String) = TextKernels.nfc(UTF8String.fromString(s)).toString
    def strip(s: String) = TextKernels.stripAccents(UTF8String.fromString(s)).toString
    val decomposed = "e\u0301"   // e + combining acute
    val composed = "\u00e9"      // precomposed LATIN SMALL LETTER E WITH ACUTE
    // canonical composition: decomposed e+U+0301 composes to U+00E9
    assert(nfc(decomposed) == composed && nfc(decomposed).length == 1)
    // idempotence + fast-path identity on already-NFC text
    val ascii = UTF8String.fromString("plain ascii text")
    assert(TextKernels.nfc(ascii) eq ascii) // zero-allocation fast path
    assert(nfc(composed) == composed)
    // strip: composed AND decomposed accents fold to the base letter
    assert(strip(composed) == "e" && strip(decomposed) == "e")
    assert(strip("\u00fc\u00f1") == "un") // u-umlaut, n-tilde
    // non-decomposable characters pass through (o-slash, sharp-s have
    // no NFD decomposition - strip is a folder, not a transliterator)
    assert(strip("\u00f8\u00df") == "\u00f8\u00df")
    // equivalence with java.text.Normalizer on mixed text
    val probes = Seq("Ame\u0301lie ist sch\u00f6n", "\u00c5ngstr\u00f6m",
      "na\u00efve caf\u00e9", "ascii only", "")
    for (p <- probes) {
      assert(nfc(p) == java.text.Normalizer.normalize(p, java.text.Normalizer.Form.NFC))
      // stripped text contains no combining marks in NFD form
      val nfd = java.text.Normalizer.normalize(strip(p), java.text.Normalizer.Form.NFD)
      assert(!nfd.exists(ch => Character.getType(ch) == Character.NON_SPACING_MARK), p)
    }
    // supplementary-plane non-spacing marks (surrogate pairs): the
    // mark-detection pre-scan must step by codepoint, or a string
    // whose ONLY combining mark is non-BMP (U+1D167 MUSICAL SYMBOL
    // COMBINING TREMOLO-1, category Mn) slips through the nfc fast
    // path un-stripped
    val tremolo = new String(Character.toChars(0x1D167))
    assert(Character.getType(0x1D167) == Character.NON_SPACING_MARK)
    assert(strip("x" + tremolo + "y") == "xy")
    // column path: normalization changes the exact-dup digest story -
    // the two spellings of e-acute dedup together only after nfc
    val d = Seq("cafe\u0301", "caf\u00e9").toDF("text")
    assert(d.select(countDistinct(col("text"))).head.getLong(0) == 2L)
    assert(d.select(countDistinct(graft.functions.Normalize.nfc(col("text"))))
      .head.getLong(0) == 1L)
  }

  test("graft_bag_dot ≡ map_zip_with fold on random sorted tf bags") {
    // The APSS verification kernel: two-pointer merge over aligned
    // (sorted terms, tfs) arrays must equal the interpreted
    // map-merge fold it replaced, including empty and disjoint bags.
    val rnd = new scala.util.Random(0xB46D)
    val vocab = (0 until 40).map(i => f"w$i%02d")
    val rows = (0 until 200).map { i =>
      def bag() = rnd.shuffle(vocab).take(rnd.nextInt(12))
        .sorted.map(t => (t, 1L + rnd.nextInt(5))).toArray
      val (a, b) = (bag(), bag())
      (i.toLong, a.map(_._1), a.map(_._2), b.map(_._1), b.map(_._2))
    } :+ ((999L, Array.empty[String], Array.empty[Long],
      Array("x"), Array(3L)))
    val df = rows.toDF("id", "a_terms", "a_tfs", "b_terms", "b_tfs")
    val hof = aggregate(
      map_values(map_zip_with(
        map_from_arrays($"a_terms", $"a_tfs"),
        map_from_arrays($"b_terms", $"b_tfs"),
        (_, x, y) => coalesce(x, lit(0L)) * coalesce(y, lit(0L)))),
      lit(0L), (acc, v) => acc + v)
    val native = graft.plans.GraftFunctions.bagDot(spark,
      $"a_terms", $"a_tfs", $"b_terms", $"b_tfs")
    val both = df.select(hof.as("hof"), native.as("native"))
    assert(both.filter(not($"hof" <=> $"native")).count() == 0)
  }

  test("quantized/lshSignature/nativeShingles resolve on a fresh session") {
    // Regression for VERDICT r2 #1/#2: a brand-new session (empty
    // function registry) must be able to run the wrapper-based queries
    // standalone — no alphabetically-earlier query registering kernels
    // as a side effect.
    val fresh = spark.newSession()
    SparkSession.setActiveSession(fresh)
    try {
      assert(Queries.embNormStats(fresh, sfDir).count() > 0)
      assert(Queries.simCosineTopk(fresh, sfDir).count() > 0)
      val sh = fresh.read.parquet(s"$sfDir/documents.parquet")
        .select(Dedup.nativeShingles(col("text"), 3).as("s"))
      assert(sh.filter(size(col("s")) > 0).count() > 0)
    } finally SparkSession.setActiveSession(spark)
  }
}
