package graft

import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Similarity, TextAnalysis}

/** Extension-operator correctness: MinHash-LSH vs exact Jaccard,
  * SimHash hamming, LSH ANN vs brute force, text analysis edges.
  */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("exact dedup: identical texts collapse to min doc_id") {
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val groups = Dedup.exact(d)
    assert(groups.count() == 2)
    val dup = groups.filter($"n_copies" === 2)
    assert(dup.select("keep_id").as[Long].head() == 1L)
    assert(Dedup.exactSurvivors(d).count() == 2)
  }

  test("bag dedup: reordered copies share a fingerprint, multisets differ") {
    val d = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma alpha beta"),      // reorder of 1 — same bag
      (3L, "alpha alpha beta gamma"), // extra token — different multiset
      (4L, "alpha beta delta")).toDF("doc_id", "text")
    val bags = Dedup.bagFingerprints(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("bag_hash"), r.getAs[Long]("n_same_bag"),
         r.getAs[Boolean]("is_dup"))).toMap
    assert(bags(1L)._1 == bags(2L)._1 && bags(1L)._3 && bags(2L)._3)
    assert(bags(1L)._2 == 2L)
    assert(bags(3L)._1 != bags(1L)._1 && !bags(3L)._3 && bags(3L)._2 == 1L)
    assert(bags(4L)._1 != bags(1L)._1 && !bags(4L)._3)
    // plain exact dedup misses the reordered pair
    assert(Dedup.exact(d).filter($"n_copies" > 1).isEmpty)
  }

  test("keep-first units: first occurrence survives, later repeats drop") {
    // w=2 units: doc1 = [a b][c d]; doc2 = [c d][e f] (unit "c d" is a
    // repeat of doc1's second unit); doc3 duplicates doc1 entirely;
    // doc4's final unit is SHORT ([g h][i]) and must round-trip intact
    val d = Seq(
      (1L, "a b c d"),
      (2L, "c d e f"),
      (3L, "a b c d"),
      (4L, "g h i")).toDF("doc_id", "text")
    val out = Dedup.keepFirstUnits(d, w = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_units"), r.getAs[Long]("n_kept"),
         r.getAs[String]("clean_text"))).toMap
    assert(out(1L) == ((2L, 2L, "a b c d")))
    assert(out(2L) == ((2L, 1L, "e f")))   // "c d" seen first in doc 1
    assert(out(3L) == ((2L, 0L, "")))      // full duplicate: nothing kept
    assert(out(4L) == ((2L, 2L, "g h i"))) // short tail unit preserved
  }

  test("boilerplate strip: corpus-hot units drop everywhere, rare units survive") {
    // w=2 units: "x x" appears in 3 docs (>= maxDf 3) → boilerplate,
    // removed from ALL of them (no first-owner survivor, unlike
    // keep-first); "c d" appears only twice → kept in both
    val d = Seq(
      (1L, "x x a b"),
      (2L, "x x c d"),
      (3L, "c d x x"),
      (4L, "e f")).toDF("doc_id", "text")
    val out = Dedup.stripBoilerplate(d, w = 2, maxDf = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_units"), r.getAs[Long]("n_kept"),
         r.getAs[String]("clean_text"))).toMap
    assert(out(1L) == ((2L, 1L, "a b")))
    assert(out(2L) == ((2L, 1L, "c d")))
    assert(out(3L) == ((2L, 1L, "c d")))
    assert(out(4L) == ((1L, 1L, "e f")))
    // in-doc repetition counts toward the corpus frequency: a unit
    // appearing 3x inside ONE doc is boilerplate too
    val solo = Seq((1L, "y y y y y y"), (2L, "a b")).toDF("doc_id", "text")
    val o2 = Dedup.stripBoilerplate(solo, w = 2, maxDf = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(o2(1L) == "" && o2(2L) == "a b")
  }

  test("keep-first units: kept text is a per-doc subsequence; hashes globally unique") {
    val out = Dedup.keepFirstUnits(docs, w = 10)
    val joined = out.join(docs, "doc_id").select("doc_id", "text", "clean_text")
      .as[(Long, String, String)].collect()
    for ((_, text, clean) <- joined) {
      // every kept unit's tokens appear in the original, in order
      val orig = text.split("\\s+").toList
      val kept = clean.split("\\s+").filter(_.nonEmpty).toList
      // subsequence check
      val ok = kept.foldLeft(orig) { (rem, tok) =>
        val i = rem.indexOf(tok); assert(i >= 0, s"token $tok not found in order"); rem.drop(i + 1)
      }
      val _ = ok
    }
    // dedup is complete: distinct unit hashes across the corpus ==
    // total kept units (exactly one survivor per distinct unit)
    val toks = split(lower(col("text")), "\\s+")
    val nDistinct = docs.select(explode(transform(
        sequence(lit(0), ceil(size(toks) / 10.0).cast("int") - 1),
        i => md5(array_join(slice(toks, i * 10 + 1, lit(10)), " ")))).as("uh"))
      .select(countDistinct(col("uh"))).as[Long].head()
    val totalKept = out.agg(sum("n_kept")).as[Long].head()
    assert(totalKept == nDistinct, s"kept $totalKept vs distinct units $nDistinct")
  }

  test("minhash-LSH finds every exact-Jaccard pair at fixture scale (recall)") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashDuplicates(docs, 3, 128, 32, 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain near-dups")
    assert(lsh == exact) // 128 perms / 32 bands at jaccard≥0.5 → full recall here
  }

  test("containment: quoted doc found inside a larger doc that Jaccard misses") {
    val body = (0 until 40).map(i => s"w$i").mkString(" ")
    val quote = (10 until 20).map(i => s"w$i").mkString(" ") // contiguous slice
    val d = Seq((1L, quote), (2L, body),
      (3L, "unrelated text entirely different here")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, w = 3, threshold = 0.8)
      .select("inner_id", "outer_id").as[(Long, Long)].collect().toSet
    // directional: the quote is contained in the body, never the reverse
    assert(got == Set((1L, 2L)))
    // the symmetric Jaccard pass misses the same pair: J = 8/38 ≈ 0.21
    assert(Dedup.ngramJaccardPairs(d, 3, 0.5).isEmpty)
  }

  test("containment matches brute force on the fixture corpus") {
    val t = 0.8
    val arrs = docs.select($"doc_id", Dedup.nativeShingles($"text", 3).as("sh"))
    val brute = arrs.as("a").crossJoin(arrs.as("b"))
      .filter($"a.doc_id" =!= $"b.doc_id")
      .select($"a.doc_id".as("inner_id"), $"b.doc_id".as("outer_id"),
        size(array_intersect($"a.sh", $"b.sh")).cast("double").as("inter"),
        size($"a.sh").cast("double").as("n"))
      .filter($"inter" / $"n" >= t)
      .select("inner_id", "outer_id").as[(Long, Long)].collect().toSet
    val got = Dedup.containmentPairs(docs, 3, t)
      .select("inner_id", "outer_id").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture should contain contained docs")
    assert(got == brute)
  }

  test("bagCosinePairs ≡ naive all-pairs on random corpora (prefix-filter completeness)") {
    val rnd = new scala.util.Random(0xA955)
    val vocab = Vector("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
    for (trial <- 1 to 3) {
      val base = (0 until 30).map { i =>
        (i.toLong, Seq.fill(4 + rnd.nextInt(10))(
          vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      // clone a few docs with small edits so near-dups exist
      val clones = (0 until 6).map { j =>
        val (_, t) = base(rnd.nextInt(base.length))
        (100L + j, t + " " + vocab(rnd.nextInt(vocab.length)))
      }
      val corpus = (base ++ clones).toDF("doc_id", "text")
      for ((p, q) <- Seq((4, 5), (9, 10))) {
        val naive = {
          val tf = corpus.select($"doc_id",
              explode(TextAnalysis.tokens(lower($"text"))).as("t"))
            .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
          val nrm = tf.groupBy("doc_id").agg(sum($"tf" * $"tf").as("n"))
          tf.as("a").join(tf.as("b"),
              $"a.t" === $"b.t" && $"a.doc_id" < $"b.doc_id")
            .groupBy($"a.doc_id".as("ai"), $"b.doc_id".as("bi"))
            .agg(sum($"a.tf" * $"b.tf").as("dot"))
            .join(nrm.select($"doc_id".as("ai"), $"n".as("na")), Seq("ai"))
            .join(nrm.select($"doc_id".as("bi"), $"n".as("nb")), Seq("bi"))
            .filter($"dot" * $"dot" * lit(q.toLong * q)
              >= lit(p.toLong * p) * $"na" * $"nb")
            .select($"ai", $"bi", $"dot").as[(Long, Long, Long)]
            .collect().toSet
        }
        val got = Dedup.bagCosinePairs(corpus, p, q)
          .select($"a_id", $"b_id", $"dot").as[(Long, Long, Long)]
          .collect().toSet
        assert(got == naive, s"trial $trial τ=$p/$q")
        // force the non-broadcast (dedup-first) verify order: the two
        // orders must be observationally identical — broadcastMaxTfRows
        // only picks where the pair dedup runs, never what survives
        val gotShuffle = Dedup.bagCosinePairs(corpus, p, q,
            broadcastMaxTfRows = 0L)
          .select($"a_id", $"b_id", $"dot").as[(Long, Long, Long)]
          .collect().toSet
        assert(gotShuffle == naive, s"trial $trial τ=$p/$q (dedup-first order)")
        if (p == 9) assert(naive.nonEmpty, s"trial $trial: no near-dups generated")
      }
    }
  }

  test("bagCosinePairs FST dedup: identical and permuted docs (every " +
      "prefix term shared) emit each pair exactly once") {
    // adversarial case for the round-15 first-shared-prefix-term
    // filter: duplicate and bag-identical docs share their ENTIRE
    // prefix, so the match stream holds one row per prefix term per
    // pair and exactly one (the rarest shared term's) must survive —
    // a wrong intersect order or a tie would emit the pair 0 or 2+
    // times
    val corpus = Seq(
      (1L, "aa bb cc dd ee"),
      (2L, "aa bb cc dd ee"), // identical
      (3L, "ee dd cc bb aa"), // permutation — identical bag
      (4L, "aa bb cc dd ff"), // near-dup
      (5L, "zz yy xx ww vv") // disjoint
    ).toDF("doc_id", "text")
    val rows = Dedup.bagCosinePairs(corpus, 9, 10)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSeq
    assert(rows.distinct.size == rows.size, "a pair was emitted twice")
    assert(rows.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("documents fixture: doc_id is unique (the publish_unigram " +
      "raw-docs semi-join invariant)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dups = docs.groupBy("doc_id").count().filter($"count" > 1).count()
    assert(dups == 0L, "publish_unigram's semi-join against raw docs " +
      "relies on doc_id uniqueness — see Queries.publishUnigram")
  }

  test("decontamination: only w-gram-sharing test docs flagged, with counts") {
    val train = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "one two three four five six")).toDF("doc_id", "text")
    val test = Seq(
      // contains train 3-grams "beta gamma delta", "gamma delta epsilon"
      (0L, "x beta gamma delta epsilon y"),
      (1L, "totally novel content here now"),    // clean
      (2L, "one two three four five six")).toDF("doc_id", "text") // full copy
    val got = Dedup.contaminationOverlap(train, test, w = 3)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // doc0: grams of "x beta gamma delta epsilon y" hitting train =
    // {beta gamma delta, gamma delta epsilon} → 2; doc2: all 4 grams
    assert(got == Seq((0L, 2L), (2L, 4L)))
  }

  test("connected components: chains, cliques, and random graphs vs union-find") {
    // Chain 1-2-3-4 (needs transitive closure), pair 10-11, triangle
    // 20-21-22, duplicate + reversed + self-loop edges.
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (1L, 2L), (7L, 7L)).toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(got == want) // self-loop-only node 7 is a singleton: not emitted

    // Seeded random graphs vs a reference union-find.
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 60
      val es = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val gotR = Dedup.connectedComponents(es.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap
      assert(gotR == Baselines.componentLabels(es))
    }
  }

  test("connected components do not depend on partitioning: 1, 3 and 8 input partitions") {
    // The CC fixtures of this suite, each spread round-robin (pair i to
    // partition i mod n) so that components cross partitions and the
    // star rounds run after the per-partition contraction.
    def spread(es: Seq[(Long, Long)], n: Int) =
      spark.sparkContext.parallelize(0 until n, n)
        .flatMap(p => es.indices.filter(_ % n == p).map(es))
        .toDF("a_id", "b_id")
    val rnd = new scala.util.Random(42)
    val fixtures = Seq(
      "chain/clique/self-loop" -> Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
        (20L, 21L), (21L, 22L), (20L, 22L), (1L, 2L), (7L, 7L))) ++
      (1 to 3).map(i => s"random $i" -> Seq.fill(80)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))) ++
      Seq("300-node path" -> (0L until 299L).map(i => (i, i + 1)),
        "3000-spoke star" -> (1L to 3000L).map(i => (0L, i)))
    for ((name, es) <- fixtures; n <- Seq(1, 3, 8)) {
      val df = spread(es, n)
      assert(df.rdd.getNumPartitions == n)
      val got = Dedup.connectedComponents(df).as[(Long, Long)].collect()
      assert(got.length == got.map(_._1).distinct.length, s"$name at $n: a node labelled twice")
      assert(got.toMap == Baselines.componentLabels(es), s"$name at $n partitions")
    }
  }

  test("connected components frees only its own rounds while another thread checkpoints") {
    // While CC's first checkpoint job runs, a UDF in the `pairs` plan
    // has another thread localCheckpoint a frame and waits for it. A
    // `getPersistentRDDs` diff around that checkpoint would take the
    // frame's RDD for CC's first round and unpersist it next round.
    SideCheckpoint.fired.set(false)
    SideCheckpoint.frame = null
    val takeSideCheckpoint = udf { (a: Long) =>
      if (SideCheckpoint.fired.compareAndSet(false, true)) {
        val t = new Thread(() =>
          SideCheckpoint.frame = TestSpark.spark.range(0, 50).toDF("x").localCheckpoint())
        t.start()
        t.join()
      }
      a
    }.asNondeterministic()
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
      .withColumn("a_id", takeSideCheckpoint($"a_id"))
    val got = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    val frame = SideCheckpoint.frame
    assert(frame != null, "the side checkpoint never ran")
    val ids = graft.plans.Materialize.rddIds(frame)
    assert(ids.nonEmpty && ids.forall(spark.sparkContext.getPersistentRDDs.contains),
      s"side checkpoint RDDs $ids were unpersisted")
    assert(frame.as[Long].collect().sorted.toSeq == (0L until 50L))
  }

  test("∀ r ∈ {1,3,7,15}: bandedHammingPairs ≡ all-pairs on random 64-bit sets") {
    // the pigeonhole argument must hold for EVERY radius, not just the
    // media queries' r = 10 — band widths change with r (64/(r+1)
    // splits unevenly), so each r exercises a different slicing
    val rnd = new scala.util.Random(31)
    val base = Seq.fill(30)(rnd.nextLong())
    // plant neighbors at distances r and r+1 around random anchors
    for (r <- Seq(1, 3, 7, 15)) {
      val planted = base.take(6).flatMap { h =>
        def flip(k: Int): Long =
          (0 until k).foldLeft(h)((a, i) => a ^ (1L << ((i * 7 + 3) % 64)))
        Seq(h, flip(r), flip(r + 1))
      }
      val hashes = (base ++ planted).zipWithIndex
        .map { case (h, i) => (i.toLong, h) }.toDF("id", "fp")
      val exact = hashes.select($"id".as("a_id"), $"fp".as("a_h"))
        .join(hashes.select($"id".as("b_id"), $"fp".as("b_h")), $"a_id" < $"b_id")
        .select($"a_id", $"b_id",
          bit_count($"a_h".bitwiseXOR($"b_h")).cast("long").as("hamming"))
        .filter($"hamming" <= r)
      val banded = Dedup.bandedHammingPairs(hashes, "id", "fp", r)
      assert(banded.exceptAll(exact).isEmpty && exact.exceptAll(banded).isEmpty,
        s"radius $r: banded ≠ all-pairs")
      assert(exact.count() >= 6, s"radius $r: fixture planted too few pairs")
    }
  }

  test("saltedMin ≡ direct groupBy-min, incl. a hot hub key (CC star rounds)") {
    // random keyed values plus one hub key carrying 5k rows — the
    // shape a boilerplate-duplicate mega-cluster feeds the star
    // rounds' min reduction
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(2000)((rnd.nextInt(50).toLong, rnd.nextLong())) ++
      Seq.fill(5000)((99L, rnd.nextLong()))
    val df = rows.toDF("u", "v")
    val want = df.groupBy("u").agg(min("v").as("m"))
      .as[(Long, Long)].collect().toMap
    for (factor <- Seq(1, 32)) {
      val got = graft.operators.Skew.saltedMin(df, "u", "v", "m", factor)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"saltedMin(factor=$factor) diverged from direct min")
    }
  }

  test("connected components under an adversarial star graph (one mega-hub)") {
    // hub 0 wired to 3000 spokes + a disjoint clique: the hub key
    // dominates every min reduction; salted two-phase must still
    // produce the exact labeling
    val star = (1L to 3000L).map(i => (0L, i))
    val clique = for (a <- 5000L to 5004L; b <- (a + 1) to 5004L) yield (a, b)
    val got = Dedup.connectedComponents((star ++ clique).toDF("a_id", "b_id"))
      .as[(Long, Long)].collect().toMap
    assert(got.size == 3001 + 5)
    assert((0L to 3000L).forall(got(_) == 0L), "star labels must collapse to hub-min")
    assert((5000L to 5004L).forall(got(_) == 5000L), "clique labels wrong")
  }

  test("star-round min reductions plan the salted two-phase aggregate") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val sym = edges.union(edges.select($"b_id".as("a_id"), $"a_id".as("b_id")))
      .select($"a_id".as("u"), $"b_id".as("v"))
    val p = graft.operators.Skew.saltedMin(sym, "u", "v", "mn")
      .queryExecution.executedPlan.toString
    // two HashAggregate pairs: partial/final over (u, __salt), then
    // partial/final over u — the __salt key visible in the plan is
    // the constructed bound on any single reduce group
    assert(p.contains("__salt"), p.take(1200))
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(1200))
  }

  test("rake: hand-computed deg/freq scores; overlong candidates dropped") {
    // phrases: "deep learning", "deep networks", "learning";
    // freq(deep)=2 deg=4 → 2.0; freq(learning)=2 deg=3 → 1.5;
    // networks: 2/1 → 2.0. Scores: "deep networks" 4.0,
    // "deep learning" 3.5, "learning" 1.5. Doc 3 is one 5-token run
    // with no delimiter: dropped by maxLen=4.
    val d = Seq(
      (1L, "deep learning of the deep networks"),
      (2L, "learning"),
      (3L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val out = TextAnalysis.rakeKeyphrases(d, maxLen = 4, k = 10).collect()
      .map(r => (r.getAs[String]("phrase"),
        r.getAs[Long]("n_occ"), r.getAs[Double]("score")))
    assert(out.toSeq == Seq(
      ("deep networks", 1L, 4.0),
      ("deep learning", 1L, 3.5),
      ("learning", 1L, 1.5)))
  }

  test("gopher filter: each rule can independently reject") {
    val prose = ("the cat and the dog have fun with all of that " * 6).trim
    val cases = Seq(
      (0L, prose, true),                        // 66 words, prose-like
      (1L, "short the of doc", false),          // < 50 words
      (2L, prose + " ##### ##### ##### ##### ##### ##### ##### #####",
        false),                                 // symbol ratio > 0.1
      (3L, ("12 34 56 " * 20).trim + " the of", false), // non-alpha words
      (4L, ("lorem ipsum dolor sit amet " * 12).trim, false)) // no stopwords
    val got = TextAnalysis.gopherSignals(
        cases.map { case (i, t, _) => (i, t) }.toDF("doc_id", "text"),
        col("text"))
      .orderBy("doc_id").select("doc_id", "keep")
      .as[(Long, Boolean)].collect().toSeq
    assert(got == cases.map { case (i, _, k) => (i, k) })
  }

  test("rate sampling: deterministic, subset-stable, near the target rate") {
    val ids = spark.range(0, 10000).toDF("doc_id")
    val kept = ids.filter(TextAnalysis.rateSampleKeep(col("doc_id"), 0.5))
    val n = kept.count()
    assert(math.abs(n - 5000) < 300, s"rate 0.5 kept $n of 10000")
    // same decision again (determinism) and on a subset (stability)
    assert(kept.count() == n)
    val sub = ids.filter(col("doc_id") < 5000)
      .filter(TextAnalysis.rateSampleKeep(col("doc_id"), 0.5))
    assert(sub.intersect(kept.filter(col("doc_id") < 5000)).count() == sub.count())
    // rate 1.0 keeps everything, rate 0 keeps nothing
    assert(ids.filter(TextAnalysis.rateSampleKeep(col("doc_id"), 1.0)).count() == 10000)
    assert(ids.filter(TextAnalysis.rateSampleKeep(col("doc_id"), 0.0)).count() == 0)
  }

  test("repetition signals: repetitive text scores high, varied text low") {
    val d = Seq(
      (0L, "spam spam spam spam"),   // 4 tokens, 1 distinct, bigram "spam spam" ×3/3
      (1L, "a b c d"),               // all distinct, every bigram unique
      (2L, "one")).toDF("doc_id", "text") // single token: no bigrams
    val got = TextAnalysis.repetitionSignals(d)
      .orderBy("doc_id")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 4L, 0.75, 1.0),
      (1L, 4L, 0.0, 0.3333),
      (2L, 1L, 0.0, 0.0)))
  }

  test("PII redaction: emails, IPs, phones; counts match replacements") {
    val cases = Seq(
      ("mail john.doe+x@ex-ample.co.uk now", "mail <EMAIL> now", 1L),
      ("server 192.168.0.1 and 8.8.8.8.", "server <IP> and <IP>.", 2L),
      ("call 555-123-4567 or 555 123 4567", "call <PHONE> or <PHONE>", 2L),
      ("intl +639171234567 ok", "intl <PHONE> ok", 1L),
      // digits inside a consumed email are one email, not a phone too
      ("x 555-123-4567@mail.com y", "x <EMAIL> y", 1L),
      ("no pii here", "no pii here", 0L))
    val got = cases.map(_._1).zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("r"),
        TextAnalysis.piiHits(col("text")).as("n"))
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    got.zip(cases).foreach { case ((_, r, n), (in, wantR, wantN)) =>
      assert(r == wantR, s"redaction of '$in'")
      assert(n == wantN, s"hit count of '$in'")
    }
  }

  test("pack_no_split: whole docs next-fit; oversize docs sit alone") {
    import graft.functions.Packing
    // seqLen=10, one bucket: 6+3 fit seq0; 4 starts seq1; 12 oversize
    // alone in seq2; 5 starts seq3.
    val d = Seq(
      (0L, Seq.fill(6)("w").mkString(" ")),
      (1L, Seq.fill(3)("w").mkString(" ")),
      (2L, Seq.fill(4)("w").mkString(" ")),
      (3L, Seq.fill(12)("w").mkString(" ")),
      (4L, Seq.fill(5)("w").mkString(" "))).toDF("doc_id", "text")
    val got = Packing.packNoSplit(d, seqLen = 10, buckets = 1)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "bucket", "seq_in_bucket", "offset_in_seq")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 6L, 0L, 0L, 0L),
      (1L, 3L, 0L, 0L, 6L),
      (2L, 4L, 0L, 1L, 0L),
      (3L, 12L, 0L, 2L, 0L),
      (4L, 5L, 0L, 3L, 0L)))

    // Invariants on the fixture: no doc spans; per-sequence fill ≤
    // max(seqLen, its own size); offsets are gapless within a sequence.
    val packed = Packing.packNoSplit(docs, seqLen = 512, buckets = 8)
    val bySeq = packed.groupBy("bucket", "seq_in_bucket")
      .agg(sum("n_tokens").as("fill"), count(lit(1)).as("n"),
        max(col("offset_in_seq") + col("n_tokens")).as("endmax"))
    assert(bySeq.filter(col("n") > 1 && col("fill") > 512).count() == 0)
    assert(bySeq.filter(col("fill") =!= col("endmax")).count() == 0)
    assert(packed.count() == docs.count())
  }

  test("packBfd: longest-first best-fit placement; never more bins than next-fit") {
    import graft.functions.Packing
    // cap 10, one bucket, sizes 6,3,4,5 → decreasing order 6,5,4,3:
    // 6 opens bin0; 5 opens bin1 (6+5>10); 4 best-fits bin1 (load 5 >
    // ... wait 5+4=9 ≤ 10 and 6+4=10 ≤ 10 — bin0 is FULLER (6>5) → 4
    // joins bin0 → (10); 3 fits only bin1 (10+3>10) → bin1 = 8.
    val d = Seq(
      (0L, Seq.fill(6)("w").mkString(" ")),
      (1L, Seq.fill(3)("w").mkString(" ")),
      (2L, Seq.fill(4)("w").mkString(" ")),
      (3L, Seq.fill(5)("w").mkString(" "))).toDF("doc_id", "text")
    val got = Packing.packBfd(d, seqLen = 10, buckets = 1)
      .orderBy("bin_idx")
      .select("bucket", "bin_idx", "bin_load", "n_docs")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 0L, 10L, 2L), (0L, 1L, 8L, 2L)))
    // oversize doc sits alone even when later docs would "fit" by load
    val big = Seq((0L, Seq.fill(20)("w").mkString(" ")),
      (1L, Seq.fill(2)("w").mkString(" "))).toDF("doc_id", "text")
    val g2 = Packing.packBfd(big, seqLen = 10, buckets = 1)
      .orderBy("bin_idx").as[(Long, Long, Long, Long)].collect().toSeq
    assert(g2 == Seq((0L, 0L, 20L, 1L), (0L, 1L, 2L, 1L)))
    // on the fixture corpus: token totals conserved, multi-doc bins
    // never exceed the cap, and BFD uses no more bins than next-fit
    val bfd = Packing.packBfd(docs, seqLen = 256, buckets = 8)
    val nf = Packing.packNoSplit(docs, seqLen = 256, buckets = 8)
    assert(bfd.agg(sum("bin_load")).head.getLong(0) ==
      nf.agg(sum("n_tokens")).head.getLong(0))
    assert(bfd.agg(sum("n_docs")).head.getLong(0) == docs.count())
    assert(bfd.filter(col("n_docs") > 1 && col("bin_load") > 256).count() == 0)
    val nfBins = nf.select("bucket", "seq_in_bucket").distinct().count()
    assert(bfd.count() <= nfBins,
      s"BFD used ${bfd.count()} bins, next-fit $nfBins")
  }

  test("packNoSplit matches a sequential reference on random corpora") {
    import graft.functions.Packing
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 120
      val rows = (0 until n).map { _ =>
        (rnd.nextInt(10000).toLong, Seq.fill(1 + rnd.nextInt(30))("w").mkString(" "))
      }.distinctBy(_._1)
      val df = rows.toDF("doc_id", "text")
      val buckets = 1 + rnd.nextInt(12)
      val L = 16L
      // driver-side reference next-fit
      val width = math.max(1L, rows.map(_._1).max / buckets + 1)
      val want = rows.map { case (id, t) => (id, t.split("\\s+").length.toLong) }
        .sortBy(_._1).groupBy { case (id, _) => id / width }
        .flatMap { case (b, ds) =>
          var seq = 0L; var fill = 0L
          ds.sortBy(_._1).map { case (id, nt) =>
            if (fill == 0L) fill = nt
            else if (fill + nt > L) { seq += 1; fill = nt }
            else fill += nt
            (id, nt, b, seq, fill - nt)
          }
        }.toSet
      val got = Packing.packNoSplit(df, seqLen = 16, buckets = buckets)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got == want, s"buckets=$buckets")
    }
  }

  test("pack_chunks: two-phase prefix sum equals the global-window form") {
    import graft.functions.Packing
    // Hand case, seqLen=10: token counts 3, 8, 4 → starts 0, 3, 11.
    val d = Seq(
      (0L, "a b c"),
      (1L, "a b c d e f g h"),
      (2L, "w x y z")).toDF("doc_id", "text")
    val got = Packing.packChunks(d, seqLen = 10, buckets = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "t_start", "first_chunk", "last_chunk",
        "chunk_offset")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 3L, 0L, 0L, 0L, 0L),
      (1L, 8L, 3L, 0L, 1L, 3L), // spans the chunk boundary
      (2L, 4L, 11L, 1L, 1L, 1L)))

    // Sparse, non-dense ids: buckets are uneven but offsets still exact.
    val sparse = Seq((5L, "a b"), (999983L, "c d e"), (123L, "f"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows(Packing.packChunks(sparse, 4, buckets = 8)) ==
      rows(Baselines.packChunksGlobalWindow(sparse, 4)))

    // Fixture corpus: distributed form ≡ naive global window.
    assert(rows(Packing.packChunks(docs, 2048, buckets = 16)) ==
      rows(Baselines.packChunksGlobalWindow(docs, 2048)))

    // Duplicate ids must not overlap offsets (ROWS, not RANGE, frame):
    // two id-7 docs of 4 tokens each get distinct 4-token spans.
    val dup = Seq((7L, "a b c d"), (7L, "e f g h"), (9L, "i j"))
      .toDF("doc_id", "text")
    val spans = Packing.packChunks(dup, 10, buckets = 1)
      .select("t_start", "n_tokens")
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(spans == Seq((0L, 4L), (4L, 4L), (8L, 2L)))

    // maxIdHint overload: any upper bound gives identical output.
    assert(rows(Packing.packChunks(sparse, 4, 8, "doc_id", "text", 99999999L))
      == rows(Baselines.packChunksGlobalWindow(sparse, 4)))
  }

  test("connected components converge on a 300-node path (worst-case diameter)") {
    // A path is the adversarial case for star contraction (diameter =
    // n); it must converge in O(log² n) rounds, well inside maxIter.
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(chain)
      .as[(Long, Long)].collect()
    assert(got.length == 300 && got.forall(_._2 == 0L))
  }

  test("minhash estimate contract: identical docs estimate exactly 1.0; fixture error is small") {
    // identical texts share every signature slot → est = 1.0, J = 1.0
    val d = Seq((1L, "x y z w v u t s r q"), (2L, "x y z w v u t s r q"))
      .toDF("doc_id", "text")
    val row = Dedup.minHashEstimateContract(d).collect()
    assert(row.length == 1 && row(0).getAs[Boolean]("est_in_envelope"))
    assert(row(0).getAs[Double]("jaccard") == 1.0)
    // fixture corpus: every near-dup pair's estimate inside the envelope,
    // and the MEAN absolute deviation well under the 0.25 tail bound
    // (k=128 → σ ≤ 0.0442, so a mean above 0.1 means a broken kernel)
    val c = Dedup.minHashEstimateContract(docs)
    assert(c.filter(!col("est_in_envelope")).isEmpty)
    assert(c.count() > 0)
  }

  test("minhash candidates are a superset of verified duplicates") {
    val cands = Dedup.minHashCandidates(docs, 3, 128, 32)
      .as[(Long, Long)].collect().toSet
    val dups = Dedup.minHashDuplicates(docs, 3, 128, 32, 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(dups.subsetOf(cands))
  }

  test("simhash: identical text → hamming 0; near text → small hamming") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "completely different words entirely unrelated content here now"),
    ).toDF("doc_id", "text")
    val fp = Dedup.simHashTable(d).as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(3L)) < ham(fp(1L), fp(4L)))
    val pairs = Dedup.simHashDuplicates(d, maxHamming = 3)
    assert(pairs.filter($"a_id" === 1 && $"b_id" === 2).count() == 1)
  }

  test("simHash column expression agrees with scale-shaped simHashTable") {
    val d = docs.limit(50)
    val viaCol = d.select($"doc_id", Dedup.simHash($"text").as("fp"))
    val viaTable = Dedup.simHashTable(d)
    assert(viaCol.exceptAll(viaTable).isEmpty)
  }

  test("brute-force top-k: self excluded, scores within [-1,1], k rows per query") {
    val topk = Similarity.bruteForceTopK(embs, Seq(0L, 1L), 5)
    val rows = topk.collect()
    assert(rows.length == 10)
    assert(rows.forall(r => r.getLong(2) != r.getLong(0))) // nid != qid
    assert(rows.forall(r => math.abs(r.getDouble(3)) <= 1.0))
    // ranks are 1..5 per query
    assert(topk.filter($"qid" === 0L).select("rank").as[Int].collect().sorted
      .sameElements(Array(1, 2, 3, 4, 5)))
  }

  test("prefix-dim rerank: full candidate budget equals brute force; recall grows with budget") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val brute = Similarity.bruteForceTopK(embs, qids, 10)
    // candidates ≥ corpus → screening passes everything → brute-equal
    val full = Similarity.rerankTopK(embs, qids, 10,
      prefixDims = 16, candidates = 1 << 20)
    assert(full.exceptAll(brute).isEmpty && brute.exceptAll(full).isEmpty)
    // partial budgets: recall monotone in candidate budget, and any
    // emitted cosine must equal the brute cosine for that pair (the
    // rerank stage is exact — only screening can lose neighbors)
    def hits(cand: Int): Long = {
      val rr = Similarity.rerankTopK(embs, qids, 10, prefixDims = 16,
        candidates = cand)
      val wrong = rr.as("r")
        .join(brute.as("b"), Seq("qid", "nid"), "left")
        .filter($"b.cos".isNotNull && $"r.cos" =!= $"b.cos")
      assert(wrong.count() == 0)
      rr.select("qid", "nid").join(brute.select("qid", "nid"),
        Seq("qid", "nid"), "left_semi").count()
    }
    val (h20, h80) = (hits(20), hits(80))
    assert(h20 <= h80, s"recall fell with a larger budget: $h20 > $h80")
    assert(h80 > 25, s"80-candidate screen should recall most of top-10: $h80/50")
  }

  test("LSH top-k returns true neighbors from the same bucket (precision vs brute force)") {
    val brute = Similarity.bruteForceTopK(embs, Seq(0L, 1L, 2L, 3L, 4L), 10)
      .select("qid", "nid", "cos")
    val lsh = Similarity.lshTopK(embs, Seq(0L, 1L, 2L, 3L, 4L), 10)
      .select("qid", "nid", "cos")
    // every LSH hit's cosine must equal the brute-force cosine for that pair
    val joined = lsh.as("l").join(brute.as("b"), Seq("qid", "nid"), "left")
      .filter($"b.cos".isNotNull && $"l.cos" =!= $"b.cos")
    assert(joined.count() == 0)
    assert(lsh.count() > 0)
  }

  test("multi-probe LSH: recall never below single-probe, no duplicate pairs") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val brute = Similarity.bruteForceTopK(embs, qids, 10)
      .select($"qid", $"nid")
    def recall(probes: Int): (Long, Long) = {
      val lsh = Similarity.lshTopK(embs, qids, 10, planes = 8, probes = probes)
      assert(lsh.groupBy("qid", "nid").count().filter($"count" > 1).count() == 0,
        s"duplicate (qid,nid) pairs at probes=$probes")
      (lsh.select("qid", "nid").join(brute, Seq("qid", "nid"), "left_semi").count(),
        lsh.count())
    }
    val (hit1, n1) = recall(1)
    val (hit9, n9) = recall(9) // own bucket + all 8 single-bit flips
    assert(hit9 >= hit1, s"multi-probe lost recall: $hit9 < $hit1")
    assert(n9 >= n1)    // candidate set can only widen
    assert(hit9 > 0)
  }

  test("recall report: equals independent per-budget lshTopK∩truth; monotone in budget") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val (k, planes) = (10, 6)
    val budgets = Seq(1, 3, 7)
    val report = Similarity.lshRecallReport(emb, qids, k, planes, budgets)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (p, q, h, r) => ((p, q), (h, r)) }.toMap
    assert(report.keySet ==
      (for (b <- budgets; q <- qids) yield (b.toLong, q)).toSet,
      "report must cover the full budget × query grid")
    val truth = Similarity.bruteForceTopK(emb, qids, k)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    // the one-pass minprobe construction must equal running the probe
    // budget for real: lshTopK at probes=b ∩ ground truth, per query
    for (b <- budgets) {
      val hits = Similarity.lshTopK(emb, qids, k, planes, probes = b)
        .select("qid", "nid").as[(Long, Long)].collect()
        .filter(truth).groupBy(_._1).view.mapValues(_.length.toLong).toMap
      for (q <- qids) {
        val (h, r) = report((b.toLong, q))
        assert(h == hits.getOrElse(q, 0L),
          s"budget $b query $q: report $h vs direct ${hits.getOrElse(q, 0L)}")
        assert(math.abs(r - h.toDouble / k) < 1e-9)
      }
    }
    // more probes can only help: recall monotone per query
    for (q <- qids; Seq(b1, b2) <- budgets.sliding(2))
      assert(report((b1.toLong, q))._1 <= report((b2.toLong, q))._1,
        s"query $q: recall dropped from budget $b1 to $b2")
  }

  test("IVF recall report: equals per-budget ivfTopK∩truth; full recall at nprobe=nlist") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val (k, nlist) = (10, 8)
    val budgets = Seq(1, 2, 8)
    val report = Similarity.ivfRecallReport(emb, qids, k, nlist, budgets)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (p, q, h, r) => ((p, q), (h, r)) }.toMap
    val truth = Similarity.bruteForceTopK(emb, qids, k)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val seeds = Similarity.seedCentroids(emb, nlist)
    for (b <- budgets) {
      val hits = Similarity.ivfTopK(emb, qids, k, nlist, nprobe = b,
          centroidsOverride = Some(seeds))
        .select("qid", "nid").as[(Long, Long)].collect()
        .filter(truth).groupBy(_._1).view.mapValues(_.length.toLong).toMap
      for (q <- qids)
        assert(report((b.toLong, q))._1 == hits.getOrElse(q, 0L),
          s"nprobe $b query $q: report vs direct ivfTopK")
    }
    // probing every cell IS brute force: recall must be exactly 1
    for (q <- qids)
      assert(report((nlist.toLong, q)) == ((k.toLong, 1.0)),
        s"query $q not at full recall with nprobe = nlist")
  }

  test("IVF top-k: exact scores, deterministic centroids, bounded candidates") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val brute = Similarity.bruteForceTopK(embs, qids, 10)
      .select($"qid", $"nid", $"cos")
    val ivf = Similarity.ivfTopK(embs, qids, 10)
    // every IVF hit's cosine equals the brute-force cosine (scoring is
    // exact — only the candidate set is approximate)
    val mismatch = ivf.as("i").join(brute.as("b"), Seq("qid", "nid"), "left")
      .filter($"b.cos".isNotNull && $"i.cos" =!= $"b.cos")
    assert(mismatch.count() == 0)
    assert(ivf.count() > 0)
    assert(ivf.filter($"rank" > 10).count() == 0)
    // exact-integer centroid sums → the whole pipeline is reproducible
    val again = Similarity.ivfTopK(embs, qids, 10)
    assert(ivf.exceptAll(again).isEmpty && again.exceptAll(ivf).isEmpty)
    // wider probing can only improve recall
    val wide = Similarity.ivfTopK(embs, qids, 10, nlist = 16, nprobe = 16)
    val hitsNarrow = ivf.select("qid", "nid")
      .join(brute.select($"qid", $"nid"), Seq("qid", "nid"), "left_semi").count()
    val hitsWide = wide.select("qid", "nid")
      .join(brute.select($"qid", $"nid"), Seq("qid", "nid"), "left_semi").count()
    assert(hitsWide >= hitsNarrow)
    assert(hitsWide == 50) // nprobe = nlist scans every cell → exact top-k
  }

  test("IVF sample-trained centroids: assignment exact, full recall at nprobe=nlist") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val brute = Similarity.bruteForceTopK(embs, qids, 10)
    // cap below the corpus size forces the hash-sampled training path;
    // assignment still sees every vector, and probing every cell must
    // recover the exact brute-force top-k REGARDLESS of centroid
    // quality — the scale-path invariant
    val sampled = Similarity.ivfTopK(embs, qids, 10,
      nlist = 8, nprobe = 8, trainSampleCap = 16)
    assert(sampled.exceptAll(brute).isEmpty && brute.exceptAll(sampled).isEmpty)
    // sampling is hash-deterministic: identical output across runs
    val again = Similarity.ivfTopK(embs, qids, 10,
      nlist = 8, nprobe = 8, trainSampleCap = 16)
    assert(sampled.exceptAll(again).isEmpty && again.exceptAll(sampled).isEmpty)
  }

  /** Exact quantized squared-L2 top-k baseline for the PQ tests:
    * ‖a‖² + ‖b‖² − 2·a·b over the integer-quantized vectors — the
    * quantity PQ's `adist` approximates.
    */
  private def exactL2TopK(corpus: org.apache.spark.sql.DataFrame,
      qids: Seq[Long], k: Int): org.apache.spark.sql.DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    val q = corpus.select($"vec_id",
      Similarity.quantized($"embedding").as("q"))
      .withColumn("nsq", call_function("graft_norm_sq", $"q"))
    val queries = q.filter($"vec_id".isin(qids.map(Long.box): _*))
      .select($"vec_id".as("qid"), $"q".as("qq"), $"nsq".as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"d2", $"nid")
    q.crossJoin(broadcast(queries)).filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"),
        ($"qn" + $"nsq" - lit(2L) * call_function("graft_dot", $"q", $"qq"))
          .as("d2"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
  }

  test("PQ ADC: m=1 with every vector a codeword is EXACT squared-L2 top-k") {
    // 32-vector sub-corpus, ksub = N: each vector is its own nearest
    // codeword (sub-distance 0), so adist collapses to the true
    // quantized squared L2 — the documented exactness escape hatch.
    val sub = embs.orderBy($"vec_id").limit(32)
    val qids = Seq(0L, 1L, 2L)
    val pq = Similarity.pqTopK(sub, qids, 5, m = 1, ksub = 32)
    val exact = exactL2TopK(sub, qids, 5)
      .select($"qid", $"rank", $"nid", $"d2".as("adist"))
    assert(pq.exceptAll(exact).isEmpty && exact.exceptAll(pq).isEmpty)
  }

  test("PQ ADC top-k: shape, determinism, and recall vs exact L2") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val pq = Similarity.pqTopK(embs, qids, 10, m = 8, ksub = 16)
    val rows = pq.collect()
    assert(rows.length == 50)                        // k rows per query
    assert(rows.forall(r => r.getLong(2) != r.getLong(0))) // no self
    assert(pq.filter($"qid" === 0L).select("rank").as[Int].collect().sorted
      .sameElements(1 to 10))
    // seed codebooks are deterministic → identical output across runs
    val again = Similarity.pqTopK(embs, qids, 10, m = 8, ksub = 16)
    assert(pq.exceptAll(again).isEmpty && again.exceptAll(pq).isEmpty)
    // untrained 16-codeword seeds are a coarse quantizer; still, the
    // ADC order must stay correlated with the true L2 order
    val exact = exactL2TopK(embs, qids, 10).select($"qid", $"nid")
    val hits = pq.select($"qid", $"nid")
      .join(exact, Seq("qid", "nid"), "left_semi").count()
    assert(hits >= 10, s"PQ recall collapsed: $hits/50 exact-L2 hits")
  }

  test("IVF-PQ (global arm): nprobe=nlist is exactly pqTopK; recall monotone in nprobe") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val pq = Similarity.pqTopK(embs, qids, 10, m = 8, ksub = 16)
    // probing every cell disables the coarse prune → identical to PQ
    // (a GLOBAL-codebook identity: residual codes differ per cell)
    val full = Similarity.ivfPqTopK(embs, qids, 10,
      nlist = 8, nprobe = 8, m = 8, ksub = 16, residual = false)
    assert(full.exceptAll(pq).isEmpty && pq.exceptAll(full).isEmpty)
    // partial probes: every emitted adist must equal the PQ adist for
    // that pair (the prune loses candidates, never changes scores),
    // and recall vs the full-probe set is monotone in nprobe
    val pqPairs = pq.select($"qid", $"nid", $"adist")
    def run(np: Int) = Similarity.ivfPqTopK(embs, qids, 10,
      nlist = 8, nprobe = np, m = 8, ksub = 16, residual = false)
    def hits(df: org.apache.spark.sql.DataFrame): Long =
      df.select("qid", "nid").join(pq.select("qid", "nid"),
        Seq("qid", "nid"), "left_semi").count()
    val (p1, p4) = (run(1), run(4))
    val wrong = p1.as("a").join(pqPairs.as("b"), Seq("qid", "nid"), "left")
      .filter($"b.adist".isNotNull && $"a.adist" =!= $"b.adist")
    assert(wrong.count() == 0)
    assert(hits(p1) <= hits(p4), "recall fell with more probes")
    // deterministic across runs
    val again = run(2)
    val first = run(2)
    assert(again.exceptAll(first).isEmpty && first.exceptAll(again).isEmpty)
  }

  test("IVF-PQ residual arm: m=1 + all-codewords is EXACT L2 at ANY probe coverage") {
    // ‖q−x‖² = ‖(q−c) − (x−c)‖²: with every residual its own codeword
    // the per-cell distance tables reproduce true squared L2 exactly,
    // so even a PARTIAL probe emits exact distances (the prune only
    // loses candidates), and nprobe=nlist IS the exact L2 top-k.
    val sub = embs.orderBy($"vec_id").limit(32)
    val qids = Seq(0L, 1L, 2L)
    val full = Similarity.ivfPqTopK(sub, qids, 5,
      nlist = 4, nprobe = 4, m = 1, ksub = 32, residual = true)
    val exact = exactL2TopK(sub, qids, 5)
      .select($"qid", $"rank", $"nid", $"d2".as("adist"))
    assert(full.exceptAll(exact).isEmpty && exact.exceptAll(full).isEmpty)
    // partial probe: every emitted adist is the TRUE squared L2
    val p1 = Similarity.ivfPqTopK(sub, qids, 5,
      nlist = 4, nprobe = 1, m = 1, ksub = 32, residual = true)
    val truth = exactL2TopK(sub, qids, 32).select($"qid", $"nid", $"d2")
    val wrong = p1.join(truth, Seq("qid", "nid"))
      .filter($"adist" =!= $"d2")
    assert(wrong.count() == 0)
  }

  test("IVF-PQ residual arm: deterministic, self-free, k rows per query") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    def run() = Similarity.ivfPqTopK(embs, qids, 10,
      nlist = 8, nprobe = 2, m = 8, ksub = 16, residual = true)
    val a = run(); val b = run()
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val rows = a.collect()
    assert(rows.length == 50 && rows.forall(r => r.getLong(2) != r.getLong(0)))
  }

  test("trained codebooks lift ADC recall over seeds (PQ and residual IVF-PQ)") {
    // recall measured against the exact quantized-L2 top-k over a
    // 50-query set — everything is deterministic, so the measured
    // inequality is a stable regression contract; the query set must
    // be this wide because per-query recall is high-variance (on 5
    // queries the seed codebook, which CONTAINS vectors 0-15, wins by
    // luck: probed 15 vs 12 hits at nq=5, 102 vs 124 at nq=50)
    val qids = (0L until 50L).toSeq
    val k = 10
    val exact = exactL2TopK(embs, qids, k).select($"qid", $"nid")
    def recall(df: org.apache.spark.sql.DataFrame): Long =
      df.select("qid", "nid").join(exact, Seq("qid", "nid"), "left_semi").count()
    val seeded = recall(Similarity.pqTopK(embs, qids, k, m = 8, ksub = 16))
    val trainedCb = Similarity.trainedPqCodebooks(embs, m = 8, ksub = 16)
    val trained = recall(Similarity.pqTopK(embs, qids, k, m = 8, ksub = 16,
      codebooks = Some(trainedCb)))
    assert(trained > seeded,
      s"trained PQ recall $trained/500 did not beat seeded $seeded/500")
    // residual IVF-PQ in the full FAISS-quality configuration —
    // TRAINED coarse quantizer + TRAINED residual codebooks (residuals
    // only concentrate when centroids sit where vector mass is;
    // residual codes against the seed anchor cells measured BELOW the
    // global arm, 93 vs 117) — at equal code bits it must not lose to
    // the seeded global arm
    val coarse = Similarity.trainedCentroids(embs, 8)
    val resCb = Similarity.trainedResidualPqCodebooks(embs, coarse, 8, 16)
    val trainedRes = recall(Similarity.ivfPqTopK(embs, qids, k,
      nlist = 8, nprobe = 8, m = 8, ksub = 16, residual = true,
      codebooks = Some(resCb), coarseCentroids = Some(coarse)))
    assert(trainedRes >= seeded,
      s"trained residual IVF-PQ recall $trainedRes/500 below seeded global $seeded/500")
  }

  test("seeded-trained residual codebooks (oracle arm) never lose recall to their seed init") {
    // the sim_ivfpq_trained training path: seed-residual init + 2
    // exact-integer EM rounds (portable assignment/rounding, unlike
    // the sampled xxhash64 production path above). Full probe
    // isolates codebook quality from cell pruning; k-means refinement
    // from the init must not damage the fit.
    val qids = (0L until 50L).toSeq
    val k = 10
    val exact = exactL2TopK(embs, qids, k).select($"qid", $"nid")
    def recall(df: org.apache.spark.sql.DataFrame): Long =
      df.select("qid", "nid").join(exact, Seq("qid", "nid"), "left_semi").count()
    val coarse = Similarity.seedCentroids(embs, 8)
    def run(cb: Option[Array[Array[Array[Long]]]]) =
      Similarity.ivfPqTopK(embs, qids, k, nlist = 8, nprobe = 8,
        m = 8, ksub = 16, residual = true,
        codebooks = cb, coarseCentroids = Some(coarse))
    val seeded = recall(run(None))
    val trained = recall(run(Some(
      Similarity.seededTrainedResidualCodebooks(embs, coarse, 8, 16, iters = 2))))
    assert(trained >= seeded,
      s"seeded-trained recall $trained/500 below raw seed init $seeded/500")
  }

  test("IVF under adversarial cell skew: correct top-k, no exchange blow-up") {
    // 90% of the corpus in ONE Voronoi cell — the documented skew
    // caveat ("a degenerate centroid set concentrates mass in one
    // cell") exercised instead of just documented: correctness must
    // hold and the plan must not degrade to replication/cartesian.
    // Deterministic fixture: 4 far-apart corner vectors become the
    // nlist=4 seed centroids; ids 4-183 cluster tightly around corner
    // 0; ids 184-199 scatter across the other corners.
    val skewed = (0L until 200L).map { id =>
      val v = Array.fill(16)(0.0f)
      if (id < 4L) v(id.toInt) = 10f
      else if (id < 184L) {
        v(0) = 10f
        v((id % 12 + 4).toInt) = 0.001f * (id % 97)
      } else {
        v((id % 4).toInt) = 10f
        v((id % 11 + 5).toInt) = 0.002f * (id % 89)
      }
      (id, v)
    }.toDF("vec_id", "embedding")
    // the skew is real: ≥ 90% of vectors land in cell 0
    val coarse = Similarity.seedCentroids(skewed, 4)
    val cells = Similarity.kmeansAssign(skewed, coarse)
    val fat = cells.filter($"cell" === 0L).count()
    assert(fat >= 180, s"fixture lost its skew: $fat/200 in cell 0")
    // IVF-flat at full probe ≡ brute force, unchanged by the skew
    val qids = Seq(0L, 10L, 190L)
    val brute = Similarity.bruteForceTopK(skewed, qids, 5)
    val ivf = Similarity.ivfTopK(skewed, qids, 5, nlist = 4, nprobe = 4,
      iters = 0)
    assert(ivf.exceptAll(brute).isEmpty && brute.exceptAll(ivf).isEmpty)
    // residual IVF-PQ exactness holds inside the fat cell too: m=1 +
    // all-codewords + partial probe returns TRUE squared L2 for every
    // emitted pair, and full probe is the exact L2 top-k
    val full = Similarity.ivfPqTopK(skewed, qids, 5,
      nlist = 4, nprobe = 4, m = 1, ksub = 200, residual = true)
    val exact = exactL2TopK(skewed, qids, 5)
      .select($"qid", $"rank", $"nid", $"d2".as("adist"))
    assert(full.exceptAll(exact).isEmpty && exact.exceptAll(full).isEmpty)
    val p1 = Similarity.ivfPqTopK(skewed, qids, 5,
      nlist = 4, nprobe = 1, m = 1, ksub = 200, residual = true)
    val truth = exactL2TopK(skewed, qids, 200).select($"qid", $"nid", $"d2")
    assert(p1.join(truth, Seq("qid", "nid")).filter($"adist" =!= $"d2")
      .count() == 0)
    // plan shape: the fat cell never triggers replication — the probe
    // side stays broadcast, the corpus side hash-joins on cell, no
    // cartesian/nested-loop anywhere
    val plan = Similarity.ivfPqTopK(skewed, qids, 5,
      nlist = 4, nprobe = 2, m = 4, ksub = 16, residual = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("pca: recovers the generating direction on collinear data; mean-centered") {
    // points exactly on a line through direction u: pc1 must be a
    // perfect affine image of the parameter t (|corr| = 1), centered
    val d = 64
    val u = Array.tabulate(d)(i => math.sin(i + 1.0))
    val un = math.sqrt(u.map(x => x * x).sum)
    val ts = (0 until 40).map(_.toDouble / 10.0)
    val rows = ts.zipWithIndex.map { case (t, i) =>
      (i.toLong, u.map(x => (t * x / un).toFloat))
    }
    val e = rows.toDF("vec_id", "embedding")
    val out = Similarity.pcaProject(e, iters = 20)
      .orderBy("vec_id").select("pc1").as[Double].collect()
    assert(out.length == 40)
    // centered: mean ≈ 0
    assert(math.abs(out.sum / out.length) < 1e-6, s"mean ${out.sum / out.length}")
    // perfect linear correlation with t (sign free)
    val mt = ts.sum / ts.length; val mp = out.sum / out.length
    val cov = ts.zip(out).map { case (a, b) => (a - mt) * (b - mp) }.sum
    val va = ts.map(a => (a - mt) * (a - mt)).sum
    val vb = out.map(b => (b - mp) * (b - mp)).sum
    val corr = cov / math.sqrt(va * vb)
    assert(math.abs(corr) > 0.999999, s"corr $corr")
  }

  test("abtt residuals: orthogonal to the removed component, mean-free per dim") {
    val res = Similarity.pcaResiduals(embs, iters = 20)
    val n = embs.count()
    val rows = res.collect().map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Long]("dim"), r.getAs[Double]("resid")))
    assert(rows.length == n * 64)
    // per-dim mean ≈ 0 (mean removal)
    val byDim = rows.groupBy(_._2).values
    for (g <- byDim) {
      val m = g.map(_._3).sum / g.length
      assert(math.abs(m) < 1e-6, s"dim mean $m")
    }
    // per-vector residual ⊥ component: recompute v via pc1 of residuals?
    // cheaper invariant: projecting the residuals onto the SAME corpus
    // component yields ≈ 0 for every vector — i.e. Σ_i resid_i·v_i ≈ 0.
    // v is not exposed, but pc1(resid + mean + pc1·v) = pc1(q), so
    // assert instead that the residual table's total variance is
    // strictly below the original centered variance (the removed
    // direction carried positive variance).
    val pc1 = Similarity.pcaProject(embs, iters = 20).collect()
      .map(r => r.getAs[Double]("pc1"))
    val resVar = rows.map(r => r._3 * r._3).sum
    val removed = pc1.map(x => x * x).sum
    val q = embs.select(Similarity.quantized(col("embedding")).as("q"))
      .collect().map(_.getSeq[Long](0).toArray)
    val mean = Array.tabulate(64)(i => q.map(_(i)).sum.toDouble / n)
    val totVar = q.map(v0 => v0.zipWithIndex.map { case (x, i) =>
      (x - mean(i)) * (x - mean(i)) }.sum).sum
    assert(math.abs(resVar + removed - totVar) < totVar * 1e-9,
      s"variance should decompose: $resVar + $removed vs $totVar")
  }

  test("mips: dot ranking differs from cosine by design; shape and determinism hold") {
    // q=[1,0]: a=[0.9,0.1] wins on cosine, b=[3,-0.5] wins on inner
    // product — MIPS must rank b first
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(3.0f, -0.5f))).toDF("vec_id", "embedding")
    val m = Similarity.mipsTopK(e, Seq(0L), 2).orderBy("rank")
      .select("nid", "dot").as[(Long, Long)].collect()
    assert(m.map(_._1).toSeq == Seq(2L, 1L), m.mkString(","))
    assert(m(0)._2 == 3000L * 1000L && m(1)._2 == 900L * 1000L)
    val c = Similarity.bruteForceTopK(e, Seq(0L), 2).orderBy("rank")
      .select("nid").as[Long].collect()
    assert(c.toSeq == Seq(1L, 2L))
    // fixture: k rows per query, self excluded, dot non-increasing
    val f = Similarity.mipsTopK(embs, Seq(0L, 1L), 10).collect()
    assert(f.length == 20 && f.forall(r => r.getAs[Long]("nid") != r.getAs[Long]("qid")))
    for (g <- f.groupBy(_.getAs[Long]("qid")).values) {
      val byRank = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("dot"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("mips augmented IVF: nprobe=nlist is exactly brute MIPS; partial probe finds hits") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val full = Similarity.mipsIvfTopK(embs, qids, 10, nlist = 8, nprobe = 8)
      .orderBy("qid", "rank").collect().map(_.toSeq)
    val brute = Similarity.mipsTopK(embs, qids, 10)
      .orderBy("qid", "rank").collect().map(_.toSeq)
    assert(full.toSeq == brute.toSeq)
    // partial probe: every row is a true corpus dot, recall measurable
    val part = Similarity.mipsIvfTopK(embs, qids, 10, nlist = 8, nprobe = 2)
    val truthSet = brute.map(r => (r(0), r(2))).toSet
    val hits = part.collect().map(r =>
      (r.getAs[Long]("qid"), r.getAs[Long]("nid")))
      .count(p => truthSet.contains((p._1, p._2)))
    assert(hits > 0, "partial probe should recover some true MIPS neighbors")
  }

  test("cosineNearDupPairs is symmetric-free, thresholded, ⊆ exact baseline") {
    val pairs = Similarity.cosineNearDupPairs(embs, threshold = 0.8)
    assert(pairs.filter($"a_id" >= $"b_id").count() == 0)
    assert(pairs.filter($"cos" < 0.8).count() == 0)
    // at a findable threshold, every LSH pair must appear in the exact
    // all-pairs baseline with the identical cosine (same unrounded
    // threshold rule on both arms)
    val t = 0.35
    val lsh = Similarity.cosineNearDupPairs(embs, t)
    val exact = Similarity.cosineNearDupPairsExact(embs, t)
    assert(lsh.exceptAll(lsh.join(exact, Seq("a_id", "b_id", "cos"), "left_semi"))
      .count() == 0, "LSH arm emitted a pair/cosine absent from the exact baseline")
  }

  test("winnowing: shared ≥w+k−1 runs share a fingerprint; single word doesn't") {
    val w = 4 // window over k=3 grams → guarantee needs a ≥6-token run
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val d = Seq(
      (1L, s"unique one two $shared tail tokens here"),
      (2L, s"другой prefix $shared completely different suffix"),
      (3L, "no overlap with anything else at all whatsoever"),
      // shares ONLY the single word 'the' with doc 5 — k-gram hashing
      // must NOT produce a common fingerprint from one common word
      (4L, "the cat sat on a mat today quietly indoors"),
      (5L, "the dog ran far away from home again yesterday"),
    ).toDF("doc_id", "text")
    val fps = graft.functions.TextAnalysis.winnowFingerprints(d, w)
    val byDoc = fps.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty) // 7-token shared run ≥ w+k−1
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    assert((byDoc(4L) & byDoc(5L)).isEmpty)  // one shared word ≠ match
    // sketch is smaller than the gram stream
    val nTok = d.select(explode(split(lower($"text"), "\\s+"))).count()
    assert(fps.count() < nTok)
    // deterministic
    val again = graft.functions.TextAnalysis.winnowFingerprints(d, w)
    assert(fps.exceptAll(again).isEmpty && again.exceptAll(fps).isEmpty)
  }

  test("text analysis edge cases: empty-ish and single-token docs") {
    val d = Seq((1L, "word"), (2L, "the the the"), (3L, "a b"))
      .toDF("doc_id", "text")
    val toks = d.select($"doc_id", TextAnalysis.tokenCount($"text").as("n"))
      .as[(Long, Int)].collect().toMap
    assert(toks(1L) == 1 && toks(2L) == 3 && toks(3L) == 2)
    val lang = d.select($"doc_id", TextAnalysis.langId($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(lang(2L) == "en") // 'the' ×3
    assert(lang(1L) == "und") // no stopword hits
  }

  test("tfIdfKeywords: distinctive terms outrank universal ones; k and idf floor hold") {
    // 'zebra' appears only in doc 1; 'common' in every doc (idf floors
    // at 1, so it ranks purely by tf and loses to the rarer term).
    val d = Seq(
      (1L, "common zebra common zebra zebra"),
      (2L, "common alpha common alpha"),
      (3L, "common beta beta")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfKeywords(d, k = 2)
      .select($"doc_id", $"rnk", $"term", $"tf", $"df", $"tfidf")
      .as[(Long, Long, String, Long, Long, Double)].collect()
    assert(out.length == 6) // 2 per doc
    val top = out.filter(_._2 == 1L).map(r => r._1 -> r._3).toMap
    assert(top == Map(1L -> "zebra", 2L -> "alpha", 3L -> "beta"))
    // universal term: df = N → idf = ln(4/4) + 1 = 1 → score == tf
    val common = out.find(r => r._1 == 3L && r._3 == "common").get
    assert(common._4 == 1L && common._5 == 3L && common._6 == 1.0)
    // per-doc ranks are dense starting at 1
    assert(out.groupBy(_._1).values.forall(
      _.map(_._2).sorted.sameElements(Seq(1L, 2L))))
  }

  test("relational explodedShingles matches the column-level shingleHashes API") {
    import org.apache.spark.sql.functions.{col, explode}
    val d = docs.limit(100)
    val viaArray = Dedup.withShingles(d, 3)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val viaRelational = Dedup.explodedShingles(d, 3)
    assert(viaArray.exceptAll(viaRelational).isEmpty
      && viaRelational.exceptAll(viaArray).isEmpty)
    // short-doc edge: fewer tokens than the shingle width
    val tiny = Seq((1L, "solo"), (2L, "two words")).toDF("doc_id", "text")
    val a = Dedup.withShingles(tiny, 3)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val r = Dedup.explodedShingles(tiny, 3)
    assert(a.exceptAll(r).isEmpty && r.exceptAll(a).isEmpty)
    assert(r.count() == 2) // one whole-text shingle each
  }

  test("repeatedSpans: cross-doc boilerplate and within-doc repeats become exact spans") {
    // docs 1+2 share an 11-token header: its fully-interior 8-gram
    // starts are positions 0..3, so the merged span is exactly [0, 11)
    val header = "this dataset is licensed for research purposes only do not redistribute"
    // doc 4 repeats an 8-token phrase around 5 middle tokens: spans
    // [0,8) and [13,21), separate islands (gap 13 > w)
    val phrase = "one two three four five six seven eight"
    val d = Seq(
      (1L, s"$header alpha beta gamma unique content one"),
      (2L, s"$header totally different tail for doc two"),
      (3L, "completely original text with no shared boilerplate at all whatsoever ten"),
      (4L, s"$phrase middle filler words distinct here $phrase"),
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(d, w = 8, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(spans == Set(
      (1L, 0L, 11L, 4L), (2L, 0L, 11L, 4L),
      (4L, 0L, 8L, 1L), (4L, 13L, 21L, 1L)))

    val clean = Dedup.removeRepeatedSpans(d, w = 8, minCount = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(clean(1L) == ("alpha beta gamma unique content one", 11L))
    assert(clean(2L) == ("totally different tail for doc two", 11L))
    assert(clean(3L)._2 == 0L) // untouched doc: nothing removed
    assert(clean(4L) == ("middle filler words distinct here", 16L))
  }

  test("charRepeatedSpans: char-granularity repeats, cross-token and sub-token, code-point positions") {
    // docs 1+2 share a 30-char run that crosses token boundaries with
    // DIFFERENT surrounding tokenization (doc 2 embeds it mid-token) —
    // invisible to token grams, exact at char granularity. k=10 gram
    // starts inside a 30-char repeat at positions off..off+20.
    val run = "AAAAAAAAAABBBBBBBBBBCCCCCCCCCC" // 30 chars
    val d = Seq(
      (1L, s"$run and some unique tail for one"),
      (2L, s"xy${run}zq other unique content here"),
      (3L, "no repeated character runs at all in this document"),
    ).toDF("doc_id", "text")
    val spans = Dedup.charRepeatedSpans(d, k = 10, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // hot 10-gram starts: doc 1 positions 0..20, doc 2 positions 2..22
    // (each 10-gram inside the run occurs in both docs); single islands
    assert(spans.exists { case (id, s, e, _) => id == 1L && s == 0L && e == 30L })
    assert(spans.exists { case (id, s, e, _) => id == 2L && s == 2L && e == 32L })
    assert(!spans.exists(_._1 == 3L))

    // code-point positions: a surrogate-pair emoji before the repeat
    // shifts positions by ONE code point (not two UTF-16 units)
    val emoji = new String(Character.toChars(0x1F600))
    // tails diverge IMMEDIATELY after the run (no shared space), so
    // the hot region is exactly the run
    val d2 = Seq(
      (1L, s"$emoji${run}one-unique"),
      (2L, s".${run}two-other"),
    ).toDF("doc_id", "text")
    val s2 = Dedup.charRepeatedSpans(d2, k = 10, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(s2 == Set((1L, 1L, 31L), (2L, 1L, 31L)))

    // sub-k doc: one whole-text gram; duplicated short docs go hot
    // with the span_end = k bound convention
    val d3 = Seq((1L, "tiny"), (2L, "tiny"), (3L, "other")).toDF("doc_id", "text")
    val s3 = Dedup.charRepeatedSpans(d3, k = 10, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(s3 == Set((1L, 0L, 10L), (2L, 0L, 10L)))
  }

  test("crossJaccardPairs ≡ the self-join face restricted to cross-side pairs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val cross = graft.functions.Dedup.crossJaccardPairs(
        docs.filter($"doc_id" % 2 === 1), docs.filter($"doc_id" % 2 === 0),
        w = 3, threshold = 0.5)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // expected: every self-join pair with one odd and one even side,
    // re-oriented (delta=odd first)
    val self = graft.functions.Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("a_id", "b_id", "inter", "jaccard")
      .as[(Long, Long, Long, Double)].collect()
    val want = self.collect {
      case (a, b, i, j) if a % 2 == 1 && b % 2 == 0 => (a, b) -> (i, j)
      case (a, b, i, j) if a % 2 == 0 && b % 2 == 1 => (b, a) -> (i, j)
    }.toMap
    assert(cross == want, s"cross ${cross.size} vs want ${want.size}")
    assert(want.nonEmpty, "fixture produced no cross-side near-dups")
  }

  test("removeCharSpans: exact cut, character conservation, pass-through, sub-k full removal") {
    val run = "AAAAAAAAAABBBBBBBBBBCCCCCCCCCC"
    val d = Seq(
      (1L, s"$run and some unique tail for one"),
      (2L, s"xy${run}zq other unique content here"),
      (3L, "no repeated character runs at all in this document"),
      (4L, "tiny"), (5L, "tiny"),
    ).toDF("doc_id", "text")
    val got = graft.functions.Dedup.removeCharSpans(d, k = 10, minCount = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // doc 1: span [0,30) cut, tail survives
    assert(got(1L) == (" and some unique tail for one", 30L))
    // doc 2: span [2,32) covers exactly the run — "xy" prefix and the
    // "zq…" tail both survive
    assert(got(2L) == ("xyzq other unique content here", 30L))
    // untouched doc passes through verbatim
    assert(got(3L) == ("no repeated character runs at all in this document", 0L))
    // duplicated sub-k docs: whole-text span, clamped removal count
    assert(got(4L) == ("", 4L) && got(5L) == ("", 4L))
    // conservation on every doc: kept + removed = original (char counts)
    val texts = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, (clean, removed)) <- got)
      assert(clean.length + removed == texts(id).length, s"doc $id")
  }

  test("removeRepeatedSpans sweep ≡ join baseline, incl. a pathological many-span doc") {
    // doc 1: 500 occurrences of one hot 8-gram, each separated by 9
    // unique tokens — 500 DISJOINT spans (gap 9 > w would be 17 > 8).
    // The retired join formulation materializes tokens×spans ≈ 4.2M
    // rows inside this single doc_id key; the sweep adds 1000 event
    // rows. Both must produce identical output.
    val phrase = (0 until 8).map(i => s"r$i").mkString(" ")
    val body = (0 until 500).flatMap { k =>
      phrase.split(" ").toSeq ++ (0 until 9).map(j => s"u${k}_$j")
    }.mkString(" ")
    val d = Seq(
      (1L, body),
      (2L, s"$phrase then a distinct tail follows here"),
      (3L, "a doc with no repeats whatsoever anywhere inside it at all"),
    ).toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(d, w = 8, minCount = 2)
      .filter($"doc_id" === 1L).count() == 500L)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val sweep = asMap(Dedup.removeRepeatedSpans(d, w = 8, minCount = 2))
    val base = asMap(Baselines.removeRepeatedSpansViaJoin(d, w = 8, minCount = 2))
    assert(sweep == base)
    assert(sweep(1L)._2 == 4000L) // 500 spans × 8 tokens removed
    assert(sweep(3L)._2 == 0L)
  }

  test("capPerSource keeps a deterministic <=cap subset per source") {
    import graft.functions.TextAnalysis
    val d = (1L to 60L).map(i => (i, s"src${i % 3}", s"text $i")).toDF("doc_id", "source", "text")
    def kept() = d
      .withColumn("__keep", TextAnalysis.capPerSource(5, $"source"))
      .filter($"__keep").select("doc_id", "source")
    val k1 = kept().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(k1.groupBy(_._2).forall(_._2.size == 5)) // cap binds: 20 per source
    assert(kept().collect().map(r => (r.getLong(0), r.getString(1))).toSet == k1)
    // raising the cap only ADDS documents (prefix property of the
    // md5 order — a changed cap must not reshuffle the kept set)
    val k2 = d.withColumn("__keep", TextAnalysis.capPerSource(7, $"source"))
      .filter($"__keep").select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(k1.subsetOf(k2) && k2.size == 21)
    // the two-phase skew-proof variant selects the identical set (and
    // returns the FULL original rows, not just the keys)
    val k3 = TextAnalysis.capBySource(d.repartition(7), 5)
    assert(k3.columns.toSeq == Seq("doc_id", "source", "text"))
    assert(k3.select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == k1)
  }

  test("chunkWithOverlap: window geometry, shared context, short-doc passthrough") {
    import graft.functions.Packing
    val d = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks: 3 chunks at (4,3)
      (2L, "only three tokens"),                      // sub-size: 1 whole chunk
    ).toDF("doc_id", "text")
    val out = Packing.chunkWithOverlap(d, chunkSize = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(_._4).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10")) // 1-token overlap at stride 3
    assert(d1.forall(_._3 == 4L))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 3L, "only three tokens")))
    // conservation: with stride == chunkSize (no overlap), chunks
    // partition the token stream exactly
    val flat = Packing.chunkWithOverlap(d, chunkSize = 4, stride = 4)
      .agg(sum($"n_chunk_tokens")).head().getLong(0)
    assert(flat == 13L)
  }

  test("bm25TopK: term-bearing docs outrank term-free docs; absent terms contribute zero") {
    import graft.functions.TextAnalysis
    val d = Seq(
      (1L, "spark spark spark runs the shuffle"),        // high tf
      (2L, "spark appears once in this longer document here"), // tf 1, longer dl
      (3L, "no query words at all in this text"),
      (4L, "window window spark"),                       // two terms
    ).toDF("doc_id", "text")
    val top = TextAnalysis.bm25TopK(d, Seq("spark", "window", "zzz_absent"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ranked = top.map(_._1).toSeq
    assert(!ranked.contains(3L))              // score 0 filtered out
    assert(top.forall(_._2 > 0))
    // doc 4 holds two distinct terms incl. rarer "window" → top rank;
    // among single-term docs the higher-tf shorter doc 1 beats doc 2
    assert(ranked.head == 4L)
    assert(ranked.indexOf(1L) < ranked.indexOf(2L))
    // determinism: identical scores on re-run (fixed expression tree)
    val again = TextAnalysis.bm25TopK(d, Seq("spark", "window", "zzz_absent"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.toSeq == again.toSeq)
  }

  test("invertedPostings: exact df and smallest-id heads, partition-count invariant") {
    import graft.functions.TextAnalysis
    val d = (1L to 40L).map { i =>
      val common = "alpha beta"                 // df 40 each
      val rare = if (i <= 3) " gamma" else ""   // df 3
      (i, s"$common$rare tail$i")
    }.toDF("doc_id", "text")
    def run(parts: Int) = TextAnalysis
      .invertedPostings(d.repartition(parts), minDf = 3L, cap = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val one = run(1)
    assert(one == run(7)) // pre-cap merge is partition-layout independent
    assert(one.find(_._1 == "alpha").get._2 == 40L)
    assert(one.find(_._1 == "alpha").get._3 == "1,2,3,4,5") // smallest 5 ids
    assert(one.find(_._1 == "gamma").get == (("gamma", 3L, "1,2,3")))
    assert(!one.exists(_._1.startsWith("tail"))) // hapax cut by minDf
  }

  test("topKPerGroup: generic order column, descending via negation, full rows kept") {
    import graft.functions.TextAnalysis
    val d = Seq(
      (1L, "a", 0.9), (2L, "a", 0.5), (3L, "a", 0.7), (4L, "a", 0.2),
      (5L, "b", 0.4), (6L, "b", 0.8),
    ).toDF("doc_id", "grp", "quality")
    // top-2 per group by HIGHEST quality: order by -quality
    val top = TextAnalysis.topKPerGroup(d.repartition(5), 2, "grp",
        -col("quality"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(top == Set((1L, "a", 0.9), (3L, "a", 0.7), (5L, "b", 0.4), (6L, "b", 0.8)))
  }

  test("capPerGroup ≡ per-group rank window on random data; missing-cap " +
      "groups drop; partition-layout independent") {
    import graft.functions.TextAnalysis
    val rnd = new scala.util.Random(0xCAB)
    val rows = (1L to 300L).map(i =>
      (i, s"g${rnd.nextInt(7)}", rnd.nextDouble()))
    val d = rows.toDF("doc_id", "grp", "q")
    // g6 has NO cap row (drops); g4's 20 exceeds maxCap=8 and must
    // CLAMP — the per-partition pre-cap slices to maxCap, so an
    // unclamped larger cap would make the result depend on layout
    val caps = Seq(("g0", 1L), ("g1", 2L), ("g2", 3L), ("g3", 5L),
      ("g4", 20L), ("g5", 4L)).toDF("grp", "cap")
    val maxCap = 8
    def got(parts: Int): Set[Long] =
      TextAnalysis.capPerGroup(d.repartition(parts), caps, "cap", maxCap,
        "grp", col("q"), col("doc_id"))
        .select("doc_id").as[Long].collect().toSet
    // the naive reference: rank within group by (q, doc_id), keep ≤
    // min(cap, maxCap)
    val capMap = Seq("g0" -> 1, "g1" -> 2, "g2" -> 3, "g3" -> 5,
      "g4" -> 8, "g5" -> 4).toMap
    val exp = rows.groupBy(_._2).toSeq.flatMap { case (g, rs) =>
      capMap.get(g).toSeq.flatMap(c =>
        rs.sortBy(r => (r._3, r._1)).take(c).map(_._1))
    }.toSet
    val one = got(1)
    assert(one == exp)
    assert(got(13) == exp) // pre-cap merge is partition-layout independent
    assert(!one.exists(id => rows.exists(r => r._1 == id && r._2 == "g6")))
  }

  test("resampleToMix: over-share groups thin toward target, others pass whole") {
    import graft.functions.TextAnalysis
    val d = ((1L to 200L).map(i => (i, "en")) ++ (201L to 240L).map(i => (i, "zh")) ++
      (241L to 260L).map(i => (i, "de")))
      .toDF("doc_id", "lang").withColumn("text", lit("x"))
    // en: 200/260 ≈ 77% share, target 25% → rate = 0.25·260/200 = 0.325
    // zh: 40/260 ≈ 15%, target 50% → rate clamps to 1 (never upsample)
    // de: untargeted → keep all
    def kept() = TextAnalysis.resampleToMix(d, Map("en" -> 0.25, "zh" -> 0.5))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val k = kept()
    assert(k("zh") == 40L && k("de") == 20L)
    assert(k("en") < 200L && math.abs(k("en") - 65L) < 25L) // ≈ rate·count, md5 noise
    assert(kept() == k) // deterministic
    // kept rows are a SUBSET of the corpus (pure filter, no rewrite)
    val sub = TextAnalysis.resampleToMix(d, Map("en" -> 0.25))
    assert(sub.exceptAll(d.select(sub.columns.map(col): _*)).isEmpty)
  }

  test("temperatureResample: smallest group kept whole, larger groups thin by share^(α−1)") {
    import graft.functions.TextAnalysis
    val d = ((1L to 400L).map(i => (i, "en")) ++ (401L to 500L).map(i => (i, "zh")) ++
      (501L to 520L).map(i => (i, "de")))
      .toDF("doc_id", "lang").withColumn("text", lit("x"))
    // α = 0.5: rates = (cnt/20)^-0.5 → en (400/20)^-0.5 ≈ 0.2236,
    // zh (100/20)^-0.5 ≈ 0.4472, de = 1.0
    def kept() = TextAnalysis.temperatureResample(d, alpha = 0.5)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val k = kept()
    assert(k("de") == 20L)                                   // smallest: all kept
    assert(math.abs(k("en") - 89L) < 40L, s"en kept ${k("en")}, expect ≈ 89")
    assert(math.abs(k("zh") - 45L) < 25L, s"zh kept ${k("zh")}, expect ≈ 45")
    assert(kept() == k)                                      // deterministic
    // a kept set is a pure subset of the corpus
    val out = TextAnalysis.temperatureResample(d, alpha = 0.5)
    assert(out.exceptAll(d.select(out.columns.map(col): _*)).isEmpty)
    // α = 1 is the identity (rate = ratio^0 = 1 for every group)
    assert(TextAnalysis.temperatureResample(d, alpha = 1.0).count() == 520L)
  }

  test("lengthBuckets: exact power-of-two edges, totals reconcile, waste formula") {
    import graft.functions.Packing
    // 16 tokens must land in bucket 16, 17 in 32 (the FP-log2 trap),
    // and an over-max doc clamps to the top bucket with zero waste
    val d = Seq(
      (1L, Seq.fill(16)("t").mkString(" ")),
      (2L, Seq.fill(17)("t").mkString(" ")),
      (3L, Seq.fill(3)("t").mkString(" ")),
      (4L, Seq.fill(2000)("t").mkString(" "))).toDF("doc_id", "text")
    val got = Packing.lengthBuckets(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(16L) == (2L, 19L, 13L))   // docs 1+3: waste 0 + 13
    assert(got(32L) == (1L, 17L, 15L))   // doc 2: waste 32-17
    assert(got(1024L) == (1L, 2000L, 0L)) // clamped, no padding counted
    // fixture reconciliation: totals match the corpus
    val m = Packing.lengthBuckets(docs).collect()
    assert(m.map(_.getLong(1)).sum == docs.count())
    val tokTotal = docs.select(sum(size(split($"text", "\\s+")).cast("long")))
      .as[Long].head()
    assert(m.map(_.getLong(2)).sum == tokTotal)
    assert(m.forall(r => Set(16L, 32L, 64L, 128L, 256L, 512L, 1024L)(r.getLong(0))))
  }

  test("shardManifest: totals reconcile, shard ids bounded, checksum order-independent") {
    import graft.functions.Packing
    val man = Packing.shardManifest(docs, 32)
    val rows = man.collect()
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 32))
    assert(rows.map(_.getLong(1)).sum == docs.count())
    val tokTotal = docs.select(sum(size(split($"text", "\\s+")).cast("long")))
      .as[Long].head()
    assert(rows.map(_.getLong(2)).sum == tokTotal)
    // checksum and every count invariant under physical layout
    val re = Packing.shardManifest(docs.repartition(17), 32)
    assert(man.exceptAll(re).isEmpty && re.exceptAll(man).isEmpty)
  }

  test("decontaminateSemantic: flagged pairs = exact directed threshold join") {
    val evalSet = embs.filter($"vec_id" < 25)
    val corpus = embs.filter($"vec_id" >= 25)
    val flagged = Similarity.decontaminateSemantic(corpus, evalSet, 0.3)
    // mirror via the exact symmetric all-pairs baseline, directed
    val exact = Similarity.cosineNearDupPairsExact(embs, 0.3)
      .filter($"a_id" < 25 && $"b_id" >= 25)
      .select($"b_id".as("vec_id"), $"a_id".as("eval_id"), $"cos")
    assert(flagged.exceptAll(exact).isEmpty && exact.exceptAll(flagged).isEmpty)
    assert(flagged.filter($"cos" < 0.3).count() == 0)
    assert(flagged.count() > 0, "fixture should produce flagged pairs at 0.3")
  }

  test("randomProjection: exact ±1 integer sums, 16 components per vector") {
    val rp = Similarity.randomProjection(embs, 16)
    assert(rp.count() == embs.count() * 16)
    // driver-side recomputation for one vector from the same sign
    // matrix and the same quantized input
    val q0 = embs.filter($"vec_id" === 0L)
      .select(Similarity.quantized($"embedding")).as[Seq[Long]].head()
    val signs = Similarity.rpSigns(16, 64)
    val expected = (0 until 16).map(r =>
      (0 until 64).map(i => signs(r)(i) * q0(i)).sum)
    val got = rp.filter($"vec_id" === 0L).orderBy($"dim")
      .select("comp").as[Long].collect()
    assert(got.toSeq == expected)
    // the sign matrix is balanced enough to be a real projection
    // (degenerate all-+1 rows would make comps collinear with norms)
    assert(signs.forall(row => row.count(_ == 1L) > 16 && row.count(_ == -1L) > 16))
  }

  test("randomProjection: a dims-mismatched embedding fails loudly, not truncated") {
    val bad = Seq((0L, Array.fill(64)(0.5f)), (1L, Array.fill(32)(0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.randomProjection(bad, 4, inDims = 64).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("dims != 64")), s"got: $e")
  }

  test("lmCrossEntropy: typical text scores lower than out-of-distribution text") {
    import graft.functions.TextAnalysis
    // corpus dominated by one sentence pattern; doc 9 is garbled
    val common = "the farmer plants rice in the field every morning"
    val d = ((1L to 8L).map(i => (i, common + s" season $i")) :+
      (9L, "zxqv jkwp mbrt ylnd qofg hscx")).toDF("doc_id", "text")
    val scores = TextAnalysis.lmCrossEntropy(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(scores.size == 9)
    assert(scores(1L)._1 == 10L) // 11 tokens -> 10 bigrams
    val typical = (1L to 8L).map(scores(_)._2).max
    assert(scores(9L)._2 > typical,
      s"garbled doc should score higher: ${scores(9L)._2} vs $typical")
    // deterministic re-run
    val again = TextAnalysis.lmCrossEntropy(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert((1L to 9L).forall(i => again(i) == scores(i)._2))
  }

  test("mmrRerank: diversity beats marginally-better redundancy; λ=100 is pure relevance") {
    import graft.functions.Similarity
    // query 0 = (1, 0); candidate 1 is the top hit; candidate 2 is
    // nearly identical to 1 (rel 890k, sim-to-1 969k); candidate 3
    // has slightly lower relevance (880k) but points the other way
    // (sim-to-1 632k). Pure relevance ranks 1,2,3; MMR at λ=0.7
    // swaps in the diverse item: 1,3,2.
    val d = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.4f)),
      (2L, Array(0.89f, 0.42f)),
      (3L, Array(0.88f, -0.4f))).toDF("vec_id", "embedding")
    val mmr = Similarity.mmrRerank(d, queryId = 0L, k = 3, pool = 3,
      lambdaPct = 70).collect()
      .map(r => r.getInt(0) -> (r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4))).toMap
    assert(mmr(1)._1 == 1L && mmr(2)._1 == 3L && mmr(3)._1 == 2L)
    // hand-checked integers: rank1 mmr = 70·900000, null max_sim;
    // rank2 = 70·880000 − 30·632000
    assert(mmr(1) == ((1L, None, 70L * 900000L)))
    assert(mmr(2) == ((3L, Some(632000L), 70L * 880000L - 30L * 632000L)))
    val pure = Similarity.mmrRerank(d, queryId = 0L, k = 3, pool = 3,
      lambdaPct = 100).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(pure == Map(1 -> 1L, 2 -> 2L, 3 -> 3L))
    // pool truncation bounds the candidate set before the greedy
    val tight = Similarity.mmrRerank(d, queryId = 0L, k = 2, pool = 2,
      lambdaPct = 70).collect().map(_.getLong(1)).toSet
    assert(tight == Set(1L, 2L)) // 3 never entered the pool
  }

  test("zipfFit: recovers a known power-law slope; flat corpus fits slope 0") {
    import graft.functions.TextAnalysis
    // build a corpus whose token frequencies are EXACTLY freq(r) =
    // round(1000·r^(−0.8)): the log-log fit must recover ≈ −0.8
    val words = (1 to 50).map(r => f"w$r%03d")
    val text = words.zipWithIndex.flatMap { case (w, i) =>
      Seq.fill(math.round(1000.0 * math.pow(i + 1.0, -0.8)).toInt)(w)
    }.mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val fit = TextAnalysis.zipfFit(d, topN = 50).collect()(0)
    assert(fit.getLong(0) == 50L)
    assert(math.abs(fit.getDouble(1) - (-0.8)) < 0.02,
      s"slope ${fit.getDouble(1)}")
    assert(math.abs(fit.getDouble(2) - math.log(1000.0)) < 0.1)
    // uniform frequencies → slope exactly 0 (all y equal)
    val flat = Seq((1L, (1 to 20).flatMap(i =>
      Seq.fill(7)(s"t$i")).mkString(" "))).toDF("doc_id", "text")
    val f2 = TextAnalysis.zipfFit(flat, topN = 20).collect()(0)
    // slope ~0 up to the 9-decimal log quantization noise
    assert(math.abs(f2.getDouble(1)) < 1e-8)
  }

  test("knCrossEntropy: hand-computed interpolated KN probabilities; OOD ranks higher") {
    import graft.functions.TextAnalysis
    // corpus {"a b a b", "b a"}: c(ab)=2, c(ba)=2, B=2, ctx(a)=ctx(b)=2,
    // N1+fw = N1+bw = 1 everywhere, Pcont = 1/2 →
    // P = (2−.75)/2 + .75·(1/2)·(1/2) = 0.8125 for every position
    val d = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val got = TextAnalysis.knCrossEntropy(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exp = BigDecimal(-math.log(0.8125))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((3L, exp)) && got(2L) == ((1L, exp)))
    // "a a b": both bigrams hapax, P(a|a)=P(b|a)=0.5 — and the seen
    // mass plus discount mass exactly normalizes (KN's whole point)
    val d2 = Seq((1L, "a a b")).toDF("doc_id", "text")
    val g2 = TextAnalysis.knCrossEntropy(d2).collect()(0)
    val exp2 = BigDecimal(math.log(2.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(g2.getLong(1) == 2L && g2.getDouble(2) == exp2)
    // ranking sanity on the lmCrossEntropy fixture: garbled doc ranks
    // worst under KN as well
    val common = "the farmer plants rice in the field every morning"
    val mix = ((1L to 8L).map(i => (i, common + s" season $i")) :+
      (9L, "zxqv jkwp mbrt ylnd qofg hscx")).toDF("doc_id", "text")
    val s = TextAnalysis.knCrossEntropy(mix).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s(9L) > (1L to 8L).map(s(_)).max)
  }

  test("kn3CrossEntropy: hand-computed interpolated trigram KN; OOD ranks higher") {
    import graft.functions.TextAnalysis
    // "a b a b a": trigrams c(aba)=2, c(bab)=1; bigram types ab/ba, B=2.
    // P(a|ab) = (2−.75)/2 + (.75·1/2)·[(1−.75)/1 + (.75·1/1)·(1/2)]
    //         = 0.625 + 0.375·0.625 = 0.859375
    // P(b|ba) = (1−.75)/1 + (.75·1/1)·0.625 = 0.71875
    // — every term an exact double, so equality is exact after the
    // engine's 9-decimal lp quantization
    val sp = spark; import sp.implicits._
    val d = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val got = TextAnalysis.kn3CrossEntropy(d).collect()(0)
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lpAba = r9(-math.log(0.859375))
    val lpBab = r9(-math.log(0.71875))
    val exp = BigDecimal((lpAba + lpBab + lpAba) / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(1) == 3L)
    assert(got.getDouble(2) == exp, s"got ${got.getDouble(2)} expected $exp")
    // a 2-token doc has no trigram and emits nothing
    assert(TextAnalysis.kn3CrossEntropy(
      Seq((1L, "a b")).toDF("doc_id", "text")).count() == 0)
    // ranking sanity: the garbled doc ranks worst under order-3 too
    val common = "the farmer plants rice in the field every morning"
    val mix = ((1L to 8L).map(i => (i, common + s" season $i")) :+
      (9L, "zxqv jkwp mbrt ylnd qofg hscx")).toDF("doc_id", "text")
    val s3 = TextAnalysis.kn3CrossEntropy(mix).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s3(9L) > (1L to 8L).map(s3(_)).max)
  }

  test("knNCrossEntropy: order 3 ≡ kn3CrossEntropy bit-for-bit; order " +
      "ladder 5 ≤ 3 ≤ 2 on self-scored text; short docs emit nothing") {
    import graft.functions.TextAnalysis
    val sp = spark; import sp.implicits._
    val common = "the farmer plants rice in the field every morning and " +
      "the farmer waters rice in the field every evening"
    val mix = ((1L to 8L).map(i => (i, common + s" season $i")) :+
      (9L, "zxqv jkwp mbrt ylnd qofg hscx uvtw arge")).toDF("doc_id", "text")
    // the general recursion at order 3 must reproduce the hand-verified
    // kn3 implementation EXACTLY (identical statistics, identical FP
    // tree, identical 9-decimal quantization)
    val kn3 = TextAnalysis.kn3CrossEntropy(mix).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val knN3 = TextAnalysis.knNCrossEntropy(mix, order = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(knN3 == kn3)
    // self-scored cross-entropy falls as the order rises (higher-order
    // models fit their own training data better) — the ladder the
    // production 5-gram filter rests on, pinned corpus-wide
    def mean(m: Map[Long, Double]): Double = m.values.sum / m.size
    val x2 = mean(TextAnalysis.knCrossEntropy(mix).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap)
    val x3 = mean(kn3.map { case (k, v) => k -> v._2 })
    val x5 = mean(TextAnalysis.knNCrossEntropy(mix, order = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap)
    assert(x5 <= x3 + 1e-9 && x3 <= x2 + 1e-9, s"ladder violated: $x5 $x3 $x2")
    // OOD garbage still ranks worst at order 5
    val s5 = TextAnalysis.knNCrossEntropy(mix, order = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s5(9L) > (1L to 8L).map(s5(_)).max)
    // a 4-token doc has no 5-gram and emits nothing
    assert(TextAnalysis.knNCrossEntropy(
      Seq((1L, "a b c d")).toDF("doc_id", "text"), order = 5).count() == 0)
  }

  test("knN derived k-gram type tables ≡ corpus-pass sets, incl. " +
      "exactly-k-token docs (the round-14 derivation's short-doc arm)") {
    import graft.functions.TextAnalysis
    val sp = spark; import sp.implicits._
    // adversarial lengths: docs of EXACTLY 2, 3 and 4 tokens whose
    // grams appear NOWHERE else — the derivation t_k =
    // prefixes(t_{k+1}) ∪ suffixes(t_{k+1}) ∪ length-k docs must
    // pick each one up via its third arm or the oracle-mirrored
    // statistics drift
    val docs = Seq(
      (1L, "the farmer plants rice in the field every day"),
      (2L, "qq ww"),                 // exactly 2 tokens
      (3L, "ee rr tt"),              // exactly 3 tokens
      (4L, "yy uu ii oo"),           // exactly 4 tokens
      (5L, "the farmer plants corn in the field every day")
    ).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
      split(lower(col("text")), "\\s+").as("toks"))
    def corpusTypes(k: Int) = toks.filter(size(col("toks")) >= k)
      .select(explode(expr(
        s"transform(sequence(0, size(toks) - $k), i -> struct(" +
          (0 until k).map(j => s"toks[i+$j] AS v${j + 1}").mkString(", ") +
          "))")).as("g"))
      .select((1 to k).map(j => col(s"g.v$j").as(s"v$j")): _*)
      .distinct()
    // order-5 run must SCORE identically to a reference built the
    // corpus-pass way — cheapest complete check: the level statistics
    // are pure functions of the type SETS, so set equality at every
    // k implies bit-identical output. Assert the sets directly by
    // re-deriving them the way knNCrossEntropy does.
    val t5 = corpusTypes(5)
    var hi = t5
    for (k <- 4 to 2 by -1) {
      val pref = hi.select((1 to k).map(j => col(s"v$j")): _*)
      val suf = hi.select((2 to k + 1).map(j => col(s"v$j").as(s"v${j - 1}")): _*)
      val short = toks.filter(size(col("toks")) === k)
        .select((0 until k).map(j => expr(s"toks[$j]").as(s"v${j + 1}")): _*)
      val derived = pref.unionByName(suf).unionByName(short).distinct()
      val corpus = corpusTypes(k)
      assert(derived.exceptAll(corpus).isEmpty && corpus.exceptAll(derived).isEmpty,
        s"k=$k derived type set ≠ corpus-pass type set")
      hi = derived
    }
    // and the two KN faces still agree on this fixture (kn3's bigram
    // set derives from its trigram table the same way)
    val kn3 = TextAnalysis.kn3CrossEntropy(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val knN3 = TextAnalysis.knNCrossEntropy(docs, order = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(knN3 == kn3)
  }

  test("shingle verify-order crossover: both arms produce identical " +
      "pairs on a degenerate-alphabet corpus (dup-factor guard arm)") {
    val sp = spark; import sp.implicits._
    // 40 docs over a 4-symbol alphabet: every trigram shingle is
    // shared by most docs, so the prefix join's duplicate-match
    // factor blows past the 8× guard and the operator must take the
    // dedup-first arm — whose output must equal the naive all-pairs
    // reference regardless
    val syms = Array("aa", "bb", "cc", "dd")
    val docs = (1L to 40L).map { i =>
      val txt = (0 until 30)
        .map(p => syms(((i + p) % 4).toInt)).mkString(" ")
      (i, txt)
    }.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, w = 3, threshold = 0.5)
      .select("a_id", "b_id", "inter", "jaccard")
    // naive all-pairs reference on the same shingle kernel
    val arrs = docs.select(col("doc_id"),
      Dedup.nativeShingles(col("text"), 3).as("sh"))
    val want = arrs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
      .crossJoin(arrs.select(col("doc_id").as("b_id"), col("sh").as("b_sh")))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("long").as("inter"),
        size(col("a_sh")).cast("long").as("a_n"),
        size(col("b_sh")).cast("long").as("b_n"))
      .withColumn("__j", col("inter").cast("double")
        / (col("a_n") + col("b_n") - col("inter")).cast("double"))
      .filter(col("__j") >= 0.5)
      .select(col("a_id"), col("b_id"), col("inter"),
        round(col("__j"), 4).as("jaccard"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "degenerate-alphabet pairs diverged from the all-pairs reference")
  }

  test("qualityBands: fixed cutoffs band correctly; rates apply per band") {
    import graft.functions.TextAnalysis
    val scored = spark.range(0, 3000).toDF("doc_id")
      .withColumn("xent",
        when(col("doc_id") < 1000, 3.0)        // head
          .when(col("doc_id") < 2000, 3.4)     // middle
          .otherwise(5.0))                     // tail
    val out = TextAnalysis.qualityBands(scored, headMax = 3.39, middleMax = 3.42)
    val perBand = out.groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("kept").cast("long")).as("k"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(perBand.keySet == Set("head", "middle", "tail"))
    assert(perBand("head") == (1000L, 1000L))            // rate 1.0: all kept
    assert(math.abs(perBand("middle")._2 - 500L) < 100)  // rate 0.5
    assert(math.abs(perBand("tail")._2 - 100L) < 60)     // rate 0.1
    // decisions are independent of the un-salted split/reweight rule
    val plain = scored.filter(TextAnalysis.rateSampleKeep(col("doc_id"), 0.5))
      .select("doc_id").as[Long].collect().toSet
    val mid = out.filter(col("bucket") === "middle" && col("kept"))
      .select("doc_id").as[Long].collect().toSet
    assert(mid != plain.filter(id => id >= 1000 && id < 2000))
  }

  test("kmeans assignment matches driver-side argmin over the seed centroids") {
    val seed = Similarity.seedCentroids(embs, 8)
    val q = embs.select($"vec_id", Similarity.quantized($"embedding").as("q"))
      .as[(Long, Seq[Long])].collect()
    val assign = Similarity.kmeansAssign(embs, seed)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    for ((id, v) <- q) {
      val best = seed.zipWithIndex.map { case (c, i) =>
        (c.zip(v).map { case (ci, vi) =>
          val diff = vi - ci; diff * diff
        }.sum, i.toLong)
      }.min
      assert(assign(id) == (best._2, best._1), s"vec $id")
    }
  }

  test("semantic dedup members are a subset of the global exact components") {
    val seed = Similarity.seedCentroids(embs, 8)
    val sem = Similarity.semanticDedup(embs, 0.4, seed)
    val semIds = sem.select("vec_id").as[Long].collect().toSet
    val globalIds = Dedup.connectedComponents(
      Similarity.cosineNearDupPairsExact(embs, 0.4).select("a_id", "b_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(semIds.nonEmpty, "fixture should contain within-cluster near-dups")
    assert(semIds.subsetOf(globalIds),
      "cluster blocking must not invent pairs the exact baseline lacks")
  }

  test("semantic dedup with trained centroids: groups are multi-member and cell-local") {
    val trained = Similarity.trainedCentroids(embs, nlist = 8, iters = 2)
    val sem = Similarity.semanticDedup(embs, 0.4, trained)
    val sizes = sem.groupBy("component").count().as[(Long, Long)].collect()
    assert(sizes.nonEmpty && sizes.forall(_._2 >= 2),
      "every emitted component has at least two members")
    val cells = sem.groupBy("component")
      .agg(countDistinct($"cell").as("nc")).as[(Long, Long)].collect()
    assert(cells.forall(_._2 == 1),
      "components never span clusters (edges are cell-local)")
  }

  test("knn graph: dense ranks, no self edges, descending cosines per vector") {
    val g = Similarity.knnGraph(embs, k = 3)
      .as[(Long, Int, Long, Double)].collect()
    assert(g.nonEmpty)
    assert(g.forall { case (q, _, n, _) => q != n })
    val byQ = g.groupBy(_._1)
    for ((_, rows) <- byQ) {
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length),
        "ranks are dense from 1")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-_).toSeq,
        "cosine non-increasing with rank")
    }
  }

  test("knn graph cosines agree with the exact brute-force score") {
    val g = Similarity.knnGraph(embs, k = 3)
      .as[(Long, Int, Long, Double)].collect()
    val brute = Similarity.cosineNearDupPairsExact(embs, -1.0)
      .as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, c) => Seq((a, b) -> c, (b, a) -> c) }.toMap
    assert(g.forall { case (q, _, n, c) => brute((q, n)) == c },
      "every emitted edge carries the exact pairwise cosine")
  }

  test("token-budget sample: realized size is exact and weight-proportional") {
    val step = 100L
    val sel = TextAnalysis.sampleTokenBudget(docs, step)
      .as[(Long, Long, Long)].collect()
    val total = docs.select(TextAnalysis.tokenCount($"text").cast("long"))
      .as[Long].collect().sum
    assert(sel.map(_._3).sum == total / step,
      "sum of multiplicities must equal the exact budget count")
    // a document spanning >= step tokens can never be skipped, and a
    // doc's multiplicity is bounded by its token span
    assert(sel.forall { case (_, n, h) => h >= 1 && h <= n / step + 1 })
    val ids = docs.filter(TextAnalysis.tokenCount($"text") >= step)
      .select("doc_id").as[Long].collect().toSet
    assert(ids.subsetOf(sel.map(_._1).toSet))
  }

  test("token-budget sample: bucketed two-phase prefix sum equals one bucket") {
    val a = TextAnalysis.sampleTokenBudget(docs, 250, buckets = 1)
      .as[(Long, Long, Long)].collect().toSet
    val b = TextAnalysis.sampleTokenBudget(docs, 250, buckets = 7)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("rolling fingerprint is deterministic and order-sensitive") {
    val d = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val fp = d.select($"doc_id",
      TextAnalysis.fingerprintRolling($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(3L))
    assert(fp(1L) != fp(2L))
  }

  // ------------------------------------------ content-defined chunking

  /** Deterministic prose-like filler: long enough that the 1-in-64 cut
    * rule fires many times, varied enough that chunks differ.
    */
  private def cdcText(seed: Int, words: Int): String =
    (0 until words).map(i => f"w${(i * 31 + seed * 17) % 97}%02d").mkString(" ")

  test("cdc chunks tile each document exactly (contiguous, full cover)") {
    val d = Seq((1L, cdcText(1, 200)), (2L, cdcText(2, 150)), (3L, "tiny"))
      .toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(d).as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val lens = d.select($"doc_id", length($"text").cast("long"))
      .as[(Long, Long)].collect().toMap
    for ((id, chunks) <- ch) {
      assert(chunks.head._2 == 0L, s"doc $id: first chunk must start at 0")
      for (Array(a, b) <- chunks.sliding(2).map(_.toArray))
        assert(a._2 + a._3 == b._2, s"doc $id: gap/overlap at ${b._2}")
      assert(chunks.map(_._3).sum == lens(id), s"doc $id: must cover all chars")
      assert(chunks.forall(_._3 > 0), s"doc $id: empty chunk")
    }
    // the multi-hundred-char docs must actually have been cut
    assert(ch(1L).size > 1 && ch(2L).size > 1, "cut rule never fired")
  }

  test("cdc boundaries resist shifts: a prefix insertion preserves tail chunks") {
    val shared = cdcText(7, 250)
    val d = Seq((1L, shared), (2L, "an unrelated preamble paragraph " + shared))
      .toDF("doc_id", "text")
    val byDoc = Dedup.cdcChunks(d).as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._4).toSet).toMap
    val common = byDoc(1L) intersect byDoc(2L)
    assert(common.nonEmpty,
      "shifted copy shares no chunk — content-defined cuts must realign")
    // the duplicate-chunk face reports exactly those as 2-doc chunks
    val dup = Dedup.cdcDuplicateChunks(d)
      .filter($"n_docs" === 2).select("chunk_hash").as[String].collect().toSet
    assert(dup == common)
    // and fixed-offset chunking could not share ANY chunk here: the
    // insertion length is not a multiple of any fixed chunk size > 1
    val ratio = Dedup.cdcDedupRatio(d)
      .select("dedup_ratio").as[Double].head()
    assert(ratio > 0.0, "shared tail must yield store-once savings")
  }

  test("cdc ratio fields are mutually consistent and bounded") {
    val d = Seq((1L, cdcText(3, 120)), (2L, cdcText(3, 120)), (3L, cdcText(4, 80)))
      .toDF("doc_id", "text")
    val r = Dedup.cdcDedupRatio(d)
      .as[(Long, Long, Long, Long, Double)].head()
    val (nChunks, nUnique, charsTotal, charsUnique, ratio) = r
    assert(nUnique <= nChunks && charsUnique <= charsTotal)
    assert(math.abs(ratio - (1.0 - charsUnique.toDouble / charsTotal)) < 1e-6)
    // doc 1 and 2 are identical -> at least half the chunk mass dedups
    assert(ratio > 0.0)
  }

  // ------------------------------------------ semi-hard negative mining

  test("semi-hard negatives: other-label, strictly outside the positive radius, closest-first") {
    val mined = Similarity.semiHardNegatives(embs, Seq(0L, 1L, 2L, 3L, 4L), 10)
      .as[(Long, Int, Long, Double, Double)].collect()
    assert(mined.nonEmpty)
    val labels = embs.select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    // recompute the exact scored pairs via the audited brute machinery
    val cosOf = Similarity.bruteForceTopK(embs, Seq(0L, 1L, 2L, 3L, 4L),
        k = Int.MaxValue)
      .as[(Long, Int, Long, Double)].collect()
      .map { case (q, _, n, c) => (q, n) -> c }.toMap
    val posRadius = cosOf.toSeq
      .filter { case ((q, n), _) => labels(n) == labels(q) }
      .groupBy(_._1._1).view.mapValues(_.map(_._2).min).toMap
    for ((q, rank, n, c, pc) <- mined) {
      assert(labels(n) != labels(q), s"anchor $q mined a same-label $n")
      assert(math.abs(pc - posRadius(q)) < 1e-6, s"anchor $q radius drift")
      assert(c < pc, s"anchor $q: negative $n inside the positive radius")
      assert(rank >= 1 && rank <= 10)
    }
    // ranks are contiguous and ordered by descending cosine per anchor
    for ((_, rows) <- mined.groupBy(_._1)) {
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rows.length).toSeq)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-(_: Double)).toSeq)
    }
  }

  test("k-center coreset: exact greedy farthest-point trajectory and monotone radius") {
    val got = Similarity.kCenterCoreset(embs, k = 8)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(got.length == 8 && got.head == ((1, got.head._2, 0L)))
    // independent in-memory greedy reference over the same quantization
    val vecs = embs.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect()
      .map { case (id, v) =>
        id -> v.map(x => math.round(x.toDouble * 1000)).toArray }
      .toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var chosen = List(vecs.keys.min)
    var want = List((1, vecs.keys.min, 0L))
    for (r <- 2 to 8) {
      val (far, dist) = (vecs.keySet -- chosen).toSeq
        .map(id => id -> chosen.map(c => d2(vecs(id), vecs(c))).min)
        .minBy { case (id, d) => (-d, id) }
      want ::= ((r, far, dist))
      chosen ::= far
    }
    assert(got.toSeq == want.reverse, s"trajectory drift:\n got  ${got.toSeq}\n want ${want.reverse}")
    // cover radius is non-increasing after round 2 (greedy k-center law)
    val radii = got.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b }, radii.toSeq)
  }

  test("contrastive set: anchors are exactly the k-center picks; per-anchor rows equal standalone mining") {
    val set = Queries.simContrastiveSet(spark, sfDir)
      .as[(Int, Long, Int, Long, Double, Double)].collect()
    val centers = Similarity.kCenterCoreset(embs, k = 8)
      .as[(Int, Long, Long)].collect().map(r => r._2 -> r._1).toMap
    assert(set.map(_._2).toSet.subsetOf(centers.keySet))
    assert(set.forall { case (ar, qid, _, _, _, _) => centers(qid) == ar })
    val standalone = Similarity
      .semiHardNegatives(embs, centers.keys.toSeq, k = 5)
      .as[(Long, Int, Long, Double, Double)].collect().toSet
    assert(set.map { case (_, q, r, n, c, p) => (q, r, n, c, p) }.toSet
      == standalone, "composition must equal standalone mining over the same anchors")
  }

  test("semi-hard negatives: an anchor with no same-label positive emits nothing") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 9),  // anchor: label 9 appears once
      (1L, Array(0.9f, 0.1f), 1),
      (2L, Array(0.0f, 1.0f), 2),
      (3L, Array(0.5f, 0.5f), 1),
    ).toDF("vec_id", "embedding", "label")
    assert(Similarity.semiHardNegatives(vecs, Seq(0L), 5).isEmpty,
      "no positive -> no radius -> no mined rows")
    // with a positive present, only strictly-farther negatives emerge
    val vecs2 = vecs.union(Seq((4L, Array(0.8f, 0.2f), 9))
      .toDF("vec_id", "embedding", "label"))
    val got = Similarity.semiHardNegatives(vecs2, Seq(0L), 5)
      .as[(Long, Int, Long, Double, Double)].collect()
    assert(got.nonEmpty && got.forall(r => r._4 < r._5))
  }
}

/** What the concurrent-checkpoint spec's UDF shares with the test body:
  * tasks run in the test JVM (local mode), so both see this object.
  */
object SideCheckpoint {
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var frame: org.apache.spark.sql.DataFrame = _
}
