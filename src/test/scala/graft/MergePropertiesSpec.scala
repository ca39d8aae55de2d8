package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Merge
import graft.functions.Normalize

/** Property-based invariants (SURVEY.md §5-3): ∀ random change-logs +
  * source states — replay idempotent, one-to-one ≤1 row/key,
  * one-to-many mirrors source for touched keys, untouched keys
  * unmodified, normalization idempotent + null-preserving.
  *
  * ScalaCheck generators sampled with fixed seeds (no
  * scalatestplus bridge in the offline dependency set).
  */
class MergePropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val keyGen = Gen.oneOf((1 to 8).map(i => s"R$i"))
  private val rowsGen = Gen.listOfN(12,
    Gen.zip(keyGen, Gen.alphaLowerStr.map(_.take(6)), Gen.choose(0, 99)))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("∀ batch splits: incremental state fold == one-shot aggregate") {
    import graft.operators.Incremental
    val valGen = Gen.zip(keyGen, Gen.choose(-9999, 9999).map(_ / 100.0),
      Gen.choose(0, 3)) // (key, 2-decimal value, batch id)
    for (rows <- samples(Gen.listOfN(60, valGen), 5)) {
      val df = rows.toDF("k", "v", "b")
      val oneShot = Incremental.finalize(
        Incremental.aggState(df, $"k", $"v"), "k")
      val batches = (0 to 3).map(i =>
        Incremental.aggState(df.filter($"b" === i), $"k", $"v"))
      // fold in a scrambled order — merge must be order-independent
      val folded = Incremental.finalize(
        Incremental.mergeStates(Seq(batches(2), batches(0), batches(3),
          batches(1))), "k")
      assert(folded.exceptAll(oneShot).isEmpty &&
        oneShot.exceptAll(folded).isEmpty)
    }
  }

  test("∀ states: upsert keeps ≤1 row per key when incoming is deduped") {
    for ((t, inc) <- samples(Gen.zip(rowsGen, rowsGen), 6)) {
      val target = t.toDF("rsbsa_no", "name", "v").dropDuplicates("rsbsa_no")
      val incoming = inc.zipWithIndex
        .map { case ((k, n, v), i) => (k, n, v, i.toLong) }
        .toDF("rsbsa_no", "name", "v", "log_id")
      val latest = Merge.latestPerKey(incoming, "rsbsa_no", "log_id")
        .drop("log_id")
      val out = Merge.replaceByKey(target, latest, "rsbsa_no")
      assert(out.groupBy("rsbsa_no").count()
        .filter($"count" > 1).count() == 0)
    }
  }

  test("∀ states: refresh makes touched keys mirror incoming exactly; untouched unchanged") {
    for ((t, inc) <- samples(Gen.zip(rowsGen, rowsGen), 6)) {
      val target = t.toDF("rsbsa_no", "name", "v")
      val incoming = inc.toDF("rsbsa_no", "name", "v")
      val out = Merge.replaceByKey(target, incoming, "rsbsa_no")
      val touched = incoming.select("rsbsa_no").distinct()
      val touchedOut = out.join(touched, Seq("rsbsa_no"), "left_semi")
      assert(touchedOut.exceptAll(incoming).isEmpty
        && incoming.exceptAll(touchedOut).isEmpty)
      val untouchedOut = out.join(touched, Seq("rsbsa_no"), "left_anti")
      val untouchedIn = target.join(touched, Seq("rsbsa_no"), "left_anti")
      assert(untouchedOut.exceptAll(untouchedIn).isEmpty
        && untouchedIn.exceptAll(untouchedOut).isEmpty)
    }
  }

  test("∀ states: replay is idempotent for both strategies") {
    for ((t, inc) <- samples(Gen.zip(rowsGen, rowsGen), 6)) {
      // dedupe deterministically in Scala: lazy dropDuplicates picks a
      // nondeterministic winner per re-execution and would make the
      // comparison itself flaky
      val target = t.groupBy(_._1).map(_._2.head).toSeq
        .toDF("rsbsa_no", "name", "v")
      val incoming = inc.groupBy(_._1).map(_._2.head).toSeq
        .toDF("rsbsa_no", "name", "v")
      // one plan serves both strategies (Merge.replaceByKey)
      val u1 = Merge.replaceByKey(target, incoming, "rsbsa_no")
      val u2 = Merge.replaceByKey(u1, incoming, "rsbsa_no")
      assert(u1.exceptAll(u2).isEmpty && u2.exceptAll(u1).isEmpty)
    }
  }

  test("∀ (keys × times × tolerance): as-of union-window ≡ range-join baseline incl. nulls") {
    import org.apache.spark.sql.functions.{col, lit}
    // nullable keys and colliding nullable times — the edges the
    // union-window rewrite has to get right: null-time left rows match
    // nothing, null-key rows never join, equal-time ties break by max
    // tieBreaker, tolerance invalidates stale matches
    val nkey = Gen.frequency(9 -> Gen.oneOf((1 to 4).map(i => s"K$i")).map(Option(_)),
      1 -> Gen.const(Option.empty[String]))
    val ntime = Gen.frequency(9 -> Gen.choose(0L, 20L).map(Option(_)),
      1 -> Gen.const(Option.empty[Long]))
    val leftGen = Gen.listOfN(15, Gen.zip(nkey, ntime))
    val rightGen = Gen.listOfN(15, Gen.zip(nkey, ntime, Gen.choose(0, 999)))
    val tolGen = Gen.oneOf(None, Some(0L), Some(2L), Some(50L))
    for (((lRows, rRows), tol) <-
        samples(Gen.zip(Gen.zip(leftGen, rightGen), tolGen), 8)) {
      val left = lRows.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k.orNull, t.map(Long.box).orNull) }
        .toDF("lid", "lk", "lt")
      val right = rRows.zipWithIndex
        .map { case ((k, t, v), i) =>
          (k.orNull, t.map(Long.box).orNull, i.toLong, v) }
        .toDF("rk", "rt", "tb", "rv")
      val tolCol = tol.map(lit(_).cast("long"))
      val fast = graft.operators.AsOfJoin.asOf(
        left, right, "lid", "lk", "rk", "lt", "rt", "tb", tolCol)
      val base = graft.operators.AsOfJoin.asOfViaRangeJoin(
        left, right, "lid", "lk", "rk", "lt", "rt", "tb", tolCol)
      assert(fast.exceptAll(base).isEmpty && base.exceptAll(fast).isEmpty,
        s"as-of property mismatch (tolerance=$tol)")
    }
  }

  test("∀ strings: uppercase normalization is idempotent and null-preserving") {
    val strGen = Gen.listOfN(10,
      Gen.option(Gen.asciiPrintableStr.map(_.take(12))))
    for (vals <- samples(strGen, 6)) {
      val df = vals.zipWithIndex.map { case (s, i) => (i, s.orNull) }
        .toDF("id", "name")
      val once = Normalize.uppercase(df, Seq("name"))
      val twice = Normalize.uppercase(once, Seq("name"))
      assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
      assert(once.filter($"name".isNull).count()
        == df.filter($"name".isNull).count())
    }
  }
}
