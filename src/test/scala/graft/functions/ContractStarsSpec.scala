package graft.functions

import graft.{Baselines, SparkSpec}

/** `Dedup.contractStars`, the per-partition union-find that
  * `connectedComponents` runs before its star rounds.
  */
class ContractStarsSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(11)
  private val graph = Seq.fill(120)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
    .filter { case (a, b) => a != b } ++ (200L until 230L).map(i => (i + 1, i))

  test("below the cap: one star per non-minimum node, whatever the pair order") {
    val stars = Dedup.contractStars(graph.iterator, Dedup.ContractCap).toSeq
    val want = Baselines.componentLabels(graph).collect { case (x, r) if x != r => (x, r) }
    assert(stars.toMap == want && stars.length == want.size)
    val shuffled = Dedup.contractStars(rnd.shuffle(graph).iterator, Dedup.ContractCap)
    assert(shuffled.toSet == stars.toSet)
    assert(Dedup.contractStars(Iterator.empty, Dedup.ContractCap).isEmpty)
  }

  test("at a cap of 2 and 3 the flushed stars still give the exact labels") {
    val want = Baselines.componentLabels(graph)
    for (cap <- Seq(2, 3)) {
      val stars = Dedup.contractStars(graph.iterator, cap).toSeq
      assert(stars.forall { case (u, v) => u > v }, s"cap $cap: an edge points up")
      assert(stars.length > want.count { case (x, r) => x != r },
        s"cap $cap: nothing was flushed early")
      // every node of a pair shows up in a star, and the stars connect
      // exactly what the pairs connect
      assert(Baselines.componentLabels(stars) == want, s"cap $cap")
      assert(Dedup.connectedComponents(stars.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap == want, s"cap $cap")
    }
  }
}
