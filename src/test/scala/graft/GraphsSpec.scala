package graft

import graft.operators.Graphs
import graft.plans.Materialize
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** Integer PageRank: exact hand-computed fixtures (the whole point of
  * integer arithmetic is that these are bit-exact, not approximate).
  */
class GraphsSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graphs.pageRank(edges.toDF("src", "dst"), iters)
      .as[(Long, Long)].collect().toMap

  test("2-cycle is a fixpoint: ranks stay exactly r0") {
    // contribution r0/1 each way: 0.15·r0 + 0.85·r0 = r0 exactly
    val r = ranks(Seq((1L, 2L), (2L, 1L)), iters = 3)
    assert(r == Map(1L -> 1000000000L, 2L -> 1000000000L))
  }

  test("undirected path 1-2-3: exact ranks after 3 iterations") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    // hand-unrolled: i1 = (575e6, 1.85e9, 575e6),
    // i2 = (936.25e6, 1.1275e9, 936.25e6), i3 below
    val r = ranks(edges, iters = 3)
    assert(r(2L) == 1741625000L)
    assert(r(1L) == 629187500L && r(3L) == 629187500L)
    // the middle node outranks the endpoints at every depth
    assert(r(2L) > r(1L))
  }

  test("kHopDistances: exact hops on a path, cutoff honored, islands absent") {
    // path 1-2-3-4-5 (undirected), island 9-10
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 10L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val src = Seq(1L).toDF("node")
    val got = Graphs.kHopDistances(edges, src, maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L)) // 4,5 beyond cutoff
    // BFS keeps the MIN distance when paths of different length exist
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val g2 = Graphs.kHopDistances(tri, src, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(g2 == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCount: K4 has 4 triangles; a star has none") {
    val k4 = (1L to 4L).combinations(2).map(p => (p(0), p(1))).toSeq
    val got = Graphs.triangleCount(k4.toDF("u", "v"))
      .as[(Long, Long, Long)].head()
    assert(got == ((4L, 6L, 4L)))
    val star = (2L to 6L).map(l => (1L, l))
    assert(Graphs.triangleCount(star.toDF("u", "v"))
      .as[(Long, Long, Long)].head() == ((6L, 5L, 0L)))
  }

  test("triangleCount: normalization — reversed/duplicate/self edges don't double-count") {
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L),
      (2L, 2L), (1L, 2L))
    val got = Graphs.triangleCount(messy.toDF("u", "v"))
      .as[(Long, Long, Long)].head()
    assert(got == ((3L, 3L, 1L)))
  }

  test("triangleCount matches brute-force enumeration on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(40)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter { case (a, b) => a != b }
    val adj = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val nodes = adj.map(_._1).toSeq.sorted
    val brute = nodes.combinations(3).count { t =>
      adj((t(0), t(1))) && adj((t(1), t(2))) && adj((t(0), t(2)))
    }
    val got = Graphs.triangleCount(edges.toDF("u", "v"))
      .as[(Long, Long, Long)].head()
    assert(got._3 == brute.toLong, s"expected $brute triangles, got $got")
  }

  test("rank order reflects in-degree on a star") {
    // hub 1 ↔ leaves 2..5 (both directions)
    val edges = (2L to 5L).flatMap(l => Seq((1L, l), (l, 1L)))
    val r = ranks(edges, iters = 3)
    assert((2L to 5L).forall(l => r(1L) > r(l)))
    assert((2L to 5L).map(r).distinct.size == 1) // leaves are symmetric
  }

  private def lp(edges: Seq[(Long, Long)], seeds: Seq[(Long, String)],
      rounds: Int): Map[Long, (String, Boolean)] = {
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    Graphs.labelPropagation(sym.toDF("src", "dst"),
        seeds.toDF("node", "label"), rounds)
      .as[(Long, String, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("labelPropagation: synchronous spread along a path, deterministic tie-break") {
    // path 1-2-3-4-5, seeds 1→a and 5→b. Round 1 labels 2 and 4;
    // node 3 stays unlabeled (its neighbors were unlabeled at round
    // 0 — synchronous semantics). Round 2: 3 sees {a from 2, b from
    // 4}, a 1-1 tie → lowest label wins.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val seeds = Seq(1L -> "a", 5L -> "b")
    val r1 = lp(edges, seeds, rounds = 1)
    assert(r1(2L) == (("a", false)) && r1(4L) == (("b", false)))
    assert(!r1.contains(3L))
    val r2 = lp(edges, seeds, rounds = 2)
    assert(r2(3L) == (("a", false))) // tie → lexicographically lowest
    // seeds are clamped and flagged
    assert(r2(1L) == (("a", true)) && r2(5L) == (("b", true)))
  }

  test("modularity: hand-computed two-triangle graph; degenerate partitions") {
    // triangles {1,2,3} and {4,5,6} bridged by 3-4: m = 7,
    // d_A = d_B = 7 → Q = 2·(3/7 − (7/14)²) = 6/7 − 1/2
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("u", "v")
    val labels = Seq(1L -> "a", 2L -> "a", 3L -> "a",
      4L -> "b", 5L -> "b", 6L -> "b").toDF("node", "label")
    val r = Graphs.modularity(edges, labels).collect()(0)
    assert(r.getLong(0) == 7L && r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - (6.0 / 7.0 - 0.5)) < 1e-12)
    // one community holding everything scores exactly 0
    val one = Seq(1L, 2L, 3L, 4L, 5L, 6L).map(_ -> "x").toDF("node", "label")
    assert(Graphs.modularity(edges, one).collect()(0).getDouble(2) == 0.0)
    // no labels → every node a singleton: all degree penalty, Q < 0
    val none = Seq.empty[(Long, String)].toDF("node", "label")
    val rn = Graphs.modularity(edges, none).collect()(0)
    assert(rn.getLong(1) == 6L && rn.getDouble(2) < 0.0)
  }

  test("labelPropagation: majority beats tie-break; seeds never flip") {
    // node 10 has two a-neighbors and one b-neighbor → majority a,
    // even though b < a lexicographically is false here; use labels
    // where the tie-break would pick the OTHER way: two "z" vs one
    // "a" → count wins, z.
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L))
    val r = lp(edges, Seq(1L -> "z", 2L -> "z", 3L -> "a"), rounds = 1)
    assert(r(10L) == (("z", false)))
    // a seed surrounded by the other label keeps its own
    val r2 = lp(Seq((1L, 2L), (3L, 2L)),
      Seq(1L -> "b", 3L -> "b", 2L -> "a"), rounds = 3)
    assert(r2(2L) == (("a", true)))
  }

  test("kCore: pendant pruning, cascade peeling, and over-approximation at low rounds") {
    def sym(und: Seq[(Long, Long)]) =
      (und ++ und.map(_.swap)).toDF("src", "dst")
    def run(und: Seq[(Long, Long)], k: Int, rounds: Int) =
      Graphs.kCore(sym(und), k, rounds)
        .as[(Long, Long)].collect().toMap
    // 4-clique + pendant hanging off node 1: 3-core = the clique,
    // with the pendant's contribution to node 1's degree gone
    val clique = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val g1 = run(clique :+ (1L, 5L), k = 3, rounds = 2)
    assert(g1 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // chain 1-2-3-4-5 under k=2 peels from both ends, one layer per
    // round: after 3 rounds nothing is left
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(run(chain, k = 2, rounds = 3).isEmpty)
    // bounded rounds OVER-approximate: after only 1 round the chain
    // interior (2,3,4) still stands — a superset of the true (empty)
    // 2-core, never a subset
    val r1 = run(chain, k = 2, rounds = 1)
    assert(r1.keySet == Set(2L, 3L, 4L))
    // triangle is its own 2-core: stable under any round count
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(run(tri, k = 2, rounds = 4) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("convergence certificates: tight budgets flagged un-converged, ample budgets certified") {
    import spark.implicits._
    def report(df: org.apache.spark.sql.DataFrame): (Long, Long, Boolean) = {
      val r = df.as[(String, Long, Long, Boolean)].collect().head
      (r._2, r._3, r._4)
    }
    // symmetric path 1—2—3—4—5—6: 2-core peeling eats 2 endpoints per
    // round, needs 3 rounds to empty — rounds=1 must NOT be certified
    val path = (1L to 5L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst")
    val (_, kc1, kconv1) = report(Graphs.kCoreReport(path, k = 2, rounds = 1))
    assert(kc1 > 0 && !kconv1, s"rounds=1 must be un-converged ($kc1)")
    val (_, kc5, kconv5) = report(Graphs.kCoreReport(path, k = 2, rounds = 5))
    assert(kc5 == 0 && kconv5)
    // LPA from a single seed at one end: labels move one hop per
    // round — round 2 still labels a new node, round 6 is a no-op
    val seeds = Seq((1L, "A")).toDF("node", "label")
    val (_, lp2, lconv2) =
      report(Graphs.labelPropagationReport(path, seeds, rounds = 2))
    assert(lp2 > 0 && !lconv2, s"rounds=2 must be un-converged ($lp2)")
    val (_, lp6, lconv6) =
      report(Graphs.labelPropagationReport(path, seeds, rounds = 6))
    assert(lp6 == 0 && lconv6)
    // BFS from node 1: diameter 5 — a horizon AT or below the
    // diameter still has a live frontier (nodes at the horizon may
    // have unvisited neighbors); one hop beyond it is certified
    val src = Seq(Tuple1(1L)).toDF("node")
    val (_, bf5, bconv5) = report(Graphs.kHopReport(path, src, maxHops = 5))
    assert(bf5 > 0 && !bconv5, s"maxHops=5 must be un-converged ($bf5)")
    val (_, bf6, bconv6) = report(Graphs.kHopReport(path, src, maxHops = 6))
    assert(bf6 == 0 && bconv6)
  }

  test("fixpoint-delta certificates: exact fixpoints certified, moving states flagged") {
    import spark.implicits._
    def report(df: org.apache.spark.sql.DataFrame): (Long, Boolean) = {
      val r = df.as[(String, Long, Long, Boolean)].collect().head
      (r._3, r._4)
    }
    // a symmetric 2-cycle is an EXACT pagerank fixpoint from round 1
    // (0.15·r0 + 0.85·r0 = r0) and an exact HITS fixpoint (both
    // scores pin at r0 every half-step) — zero delta, certified
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val (pd0, pc0) = report(Graphs.pageRankReport(cyc, iters = 3))
    assert(pd0 == 0L && pc0)
    val (hd0, hc0) = report(Graphs.hitsReport(cyc, iters = 2))
    assert(hd0 == 0L && hc0)
    // an asymmetric star (1→2, 1→3, 2→1, 3→1 plus a pendant chain)
    // keeps integer ranks moving in early rounds — flagged
    val star = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L),
      (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val (pd1, pc1) = report(Graphs.pageRankReport(star, iters = 2))
    assert(pd1 > 0L && !pc1, s"early rounds must still be moving ($pd1)")
    // the certificate's delta must agree with a brute state compare
    def prState(iters: Int): Map[Long, Long] =
      Graphs.pageRank(star, iters).as[(Long, Long)].collect().toMap
    val (s1, s2) = (prState(1), prState(2))
    val brute = (s1.keySet ++ s2.keySet)
      .count(n => s1.get(n) != s2.get(n)).toLong
    assert(pd1 == brute, s"certificate $pd1 vs brute $brute")
  }

  test("personalizedPageRank: proximity to seeds, unreachable components absent, hand-unrolled round") {
    import spark.implicits._
    // two disjoint symmetric components; seed = node 1 in the first
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (10L, 11L), (11L, 10L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val r = graft.operators.Graphs
      .personalizedPageRank(edges, seeds, iters = 2, r0 = 1000L)
      .as[(Long, Long)].collect().toMap
    // the un-seeded component never receives walk mass
    assert(!r.contains(10L) && !r.contains(11L), r)
    // hand-unroll (r0=1000, teleport=150):
    // round 1: contributions from r0={1:1000}: node2 gets 85% of 1000
    //   (deg(1)=1) = 850; node1 = teleport only = 150; node2 = 850
    // round 2: from {1:150, 2:850}: node2 ← 1's 150 → 85%·150 = 127;
    //   deg(2)=2 → 850 div 2 = 425 each to 1 and 3 → 85%·425 = 361;
    //   node1 = 361 + 150 teleport = 511; node2 = 127; node3 = 361
    assert(r == Map(1L -> 511L, 2L -> 127L, 3L -> 361L), r)
    // proximity ordering: the seed outranks everyone, 1-hop beats the
    // global-pagerank view where degree would dominate
    assert(r(1L) > r(3L) && r(3L) > r(2L))
  }

  test("convergence certificates agree with brute-force fixpoint checks on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xC0A9)
    for (trial <- 1 to 3) {
      val n = 12 + rnd.nextInt(8)
      val und = (for {
        a <- 1L to n.toLong; b <- (a + 1) to n.toLong
        if rnd.nextDouble() < 0.18
      } yield Seq((a, b), (b, a))).flatten
      if (und.nonEmpty) {
        val edges = und.toDF("src", "dst")
        // brute kCore fixpoint: converged(rounds) ⇔ one more round
        // removes nothing — compare the certificate to the actual
        // round-(r) vs round-(r+1) survivor edge counts
        def coreEdges(r: Int): Long = {
          var es = und.toSet
          for (_ <- 1 to r) {
            val deg = es.groupBy(_._1).view.mapValues(_.size).toMap
            val keep = deg.filter(_._2 >= 2).keySet
            es = es.filter(e => keep(e._1) && keep(e._2))
          }
          es.size.toLong
        }
        for (r <- Seq(1, 2, 6)) {
          val row = Graphs.kCoreReport(edges, k = 2, rounds = r)
            .as[(String, Long, Long, Boolean)].collect().head
          assert(row._3 == coreEdges(r - 1) - coreEdges(r),
            s"trial $trial rounds=$r: changed ${row._3}")
          // the certificate is SOUND: converged ⇒ a further round is
          // a no-op (the reverse need not hold at the stop boundary)
          if (row._4) assert(coreEdges(r) == coreEdges(r + 1),
            s"trial $trial rounds=$r: certified but still peeling")
        }
      }
    }
  }

  test("hits: hand-unrolled 2 rounds on a directed fan; role separation; symmetric fixpoint") {
    import spark.implicits._
    def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] =
      Graphs.hits(edges.toDF("src", "dst"), iters)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    // 1→3, 2→3, 2→4 — unrolled by hand at r0 = 10⁶:
    // round 1: a(3)=2e6,a(4)=1e6 → rescale a=(1e6, 5e5);
    //   h(1)=1e6, h(2)=1.5e6 → rescale h=(666666, 1e6)
    // round 2: a(3)raw=1666666, a(4)raw=1e6 → a=(1e6, 600000);
    //   h(1)raw=1e6, h(2)raw=1.6e6 → h=(625000, 1e6)
    val got = run(Seq((1L, 3L), (2L, 3L), (2L, 4L)), iters = 2)
    assert(got(1L) == ((625000L, 0L)))   // pure hub, no in-edges
    assert(got(2L) == ((1000000L, 0L)))  // the better hub: cites both
    assert(got(3L) == ((0L, 1000000L)))  // the better authority
    assert(got(4L) == ((0L, 600000L)))
    // symmetric regular graph (2-cycle both ways): exact fixpoint r0
    val cyc = run(Seq((1L, 2L), (2L, 1L)), iters = 3)
    assert(cyc(1L) == ((1000000L, 1000000L)) &&
      cyc(2L) == ((1000000L, 1000000L)))
    // MATERIALIZATION PIN (round 9): each half-step's raw-score table
    // is localCheckpoint'ed before feeding both the 1-row max agg and
    // the rescale projection. Without it the unshared subtree DOUBLES
    // per half-step (round 8 measured 57 s at iters=2 on 1,600 nodes);
    // at iters=9 the plan would be ~2^18 subtrees and this smoke run
    // would not complete. Values stay the exact 2-cycle fixpoint.
    val deep = run(Seq((1L, 2L), (2L, 1L)), iters = 9)
    assert(deep(1L) == ((1000000L, 1000000L)) &&
      deep(2L) == ((1000000L, 1000000L)))
  }

  // ------------------------------------------------------------- SCC

  /** Brute mutual-reachability SCC (Floyd-Warshall closure) — the
    * independent in-memory reference for
    * [[Graphs.stronglyConnectedComponents]].
    */
  private def bruteScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val reach = Array.fill(n, n)(false)
    for ((a, b) <- edges) reach(idx(a))(idx(b)) = true
    for (k <- 0 until n; i <- 0 until n if reach(i)(k);
         j <- 0 until n if reach(k)(j)) reach(i)(j) = true
    nodes.map { v =>
      val mutual = nodes.filter(w =>
        w == v || (reach(idx(v))(idx(w)) && reach(idx(w))(idx(v))))
      v -> mutual.min
    }.toMap
  }

  /** Runs BOTH paths — driver Tarjan (bounded-collect fast path) and
    * the distributed FW-BW peeling (collectThreshold = 0) — and pins
    * them identical before returning.
    */
  private def scc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = edges.toDF("src", "dst")
    val fast = Graphs.stronglyConnectedComponents(df)
      .as[(Long, Long)].collect().toMap
    val dist = Graphs
      .stronglyConnectedComponents(df, collectThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(fast == dist,
      s"Tarjan fast path != distributed peeling:\n fast $fast\n dist $dist")
    dist
  }

  test("scc: cycles group, chains stay singletons, self-loops are their own component") {
    // figure-eight (two cycles sharing node 3) + a directed tail + a
    // 2-cycle island + a self-loop-only node
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),      // cycle {1,2,3}
      (3L, 4L), (4L, 5L), (5L, 3L),      // cycle {3,4,5} -> one SCC {1..5}
      (5L, 6L), (6L, 7L),                // acyclic tail
      (8L, 9L), (9L, 8L),                // island 2-cycle
      (10L, 10L),                        // self-loop only
    )
    val got = scc(edges)
    assert(got == bruteScc(edges), s"scc drift: $got")
    assert(got(1L) == 1L && got(5L) == 1L && got(4L) == 1L)
    assert(got(6L) == 6L && got(7L) == 7L)
    assert(got(8L) == 8L && got(9L) == 8L)
    assert(got(10L) == 10L)
  }

  test("scc: descending id chain settles via class-partition edge filtering") {
    // ids descend along the edges — the adversarial order for min-label
    // settling (F==B fires only at the fringe per peel); the
    // same-(F,B)-class edge filter must carry it: crossing edges drop,
    // the remainder's classes empty out, and the next peel settles the
    // stranded chain nodes as singletons
    val chain = (1L to 8L).reverse.sliding(2).map(p => (p(0), p(1))).toSeq
    val withCycle = chain ++ Seq((1L, 20L), (20L, 21L), (21L, 1L))
    val got = scc(withCycle)
    assert(got == bruteScc(withCycle), s"scc drift: $got")
    assert(got(20L) == 1L && got(21L) == 1L && got(8L) == 8L)
  }

  test("scc agrees with brute mutual reachability on random directed graphs") {
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 4) {
      val n = 12 + trial * 3
      val edges = (1 to n * 2).map(_ =>
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1)).distinct
      val got = scc(edges)
      assert(got == bruteScc(edges),
        s"trial $trial drift:\n got  $got\n want ${bruteScc(edges)}")
    }
  }

  test("graph certificates answer from the data at the given path, whatever ran before") {
    // the same directory first holds sf0.001, then sf0.01: the
    // certificate queries must see the new data, not scalars the
    // producers computed from the old
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    val sf001 = "/root/testdata/sf0.01"
    val dir = Files.createTempDirectory("graft-graph-path")
    def load(from: String): Unit = Files.list(Paths.get(from)).forEach { f =>
      val _ = Files.copy(f, dir.resolve(f.getFileName),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def rows(query: String, at: Path = dir): Set[(String, Long, Long, Boolean)] =
      SparkEntry.queries(query)(spark, at.toString)
        .as[(String, Long, Long, Boolean)].collect().toSet

    load(sfDir)
    SparkEntry.queries("graph_pagerank")(spark, dir.toString).count()
    SparkEntry.queries("graph_hits")(spark, dir.toString).count()
    SparkEntry.queries("graph_kcore")(spark, dir.toString).count()
    assert(rows("graph_convergence").exists(r => r._1 == "kcore" && r._3 == 0L))
    load(sf001)
    assert(rows("graph_fixpoint_delta") ==
      Set(("pagerank", 3L, 1600L, false), ("hits", 2L, 1600L, false)))
    val conv = rows("graph_convergence")
    assert(conv.exists(_ == (("kcore", 3L, 228L, false))), conv)
    assert(conv == rows("graph_convergence", Paths.get(sf001)))
  }

  // ------------------------------------------------------ round hygiene

  /** One seeded random directed graph (no self-loops) and its
    * symmetric closure, for the specs below.
    */
  private def randomGraph(seed: Int, n: Int, m: Int): (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    val directed = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    (directed.toDF("src", "dst"),
      (directed ++ directed.map(_.swap)).distinct.toDF("src", "dst"))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("every graph loop leaves only the RDDs its output reads; a report leaves none") {
    val (directed, sym) = randomGraph(seed = 17, n = 40, m = 110)
    val sources = Seq(Tuple1(0L), Tuple1(5L)).toDF("node")
    val labels = Seq(1L -> "a", 7L -> "b", 20L -> "c").toDF("node", "label")
    // (name, is a certificate, run); PageRank runs past its 5-round
    // checkpoint and HITS past one generation so rounds are superseded
    val ops: Seq[(String, Boolean, () => DataFrame)] = Seq(
      ("pageRank", false, () => Graphs.pageRank(sym, iters = 7)),
      ("personalizedPageRank", false,
        () => Graphs.personalizedPageRank(sym, sources, iters = 7)),
      ("pageRankReport", true, () => Graphs.pageRankReport(sym, iters = 7)),
      ("hits", false, () => Graphs.hits(directed, iters = 3)),
      ("hitsReport", true, () => Graphs.hitsReport(directed, iters = 3)),
      ("kHopDistances", false, () => Graphs.kHopDistances(sym, sources, maxHops = 3)),
      ("kHopReport", true, () => Graphs.kHopReport(sym, sources, maxHops = 3)),
      ("labelPropagation", false, () => Graphs.labelPropagation(sym, labels, rounds = 3)),
      ("labelPropagationReport", true,
        () => Graphs.labelPropagationReport(sym, labels, rounds = 3)),
      ("kCore", false, () => Graphs.kCore(sym, k = 3, rounds = 3)),
      ("kCoreReport", true, () => Graphs.kCoreReport(sym, k = 3, rounds = 3)),
      ("stronglyConnectedComponents", false,
        () => Graphs.stronglyConnectedComponents(directed, collectThreshold = 0)))
    val leaks = ops.flatMap { case (name, isReport, run) =>
      val before = persisted
      val out = run()
      noop(out)
      val left = persisted -- before
      val reads = if (isReport) Set.empty[Int] else Materialize.rddIds(out)
      Materialize.free(spark.sparkContext, left, blocking = true)
      if (left == reads) None
      else Some(s"$name left ${left.size} RDDs, its output reads ${reads.size}")
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }

  test("hits compiles no new classes for a new graph once warm") {
    // The observed maxima reach the plan as data: the generated code
    // is the same for every graph of the same shape. Every compile is
    // one sample of CodegenMetrics.METRIC_COMPILATION_TIME.
    noop(Graphs.hits(randomGraph(seed = 3, n = 30, m = 80)._1, iters = 3))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    noop(Graphs.hits(randomGraph(seed = 4, n = 30, m = 80)._1, iters = 3))
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"hits on a second graph compiled $compiled classes")
  }

  test("two graph loops on two threads free only their own rounds") {
    // graph_fixpoint_delta's shape: both certificates over one
    // materialized edge table, here run at once. A loop freeing by a
    // global diff would take the other thread's rounds for its own.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val edges = Materialize(randomGraph(seed = 29, n = 60, m = 200)._2)
    val runs: Seq[() => Seq[org.apache.spark.sql.Row]] = Seq(
      () => Graphs.pageRankReport(edges, iters = 12).collect().toSeq,
      () => Graphs.hitsReport(edges, iters = 6).collect().toSeq)
    val alone = runs.map(_())
    val before = persisted
    val together = Await.result(Future.sequence(runs.map(r => Future(r()))),
      5.minutes)
    assert(together == alone)
    assert(persisted -- before == Set.empty[Int], "a loop left its rounds behind")
    assert(Materialize.rddIds(edges).subsetOf(persisted),
      "a loop freed the shared edge table")
    Materialize.free(edges, blocking = true)
  }

  test("graph_convergence and graph_fixpoint_delta leave no persisted RDD") {
    // Both outputs are literal certificate rows; the edge tables the
    // queries materialize for their loops are theirs to free.
    val leaks = Seq("graph_convergence", "graph_fixpoint_delta").flatMap { name =>
      val before = persisted
      noop(SparkEntry.queries(name)(spark, sfDir))
      val left = persisted -- before
      Materialize.free(spark.sparkContext, left, blocking = true)
      if (left.isEmpty) None else Some(s"$name left ${left.size} RDDs")
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }
}
