package graft

import graft.operators.ConnectedComponents

/** Adversarial-scale run of the alternating large-star/small-star
  * resolver: the 25-node property tests pin correctness of the emission
  * rules; this pins the SCALE claims on a graph big enough to mean it —
  * ~120k edges over ~100k nodes, with the two shapes that kill weaker
  * algorithms planted deliberately:
  *
  *   - a giant component (random attachment over 60k nodes + 30k extra
  *     random edges) — the skew case: one component holds 80% of nodes;
  *   - a 20,001-node chain grafted onto it — diameter ~20k, where
  *     min-label propagation would need ~20k rounds; the O(log² n)
  *     claim must hold regardless of diameter;
  *   - 10k two-node components — the long tail that must not be
  *     absorbed or dropped.
  *
  * Ground truth is the same plain-Scala union-find the property tests
  * use (fast at this size on the driver — IN THE TEST; the operator
  * itself still collects nothing but per-round scalars). */
class ConnectedComponentsScaleSpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x // path compression, iterative: 20k-deep chains overflow recursion
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
  }

  test("120k-edge graph with planted giant component + 20k-deep chain resolves within the round bound") {
    val rnd = new scala.util.Random(20260813L) // fixed seed: deterministic graph
    val attach = (1L until 60000L).map(i => (rnd.nextLong(i).abs, i))
    val chain = (60000L until 80000L).map(i => (i, i + 1)) :+ (0L, 60000L)
    val extra = (0 until 30000).map(_ => (rnd.nextLong(80000L), rnd.nextLong(80000L)))
    val pairs = (0 until 10000).map(k => (100000L + 2 * k, 100001L + 2 * k))
    val all = attach ++ chain ++ extra ++ pairs
    assert(all.size >= 100000, s"fixture must be >=1e5 edges, got ${all.size}")

    val edges = all.toDF("src", "dst").repartition(8)
    val (labelsDf, rounds) = ConnectedComponents.runWithRounds(edges)
    info(s"resolved ${all.size} edges in $rounds alternating rounds")
    // O(log² n) in the worst case, empirically ~2·log₂(diameter) for a
    // chain; 25 leaves headroom over the observed count without letting
    // an O(diameter) regression (20k rounds) anywhere near passing.
    assert(rounds <= 25,
      s"round count $rounds is not the advertised O(log² n) behavior")
    // rounds run in pairs (two star rounds per fingerprint job), so the
    // reported count is even and the 50-round budget is never overshot
    assert(rounds % 2 === 0, s"round count $rounds must be even")

    val got = labelsDf.as[(Long, Long)].collect().toMap
    val want = unionFind(all.filter { case (a, b) => a != b })
    assert(got.size === want.size, "every node incident to an edge is labeled once")
    assert(got === want, "labels must equal the union-find component minimum")
    // shape sanity: the giant component swallowed the chain (label 0
    // for all 80k nodes), and every planted pair kept its own label
    assert((0L to 80000L).forall(n => got(n) == 0L))
    assert((0 until 10000).forall(k => got(100001L + 2 * k) == 100000L + 2 * k))
  }

  test("the star-forest safety net fires on both violation modes and passes a real star forest") {
    // A safety check nothing can trip is dead code: prove the net
    // catches (1) a chain — a node on both sides of an edge — and
    // (2) a multi-parent node, and accepts a genuine star forest.
    def check(edges: (Long, Long)*): Unit =
      ConnectedComponents.assertStarForest(edges.toDF("src", "dst"))
    intercept[IllegalStateException](check((3L, 1L), (5L, 3L)))   // chain: 3 is src and dst
    intercept[IllegalStateException](check((3L, 1L), (3L, 2L)))   // multi-parent: 3 → {1, 2}
    check((2L, 1L), (3L, 1L), (5L, 4L))                           // two clean stars: passes
  }
}
