package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("d1", "d2")
  }

  private def comps(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    Components.connectedComponents(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Forces the DISTRIBUTED star-contraction path (localEdgeLimit =
    * 0), so the iterative rounds keep coverage now that small graphs
    * default to the driver-side union-find fast path.
    */
  private def compsDist(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    Components.connectedComponents(df, localEdgeLimit = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two disjoint components get their min ids") {
    val m = comps(edges((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long chain needs multiple propagation rounds") {
    // path 1-2-3-...-12: diameter 11, so hash-min must iterate; labels
    // still converge to the global min at every node
    val chain = (1L until 12L).map(i => (i, i + 1))
    val m = comps(edges(chain: _*))
    assert(m.size == 12)
    assert(m.values.forall(_ == 1L))
  }

  test("bridged cliques merge into one component") {
    // two cliques {1,2,3} and {7,8,9} bridged by (3,7) — the A~B, B~C
    // case where pair-level dedup misclassifies
    val m = comps(edges((1L, 2L), (1L, 3L), (2L, 3L),
      (7L, 8L), (7L, 9L), (8L, 9L), (3L, 7L)))
    assert(m.values.toSet == Set(1L))
  }

  test("empty edge list yields empty labeling") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(Components.connectedComponents(empty).count() == 0)
  }

  test("self-loops and duplicate edges are harmless") {
    val m = comps(edges((5L, 5L), (5L, 6L), (6L, 5L), (5L, 6L)))
    assert(m == Map(5L -> 5L, 6L -> 5L))
  }

  test("star contraction matches the union-find on chains, cliques, and bridges") {
    val cases = Seq(
      (1L until 12L).map(i => (i, i + 1)),                       // path
      Seq((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L), (7L, 9L),
          (8L, 9L), (3L, 7L)),                                   // bridged cliques
      Seq((5L, 5L), (5L, 6L), (6L, 5L), (5L, 6L)))               // loops/dups
    cases.foreach { es =>
      val hashMin = comps(edges(es: _*))
      val star = PipelineReference.connectedComponentsStar(edges(es: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == hashMin, s"star diverged on $es")
    }
  }

  test("adversarial chain with diameter far past any round budget converges") {
    // a 120-node shuffled path: diameter 119, the shape that killed
    // diameter-bound propagation algorithms — star contraction's
    // O(log^2 n) rounds must label every node with the chain's minimum
    // whether called directly or through the distributed gate
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((100L until 220L).toVector)
    val chain = ids.sliding(2).map(p => (p(0), p(1))).toSeq
    val star = PipelineReference.connectedComponentsStar(edges(chain: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star.size == 120 && star.values.forall(_ == 100L))
    val viaGate = compsDist(edges(chain: _*))
    assert(viaGate == star,
      "distributed gate diverged from direct star contraction")
  }

  test("differential: random graphs match local union-find ground truth") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      // sparse random graph: long chains + cliques + isolated pairs
      val n = 300 + trial * 100
      val es = Seq.newBuilder[(Long, Long)]
      (0 until n).foreach { _ =>
        es += ((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      }
      // a guaranteed long chain to force many propagation rounds
      (0 until 40).foreach(i => es += ((n + i.toLong, n + i + 1L)))
      val edgeList = es.result()

      // ground truth: classic union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edgeList.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = parent.keys.map(x => x -> find(x)).toMap
      // canonical label = min member id per root
      val minOfRoot = truth.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
      val expected = truth.map { case (x, r) => x -> minOfRoot(r) }

      val got = comps(edges(edgeList: _*))
      assert(got == expected, s"trial $trial mismatch")
      // and the distributed rounds agree with the fast path
      val gotDist = compsDist(edges(edgeList: _*))
      assert(gotDist == expected, s"trial $trial distributed mismatch")
    }
  }

  test("distributed path matches the fast path on the structured cases") {
    val cases = Seq(
      (1L until 12L).map(i => (i, i + 1)),
      Seq((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L), (7L, 9L),
          (8L, 9L), (3L, 7L)),
      Seq((5L, 5L), (5L, 6L), (6L, 5L), (5L, 6L)))
    cases.foreach { es =>
      assert(compsDist(edges(es: _*)) == comps(edges(es: _*)),
        s"paths diverged on $es")
    }
  }

  // ---------------------------------------- incremental (nightly) path

  private def inc(prev: Map[Long, Long],
                  newEdges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val prevDf = prev.toSeq.toDF("doc_id", "component")
    Components.incrementalComponents(prevDf, edges(newEdges: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("incremental: new-only component, untouched prior components keep labels") {
    val prev = Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L)
    val m = inc(prev, Seq((20L, 21L)))
    assert(m == prev ++ Map(20L -> 20L, 21L -> 20L))
  }

  test("incremental: a new doc bridges two prior components (label-merge chain)") {
    // old: {1,2} and {10,11}; new doc 30 touches a NON-MIN member of
    // each (2 and 11) — contraction through labels must still merge
    // both components onto the global min 1
    val prev = Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L)
    val m = inc(prev, Seq((2L, 30L), (30L, 11L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 30L -> 1L))
  }

  test("incremental: chains of merges across several prior components") {
    // old components {1,2}, {5,6}, {10,11}; new edges chain them
    // 2-20, 20-6, 6-21, 21-11 -> everything collapses to 1
    val prev = Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L)
    val m = inc(prev, Seq((2L, 20L), (20L, 6L), (6L, 21L), (21L, 11L)))
    assert(m.values.toSet == Set(1L))
    assert(m.keySet == Set(1L, 2L, 5L, 6L, 10L, 11L, 20L, 21L))
  }

  test("incremental: a NEW doc with an id below every prior min becomes the component id") {
    val prev = Map(5L -> 5L, 6L -> 5L)
    val m = inc(prev, Seq((0L, 6L)))
    assert(m == Map(0L -> 0L, 5L -> 0L, 6L -> 0L))
  }

  test("incremental: self-loops and duplicate delta edges are harmless") {
    val prev = Map(1L -> 1L, 2L -> 1L)
    val m = inc(prev, Seq((2L, 2L), (30L, 30L), (1L, 2L), (1L, 2L)))
    // 30's only edge is a self-loop: it labels itself; 1-2 re-asserted
    // inside one component is a no-op
    assert(m == Map(1L -> 1L, 2L -> 1L, 30L -> 30L))
  }

  test("incremental ≡ full recompute on random old/new splits (differential)") {
    val rnd = new scala.util.Random(77)
    (0 until 6).foreach { trial =>
      val n = 60 + rnd.nextInt(40)
      val all = (0 until (n * 3 / 2)).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val cut = n / 2
      val old = all.filter { case (a, b) => a < cut && b < cut }
      val fresh = all.filter { case (a, b) => a >= cut || b >= cut }
      val prev = comps(edges(old: _*))
      val got = inc(prev, fresh)
      val want = comps(edges(all: _*))
      assert(got == want, s"trial $trial: incremental != full recompute")
    }
  }

  test("incremental: distributed delta solve (localEdgeLimit 0) matches") {
    import spark.implicits._
    val prev = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "component")
    val m = Components.incrementalComponents(prev,
        edges((2L, 30L), (30L, 11L)), localEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 30L -> 1L))
  }
}
