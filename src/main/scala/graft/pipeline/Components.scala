package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the clustering
  * step real dedup pipelines run AFTER pair generation: LSH emits
  * near-dup PAIRS, but removal must act on whole GROUPS (A~B and B~C
  * put A, C in one cluster even when A, C never shared a bucket), and a
  * pair-at-a-time drop either over- or under-removes.
  *
  * Algorithm, two tiers gated on the MATERIALIZED edge count:
  *
  *  - DRIVER-SIDE UNION-FIND below `localEdgeLimit` (default
  *    [[LocalEdgeLimit]], 4M edges): the edge list of a
  *    near-dup graph is pairs, not documents, and is collected ONCE as
  *    primitive long arrays; path compression + union-by-min-id means
  *    the root of every set IS the component minimum, so there is no
  *    relabeling pass. The gate count is computed on the
  *    already-materialized edge list, so the decision costs nothing.
  *  - LARGE-STAR/SMALL-STAR CONTRACTION above it (Kiveris et al.,
  *    "Connected Components in MapReduce and Beyond"): edges rewire
  *    toward local minima and the edge set SHRINKS as components
  *    contract, converging in O(log^2 n) rounds on ANY graph shape.
  *
  * Star contraction replaced hash-min label propagation as the
  * distributed tier in round 11 ON MEASUREMENT: at sf100 (5M docs,
  * 14.9M candidate edges collapsing into 8 giant components) hash-min
  * needed 505 s cold / 135 s warm against star's 107 / 64 s — label
  * propagation re-touches every edge AND every label each round, while
  * contraction's per-round work shrinks with the graph; and every
  * small-graph regime where hash-min used to win now goes driver-side
  * anyway (the same probe measured the lifted-gate union-find at
  * 50 / 29 s on that graph). Giant components are exactly the shape a
  * real boilerplate-heavy corpus produces, so the distributed tier is
  * sized for them, not for the benign many-small-cliques case.
  *
  * Each round ends in `localCheckpoint` — without it the loop's lineage
  * doubles per round and Catalyst re-analyzes an exponentially growing
  * plan (the classic iterative-DataFrame trap).
  */
object Components {

  /** Edge-count cutoff below which components solve driver-side: 4M
    * edges ≈ 256 MB at the ~64 B/edge all-in cost (packed long[] at
    * 16 B/edge + union-find LongMaps with boxed values + the labeled
    * tuple array when nodes ~ edges) — a quarter of a DEFAULT 1g driver
    * heap, so the local path can never OOM an unconfigured driver.
    * PINNED, not derived from the live heap: a heap-derived clamp makes
    * the local-vs-distributed branch — and any plan fingerprint of a
    * graph gate — flip with the driver's -Xmx, the same
    * machine-dependence class the bench canonicalizes out of Range
    * splits.
    */
  val LocalEdgeLimit = 4000000L

  /** Driver-side union-find over edge endpoints packed pairwise into a
    * primitive long array (edge i = `packed(2*i)`–`packed(2*i+1)`):
    * path compression + union-by-min-id, so `find(x)` IS the component
    * minimum. Returns one (node, component) row per distinct endpoint.
    * Packed primitives, not Rows or tuples, so the driver really holds
    * 16 bytes/edge — boxed Rows would be ~100+ bytes each and blow the
    * documented memory budget near the edge-count cutoff.
    */
  private def localSolve(packed: Array[Long]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrElse(p, p)
        parent(x) = gp
        x = gp
        p = parent.getOrElse(x, x)
      }
      x
    }
    val nodes = scala.collection.mutable.LongMap.empty[Unit]
    var i = 0
    while (i < packed.length) {
      val a = packed(i); val b = packed(i + 1)
      nodes(a) = (); nodes(b) = ()
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      i += 2
    }
    nodes.keys.toArray.map(n => n -> find(n))
  }

  /** Label every node of the undirected graph `edges` (two columns,
    * `src`/`dst`) with its component id = the minimum node id reachable
    * from it. Returns (doc_id, component), one row per distinct node.
    *
    * The per-round convergence check is one driver-side `count` on the
    * changed-label set — O(rounds) actions, each over node-count rows,
    * the standard shape for iterative algorithms on DataFrames.
    */
  def connectedComponents(edges: DataFrame, src: String = "d1",
                          dst: String = "d2", maxIter: Int = 50,
                          localEdgeLimit: Long = LocalEdgeLimit)
      : DataFrame = {
    // materialize the edge list ONCE: the gate count, the collect, and
    // every contraction round read it, and without the checkpoint each
    // would re-run the whole upstream pipeline that produced the edges
    // (e.g. the LSH self-join)
    // gate + local path on the UNDIRECTED list: union-find needs each
    // edge once, and gating on a symmetrized list would silently HALVE
    // the effective cutoff (the round-10 sf10 probe caught d18 paying
    // the distributed loop's convoy because a doubled count crossed
    // the old gate)
    val dedir = edges
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .localCheckpoint()
    val edgeCount = dedir.count()
    if (edgeCount <= localEdgeLimit) {
      // driver-side union-find (see object scaladoc). The collect
      // ships one primitive long[] per partition (Rows are
      // deserialized streaming inside each task and never reach the
      // driver), so driver footprint truly is localEdgeLimit x 16 B.
      val packed = dedir.rdd.mapPartitions { it =>
        val buf = scala.collection.mutable.ArrayBuilder.make[Long]
        it.foreach { r => buf += r.getLong(0); buf += r.getLong(1) }
        Iterator.single(buf.result())
      }.collect().flatten
      val labeled = localSolve(packed)
      val spark = edges.sparkSession
      import spark.implicits._
      // ship the labeling back as a PARALLELIZED dataset, never a
      // LocalRelation: a multi-million-row LocalRelation re-encodes on
      // the driver inside every consuming plan (measured ~200 s
      // single-threaded at a 4.4M-node sf100 graph), while parallelize
      // serializes the array once and every downstream operator runs
      // distributed
      val slices = math.max(1, (labeled.length / 1000000) + 1)
      spark.sparkContext.parallelize(labeled.toSeq, slices)
        .toDF("doc_id", "component")
    } else starImpl(dedir, maxIter)
  }

  /** Incremental connected components — the nightly-ingest completion
    * of the near-dup family: relabel the corpus after a batch of NEW
    * edges without re-solving the full graph. d21 dedups a batch
    * against the persisted band index, but labels still came from a
    * full recompute; at 100 TB a multi-billion-edge full CC nightly is
    * exactly the cost incrementality exists to avoid.
    *
    * `prevLabels` is the persisted (doc_id, component) table of the
    * prior run (component = min reachable id — this module's
    * invariant); `newEdges` are the delta's candidate pairs (they may
    * reference old docs by their ORIGINAL ids). Correctness rests on
    * prior labels being a faithful star summary of the old graph:
    * components of (label stars ∪ new edges) equal components of
    * (old edges ∪ new edges), with identical minima — each old
    * component contributes exactly its min (= its label), so the min
    * of any merged component is preserved.
    *
    * The merge round CONTRACTS each new-edge endpoint through its
    * prior label (two id-only joins), then solves components over the
    * contracted graph — delta-sized, never corpus-sized; the existing
    * local/star tiers of [[connectedComponents]] handle label-collision
    * chains (old component A ~ new doc ~ old component B). Output:
    * (doc_id, component) for every prior node plus every node of
    * `newEdges` — the same contract as a full recompute over the
    * union, hash-exact against it (the d32 gate).
    */
  def incrementalComponents(prevLabels: DataFrame, newEdges: DataFrame,
                            src: String = "d1", dst: String = "d2",
                            maxIter: Int = 50,
                            localEdgeLimit: Long = LocalEdgeLimit)
      : DataFrame = {
    val labels = prevLabels
      .select(col("doc_id").cast("long").as("doc_id"),
              col("component").cast("long").as("component"))
    val e = newEdges
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .localCheckpoint() // read 3x below (contract, node diff); the
                         // upstream pair generator must not re-run
    // merge round: contract endpoints through prior labels (an old
    // endpoint becomes its component min; new docs keep their ids)
    val lu = labels.select(col("doc_id").as("u"), col("component").as("lu"))
    val lv = labels.select(col("doc_id").as("v"), col("component").as("lv"))
    val contracted = e
      .join(lu, Seq("u"), "left").join(lv, Seq("v"), "left")
      .select(coalesce(col("lu"), col("u")).as("u"),
              coalesce(col("lv"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    // delta-sized solve; nodes here are prior component minima and new
    // doc ids, so the resulting component ids are true union minima
    val delta = connectedComponents(contracted, "u", "v", maxIter,
        localEdgeLimit)
      .select(col("doc_id").as("cnode"), col("component").as("newc"))
      .localCheckpoint() // joined twice below
    // prior nodes: relabel through their component's (possibly merged)
    // new label; untouched components keep their label
    val relabeled = labels
      .join(delta, labels("component") === delta("cnode"), "left")
      .select(col("doc_id"), coalesce(col("newc"), col("component"))
        .as("component"))
    // brand-new nodes (in the delta's edges, absent from prior labels):
    // labels straight from the delta solve; isolated-by-self-loop nodes
    // fall back to themselves, mirroring connectedComponents
    val newNodes = e.select(col("u").as("doc_id"))
      .union(e.select(col("v").as("doc_id"))).distinct()
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val newLabeled = newNodes
      .join(delta, newNodes("doc_id") === delta("cnode"), "left")
      .select(col("doc_id"), coalesce(col("newc"), col("doc_id"))
        .as("component"))
    relabeled.union(newLabeled)
  }

  /** Contraction over an already-materialized (u, v) long edge list. */
  private[pipeline] def starImpl(e0: DataFrame, maxIter: Int): DataFrame = {
    val parts = math.max(1, (e0.count() / 2000000L).toInt)
    // node set pinned from the INPUT (contraction rewires edges, so the
    // final star edges alone don't enumerate every original node)
    val nodes = e0.select(col("u")).union(e0.select(col("v")))
      .distinct().repartition(parts, col("u")).localCheckpoint()

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v"))
      val m = sym.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val hiLo = e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val m = hiLo.groupBy(col("u")).agg(min(col("v")).as("m"))
      hiLo.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    var e = e0.filter(col("u") =!= col("v")).distinct()
      .repartition(parts, col("u")).localCheckpoint()
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val next = smallStar(largeStar(e))
        .repartition(parts, col("u")).localCheckpoint()
      // exact fixed-point test: the edge set stopped changing
      done = next.count() == e.count() &&
        next.except(e).limit(1).count() == 0L
      e = next
      iter += 1
    }
    require(done, s"star contraction did not converge in $maxIter rounds")
    // converged edges are (node -> component-min) stars; roots label
    // themselves, as do nodes isolated by self-loop-only input edges
    nodes.join(e.groupBy(col("u")).agg(min(col("v")).as("c")), Seq("u"), "left")
      .select(col("u").as("doc_id"),
        coalesce(col("c"), col("u")).as("component"))
  }
}
