package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sql.GraftExtensions

/** Similarity search over embedding columns (Array[Float]).
  *
  * Dot products fold in ARRAY ORDER — natively via [[graft.sql.DotFloat]]
  * (one pass, double accumulator, no per-row intermediate arrays), with
  * the `aggregate`/`zip_with` higher-order form kept as the
  * equivalence-spec reference — so double summation is bit-reproducible
  * and the DuckDB oracle (ordered `range(dim)` sum) matches exactly.
  *
  * `bruteTopK` is the correctness baseline (O(Q*N) dot products — fine
  * when Q is small or N fits a broadcast). `lshBuckets` is the scale
  * path: random-hyperplane signs derived from the same arithmetic hash
  * family bucket vectors so candidate generation is an equi-join on
  * bucket id, O(N) + per-bucket work, exactly like MinHash-LSH for text.
  */
object VectorOps {

  import TextOps.{P, aConst, bConst}

  /** Rank the k smallest (adc, cand_id) per query with the k-bounded
    * heap aggregate instead of a `row_number` window — a window moves a
    * query's ENTIRE candidate set to one task and sorts a corpus-sized
    * run there (the flat-scan scale killer at 10^9 vectors); the heap
    * aggregate reduces each input partition to <= k rows map-side, so
    * only k-row buffers shuffle and the final merge is O(k log k).
    * Same total order (adc asc, cand_id asc — negated into the struct's
    * leading fields; the original values ride as payload so -0.0 never
    * leaks into output), so results are row-identical to the window
    * form and the DuckDB oracles replay unchanged. `df` must carry
    * (query_id, cand_id, adc).
    *
    * NaN scores are EXCLUDED before ranking: the negation trick would
    * otherwise invert their placement (-NaN is still NaN = largest, so
    * the keep-largest heap would select NaN candidates FIRST, where
    * `ORDER BY adc ASC` ranks them last) — and a NaN distance is a
    * degenerate candidate either way, never a nearest neighbor.
    */
  private def minAdcTopK(df: DataFrame, k: Int): DataFrame =
    df.filter(!isnan(col("adc")))
      .groupBy(col("query_id"))
      .agg(expr(s"topk_struct(struct(-adc AS na, -cand_id AS nc, " +
        s"adc, cand_id), $k)").as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("query_id"), col("t.cand_id").as("cand_id"),
        col("t.adc").as("adc"), (col("p") + 1).cast("long").as("rnk"))

  /** Ordered-fold dot product of two array<float> columns as double
    * (native one-pass expression).
    */
  def dotSql(a: String, b: String): String = s"dot_f($a, $b)"

  /** L2 norm of an array<float> column (ordered fold). */
  def normSql(a: String): String =
    s"sqrt(${dotSql(a, a)})"

  /** Exact cosine top-k: for each query vector, the k nearest others by
    * cosine (rounded to 6 for cross-engine determinism; ties break on
    * candidate id).
    */
  def bruteTopK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    GraftExtensions.install(embeddings.sparkSession)
    val cand = embeddings.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = q.crossJoin(cand)
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", round(
        expr(dotSql("qv", "cv")) / (expr(normSql("qv")) * expr(normSql("cv"))), 6))
    // brute means exact SCORING of every candidate — the top-k
    // SELECTION still k-bounds map-side (heap aggregate, not a window
    // that single-task-sorts the whole corpus per query); same total
    // order (cos desc, cand_id asc), identical rows and ranks
    scored.groupBy(col("query_id"))
      .agg(expr(s"topk_struct(struct(cos, -cand_id AS nc, cand_id), $k)")
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("query_id"), col("t.cand_id").as("cand_id"),
        col("t.cos").as("cos"), (col("p") + 1).as("rnk"))
  }

  /** Hybrid retrieval (keyword + vector, reciprocal-rank fusion): for
    * each query document, candidates come from an INVERTED TOKEN JOIN —
    * docs sharing at least one sufficiently-rare token with the query —
    * never an all-pairs scan; each candidate gets a keyword rank (shared
    * distinct-token count) and a vector rank (embedding cosine via the
    * native dot fold), fused as `1/(60+rk) + 1/(60+rv)` (the standard
    * RRF constant), top-k per query. Deterministic cross-engine:
    * integer overlap counts, cosine rounded to 6, rrf rounded to 6,
    * all ties break on candidate id.
    *
    * The df cap is the scale guard: tokens appearing in more than
    * `count * num div den` documents are dropped from the inverted
    * index BEFORE the join — a stopword-class token otherwise pairs
    * every query with the whole corpus and the join output (not its
    * shuffle) is what explodes at 100 TB. The df pass is one cheap
    * groupBy; the filter is replayed by the oracle, so capped runs stay
    * hash-exact. The threshold is resolved inside the plan (a broadcast
    * 1-row aggregate) instead of a driver-side `docs.count()` round
    * trip before planning — one less blocking driver action in the
    * query path (guide §5).
    */
  def hybridTopKFrac(docs: DataFrame, embeddings: DataFrame, k: Int,
                     nQueries: Int, num: Int, den: Int): DataFrame = {
    val lim = docs.agg(expr(s"(count(1) * $num) div $den").as("lim"))
    hybridTopKImpl(docs, embeddings, k, nQueries,
      (df: DataFrame) => df.crossJoin(broadcast(lim))
        .filter(col("df") <= col("lim")))
  }

  private def hybridTopKImpl(docs: DataFrame, embeddings: DataFrame, k: Int,
                             nQueries: Int,
                             dfCap: DataFrame => DataFrame): DataFrame = {
    GraftExtensions.install(embeddings.sparkSession)
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val rare = dfCap(toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("df")))
      .select(col("tok"))
    val index = toks.join(rare, "tok")
    val qtoks = index.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("tok"))
    val overlap = qtoks.join(index, "tok")
      .filter(col("query_id") =!= col("doc_id"))
      .groupBy(col("query_id"), col("doc_id").as("cand_id"))
      .agg(count(lit(1)).as("overlap")) // tokens are distinct per doc
    val qv = embeddings.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    val cv = embeddings.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"))
    val scored = overlap.join(qv, "query_id").join(cv, "cand_id")
      .withColumn("cos", round(
        expr(dotSql("qv", "cv")) /
          (expr(normSql("qv")) * expr(normSql("cv"))), 6))
    val byQ = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
    val scoredR = scored
      .withColumn("rk", row_number().over(
        byQ.orderBy(col("overlap").desc, col("cand_id"))))
      .withColumn("rv", row_number().over(
        byQ.orderBy(col("cos").desc, col("cand_id"))))
      .withColumn("rrf", round(
        lit(1.0) / (lit(60) + col("rk")) + lit(1.0) / (lit(60) + col("rv")),
        6))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rrf").desc, col("cand_id"))
    scoredR.withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("rrf"), col("rnk"))
  }

  /** Sign expression of hyperplane j at dimension i (SQL fragment shared
    * with the oracle): pseudo-random +-1 from the arithmetic hash family.
    */
  def planeSignSql(j: Int, iExpr: String): String =
    s"CASE WHEN ((${aConst(j)} * (($iExpr) + 1) + ${bConst(j)}) % $P) % 2 = 1 " +
      "THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END"

  /** Projection of the embedding onto hyperplane j (native ordered
    * fold; `dim` retained for the HOF reference form).
    */
  def projectionSql(j: Int, dim: Int): String = s"hplane_proj(embedding, $j)"

  /** Bucket id for LSH table `t` from `nPlanes` hyperplane sign bits
    * (plane family offset by t*nPlanes so tables are independent).
    */
  def bucketSql(t: Int, nPlanes: Int, dim: Int): String =
    (0 until nPlanes).map { j =>
      s"(CASE WHEN (${projectionSql(t * nPlanes + j, dim)}) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** Vectors annotated with one bucket column per LSH table (b0..b{L-1}).
    * Multi-table LSH is the standard recall lever: a true neighbor is a
    * candidate if it collides in ANY table.
    */
  def lshBuckets(embeddings: DataFrame, nPlanes: Int, nTables: Int, dim: Int): DataFrame = {
    GraftExtensions.install(embeddings.sparkSession)
    (0 until nTables).foldLeft(embeddings) { (df, t) =>
      df.withColumn(s"b$t", expr(bucketSql(t, nPlanes, dim)))
    }
  }

  /** Embedding-cosine near-duplicate pairs — the embedding-space member
    * of the dedup family (exact / MinHash / SimHash / Jaccard / cosine).
    * Candidates come from LSH bucket collisions in ANY table (equi-joins
    * on bucket id — never the all-pairs cross join), deduped on the id
    * pair alone, then exact cosine filters at `tau`. At scale this is
    * the standard SemDeDup-style shape: O(N) bucketing + per-bucket
    * pair work, with recall tuned by (nPlanes, nTables).
    */
  def cosineNearDup(embeddings: DataFrame, tau: Double,
                    nPlanes: Int, nTables: Int, dim: Int,
                    maxBucket: Int = Int.MaxValue): DataFrame = {
    val bucketed = lshBuckets(embeddings, nPlanes, nTables, dim)
    val buckets = (0 until nTables).map(t => s"b$t")
    // Candidate generation rides the SAME melted one-aggregate path as
    // the text/multimodal LSH (TextOps.lshCandidates): the per-table
    // bucket columns melt to one (doc_id, band=t, sig=bucket) table —
    // band equality keeps tables independent, so the pair set is
    // exactly the old union of per-table self-joins. The hot-bucket
    // cap (the d2/d13 scale guard: a bucket of n vectors emits
    // n(n-1)/2 pairs, and the TABLE COUNT is fixed while the corpus
    // grows, so the self-join OUTPUT grows quadratically with corpus
    // size — the sf100 probe measured d9 off the chart at 2M
    // near-random vectors in 2^8 buckets; gates replay the cap in
    // their oracles, and a production deployment also scales nPlanes
    // with log(corpus) to keep occupancy flat) is collect_capped's
    // bucket-bounded buffer in ONE grouped aggregate, and pairs stream
    // through a self-join that reuses that aggregate's partitioning —
    // the dense-bucket emission (lshCandidatesDense). The old shape
    // (per table: bucket counts + hot-key join + self-join, then
    // union + distinct) shuffled the bucket table three times per
    // table and re-evaluated the 8-projection bucket subtree on every
    // use; the melted table is projected once.
    val melted = bucketed.select(col("vec_id").as("doc_id"),
        posexplode(array(buckets.map(col): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")
    val idPairs = (if (maxBucket == Int.MaxValue)
        TextOps.lshCandidates(melted, None)
      else TextOps.lshCandidatesDense(melted, maxBucket))
      .select(col("d1").as("v1"), col("d2").as("v2"))
    val e = embeddings.select(col("vec_id"), col("embedding"))
    idPairs
      .join(e.select(col("vec_id").as("v1"), col("embedding").as("av")), "v1")
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("bv")), "v2")
      .withColumn("cos", round(
        expr(dotSql("av", "bv")) / (expr(normSql("av")) * expr(normSql("bv"))), 6))
      .filter(col("cos") >= tau)
      .select(col("v1"), col("v2"), col("cos"))
  }

  /** Cell assignment for IVF: nearest of the first `nCells` vectors
    * (deterministic coarse quantizer — a fixed "training sample" in
    * place of k-means, so the oracle can replay it) by rounded cosine,
    * ties to the lowest centroid id. Plans as a broadcast of the tiny
    * centroid table + a map-side-combined min-struct aggregate: the
    * full corpus never shuffles vectors, only (vec_id, best-cell) rows.
    */
  def ivfAssign(embeddings: DataFrame, nCells: Int): DataFrame = {
    GraftExtensions.install(embeddings.sparkSession)
    val cent = embeddings.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cent))
      .withColumn("cos", round(
        expr(dotSql("embedding", "cv")) / (expr(normSql("embedding")) * expr(normSql("cv"))), 6))
      // max(struct) = highest cos, then highest -cid = LOWEST cid
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("cid")).as("nc"))).as("best"))
      .select(col("vec_id"), (-col("best.nc")).as("cell"))
  }

  /** One Lloyd refinement round over the IVF assignment — the
    * cluster-balancing step of semantic-curation pipelines (assign to
    * seed centroids, recompute centroids as per-cell means, reassign):
    * returns (vec_id, cell, cell2) with the seed and refined cells.
    * Deterministic cross-engine: the seed assignment is [[ivfAssign]]
    * (rounded cosine, ties to the lowest cell), refreshed centroid
    * means round to 4 decimals BEFORE reuse (so float-summation order
    * can never leak through the later exact arithmetic), and
    * reassignment rounds its cosines to 6. Plans as one map-side
    * explode + mean aggregate (centroids: nCells x dim rows) plus one
    * broadcast of the tiny centroid table — the corpus never shuffles
    * vectors, exactly like the assignment it refines.
    */
  def kmeansRefine(embeddings: DataFrame, nCells: Int): DataFrame = {
    GraftExtensions.install(embeddings.sparkSession)
    val a1 = ivfAssign(embeddings, nCells)
    val cent2 = embeddings.join(a1, "vec_id")
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(round(avg(col("v")), 4).as("cv1"))
      .groupBy(col("cell"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, cv1))), x -> x.cv1)")
        .as("cv"))
    // dot_f handles the float-vector × double-centroid mix natively
    // (same index-ordered double fold as the HOF reference, without
    // materializing a zipped array per row per centroid — the reassign
    // stage is corpus × nCells evaluations, the d20 hot loop)
    val reassigned = embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cent2.withColumnRenamed("cell", "c2")))
      .withColumn("cos", round(
        expr(dotSql("embedding", "cv")) /
          (expr(normSql("embedding")) *
            expr(s"sqrt(${dotSql("cv", "cv")})")), 6))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("c2")).as("nc"))).as("best"))
      .select(col("vec_id"), (-col("best.nc")).as("cell2"))
    a1.join(reassigned, "vec_id")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the corpus, then drop within-cluster
    * near-duplicates by pairwise embedding cosine, keeping the lowest
    * vec_id of each detected pair. The clustering is what makes the
    * quadratic pair stage tractable — pairs form per CELL
    * (corpus/nCells per side, an equi-join on cell id), never across
    * the whole corpus; that is the paper's own design and the 100 TB
    * shape (cells shuffle once, centroids broadcast). Returns
    * (vec_id, cell, drop) for every vector. Deterministic
    * cross-engine: [[ivfAssign]]'s rounded-cosine seed assignment,
    * pair cosines rounded to 6.
    *
    * `maxCell` (off by default) is the hot-cell skew guard — the
    * sibling of [[TextOps.lshCandidates]]' `maxBucket`. Semantic
    * dedup's input is duplicate-heavy by definition, so a collapsed
    * embedding region can concentrate a disproportionate share of the
    * corpus into ONE cell and the within-cell self-join then emits
    * n^2/2 pairs out of that cell alone — the join's output, not its
    * shuffle, is what explodes at 100 TB. Capped runs restrict the
    * LEFT side of each pair to the cell's `maxCell` lowest vec_ids
    * (the cell's pivots): every member is still compared against the
    * pivots, so output is <= n*maxCell per cell (linear in n), and for
    * cells of size <= maxCell the pivot set is the whole cell, making
    * the capped scan IDENTICAL to the uncapped one there. Coverage
    * semantics: a member is dropped iff it is within `tau` of an
    * EARLIER pivot; only non-pivot-to-non-pivot pairs in over-cap
    * cells are skipped — and in a duplicate-collapsed cell the kept
    * representative (the lowest vec_id) is by construction a pivot, so
    * the collapsed mass still drops. Deterministic (a rank threshold,
    * no sampling), but capped output is a declared approximation —
    * keep OFF when exact parity with an uncapped oracle is required.
    */
  def semanticDedup(embeddings: DataFrame, nCells: Int,
                    tau: Double, maxCell: Option[Int] = None): DataFrame = {
    GraftExtensions.install(embeddings.sparkSession)
    val a1 = ivfAssign(embeddings, nCells)
    val withVec = embeddings.select(col("vec_id"), col("embedding"))
      .join(a1, "vec_id")
    val dropped = semanticPairs(withVec, maxCell)
      .filter(col("cos") >= tau)
      .select(col("b").as("vec_id")).distinct()
    withVec.select(col("vec_id"), col("cell"))
      .join(dropped.withColumn("drop", lit(true)), Seq("vec_id"), "left")
      .withColumn("drop", coalesce(col("drop"), lit(false)))
  }

  /** Within-cell scored candidate pairs (a < b, cosine rounded to 6)
    * for [[semanticDedup]] — exposed so the skew spec can assert the
    * capped pair count directly. `withVec` must carry
    * (vec_id, embedding, cell).
    */
  private[graft] def semanticPairs(withVec: DataFrame,
                                   maxCell: Option[Int]): DataFrame = {
    val aSide = maxCell match {
      case None =>
        withVec.select(col("cell"), col("vec_id").as("a"),
          col("embedding").as("ea"))
      case Some(cap) =>
        // pivots = the cap lowest vec_ids of each cell; the rank
        // window shuffles on the same key as the pair join
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cell")).orderBy(col("vec_id"))
        withVec.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= cap)
          .select(col("cell"), col("vec_id").as("a"),
            col("embedding").as("ea"))
    }
    val bSide = withVec.select(col("cell"), col("vec_id").as("b"),
      col("embedding").as("eb"))
    aSide.join(bSide, Seq("cell"))
      .filter(col("a") < col("b"))
      .withColumn("cos", round(
        expr(dotSql("ea", "eb")) /
          (expr(normSql("ea")) * expr(normSql("eb"))), 6))
  }

  /** IVF ANN top-k — the partition-pruned scale path: vectors live in
    * inverted lists keyed by their cell, each query probes only its
    * `nProbe` nearest cells, and exact cosine runs inside those lists
    * alone. The candidate join is an equi-join on cell id, so at 100 TB
    * the lists shuffle once (or are pre-bucketed by cell on disk) and a
    * query touches nProbe/nCells of the corpus.
    */
  def ivfTopK(embeddings: DataFrame, queryFilter: org.apache.spark.sql.Column,
              k: Int, nCells: Int, nProbe: Int,
              precomputedAssign: Option[DataFrame] = None,
              candFilter: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    // index-serve split: pass a PERSISTED assignment table (built once,
    // e.g. nightly) and the query-time plan probes without touching the
    // quantizer — at 100 TB the inverted lists are bucketed by cell on
    // disk and a probe reads nProbe/nCells of the corpus.
    // candFilter = FILTERED ANN (top-k under a metadata predicate, the
    // "english documents only" serving shape): the predicate restricts
    // the CANDIDATE side before any distance is computed — on bucketed
    // inverted lists it pushes into the list scan — while the
    // quantizer, assignment, and probe selection are untouched, so a
    // filtered query probes exactly the cells its unfiltered twin
    // would. (Known IVF caveat applies: a highly selective filter can
    // empty the probed cells; raise nProbe for selective filters.)
    val assign = precomputedAssign.getOrElse(ivfAssign(embeddings, nCells))
    val cand = embeddings.filter(candFilter)
      .select(col("vec_id"), col("embedding"))
      .join(assign, "vec_id")
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv"), col("cell"))
    val cent = embeddings.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("pcos").desc, col("cid"))
    val probes = embeddings.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(cent))
      .withColumn("pcos", round(
        expr(dotSql("qv", "cv")) / (expr(normSql("qv")) * expr(normSql("cv"))), 6))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("cid").as("cell"))
    // a candidate has exactly ONE cell, so (query, cand) appears at most
    // once across the probed cells — no dedup needed
    val scored = probes.join(cand, "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", round(
        expr(dotSql("qv", "cv")) / (expr(normSql("qv")) * expr(normSql("cv"))), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rnk"))
  }

  /** Scalar-quantized (uniform int8) ANN with exact re-rank — the
    * memory-bandwidth scale path every production vector store ships
    * (FAISS SQ8, Lucene/Elasticsearch int8_hnsw quantization): "train"
    * a single global [lo, hi] range (exact min/max over every element,
    * one cheap aggregate), affine-map each float to one SIGNED BYTE
    * (`array<tinyint>`, 64 B/vector instead of 256 B float / 512 B
    * double — the candidate scan reads 4-8x less), generate a
    * `candPool`-sized candidate set per query by integer dot product
    * in the quantized domain, then re-rank ONLY those candidates with
    * exact full-precision cosine. At 100 TB the quantized corpus is a
    * persisted derived column (built once, like the IVF assignment)
    * and composes with IVF cell pruning; here the candidate stage
    * scans the quantized corpus flat — the I/O saving alone is the
    * point.
    *
    * Deterministic cross-engine: lo/hi are exact min/max of
    * float->double casts; the quantizer `round((x-lo)/(hi-lo)*255-128)`
    * uses ties-away-from-zero rounding in both Spark and DuckDB;
    * quantized scores are exact integer sums; exact cosine rounds to 6;
    * every ranking ties-breaks on candidate id. The oracle replays the
    * same formula, so the gate is hash-exact, not recall-approximate.
    */
  /** Index-build half of the SQ8 split: the (vec_id, q8) quantized
    * corpus — at 100 TB this is a PERSISTED derived table (built once,
    * like the IVF assignment), and serve-time never touches the float
    * corpus except to re-rank the candidate pool.
    */
  def sq8Quantize(embeddings: DataFrame): DataFrame = {
    GraftExtensions.install(embeddings.sparkSession)
    // PER-DIMENSION ranges (FAISS SQ8 trains per-dim): one outlier
    // dimension no longer crushes quantization resolution for every
    // other dimension the way a single global [lo, hi] did. The stats
    // are dim rows (exact per-dim min/max via sqStats — a map-side-
    // combined aggregate, the corpus never shuffles vectors), collected
    // once at BUILD time and inlined as exact round-trip literals so
    // the per-element formula text matches the oracle's replay.
    val statRows = sqStats(embeddings).orderBy(col("pos")).collect()
    require(statRows.nonEmpty, "sq8: empty or all-null embeddings input")
    statRows.zipWithIndex.foreach { case (r, i) =>
      require(!r.isNullAt(1) && !r.isNullAt(2) && r.getInt(0) == i,
        s"sq8: null or missing stats for dimension $i")
    }
    val mnLit = statRows.map(r => dlit(r.getDouble(1))).mkString("array(", ",", ")")
    val mxLit = statRows.map(r => dlit(r.getDouble(2))).mkString("array(", ",", ")")
    // quantize: one pass, 64 B/vector output; a degenerate dimension
    // (mn = mx) maps to code 0 (the sqCodes convention)
    val q8 = s"transform(sequence(0, ${statRows.length - 1}), i -> " +
      "cast(CASE WHEN element_at(mx_a, i + 1) = element_at(mn_a, i + 1) THEN 0 " +
      "ELSE round((cast(element_at(embedding, i + 1) as double) - element_at(mn_a, i + 1)) " +
      "/ (element_at(mx_a, i + 1) - element_at(mn_a, i + 1)) * 255 - 128) END as tinyint))"
    embeddings
      .withColumn("mn_a", expr(mnLit)).withColumn("mx_a", expr(mxLit))
      .select(col("vec_id"), expr(q8).as("q8"))
  }

  def sq8TopK(embeddings: DataFrame,
              queryFilter: org.apache.spark.sql.Column,
              k: Int, candPool: Int,
              precomputedQ8: Option[DataFrame] = None): DataFrame = {
    GraftExtensions.install(embeddings.sparkSession)
    val quantized = precomputedQ8.getOrElse(sq8Quantize(embeddings))
    val cand = quantized.select(col("vec_id").as("cand_id"),
      col("q8").as("cq"))
    val queries = quantized.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("q8").as("qq"))
    // integer dot product in the quantized domain (exact, no FP) —
    // native one-pass expression; the HOF equivalence form is pinned
    // by VectorEquivalenceSpec alongside dot_f's
    val qscore = "dot_i8(qq, cq)"
    // candidate pool via the k-bounded heap aggregate (map-side
    // partials; only candPool-row buffers shuffle) — a row_number
    // window here would single-task-sort the whole quantized corpus
    // per query. Ordering (qscore DESC, cand_id ASC) encodes as the
    // struct's natural order on (qscore, -cand_id); total, so the
    // selection is identical to the window form and the oracle's.
    val pool = broadcast(queries).crossJoin(cand)
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("qscore", expr(qscore))
      .groupBy(col("query_id"))
      .agg(expr(s"topk_struct(struct(qscore, -cand_id AS nc, cand_id), " +
        s"$candPool)").as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.cand_id").as("cand_id"),
        col("t.qscore").as("qscore"))
    // exact re-rank: full-precision cosine on the candidate pool only
    val full = embeddings.select(col("vec_id"), col("embedding"))
    val rer = pool
      .join(full.select(col("vec_id").as("query_id"),
        col("embedding").as("qv")), "query_id")
      .join(full.select(col("vec_id").as("cand_id"),
        col("embedding").as("cv")), "cand_id")
      .withColumn("cos", round(
        expr(dotSql("qv", "cv")) / (expr(normSql("qv")) * expr(normSql("cv"))), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    rer.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("qscore"),
        col("cos"), col("rnk"))
  }

  /** A double literal rendered so Spark SQL parses back the EXACT
    * value (round-trip via toString is exact for doubles; the 'D'
    * suffix keeps the parser in double, never decimal).
    */
  private def dlit(v: Double): String = s"cast('$v' as double)"

  /** ANN top-k: per-table equi-joins on bucket id, unioned and deduped —
    * at scale this is L shuffle joins on small keys instead of a
    * quadratic cross join; exact cosine only within collisions.
    */
  def lshTopK(embeddings: DataFrame, queryFilter: org.apache.spark.sql.Column,
              k: Int, nPlanes: Int, nTables: Int, dim: Int): DataFrame = {
    val bucketed = BarrierCache.barrier(lshBuckets(embeddings, nPlanes, nTables, dim))
    val buckets = (0 until nTables).map(t => s"b$t")
    val q = bucketed.filter(queryFilter)
      .select(col("vec_id").as("query_id") +: col("embedding").as("qv") +:
        buckets.map(b => col(b).as(s"q_$b")): _*)
    val cand = bucketed
      .select(col("vec_id").as("cand_id") +: col("embedding").as("cv") +:
        buckets.map(col): _*)
    // dedupe on the id pair only (cheap), then re-attach vectors
    val idPairs = buckets.map { b =>
      q.select(col("query_id"), col(s"q_$b").as("k"))
        .join(cand.select(col("cand_id"), col(b).as("k")), "k")
        .select(col("query_id"), col("cand_id"))
    }.reduce(_ union _).distinct()
    // materialize the (small) id-pair barrier, then eagerly release the
    // bucketed copy of the embeddings — vectors re-attach from the
    // input below; the id-pair cache itself is registry-bounded
    BarrierCache.barrier(idPairs)
    idPairs.count()
    bucketed.unpersist()
    val scored = idPairs
      .filter(col("query_id") =!= col("cand_id"))
      .join(embeddings.select(col("vec_id").as("query_id"), col("embedding").as("qv")), "query_id")
      .join(embeddings.select(col("vec_id").as("cand_id"), col("embedding").as("cv")), "cand_id")
      .withColumn("cos", round(
        expr(dotSql("qv", "cv")) / (expr(normSql("qv")) * expr(normSql("cv"))), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rnk"))
  }

  /** Per-subspace squared L2 distance between two array<float> columns
    * over dims [8m, 8m+8) — an ordered fold, exact IEEE arithmetic, so
    * the oracle's range(8) sum reproduces it (same argument as dotSql).
    */
  private def subDistSql(a: String, b: String, m: Int): String =
    s"""aggregate(sequence(0, 7), CAST(0 AS DOUBLE), (acc, i) ->
       |  acc + (CAST($a[${8 * m} + i] AS DOUBLE) - CAST($b[${8 * m} + i] AS DOUBLE))
       |      * (CAST($a[${8 * m} + i] AS DOUBLE) - CAST($b[${8 * m} + i] AS DOUBLE)))"""
      .stripMargin.replace("\n", " ")

  /** Number of PQ subspaces (64-dim vectors -> 8 codes of 8 dims). */
  private val M = 8

  /** The centroid table of the deterministic coarse quantizer: the
    * sub-vectors of vec_id < 4 per 8-dim subspace (a fixed "training
    * sample" the oracle can replay). 4 rows — always broadcast.
    */
  private def pqCentroids(embeddings: DataFrame): DataFrame =
    embeddings.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))

  /** Per-subspace distances of each row of `df` (id column `idCol`) to
    * every centroid, exploded to (idCol, cid, m, d) — shared by the
    * code build (full corpus, once) and the query distance table (a few
    * rows, per query batch).
    */
  private def subspaceDists(df: DataFrame, idCol: String,
                            cent: DataFrame): DataFrame = {
    val distCols = (0 until M).map(m =>
      round(expr(subDistSql("embedding", "cv", m)), 6).as(s"d$m"))
    val mExpr = explode(expr(
      s"transform(sequence(0, ${M - 1}), m -> struct(m, element_at(" +
        s"array(${(0 until M).map(m => s"d$m").mkString(",")}), m + 1) AS d))"))
    df.select(col(idCol), col("embedding"))
      .crossJoin(broadcast(cent))
      .select(col(idCol) +: col("cid") +: distCols: _*)
      .select(col(idCol), col("cid"), mExpr.as("md"))
      .select(col(idCol), col("cid"), col("md.m").as("m"), col("md.d").as("d"))
  }

  /** The PQ "index build" half: one byte code per (vector, subspace) —
    * per-(vector, m) argmin over the centroid distances. This is the
    * one corpus-wide pass; persist its output (e.g. nightly, next to
    * the IVF assignment table) and every query serves from the codes
    * alone — at 100 TB the ~256x-compressed code table is what stays
    * memory-resident, and the quantizer never reruns at query time.
    */
  def pqCodes(embeddings: DataFrame): DataFrame = {
    GraftExtensions.install(embeddings.sparkSession)
    subspaceDists(embeddings, "vec_id", pqCentroids(embeddings))
      .groupBy(col("vec_id"), col("m"))
      .agg(max(struct((-col("d")).as("nd"), (-col("cid")).as("nc"))).as("best"))
      .select(col("vec_id"), col("m"), (-col("best.nc")).as("code"))
  }

  /** Product-quantization ANN top-k: 64-dim vectors quantize to M=8
    * one-byte codes ([[pqCodes]]). Query-time ADC: the query's 8x4
    * distance table broadcasts and every candidate scores with 8
    * lookups + an ordered 8-term sum — no vector arithmetic per
    * candidate. The 100 TB shape: the corpus compresses ~256x into
    * codes that stay in memory next to the inverted lists; exactness
    * is e1's job, PQ trades recall for a memory-resident scan.
    */
  def pqTopK(embeddings: DataFrame, queryFilter: org.apache.spark.sql.Column,
             k: Int, precomputedCodes: Option[DataFrame] = None): DataFrame = {
    GraftExtensions.install(embeddings.sparkSession)
    // index-serve split: pass a PERSISTED code table (pqCodes, built
    // once) and the query-time plan never quantizes the corpus — only
    // the query batch meets the (broadcast) centroids below
    val codes = precomputedCodes.getOrElse(pqCodes(embeddings))
    val cent = pqCentroids(embeddings)
    // query distance table: per (query, m, centroid) — tiny, broadcast
    val qdist = subspaceDists(
        embeddings.filter(queryFilter)
          .select(col("vec_id").as("query_id"), col("embedding")),
        "query_id", cent)
      .select(col("query_id"), col("cid").as("code"),
        col("m").as("m"), col("d").as("qd"))
    // ADC: 8 lookups per (query, candidate), one-contribution sums per
    // subspace then an ordered 8-term total (exact cross-engine)
    val mAggs = (0 until M).map(m =>
      sum(when(col("m") === m, col("qd"))).as(s"s$m"))
    val perM = codes.join(broadcast(qdist), Seq("m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(mAggs.head, mAggs.tail: _*)
    val total = (0 until M).map(m => col(s"s$m")).reduce(_ + _)
    // k-bounded heap top-k, not a window: the ADC stage scores the
    // whole code table per query, and a row_number window would pull
    // that corpus-sized run onto one task
    minAdcTopK(
      perM.select(col("query_id"), col("vec_id").as("cand_id"),
          round(total, 6).as("adc"))
        .filter(col("query_id") =!= col("cand_id")), k)
  }

  /** IVF+PQ combined ANN top-k — the canonical large-corpus serving
    * shape (FAISS `IVFPQ`): the IVF assignment prunes the candidate set
    * to the query's `nProbe` nearest cells, and PQ/ADC scores ONLY
    * those candidates from the compressed code table — no exact vector
    * arithmetic and no full-code scan. Both index halves are built once
    * ([[ivfAssign]], [[pqCodes]]) and passed in persisted; at 100 TB
    * the codes live bucketed by cell next to the inverted lists, so a
    * probe reads nProbe/nCells of a ~256x-compressed corpus. The
    * candidate restriction is an equi-join on cell id and the ADC
    * lookup a broadcast join on (query, subspace, code) — the full
    * corpus never shuffles and never decompresses.
    */
  def ivfPqTopK(embeddings: DataFrame, queryFilter: org.apache.spark.sql.Column,
                k: Int, nCells: Int, nProbe: Int,
                precomputedAssign: Option[DataFrame] = None,
                precomputedCodes: Option[DataFrame] = None,
                precomputedCellCodes: Option[DataFrame] = None): DataFrame = {
    GraftExtensions.install(embeddings.sparkSession)
    // the serving index: (vec_id, cell, m, code). Pass it PRE-JOINED
    // (PipelineQueries.ivfPqIndexDir, persisted at build time, bucketed
    // by cell on disk at scale) and the query plan contains NO corpus-wide join —
    // only the cell-pruned probe join and the broadcast ADC lookup.
    val cellCodes = precomputedCellCodes.getOrElse {
      val assign = precomputedAssign.getOrElse(ivfAssign(embeddings, nCells))
      val codes = precomputedCodes.getOrElse(pqCodes(embeddings))
      codes.join(assign, "vec_id")
    }
    // probe selection: identical to ivfTopK's (broadcast centroids,
    // top-nProbe cells by rounded cosine, ties to the lowest cell id)
    val cent = embeddings.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("pcos").desc, col("cid"))
    val probes = embeddings.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(cent))
      .withColumn("pcos", round(
        expr(dotSql("qv", "cv")) / (expr(normSql("qv")) * expr(normSql("cv"))), 6))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("cid").as("cell"))
    // query ADC distance table: tiny (queries x M x 4 centroids), broadcast
    val qdist = subspaceDists(
        embeddings.filter(queryFilter)
          .select(col("vec_id").as("query_id"), col("embedding")),
        "query_id", pqCentroids(embeddings))
      .select(col("query_id"), col("cid").as("code"),
        col("m").as("m"), col("d").as("qd"))
    // candidates = codes of vectors whose cell one of the query's
    // probes hits; a vector has ONE cell, so no dedup is needed
    val mAggs = (0 until M).map(m =>
      sum(when(col("m") === m, col("qd"))).as(s"s$m"))
    val perM = probes
      .join(cellCodes, "cell")
      .join(broadcast(qdist), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(mAggs.head, mAggs.tail: _*)
    val total = (0 until M).map(m => col(s"s$m")).reduce(_ + _)
    // cell-pruned pool, but still heap-aggregated: at 10^9 vectors even
    // nProbe/nCells of the corpus is too large for a one-task sort
    minAdcTopK(
      perM.select(col("query_id"), col("vec_id").as("cand_id"),
          round(total, 6).as("adc"))
        .filter(col("query_id") =!= col("cand_id")), k)
  }

  /** Two-stage retrieval, the production embedding-search shape: PQ/ADC
    * shortlists `kCand` candidates from compressed codes (memory-scan
    * stage), then ONLY those pairs re-rank with the exact cosine over
    * the original vectors (disk/exact stage). The rerank joins carry
    * 16-byte id pairs and re-attach vectors by hash join, so its cost is
    * kCand per query regardless of corpus size — compression errors in
    * the shortlist order are repaired wherever the true vector
    * disagrees, at a per-query price instead of a per-corpus one.
    */
  def pqRerankTopK(embeddings: DataFrame,
                   queryFilter: org.apache.spark.sql.Column,
                   kCand: Int, k: Int,
                   precomputedCodes: Option[DataFrame] = None): DataFrame = {
    GraftExtensions.install(embeddings.sparkSession)
    val cand = pqTopK(embeddings, queryFilter, kCand, precomputedCodes)
      .select(col("query_id"), col("cand_id"))
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val scored = cand
      .join(e.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        "query_id")
      .join(e.select(col("vec_id").as("cand_id"), col("embedding").as("cv")),
        "cand_id")
      .withColumn("cos", round(
        expr(dotSql("qv", "cv")) / (expr(normSql("qv")) * expr(normSql("cv"))), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rnk"))
  }

  /** SQ8 per-dimension quantization stats: the corpus' exact per-dim
    * min/max (dim rows — broadcast-sized), the "train" half of scalar
    * quantization. ONE global aggregate with 2·dim columns
    * (min/max of element_at per dimension) — map-side combined, a
    * single dim-row result crosses the wire, and the corpus is read
    * once with NO row multiplication (the posexplode form shuffled
    * dim × corpus rows; at sf1 that alone doubled the e12 gate).
    * Dim comes from one non-null row; the SAME pass also aggregates
    * min/max of `size(embedding)` and FAILS LOUD on a ragged corpus —
    * non-ANSI `element_at` past the end returns NULL and min/max would
    * otherwise silently truncate/mis-quantize the long dimensions
    * instead of erroring.
    */
  def sqStats(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val dim = embeddings.filter(col("embedding").isNotNull)
      .select(size(col("embedding"))).as[Int]
      .take(1).headOption.getOrElse(throw new IllegalArgumentException(
        "sq8: empty or all-null embeddings input"))
    // try_element_at (not element_at): on a ragged corpus the stats
    // pass must COMPLETE so the size min/max check below fails with
    // the real diagnosis instead of an ANSI index error mid-aggregate;
    // on the uniform corpora the contract requires, the two are
    // identical
    val aggs = (0 until dim).flatMap { i =>
      Seq(min(expr(s"cast(try_element_at(embedding, ${i + 1}) as double)")).as(s"mn$i"),
          max(expr(s"cast(try_element_at(embedding, ${i + 1}) as double)")).as(s"mx$i"))
    } ++ Seq(min(size(col("embedding"))).as("szmn"),
             max(size(col("embedding"))).as("szmx"))
    // the single agg row collects here (2*dim+2 values, dim-bounded —
    // the train half is a driver-side artifact like sq8Quantize's
    // literal ranges), so the dimension check can fail the BUILD with
    // a real message instead of a downstream decoder NPE
    val r = embeddings.agg(aggs.head, aggs.tail: _*).collect()(0)
    require(!r.isNullAt(2 * dim) && r.getInt(2 * dim) == dim &&
        r.getInt(2 * dim + 1) == dim,
      s"sq8: ragged embeddings (size min/max ${r.get(2 * dim)}/" +
        s"${r.get(2 * dim + 1)} != $dim) — scalar quantization requires " +
        "a fixed-dimension corpus")
    val rows = (0 until dim).map { i =>
      org.apache.spark.sql.Row(i,
        if (r.isNullAt(2 * i)) null else r.getDouble(2 * i),
        if (r.isNullAt(2 * i + 1)) null else r.getDouble(2 * i + 1))
    }
    // LocalRelation (not an RDD scan): dim rows of driver-collected
    // stats, broadcast-friendly for sqCodes' join
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("mn",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("mx",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
  }

  /** The SQ8 "index build" half: one byte code per (vector, dim) —
    * uniform 256-level quantization of each float onto [mn_d, mx_d],
    * reassembled into a dim-ordered int array per vector (4×
    * compression vs float32; integer codes are exact cross-engine).
    * Persist next to the other serving indexes; the quantizer never
    * reruns at query time.
    */
  def sqCodes(embeddings: DataFrame,
              precomputedStats: Option[DataFrame] = None): DataFrame = {
    val stats = precomputedStats.getOrElse(sqStats(embeddings))
    embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .join(broadcast(stats), "pos")
      .select(col("vec_id"), col("pos"), expr(
        "CAST(CASE WHEN mx = mn THEN 0 ELSE " +
          "round(255 * (CAST(v AS DOUBLE) - mn) / (mx - mn)) END AS INT)")
        .as("code"))
      .groupBy(col("vec_id"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, code))), x -> x.code)")
        .as("codes"))
  }

  /** IVF + SQ8 ANN top-k (the FAISS IVFSQ shape): cell-pruned
    * candidate lists scored ASYMMETRICALLY — full-precision query
    * against the candidate DEQUANTIZED from its persisted SQ8 codes.
    * Serve-time plan: probes pick nProbe cells off the broadcast
    * centroid table, candidates come from the persisted (assignment ⋈
    * codes) tables via an equi-join on cell, reconstruction is per-row
    * arithmetic against the broadcast dim-row stats — what stays
    * memory-resident at 100 TB is the 4×-compressed code table, and a
    * query touches nProbe/nCells of it. Deterministic cross-engine:
    * integer codes, double reconstruction arithmetic, cosines rounded
    * to 6.
    */
  def sqTopK(embeddings: DataFrame, queryFilter: org.apache.spark.sql.Column,
             k: Int, nCells: Int, nProbe: Int, dim: Int,
             precomputedCodes: Option[DataFrame] = None,
             precomputedAssign: Option[DataFrame] = None,
             precomputedStats: Option[DataFrame] = None): DataFrame = {
    GraftExtensions.install(embeddings.sparkSession)
    val codes = precomputedCodes.getOrElse(sqCodes(embeddings))
    val assign = precomputedAssign.getOrElse(ivfAssign(embeddings, nCells))
    val stats = precomputedStats.getOrElse(sqStats(embeddings))
    val statArrs = stats.groupBy().agg(
      expr("transform(array_sort(collect_list(struct(pos, mn))), x -> x.mn)")
        .as("mnA"),
      expr("transform(array_sort(collect_list(struct(pos, mx))), x -> x.mx)")
        .as("mxA"))
    val cand = codes.join(assign, "vec_id")
      .crossJoin(broadcast(statArrs))
      .select(col("vec_id").as("cand_id"), col("cell"), expr(
        s"transform(sequence(0, ${dim - 1}), i -> " +
          "element_at(mnA, i + 1) + element_at(codes, i + 1) * " +
          "(element_at(mxA, i + 1) - element_at(mnA, i + 1)) / 255.0D)")
        .as("rv"))
    val cent = embeddings.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("pcos").desc, col("cid"))
    val probes = embeddings.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(cent))
      .withColumn("pcos", round(
        expr(dotSql("qv", "cv")) / (expr(normSql("qv")) * expr(normSql("cv"))), 6))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("cid").as("cell"))
    val scored = probes.join(cand, "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", round(
        expr(dotSql("qv", "rv")) /
          (expr(normSql("qv")) * expr(s"sqrt(${dotSql("rv", "rv")})")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rnk"))
  }
}
