package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.pipeline.{Multimodal, TextOps, VectorOps}

/** LLM-training-data pipeline operators as driver-checkable queries.
  * Every hash/signature here is integer arithmetic shared verbatim with
  * the oracle SQL, so even MinHash-LSH and hyperplane-LSH results are
  * exact-matched against DuckDB (not just rows-only).
  */
object PipelineQueries extends QuerySet {

  import TextOps.P

  // ---- shared oracle fragments (DuckDB dialect) ----

  private val duckGrams =
    s"""tri AS (
       |  SELECT DISTINCT doc_id, ${TextOps.gram5Sql} AS tg
       |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 3)) AS i
       |        FROM documents WHERE length(text) >= 5))""".stripMargin

  private def duckParams(k: Int) =
    s"""params AS (
       |  SELECT j, (7919 * (j + 1)) % $P AS a, (104729 * (j + 7)) % $P AS b
       |  FROM (SELECT unnest(range(0, $k)) AS j))""".stripMargin

  private val duckBands =
    s"""mh AS (SELECT doc_id, j, min((a * tg + b) % $P) AS h
       |       FROM tri, params GROUP BY doc_id, j),
       |bands AS (
       |  SELECT doc_id, j // 4 AS band,
       |    CAST(sum((h % 4096) * CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 4096
       |         WHEN 2 THEN 16777216 ELSE 68719476736 END) AS BIGINT) AS sig
       |  FROM mh GROUP BY doc_id, j // 4)""".stripMargin

  /** Hot-bucket cap shared by d2/d13's LSH candidate generation, and
    * ACTIVE in the gates (not just available): a (band, sig) bucket of
    * n docs emits n(n-1)/2 pairs, so one boilerplate signature turns
    * candidate generation quadratic — the round-10 sf10 probe measured
    * exactly that (d13's rerank join spilled past the disk; d2 went
    * 39.7x at 10x data). Buckets past the cap are dropped whole (the
    * declared approximation: a 100 TB dedup treats mega-cluster
    * boilerplate with exact-hash prepasses, not per-pair rerank); the
    * oracles replay the same cap, and PipelineSpec carries a
    * cap-active gate.
    */
  val LshMaxBucket = 64

  /** Hot-bucket cap for the EMBEDDING LSH (d9), the same guard class:
    * hyperplane-LSH has a FIXED bucket count (2^nPlanes per table)
    * while the corpus grows, so occupancy — and the candidate
    * self-join's output — grows quadratically with corpus size (the
    * sf100 probe measured 2M near-random vectors at ~7.8k per bucket
    * ≈ billions of pairs). Buckets past the cap drop whole, per
    * table; the oracle replays the cap. 256 leaves every oracle SF
    * untouched (occupancy ~2 at sf0.01, ~78 at sf1) and bounds the
    * decade above; a production deployment ALSO scales nPlanes with
    * log(corpus).
    */
  val CosLshMaxBucket = 256

  /** The cap, replayed in DuckDB: drop whole buckets past LshMaxBucket
    * before the band self-join. */
  private val duckPrunedBands =
    s"""hot AS (SELECT band, sig FROM bands GROUP BY band, sig
       |        HAVING count(*) > $LshMaxBucket),
       |pruned AS (
       |  SELECT b.* FROM bands b WHERE NOT EXISTS (
       |    SELECT 1 FROM hot h WHERE h.band = b.band AND h.sig = b.sig))""".stripMargin

  /** Decontamination semantics shared by d10 (exact broadcast) and d22
    * (Bloom-prefiltered): the Bloom path has no false negatives and
    * exact-confirms its false positives away, so BOTH queries must
    * hash-match this one oracle.
    */
  private val decontamOracle =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tri AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
      |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w)),
      |test AS (SELECT DISTINCT g FROM tri WHERE doc_id % 50 = 0),
      |train AS (SELECT * FROM tri WHERE doc_id % 50 <> 0),
      |tot AS (SELECT doc_id, count(*) AS total FROM train GROUP BY 1),
      |sh AS (SELECT t.doc_id, count(*) AS shared
      |       FROM train t JOIN test te USING (g) GROUP BY 1)
      |SELECT s.doc_id, shared, total,
      |  round(shared * CAST(1 AS DOUBLE) / total, 4) AS frac
      |FROM sh s JOIN tot USING (doc_id)
      |WHERE shared * CAST(1 AS DOUBLE) / total >= 0.05
      |ORDER BY doc_id""".stripMargin

  /** The IVF replay with a candidate-side predicate hole — "true" is
    * the plain e3/e4 oracle; e9 plugs its metadata filter in. The
    * filter restricts ONLY the scored candidates (`c`), exactly like
    * the engine's candFilter: quantizer, assignment, and probe
    * selection see the full corpus.
    */
  private def ivfOracleWhere(candCond: String): String =
    s"""WITH e AS (SELECT vec_id, embedding, label,
              |    sqrt((SELECT sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)
              |          FROM range(64) t(i))) AS nrm
              |  FROM embeddings),
              |cent AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm
              |         FROM e WHERE vec_id < 8),
              |ac AS (SELECT v.vec_id, c.cid,
              |    round((SELECT sum(v.embedding[i+1]::DOUBLE * c.cv[i+1]::DOUBLE)
              |           FROM range(64) t(i)) / (v.nrm * c.cnrm), 6) AS cos
              |  FROM e v, cent c),
              |assign AS (SELECT vec_id, cid AS cell FROM (
              |    SELECT vec_id, cid,
              |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
              |    FROM ac) WHERE rn = 1),
              |probe AS (SELECT vec_id AS query_id, cid AS cell FROM (
              |    SELECT vec_id, cid,
              |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
              |    FROM ac WHERE vec_id < 3) WHERE rn <= 2),
              |scored AS (SELECT p.query_id, a2.vec_id AS cand_id,
              |    round((SELECT sum(q.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE)
              |           FROM range(64) t(i)) / (q.nrm * c.nrm), 6) AS cos
              |  FROM probe p JOIN assign a2 ON p.cell = a2.cell AND a2.vec_id <> p.query_id
              |  JOIN e q ON q.vec_id = p.query_id
              |  JOIN e c ON c.vec_id = a2.vec_id AND ($candCond)),
              |ranked AS (SELECT query_id, cand_id, cos,
              |    row_number() OVER (PARTITION BY query_id
              |                       ORDER BY cos DESC, cand_id) AS rnk
              |  FROM scored)
              |SELECT query_id, cand_id, cos, CAST(rnk AS BIGINT) AS rnk
              |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  private val ivfOracle: String = ivfOracleWhere("true")

  /** Where a staged index of `kind` over scale dir `dir` lives. The
    * name starts with the kind: Spark's file index skips a path whose
    * name starts with `_` or `.` as hidden, and a scale dir's flattened
    * path starts with `_`.
    */
  private def stagedDir(dir: String, kind: String): String =
    s"/tmp/graft_pipeline/${kind}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** Persisted IVF assignment table (cell per vector), built once per
    * JVM and scale dir — the "index build" half of e4's build/serve
    * split. Lives under /tmp; nothing touches the repo or testdata.
    */
  def ivfIndexDir(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val out = stagedDir(dir, "ivf")
    Staging.once(out) {
      VectorOps.ivfAssign(Tables.load(s, dir, "embeddings"), 8)
        .write.mode("overwrite").parquet(out)
      out
    }
  }

  /** Persisted MinHash LSH band signatures of the documents corpus
    * (k=16, 4x4 banding), built once per JVM and scale dir — the
    * "index build" half of near-dup detection, the same build/serve
    * split as [[ivfIndexDir]]/[[pqIndexDir]]. Signatures are a pure
    * per-row projection, so at 100 TB they are computed once at ingest
    * (or as a nightly index) and every dedup query starts from the
    * 16-byte (doc_id, band, sig) rows instead of re-hashing the corpus.
    */
  def lshBandsDir(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val out = stagedDir(dir, "lshbands")
    Staging.once(out) {
      TextOps.bandSignaturesDirect(Tables.load(s, dir, "documents"), 16, 4)
        .write.mode("overwrite").parquet(out)
      out
    }
  }

  /** d29's documented 100 TB swap, now real: the source-overlap matrix
    * WITHOUT the 64-source bitmask cap or the exact gram intersection.
    * Each source gets a k-component MinHash signature as the
    * element-wise MIN over ALL its docs' gram hashes — min over a union
    * of sets is the signature of the union, so the whole corpus reduces
    * MAP-SIDE (partial min combine) to n_sources x k values and the
    * pair stage is a broadcast self-join over that tiny frame: no
    * gram-keyed shuffle wider than d29's, no pair stage that grows
    * with the corpus, any number of sources. `jaccard` is the
    * matching-component fraction (stderr ~ sqrt(J(1-J)/k), ~0.03 at
    * the default k=256); `ic` backs out |A∩B| = J/(1+J)*(|A|+|B|)
    * with per-source cardinalities from approx_count_distinct. Output
    * schema matches d29 exactly (s1, s2, ic, jaccard);
    * SourceOverlapApproxSpec gates the estimates against the exact
    * path on the sf0.01 corpus.
    */
  def sourceOverlapApprox(docs0: org.apache.spark.sql.DataFrame,
                          k: Int = 256): org.apache.spark.sql.DataFrame = {
    require(k >= 16, s"k=$k too small for a usable estimate")
    graft.sql.GraftExtensions.install(docs0.sparkSession)
    val docs = docs0.filter(length(col("text")) >= 5)
    val grams = docs.select(col("source"),
      explode(expr("grams5(text)")).as("tg"))
    val aggs = (0 until k).map(j =>
      min(expr(TextOps.minhashHashSql(j))).as(s"h$j")) :+
      approx_count_distinct(col("tg")).as("sz")
    val sigs = grams.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
      .select(col("source"), col("sz"),
        array((0 until k).map(j => col(s"h$j")): _*).as("sig"))
    val a = sigs.select(col("source").as("s1"), col("sz").as("z1"),
      col("sig").as("g1"))
    val b = sigs.select(col("source").as("s2"), col("sz").as("z2"),
      col("sig").as("g2"))
    // n_sources rows per side: the inequality join is a broadcast
    // nested loop over a frame thousands of rows wide at most
    a.join(broadcast(b), col("s1") < col("s2"))
      .withColumn("matches", expr(
        "aggregate(zip_with(g1, g2, (x, y) -> IF(x = y, 1, 0)), 0, " +
          "(acc, v) -> acc + v)"))
      .withColumn("jaccard", round(col("matches") / lit(k.toDouble), 4))
      .withColumn("ic", round(col("jaccard") / (lit(1.0) + col("jaccard")) *
        (col("z1") + col("z2"))).cast("bigint"))
      .select(col("s1"), col("s2"), col("ic"), col("jaccard"))
      .orderBy(col("s1"), col("s2"))
  }

  /** Persisted PQ code table (M one-byte codes per vector), built once
    * per JVM and scale dir — the "index build" half of e5/e6's
    * build/serve split, mirroring [[ivfIndexDir]]. Query-time plans
    * read these codes and never quantize the corpus.
    */
  def pqIndexDir(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val out = stagedDir(dir, "pq")
    Staging.once(out) {
      VectorOps.pqCodes(Tables.load(s, dir, "embeddings"))
        .write.mode("overwrite").parquet(out)
      out
    }
  }

  /** Persisted SQ8 serving index — (codes dir, stats dir), built once
    * per JVM and scale dir: the per-dim min/max "training" table and
    * the 4×-compressed per-vector code arrays quantized against it.
    * The e8 query-time plan reads BOTH halves and never touches the
    * float corpus except for the query batch itself.
    */
  def sqIndexDirs(s: org.apache.spark.sql.SparkSession,
                  dir: String): (String, String) = {
    val (codes, stats) = (stagedDir(dir, "sq_codes"), stagedDir(dir, "sq_stats"))
    Staging.once(codes) {
      val emb = Tables.load(s, dir, "embeddings")
      VectorOps.sqStats(emb).write.mode("overwrite").parquet(stats)
      VectorOps.sqCodes(emb, Some(s.read.parquet(stats)))
        .write.mode("overwrite").parquet(codes)
      (codes, stats)
    }
  }

  /** Persisted IVF+PQ serving index — PQ codes pre-joined with the IVF
    * cell assignment, (vec_id, cell, m, code) — built once per JVM and
    * scale dir by JOINING THE TWO PERSISTED HALVES (ivfIndexDir x
    * pqIndexDir), not by re-quantizing the corpus: the combined index
    * is byte-derived from exactly what e4/e5/e6 serve from. The e7
    * query plan then contains NO corpus-wide join: only the
    * cell-pruned probe equi-join and the broadcast ADC lookup. At
    * 100 TB this is the table bucketed by cell on disk.
    */
  def ivfPqIndexDir(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val out = stagedDir(dir, "ivfpq")
    Staging.once(out) {
      s.read.parquet(pqIndexDir(s, dir))
        .join(s.read.parquet(ivfIndexDir(s, dir)), "vec_id")
        .write.mode("overwrite").parquet(out)
      out
    }
  }

  /** The persisted indexes the e and d queries serve from. */
  def staging: Seq[StageJob] = Seq(
    StageJob("ivf", ivfIndexDir), StageJob("pq", pqIndexDir),
    StageJob("sq", sqIndexDirs), StageJob("lshbands", lshBandsDir),
    StageJob("ivfpq", ivfPqIndexDir))

  def all: Seq[Q] = Seq(

    // ---- deduplication ----

    // Exact dedup: canonical doc per distinct normalized text. The
    // shuffle key is (xxhash64, length) of the normalized text — 16
    // bytes/row — NOT the text itself; at 100 TB the exchange carries
    // only doc_id + hash, never the corpus. The oracle groups by
    // lower(text) directly: identical groups barring a 64-bit-hash+
    // length collision, so the outputs hash-match.
    Q("d1_dedup_exact",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .groupBy(xxhash64(lower(col("text"))).as("norm_hash"),
                   length(col("text")).as("norm_len"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .groupBy(col("n_copies"))
          .agg(count(lit(1)).as("n_groups"), min(col("keep_id")).as("first_keep"))
          .orderBy(col("n_copies"))
      },
      Some("""SELECT n_copies, count(*) AS n_groups, min(keep_id) AS first_keep
              FROM (SELECT min(doc_id) AS keep_id, count(*) AS n_copies
                    FROM documents GROUP BY lower(text))
              GROUP BY n_copies ORDER BY n_copies""")),

    // MinHash (k=16) + LSH banding (4x4) near-dup candidates with exact
    // 5-gram Jaccard — the linear-time near-dup path for 100 TB corpora.
    Q("d2_dedup_minhash_lsh",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // Signatures come from the PERSISTED band index (lshBandsDir —
        // a native one-pass minhash_bands projection, built once), so
        // candidate generation's only shuffle is the band self-join.
        // The rerank computes per-row SORTED gram arrays for candidate
        // docs only (broadcast left-semi restriction — the corpus never
        // shuffles) and scores each pair with a native linear-merge
        // intersection: two hash joins + a projection, no explode, no
        // group-by.
        val cand = graft.pipeline.BarrierCache.barrier(
          TextOps.lshCandidates(
            s.read.parquet(lshBandsDir(s, dir)),
            maxBucket = Some(LshMaxBucket)))
        // no .distinct(): the left-semi join dedups its build side
        val candDocs = cand.select(col("d1").as("doc_id"))
          .union(cand.select(col("d2").as("doc_id")))
        TextOps.exactJaccardDirect(
            docs.join(candDocs, Seq("doc_id"), "left_semi"), cand)
          .select(col("d1"), col("d2"), col("jaccard"))
          .orderBy(col("d1"), col("d2"))
      },
      Some(s"""WITH $duckGrams, ${duckParams(16)}, $duckBands,
               |$duckPrunedBands,
               |cand AS (
               |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
               |  FROM pruned a JOIN pruned b
               |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
               |sizes AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY doc_id),
               |inter AS (
               |  SELECT d1, d2, count(*) AS ic
               |  FROM cand JOIN tri t1 ON d1 = t1.doc_id
               |            JOIN tri t2 ON d2 = t2.doc_id AND t1.tg = t2.tg
               |  GROUP BY d1, d2)
               |SELECT d1, d2,
               |  round(ic * CAST(1 AS DOUBLE) / (s1.sz + s2.sz - ic), 4) AS jaccard
               |FROM inter JOIN sizes s1 ON d1 = s1.doc_id
               |           JOIN sizes s2 ON d2 = s2.doc_id
               |ORDER BY d1, d2""".stripMargin)),

    // SimHash 16-bit signatures per document — a pure per-row
    // projection (native one-pass expression), so at 100 TB the only
    // stateful operator is the output sort.
    Q("d3_dedup_simhash",
      (s, dir) => {
        TextOps.simhashDirect(Tables.load(s, dir, "documents"), 16)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $duckGrams, ${duckParams(16)},
               |sgn AS (
               |  SELECT doc_id, j,
               |    sum(CASE WHEN ((a * tg + b) % $P) % 2 = 1 THEN 1 ELSE -1 END) AS s
               |  FROM tri, params GROUP BY doc_id, j)
               |SELECT doc_id,
               |  CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)
               |       AS BIGINT) AS simhash
               |FROM sgn GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Exact n-gram Jaccard on a bounded candidate set (same source).
    Q("d4_ngram_jaccard",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").filter(col("doc_id") < 120)
        val grams = TextOps.grams5(docs)
        val a = docs.select(col("doc_id").as("d1"), col("source"))
        val b = docs.select(col("doc_id").as("d2"), col("source"))
        val pairs = a.join(b, "source").filter(col("d1") < col("d2")).select("d1", "d2")
        TextOps.exactJaccard(grams, pairs)
          .filter(col("jaccard") >= 0.15)
          .select(col("d1"), col("d2"), col("jaccard"))
          .orderBy(col("d1"), col("d2"))
      },
      Some(s"""WITH docs AS (SELECT * FROM documents WHERE doc_id < 120),
               |tri AS (
               |  SELECT DISTINCT doc_id, ${TextOps.gram5Sql} AS tg
               |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 3)) AS i
               |        FROM docs WHERE length(text) >= 5)),
               |pairs AS (
               |  SELECT a.doc_id AS d1, b.doc_id AS d2 FROM docs a
               |  JOIN docs b ON a.source = b.source AND a.doc_id < b.doc_id),
               |sizes AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY doc_id),
               |inter AS (
               |  SELECT d1, d2, count(*) AS ic
               |  FROM pairs JOIN tri t1 ON d1 = t1.doc_id
               |             JOIN tri t2 ON d2 = t2.doc_id AND t1.tg = t2.tg
               |  GROUP BY d1, d2)
               |SELECT d1, d2, round(ic * CAST(1 AS DOUBLE) / (s1.sz + s2.sz - ic), 4) AS jaccard
               |FROM inter JOIN sizes s1 ON d1 = s1.doc_id
               |           JOIN sizes s2 ON d2 = s2.doc_id
               |WHERE round(ic * CAST(1 AS DOUBLE) / (s1.sz + s2.sz - ic), 4) >= 0.15
               |ORDER BY d1, d2""".stripMargin)),

    // ---- text analysis ----

    // Language-ID by marker-word counts (replace-arithmetic n-gram
    // heuristic; deterministic in any dialect).
    Q("d5_langid",
      (s, dir) => {
        val en = TextOps.markerCountNativeSql("the")
        val art = TextOps.markerCountNativeSql("a")
        Tables.load(s, dir, "documents")
          .selectExpr("doc_id",
            s"CAST($en AS BIGINT) AS en_score",
            s"CAST($art AS BIGINT) AS art_score",
            s"CASE WHEN ($en) + ($art) >= 8 THEN 'en' " +
              s"WHEN ($en) + ($art) >= 3 THEN 'en-maybe' ELSE 'unk' END AS langid")
          .orderBy(col("doc_id"))
      },
      Some {
        val en = TextOps.toDuck(TextOps.markerCountSql("the"))
        val art = TextOps.toDuck(TextOps.markerCountSql("a"))
        s"""SELECT doc_id, CAST($en AS BIGINT) AS en_score,
           |CAST($art AS BIGINT) AS art_score,
           |CASE WHEN ($en) + ($art) >= 8 THEN 'en'
           |     WHEN ($en) + ($art) >= 3 THEN 'en-maybe' ELSE 'unk' END AS langid
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // Quality scoring: length/word statistics + keep/drop label.
    Q("d6_quality",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .selectExpr("doc_id",
            "CAST(length(text) AS BIGINT) AS n_chars",
            s"CAST(${TextOps.wordCountNativeSql} AS BIGINT) AS n_words")
          .selectExpr("doc_id", "n_chars", "n_words",
            "round((n_chars - n_words + 1) * CAST(1 AS DOUBLE) / n_words, 4) AS avg_word_len")
          .selectExpr("doc_id", "n_chars", "n_words", "avg_word_len",
            "CASE WHEN n_words >= 40 AND avg_word_len BETWEEN 3.0 AND 8.0 THEN 'keep' " +
              "WHEN n_words >= 10 THEN 'review' ELSE 'drop' END AS label")
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, n_chars, n_words,
               |  round((n_chars - n_words + 1) * CAST(1 AS DOUBLE) / n_words, 4) AS avg_word_len,
               |  CASE WHEN n_words >= 40
               |         AND (n_chars - n_words + 1) * CAST(1 AS DOUBLE) / n_words BETWEEN 3 AND 8
               |       THEN 'keep'
               |       WHEN n_words >= 10 THEN 'review' ELSE 'drop' END AS label
               |FROM (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
               |      CAST(${TextOps.wordCountSql} AS BIGINT) AS n_words
               |      FROM documents)
               |ORDER BY doc_id""".stripMargin)),

    // Token counting: whitespace tokens + a bytes-per-token BPE estimate.
    Q("d7_tokens",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .selectExpr("source",
            s"CAST(${TextOps.wordCountNativeSql} AS BIGINT) AS ws_tokens",
            "CAST((length(text) + 3) div 4 AS BIGINT) AS bpe_est",
            "CAST(length(text) AS BIGINT) AS n_chars")
          .groupBy(col("source"))
          .agg(sum(col("ws_tokens")).as("total_ws_tokens"),
               sum(col("bpe_est")).as("total_bpe_est"),
               round(sum(col("n_chars")) * 1.0 / sum(col("ws_tokens")), 4)
                 .as("chars_per_token"))
          .orderBy(col("source"))
      },
      Some(s"""SELECT source,
               |  CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
               |  CAST(sum(bpe_est) AS BIGINT) AS total_bpe_est,
               |  round(sum(n_chars) * CAST(1 AS DOUBLE) / sum(ws_tokens), 4) AS chars_per_token
               |FROM (SELECT source, CAST(${TextOps.toDuck(TextOps.wordCountSql)} AS BIGINT) AS ws_tokens,
               |      CAST((length(text) + 3) // 4 AS BIGINT) AS bpe_est,
               |      CAST(length(text) AS BIGINT) AS n_chars FROM documents)
               |GROUP BY source ORDER BY source""".stripMargin)),

    // Document fingerprint from the gram-hash family (min-hash + sum
    // fold) — per-row native expression, no explode/shuffle.
    Q("d8_fingerprint",
      (s, dir) => {
        TextOps.fingerprintDirect(Tables.load(s, dir, "documents"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $duckGrams,
               |agg AS (
               |  SELECT doc_id,
               |    min((${TextOps.aConst(0)} * tg + ${TextOps.bConst(0)}) % $P) AS minh,
               |    CAST(sum(tg) % $P AS BIGINT) AS sumh, count(*) AS n_grams
               |  FROM tri GROUP BY doc_id)
               |SELECT doc_id,
               |  CAST((minh * 31 + sumh * 17 + n_grams) % 2147483647 AS BIGINT) AS fingerprint
               |FROM agg ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination: flag training docs whose word-trigram
    // set overlaps a held-out benchmark (doc_id % 50 == 0 stands in for
    // the eval suite). Scale shape: per-doc DISTINCT gram sets come
    // from the one-pass native `word_ngrams` expression INSIDE the row
    // (no corpus-wide distinct exchange — per-doc dedup never needs
    // one), per-doc totals are a row-local size(), and the benchmark
    // gram set is tiny relative to the corpus (eval suites always are)
    // so it BROADCASTS: the train explode is map-side filtered and the
    // only shuffle in the whole query is the per-doc count over
    // broadcast-join survivors. Grams are the literal word trigrams
    // here so DuckDB joins on identical keys; at 100 TB you'd xxhash64
    // them to fix the key width.
    Q("d10_decontaminate",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), expr("word_ngrams(text, 3)").as("tris"))
          .filter(size(col("tris")) > 0)
        val testG = docs.filter(col("doc_id") % 50 === 0)
          .select(explode(col("tris")).as("g")).distinct()
        val shared = docs.filter(col("doc_id") % 50 =!= 0)
          .select(col("doc_id"), size(col("tris")).cast("long").as("total"),
                  explode(col("tris")).as("g"))
          .join(broadcast(testG), "g")
          .groupBy("doc_id", "total").agg(count(lit(1)).as("shared"))
        shared
          .filter(col("shared") / col("total") >= 0.05)
          .select(col("doc_id"), col("shared"), col("total"),
                  round(col("shared") / col("total"), 4).as("frac"))
          .orderBy(col("doc_id"))
      },
      Some(decontamOracle)),

    // Gopher-style repetition signals, computed per row with array
    // expressions only — no explode, no shuffle, the whole thing is one
    // codegen'd projection (the oracle re-derives the same stats the
    // relational way, via unnest + group). At 100 TB this is the shape
    // you want: quality filtering that streams through the scan.
    Q("d11_gopher_repetition",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"),
            size(col("w")).cast("long").as("words"),
            expr("size(array_distinct(w))").cast("long").as("distinct_words"),
            expr("array_max(transform(array_distinct(w), x -> size(filter(w, y -> y = x))))")
              .cast("long").as("top_count"))
          .select(col("doc_id"), col("words"), col("distinct_words"),
            col("top_count"),
            round(col("distinct_words") / col("words"), 4).as("distinct_ratio"),
            round(col("top_count") / col("words"), 4).as("top_frac"),
            when(col("distinct_words") / col("words") < 0.35 ||
                 col("top_count") / col("words") > 0.15, 1L).otherwise(0L)
              .as("flagged"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              |          FROM documents),
              |per AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
              |st AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS words,
              |              CAST(count(*) AS BIGINT) AS distinct_words,
              |              CAST(max(c) AS BIGINT) AS top_count
              |       FROM per GROUP BY 1)
              |SELECT doc_id, words, distinct_words, top_count,
              |  round(distinct_words * CAST(1 AS DOUBLE) / words, 4) AS distinct_ratio,
              |  round(top_count * CAST(1 AS DOUBLE) / words, 4) AS top_frac,
              |  CAST(CASE WHEN distinct_words * CAST(1 AS DOUBLE) / words < 0.35
              |         OR top_count * CAST(1 AS DOUBLE) / words > 0.15
              |       THEN 1 ELSE 0 END AS BIGINT) AS flagged
              |FROM st ORDER BY doc_id""".stripMargin)),

    // Deterministic corpus mixing (temperature resampling): per-source
    // sampling thresholds from sqrt-scaled token mass (alpha = 0.5 —
    // upweights small sources, the standard pretraining mix), applied
    // by integer hash acceptance so the SAMPLE ITSELF is reproducible
    // cross-engine, not just the rates. All per-source stats are tiny
    // -> both joins broadcast; the corpus never shuffles. floor(sqrt)
    // on integers is cross-engine exact (perfect squares are exact in
    // doubles; irrationals can't sit on the floor boundary).
    Q("d12_mix_resample",
      (s, dir) => {
        val wc = TextOps.wordCountNativeSql
        val docs = Tables.load(s, dir, "documents")
        val bySrc = docs
          .groupBy(col("source"))
          .agg(sum(expr(s"CAST($wc AS BIGINT)")).as("toks"),
               count(lit(1)).as("n_in"))
        val thr = bySrc
          .crossJoin(broadcast(bySrc.agg(
            max(expr("CAST(floor(sqrt(toks)) AS BIGINT)")).as("mx"))))
          .select(col("source"), col("n_in"),
            expr("(10000 * CAST(floor(sqrt(toks)) AS BIGINT)) div mx").as("thr"))
        docs.join(broadcast(thr), "source")
          .filter(expr("((7919 * doc_id + 104729) % 1000003) % 10000") < col("thr"))
          .groupBy(col("source"), col("n_in"), col("thr"))
          .agg(count(lit(1)).as("kept"))
          .orderBy(col("source"))
      },
      Some(s"""WITH by_src AS (
               |  SELECT source, CAST(sum(CAST(${TextOps.toDuck(TextOps.wordCountSql)} AS BIGINT)) AS BIGINT) AS toks,
               |         count(*) AS n_in
               |  FROM documents GROUP BY 1),
               |mx AS (SELECT max(CAST(floor(sqrt(toks)) AS BIGINT)) AS mx FROM by_src),
               |thr AS (
               |  SELECT source, n_in,
               |         (10000 * CAST(floor(sqrt(toks)) AS BIGINT)) // mx AS thr
               |  FROM by_src, mx)
               |SELECT t.source, t.n_in, t.thr, count(*) AS kept
               |FROM documents d JOIN thr t ON d.source = t.source
               |WHERE ((7919 * d.doc_id + 104729) % 1000003) % 10000 < t.thr
               |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)),

    // THE END-TO-END CURATION PIPELINE in one query: language filter ->
    // quality floor -> exact dedup (min-doc_id winner per normalized
    // text) -> LSH near-dup removal (jaccard >= 0.5 drops the higher
    // doc_id) -> per-source corpus report. Each stage keeps its
    // standalone query's scale shape: per-row filters stream through
    // the scan, dedup is ONE exchange keyed by the 16-byte
    // (xxhash64, length) of the text (a window keeps the winner — no
    // second join shuffle to re-attach survivors), signatures are a
    // per-row native projection, the rerank is candidate-restricted.
    // The cached survivor checkpoint carries its token count, so the
    // final report never recomputes text expressions.
    Q("d13_curation_pipeline",
      (s, dir) => {
        val en = TextOps.markerCountNativeSql("the")
        val art = TextOps.markerCountNativeSql("a")
        val wc = TextOps.wordCountNativeSql
        val docs = Tables.load(s, dir, "documents")
        val filtered = docs
          .filter(expr(s"($en) + ($art) >= 3 AND ($wc) >= 10"))
        // Survivors feed three consumers (signatures, rerank
        // restriction, final report) — cache this checkpoint like a
        // real curation pipeline materializes between stages, rather
        // than re-scanning + re-filtering the corpus per consumer.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(xxhash64(lower(col("text"))), length(col("text")))
          .orderBy(col("doc_id"))
        val surv = graft.pipeline.BarrierCache.barrier(filtered
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("source"), col("text"),
                  expr(s"CAST($wc AS BIGINT)").as("toks")))
        // materialize the checkpoint EAGERLY: every consumer reads all
        // of it anyway, and a partially-built cache feeds AQE
        // timing-dependent size stats — the downstream join strategy
        // (and so the plan fingerprint) flipped run to run until the
        // stats came from the full materialization
        surv.count()
        // near-dup candidates: signatures are a per-row native
        // projection over the (cached) survivors — cheaper than
        // semi-joining the persisted corpus-wide band index down to
        // the survivor set (measured; the index pays off when serving
        // the whole corpus, as in d2, not a filtered checkpoint)
        val cand = graft.pipeline.BarrierCache.barrier(
          TextOps.lshCandidates(
            TextOps.bandSignaturesDirect(surv, 16, 4),
            maxBucket = Some(LshMaxBucket)))
        cand.count() // eager, same reason as surv above
        // no .distinct() on either id set: the left-semi and left-anti
        // joins below dedup their build side for free
        val candDocs = cand.select(col("d1").as("doc_id"))
          .union(cand.select(col("d2").as("doc_id")))
        val dups = TextOps.exactJaccardDirect(
            surv.join(candDocs, Seq("doc_id"), "left_semi"), cand)
          .filter(col("jaccard") >= 0.5)
          .select(col("d2").as("doc_id"))
        surv.join(dups, Seq("doc_id"), "left_anti")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("toks"))
          .orderBy(col("source"))
      },
      Some {
        val en = TextOps.toDuck(TextOps.markerCountSql("the"))
        val art = TextOps.toDuck(TextOps.markerCountSql("a"))
        val wc = TextOps.toDuck(TextOps.wordCountSql)
        s"""WITH filtered AS (
           |  SELECT doc_id, source, text FROM documents
           |  WHERE ($en) + ($art) >= 3 AND ($wc) >= 10),
           |winners AS (
           |  SELECT min(doc_id) AS doc_id FROM filtered GROUP BY lower(text)),
           |surv AS (
           |  SELECT f.doc_id, f.source, f.text
           |  FROM filtered f JOIN winners USING (doc_id)),
           |tri AS (
           |  SELECT DISTINCT doc_id, ${TextOps.gram5Sql} AS tg
           |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 3)) AS i
           |        FROM surv WHERE length(text) >= 5)),
           |${duckParams(16)},
           |$duckBands,
           |$duckPrunedBands,
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |  FROM pruned a JOIN pruned b
           |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY doc_id),
           |inter AS (
           |  SELECT d1, d2, count(*) AS ic
           |  FROM cand JOIN tri t1 ON d1 = t1.doc_id
           |            JOIN tri t2 ON d2 = t2.doc_id AND t1.tg = t2.tg
           |  GROUP BY d1, d2),
           |dups AS (
           |  SELECT DISTINCT d2 FROM inter
           |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
           |  WHERE round(ic * CAST(1 AS DOUBLE) / (s1.sz + s2.sz - ic), 4) >= 0.5)
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(CAST($wc AS BIGINT)) AS BIGINT) AS toks
           |FROM surv WHERE doc_id NOT IN (SELECT d2 FROM dups)
           |GROUP BY source ORDER BY source""".stripMargin
      }),

    // Chunk-level (RefinedWeb-style span) dedup: docs split into
    // disjoint 10-word chunks; a chunk is "duplicated" when its text
    // occurs in >= 2 distinct docs. Scale shape: the chunk exchange
    // carries 8-byte xxhash64 keys (never chunk text), the dup set is
    // a hash-only aggregate joined back by hash, and the report is a
    // per-source roll-up. The oracle groups by chunk text directly —
    // identical barring a 64-bit collision (same argument as d1).
    Q("d14_chunk_dedup",
      (s, dir) => {
        val chunkExpr =
          "transform(sequence(0, CAST((size(split(text, ' ')) - 1) div 10 AS INT)), " +
            "i -> array_join(slice(split(text, ' '), i * 10 + 1, 10), ' '))"
        val chunks = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(expr(chunkExpr)).as("chunk"))
          .select(col("doc_id"), col("source"), xxhash64(col("chunk")).as("ch"))
        val dup = chunks.groupBy(col("ch"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select(col("ch"), lit(1L).as("isdup"))
        chunks.join(dup, Seq("ch"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_chunks"),
               sum(coalesce(col("isdup"), lit(0L))).as("dup_chunks"))
          .select(col("source"), col("n_chunks"), col("dup_chunks"),
            round(col("dup_chunks") * lit(1.0) / col("n_chunks"), 4).as("dup_frac"))
          .orderBy(col("source"))
      },
      Some("""WITH ws AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
             |ch AS (SELECT doc_id, source, array_to_string(w[i*10+1 : i*10+10], ' ') AS chunk
             |       FROM (SELECT doc_id, source, w,
             |             unnest(range(0, (len(w)-1)//10 + 1)) AS i FROM ws)),
             |dup AS (SELECT chunk FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2)
             |SELECT source, count(*) AS n_chunks,
             |  CAST(count(*) FILTER (WHERE chunk IN (SELECT chunk FROM dup)) AS BIGINT)
             |    AS dup_chunks,
             |  round(count(*) FILTER (WHERE chunk IN (SELECT chunk FROM dup))
             |        * CAST(1 AS DOUBLE) / count(*), 4) AS dup_frac
             |FROM ch GROUP BY source ORDER BY source""".stripMargin)),

    // Corpus TF-IDF keyword extraction: top-3 terms per doc by
    // tf * (N / df) with a linear idf. All ranking arithmetic is
    // integer products and one IEEE division (correctly rounded →
    // bit-identical across engines), so the window order is exact and
    // the result hash-matches. Scale shape: term counts shuffle
    // (doc_id, word) pairs AFTER map-side combine; the df table is
    // vocabulary-sized and broadcast back; top-k is one window over
    // the doc_id-partitioned term counts.
    Q("d15_tfidf_keywords",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // materialize the term-count table ONCE: tc feeds both the
        // document-frequency aggregate and the scoring join, and
        // without a barrier each consumer re-ran the full explode +
        // (doc, word) aggregate (the plan showed two complete explode
        // subtrees — guide §2.4: don't compute what you throw away)
        val tc = graft.pipeline.BarrierCache.checkpoint(docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("tf")))
        val dfx = tc.groupBy(col("word")).agg(count(lit(1)).as("df"))
        val nn = docs.agg(count(lit(1)).as("n_docs"))
        // dfx is VOCABULARY-sized: small here, but a real corpus's
        // vocabulary is millions of terms — forcing broadcast would be
        // the 100 TB cliff (sf10 wave-3 probe). AQE broadcasts it while
        // it is small and switches to a shuffle join when it is not;
        // nn (one row) is always broadcast-safe.
        val scored = tc.join(dfx, "word").crossJoin(broadcast(nn))
          .withColumn("score",
            col("tf") * col("n_docs").cast("double") / col("df"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("word"))
        scored.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk"), col("word"),
                  round(col("score"), 4).as("tfidf"))
          .orderBy(col("doc_id"), col("rk"))
      },
      Some("""WITH terms AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
             |tc AS (SELECT doc_id, word, count(*) AS tf FROM terms GROUP BY doc_id, word),
             |dfx AS (SELECT word, count(*) AS df FROM tc GROUP BY word),
             |nn AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (SELECT doc_id, word, tf * CAST(n_docs AS DOUBLE) / df AS score
             |           FROM tc JOIN dfx USING (word) CROSS JOIN nn),
             |rk AS (SELECT doc_id, word, score,
             |       row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rk
             |       FROM scored)
             |SELECT doc_id, CAST(rk AS BIGINT) AS rk, word, round(score, 4) AS tfidf
             |FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // Sequence packing: assign docs to fixed-budget (512-token)
    // training sequences by a per-source running token count — the
    // standard pretraining batch-prep step. A doc starts a new sequence
    // when the running total crosses the budget (start-offset rule, so
    // assignment is a pure integer window — exact cross-engine). Scale
    // shape: ONE shuffle on source (the window partition key);
    // everything else is per-row arithmetic + the final tiny roll-up.
    // At 100 TB you'd partition by (source, shard) to bound partition
    // width; the window itself never sees text, only token counts.
    Q("d16_pack_sequences",
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            expr("CAST((length(text) + 3) div 4 AS BIGINT)").as("tok"))
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val packed = toks
          .withColumn("cum", sum(col("tok")).over(w))
          .withColumn("seq_id", expr("(cum - tok) div 512"))
        packed.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
               countDistinct(col("seq_id")).as("n_seqs"),
               sum(col("tok")).as("total_toks"))
          .select(col("source"), col("n_docs"), col("n_seqs"), col("total_toks"),
            round(col("total_toks") * lit(1.0) / (col("n_seqs") * lit(512)), 4)
              .as("fill"))
          .orderBy(col("source"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, source, (length(text) + 3) // 4 AS tok FROM documents),
             |packed AS (
             |  SELECT source, doc_id, tok,
             |    (sum(tok) OVER (PARTITION BY source ORDER BY doc_id
             |                    ROWS UNBOUNDED PRECEDING) - tok) // 512 AS seq_id
             |  FROM toks)
             |SELECT source, count(*) AS n_docs,
             |  CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
             |  CAST(sum(tok) AS BIGINT) AS total_toks,
             |  round(sum(tok) * CAST(1 AS DOUBLE) / (count(DISTINCT seq_id) * 512), 4)
             |    AS fill
             |FROM packed GROUP BY source ORDER BY source""".stripMargin)),

    // Leakage-safe train/val/test split: the split is assigned per
    // DUP-GROUP (canonical keep_id of the exact-dedup group), so a
    // document and its duplicates can never straddle train and test —
    // the contamination mode a naive per-doc split creates. Assignment
    // is the shared integer hash family (reproducible cross-engine and
    // cross-run); the group join carries 16-byte hash keys like d1.
    Q("d17_leakage_safe_split",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val groups = docs
          .groupBy(xxhash64(lower(col("text"))).as("h"),
                   length(col("text")).as("len"))
          .agg(min(col("doc_id")).as("keep_id"))
        val assigned = docs
          .withColumn("h", xxhash64(lower(col("text"))))
          .withColumn("len", length(col("text")))
          .join(groups, Seq("h", "len"))
          .withColumn("bucket",
            expr("((7919 * keep_id + 104729) % 1000003) % 10"))
          .withColumn("split",
            expr("CASE WHEN bucket < 8 THEN 'train' " +
              "WHEN bucket = 8 THEN 'val' ELSE 'test' END"))
        assigned.groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
               countDistinct(col("keep_id")).as("n_groups"))
          .orderBy(col("source"), col("split"))
      },
      Some("""WITH groups AS (
             |  SELECT lower(text) AS key, min(doc_id) AS keep_id
             |  FROM documents GROUP BY lower(text)),
             |assigned AS (
             |  SELECT d.source, g.keep_id,
             |    CASE WHEN ((7919 * g.keep_id + 104729) % 1000003) % 10 < 8
             |         THEN 'train'
             |         WHEN ((7919 * g.keep_id + 104729) % 1000003) % 10 = 8
             |         THEN 'val' ELSE 'test' END AS split
             |  FROM documents d JOIN groups g ON lower(d.text) = g.key)
             |SELECT source, split, count(*) AS n_docs,
             |  CAST(count(DISTINCT keep_id) AS BIGINT) AS n_groups
             |FROM assigned GROUP BY source, split
             |ORDER BY source, split""".stripMargin)),

    // Near-dup CLUSTERS, not just pairs: connected components over the
    // LSH candidate graph (hash-min label propagation, O(diameter)
    // rounds of id-only joins — graft.pipeline.Components). A~B and B~C
    // must put A and C in one group even when A, C never shared a
    // bucket; per-pair removal can't express that. The oracle replays
    // the exact same graph with a recursive-CTE transitive closure —
    // both engines label each component by its minimum doc_id, so the
    // outputs are hash-exact.
    Q("d18_neardup_components",
      (s, dir) => {
        // connectivity edges start from the PERSISTED band index (same
        // build/serve split as d2/d21) — clustering never re-hashes
        // the corpus, and per-bucket STARS (not all-pairs) keep the
        // edge list linear in the band index: components over stars
        // equal components over the pair graph (the oracle's all-pairs
        // cand is connectivity-identical bucket by bucket)
        val cand = TextOps.lshConnectivityEdges(
          s.read.parquet(lshBandsDir(s, dir)))
        graft.pipeline.Components.connectedComponents(cand)
          .groupBy(col("component"))
          .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
          .orderBy(col("component"))
      },
      Some(s"""WITH RECURSIVE $duckGrams, ${duckParams(16)}, $duckBands,
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
           |edges AS (SELECT d1 AS u, d2 AS v FROM cand
           |          UNION SELECT d2, d1 FROM cand),
           |reach(u, v) AS (
           |  SELECT u, v FROM edges
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
           |comp AS (
           |  SELECT u AS doc_id, least(u, min(v)) AS component
           |  FROM reach GROUP BY u)
           |SELECT component, count(*) AS n_docs, max(doc_id) AS max_doc
           |FROM comp GROUP BY component ORDER BY component""".stripMargin)),

    // PII redaction (the release-gate curation stage): per-class match
    // counts on the original text + typed-placeholder replacement,
    // email -> phone -> IPv4, all RE2-compatible patterns so Java
    // regex and DuckDB's RE2 agree byte-for-byte. The synthetic corpus
    // carries no PII, so the query plants deterministic PII on a
    // doc_id-keyed subset first (mod-3 emails, mod-5 phones, mod-7
    // IPs) — both engines replay the same injection, and rows without
    // a class exercise the zero-match path. Pure per-row projection:
    // no shuffle, no UDF; a map-only pass at any corpus size.
    Q("d19_pii_redact",
      (s, dir) => {
        val aug = Tables.load(s, dir, "documents")
          .filter(col("doc_id") < 200)
          .withColumn("text", concat(
            col("text"),
            when(col("doc_id") % 3 === 0, concat(lit(" contact u"),
              col("doc_id").cast("string"),
              lit("@mail.example.com"))).otherwise(lit("")),
            when(col("doc_id") % 5 === 0, concat(lit(" call 555-867-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0, concat(lit(" from 10.0."),
              (col("doc_id") % 256).cast("string"), lit("."),
              ((col("doc_id") * 7) % 256).cast("string")))
              .otherwise(lit(""))))
        TextOps.redactPii(aug)
          .select(col("doc_id"), col("n_email"), col("n_phone"),
                  col("n_ip"), col("redacted"))
          .orderBy(col("doc_id"))
      },
      Some {
        val Seq(em, ph, ip) = TextOps.piiPatterns.map(_._2)
        s"""WITH aug AS (
           |  SELECT doc_id, text ||
           |    CASE WHEN doc_id % 3 = 0 THEN ' contact u' ||
           |      CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END ||
           |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-' ||
           |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
           |    CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' ||
           |      CAST(doc_id % 256 AS VARCHAR) || '.' ||
           |      CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END AS text
           |  FROM documents WHERE doc_id < 200)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_email,
           |  CAST(len(regexp_extract_all(text, '$ph')) AS BIGINT) AS n_phone,
           |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ip,
           |  regexp_replace(regexp_replace(regexp_replace(text,
           |    '$em', '<EMAIL>', 'g'),
           |    '$ph', '<PHONE>', 'g'),
           |    '$ip', '<IP>', 'g') AS redacted
           |FROM aug ORDER BY doc_id""".stripMargin
      }),

    // K-means refinement (one Lloyd round over the IVF seed): the
    // cluster-balancing step of semantic curation — assign to seed
    // centroids, recompute per-cell mean centroids (rounded to 4
    // before reuse so float summation order can't leak cross-engine),
    // reassign by rounded cosine. Output is integer-only (per refined
    // cell: size, how many vectors moved, id range) so the oracle
    // replays the full two-step estimator with no float output at all.
    Q("d20_kmeans_refine",
      (s, dir) => {
        VectorOps.kmeansRefine(Tables.load(s, dir, "embeddings"), 8)
          .groupBy(col("cell2"))
          .agg(count(lit(1)).as("n"),
               sum(when(col("cell") =!= col("cell2"), 1L).otherwise(0L))
                 .as("moved"),
               min(col("vec_id")).as("min_vec"),
               max(col("vec_id")).as("max_vec"))
          .orderBy(col("cell2"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding,
             |    sqrt((SELECT sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)
             |          FROM range(64) t(i))) AS nrm
             |  FROM embeddings),
             |centv AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm
             |          FROM e WHERE vec_id < 8),
             |ac AS (SELECT v.vec_id, c.cid,
             |    round((SELECT sum(v.embedding[i+1]::DOUBLE * c.cv[i+1]::DOUBLE)
             |           FROM range(64) t(i)) / (v.nrm * c.cnrm), 6) AS cos
             |  FROM e v, centv c),
             |a1 AS (SELECT vec_id, cid AS cell FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
             |    FROM ac) WHERE rn = 1),
             |dimvals AS (SELECT a1.cell, t.i AS pos,
             |    e2.embedding[t.i+1]::DOUBLE AS v
             |  FROM embeddings e2 JOIN a1 USING (vec_id), range(64) t(i)),
             |cmean AS (SELECT cell, pos, round(avg(v), 4) AS cv1
             |          FROM dimvals GROUP BY cell, pos),
             |cent2 AS (SELECT cell, list(cv1 ORDER BY pos) AS cv
             |          FROM cmean GROUP BY cell),
             |a2sc AS (SELECT v.vec_id, c.cell,
             |    round((SELECT sum(v.embedding[i+1]::DOUBLE * c.cv[i+1])
             |           FROM range(64) t(i))
             |      / (v.nrm * sqrt((SELECT sum(c.cv[i+1] * c.cv[i+1])
             |                       FROM range(64) t(i)))), 6) AS cos
             |  FROM e v, cent2 c),
             |a2 AS (SELECT vec_id, cell AS cell2 FROM (
             |    SELECT vec_id, cell,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
             |    FROM a2sc) WHERE rn = 1)
             |SELECT a2.cell2, count(*) AS n,
             |  CAST(sum(CASE WHEN a1.cell <> a2.cell2 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS moved,
             |  min(a2.vec_id) AS min_vec, max(a2.vec_id) AS max_vec
             |FROM a2 JOIN a1 USING (vec_id)
             |GROUP BY a2.cell2 ORDER BY a2.cell2""".stripMargin)),

    // SemDeDup — SEMANTIC deduplication (Abbas et al. 2023): cluster
    // the embedding corpus, drop within-cluster near-duplicates by
    // pairwise cosine (keep the lower vec_id). The cluster stage is
    // what bounds the quadratic pair cost — pairs form per cell via an
    // equi-join on cell id, never corpus-wide. Reported per cell:
    // size, dropped count, first dropped id — the oracle replays the
    // seed assignment and the within-cell pair scan exactly.
    Q("d24_semantic_dedup",
      (s, dir) => {
        VectorOps.semanticDedup(Tables.load(s, dir, "embeddings"),
            nCells = 8, tau = 0.4)
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n"),
               sum(when(col("drop"), 1L).otherwise(0L)).as("n_dropped"),
               min(when(col("drop"), col("vec_id"))).as("first_dropped"))
          .orderBy(col("cell"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding,
             |    sqrt((SELECT sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)
             |          FROM range(64) t(i))) AS nrm
             |  FROM embeddings),
             |centv AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm
             |          FROM e WHERE vec_id < 8),
             |ac AS (SELECT v.vec_id, c.cid,
             |    round((SELECT sum(v.embedding[i+1]::DOUBLE * c.cv[i+1]::DOUBLE)
             |           FROM range(64) t(i)) / (v.nrm * c.cnrm), 6) AS cos
             |  FROM e v, centv c),
             |a1 AS (SELECT vec_id, cid AS cell FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
             |    FROM ac) WHERE rn = 1),
             |pairs AS (SELECT b2.vec_id AS b,
             |    round((SELECT sum(x.embedding[i+1]::DOUBLE * y.embedding[i+1]::DOUBLE)
             |           FROM range(64) t(i)) / (x.nrm * y.nrm), 6) AS cos
             |  FROM a1 a JOIN a1 b2 ON a.cell = b2.cell AND a.vec_id < b2.vec_id
             |  JOIN e x ON x.vec_id = a.vec_id
             |  JOIN e y ON y.vec_id = b2.vec_id),
             |dropped AS (SELECT DISTINCT b AS vec_id FROM pairs WHERE cos >= 0.4)
             |SELECT a1.cell, count(*) AS n,
             |  CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_dropped,
             |  min(d.vec_id) AS first_dropped
             |FROM a1 LEFT JOIN dropped d USING (vec_id)
             |GROUP BY a1.cell ORDER BY a1.cell""".stripMargin)),

    // SemDeDup with the hot-cell guard ACTIVE: nCells=4 puts ~125
    // members in every cell, far over maxCell=15, so this gate runs
    // the capped pivot-rectangle scan (each member vs its cell's 15
    // lowest vec_ids — output linear in cell size) rather than the
    // quadratic all-pairs — and the oracle replays the pivot rule
    // exactly (rank-by-vec_id <= cap on the left side of each pair).
    // This is the declared-approximation path d2's maxBucket
    // established, here gate-checked rather than spec-only.
    Q("d25_semantic_dedup_capped",
      (s, dir) => {
        VectorOps.semanticDedup(Tables.load(s, dir, "embeddings"),
            nCells = 4, tau = 0.35, maxCell = Some(15))
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n"),
               sum(when(col("drop"), 1L).otherwise(0L)).as("n_dropped"),
               min(when(col("drop"), col("vec_id"))).as("first_dropped"))
          .orderBy(col("cell"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding,
             |    sqrt((SELECT sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)
             |          FROM range(64) t(i))) AS nrm
             |  FROM embeddings),
             |centv AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm
             |          FROM e WHERE vec_id < 4),
             |ac AS (SELECT v.vec_id, c.cid,
             |    round((SELECT sum(v.embedding[i+1]::DOUBLE * c.cv[i+1]::DOUBLE)
             |           FROM range(64) t(i)) / (v.nrm * c.cnrm), 6) AS cos
             |  FROM e v, centv c),
             |a1 AS (SELECT vec_id, cid AS cell FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
             |    FROM ac) WHERE rn = 1),
             |piv AS (SELECT vec_id, cell FROM (
             |    SELECT vec_id, cell,
             |      row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rk
             |    FROM a1) WHERE rk <= 15),
             |pairs AS (SELECT b2.vec_id AS b,
             |    round((SELECT sum(x.embedding[i+1]::DOUBLE * y.embedding[i+1]::DOUBLE)
             |           FROM range(64) t(i)) / (x.nrm * y.nrm), 6) AS cos
             |  FROM piv a JOIN a1 b2 ON a.cell = b2.cell AND a.vec_id < b2.vec_id
             |  JOIN e x ON x.vec_id = a.vec_id
             |  JOIN e y ON y.vec_id = b2.vec_id),
             |dropped AS (SELECT DISTINCT b AS vec_id FROM pairs WHERE cos >= 0.35)
             |SELECT a1.cell, count(*) AS n,
             |  CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_dropped,
             |  min(d.vec_id) AS first_dropped
             |FROM a1 LEFT JOIN dropped d USING (vec_id)
             |GROUP BY a1.cell ORDER BY a1.cell""".stripMargin)),

    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): fit bag-of-hashed-
    // ngram models of a TARGET domain (lang='en') and the RAW pool
    // (everything else), score each raw doc by its log importance
    // ratio, keep the top-k. Features are the engine's shared
    // character-5-gram codes hashed into 256 buckets (tg % 256), so
    // the oracle replays them bit-for-bit; per-bucket log ratios are
    // Laplace-smoothed and frozen to scaled BIGINTs (round(1e6*ln))
    // BEFORE the per-doc sum, so document scores are pure integer
    // arithmetic — deterministic cross-engine regardless of summation
    // order. Scale shape: two passes over the corpus exactly like
    // DSIR itself (fit, then score) — the fit is ONE map-side-combined
    // 256-key aggregate, the 256-row ratio table broadcasts, scoring
    // is a map-side join + per-doc partial sum, and top-k plans as
    // TakeOrdered (no global sort). Nothing wider than (doc_id,
    // weight) ever shuffles.
    Q("d26_dsir_resample",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // ONE compact gram pass: grams5_hist computes each doc's
        // 256-bucket gram histogram as a per-row projection — the
        // corpus-length gram stream never becomes rows (before: a
        // gram-scale Generate + aggregate, run TWICE — once for the
        // byte-bucket LM stats, once for scoring; the two ~equal
        // dominant jobs in the profile — guide §2.4/§1.2). The <= 256
        // rows/doc histogram is materialized once for both consumers.
        // All downstream arithmetic is over summed counts, so ct/cr
        // and weight = sum(w * cnt) are bit-identical per the
        // Grams5HistSpec equivalence pin.
        val g = graft.pipeline.BarrierCache.checkpoint(
          docs.filter(length(col("text")) >= 5)
            .select(col("doc_id"), col("lang"), col("source"),
              posexplode(expr("grams5_hist(text, 256)")).as(Seq("b", "cnt")))
            .filter(col("cnt") > 0))
        val stat = g.groupBy(col("b")).agg(
          sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("ct"),
          sum(when(col("lang") =!= "en", col("cnt")).otherwise(0L)).as("cr"))
        val tot = stat.agg(sum("ct").as("tn"), sum("cr").as("rn"))
        val lr = s.range(0, 256).select(col("id").as("b"))
          .join(stat, Seq("b"), "left")
          .crossJoin(broadcast(tot))
          .select(col("b"), expr(
            "CAST(round(1000000 * ln(" +
              "((coalesce(ct, 0) + 1) * CAST(1 AS DOUBLE) / (tn + 256)) / " +
              "((coalesce(cr, 0) + 1) * CAST(1 AS DOUBLE) / (rn + 256))" +
            ")) AS BIGINT)").as("w"))
        val dw = g.filter(col("lang") =!= "en")
          .join(broadcast(lr), "b")
          .groupBy(col("doc_id"), col("source"))
          .agg(sum(col("w") * col("cnt")).as("weight"))
        val top = dw.orderBy(col("weight").desc, col("doc_id")).limit(25)
        top.withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("weight").desc, col("doc_id"))).cast("long"))
          .select(col("rank"), col("doc_id"), col("source"), col("weight"))
          .orderBy(col("rank"))
      },
      Some(s"""WITH trir AS (
               |  SELECT doc_id, ${TextOps.gram5Sql} AS tg
               |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 3)) AS i
               |        FROM documents WHERE length(text) >= 5)),
               |g AS (SELECT t.doc_id, d.lang, d.source, t.tg % 256 AS b
               |      FROM trir t JOIN documents d USING (doc_id)),
               |stat AS (SELECT b,
               |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
               |    sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS cr
               |  FROM g GROUP BY 1),
               |tot AS (SELECT sum(ct) AS tn, sum(cr) AS rn FROM stat),
               |lr AS (SELECT bk.b,
               |    CAST(round(1000000 * ln(
               |      ((coalesce(st.ct, 0) + 1) * CAST(1 AS DOUBLE) / (tot.tn + 256)) /
               |      ((coalesce(st.cr, 0) + 1) * CAST(1 AS DOUBLE) / (tot.rn + 256))
               |    )) AS BIGINT) AS w
               |  FROM (SELECT unnest(range(0, 256)) AS b) bk
               |  LEFT JOIN stat st ON bk.b = st.b, tot),
               |dw AS (SELECT g.doc_id, g.source, CAST(sum(lr.w) AS BIGINT) AS weight
               |  FROM g JOIN lr ON g.b = lr.b WHERE g.lang <> 'en'
               |  GROUP BY 1, 2)
               |SELECT * FROM (
               |  SELECT CAST(row_number() OVER (ORDER BY weight DESC, doc_id)
               |           AS BIGINT) AS rank,
               |         doc_id, source, weight
               |  FROM dw) WHERE rank <= 25 ORDER BY rank""".stripMargin)),

    // CCNet-style perplexity filtering (Wenzek et al. 2020): train a
    // word-bigram LM with Laplace smoothing on the TARGET language
    // (lang='en'), score every other doc by its average per-bigram log
    // probability, keep docs above a threshold — the canonical
    // LM-based quality filter. Determinism: per-bigram log-probs
    // freeze to scaled BIGINTs (round(1e6*ln)) BEFORE the per-doc sum,
    // and the keep rule compares lp_total >= thr * n_bigrams with
    // integer multiplication (never integer division, whose rounding
    // direction differs cross-engine on negatives). Scale shape: the
    // LM fit is one map-side-combined groupBy over (w1,w2) of the
    // target slice; scoring joins the doc bigram stream against the
    // model — broadcast here (the LM table is vocabulary-sized), a
    // plain shuffle join on the bigram key when a 100 TB-corpus model
    // outgrows broadcast; the per-doc sum is a map-side-combined
    // partial. Docs with <2 words carry no bigrams and are out of
    // scope (spec'd by the oracle identically).
    Q("d27_perplexity_filter",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val toks = docs
          .select(col("doc_id"), col("lang"), col("source"),
            split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 2)
        val big = toks.select(col("doc_id"), col("lang"), col("source"),
            explode(expr("transform(sequence(0, size(w) - 2), i -> " +
              "struct(element_at(w, i + 1) AS w1, element_at(w, i + 2) AS w2))"))
              .as("bg"))
          .select(col("doc_id"), col("lang"), col("source"),
            col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        val train = big.filter(col("lang") === "en")
        val bi = train.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("cb"))
        // derive the unigram counts and vocabulary size FROM the bigram
        // table instead of re-aggregating the exploded stream: cu =
        // sum(cb) per w1 and v = |distinct w1| are the same values, and
        // the three model tables now share ONE explode + exchange
        // (ReuseExchange dedupes bi's identical subtree) — the plan
        // before ran the train-slice bigram explode three times
        // (uni, bi, voc; guide §2.4)
        val uni = bi.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
        val voc = uni.agg(count(lit(1)).as("v"))
        val dw = big.filter(col("lang") =!= "en")
          .join(broadcast(bi), Seq("w1", "w2"), "left")
          .join(broadcast(uni), Seq("w1"), "left")
          .crossJoin(broadcast(voc))
          .select(col("doc_id"), col("source"), expr(
            "CAST(round(1000000 * ln((coalesce(cb, 0) + 1) * " +
              "CAST(1 AS DOUBLE) / (coalesce(cu, 0) + v))) AS BIGINT)")
            .as("lp"))
          .groupBy(col("doc_id"), col("source"))
          .agg(sum(col("lp")).as("lpt"), count(lit(1)).as("nb"))
        dw.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("lpt") >= lit(-3430000L) * col("nb"), 1L)
              .otherwise(0L)).as("kept"),
            round(min(col("lpt") * lit(1.0) / col("nb")), 4).as("min_lp"),
            round(max(col("lpt") * lit(1.0) / col("nb")), 4).as("max_lp"))
          .orderBy(col("source"))
      },
      Some("""WITH toks AS (SELECT doc_id, lang, source,
             |    string_split(text, ' ') AS w FROM documents),
             |idx AS (SELECT doc_id, lang, source, w,
             |    unnest(range(0, len(w) - 1)) AS i FROM toks WHERE len(w) >= 2),
             |big AS (SELECT doc_id, lang, source,
             |    w[i + 1] AS w1, w[i + 2] AS w2 FROM idx),
             |uni AS (SELECT w1, count(*) AS cu FROM big
             |        WHERE lang = 'en' GROUP BY 1),
             |bi AS (SELECT w1, w2, count(*) AS cb FROM big
             |       WHERE lang = 'en' GROUP BY 1, 2),
             |voc AS (SELECT count(*) AS v FROM uni),
             |sc AS (SELECT b.doc_id, b.source,
             |    CAST(round(1000000 * ln((coalesce(bi.cb, 0) + 1)
             |      * CAST(1 AS DOUBLE) / (coalesce(u.cu, 0) + voc.v)))
             |      AS BIGINT) AS lp
             |  FROM big b
             |  LEFT JOIN bi ON b.w1 = bi.w1 AND b.w2 = bi.w2
             |  LEFT JOIN uni u ON b.w1 = u.w1, voc
             |  WHERE b.lang <> 'en'),
             |dw AS (SELECT doc_id, source, CAST(sum(lp) AS BIGINT) AS lpt,
             |    count(*) AS nb FROM sc GROUP BY 1, 2)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN lpt >= -3430000 * nb THEN 1 ELSE 0 END)
             |    AS BIGINT) AS kept,
             |  round(min(lpt * CAST(1 AS DOUBLE) / nb), 4) AS min_lp,
             |  round(max(lpt * CAST(1 AS DOUBLE) / nb), 4) AS max_lp
             |FROM dw GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exact-substring duplication audit (the Lee et al. 2022
    // "Deduplicating Training Data" shape, window-granular): EVERY
    // 10-word sliding window (not d14's disjoint chunks) keyed by
    // (xxhash64, length) — the engine's standard text-free shuffle
    // key — marks windows whose key appears in >= 2 DISTINCT docs,
    // then per-doc interval-merging (lead() over window starts, each
    // start covering 10 words) reports how many words sit inside a
    // cross-doc duplicated span. No pairwise stage exists at all —
    // membership, not pairing — so a boilerplate window shared by 1e6
    // docs costs one hot GROUP, never a pair explosion; exchanges
    // carry (hash, len, doc, pos) rows only. The oracle replays the
    // windows by STRING equality (the d1 posture: 16-byte keys on the
    // wire, string equality in the oracle).
    Q("d28_duplicate_spans",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 10)
        val win = docs.select(col("doc_id"),
            size(col("w")).cast("long").as("total_words"),
            posexplode(expr(
              "transform(sequence(0, size(w) - 10), i -> " +
                "concat_ws(' ', slice(w, i + 1, 10)))")))
          .select(col("doc_id"), col("total_words"), col("pos"),
            xxhash64(col("col")).as("h"),
            length(col("col")).as("hl"))
        val dupKeys = win.groupBy(col("h"), col("hl"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select("h", "hl")
        val dup = win.join(dupKeys, Seq("h", "hl"), "left_semi")
        val wd = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))
        val spans = dup
          .withColumn("nxt", lead(col("pos"), 1).over(wd))
          .withColumn("cov", when(col("nxt").isNull, lit(10L))
            .otherwise(least(col("nxt") - col("pos"), lit(10L))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_dup_windows"),
               sum(col("cov")).as("covered_words"))
        docs.select(col("doc_id"), size(col("w")).cast("long").as("total_words"),
            (size(col("w")) - 9).cast("long").as("n_windows"))
          .join(spans, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_windows"),
            coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
            coalesce(col("covered_words"), lit(0L)).as("covered_words"),
            col("total_words"),
            round(coalesce(col("covered_words"), lit(0L)) * lit(1.0) /
              col("total_words"), 4).as("dup_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
             |  FROM documents),
             |d10 AS (SELECT doc_id, w, len(w) AS nw FROM toks WHERE len(w) >= 10),
             |win AS (SELECT doc_id, nw,
             |    unnest(range(0, nw - 9)) AS pos, w FROM d10),
             |keyed AS (SELECT doc_id, nw, pos,
             |    array_to_string(w[pos + 1 : pos + 10], ' ') AS k FROM win),
             |dupk AS (SELECT k FROM keyed GROUP BY k
             |         HAVING count(DISTINCT doc_id) >= 2),
             |dup AS (SELECT keyed.doc_id, keyed.pos FROM keyed
             |        JOIN dupk ON keyed.k = dupk.k),
             |spans AS (SELECT doc_id, pos,
             |    lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
             |  FROM dup),
             |cov AS (SELECT doc_id, count(*) AS n_dup_windows,
             |    CAST(sum(CASE WHEN nxt IS NULL THEN 10
             |             ELSE least(nxt - pos, 10) END) AS BIGINT)
             |      AS covered_words
             |  FROM spans GROUP BY 1)
             |SELECT d.doc_id, CAST(d.nw - 9 AS BIGINT) AS n_windows,
             |  CAST(coalesce(c.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
             |  CAST(coalesce(c.covered_words, 0) AS BIGINT) AS covered_words,
             |  CAST(d.nw AS BIGINT) AS total_words,
             |  round(coalesce(c.covered_words, 0) * CAST(1 AS DOUBLE) / d.nw, 4)
             |    AS dup_frac
             |FROM d10 d LEFT JOIN cov c USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // Inter-source overlap audit — the "how much does source A
    // duplicate source B" matrix a curation pipeline checks BEFORE
    // fixing mixing weights (d12) or deduplicating across sources.
    // Exact source-level 5-gram Jaccard for every pair, WITHOUT a
    // per-gram pair expansion (a gram shared by all S sources would
    // fan out S²/2 rows — ~190× on this corpus) and WITHOUT a
    // (source, gram) distinct: each source gets a BIT (sorted order),
    // one gram-keyed bit_or collapses a gram's source set into a long
    // MASK (OR is idempotent, so duplicates need no pre-distinct),
    // and the mask HISTOGRAM — thousands of rows, not millions —
    // expands into per-pair intersection counts and per-source sizes
    // distributively. Exact-path domain is <= 64 sources (one long;
    // a raise_error guard keeps bit overflow loud); wider corpora use
    // the per-source MinHash signature union (d2's machinery) for an
    // estimated matrix with the same schema.
    Q("d29_source_overlap",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .filter(length(col("text")) >= 5)
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("source"))
        val srcIdx = docs.select(col("source")).distinct()
          .withColumn("bit0", (row_number().over(w) - lit(1)).cast("int"))
          .withColumn("bit", when(col("bit0") <= lit(63), col("bit0"))
            .otherwise(raise_error(lit("d29 exact bitmask path supports " +
              "<= 64 sources; use the MinHash estimate for wider corpora"))
              .cast("int")))
          .select("source", "bit")
        val hist = docs.join(broadcast(srcIdx), "source")
          .select(explode(expr("grams5_distinct(text)")).as("tg"),
            expr("shiftleft(CAST(1 AS BIGINT), bit)").as("m"))
          .groupBy("tg").agg(expr("bit_or(m)").as("mask"))
          .groupBy("mask").agg(count(lit(1)).as("ng"))
        val bitsArr = expr("filter(transform(sequence(0, 63), i -> " +
          "IF(((mask >> i) & 1) = 1, i, NULL)), x -> x IS NOT NULL)")
        val sizes = hist.select(explode(bitsArr).as("bit"), col("ng"))
          .groupBy("bit").agg(sum(col("ng")).as("sz"))
        val pairs = hist.select(col("ng"), bitsArr.as("bs"))
          .filter(size(col("bs")) >= 2)
          .select(explode(expr(
            "flatten(transform(bs, (x, i) -> " +
              "transform(slice(bs, i + 2, size(bs)), y -> " +
              "struct(x AS b1, y AS b2))))")).as("p"), col("ng"))
          .groupBy(col("p.b1").as("b1"), col("p.b2").as("b2"))
          .agg(sum(col("ng")).as("ic"))
        pairs
          .join(broadcast(srcIdx.select(col("bit").as("b1"),
            col("source").as("s1"))), Seq("b1"))
          .join(broadcast(srcIdx.select(col("bit").as("b2"),
            col("source").as("s2"))), Seq("b2"))
          .join(broadcast(sizes.select(col("bit").as("b1"),
            col("sz").as("z1"))), Seq("b1"))
          .join(broadcast(sizes.select(col("bit").as("b2"),
            col("sz").as("z2"))), Seq("b2"))
          .select(col("s1"), col("s2"), col("ic"),
            round(col("ic") * lit(1.0) / (col("z1") + col("z2") - col("ic")),
              4).as("jaccard"))
          .orderBy(col("s1"), col("s2"))
      },
      Some(s"""WITH tri AS (
             |  SELECT DISTINCT source, ${TextOps.gram5Sql} AS tg
             |  FROM (SELECT source, text,
             |          unnest(range(1, length(text) - 3)) AS i
             |        FROM documents WHERE length(text) >= 5)),
             |sizes AS (SELECT source, count(*) AS sz FROM tri GROUP BY source),
             |inter AS (
             |  SELECT a.source AS s1, b.source AS s2, count(*) AS ic
             |  FROM tri a JOIN tri b ON a.tg = b.tg AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT s1, s2, ic,
             |  round(ic * CAST(1 AS DOUBLE) / (z1.sz + z2.sz - ic), 4)
             |    AS jaccard
             |FROM inter JOIN sizes z1 ON s1 = z1.source
             |           JOIN sizes z2 ON s2 = z2.source
             |ORDER BY s1, s2""".stripMargin)),

    // Incremental dedup: admit an incoming batch (doc_id % 10 == 0
    // stands in for today's crawl) against the EXISTING corpus without
    // ever re-hashing the corpus — the nightly-ingest shape at 100 TB.
    // The corpus side comes from the persisted LSH band index
    // (lshBandsDir, the build half of the build/serve split); only the
    // new batch computes signatures, candidate generation is the
    // band-bucketed equi-join of batch bands against the index, and
    // the exact-Jaccard confirm touches candidate docs only (semi-join
    // restriction). Per batch doc: candidate count, best confirmed
    // jaccard vs the corpus, and the admit/reject decision at 0.5.
    // Within-batch duplicates are deliberately out of scope here
    // (that's d1/d2 run on the batch alone).
    Q("d21_incremental_dedup",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val idx = s.read.parquet(lshBandsDir(s, dir))
          .filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id").as("d1"), col("band"), col("sig"))
        val batch = docs.filter(col("doc_id") % 10 === 0)
        val batchBands = TextOps.bandSignaturesDirect(batch, 16, 4)
          .select(col("doc_id").as("d2"), col("band"), col("sig"))
        val cand = batchBands.join(idx, Seq("band", "sig"))
          .select("d1", "d2").distinct()
        val candDocs = cand.select(col("d1").as("doc_id"))
          .union(cand.select(col("d2").as("doc_id")))
        val scored = TextOps.exactJaccardDirect(
          docs.join(candDocs, Seq("doc_id"), "left_semi"), cand)
        val per = scored.groupBy(col("d2").as("doc_id"))
          .agg(count(lit(1)).as("n_cand"), max(col("jaccard")).as("best_j"))
        batch.filter(length(col("text")) >= 5).select("doc_id")
          .join(per, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            round(coalesce(col("best_j"), lit(0.0)), 4).as("best_j"),
            when(coalesce(col("best_j"), lit(0.0)) >= 0.5, 0L).otherwise(1L)
              .as("admitted"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $duckGrams, ${duckParams(16)}, $duckBands,
               |cand AS (
               |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
               |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
               |  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0),
               |sizes AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY doc_id),
               |inter AS (
               |  SELECT d1, d2, count(*) AS ic
               |  FROM cand JOIN tri t1 ON d1 = t1.doc_id
               |            JOIN tri t2 ON d2 = t2.doc_id AND t1.tg = t2.tg
               |  GROUP BY d1, d2),
               |scored AS (
               |  SELECT d1, d2,
               |    round(ic * CAST(1 AS DOUBLE) / (s1.sz + s2.sz - ic), 4) AS j
               |  FROM inter JOIN sizes s1 ON d1 = s1.doc_id
               |             JOIN sizes s2 ON d2 = s2.doc_id),
               |per AS (
               |  SELECT c.d2 AS doc_id, count(*) AS n_cand,
               |         max(coalesce(s.j, 0)) AS best_j
               |  FROM cand c LEFT JOIN scored s ON c.d1 = s.d1 AND c.d2 = s.d2
               |  GROUP BY c.d2)
               |SELECT b.doc_id,
               |  CAST(coalesce(p.n_cand, 0) AS BIGINT) AS n_cand,
               |  round(coalesce(p.best_j, 0), 4) AS best_j,
               |  CAST(CASE WHEN coalesce(p.best_j, 0) >= 0.5 THEN 0 ELSE 1 END
               |       AS BIGINT) AS admitted
               |FROM (SELECT doc_id FROM documents
               |      WHERE doc_id % 10 = 0 AND length(text) >= 5) b
               |LEFT JOIN per p USING (doc_id)
               |ORDER BY b.doc_id""".stripMargin)),

    // Bloom-prefiltered decontamination: same semantics (and the SAME
    // oracle) as d10, but the scale shape for when the reference set's
    // exact gram table is too big to broadcast: build an ~8-bits/key
    // Bloom filter with Spark's own BloomFilterAggregate (a scalar
    // subquery — one distributed aggregate, a few-KB blob out), probe
    // it map-side at the scan (`bloom_might` over xxhash64, no false
    // negatives), and exact-confirm only the surviving fraction to
    // strip false positives. The train-side explode never shuffles a
    // row the Bloom can reject.
    Q("d22_bloom_decontaminate",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), expr("word_ngrams(text, 3)").as("tris"))
          .filter(size(col("tris")) > 0)
          .createOrReplaceTempView("graft_d22_docs")
        s.sql("""
          WITH test AS (
            SELECT DISTINCT explode(tris) AS g
            FROM graft_d22_docs WHERE doc_id % 50 = 0),
          train AS (
            SELECT doc_id, CAST(size(tris) AS BIGINT) AS total,
                   explode(tris) AS g
            FROM graft_d22_docs WHERE doc_id % 50 != 0),
          pre AS (
            SELECT * FROM train
            WHERE bloom_might(
              (SELECT bloom_agg(xxhash64(g), 4096L, 32768L) FROM test),
              xxhash64(g))),
          sh AS (
            SELECT doc_id, total, count(*) AS shared
            FROM pre JOIN test USING (g)
            GROUP BY doc_id, total)
          SELECT doc_id, shared, total, round(shared / total, 4) AS frac
          FROM sh WHERE shared / total >= 0.05
          ORDER BY doc_id
        """)
      },
      Some(decontamOracle)),

    // Model-based quality scoring — the fastText-inference shape that
    // filters most modern pretraining corpora: a linear classifier over
    // hashed n-gram features. The "learned" weight table is derived
    // deterministically from the seed docs (doc_id < 100) so both
    // engines replay it, but the PLUMBING is the real thing: a vocab
    // weight table small enough to BROADCAST, per-doc feature sets from
    // the one-pass native grams5_distinct (no corpus-wide distinct),
    // map-side weight lookup, and one doc-keyed aggregate. Weights are
    // INTEGERS and the score is a single end-of-pipe division, so
    // cross-engine float summation order can never break the hash; the
    // accept/reject label compares the exact integer sum.
    Q("d23_quality_classifier",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .filter(length(col("text")) >= 5)
          .select(col("doc_id"), expr("grams5_distinct(text)").as("g"))
        val vocab = docs.filter(col("doc_id") < 100)
          .select(explode(col("g")).as("tg")).distinct()
          .withColumn("w",
            (lit(7919L) * col("tg") + lit(104729L)) % lit(P) - lit((P - 1) / 2))
        docs
          .select(col("doc_id"), size(col("g")).cast("long").as("n_feats"),
                  explode(col("g")).as("tg"))
          .join(broadcast(vocab), Seq("tg"), "left")
          .groupBy(col("doc_id"), col("n_feats"))
          .agg(count(col("w")).as("n_known"),
               coalesce(sum(col("w")), lit(0L)).as("sw"))
          .select(col("doc_id"), col("n_feats"), col("n_known"),
            round(col("sw").cast("double") /
              (col("n_feats").cast("double") * lit(P.toDouble)), 6).as("score"),
            when(col("sw") >= 0, 1L).otherwise(0L).as("label"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $duckGrams,
               |vocab AS (
               |  SELECT DISTINCT tg,
               |    (7919 * tg + 104729) % $P - ${(P - 1) / 2} AS w
               |  FROM tri WHERE doc_id < 100),
               |per AS (
               |  SELECT t.doc_id, count(*) AS n_feats, count(v.w) AS n_known,
               |         coalesce(sum(v.w), 0) AS sw
               |  FROM tri t LEFT JOIN vocab v USING (tg)
               |  GROUP BY t.doc_id)
               |SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
               |  CAST(n_known AS BIGINT) AS n_known,
               |  round(sw * CAST(1 AS DOUBLE) / (n_feats * $P.0), 6) AS score,
               |  CAST(CASE WHEN sw >= 0 THEN 1 ELSE 0 END AS BIGINT) AS label
               |FROM per ORDER BY doc_id""".stripMargin)),

    // ---- similarity search over embeddings ----

    // Brute-force cosine top-5 (ordered-fold dot products, bit-exact).
    Q("e1_knn_brute",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        VectorOps.bruteTopK(emb, emb.filter(col("vec_id") < 3), 5)
          .withColumn("rnk", col("rnk").cast("long"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH e AS (
              |  SELECT vec_id, embedding,
              |    sqrt((SELECT sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)
              |          FROM range(64) t(i))) AS nrm
              |  FROM embeddings),
              |scored AS (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    round((SELECT sum(q.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE)
              |           FROM range(64) t(i)) / (q.nrm * c.nrm), 6) AS cos
              |  FROM e q JOIN e c ON q.vec_id < 3 AND q.vec_id <> c.vec_id),
              |ranked AS (
              |  SELECT query_id, cand_id, cos,
              |    row_number() OVER (PARTITION BY query_id
              |                       ORDER BY cos DESC, cand_id) AS rnk
              |  FROM scored)
              |SELECT query_id, cand_id, cos, CAST(rnk AS BIGINT) AS rnk
              |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // FILTERED ANN — top-k under a metadata predicate (the "similar
    // AND in-english" serving shape every retrieval stack needs). The
    // predicate restricts the CANDIDATE side before any distance is
    // computed (on bucketed inverted lists it pushes into the list
    // scan); quantizer, assignment, and probe selection are untouched,
    // so the filtered query probes exactly the cells its unfiltered
    // twin (e3) would. The oracle replays the full IVF lattice with
    // the same candidate-side predicate.
    Q("e9_knn_ivf_filtered",
      (s, dir) => {
        VectorOps.ivfTopK(Tables.load(s, dir, "embeddings"),
            col("vec_id") < 3, 3, nCells = 8, nProbe = 2,
            candFilter = col("label") === 1)
          .withColumn("rnk", col("rnk").cast("long"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some(ivfOracleWhere("c.label = 1"))),

    // Hybrid retrieval (keyword + vector, RRF fusion): candidates from
    // an inverted token join with a document-frequency cap — the cap is
    // the scale guard (a stopword-class token otherwise pairs every
    // query with the whole corpus), and the oracle replays it, so the
    // capped run stays hash-exact. Fusion is the standard reciprocal
    // rank 1/(60+rk) + 1/(60+rv) with id tie-breaks.
    Q("e10_hybrid_search",
      (s, dir) => {
        // df cap = 80% of the corpus, resolved IN the plan (broadcast
        // 1-row count aggregate) — the old docs.count() here was a
        // blocking driver action before planning, a full metadata pass
        // per invocation at 100 TB (guide §5); same rows either way
        VectorOps.hybridTopKFrac(Tables.load(s, dir, "documents"),
            Tables.load(s, dir, "embeddings"),
            k = 5, nQueries = 3, num = 8, den = 10)
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH toks AS (SELECT doc_id,
             |    unnest(list_distinct(string_split(text, ' '))) AS tok
             |  FROM documents),
             |rare AS (SELECT tok FROM (
             |    SELECT tok, count(*) AS df FROM toks GROUP BY 1)
             |  WHERE df <= (SELECT (count(*) * 8) // 10 FROM documents)),
             |idx AS (SELECT doc_id, toks.tok FROM toks JOIN rare USING (tok)),
             |ov AS (SELECT q.doc_id AS query_id, d.doc_id AS cand_id,
             |    count(*) AS overlap
             |  FROM idx q JOIN idx d USING (tok)
             |  WHERE q.doc_id < 3 AND q.doc_id <> d.doc_id
             |  GROUP BY 1, 2),
             |e AS (SELECT vec_id, embedding,
             |    sqrt((SELECT sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)
             |          FROM range(64) t(i))) AS nrm
             |  FROM embeddings),
             |sc AS (SELECT o.query_id, o.cand_id, o.overlap,
             |    round((SELECT sum(a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE)
             |           FROM range(64) t(i)) / (a.nrm * b.nrm), 6) AS cos
             |  FROM ov o JOIN e a ON a.vec_id = o.query_id
             |            JOIN e b ON b.vec_id = o.cand_id),
             |r AS (SELECT query_id, cand_id,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY overlap DESC, cand_id) AS rk,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY cos DESC, cand_id) AS rv
             |  FROM sc),
             |f AS (SELECT query_id, cand_id,
             |    round(1.0 / (60 + rk) + 1.0 / (60 + rv), 6) AS rrf,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY round(1.0 / (60 + rk) + 1.0 / (60 + rv), 6) DESC,
             |               cand_id) AS rnk
             |  FROM r)
             |SELECT query_id, cand_id, rrf, CAST(rnk AS BIGINT) AS rnk
             |FROM f WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // Hyperplane-LSH ANN: multi-table bucket equi-joins instead of a
    // cross join (the scale path; recall grows with table count).
    Q("e2_knn_lsh",
      (s, dir) => {
        VectorOps.lshTopK(Tables.load(s, dir, "embeddings"),
            col("vec_id") < 3, 3, nPlanes = 6, nTables = 2, dim = 64)
          .withColumn("rnk", col("rnk").cast("long"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some {
        def proj(j: Int): String =
          s"(SELECT sum(embedding[i+1]::DOUBLE * CASE WHEN " +
            s"((${TextOps.aConst(j)} * (i + 1) + ${TextOps.bConst(j)}) % $P) % 2 = 1 " +
            s"THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) FROM range(64) t(i))"
        def bucket(t: Int): String = (0 until 6)
          .map(j => s"(CASE WHEN ${proj(t * 6 + j)} > 0 THEN ${1L << j} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH e AS (
           |  SELECT vec_id, embedding, ${bucket(0)} AS b0, ${bucket(1)} AS b1,
           |    sqrt((SELECT sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)
           |          FROM range(64) t(i))) AS nrm
           |  FROM embeddings),
           |scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           |    round((SELECT sum(q.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE)
           |           FROM range(64) t(i)) / (q.nrm * c.nrm), 6) AS cos
           |  FROM e q JOIN e c ON (q.b0 = c.b0 OR q.b1 = c.b1)
           |   AND q.vec_id < 3 AND q.vec_id <> c.vec_id),
           |ranked AS (
           |  SELECT query_id, cand_id, cos,
           |    row_number() OVER (PARTITION BY query_id
           |                       ORDER BY cos DESC, cand_id) AS rnk
           |  FROM scored)
           |SELECT query_id, cand_id, cos, CAST(rnk AS BIGINT) AS rnk
           |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
      }),

    // Embedding-cosine near-dup (SemDeDup shape): LSH bucket collisions
    // (2 tables x 8 planes) generate candidates as equi-joins — never
    // all pairs — then exact cosine keeps pairs >= tau. tau=0.3 is
    // calibrated to the synthetic embeddings (near-random, max pairwise
    // cos ~0.6); production corpora use ~0.95+ with the same plan.
    Q("d9_embed_neardup",
      (s, dir) => {
        VectorOps.cosineNearDup(Tables.load(s, dir, "embeddings"), 0.3,
            nPlanes = 8, nTables = 2, dim = 64,
            maxBucket = CosLshMaxBucket)
          .orderBy(col("v1"), col("v2"))
      },
      Some {
        def proj(j: Int): String =
          s"(SELECT sum(embedding[i+1]::DOUBLE * CASE WHEN " +
            s"((${TextOps.aConst(j)} * (i + 1) + ${TextOps.bConst(j)}) % $P) % 2 = 1 " +
            s"THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) FROM range(64) t(i))"
        def bucket(t: Int): String = (0 until 8)
          .map(j => s"(CASE WHEN ${proj(t * 8 + j)} > 0 THEN ${1L << j} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH e AS (
           |  SELECT vec_id, embedding, ${bucket(0)} AS b0, ${bucket(1)} AS b1,
           |    sqrt((SELECT sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)
           |          FROM range(64) t(i))) AS nrm
           |  FROM embeddings),
           |hot0 AS (SELECT b0 FROM e GROUP BY b0
           |         HAVING count(*) > $CosLshMaxBucket),
           |hot1 AS (SELECT b1 FROM e GROUP BY b1
           |         HAVING count(*) > $CosLshMaxBucket)
           |SELECT v1, v2, cos FROM (
           |  SELECT q.vec_id AS v1, c.vec_id AS v2,
           |    round((SELECT sum(q.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE)
           |           FROM range(64) t(i)) / (q.nrm * c.nrm), 6) AS cos
           |  FROM e q JOIN e c ON (
           |      (q.b0 = c.b0 AND q.b0 NOT IN (SELECT b0 FROM hot0))
           |      OR (q.b1 = c.b1 AND q.b1 NOT IN (SELECT b1 FROM hot1)))
           |    AND q.vec_id < c.vec_id)
           |WHERE cos >= 0.3 ORDER BY v1, v2""".stripMargin
      }),

    // IVF ANN: deterministic coarse quantizer (first 8 vectors), each
    // query probes its 2 nearest cells, exact cosine only inside those
    // inverted lists — the partition-pruned scale path next to e2's LSH.
    Q("e3_knn_ivf",
      (s, dir) => {
        VectorOps.ivfTopK(Tables.load(s, dir, "embeddings"),
            col("vec_id") < 3, 3, nCells = 8, nProbe = 2)
          .withColumn("rnk", col("rnk").cast("long"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some(ivfOracle)),

    // IVF with a PERSISTED index: the assignment table is built once
    // (nightly index build) and the query-time plan only probes — same
    // answer as e3, but the timed path never touches the quantizer.
    // The serve-time shape for 100 TB embedding search: inverted lists
    // bucketed by cell on disk, probes read nProbe/nCells of them.
    Q("e4_knn_ivf_index",
      (s, dir) => {
        val assign = s.read.parquet(ivfIndexDir(s, dir))
        VectorOps.ivfTopK(Tables.load(s, dir, "embeddings"),
            col("vec_id") < 3, 3, nCells = 8, nProbe = 2,
            precomputedAssign = Some(assign))
          .withColumn("rnk", col("rnk").cast("long"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some(ivfOracle)),

    // Product-quantization ANN: vectors compress to 8 one-byte codes
    // (4 deterministic centroids per 8-dim subspace), queries score
    // candidates via an 8-lookup ADC sum over a broadcast distance
    // table. The code table is PERSISTED (pqIndexDir — the "nightly
    // index build"), so the timed plan reads codes and never quantizes
    // the corpus: the ~256x-compressed codes are what a 100 TB corpus
    // keeps memory-resident; e1 stays the exactness baseline.
    Q("e5_knn_pq",
      (s, dir) => {
        val codes = s.read.parquet(pqIndexDir(s, dir))
        VectorOps.pqTopK(Tables.load(s, dir, "embeddings"),
            col("vec_id") < 3, 5, precomputedCodes = Some(codes))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH cent AS (
             |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 4),
             |pd AS (
             |  SELECT e.vec_id, c.cid, t.m,
             |    round((SELECT sum((e.embedding[8*t.m+i+1]::DOUBLE - c.cv[8*t.m+i+1]::DOUBLE)
             |               * (e.embedding[8*t.m+i+1]::DOUBLE - c.cv[8*t.m+i+1]::DOUBLE))
             |           FROM range(8) s(i)), 6) AS d
             |  FROM embeddings e, cent c, range(8) t(m)),
             |codes AS (SELECT vec_id, m, cid AS code FROM (
             |    SELECT vec_id, m, cid,
             |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
             |    FROM pd) WHERE rn = 1),
             |qd AS (SELECT vec_id AS query_id, cid AS code, m, d AS qd
             |       FROM pd WHERE vec_id < 3),
             |adc AS (
             |  SELECT q.query_id, c.vec_id AS cand_id, round(sum(q.qd), 6) AS adc
             |  FROM codes c JOIN qd q ON q.m = c.m AND q.code = c.code
             |  GROUP BY q.query_id, c.vec_id),
             |ranked AS (SELECT query_id, cand_id, adc,
             |    row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rnk
             |  FROM adc WHERE query_id <> cand_id)
             |SELECT query_id, cand_id, adc, CAST(rnk AS BIGINT) AS rnk
             |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // Two-stage retrieval: PQ/ADC shortlists 10 candidates from the
    // PERSISTED codes, then exact cosine re-ranks ONLY those pairs on
    // the original vectors — the memory-scan-then-exact-rerank shape of
    // production embedding search. Rerank joins carry id pairs only;
    // its cost is kCand per query, independent of corpus size.
    Q("e6_knn_pq_rerank",
      (s, dir) => {
        val codes = s.read.parquet(pqIndexDir(s, dir))
        VectorOps.pqRerankTopK(Tables.load(s, dir, "embeddings"),
            col("vec_id") < 3, kCand = 10, k = 3,
            precomputedCodes = Some(codes))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH cent AS (
             |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 4),
             |pd AS (
             |  SELECT e.vec_id, c.cid, t.m,
             |    round((SELECT sum((e.embedding[8*t.m+i+1]::DOUBLE - c.cv[8*t.m+i+1]::DOUBLE)
             |               * (e.embedding[8*t.m+i+1]::DOUBLE - c.cv[8*t.m+i+1]::DOUBLE))
             |           FROM range(8) s(i)), 6) AS d
             |  FROM embeddings e, cent c, range(8) t(m)),
             |codes AS (SELECT vec_id, m, cid AS code FROM (
             |    SELECT vec_id, m, cid,
             |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
             |    FROM pd) WHERE rn = 1),
             |qd AS (SELECT vec_id AS query_id, cid AS code, m, d AS qd
             |       FROM pd WHERE vec_id < 3),
             |adc AS (
             |  SELECT q.query_id, c.vec_id AS cand_id, round(sum(q.qd), 6) AS adc
             |  FROM codes c JOIN qd q ON q.m = c.m AND q.code = c.code
             |  GROUP BY q.query_id, c.vec_id),
             |cand AS (SELECT query_id, cand_id FROM (
             |    SELECT query_id, cand_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rn
             |    FROM adc WHERE query_id <> cand_id) WHERE rn <= 10),
             |e AS (SELECT vec_id, embedding,
             |    sqrt((SELECT sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)
             |          FROM range(64) t(i))) AS nrm
             |  FROM embeddings),
             |rr AS (SELECT c.query_id, c.cand_id,
             |    round((SELECT sum(q.embedding[i+1]::DOUBLE * v.embedding[i+1]::DOUBLE)
             |           FROM range(64) t(i)) / (q.nrm * v.nrm), 6) AS cos
             |  FROM cand c JOIN e q ON q.vec_id = c.query_id
             |              JOIN e v ON v.vec_id = c.cand_id),
             |fin AS (SELECT query_id, cand_id, cos,
             |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
             |  FROM rr)
             |SELECT query_id, cand_id, cos, CAST(rnk AS BIGINT) AS rnk
             |FROM fin WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin)),

    // IVF+PQ combined (FAISS IVFPQ shape): the query probes its 2
    // nearest of 8 cells and ADC-scores ONLY the candidates in those
    // cells, read from the PERSISTED pre-joined serving index
    // (vec_id, cell, m, code) — cell pruning x 256x compression in one
    // plan with NO corpus-wide join at query time. The candidate
    // restriction is an equi-join on cell id; the corpus neither
    // shuffles nor rescans.
    Q("e7_knn_ivf_pq",
      (s, dir) => {
        val cellCodes = s.read.parquet(ivfPqIndexDir(s, dir))
        VectorOps.ivfPqTopK(Tables.load(s, dir, "embeddings"),
            col("vec_id") < 3, 5, nCells = 8, nProbe = 2,
            precomputedCellCodes = Some(cellCodes))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding,
             |    sqrt((SELECT sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)
             |          FROM range(64) t(i))) AS nrm
             |  FROM embeddings),
             |centv AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm
             |          FROM e WHERE vec_id < 8),
             |ac AS (SELECT v.vec_id, c.cid,
             |    round((SELECT sum(v.embedding[i+1]::DOUBLE * c.cv[i+1]::DOUBLE)
             |           FROM range(64) t(i)) / (v.nrm * c.cnrm), 6) AS cos
             |  FROM e v, centv c),
             |assign AS (SELECT vec_id, cid AS cell FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
             |    FROM ac) WHERE rn = 1),
             |probe AS (SELECT vec_id AS query_id, cid AS cell FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
             |    FROM ac WHERE vec_id < 3) WHERE rn <= 2),
             |cent AS (
             |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 4),
             |pd AS (
             |  SELECT e.vec_id, c.cid, t.m,
             |    round((SELECT sum((e.embedding[8*t.m+i+1]::DOUBLE - c.cv[8*t.m+i+1]::DOUBLE)
             |               * (e.embedding[8*t.m+i+1]::DOUBLE - c.cv[8*t.m+i+1]::DOUBLE))
             |           FROM range(8) s(i)), 6) AS d
             |  FROM embeddings e, cent c, range(8) t(m)),
             |codes AS (SELECT vec_id, m, cid AS code FROM (
             |    SELECT vec_id, m, cid,
             |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
             |    FROM pd) WHERE rn = 1),
             |qd AS (SELECT vec_id AS query_id, cid AS code, m, d AS qd
             |       FROM pd WHERE vec_id < 3),
             |adc AS (
             |  SELECT q.query_id, c.vec_id AS cand_id, round(sum(q.qd), 6) AS adc
             |  FROM codes c
             |  JOIN assign a ON a.vec_id = c.vec_id
             |  JOIN probe p ON p.cell = a.cell
             |  JOIN qd q ON q.query_id = p.query_id
             |            AND q.m = c.m AND q.code = c.code
             |  GROUP BY q.query_id, c.vec_id),
             |ranked AS (SELECT query_id, cand_id, adc,
             |    row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rnk
             |  FROM adc WHERE query_id <> cand_id)
             |SELECT query_id, cand_id, adc, CAST(rnk AS BIGINT) AS rnk
             |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // IVF + SQ8 (the FAISS IVFSQ shape): cell-pruned candidates scored
    // asymmetrically — full-precision query against candidates
    // DEQUANTIZED from their persisted 4x-compressed SQ8 codes
    // (per-dim uniform 256-level quantization against the persisted
    // min/max stats). Both index halves come from sqIndexDirs (the
    // nightly build); the timed plan touches the float corpus only
    // for the 3-query batch. Completes the quantization family:
    // LSH (e2), IVF (e3/e4), PQ (e5/e6), IVF+PQ (e7), IVF+SQ8 (e8).
    Q("e8_knn_ivf_sq8",
      (s, dir) => {
        val (codesDir, statsDir) = sqIndexDirs(s, dir)
        VectorOps.sqTopK(Tables.load(s, dir, "embeddings"),
            col("vec_id") < 3, 5, nCells = 8, nProbe = 2, dim = 64,
            precomputedCodes = Some(s.read.parquet(codesDir)),
            precomputedAssign = Some(s.read.parquet(ivfIndexDir(s, dir))),
            precomputedStats = Some(s.read.parquet(statsDir)))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding,
             |    sqrt((SELECT sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)
             |          FROM range(64) t(i))) AS nrm
             |  FROM embeddings),
             |cent AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm
             |         FROM e WHERE vec_id < 8),
             |ac AS (SELECT v.vec_id, c.cid,
             |    round((SELECT sum(v.embedding[i+1]::DOUBLE * c.cv[i+1]::DOUBLE)
             |           FROM range(64) t(i)) / (v.nrm * c.cnrm), 6) AS cos
             |  FROM e v, cent c),
             |assign AS (SELECT vec_id, cid AS cell FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
             |    FROM ac) WHERE rn = 1),
             |probe AS (SELECT vec_id AS query_id, cid AS cell FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
             |    FROM ac WHERE vec_id < 3) WHERE rn <= 2),
             |stats AS (SELECT i.i AS pos,
             |    min(e2.embedding[i.i + 1]::DOUBLE) AS mn,
             |    max(e2.embedding[i.i + 1]::DOUBLE) AS mx
             |  FROM embeddings e2, range(64) i(i) GROUP BY 1),
             |recon AS (SELECT em.vec_id, s.pos,
             |    s.mn + (CASE WHEN s.mx = s.mn THEN 0
             |            ELSE CAST(round(255 * (em.embedding[s.pos + 1]::DOUBLE - s.mn)
             |                             / (s.mx - s.mn)) AS INT) END)
             |           * (s.mx - s.mn) / 255.0 AS rv
             |  FROM embeddings em, stats s),
             |rnorm AS (SELECT vec_id, sqrt(sum(rv * rv)) AS rnrm
             |          FROM recon GROUP BY 1),
             |scored AS (SELECT p.query_id, a2.vec_id AS cand_id,
             |    round(sum(q.embedding[r.pos + 1]::DOUBLE * r.rv)
             |          / (max(q.nrm) * max(n2.rnrm)), 6) AS cos
             |  FROM probe p
             |  JOIN assign a2 ON p.cell = a2.cell AND a2.vec_id <> p.query_id
             |  JOIN e q ON q.vec_id = p.query_id
             |  JOIN recon r ON r.vec_id = a2.vec_id
             |  JOIN rnorm n2 ON n2.vec_id = a2.vec_id
             |  GROUP BY p.query_id, a2.vec_id),
             |ranked AS (SELECT query_id, cand_id, cos,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY cos DESC, cand_id) AS rnk
             |  FROM scored)
             |SELECT query_id, cand_id, cos, CAST(rnk AS BIGINT) AS rnk
             |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // ---- time-series joins ----

    // Backward as-of join (operator Spark lacks): every purchase gets
    // the latest prior click of the same user. Composed as union+window
    // (one shuffle+sort, Catalyst-planned); oracle is DuckDB's native
    // ASOF JOIN — two independent formulations, identical results.
    Q("j1_asof_join",
      (s, dir) => {
        val ev = graft.Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(round(max(col("value")), 2).as("click_value"))
          .withColumn("click_ts", col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        graft.pipeline.Joins.asOfBackward(purchases, clicks, "ts",
            Seq("user_id"), Seq("click_value", "click_ts"))
          .select(col("event_id"), unix_micros(col("ts")).as("p_ts"),
                  unix_micros(col("click_ts")).as("c_ts"), col("click_value"))
          .orderBy(col("event_id"))
      },
      Some("""WITH clicks AS (
              |  SELECT user_id, ts, round(max(value), 2) AS click_value
              |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
              |p AS (SELECT user_id, ts, event_id FROM events
              |      WHERE event_type = 'purchase')
              |SELECT p.event_id, epoch_us(p.ts) AS p_ts, epoch_us(c.ts) AS c_ts,
              |       c.click_value
              |FROM p ASOF LEFT JOIN clicks c
              |  ON p.user_id = c.user_id AND p.ts >= c.ts
              |ORDER BY event_id""".stripMargin)),

    // Banded range join (operator Spark plans quadratically): per
    // purchase, the same user's clicks in the preceding hour. Bucketized
    // to an equi-join on (user_id, hour bucket); oracle is DuckDB's
    // native inequality join — independent formulations.
    Q("j2_range_join",
      (s, dir) => {
        val ev = graft.Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"), col("event_id"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("c_ts"), col("value"))
        graft.pipeline.Joins.rangeJoinPreceding(purchases, clicks,
            "p_ts", "c_ts", Seq("user_id"), 3600L * 1000000L)
          .groupBy(col("event_id"))
          .agg(count(lit(1)).as("n_clicks"),
               round(sum(col("value")), 2).as("click_value"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT p.event_id, count(*) AS n_clicks,
              |  round(sum(c.value), 2) AS click_value
              |FROM events p JOIN events c
              |  ON p.event_type = 'purchase' AND c.event_type = 'click'
              | AND p.user_id = c.user_id
              | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
              |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin)),

    // Interval-OVERLAP join (the third temporal-join semantic after
    // as-of j1 and banded-range j2): click and view sessions get
    // deterministic durations of 6-30 hours (6 * (1 + user_id % 5)), and every
    // overlapping (click, view) session pair per user reports its
    // exact overlap. The scale shape is the bucketized equi-join with
    // the FIRST-BUCKET-CLAIM dedup (a pair is emitted only in the
    // bucket of the later start, which both intervals contain) — no
    // distinct exchange exists anywhere in the plan. Oracle: the
    // direct quadratic overlap join, integer-microsecond arithmetic.
    Q("j3_interval_overlap",
      (s, dir) => {
        val ev = graft.Tables.events(s, dir)
        def sessions(t: String, ts: String, en: String) =
          ev.filter(col("event_type") === t)
            .select(col("user_id"), col("ts").as(ts),
              expr(s"timestamp_micros(unix_micros(ts) + " +
                s"(1 + user_id % 5) * 21600000000L)").as(en))
        graft.pipeline.Joins.intervalOverlapJoin(
            sessions("click", "c_ts", "c_end"),
            sessions("view", "v_ts", "v_end"),
            "c_ts", "c_end", "v_ts", "v_end",
            Seq("user_id"), bucketMicros = 12L * 3600L * 1000000L)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_pairs"),
               sum(col("overlap_us")).as("overlap_us_total"))
          .orderBy(col("user_id"))
      },
      Some("""WITH c AS (SELECT user_id, epoch_us(ts) AS cs,
             |    epoch_us(ts) + (1 + user_id % 5) * 21600000000 AS ce
             |  FROM events WHERE event_type = 'click'),
             |v AS (SELECT user_id, epoch_us(ts) AS vs,
             |    epoch_us(ts) + (1 + user_id % 5) * 21600000000 AS ve
             |  FROM events WHERE event_type = 'view'),
             |p AS (SELECT c.user_id,
             |    least(c.ce, v.ve) - greatest(c.cs, v.vs) AS ov
             |  FROM c JOIN v ON c.user_id = v.user_id
             |   AND c.cs < v.ve AND v.vs < c.ce)
             |SELECT user_id, count(*) AS n_pairs,
             |  CAST(sum(ov) AS BIGINT) AS overlap_us_total
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- multimodal plumbing ----

    // Binary payload column -> per-partition batch decode (STUB codec,
    // real Dataset/encoder plumbing) -> typed metadata aggregation.
    Q("m1_multimodal_meta",
      (s, dir) => {
        Multimodal.extractMetadata(Tables.load(s, dir, "documents"))
          .toDF()
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
               sum(col("width")).as("total_w"),
               sum(col("height")).as("total_h"),
               sum(col("frames")).as("total_frames"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n,
              |  CAST(sum(strlen(text) % 64) AS BIGINT) AS total_w,
              |  CAST(sum((strlen(text) // 64) % 64) AS BIGINT) AS total_h,
              |  CAST(sum(1 + doc_id % 3) AS BIGINT) AS total_frames
              |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Full multimodal stage chain: payload -> frame-sample (every 2nd)
    // -> resize to 8x8 -> byte-histogram features. The oracle pins the
    // exactly-predictable plumbing invariants (frame fan-out from the
    // sampling policy, the fixed resize shape, the feature dimension);
    // feature VALUES are pinned by MultimodalSpec determinism tests.
    Q("m2_multimodal_frames",
      (s, dir) => {
        val frames = Multimodal.sampleFrames(
          Tables.load(s, dir, "documents"), everyN = 2)
        val resized = Multimodal.resizeFrames(frames, 8, 8)
        Multimodal.extractFeatures(resized, dim = 16)
          .toDF()
          .groupBy(col("lang"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
               count(lit(1)).as("n_frames"),
               max(size(col("feature"))).as("feat_dim"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang,
              |  count(DISTINCT doc_id) AS n_docs,
              |  CAST(sum((2 + doc_id % 3) // 2) AS BIGINT) AS n_frames,
              |  CAST(16 AS INT) AS feat_dim
              |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Exact media dedup by content hash — the storage-dedup pass image/
    // audio corpora run before any decode: group binary payloads by
    // (xxhash64, byte length) so the exchange carries 12 bytes per
    // payload, NEVER the media bytes (at 100 TB of images the payloads
    // must stay in place; only hashes travel). Reports the per-lang
    // dedup ledger: total payloads, unique payloads, bytes reclaimable
    // by keeping one copy per group. The oracle groups by the payload's
    // SOURCE text (this corpus is ASCII, so strlen == byte length —
    // the same invariant m1's oracle already uses): identical groups
    // barring a 64-bit-hash+length collision, same construction as d1.
    Q("m3_multimodal_dedup",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(col("lang"), encode(col("text"), "UTF-8").as("payload"))
          .select(col("lang"), xxhash64(col("payload")).as("h"),
                  length(col("payload")).cast("long").as("bytes"))
          .groupBy(col("lang"), col("h"), col("bytes"))
          .agg(count(lit(1)).as("copies"))
          .groupBy(col("lang"))
          .agg(sum(col("copies")).as("n_payloads"),
               count(lit(1)).as("n_unique"),
               sum((col("copies") - 1) * col("bytes")).as("dup_bytes"))
          .orderBy(col("lang"))
      },
      Some("""WITH g AS (
              |  SELECT lang, text, count(*) AS copies,
              |         CAST(strlen(text) AS BIGINT) AS bytes
              |  FROM documents GROUP BY lang, text)
              |SELECT lang, CAST(sum(copies) AS BIGINT) AS n_payloads,
              |  count(*) AS n_unique,
              |  CAST(sum((copies - 1) * bytes) AS BIGINT) AS dup_bytes
              |FROM g GROUP BY lang ORDER BY lang""".stripMargin)),

    // Audio-modality chunking + VAD-style energy gating: the stub
    // waveform (char codes as PCM samples) splits into 100-sample
    // windows every 50 samples (50% overlap), each chunk carries
    // integer energy (sum of squared samples) and peak, and a silence
    // gate keeps chunks with energy >= 980000 (the corpus median —
    // both kept and gated chunks exist). All-integer, so the oracle
    // replays the chunking and gate exactly. Scale shape: the chunker
    // is a partition-parallel flatMap (media rows never shuffle); the
    // per-doc report is one map-side-combined aggregate.
    Q("m4_audio_vad",
      (s, dir) => {
        Multimodal.chunkAudio(Tables.load(s, dir, "documents"), 100, 50)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
               sum(when(col("energy") >= 980000L, 1L).otherwise(0L))
                 .as("n_voiced"),
               sum(col("energy")).as("total_energy"),
               max(col("peak")).as("max_peak"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH ch AS (SELECT doc_id, text,
             |    unnest(range(0, (length(text) - 100) // 50 + 1)) AS ci
             |  FROM documents WHERE length(text) >= 100),
             |j AS (SELECT doc_id, ci, text, unnest(range(0, 100)) AS k FROM ch),
             |samp AS (SELECT doc_id, ci,
             |    ascii(substring(text, CAST(ci * 50 + k + 1 AS INT), 1)) AS v
             |  FROM j),
             |agg AS (SELECT doc_id, ci, CAST(sum(v * v) AS BIGINT) AS energy,
             |    max(v) AS peak FROM samp GROUP BY 1, 2)
             |SELECT doc_id, count(*) AS n_chunks,
             |  CAST(sum(CASE WHEN energy >= 980000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_voiced,
             |  CAST(sum(energy) AS BIGINT) AS total_energy,
             |  max(peak) AS max_peak
             |FROM agg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Perceptual-hash near-duplicate detection over the image
    // modality (aHash, the classic average-hash): 8x8 pixel block ->
    // 64 threshold bits -> four 16-bit bands; candidates by band
    // equi-join (pigeonhole: Hamming <= 3 implies at least one equal
    // band — the LSH guarantee in its simplest exact form), confirmed
    // by bit_count(xor) Hamming distance. Extends the dedup family
    // (d1 exact, d2 MinHash, d3 SimHash, m3 exact-payload) to
    // NEAR-duplicate images. Band values hotter than maxBucket=64
    // docs generate no candidates through that band (the d2 cap —
    // the sf0.1 probe measured the uncapped join at 16 s with a
    // 340-doc hot band vs ~1 s capped); the oracle replays the cap
    // exactly, so the gate stays hash-exact.
    Q("m5_image_phash_neardup",
      (s, dir) => {
        Multimodal.phashNearDup(Tables.load(s, dir, "documents"),
            maxHamming = 3, maxBucket = 64)
          .orderBy(col("d1"), col("d2"))
      },
      Some("""WITH px AS (SELECT doc_id, unnest(range(0, 64)) AS k,
             |    ascii(substring(text,
             |      CAST(unnest(range(0, 64)) + 1 AS INT), 1)) AS v
             |  FROM documents WHERE length(text) >= 64),
             |tot AS (SELECT doc_id, sum(v) AS total FROM px GROUP BY 1),
             |bits AS (SELECT px.doc_id, px.k,
             |    CASE WHEN px.v * 64 >= tot.total THEN 1 ELSE 0 END AS b
             |  FROM px JOIN tot USING (doc_id)),
             |bands AS (SELECT doc_id,
             |    CAST(sum(CASE WHEN k // 16 = 0 THEN b << (k % 16) END)
             |         AS INT) AS b0,
             |    CAST(sum(CASE WHEN k // 16 = 1 THEN b << (k % 16) END)
             |         AS INT) AS b1,
             |    CAST(sum(CASE WHEN k // 16 = 2 THEN b << (k % 16) END)
             |         AS INT) AS b2,
             |    CAST(sum(CASE WHEN k // 16 = 3 THEN b << (k % 16) END)
             |         AS INT) AS b3
             |  FROM bits GROUP BY 1),
             |ok0 AS (SELECT b0 AS v FROM bands GROUP BY 1
             |        HAVING count(*) <= 64),
             |ok1 AS (SELECT b1 AS v FROM bands GROUP BY 1
             |        HAVING count(*) <= 64),
             |ok2 AS (SELECT b2 AS v FROM bands GROUP BY 1
             |        HAVING count(*) <= 64),
             |ok3 AS (SELECT b3 AS v FROM bands GROUP BY 1
             |        HAVING count(*) <= 64),
             |pairs AS (
             |  SELECT a.doc_id AS d1, b.doc_id AS d2
             |  FROM bands a JOIN ok0 ON a.b0 = ok0.v
             |    JOIN bands b ON a.b0 = b.b0 AND a.doc_id < b.doc_id
             |  UNION
             |  SELECT a.doc_id, b.doc_id
             |  FROM bands a JOIN ok1 ON a.b1 = ok1.v
             |    JOIN bands b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
             |  UNION
             |  SELECT a.doc_id, b.doc_id
             |  FROM bands a JOIN ok2 ON a.b2 = ok2.v
             |    JOIN bands b ON a.b2 = b.b2 AND a.doc_id < b.doc_id
             |  UNION
             |  SELECT a.doc_id, b.doc_id
             |  FROM bands a JOIN ok3 ON a.b3 = ok3.v
             |    JOIN bands b ON a.b3 = b.b3 AND a.doc_id < b.doc_id),
             |ham AS (SELECT p.d1, p.d2,
             |    CAST(bit_count(CAST(xor(a.b0, b.b0) AS BIGINT))
             |       + bit_count(CAST(xor(a.b1, b.b1) AS BIGINT))
             |       + bit_count(CAST(xor(a.b2, b.b2) AS BIGINT))
             |       + bit_count(CAST(xor(a.b3, b.b3) AS BIGINT))
             |      AS BIGINT) AS hd
             |  FROM pairs p JOIN bands a ON a.doc_id = p.d1
             |               JOIN bands b ON b.doc_id = p.d2)
             |SELECT d1, d2, hd FROM ham WHERE hd <= 3
             |ORDER BY d1, d2""".stripMargin)),

    // Video keyframe near-dup — shot-level dedup: m2's frame slicing
    // (declaratively, so the oracle replays it) → m5's banded aHash at
    // frame granularity via a packed frame id → video-pair rollup.
    // Same scale posture as m5: under-cap bands only, broadcast count
    // tables, never all-pairs.
    Q("m6_video_keyframe_neardup",
      (s, dir) => {
        Multimodal.videoNearDup(Tables.load(s, dir, "documents"),
            maxHamming = 3, maxBucket = 64)
          .orderBy(col("v1"), col("v2"))
      },
      Some("""WITH base AS (SELECT doc_id, text,
             |    CAST(1 + doc_id % 3 AS BIGINT) AS n FROM documents),
             |fr0 AS (SELECT doc_id, text, n,
             |    unnest(range(0, n)) AS f FROM base),
             |fr AS (SELECT doc_id*4 + f AS doc_id,
             |    substring(text, CAST((f*length(text))//n + 1 AS INT),
             |      CAST(((f+1)*length(text))//n
             |           - (f*length(text))//n AS INT)) AS text
             |  FROM fr0),
             |px AS (SELECT doc_id, unnest(range(0, 64)) AS k,
             |    ascii(substring(text,
             |      CAST(unnest(range(0, 64)) + 1 AS INT), 1)) AS v
             |  FROM fr WHERE length(text) >= 64),
             |tot AS (SELECT doc_id, sum(v) AS total FROM px GROUP BY 1),
             |bits AS (SELECT px.doc_id, px.k,
             |    CASE WHEN px.v * 64 >= tot.total THEN 1 ELSE 0 END AS b
             |  FROM px JOIN tot USING (doc_id)),
             |bands AS (SELECT doc_id,
             |    CAST(sum(CASE WHEN k // 16 = 0 THEN b << (k % 16) END)
             |         AS INT) AS b0,
             |    CAST(sum(CASE WHEN k // 16 = 1 THEN b << (k % 16) END)
             |         AS INT) AS b1,
             |    CAST(sum(CASE WHEN k // 16 = 2 THEN b << (k % 16) END)
             |         AS INT) AS b2,
             |    CAST(sum(CASE WHEN k // 16 = 3 THEN b << (k % 16) END)
             |         AS INT) AS b3
             |  FROM bits GROUP BY 1),
             |ok0 AS (SELECT b0 AS v FROM bands GROUP BY 1
             |        HAVING count(*) <= 64),
             |ok1 AS (SELECT b1 AS v FROM bands GROUP BY 1
             |        HAVING count(*) <= 64),
             |ok2 AS (SELECT b2 AS v FROM bands GROUP BY 1
             |        HAVING count(*) <= 64),
             |ok3 AS (SELECT b3 AS v FROM bands GROUP BY 1
             |        HAVING count(*) <= 64),
             |pairs AS (
             |  SELECT a.doc_id AS d1, b.doc_id AS d2
             |  FROM bands a JOIN ok0 ON a.b0 = ok0.v
             |    JOIN bands b ON a.b0 = b.b0 AND a.doc_id < b.doc_id
             |  UNION
             |  SELECT a.doc_id, b.doc_id
             |  FROM bands a JOIN ok1 ON a.b1 = ok1.v
             |    JOIN bands b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
             |  UNION
             |  SELECT a.doc_id, b.doc_id
             |  FROM bands a JOIN ok2 ON a.b2 = ok2.v
             |    JOIN bands b ON a.b2 = b.b2 AND a.doc_id < b.doc_id
             |  UNION
             |  SELECT a.doc_id, b.doc_id
             |  FROM bands a JOIN ok3 ON a.b3 = ok3.v
             |    JOIN bands b ON a.b3 = b.b3 AND a.doc_id < b.doc_id),
             |ham AS (SELECT p.d1, p.d2,
             |    CAST(bit_count(CAST(xor(a.b0, b.b0) AS BIGINT))
             |       + bit_count(CAST(xor(a.b1, b.b1) AS BIGINT))
             |       + bit_count(CAST(xor(a.b2, b.b2) AS BIGINT))
             |       + bit_count(CAST(xor(a.b3, b.b3) AS BIGINT))
             |      AS BIGINT) AS hd
             |  FROM pairs p JOIN bands a ON a.doc_id = p.d1
             |               JOIN bands b ON b.doc_id = p.d2)
             |SELECT d1 // 4 AS v1, d2 // 4 AS v2,
             |  CAST(count(*) AS BIGINT) AS n_frames, min(hd) AS min_hd
             |FROM ham WHERE hd <= 3 AND d1 // 4 <> d2 // 4
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Audio near-dup — the m5 banded posture on the audio modality,
    // chaining m4's chunker: the first 4 overlapping windows emit
    // (energy, peak) signatures, each window's quantized energy packed
    // with its peak is one band, candidates come from capped per-band
    // equi-joins, and the confirm is the exact total energy distance.
    // All-integer; the oracle replays signature, cap, and confirm.
    Q("m7_audio_neardup",
      (s, dir) => {
        Multimodal.audioNearDup(Tables.load(s, dir, "documents"),
            maxEnergyDist = 20000L, maxBucket = 64)
          .orderBy(col("d1"), col("d2"))
      },
      Some("""WITH ch AS (SELECT doc_id, text, unnest(range(0, 4)) AS ci
             |  FROM documents WHERE length(text) >= 250),
             |j AS (SELECT doc_id, ci, text, unnest(range(0, 100)) AS k FROM ch),
             |samp AS (SELECT doc_id, ci,
             |    ascii(substring(text, CAST(ci * 50 + k + 1 AS INT), 1)) AS v
             |  FROM j),
             |agg AS (SELECT doc_id, ci, CAST(sum(v * v) AS BIGINT) AS energy,
             |    max(v) AS peak FROM samp GROUP BY 1, 2),
             |sig AS (SELECT doc_id,
             |    CAST(sum(CASE WHEN ci = 0 THEN (energy // 4096) * 256 + peak END) AS BIGINT) AS b0,
             |    CAST(sum(CASE WHEN ci = 1 THEN (energy // 4096) * 256 + peak END) AS BIGINT) AS b1,
             |    CAST(sum(CASE WHEN ci = 2 THEN (energy // 4096) * 256 + peak END) AS BIGINT) AS b2,
             |    CAST(sum(CASE WHEN ci = 3 THEN (energy // 4096) * 256 + peak END) AS BIGINT) AS b3,
             |    CAST(sum(CASE WHEN ci = 0 THEN energy END) AS BIGINT) AS e0,
             |    CAST(sum(CASE WHEN ci = 1 THEN energy END) AS BIGINT) AS e1,
             |    CAST(sum(CASE WHEN ci = 2 THEN energy END) AS BIGINT) AS e2,
             |    CAST(sum(CASE WHEN ci = 3 THEN energy END) AS BIGINT) AS e3
             |  FROM agg GROUP BY 1),
             |ok0 AS (SELECT b0 AS v FROM sig GROUP BY 1 HAVING count(*) <= 64),
             |ok1 AS (SELECT b1 AS v FROM sig GROUP BY 1 HAVING count(*) <= 64),
             |ok2 AS (SELECT b2 AS v FROM sig GROUP BY 1 HAVING count(*) <= 64),
             |ok3 AS (SELECT b3 AS v FROM sig GROUP BY 1 HAVING count(*) <= 64),
             |pairs AS (
             |  SELECT a.doc_id AS d1, b.doc_id AS d2
             |  FROM sig a JOIN ok0 ON a.b0 = ok0.v
             |    JOIN sig b ON a.b0 = b.b0 AND a.doc_id < b.doc_id
             |  UNION
             |  SELECT a.doc_id, b.doc_id
             |  FROM sig a JOIN ok1 ON a.b1 = ok1.v
             |    JOIN sig b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
             |  UNION
             |  SELECT a.doc_id, b.doc_id
             |  FROM sig a JOIN ok2 ON a.b2 = ok2.v
             |    JOIN sig b ON a.b2 = b.b2 AND a.doc_id < b.doc_id
             |  UNION
             |  SELECT a.doc_id, b.doc_id
             |  FROM sig a JOIN ok3 ON a.b3 = ok3.v
             |    JOIN sig b ON a.b3 = b.b3 AND a.doc_id < b.doc_id),
             |dd AS (SELECT p.d1, p.d2,
             |    abs(a.e0 - b.e0) + abs(a.e1 - b.e1)
             |      + abs(a.e2 - b.e2) + abs(a.e3 - b.e3) AS dist
             |  FROM pairs p JOIN sig a ON a.doc_id = p.d1
             |               JOIN sig b ON b.doc_id = p.d2)
             |SELECT d1, d2, dist FROM dd WHERE dist <= 20000
             |ORDER BY d1, d2""".stripMargin)),

    // Heavy hitters per source — the vocabulary/boilerplate audit a
    // curation pipeline runs before mixing (over-frequent tokens mark
    // template rot). Built on the DataSketches Frequent-Items
    // aggregate (ds_freq, a native TypedImperativeAggregate): per-task
    // memory is bounded by maxMapSize REGARDLESS of vocabulary size
    // and the one shuffle carries a ~maxMapSize-entry blob per
    // (source, partition) instead of the full token histogram — at a
    // billion-token vocab the histogram groupBy shuffles TBs, the
    // sketch shuffles KBs. This corpus sits in the sketch's exact
    // regime (max_err = 0, pinned by the oracle's constant), so top-5
    // counts are true counts; past the purge threshold the same plan
    // degrades to Misra-Gries bounds instead of failing.
    Q("d30_heavy_hitters",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .groupBy(col("source"))
          .agg(expr("ds_freq(tok, 128)").as("sk"))
          .select(col("source"),
            expr("ds_freq_max_error(sk)").as("max_err"),
            posexplode(expr("ds_freq_topk(sk, 5)")))
          .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
            col("col.item").as("tok"), col("col.est").as("n"),
            col("max_err"))
          .orderBy(col("source"), col("rank"))
      },
      Some("""WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
             |          FROM documents),
             |c AS (SELECT source, tok, count(*) AS n FROM t GROUP BY 1, 2),
             |r AS (SELECT source, tok, n, row_number() OVER (
             |        PARTITION BY source ORDER BY n DESC, tok) AS rank
             |      FROM c)
             |SELECT source, CAST(rank AS BIGINT) AS rank, tok, n,
             |  CAST(0 AS BIGINT) AS max_err
             |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin)),

    // Canonical representative per near-dup cluster — the DEPLOY
    // semantics of near-dedup: d18 finds the components, this op picks
    // the one document each cluster KEEPS (longest text, doc_id
    // tie-break) and counts what it drops. Same persisted band index
    // and union-find as d18 (clustering never re-hashes the corpus);
    // the extra work is one doc_id equi-join against the corpus
    // metadata and one component aggregate — both touch the CLUSTERED
    // docs only, never the full corpus. The representative is chosen
    // by max(struct(n_chars, -doc_id)) — an AGGREGATE with map-side
    // partials, deliberately not a per-component row_number window:
    // on a boilerplate-heavy corpus components degenerate into a few
    // giant clusters (the sf100 probe measured 8 clusters over 4.4M
    // docs) and a window sorts each one inside a single task, while
    // the aggregate stays balanced at any cluster shape.
    Q("d31_canonical_keep",
      (s, dir) => {
        val cand = TextOps.lshConnectivityEdges(
          s.read.parquet(lshBandsDir(s, dir)))
        val comp = graft.pipeline.Components.connectedComponents(cand)
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
        comp.join(docs, Seq("doc_id"))
          .groupBy(col("component"))
          .agg(count(lit(1)).as("n_docs"),
            max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"),
              col("doc_id"))).as("best"))
          .select(col("component"), col("n_docs"),
            col("best.doc_id").as("keep_doc"),
            col("best.n_chars").as("keep_chars"),
            (col("n_docs") - 1).as("n_dropped"))
          .orderBy(col("component"))
      },
      Some(s"""WITH RECURSIVE $duckGrams, ${duckParams(16)}, $duckBands,
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
           |edges AS (SELECT d1 AS u, d2 AS v FROM cand
           |          UNION SELECT d2, d1 FROM cand),
           |reach(u, v) AS (
           |  SELECT u, v FROM edges
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
           |comp AS (
           |  SELECT u AS doc_id, least(u, min(v)) AS component
           |  FROM reach GROUP BY u),
           |j AS (SELECT c.component, c.doc_id, d.n_chars
           |      FROM comp c JOIN documents d USING (doc_id)),
           |r AS (SELECT component, doc_id, n_chars,
           |        count(*) OVER (PARTITION BY component) AS n_docs,
           |        row_number() OVER (PARTITION BY component
           |          ORDER BY n_chars DESC, doc_id) AS rn
           |      FROM j)
           |SELECT component, CAST(n_docs AS BIGINT) AS n_docs,
           |  doc_id AS keep_doc, n_chars AS keep_chars,
           |  CAST(n_docs - 1 AS BIGINT) AS n_dropped
           |FROM r WHERE rn = 1 ORDER BY component""".stripMargin)),

    // INCREMENTAL connected components — the nightly-ingest completion
    // of the near-dup family (d18 labels from scratch; at 100 TB a
    // multi-billion-edge full CC nightly is the cost incrementality
    // avoids). The corpus splits at max(doc_id)/2 into a "prior" half
    // (labeled by a full solve over its own edges — the persisted
    // label table a real pipeline carries forward) and a "tonight"
    // delta (every candidate edge touching a new doc). The gate runs
    // Components.incrementalComponents — contract delta endpoints
    // through prior labels, solve the DELTA-sized contracted graph,
    // relabel — and the ORACLE is a full recompute over the union:
    // hash-exactness IS the incremental-equals-full proof. n_new_docs
    // makes the merge behavior visible (components mixing halves).
    Q("d32_incremental_components",
      (s, dir) => {
        // the split point rides the PLAN as a broadcast 1-row aggregate
        // (same value as the old driver-side max(doc_id).head / 2 —
        // doc_ids are non-negative, so `div 2` is the same truncation):
        // no blocking pre-plan job serializing the invocation, the e10
        // hybridTopKFrac pattern (guide §5 — keep actions out of the
        // query path)
        val cutoffDf = Tables.load(s, dir, "documents")
          .agg(expr("max(doc_id) div 2").as("cutoff"))
        // materialize the edge list ONCE: both the old-graph and the
        // delta filters consume it, and without the checkpoint each
        // side re-ran the whole hub-aggregate + join + distinct
        // pipeline that builds the edges (2x the dominant stage; the
        // same reason connectedComponents checkpoints internally).
        // The cutoff column is attached BEFORE the checkpoint so the
        // broadcast subtree runs once here, not once per CC-loop action
        val cand = graft.pipeline.BarrierCache.checkpoint(
          TextOps.lshConnectivityEdges(
              s.read.parquet(lshBandsDir(s, dir)))
            .crossJoin(broadcast(cutoffDf)))
        val old = cand
          .filter(col("d1") < col("cutoff") && col("d2") < col("cutoff"))
          .select("d1", "d2")
        val fresh = cand
          .filter(col("d1") >= col("cutoff") || col("d2") >= col("cutoff"))
          .select("d1", "d2")
        val prev = graft.pipeline.Components.connectedComponents(old)
        graft.pipeline.Components.incrementalComponents(prev, fresh)
          .crossJoin(broadcast(cutoffDf))
          .groupBy(col("component"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") >= col("cutoff"), 1L).otherwise(0L))
              .as("n_new_docs"),
            max(col("doc_id")).as("max_doc"))
          .orderBy(col("component"))
      },
      Some(s"""WITH RECURSIVE $duckGrams, ${duckParams(16)}, $duckBands,
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
           |edges AS (SELECT d1 AS u, d2 AS v FROM cand
           |          UNION SELECT d2, d1 FROM cand),
           |reach(u, v) AS (
           |  SELECT u, v FROM edges
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
           |comp AS (
           |  SELECT u AS doc_id, least(u, min(v)) AS component
           |  FROM reach GROUP BY u)
           |SELECT component, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN doc_id >=
           |    (SELECT max(doc_id) // 2 FROM documents)
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_new_docs,
           |  max(doc_id) AS max_doc
           |FROM comp GROUP BY component ORDER BY component""".stripMargin)),

    // ANN index-quality audit: recall@k of the IVF index (e3's exact
    // lattice) against the brute-force ground truth (e1's), per query —
    // the eval every ANN deployment runs before trusting an index.
    // Both sides are deterministic (cosines rounded to 6, id
    // tie-breaks), so recall itself is oracle-exact, not a tolerance
    // check. At scale the truth side is the one-off offline pass over
    // a SAMPLED query set (3 here); the audited index path stays the
    // partition-pruned probe plan.
    Q("e11_recall_eval",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val truth = VectorOps.bruteTopK(emb, emb.filter(col("vec_id") < 3), 3)
          .select(col("query_id"), col("cand_id"))
        val approx = VectorOps.ivfTopK(emb, col("vec_id") < 3, 3,
            nCells = 8, nProbe = 2)
          .select(col("query_id"), col("cand_id"))
        val hits = truth.join(approx, Seq("query_id", "cand_id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
        truth.groupBy(col("query_id")).agg(count(lit(1)).as("n_true"))
          .join(hits, Seq("query_id"), "left")
          .na.fill(0L, Seq("n_hit"))
          .select(col("query_id"), col("n_true"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_true"), 6).as("recall"))
          .orderBy(col("query_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding, label,
           |    sqrt((SELECT sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)
           |          FROM range(64) t(i))) AS nrm
           |  FROM embeddings),
           |bs AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           |    round((SELECT sum(q.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE)
           |           FROM range(64) t(i)) / (q.nrm * c.nrm), 6) AS cos
           |  FROM e q JOIN e c ON q.vec_id < 3 AND q.vec_id <> c.vec_id),
           |bt AS (SELECT query_id, cand_id FROM (
           |    SELECT query_id, cand_id,
           |      row_number() OVER (PARTITION BY query_id
           |                         ORDER BY cos DESC, cand_id) AS rnk
           |    FROM bs) WHERE rnk <= 3),
           |cent AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm
           |         FROM e WHERE vec_id < 8),
           |ac AS (SELECT v.vec_id, c.cid,
           |    round((SELECT sum(v.embedding[i+1]::DOUBLE * c.cv[i+1]::DOUBLE)
           |           FROM range(64) t(i)) / (v.nrm * c.cnrm), 6) AS cos
           |  FROM e v, cent c),
           |assign AS (SELECT vec_id, cid AS cell FROM (
           |    SELECT vec_id, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
           |    FROM ac) WHERE rn = 1),
           |probe AS (SELECT vec_id AS query_id, cid AS cell FROM (
           |    SELECT vec_id, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
           |    FROM ac WHERE vec_id < 3) WHERE rn <= 2),
           |scored AS (SELECT p.query_id, a2.vec_id AS cand_id,
           |    round((SELECT sum(q.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE)
           |           FROM range(64) t(i)) / (q.nrm * c.nrm), 6) AS cos
           |  FROM probe p JOIN assign a2 ON p.cell = a2.cell AND a2.vec_id <> p.query_id
           |  JOIN e q ON q.vec_id = p.query_id
           |  JOIN e c ON c.vec_id = a2.vec_id),
           |it AS (SELECT query_id, cand_id FROM (
           |    SELECT query_id, cand_id,
           |      row_number() OVER (PARTITION BY query_id
           |                         ORDER BY cos DESC, cand_id) AS rnk
           |    FROM scored) WHERE rnk <= 3),
           |h AS (SELECT bt.query_id, count(*) AS n_hit
           |      FROM bt JOIN it USING (query_id, cand_id) GROUP BY 1),
           |t AS (SELECT query_id, count(*) AS n_true FROM bt GROUP BY 1)
           |SELECT t.query_id, n_true,
           |  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
           |  round(coalesce(n_hit, 0) * CAST(1 AS DOUBLE) / n_true, 6) AS recall
           |FROM t LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin)),

    // Scalar-quantized (uniform int8) ANN with exact re-rank — the
    // memory-bandwidth scale path (FAISS SQ8 / Lucene int8): quantize
    // each vector to 64 signed bytes with one global [lo, hi] affine
    // range, generate candidates by INTEGER dot product over the
    // quantized corpus (the scan reads 4-8x fewer bytes — at 100 TB
    // that IS the query cost), exact-cosine re-rank only the
    // candidate pool. Every stage is deterministic (exact min/max
    // range, ties-away-from-zero quantizer in both engines, integer
    // candidate scores, id tie-breaks), so unlike recall-graded ANN
    // this gate is hash-exact end to end.
    Q("e12_sq8_rerank",
      (s, dir) => {
        VectorOps.sq8TopK(Tables.load(s, dir, "embeddings"),
            col("vec_id") < 3, k = 5, candPool = 20)
          .withColumn("rnk", col("rnk").cast("long"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH mm AS (SELECT t.i AS pos,
           |    min(e.embedding[t.i+1]::DOUBLE) AS mn,
           |    max(e.embedding[t.i+1]::DOUBLE) AS mx
           |  FROM embeddings e, range(64) t(i) GROUP BY t.i),
           |e AS (SELECT vec_id, embedding,
           |    sqrt((SELECT sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)
           |          FROM range(64) t(i))) AS nrm
           |  FROM embeddings),
           |qs AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           |    CAST((SELECT sum(
           |        CAST(CASE WHEN m.mx = m.mn THEN 0 ELSE
           |          round((q.embedding[m.pos+1]::DOUBLE - m.mn)
           |                / (m.mx - m.mn) * 255 - 128) END AS BIGINT)
           |      * CAST(CASE WHEN m.mx = m.mn THEN 0 ELSE
           |          round((c.embedding[m.pos+1]::DOUBLE - m.mn)
           |                / (m.mx - m.mn) * 255 - 128) END AS BIGINT))
           |      FROM mm m) AS BIGINT) AS qscore
           |  FROM e q JOIN e c ON q.vec_id < 3 AND q.vec_id <> c.vec_id),
           |pool AS (SELECT query_id, cand_id, qscore,
           |    row_number() OVER (PARTITION BY query_id
           |                       ORDER BY qscore DESC, cand_id) AS prnk
           |  FROM qs),
           |rr AS (SELECT p.query_id, p.cand_id, p.qscore,
           |    round((SELECT sum(a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE)
           |           FROM range(64) t(i)) / (a.nrm * b.nrm), 6) AS cos
           |  FROM pool p JOIN e a ON a.vec_id = p.query_id
           |              JOIN e b ON b.vec_id = p.cand_id
           |  WHERE p.prnk <= 20),
           |f AS (SELECT query_id, cand_id, qscore, cos,
           |    row_number() OVER (PARTITION BY query_id
           |                       ORDER BY cos DESC, cand_id) AS rnk
           |  FROM rr)
           |SELECT query_id, cand_id, qscore, cos, CAST(rnk AS BIGINT) AS rnk
           |FROM f WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),
  )
}
