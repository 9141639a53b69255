package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sql.GraftExtensions

/** Text-pipeline operators for large-scale training-data curation:
  * shingling, MinHash+LSH, SimHash, exact n-gram Jaccard, language-ID,
  * quality scoring, token counting, fingerprinting.
  *
  * All hashing is pure integer arithmetic over character n-gram codes
  * ((a*x + b) mod P with P prime, BIGINT-safe in ANSI mode), so the
  * exact same computation is expressible in portable SQL — the DuckDB
  * oracles replay it bit-for-bit. At scale everything here is
  * shuffle-lean: shingle explode is map-side, MinHash reduces
  * (doc x gram x k) to (doc x k) with a partial min aggregate, and LSH
  * turns the quadratic all-pairs problem into an equi-join on band
  * signatures.
  */
object TextOps {

  /** Hash-family constants, shared verbatim with the SQL oracles. */
  val P = 1000003L
  def aConst(j: Int): Long = (7919L * (j + 1)) % P
  def bConst(j: Int): Long = (104729L * (j + 7)) % P

  /** 5-gram integer code at 1-based position `i` of `text` (5 chars
    * base-256; BIGINT to survive ANSI overflow checks). Identical text
    * works in Spark SQL and DuckDB.
    */
  val gram5Sql: String =
    "(((CAST(ascii(substring(text, i, 1)) AS BIGINT) * 256 + " +
      "ascii(substring(text, i + 1, 1))) * 256 + " +
      "ascii(substring(text, i + 2, 1))) * 256 + " +
      "ascii(substring(text, i + 3, 1))) * 256 + " +
      "ascii(substring(text, i + 4, 1))"

  def minhashHashSql(j: Int): String = s"(${aConst(j)} * tg + ${bConst(j)}) % $P"

  /** Distinct character 5-gram codes per document: (doc_id, tg).
    *
    * Implementation detail: `substring(text, i, 1)` is O(i) on
    * UTF8String, so the naive per-position form is quadratic per
    * document. Materialize the char-code array once (O(n)) and slide
    * with O(1) element_at — same gram values, ~10x faster.
    */
  def grams5(docs: DataFrame): DataFrame = grams5Raw(docs).distinct()

  /** Like grams5 but WITHOUT the per-doc distinct. MinHash is
    * duplicate-insensitive (min over a multiset equals min over its
    * set), so signature computation can skip the distinct's full-corpus
    * shuffle — at scale the whole MinHash phase is then map + partial
    * min-aggregate with only doc-level rows on the wire.
    */
  def grams5Raw(docs: DataFrame): DataFrame = {
    GraftExtensions.install(docs.sparkSession)
    docs.filter(length(col("text")) >= 5)
      .select(col("doc_id"), explode(expr("grams5(text)")).as("tg"))
  }

  /** Band signatures computed per-row in one pass with the native
    * [[graft.sql.MinHashBands]] expression — same values as the
    * composed minhash + band fold (PipelineReference in the specs) with ZERO
    * shuffles: no gram explode, no wide min aggregate, no band
    * re-aggregation. The only stateful operator left in LSH candidate
    * generation is the band equi-join itself.
    */
  def bandSignaturesDirect(docs: DataFrame, k: Int = 16,
                           bandSize: Int = 4): DataFrame = {
    GraftExtensions.install(docs.sparkSession)
    docs.filter(length(col("text")) >= 5)
      .select(col("doc_id"),
        posexplode(expr(s"minhash_bands(text, $k, $bandSize)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")
  }

  /** Candidate pairs from shared band signatures (d1 < d2).
    *
    * `maxBucket` (off by default) is the 100 TB skew guard: a bucket of
    * n docs emits n^2/2 pairs, so one boilerplate signature shared by
    * 10^6 docs means 5*10^11 pairs out of a single bucket — the
    * self-join's output, not its shuffle, is what explodes. Capped runs
    * drop over-size buckets BEFORE the join (count per key, anti-join
    * the hot keys) — the standard MinHash-at-scale practice: a bucket
    * that hot is boilerplate, and its members still pair in their
    * other, less-degenerate bands. Deterministic (a size threshold, no
    * sampling), but capped output is a declared approximation — keep it
    * OFF when exact parity with an uncapped oracle is required.
    */
  def lshCandidates(bands: DataFrame, maxBucket: Option[Int] = None): DataFrame =
    maxBucket match {
      case None =>
        val a = bands.select(col("doc_id").as("d1"), col("band"), col("sig"))
        val b = bands.select(col("doc_id").as("d2"), col("band"), col("sig"))
        a.join(b, Seq("band", "sig")).filter(col("d1") < col("d2"))
          .select("d1", "d2").distinct()
      case Some(cap) =>
        // Capped path as ONE grouped aggregate + per-bucket pair
        // expansion instead of count-aggregate + hot-key anti-join +
        // self-join: collect_capped returns each bucket's members
        // sorted (NULL past the cap — the dropped hot bucket), so the
        // ordered pairs of the sorted array ARE the d1 < d2 pairs of
        // the self-join, bucket by bucket. The band table is scanned
        // and shuffled ONCE (the old plan re-evaluated the signature
        // subtree for the count, the anti-join probe, and both join
        // sides), per-bucket state is cap-bounded even on the
        // degenerate boilerplate bucket, and the join's
        // quadratic-in-bucket output cannot occur by construction.
        GraftExtensions.install(bands.sparkSession)
        bands.groupBy(col("band"), col("sig"))
          .agg(expr(s"collect_capped(doc_id, $cap)").as("ds"))
          .filter(col("ds").isNotNull && size(col("ds")) >= 2)
          .select(explode(expr(
            "flatten(transform(ds, (x, i) -> " +
              "transform(slice(ds, i + 2, size(ds)), y -> " +
              "struct(x AS d1, y AS d2))))")).as("p"))
          .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
          .distinct()
    }

  /** Capped candidate pairs for the DENSE-bucket regime — same pair
    * set as [[lshCandidates]]' capped path (per-bucket cap, ordered
    * pairs of surviving buckets, distinct), different pair EMISSION.
    * Hyperplane-LSH bucket spaces are FIXED (2^nPlanes values per
    * table), so occupancy grows linearly with the corpus and surviving
    * buckets sit near the cap; expanding each bucket's pairs as one
    * in-memory array (flatten/transform — lshCandidates' shape, sized
    * for MinHash's sparse signature space) materializes O(cap^2)
    * structs per bucket there. Here the capped members explode back to
    * rows and pair through a self-join that REUSES the aggregate's
    * (band, sig) hash partitioning — no new exchange, pairs stream
    * straight into the distinct — while the collect_capped aggregate
    * still bounds per-bucket state and drops over-cap buckets whole in
    * the same single pass over the band table.
    */
  def lshCandidatesDense(bands: DataFrame, cap: Int): DataFrame = {
    GraftExtensions.install(bands.sparkSession)
    val members = bands.groupBy(col("band"), col("sig"))
      .agg(expr(s"collect_capped(doc_id, $cap)").as("ds"))
      .filter(col("ds").isNotNull && size(col("ds")) >= 2)
      .select(col("band"), col("sig"), explode(col("ds")).as("doc_id"))
    members.select(col("band"), col("sig"), col("doc_id").as("d1"))
      .join(members.select(col("band"), col("sig"), col("doc_id").as("d2")),
        Seq("band", "sig"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** Connectivity-equivalent LSH edges for CLUSTERING: one star per
    * (band, sig) bucket — hub = the bucket's min doc_id, one edge from
    * the hub to every other member. A bucket of k docs contributes
    * k-1 edges instead of the k(k-1)/2 pairs `lshCandidates` emits,
    * so the edge list stays LINEAR in the band index even on hot
    * buckets (the quadratic blowup maxBucket exists to cap simply
    * never happens), while connected components over the stars equal
    * components over the all-pairs graph — every bucket is fully
    * connected through its hub either way, and union-of-buckets
    * connectivity is preserved bucket by bucket. Use this for
    * component clustering; use `lshCandidates` when a per-pair rerank
    * genuinely needs every pair.
    */
  def lshConnectivityEdges(bands: DataFrame): DataFrame = {
    // hub = min(doc_id) per (band, sig) as a WINDOW over the band
    // table: one exchange on the bucket key, where the groupBy-hubs +
    // join-back form shuffled the band table twice (agg + join probe)
    // and re-evaluated the signature subtree per consumer. Same edge
    // set: every row learns its bucket's min; rows AT the min emit no
    // edge; distinct collapses multi-band repeats.
    val byBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("sig"))
    bands
      .withColumn("hub", min(col("doc_id")).over(byBucket))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("d1"), col("doc_id").as("d2"))
      .distinct()
  }

  /** Exact Jaccard for candidate pairs via per-row sorted gram arrays
    * and a native linear-merge intersection — two hash joins and a
    * projection; no gram explode, no distinct, no group-by. `docs` need
    * only the candidate-relevant rows (semi-join upstream if desired);
    * the per-doc array is bounded by document length, so the join
    * payload stays proportional to the candidate set.
    */
  def exactJaccardDirect(docs: DataFrame, pairs: DataFrame): DataFrame = {
    GraftExtensions.install(docs.sparkSession)
    val arr = docs.filter(length(col("text")) >= 5)
      .select(col("doc_id"), expr("grams5_distinct(text)").as("g"))
    val a = arr.select(col("doc_id").as("d1"), col("g").as("g1"))
    val b = arr.select(col("doc_id").as("d2"), col("g").as("g2"))
    pairs.join(a, "d1").join(b, "d2")
      .withColumn("ic", expr("intersect_count(g1, g2)"))
      .withColumn("jaccard",
        round(col("ic") / (size(col("g1")) + size(col("g2")) - col("ic")), 4))
      .drop("g1", "g2", "ic")
  }

  /** Exact Jaccard over 5-gram sets for given pairs. */
  def exactJaccard(grams: DataFrame, pairs: DataFrame): DataFrame = {
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val g1 = grams.select(col("doc_id").as("d1"), col("tg"))
    val g2 = grams.select(col("doc_id").as("d2"), col("tg"))
    val inter = pairs.join(g1, "d1").join(g2, Seq("d2", "tg"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("ic"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "sz1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "sz2"), "d2")
      .withColumn("jaccard", round(col("ic") / (col("sz1") + col("sz2") - col("ic")), 4))
  }

  /** SimHash computed per-row by the native [[graft.sql.Simhash5]]
    * expression — same values as the composed SimHash over
    * `grams5(docs)` (PipelineReference in the specs) with
    * zero shuffles (the composable form explodes grams through a
    * broadcast crossJoin and two aggregates).
    */
  def simhashDirect(docs: DataFrame, nBits: Int = 16): DataFrame = {
    GraftExtensions.install(docs.sparkSession)
    docs.filter(length(col("text")) >= 5)
      .select(col("doc_id"), expr(s"simhash5(text, $nBits)").as("simhash"))
  }

  /** Document fingerprint per-row via [[graft.sql.Fingerprint5]] — the
    * d8 min/sum/count-over-distinct-grams arithmetic without the
    * explode or group-by shuffle.
    */
  def fingerprintDirect(docs: DataFrame): DataFrame = {
    GraftExtensions.install(docs.sparkSession)
    docs.filter(length(col("text")) >= 5)
      .select(col("doc_id"), expr("fingerprint5(text)").as("fingerprint"))
  }

  /** Word count from single-space-separated text (replace arithmetic —
    * identical in every SQL dialect).
    */
  val wordCountSql: String =
    "length(text) - length(replace(text, ' ', '')) + 1"

  /** Occurrences of a marker word (space-padded match). */
  def markerCountSql(w: String): String =
    s"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $w ', ''))) div ${w.length + 2}"

  /** Native one-pass forms of [[wordCountSql]] / [[markerCountSql]] for
    * the SPARK side of a gate (callers must
    * `GraftExtensions.install(s)`): value-identical (pinned by
    * TextCountsSpec) but one byte scan instead of two padded copies and
    * three replace()d copies per document. The replace-arithmetic
    * strings above remain the oracle-side (portable SQL) forms.
    */
  val wordCountNativeSql: String = "word_count(text)"
  def markerCountNativeSql(w: String): String =
    s"marker_count(text, '${w.replace("'", "''")}')"

  /** DuckDB uses // for integer division; everything else is shared. */
  def toDuck(sql: String): String = sql.replace(" div ", " // ")

  /** PII patterns for [[redactPii]] — the RE2-compatible subset (no
    * backrefs/lookaround) so Java regex (Spark) and RE2 (DuckDB) agree
    * byte-for-byte: email, NANP-style phone, dotted-quad IPv4.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b", "<PHONE>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"))

  /** PII redaction — the curation stage every released training corpus
    * runs: per-class match counts + in-place replacement with typed
    * placeholders. Order matters (emails contain dot-runs an IPv4
    * pattern could bite): counts are taken on the ORIGINAL text per
    * class, then replacements apply email -> phone -> ip. A pure
    * per-row projection — no shuffle, no UDF; at 100 TB this is a
    * map-only pass fused into whatever scan precedes it.
    */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counted = piiPatterns.foldLeft(docs) { case (df, (name, pat, _)) =>
      df.withColumn(s"n_$name",
        regexp_count(col(textCol), lit(pat)).cast("long"))
    }
    val red = piiPatterns.foldLeft(col(textCol)) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }
    counted.withColumn("redacted", red)
  }
}
