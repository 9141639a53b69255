package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("grams5 produces distinct 5-gram codes in range") {
    val g = TextOps.grams5(docs)
    val row = g.agg(min("tg"), max("tg"), count(lit(1))).head
    assert(row.getLong(0) >= 0)
    assert(row.getLong(1) < (1L << 40))
    assert(row.getLong(2) > 0)
  }

  test("minhash signature estimates jaccard within tolerance") {
    val grams = TextOps.grams5(docs.filter(col("doc_id") < 40)).cache()
    val mh = PipelineReference.minhash(grams, 16)
    // pick the pair with the highest exact jaccard among doc_id < 40
    val all = docs.filter(col("doc_id") < 40)
    val pairs = all.select(col("doc_id").as("d1")).crossJoin(
      all.select(col("doc_id").as("d2"))).filter(col("d1") < col("d2"))
    val exact = TextOps.exactJaccard(grams, pairs)
      .orderBy(col("jaccard").desc).limit(1).head
    val (d1, d2, jac) = (exact.getLong(0), exact.getLong(1),
      exact.getAs[Double]("jaccard"))
    val sig = mh.filter(col("doc_id").isin(d1, d2))
      .groupBy(col("j")).agg(countDistinct(col("h")).as("nh"))
    val agree = sig.filter(col("nh") === 1).count() / 16.0
    // 16 hashes -> crude estimate; just require same ballpark
    assert(math.abs(agree - jac) < 0.45, s"est $agree vs exact $jac")
  }

  test("hyperplane LSH recall against brute force") {
    val brute = VectorOps.bruteTopK(emb, emb.filter(col("vec_id") < 10), 5)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.lshTopK(emb, col("vec_id") < 10, 5,
        nPlanes = 3, nTables = 4, dim = 64)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 3 tables x 4 planes over the sf0.001 vectors: meaningful overlap
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall > 0.3, s"LSH recall $recall too low")
    assert(lsh.nonEmpty)
  }

  test("multimodal stub metadata is deterministic and complete") {
    val meta = Multimodal.extractMetadata(docs)
    assert(meta.count() == docs.count())
    val m = meta.filter(col("doc_id") === 0).head()
    val m2 = Multimodal.extractMetadata(docs).filter(col("doc_id") === 0).head()
    assert(m == m2)
    assert(m.bytes > 0 && m.width == m.bytes % 64)
  }

  test("native minhash_bands matches the composable explode/agg pipeline") {
    val composed = PipelineReference.bandSignatures(
        PipelineReference.minhash(TextOps.grams5Raw(docs), 16), 4)
      .select(col("doc_id"), col("band").cast("int").as("band"), col("sig"))
    val direct = TextOps.bandSignaturesDirect(docs, 16, 4)
      .select(col("doc_id"), col("band"), col("sig"))
    assert(composed.exceptAll(direct).isEmpty && direct.exceptAll(composed).isEmpty,
      "band signatures diverge between native and composable paths")
    assert(direct.count() == docs.filter(length(col("text")) >= 5).count() * 4)
  }

  test("minhash_bands returns null for strings with no 5-gram") {
    graft.sql.GraftExtensions.install(spark)
    val r = spark.sql("SELECT minhash_bands('abcd', 16, 4) IS NULL, " +
      "size(minhash_bands('abcde', 8, 4))").head
    assert(r.getBoolean(0) && r.getInt(1) == 2)
  }

  test("native word_ngrams matches the composable split/transform form") {
    graft.sql.GraftExtensions.install(spark)
    val composed = docs.selectExpr("doc_id",
      "array_distinct(transform(sequence(1, size(split(text, ' ')) - 2), " +
        "i -> concat_ws(' ', slice(split(text, ' '), i, 3)))) AS tris")
      .filter(size(col("tris")) > 0)
      .select(col("doc_id"), explode(col("tris")).as("g"))
    val direct = docs.selectExpr("doc_id", "word_ngrams(text, 3) AS tris")
      .filter(size(col("tris")) > 0)
      .select(col("doc_id"), explode(col("tris")).as("g"))
    assert(composed.exceptAll(direct).isEmpty && direct.exceptAll(composed).isEmpty,
      "word trigrams diverge between native and composable paths")
    // edge semantics: short inputs, unigrams, trailing-empty tokens
    val r = spark.sql("SELECT word_ngrams('a b', 3), word_ngrams('x y x y', 2), " +
      "word_ngrams('a b ', 3), word_ngrams('q', 1)").head
    assert(r.getSeq[String](0) == Seq.empty)
    assert(r.getSeq[String](1) == Seq("x y", "y x")) // distinct, order-of-first-occurrence
    assert(r.getSeq[String](2) == Seq("a b ")) // trailing empty token kept
    assert(r.getSeq[String](3) == Seq("q"))
  }

  test("as-of join preserves a matched right row's genuinely-null payload") {
    import spark.implicits._
    val right = Seq(
      (1L, 10L, Some(5.0)),   // older, non-null
      (1L, 20L, None),        // latest match: null payload must WIN
      (2L, 10L, Some(7.0)))
      .toDF("k", "ts", "v")
    val left = Seq((1L, 25L, "a"), (2L, 15L, "b"), (3L, 9L, "c"))
      .toDF("k", "ts", "tag")
    val out = Joins.asOfBackward(left, right, "ts", Seq("k"), Seq("v"))
      .orderBy("k").collect()
    assert(out.length == 3)
    assert(out(0).isNullAt(out(0).fieldIndex("v")),
      "latest-match null payload was replaced by an older non-null row")
    assert(out(1).getDouble(out(1).fieldIndex("v")) == 7.0)
    assert(out(2).isNullAt(out(2).fieldIndex("v"))) // no match at all
  }

  test("simhash hamming distance correlates with similarity") {
    val sh = PipelineReference.simhash(TextOps.grams5(docs), 16)
    assert(sh.count() == docs.count())
    val distinctSigs = sh.select(countDistinct(col("simhash"))).head.getLong(0)
    assert(distinctSigs > 1) // not everything collapses to one bucket
  }

  test("native dot_f and hplane_proj are bit-identical to the HOF folds") {
    graft.sql.GraftExtensions.install(spark)
    val pairs = emb.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(emb.filter(col("vec_id") < 3).select(col("embedding").as("b")))
    val dotDiff = pairs.filter(
      expr(VectorOps.dotSql("a", "b")) =!= expr(PipelineReference.dotHofSql("a", "b"))).count()
    assert(dotDiff == 0, "dot_f diverges from the zip_with fold")
    val projDiff = emb.filter(
      expr(VectorOps.projectionSql(3, 64)) =!= expr(PipelineReference.projectionHofSql(3, 64))).count()
    assert(projDiff == 0, "hplane_proj diverges from the zip_with fold")
    // the mixed float-vector x DOUBLE-array case (centroids are means):
    // the widened dot_f must stay bit-identical to the HOF fold
    val mixed = pairs
      .withColumn("bd", expr("transform(b, x -> CAST(x AS DOUBLE) * 1.5D)"))
    val mixedDiff = mixed.filter(
      expr(VectorOps.dotSql("a", "bd")) =!=
        expr(PipelineReference.dotHofSql("a", "bd"))).count()
    assert(mixedDiff == 0, "dot_f(float, double) diverges from the HOF fold")
    val ddDiff = mixed
      .withColumn("ad", expr("transform(a, x -> CAST(x AS DOUBLE))"))
      .filter(expr(VectorOps.dotSql("ad", "bd")) =!=
        expr(PipelineReference.dotHofSql("ad", "bd"))).count()
    assert(ddDiff == 0, "dot_f(double, double) diverges from the HOF fold")
    // the int8 quantized scorer: exact integer arithmetic, so native
    // must equal the HOF fold on every pair, not just approximately
    graft.sql.GraftExtensions.install(spark)
    val q = mixed
      .withColumn("qa", expr(
        "transform(a, x -> cast(round(x * 50) as tinyint))"))
      .withColumn("qb", expr(
        "transform(b, x -> cast(round(x * 50) as tinyint))"))
    val i8Diff = q.filter(expr("dot_i8(qa, qb)") =!= expr(
      "aggregate(zip_with(qa, qb, (x, y) -> cast(x as bigint) * " +
        "cast(y as bigint)), cast(0 as bigint), (acc, v) -> acc + v)"))
      .count()
    assert(i8Diff == 0, "dot_i8 diverges from the zip_with fold")
  }

  test("hybridTopK: df cap prunes the inverted index; ranks fuse deterministically") {
    import spark.implicits._
    val d = Seq(
      (0L, "apple banana cherry"),
      (1L, "apple banana date"),
      (2L, "apple fig grape"),
      (3L, "apple banana cherry date"))
      .toDF("doc_id", "text")
    val e = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding"))
    // cap 4 * 3 div 4 = 3 drops 'apple' (df 4): doc 2 then shares NO
    // indexed token with doc 0 and must not be a candidate
    val top = VectorOps.hybridTopKFrac(d, e, k = 3, nQueries = 1,
      num = 3, den = 4).collect()
    assert(!top.exists(_.getLong(1) == 2L),
      "df-capped token must not generate candidates")
    // doc 3 shares {banana, cherry} (overlap 2) vs doc 1's {banana}:
    // keyword rank puts 3 first; rrf keeps both, rnk values 1..n
    val byRnk = top.sortBy(_.getLong(3))
    assert(byRnk.map(_.getLong(3)).toSeq == (1L to byRnk.length).toSeq)
    val kwFirst = byRnk.head.getLong(1)
    assert(Set(1L, 3L).contains(kwFirst))
    // uncapped (cap 4 * 1 div 1 = N): apple back in the index, doc 2
    // reachable
    val all = VectorOps.hybridTopKFrac(d, e, k = 3, nQueries = 1,
      num = 1, den = 1).collect()
    assert(all.exists(_.getLong(1) == 2L))
  }

  test("pqTopK gets decent recall against brute force") {
    val queries = emb.filter(col("vec_id") < 5)
    val exact = VectorOps.bruteTopK(emb, queries, 10)
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = VectorOps.pqTopK(emb, col("vec_id") < 5, 10)
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // PQ is a lossy 256x compression; on 64-dim synthetic data even
    // modest overlap with the exact top-10 shows the codes carry signal
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.2, s"PQ recall too low: $recall")
  }

  test("pqTopK serves from persisted codes: same answer, no corpus re-quantization") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqidx").toString
    VectorOps.pqCodes(emb).write.mode("overwrite").parquet(dir)
    val codes = spark.read.parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("query_id"), col("rnk")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val served = VectorOps.pqTopK(emb, col("vec_id") < 5, 10, Some(codes))
    assert(rows(served) == rows(VectorOps.pqTopK(emb, col("vec_id") < 5, 10)))
    // the inline build pays TWO centroid cross joins (corpus-wide argmin
    // + query distance table); the serve plan must keep only the query
    // one — the corpus side is a hash join against the persisted codes
    val servePlan = served.queryExecution.executedPlan.toString
    val inlinePlan = VectorOps.pqTopK(emb, col("vec_id") < 5, 10)
      .queryExecution.executedPlan.toString
    def nCross(p: String) = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nCross(inlinePlan) >= 2)
    assert(nCross(servePlan) == 1,
      s"serve plan re-quantizes the corpus:\n$servePlan")
  }

  test("ivfPqTopK with full probing equals plain pqTopK") {
    // nProbe = nCells means no candidate is pruned, so the combined
    // IVF+PQ plan must reduce to the pure ADC ranking
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("query_id"), col("rnk")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val full = VectorOps.ivfPqTopK(emb, col("vec_id") < 3, 5,
      nCells = 8, nProbe = 8)
    assert(rows(full) == rows(VectorOps.pqTopK(emb, col("vec_id") < 3, 5)))
  }

  test("ivfPqTopK candidates stay inside the probed cells") {
    // nProbe=1: every candidate must live in the query's own cell
    // (queries are corpus members, so ivfAssign gives their top cell)
    val assign = VectorOps.ivfAssign(emb, 8)
    val got = VectorOps.ivfPqTopK(emb, col("vec_id") < 3, 5,
        nCells = 8, nProbe = 1,
        precomputedAssign = Some(assign))
      .join(assign.withColumnRenamed("vec_id", "query_id")
              .withColumnRenamed("cell", "qcell"), "query_id")
      .join(assign.withColumnRenamed("vec_id", "cand_id")
              .withColumnRenamed("cell", "ccell"), "cand_id")
    assert(got.count() > 0)
    assert(got.filter(col("qcell") =!= col("ccell")).count() == 0,
      "a candidate escaped the probed cell")
  }

  test("redactPii counts and replaces each class, leaves clean text alone") {
    import spark.implicits._
    val in = Seq(
      (1L, "mail me at a.b+c@x-corp.io or ops@a.co today"),
      (2L, "call 415-555-2671 x2 or 212-555-0100"),
      (3L, "host 10.0.200.7 gateway 192.168.1.254"),
      (4L, "nothing sensitive here at all"),
      (5L, "mixed: u@v.com 303-555-1234 1.2.3.4")
    ).toDF("doc_id", "text")
    val out = TextOps.redactPii(in).orderBy("doc_id")
      .select("doc_id", "n_email", "n_phone", "n_ip", "redacted")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(out(0) == ((1L, 2L, 0L, 0L, "mail me at <EMAIL> or <EMAIL> today")))
    assert(out(1) == ((2L, 0L, 2L, 0L, "call <PHONE> x2 or <PHONE>")))
    assert(out(2) == ((3L, 0L, 0L, 2L, "host <IP> gateway <IP>")))
    assert(out(3) == ((4L, 0L, 0L, 0L, "nothing sensitive here at all")))
    assert(out(4) == ((5L, 1L, 1L, 1L, "mixed: <EMAIL> <PHONE> <IP>")))
  }

  test("lshCandidates maxBucket drops only over-size buckets") {
    import spark.implicits._
    // bucket (0, 7): 4 docs (hot); bucket (1, 9): 2 docs (cold)
    val bands = Seq(
      (1L, 0, 7L), (2L, 0, 7L), (3L, 0, 7L), (4L, 0, 7L),
      (1L, 1, 9L), (2L, 1, 9L)
    ).toDF("doc_id", "band", "sig")
    val uncapped = TextOps.lshCandidates(bands).collect().length
    assert(uncapped == 6) // C(4,2) from hot + (1,2) already counted
    val capped = TextOps.lshCandidates(bands, maxBucket = Some(3))
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L)),
      s"cap should keep only the cold bucket's pair: $capped")
    // cap above every bucket size changes nothing
    val loose = TextOps.lshCandidates(bands, maxBucket = Some(10))
      .collect().length
    assert(loose == uncapped)
  }

  test("exactJaccardDirect matches the explode/join exactJaccard") {
    val sub = docs.filter(col("doc_id") < 60)
    val a = sub.select(col("doc_id").as("d1"), col("source"))
    val b = sub.select(col("doc_id").as("d2"), col("source"))
    val pairs = a.join(b, "source").filter(col("d1") < col("d2")).select("d1", "d2")
    val composed = TextOps.exactJaccard(TextOps.grams5(sub), pairs)
      .select("d1", "d2", "jaccard")
    val direct = TextOps.exactJaccardDirect(sub, pairs)
      .select("d1", "d2", "jaccard")
    assert(composed.exceptAll(direct).isEmpty && direct.exceptAll(composed).isEmpty,
      "jaccard diverges between native-merge and explode/join paths")
    assert(direct.count() > 0)
  }

  test("ivfTopK returns k candidates per query with decent recall") {
    val brute = VectorOps.bruteTopK(emb, emb.filter(col("vec_id") < 3), 3)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorOps.ivfTopK(emb, col("vec_id") < 3, 3, nCells = 8, nProbe = 4)
    val rows = ivf.collect()
    assert(rows.length == 9, s"expected 3 queries x 3, got ${rows.length}")
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)), "self-match leaked")
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing half the cells of near-random vectors: require SOME overlap
    assert((brute intersect got).nonEmpty, "IVF found none of the true top-k")
  }

  test("phashNearDup: banded candidates find EVERY pair within maxHamming") {
    // the pigeonhole guarantee: hd <= 3 across 64 bits in 4 bands
    // forces at least one equal band, so the band equi-join loses
    // nothing vs the all-pairs scan — assert set equality with a
    // brute-force Hamming pass over the same hashes
    val bands = Multimodal.aHashBands(docs).cache()
    val a = bands.select(col("doc_id").as("d1"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val b = bands.select(col("doc_id").as("d2"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    val brute = a.crossJoin(b).filter(col("d1") < col("d2"))
      .withColumn("hd", expr("bit_count(a0 ^ c0) + bit_count(a1 ^ c1) " +
        "+ bit_count(a2 ^ c2) + bit_count(a3 ^ c3)").cast("long"))
      .filter(col("hd") <= 3)
      .select("d1", "d2", "hd").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // cap disabled -> the pigeonhole guarantee is exact set equality
    val banded = Multimodal.phashNearDup(docs, maxHamming = 3,
        maxBucket = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
    assert(brute.nonEmpty, "fixture yields no near-dup pairs — weak test")
    // capped output is a SUBSET (the LSH recall trade, never junk)
    val capped = Multimodal.phashNearDup(docs, maxHamming = 3,
        maxBucket = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped.subsetOf(brute))
    // band ints stay in unsigned-16 range (packing never overflows)
    val mm = bands.agg(least(min("b0"), min("b1"), min("b2"), min("b3")),
      greatest(max("b0"), max("b1"), max("b2"), max("b3"))).head
    assert(mm.getInt(0) >= 0 && mm.getInt(1) <= 65535)
    bands.unpersist()
  }

  test("sq8TopK: full candidate pool reproduces brute-force exactly") {
    // with candPool >= corpus, the quantized candidate stage prunes
    // nothing and the exact re-rank must equal bruteTopK bit-for-bit —
    // the property separating "approximation lives ONLY in candidate
    // pruning" from a quantization bug leaking into final scores
    val n = emb.count().toInt
    val brute = VectorOps.bruteTopK(emb, emb.filter(col("vec_id") < 3), 4)
      .select("query_id", "cand_id", "cos", "rnk")
      .collect().map(_.toSeq).toSet
    val sq = VectorOps.sq8TopK(emb, col("vec_id") < 3, k = 4, candPool = n)
      .select("query_id", "cand_id", "cos", "rnk")
      .collect().map(_.toSeq).toSet
    assert(sq == brute)
  }

  test("sq8TopK quantized domain: bytes in range, scores integral, pool honored") {
    val out = VectorOps.sq8TopK(emb, col("vec_id") < 3, k = 3, candPool = 10)
      .collect()
    assert(out.length == 9)
    assert(out.forall(r => r.getLong(0) != r.getLong(1)), "self-match leaked")
    // integer dot product of two 64-element int8 vectors is bounded
    assert(out.forall(r => math.abs(r.getLong(2)) <= 64L * 128 * 128))
    // re-ranked rows come only from the candidate pool (10 per query)
    val perQ = out.groupBy(_.getLong(0)).values.map(_.length)
    assert(perQ.forall(_ == 3))
  }

  test("sq8 per-dim ranges: an outlier dimension no longer degrades the others") {
    import spark.implicits._
    // dim 0 and 1 live in [0, 1]; dim 2 carries a 1000x outlier; dim 3
    // is constant (degenerate). Under the old GLOBAL [lo, hi] the
    // outlier stretched every dim's step to ~1000/255 ≈ 3.9 — dims 0/1
    // quantized to a single code. Per-dim ranges keep their step at
    // ~1/255.
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array(i / 20.0f, (19 - i) / 20.0f,
        if (i == 7) 1000.0f else i / 20.0f, 42.0f))
    }.toDF("vec_id", "embedding")
    val q = VectorOps.sq8Quantize(vecs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(q.size == 20)
    // degenerate dim -> code 0 everywhere
    assert(q.values.forall(_(3) == 0))
    // per-dim reconstruction: x ≈ mn + (code+128)/255*(mx-mn) within
    // half a step (+ float eps) for the well-behaved dims
    def recon(code: Byte, mn: Double, mx: Double): Double =
      mn + (code + 128.0) / 255.0 * (mx - mn)
    val step01 = (0.95 - 0.0) / 255.0
    vecs.collect().foreach { r =>
      val id = r.getLong(0); val e = r.getSeq[Float](1)
      (0 to 1).foreach { d =>
        val err = math.abs(e(d).toDouble - recon(q(id)(d), 0.0, 0.95))
        assert(err <= step01 / 2 + 1e-9,
          s"dim $d of vec $id reconstructs with error $err (step $step01) — " +
            "the outlier dim is bleeding into other dims' resolution")
      }
    }
    // loud-fail contract on degenerate input
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException](VectorOps.sq8Quantize(empty))
    assert(ex.getMessage.contains("empty or all-null"))
  }

  test("ANN top-k plans: heap aggregate with map-side partials, no Window") {
    // the flat-scan top-k paths must plan as partial+final aggregation
    // (k-row buffers shuffle), never as a per-query Window sort pulling
    // a corpus-sized run onto one task
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val e5 = planOf(VectorOps.pqTopK(emb, col("vec_id") < 3, 5))
    assert(e5.contains("topk_struct"), "pqTopK should use the heap aggregate")
    assert(e5.contains("partial_topk_struct"),
      "pqTopK heap aggregate should have a map-side partial stage")
    assert(!e5.contains("Window"), "pqTopK still plans a Window sort")
    val e12pool = planOf(VectorOps.sq8TopK(emb, col("vec_id") < 3,
      k = 3, candPool = 10))
    assert(e12pool.contains("partial_topk_struct"),
      "sq8TopK pool should use the heap aggregate with partials")
    // ivfPqTopK keeps its PROBE window (nCells-bounded rows per query —
    // fine), but the ADC candidate ranking must be the heap aggregate
    val e7 = planOf(VectorOps.ivfPqTopK(emb, col("vec_id") < 3, 5,
      nCells = 8, nProbe = 3))
    assert(e7.contains("partial_topk_struct"),
      "ivfPqTopK should heap-aggregate its cell-pruned pool")
    assert(!"Window [^\\n]*adc".r.unanchored.matches(e7),
      "ivfPqTopK still ranks ADC scores with a Window sort")
  }

  test("ivfAssign gives every vector exactly one cell in range") {
    val assign = VectorOps.ivfAssign(emb, 8)
    assert(assign.count() == emb.count())
    assert(assign.select(countDistinct(col("vec_id"))).head.getLong(0) == emb.count())
    val mm = assign.agg(min("cell"), max("cell")).head
    assert(mm.getLong(0) >= 0 && mm.getLong(1) < 8)
    // centroid vectors must sit in their own cell (cos=1 beats all ties)
    val own = VectorOps.ivfAssign(emb, 8).filter(col("vec_id") < 8)
      .filter(col("vec_id") =!= col("cell")).count()
    assert(own == 0, "a centroid was not assigned to its own cell")
  }

  test("semanticDedup drops only within-cell later-id near-dups") {
    val sd = VectorOps.semanticDedup(emb, 8, 0.4)
    assert(sd.count() == emb.count(), "one row per vector")
    // every dropped vector has a SMALLER-id witness in its own cell
    // above tau; every kept vector has none. Replay the definition
    // directly off the same assignment.
    val assign = VectorOps.ivfAssign(emb, 8)
    val joined = emb.select(col("vec_id"), col("embedding")).join(assign, "vec_id")
    val pairs = joined.select(col("cell"), col("vec_id").as("a"), col("embedding").as("ea"))
      .join(joined.select(col("cell"), col("vec_id").as("b"), col("embedding").as("eb")),
        Seq("cell"))
      .filter(col("a") < col("b"))
      .withColumn("cos", round(
        expr(VectorOps.dotSql("ea", "eb")) /
          (expr(s"sqrt(${VectorOps.dotSql("ea", "ea")})") *
            expr(s"sqrt(${VectorOps.dotSql("eb", "eb")})")), 6))
      .filter(col("cos") >= 0.4)
    val expectDropped = pairs.select(col("b")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(expectDropped.nonEmpty, "fixture has no near-dups at tau=0.4")
    val gotDropped = sd.filter(col("drop")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(gotDropped == expectDropped)
    // the minimum id of every component survives (never dropped)
    assert(!gotDropped.contains(
      sd.agg(min("vec_id")).head.getLong(0)))
  }

  test("sqStats fails loud on ragged or all-null corpora (never silent truncation)") {
    import spark.implicits._
    // ragged: one short vector — non-ANSI element_at would silently
    // return NULLs past its end; the build must error instead
    val ragged = Seq(
      (0L, Array.fill(64)(1.0f)), (1L, Array.fill(63)(2.0f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      VectorOps.sqStats(ragged)
    }
    assert(e1.getMessage.contains("ragged"), e1.getMessage)
    // null embeddings are skipped for dim inference, not NPE'd on
    val withNull = Seq((0L, null: Array[Float]), (1L, Array.fill(4)(1.0f)))
      .toDF("vec_id", "embedding")
    assert(VectorOps.sqStats(withNull).count() == 4)
    // all-null / empty: the intended message, not a decoder NPE
    val allNull = Seq((0L, null: Array[Float])).toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      VectorOps.sqStats(allNull)
    }
    assert(e2.getMessage.contains("empty or all-null"), e2.getMessage)
  }

  test("SQ8 codes are byte-range, reconstruction tight, recall high") {
    val stats = VectorOps.sqStats(emb)
    val codes = VectorOps.sqCodes(emb, Some(stats))
    assert(codes.count() == emb.count())
    // every code is a byte (0..255) and every vector keeps all dims
    val bad = codes.select(explode(col("codes")).as("c"))
      .filter(col("c") < 0 || col("c") > 255).count()
    assert(bad == 0)
    assert(codes.filter(size(col("codes")) =!= 64).count() == 0)
    // reconstruction error per element is bounded by half a level:
    // |x - recon| <= (mx - mn) / 255 / 2 (+ float slack)
    val statArr = stats.groupBy().agg(
      expr("transform(array_sort(collect_list(struct(pos, mn))), x -> x.mn)").as("mnA"),
      expr("transform(array_sort(collect_list(struct(pos, mx))), x -> x.mx)").as("mxA"))
    val worst = emb.join(codes, "vec_id").crossJoin(broadcast(statArr))
      .select(expr(
        """array_max(transform(sequence(0, 63), i ->
          |  abs(CAST(element_at(embedding, i + 1) AS DOUBLE) -
          |      (element_at(mnA, i + 1) + element_at(codes, i + 1) *
          |       (element_at(mxA, i + 1) - element_at(mnA, i + 1)) / 255.0D))
          |  - (element_at(mxA, i + 1) - element_at(mnA, i + 1)) / 510.0D))"""
          .stripMargin).as("err"))
      .agg(max(col("err"))).head.getDouble(0)
    assert(worst < 1e-9, s"reconstruction error above half a level: $worst")
    // IVF+SQ8 top-k agrees with IVF on full-precision vectors almost
    // everywhere (same cells probed; only the quantized cosine differs)
    val sq = VectorOps.sqTopK(emb, col("vec_id") < 10, 5,
        nCells = 8, nProbe = 2, dim = 64,
        precomputedCodes = Some(codes))
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorOps.ivfTopK(emb, col("vec_id") < 10, 5,
        nCells = 8, nProbe = 2)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sq intersect ivf).size.toDouble / ivf.size
    assert(recall > 0.8, s"SQ8 recall vs IVF $recall too low")
  }

  test("kmeansRefine partitions every vector into a refined cell") {
    val r = VectorOps.kmeansRefine(emb, 8)
    assert(r.count() == emb.count())
    assert(r.select(countDistinct(col("vec_id"))).head.getLong(0) == emb.count())
    val mm = r.agg(min(col("cell2")), max(col("cell2"))).head
    assert(mm.getLong(0) >= 0 && mm.getLong(1) < 8)
    // mean centroids differ from the arbitrary seed vectors, so on
    // near-random data at least one vector must change cells
    assert(r.filter(col("cell") =!= col("cell2")).count() > 0,
      "refinement round was a no-op")
  }

  test("cosineNearDup pairs are exactly the LSH-colliding pairs above tau") {
    val tau = 0.2 // low: sf0.001 vectors are near-random
    val got = VectorOps.cosineNearDup(emb, tau, nPlanes = 4, nTables = 2, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.forall { case (v1, v2, c) => v1 < v2 && c >= tau })
    // reference: brute-force pairs above tau restricted to collisions
    val b = VectorOps.lshBuckets(emb, 4, 2, 64)
      .select("vec_id", "b0", "b1").collect()
      .map(r => r.getLong(0) -> (r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue)).toMap
    val all = emb.select(col("vec_id").as("v1"), col("embedding").as("av"))
      .crossJoin(emb.select(col("vec_id").as("v2"), col("embedding").as("bv")))
      .filter(col("v1") < col("v2"))
      .withColumn("cos", round(
        expr(VectorOps.dotSql("av", "bv")) /
          (expr(VectorOps.normSql("av")) * expr(VectorOps.normSql("bv"))), 6))
      .filter(col("cos") >= tau)
      .select("v1", "v2", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (v1, v2, _) =>
        (b(v1)._1 == b(v2)._1) || (b(v1)._2 == b(v2)._2) }
    assert(got.toSet == all.toSet,
      s"near-dup mismatch: got ${got.length}, expected ${all.length}")
  }

  test("capped cosineNearDup equals the count+prune+self-join reference") {
    // the melted collect_capped path must emit exactly the pairs of the
    // old shape: per table, drop buckets with > cap members WHOLE, pair
    // v1 < v2 within surviving buckets, union tables, dedup
    val tau = 0.2
    val cap = 8 // small enough that sf0.001 has real over-cap buckets
    val b = VectorOps.lshBuckets(emb, 4, 2, 64)
      .select("vec_id", "b0", "b1").collect()
      .map(r => r.getLong(0) -> (r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue)).toMap
    val hot0 = b.values.groupBy(_._1).filter(_._2.size > cap).keySet
    val hot1 = b.values.groupBy(_._2).filter(_._2.size > cap).keySet
    assert(hot0.nonEmpty || hot1.nonEmpty,
      "cap too high to exercise the hot-bucket drop on this corpus")
    val got = VectorOps.cosineNearDup(emb, tau, nPlanes = 4, nTables = 2,
        dim = 64, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val all = emb.select(col("vec_id").as("v1"), col("embedding").as("av"))
      .crossJoin(emb.select(col("vec_id").as("v2"), col("embedding").as("bv")))
      .filter(col("v1") < col("v2"))
      .withColumn("cos", round(
        expr(VectorOps.dotSql("av", "bv")) /
          (expr(VectorOps.normSql("av")) * expr(VectorOps.normSql("bv"))), 6))
      .filter(col("cos") >= tau)
      .select("v1", "v2", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (v1, v2, _) =>
        (b(v1)._1 == b(v2)._1 && !hot0.contains(b(v1)._1)) ||
        (b(v1)._2 == b(v2)._2 && !hot1.contains(b(v1)._2)) }
    assert(got.toSet == all.toSet,
      s"capped near-dup mismatch: got ${got.length}, expected ${all.length}")
  }

  test("rangeJoinPreceding matches the naive inequality join") {
    import spark.implicits._
    val w = 100L // micros
    val left = Seq((1L, 250L, "p1"), (1L, 300L, "p2"), (2L, 100L, "p3"),
        (3L, 50L, "p4"))
      .toDF("k", "lu", "tag").withColumn("lts", timestamp_micros(col("lu")))
    val right = Seq((1L, 150L, 1.0), (1L, 200L, 2.0), (1L, 250L, 3.0),
        (1L, 299L, 4.0), (2L, 0L, 5.0), (2L, 99L, 6.0), (3L, 49L, 7.0))
      .toDF("k", "ru", "v").withColumn("rts", timestamp_micros(col("ru")))
    val banded = Joins.rangeJoinPreceding(left, right, "lts", "rts", Seq("k"), w)
      .select("k", "tag", "ru", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val naive = left.join(right, Seq("k"))
      .filter(col("ru") >= col("lu") - w && col("ru") < col("lu"))
      .select("k", "tag", "ru", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(banded == naive, s"banded $banded != naive $naive")
    // boundary semantics: ru = lu - w included, ru = lu excluded
    assert(banded.contains((1L, "p1", 150L, 1.0)))
    assert(!banded.exists { case (_, tag, ru, _) => tag == "p1" && ru == 250L })
  }

  test("intervalOverlapJoin matches the naive overlap join, pairs once") {
    import spark.implicits._
    val bkt = 100L // micros — intervals span MANY buckets on purpose
    val left = Seq((1L, 0L, 450L, "a1"), (1L, 500L, 900L, "a2"),
        (2L, 0L, 1000L, "a3"), (3L, 10L, 10L, "a0") /* zero-length */)
      .toDF("k", "ls", "le", "ltag")
      .withColumn("lst", timestamp_micros(col("ls")))
      .withColumn("lend", timestamp_micros(col("le")))
    val right = Seq((1L, 440L, 600L, "b1"), (1L, 901L, 950L, "b2"),
        (2L, 100L, 900L, "b3"), (2L, 999L, 1100L, "b4"),
        (3L, 0L, 20L, "b0"))
      .toDF("k", "rs", "re", "rtag")
      .withColumn("rst", timestamp_micros(col("rs")))
      .withColumn("rend", timestamp_micros(col("re")))
    val got = Joins.intervalOverlapJoin(left, right,
        "lst", "lend", "rst", "rend", Seq("k"), bkt)
      .select("k", "ltag", "rtag", "overlap_us").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // EVERY surviving pair appears exactly once despite sharing many
    // buckets (a3/b3 share 8 buckets)
    assert(got.length == got.toSet.size, s"duplicate pairs: ${got.toList}")
    val naive = left.join(right, Seq("k"))
      .filter(col("ls") < col("re") && col("rs") < col("le") &&
        col("le") > col("ls") && col("re") > col("rs"))
      .select(col("k"), col("ltag"), col("rtag"),
        least(col("le"), col("re")) - greatest(col("ls"), col("rs")))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSet == naive.toSet, s"got ${got.toSet} != naive ${naive.toSet}")
    // overlap values: a1/b1 overlap [440,450) = 10us; a2/b2 disjoint
    // (901 >= 900, half-open); zero-length a0 pairs with nothing
    assert(got.toSet.contains((1L, "a1", "b1", 10L)))
    assert(!got.exists(_._2 == "a0"))
    assert(!got.exists(t => t._2 == "a2" && t._3 == "b2"))
    // b4 overlaps a3 by exactly 1us at the tail
    assert(got.toSet.contains((2L, "a3", "b4", 1L)))
  }

  test("native simhash5 matches the composable explode/agg pipeline") {
    val composed = PipelineReference.simhash(TextOps.grams5(docs), 16)
      .select(col("doc_id"), col("simhash"))
    val direct = TextOps.simhashDirect(docs, 16)
    assert(composed.exceptAll(direct).isEmpty && direct.exceptAll(composed).isEmpty,
      "simhash diverges between native and composable paths")
  }

  test("native fingerprint5 matches the explode/groupBy pipeline") {
    import TextOps.P
    val composed = TextOps.grams5(docs)
      .groupBy(col("doc_id"))
      .agg(expr(s"min((${TextOps.aConst(0)} * tg + ${TextOps.bConst(0)}) % $P)").as("minh"),
           expr(s"sum(tg) % $P").as("sumh"),
           count(lit(1)).as("n_grams"))
      .selectExpr("doc_id",
        s"CAST((minh * 31 + sumh * 17 + n_grams) % 2147483647 AS BIGINT) AS fingerprint")
    val direct = TextOps.fingerprintDirect(docs)
    assert(composed.exceptAll(direct).isEmpty && direct.exceptAll(composed).isEmpty,
      "fingerprint diverges between native and composable paths")
  }

  test("lshCandidates maxBucket drops ONLY hot buckets (cap-active gate)") {
    import spark.implicits._
    // a mega-cluster of 80 near-identical docs (> the gates' cap of
    // 64; the shape that turned the sf10 probe's d13 quadratic) plus
    // two small near-dup pairs that must SURVIVE the cap
    // identical boilerplate text => identical signatures => one bucket
    // of 80 per band (the exact boilerplate shape the cap targets)
    val mega = (0 until 80).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
    val smallA = Seq(
      (100L, "completely different text about distributed analytics engines alpha"),
      (101L, "completely different text about distributed analytics engines beta"))
    val smallB = Seq(
      (200L, "yet another unrelated corpus document describing columnar storage one"),
      (201L, "yet another unrelated corpus document describing columnar storage two"))
    val docs = (mega ++ smallA ++ smallB).toDF("doc_id", "text")
    val bands = TextOps.bandSignaturesDirect(docs, 16, 4)
    val cap = graft.queries.PipelineQueries.LshMaxBucket
    val capped = TextOps.lshCandidates(bands, maxBucket = Some(cap))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = TextOps.lshCandidates(bands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the cap is ACTIVE on this corpus: mega-cluster pairs are gone
    assert(uncapped.exists { case (a, b) => a < 80 && b < 80 },
      "precondition: the mega cluster produces uncapped candidates")
    assert(!capped.exists { case (a, b) => a < 80 && b < 80 },
      s"cap failed to drop the hot bucket: ${capped.filter(_._1 < 80).take(5)}")
    // and SURGICAL: every candidate outside the hot buckets survives
    assert(capped == uncapped.filterNot { case (a, b) => a < 80 && b < 80 },
      "cap dropped pairs outside the hot buckets")
    assert(capped.contains((100L, 101L)) && capped.contains((200L, 201L)),
      s"small near-dup pairs must survive the cap: $capped")
  }
}
