package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: treat image/audio/video payloads as
  * opaque `binary` columns plus typed metadata, processed batchwise per
  * partition.
  *
  * The real Spark shape is here — binary columns, typed Dataset
  * encoders, per-partition batch iteration (the JVM analogue of
  * `mapInPandas` batches), explicit output schema — while the actual
  * media decode is a STUB: this container ships no image/audio codecs,
  * so `decodeStub` derives deterministic fake metadata from the payload
  * bytes. Swapping in a real decoder (JNI/FFI or a Python worker via
  * mapInPandas at deploy time) changes ONE function, not the pipeline.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, lang: String, payload: Array[Byte])
  final case class MediaMeta(doc_id: Long, lang: String,
                             width: Int, height: Int, frames: Int, bytes: Int)

  /** STUB decode — deterministic fake for payloads that are not a
    * recognized media container (the driver's `documents` rows carry
    * text payloads, so the oracle gates ride this path unchanged).
    */
  def decodeStub(r: MediaRow): MediaMeta = MediaMeta(
    doc_id = r.doc_id,
    lang = r.lang,
    width = r.payload.length % 64,
    height = (r.payload.length / 64) % 64,
    frames = (1 + r.doc_id % 3).toInt,
    bytes = r.payload.length)

  /** Decode dispatch: REAL codec when the payload is a recognized
    * container (PNG/BMP/GIF via the JDK's javax.imageio — no native
    * libs; WAV via the PCM header parser), deterministic stub
    * otherwise. One function swaps, the pipeline shape is identical
    * either way — the posture the stub always documented.
    */
  def decodeMedia(r: MediaRow): MediaMeta = MediaCodec.sniff(r.payload) match {
    case MediaCodec.Image =>
      MediaCodec.decodeImage(r.payload) match {
        case Some((w, h)) =>
          MediaMeta(r.doc_id, r.lang, w, h, frames = 1, bytes = r.payload.length)
        case None => decodeStub(r) // truncated/corrupt container
      }
    case MediaCodec.Wav =>
      MediaCodec.decodeWav(r.payload) match {
        case Some(wav) =>
          // audio has no raster: width carries samples-per-channel,
          // height the channel count, frames the sample rate / 1000
          MediaMeta(r.doc_id, r.lang, wav.samples.length, wav.channels,
            frames = wav.sampleRate / 1000, bytes = r.payload.length)
        case None => decodeStub(r)
      }
    case MediaCodec.Unknown => decodeStub(r)
  }

  /** documents -> fake binary payloads -> per-partition batch decode ->
    * typed metadata. Partition-parallel, no shuffle until the caller
    * aggregates.
    */
  def extractMetadata(docs: DataFrame): Dataset[MediaMeta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("lang"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
      .mapPartitions(rows => rows.map(decodeMedia)) // batchwise decode dispatch
  }

  final case class Frame(doc_id: Long, lang: String, frame_idx: Int,
                         data: Array[Byte])
  final case class FrameFeature(doc_id: Long, lang: String, frame_idx: Int,
                                feature: Array[Float])

  /** Frame sampling: each payload splits into its `frames` equal byte
    * slices (the stub's stand-in for video frame extraction) and every
    * `everyN`-th frame is kept. flatMap keeps it partition-parallel and
    * row-bounded — a doc fans out to at most ceil(frames/everyN) rows,
    * never materializing all frames of a partition at once.
    */
  def sampleFrames(docs: DataFrame, everyN: Int): Dataset[Frame] = {
    require(everyN > 0, s"everyN must be positive: $everyN")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("lang"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
      .flatMap { r =>
        val n = decodeMedia(r).frames
        val len = r.payload.length
        (0 until n by everyN).map { i =>
          val from = (i.toLong * len / n).toInt
          val until = ((i + 1).toLong * len / n).toInt
          Frame(r.doc_id, r.lang, i,
            java.util.Arrays.copyOfRange(r.payload, from, until))
        }
      }
  }

  /** STUB resize: normalize every frame to exactly `w*h` bytes
    * (truncate or zero-pad) — the fixed-output-shape contract a real
    * resize kernel would satisfy, so downstream stages can assume a
    * constant per-frame size.
    */
  def resizeFrames(frames: Dataset[Frame], w: Int, h: Int): Dataset[Frame] = {
    require(w > 0 && h > 0, s"bad target size ${w}x$h")
    val spark = frames.sparkSession
    import spark.implicits._
    frames.map(f => f.copy(data = java.util.Arrays.copyOf(f.data, w * h)))
  }

  /** Feature extraction: byte-value histogram folded into `dim`
    * buckets, L2-normalized — deterministic and cheap, but a REAL
    * (if crude) content feature, unlike the metadata stub. Zero-byte
    * frames yield the zero vector.
    */
  def extractFeatures(frames: Dataset[Frame], dim: Int): Dataset[FrameFeature] = {
    require(dim > 0, s"feature dim must be positive: $dim")
    val spark = frames.sparkSession
    import spark.implicits._
    frames.map { f =>
      val hist = new Array[Float](dim)
      var i = 0
      while (i < f.data.length) {
        hist((f.data(i) & 0xff) % dim) += 1f
        i += 1
      }
      val norm = math.sqrt(hist.map(x => x.toDouble * x).sum)
      if (norm > 0) {
        var j = 0
        while (j < dim) { hist(j) = (hist(j) / norm).toFloat; j += 1 }
      }
      FrameFeature(f.doc_id, f.lang, f.frame_idx, hist)
    }
  }

  final case class AudioChunk(doc_id: Long, chunk_idx: Long, energy: Long,
                              peak: Int)

  /** Audio-style chunking over the stub waveform (the text's char
    * codes stand in for PCM samples — a real decoder swaps the sample
    * extraction, not the chunking): fixed `win`-sample windows every
    * `hop` samples (overlapping when hop < win; trailing partial
    * windows dropped), each carrying integer energy (sum of squared
    * samples) and peak — the inputs of VAD-style silence gating.
    * A flatMap keeps it partition-parallel and row-bounded (a doc fans
    * out to at most len/hop chunk rows, never a materialized window
    * matrix); nothing shuffles until the caller aggregates, and the
    * integer arithmetic is exact cross-engine.
    */
  def chunkAudio(docs: DataFrame, win: Int, hop: Int): Dataset[AudioChunk] = {
    require(win > 0 && hop > 0, s"win/hop must be positive: $win/$hop")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text.length < win) Iterator.empty
        else (0 to text.length - win by hop).iterator.zipWithIndex
          .map { case (st, i) =>
            var e = 0L
            var pk = 0
            var j = st
            while (j < st + win) {
              val v = text.charAt(j).toInt
              e += v.toLong * v
              if (v > pk) pk = v
              j += 1
            }
            AudioChunk(id, i.toLong, e, pk)
          }
      }
  }

  /** Average-hash (aHash) perceptual fingerprint over the stub image
    * modality: the first 64 decoded "pixels" (char codes — the same
    * deterministic fake every m-gate rides; a real decoder swap
    * changes pixel extraction only) form an 8x8 gray block, each bit
    * is pixel >= block mean (spelled `v * 64 >= sum` so the compare
    * stays integer-exact cross-engine), and the 64 bits pack into
    * FOUR 16-bit band ints rather than one long — the bands are both
    * the storage and the LSH: by pigeonhole, two hashes within
    * Hamming distance 3 agree on at least one of 4 bands, so the
    * candidate join is four equi-joins on small int keys, never an
    * all-pairs scan. Docs shorter than 64 pixels have no hash.
    */
  def aHashBands(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= 64)
      .select(col("doc_id"), col("source"),
        expr("transform(sequence(0, 63), " +
          "k -> ascii(substring(text, k + 1, 1)))").as("px"))
      .withColumn("total",
        expr("aggregate(px, 0, (a, v) -> a + v)"))
      .select(Seq(col("doc_id"), col("source")) ++ (0 until 4).map { j =>
        expr(s"aggregate(sequence(0, 15), 0, (a, i) -> a + " +
          s"(CASE WHEN element_at(px, $j * 16 + i + 1) * 64 >= total " +
          s"THEN shiftleft(1, i) ELSE 0 END))").as(s"b$j")
      }: _*)

  /** Perceptual near-duplicate pairs: banded candidate generation
    * over [[aHashBands]] + exact Hamming confirm (`bit_count(xor)`
    * per band, codegen'd integer ops). Returns (d1, d2, hd) with
    * d1 < d2 and hd <= maxHamming.
    *
    * `maxBucket` is the scale guard (the d2 LshMaxBucket pattern):
    * low-entropy corpora make individual band values HOT — at sf0.1
    * the hottest 16-bit band held 340 docs (~58k pairs from ONE
    * bucket; the uncapped gate measured 16 s where capped is ~1 s),
    * and candidate OUTPUT grows quadratically in bucket size, so at
    * 100 TB an uncapped hot band is the whole job. Band values whose
    * bucket exceeds the cap generate no candidates THROUGH THAT BAND
    * (a pair can still surface via its other, colder bands) — the
    * standard LSH recall trade; the pigeonhole completeness
    * guarantee (Hamming <= 3 => some equal band) holds exactly when
    * every shared band is under the cap, and the oracle replays the
    * cap, so the gate stays hash-exact, never silently lossy. The
    * per-band count table is at most 65536 rows — broadcast, no
    * extra shuffle.
    */
  /** Candidate pairs through any under-cap band, as ONE melted
    * self-join instead of one join per band column: the four 16-bit
    * band columns posexplode to (doc_id, band, sig) rows and ride
    * [[TextOps.lshCandidates]] — d2's LSH shape (hot-bucket anti-join,
    * band+sig equi-join, d1 < d2, distinct). Identical pair set to the
    * per-band form (a pair surfaces iff it shares SOME band whose
    * bucket is under the cap; bucket counts per (band, value) are the
    * same numbers either way), but the plan drops from 4 count
    * aggregates + 4 broadcast builds + 4 joins + a 4-way union to
    * 1 aggregate + 1 anti-join + 1 equi-join; at scale the same bytes
    * shuffle either way — the win is stage/job count (see
    * OPTIMIZATION_r14.md for the measured before/after).
    */
  private def bandedCandidates(sigs: DataFrame, bandCols: Seq[String],
                               maxBucket: Int): DataFrame =
    TextOps.lshCandidates(
      sigs.select(col("doc_id"),
          posexplode(array(bandCols.map(col): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig"),
      maxBucket = Some(maxBucket))

  def phashNearDup(docs: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = 64): DataFrame = {
    // cache: the hash subtree is referenced by BOTH join sides, the
    // melted candidate subtree, and the re-rank joins — uncached,
    // Catalyst recomputes the 64-substring hash ~12x (measured 16 s
    // vs ~2 s at sf0.1); same cached-intermediate shape as d2/d13
    val bands = BarrierCache.barrier(aHashBands(docs))
    val a = bands.select(col("doc_id").as("d1"),
      col("b0").as("a0"), col("b1").as("a1"),
      col("b2").as("a2"), col("b3").as("a3"))
    val b = bands.select(col("doc_id").as("d2"),
      col("b0").as("c0"), col("b1").as("c1"),
      col("b2").as("c2"), col("b3").as("c3"))
    val cand = bandedCandidates(bands,
      (0 until 4).map(j => s"b$j"), maxBucket)
    cand
      .join(a, "d1").join(b, "d2")
      .withColumn("hd",
        expr("bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
          "bit_count(a2 ^ c2) + bit_count(a3 ^ c3)").cast("long"))
      .filter(col("hd") <= maxHamming)
      .select(col("d1"), col("d2"), col("hd"))
  }

  /** Video keyframe near-duplicate pairs — shot-level dedup chaining
    * the existing machinery: frame sampling (the [[sampleFrames]]
    * slicing arithmetic, expressed declaratively so Catalyst codegens
    * it and the oracle replays it: frame f of a doc's n = 1+doc_id%3
    * frames is chars [(f*len) div n, ((f+1)*len) div n) — byte==char
    * on this ASCII corpus, the m3/m5 invariant) → per-frame aHash →
    * the [[phashNearDup]] banded join, run at FRAME granularity via a
    * packed frame id (doc_id*4 + f; n <= 3 so the pack never
    * collides) → video-level aggregation: videos pair when ANY of
    * their keyframes are within `maxHamming`, reported with the
    * matching-frame count and the closest distance. Scale shape is
    * m5's: candidates only through under-cap bands (the cap oracle-
    * replayed), count tables broadcast, never all-pairs — the frame
    * table is ~2x the corpus and everything stays linear in it.
    */
  /** The declarative frame table behind [[videoNearDup]] (doc_id packs
    * to doc_id*4 + frame_idx).
    */
  private[graft] def videoFrames(docs: DataFrame): DataFrame =
    docs
      .withColumn("n", (lit(1) + col("doc_id") % 3).cast("long"))
      .select(col("doc_id"), col("source"), col("text"), col("n"),
        explode(expr("sequence(0, n - 1)")).as("f"))
      .select((col("doc_id") * 4 + col("f")).as("doc_id"), col("source"),
        expr("substring(text, cast((f * length(text)) div n as int) + 1, " +
          "least(64, cast(((f + 1) * length(text)) div n " +
          "- (f * length(text)) div n as int)))").as("text"))

  def videoNearDup(docs: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = 64): DataFrame = {
    // Only the first 64 chars of a frame ever reach the hash (and the
    // length >= 64 gate), so slice exactly those: `least(64, framelen)`
    // keeps a short frame short (it must FAIL the gate, never borrow
    // chars from the next frame). The narrow slice matters because
    // Catalyst's projection collapse inlines the frame expression into
    // every per-element HOF evaluation downstream — with full frame
    // text that re-copied ~KB strings 64×6 times per row (measured
    // 44 s of the 46 s cold cost at sf1); with the 64-char head it is
    // the same per-char work as m5's direct-column hash (~2 s).
    // cache = a MATERIALIZATION BARRIER, not (only) reuse: without it,
    // Catalyst's projection collapse inlines the frame expression into
    // all ~384 per-row HOF element references of the hash stage, and
    // each inlined copy re-runs length(text) — an O(doc-length)
    // codepoint scan of the full document — per reference (measured:
    // 44 s of the gate's 46 s cold cost at sf1; materialized, the hash
    // reads concrete 64-char strings like m5's direct-column path)
    phashNearDup(BarrierCache.barrier(videoFrames(docs)), maxHamming, maxBucket)
      // fid1 < fid2 makes v1 <= v2; equal means within-video (dropped)
      .filter(expr("d1 div 4 <> d2 div 4"))
      .groupBy(expr("d1 div 4").as("v1"), expr("d2 div 4").as("v2"))
      .agg(count(lit(1)).as("n_frames"), min(col("hd")).as("min_hd"))
  }

  /** Audio near-duplicate pairs — the m5 banded posture on the audio
    * modality, chaining [[chunkAudio]]'s existing machinery: the first
    * 4 overlapping windows of each track emit (energy, peak)
    * signatures; each window's QUANTIZED energy (div 4096) packed with
    * its peak is one band value, candidates come from per-band
    * equi-joins (docs agreeing on the coarse energy envelope AND peak
    * at the same position), and the confirm stage is the exact total
    * energy distance `sum |e_a - e_b| <= maxEnergyDist`. All-integer,
    * so the oracle replays signature, cap, and confirm exactly.
    *
    * Scale shape is m5's verbatim: band values hotter than `maxBucket`
    * generate no candidates through that band (count tables broadcast,
    * cap oracle-replayed, never silently lossy), never all-pairs; the
    * signature table is 4 longs per track. Tracks shorter than 4
    * windows (250 samples at 100/50) have no stable envelope and are
    * excluded — deterministically, on both sides.
    */
  def audioNearDup(docs: DataFrame, maxEnergyDist: Long = 20000L,
                   maxBucket: Int = 64): DataFrame = {
    val ch = chunkAudio(docs, 100, 50).toDF().filter(col("chunk_idx") < 4)
    val aggs = (0 until 4).flatMap { j =>
      Seq(sum(when(col("chunk_idx") === j, col("energy"))).as(s"e$j"),
          sum(when(col("chunk_idx") === j,
            col("peak").cast("long"))).as(s"p$j"))
    } :+ count(lit(1)).as("nch")
    // same cached-barrier shape as m5's band table: the signature
    // subtree feeds both join sides and all four count tables
    val sigs = BarrierCache.barrier(
      ch.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
        .filter(col("nch") === 4)
        .select(Seq(col("doc_id")) ++ (0 until 4).flatMap { j =>
          Seq(expr(s"(e$j div 4096) * 256 + p$j").as(s"b$j"),
              col(s"e$j"))
        }: _*))
    val a = sigs.select(col("doc_id").as("d1") +: (0 until 4).map(j =>
      col(s"e$j").as(s"ea$j")): _*)
    val b = sigs.select(col("doc_id").as("d2") +: (0 until 4).map(j =>
      col(s"e$j").as(s"eb$j")): _*)
    // one melted candidate join over the four quantized-energy bands
    // (see [[bandedCandidates]]) instead of four per-band joins
    val cand = bandedCandidates(sigs,
      (0 until 4).map(j => s"b$j"), maxBucket)
    cand
      .join(a, "d1").join(b, "d2")
      .withColumn("dist", (0 until 4)
        .map(j => abs(col(s"ea$j") - col(s"eb$j"))).reduce(_ + _))
      .filter(col("dist") <= maxEnergyDist)
      .select(col("d1"), col("d2"), col("dist"))
  }

  /** Audio chunking over REAL payloads: WAV payloads decode through
    * the PCM header parser (first channel), anything else falls back
    * to unsigned byte values as samples. Same windowing arithmetic as
    * [[chunkAudio]] — the codec swap changes sample extraction only,
    * exactly the posture the stub documented. `media` needs
    * (doc_id: long, payload: binary).
    */
  def chunkWav(media: DataFrame, win: Int, hop: Int): Dataset[AudioChunk] = {
    require(win > 0 && hop > 0, s"win/hop must be positive: $win/$hop")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        val samples = MediaCodec.decodeWav(payload) match {
          case Some(w) => w.samples
          case None =>
            val a = new Array[Int](payload.length)
            var i = 0
            while (i < a.length) { a(i) = payload(i) & 0xff; i += 1 }
            a
        }
        MediaCodec.windows(samples, win, hop)
          .map { case (i, e, pk) => AudioChunk(id, i, e, pk) }
      }
  }
}

/** JDK-only REAL media codecs behind the multimodal pipeline: images
  * through javax.imageio (PNG/JPEG/BMP/GIF — the readers the JDK ships
  * without native libraries), audio through a PCM-16 WAV header
  * parser. Payloads that are not a recognized container keep the
  * deterministic synthetic path, so the oracle gates (text payloads)
  * are untouched while fixture specs decode real containers
  * byte-exactly.
  */
object MediaCodec {
  sealed trait Kind
  case object Image extends Kind
  case object Wav extends Kind
  case object Unknown extends Kind

  /** Container sniff by magic bytes — cheap enough to run per row. */
  def sniff(p: Array[Byte]): Kind =
    if (p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' &&
        p(3) == 'F' && p(8) == 'W' && p(9) == 'A' && p(10) == 'V' &&
        p(11) == 'E') Wav
    else if (p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P' &&
        p(2) == 'N' && p(3) == 'G') Image
    else if (p.length >= 3 && (p(0) & 0xff) == 0xff &&
        (p(1) & 0xff) == 0xd8 && (p(2) & 0xff) == 0xff) Image // JPEG SOI
    else if (p.length >= 6 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' &&
        p(3) == '8') Image
    else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') Image
    else Unknown

  /** (width, height) via javax.imageio; None when the payload does not
    * decode (truncated/corrupt container → callers fall back to the
    * synthetic path rather than failing the partition).
    */
  def decodeImage(p: Array[Byte]): Option[(Int, Int)] =
    decodeArgb(p).map { case (w, h, _) => (w, h) }

  /** Full raster decode: (width, height, row-major ARGB pixels). */
  def decodeArgb(p: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        Some((w, h, img.getRGB(0, 0, w, h, null, 0, w)))
      }
    } catch { case _: java.io.IOException | _: RuntimeException => None }

  final case class WavData(sampleRate: Int, channels: Int,
                           samples: Array[Int])

  /** RIFF/WAVE PCM-16 parser: walks the chunk list (word-aligned),
    * requires format 1 (linear PCM) with 16-bit samples, and returns
    * the FIRST channel's samples as signed ints. Anything else —
    * float WAV, ADPCM, truncated chunks — returns None (loud fallback,
    * never a half-decoded buffer).
    */
  def decodeWav(p: Array[Byte]): Option[WavData] = {
    if (sniff(p) != Wav) return None
    val bb = java.nio.ByteBuffer.wrap(p)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var off = 12
    var fmtOk = false
    var channels = 0
    var rate = 0
    var dataStart = -1
    var dataLen = 0
    while (off + 8 <= p.length) {
      val sz = bb.getInt(off + 4)
      if (sz < 0) return None
      val id = new String(p, off, 4, "US-ASCII")
      if (id == "fmt " && off + 24 <= p.length) {
        val audioFormat = bb.getShort(off + 8).toInt
        channels = bb.getShort(off + 10).toInt
        rate = bb.getInt(off + 12)
        val bits = bb.getShort(off + 22).toInt
        fmtOk = audioFormat == 1 && bits == 16 && channels >= 1 && rate > 0
      } else if (id == "data") {
        dataStart = off + 8
        dataLen = math.min(sz, p.length - dataStart)
      }
      off += 8 + sz + (sz & 1)
    }
    if (!fmtOk || dataStart < 0) return None
    val stride = 2 * channels
    val n = dataLen / stride
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = bb.getShort(dataStart + i * stride).toInt
      i += 1
    }
    Some(WavData(rate, channels, out))
  }

  /** Shared fixed-window pass: (chunk_idx, energy, peak) per full
    * `win`-sample window every `hop` samples — identical arithmetic to
    * the m4 gate's char-code loop, over real samples.
    */
  def windows(samples: Array[Int], win: Int,
              hop: Int): Iterator[(Long, Long, Int)] =
    if (samples.length < win) Iterator.empty
    else (0 to samples.length - win by hop).iterator.zipWithIndex
      .map { case (st, i) =>
        var e = 0L
        var pk = 0
        var j = st
        while (j < st + win) {
          val v = samples(j)
          e += v.toLong * v
          if (v > pk) pk = v
          j += 1
        }
        (i.toLong, e, pk)
      }
}
