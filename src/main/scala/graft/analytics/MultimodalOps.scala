package graft.analytics

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GraftQuery

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * the Spark-side shape for image/audio/video handling in a training-data
  * pipeline. The real decode step needs media libraries this container
  * doesn't ship, so [[StubMediaDecoder]] stands in behind the same
  * interface; everything Spark-side — schema, batching, partition-local
  * decode, metadata extraction — is real and oracle-checked where
  * SQL-expressible.
  */
object MultimodalOps {

  /** A decoded media asset's typed metadata (what a real image/audio
    * decoder would emit alongside features).
    */
  final case class MediaMeta(
      doc_id: Long,
      byte_len: Long,
      magic: String,
      kind: String,
      checksum: String,
      // decode outputs (stubbed): deterministic fake "dimensions"
      width: Int,
      height: Int)

  /** Pluggable decoder boundary (a real build swaps in javacv/pillow-sided
    * impls; the contract — bytes in, typed meta out, called once per row
    * inside a partition — is what the engine guarantees).
    */
  trait MediaDecoder extends Serializable {
    def decode(docId: Long, bytes: Array[Byte]): MediaMeta
  }

  /** Deterministic fake decode: sniffs a "magic" prefix, derives fake
    * dimensions from the byte length. Marks exactly where a real decoder
    * plugs in.
    */
  final class StubMediaDecoder extends MediaDecoder {
    override def decode(docId: Long, bytes: Array[Byte]): MediaMeta = {
      val magic = Hex.encode(bytes.take(2))
      val kind = magic match {
        case "ffd8" => "jpeg"
        case "8950" => "png"
        case _ => "unknown"
      }
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      MediaMeta(docId, bytes.length.toLong, magic, kind,
        Hex.encode(md),
        width = (bytes.length % 640) + 1, height = (bytes.length % 480) + 1)
    }
  }

  /** Partition-local decode: one decoder instance per partition (the
    * mapPartitions batch shape a heavyweight decoder needs), no shuffle.
    */
  def decodeAll(assets: Dataset[(Long, Array[Byte])], decoder: MediaDecoder): Dataset[MediaMeta] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { case (id, bytes) => decoder.decode(id, bytes) }
    }
  }

  /** documents.text reinterpreted as opaque binary payloads — the column
    * plumbing under test; a real pipeline reads actual media bytes here.
    */
  def binaryAssets(s: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
  }

  /** A sampled "frame" of a media asset (video frame-sampling shape: one
    * row per sampled frame, partition-local decode, 1-in/N-out).
    */
  final case class MediaFrame(doc_id: Long, frame_idx: Int, frame_len: Int,
      frame_checksum: String)

  /** An extracted feature vector (image/audio feature-extraction shape).
    * The stub derives 8 deterministic byte-class frequencies; a real build
    * swaps in an embedding model behind the same partition-local batch
    * contract.
    */
  final case class MediaFeatures(doc_id: Long, f0: Double, f1: Double,
      f2: Double, f3: Double, f4: Double, f5: Double, f6: Double, f7: Double)

  /** Frame sampling: split the payload into fixed-stride frames, one row
    * per frame — mapPartitions 1-in/N-out, the flatMap shape a real video
    * sampler needs (decoder instantiated once per partition).
    */
  def sampleFrames(assets: Dataset[(Long, Array[Byte])], stride: Int): Dataset[MediaFrame] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { case (id, bytes) =>
        // a zero-length payload yields zero frames (ceil(0/stride) = 0)
        (0 until (bytes.length + stride - 1) / stride).map { i =>
          val from = i * stride
          val slice = java.util.Arrays.copyOfRange(bytes, from,
            math.min(bytes.length, from + stride))
          md.reset()
          MediaFrame(id, i, slice.length, Hex.encode(md.digest(slice)))
        }
      }
    }
  }

  /** Feature extraction: per-asset byte-class histogram frequencies
    * (deterministic stub for an embedding model; counts are exact ints,
    * one IEEE division each → cross-engine exact).
    */
  def extractFeatures(assets: Dataset[(Long, Array[Byte])]): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val counts = new Array[Int](8)
        var i = 0
        while (i < bytes.length) {
          counts((bytes(i) & 0xff) >>> 5) += 1
          i += 1
        }
        val n = math.max(bytes.length, 1).toDouble
        MediaFeatures(id, counts(0) / n, counts(1) / n, counts(2) / n,
          counts(3) / n, counts(4) / n, counts(5) / n, counts(6) / n, counts(7) / n)
      }
    }
  }

  private val qFrames = GraftQuery(
    "qm_frame_sample",
    (s, dir) => {
      sampleFrames(binaryAssets(s, dir), 64).toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    },
    // NOTE: the oracle slices with character-based substr while Spark
    // slices bytes — equivalent only because documents.text is ASCII in
    // the test corpora (len here is octet_length, which matches char
    // count under that assumption).
    Some("""WITH f AS (SELECT doc_id, octet_length(encode(text)) AS len, text FROM documents),
    idx AS (SELECT doc_id, len, text,
      unnest(generate_series(0, CAST(ceil(len / 64.0) AS INTEGER) - 1)) AS frame_idx
      FROM f)
    SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
      CAST(octet_length(encode(substr(text, frame_idx * 64 + 1, 64))) AS INTEGER) AS frame_len,
      md5(substr(text, frame_idx * 64 + 1, 64)) AS frame_checksum
    FROM idx ORDER BY doc_id, frame_idx"""))

  private val qFeatures = GraftQuery(
    "qm_feature_extract",
    (s, dir) => extractFeatures(binaryAssets(s, dir)).toDF()
      .orderBy(col("doc_id")),
    Some("""WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n,
      list_transform(generate_series(1, octet_length(encode(text))),
        i -> ascii(substr(text, i, 1)) // 32) AS cls
      FROM documents)
    SELECT doc_id,
      CAST(len(list_filter(cls, x -> x = 0)) AS DOUBLE) / n AS f0,
      CAST(len(list_filter(cls, x -> x = 1)) AS DOUBLE) / n AS f1,
      CAST(len(list_filter(cls, x -> x = 2)) AS DOUBLE) / n AS f2,
      CAST(len(list_filter(cls, x -> x = 3)) AS DOUBLE) / n AS f3,
      CAST(len(list_filter(cls, x -> x = 4)) AS DOUBLE) / n AS f4,
      CAST(len(list_filter(cls, x -> x = 5)) AS DOUBLE) / n AS f5,
      CAST(len(list_filter(cls, x -> x = 6)) AS DOUBLE) / n AS f6,
      CAST(len(list_filter(cls, x -> x = 7)) AS DOUBLE) / n AS f7
    FROM b ORDER BY doc_id"""))

  // Oracle-checked query: binary column metadata (length, magic prefix,
  // checksum) through the same decode path, SQL-expressible subset.
  private val qBinaryMeta = GraftQuery(
    "qm_binary_metadata",
    (s, dir) => {
      decodeAll(binaryAssets(s, dir), new StubMediaDecoder).toDF()
        .select(col("doc_id"), col("byte_len"), col("magic"), col("kind"),
          col("checksum"), col("width"), col("height"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      lower(hex(encode(substr(text, 1, 2)))) AS magic,
      'unknown' AS kind,
      md5(text) AS checksum,
      CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
      CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height
    FROM documents ORDER BY doc_id"""))

  /** A 60-bit perceptual (average) hash of a media payload. */
  final case class PHashRow(doc_id: Long, phash: Long)

  /** Perceptual AVERAGE-HASH over the decoder's fixed-size grid — the
    * public aHash recipe every image-dedup pipeline uses (pHash/dHash are
    * drop-in variants): grid cell above the grid mean → bit 1. The STUB
    * grid is 60 byte-sum cells (payload position mod 60) standing in for
    * a real decoder's 8×8 resized luminance grid — same boundary as
    * [[StubMediaDecoder]]; the hash rule itself (mean threshold, done as
    * the exact integer comparison cell·60 > total — no division) and
    * everything downstream are the real pipeline. Locality: a small
    * payload edit perturbs few cells → few bits, which is what makes
    * hamming-bucketing meaningful.
    */
  def perceptualHashes(assets: Dataset[(Long, Array[Byte])]): Dataset[PHashRow] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val cells = new Array[Long](60)
        var i = 0
        while (i < bytes.length) { cells(i % 60) += (bytes(i) & 0xff).toLong; i += 1 }
        var total = 0L
        var c = 0
        while (c < 60) { total += cells(c); c += 1 }
        var h = 0L
        c = 0
        while (c < 60) { if (cells(c) * 60L > total) h |= 1L << c; c += 1 }
        PHashRow(id, h)
      }
    }
  }

  /** Media near-dup pairs within `maxHamming` of each other's perceptual
    * hash — the image-dedup pass. Pair generation is the same EXACT
    * pigeonhole chunk join as `DedupOps.simhashPairs` (hamming ≤ h ⇒ at
    * least one of h+1 chunks identical; hash join on (chunk, value),
    * popcount verify) — recall 1.0, no pair scan, 8 bytes per asset
    * through the join. Output: (d1, d2, hamming), d1 < d2.
    */
  def phashPairs(hashes: DataFrame, maxHamming: Int = 5): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 60, s"maxHamming in [0, 60): $maxHamming")
    val chunks = maxHamming + 1
    val bitsPer = 60 / chunks
    val mask = (1L << bitsPer) - 1
    val banded = hashes.select(col("doc_id"), col("phash"),
        explode(expr(s"sequence(0, ${chunks - 1})")).as("c"))
      .withColumn("v", expr(s"shiftright(phash, cast(c * $bitsPer as int)) & $mask"))
    banded.as("a").join(banded.as("b"),
        col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.phash").as("p1"), col("b.phash").as("p2"))
      .distinct()
      .withColumn("hamming", expr("cast(bit_count(p1 ^ p2) as int)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
      .orderBy(col("d1"), col("d2"))
  }

  // Fixture: the binary corpus plus a near-variant of every 10th payload
  // (3 bytes appended → few grid cells move → hamming-near hash), so the
  // bucket join provably recovers planted near-dups. ASCII assumption as
  // qm_frame_sample documents.
  private def phashAssets(s: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    base.unionByName(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" v2")).as("text")))
      .select(col("doc_id"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
  }

  private val qPhash = GraftQuery(
    "qm_phash_neardup",
    (s, dir) => phashPairs(perceptualHashes(phashAssets(s, dir)).toDF()),
    Some("""WITH t0 AS (SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 1000000, text || ' v2' FROM documents WHERE doc_id % 10 = 0),
    cells AS (SELECT doc_id, list_transform(generate_series(0, 59), i ->
      coalesce(list_sum(list_transform(
        list_filter(generate_series(1, length(text)), p -> (p - 1) % 60 = i),
        p -> ascii(text[p]))), 0)) AS cs FROM t0),
    tot AS (SELECT doc_id, cs, list_sum(cs) AS total FROM cells),
    ph AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(1, 60),
      i -> CASE WHEN cs[i] * 60 > total THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)) AS BIGINT) AS phash
      FROM tot),
    bd AS (SELECT doc_id, phash, unnest(generate_series(0, 5)) AS c FROM ph),
    b2 AS (SELECT doc_id, phash, c, (phash >> CAST(c * 10 AS INT)) & 1023 AS v FROM bd),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.phash AS p1, b.phash AS p2
      FROM b2 a JOIN b2 b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
    SELECT d1, d2, CAST(bit_count(xor(p1, p2)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(p1, p2)) <= 5 ORDER BY d1, d2"""))

  /** Per-frame signature for temporal analysis: the frame's byte-class
    * histogram (the [[extractFeatures]] stub at frame granularity, exact
    * integer counts — a real build swaps a luminance histogram or
    * embedding behind the same partition-local contract).
    */
  final case class MediaFrameHist(doc_id: Long, frame_idx: Int, flen: Int,
      hist: Seq[Long])

  def frameHistograms(assets: Dataset[(Long, Array[Byte])],
      stride: Int): Dataset[MediaFrameHist] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        (0 until (bytes.length + stride - 1) / stride).map { i =>
          val from = i * stride
          val to = math.min(bytes.length, from + stride)
          val counts = new Array[Long](8)
          var p = from
          while (p < to) { counts((bytes(p) & 0xff) >>> 5) += 1; p += 1 }
          MediaFrameHist(id, i, to - from, counts.toSeq)
        }
      }
    }
  }

  /** Scene-cut detection — the shot-boundary pass every video pipeline
    * runs before sampling "one frame per scene": a cut between
    * consecutive frames when more than half their byte mass changes
    * class, i.e. 2·L1(hist, prev_hist) > flen + prev_flen — exact
    * integers, no thresholds to tune per corpus size. The histogram-
    * delta rule is the classic Zhang/Kankanhalli/Smoliar shot-boundary
    * detector; the stub histogram stands in for luminance exactly as in
    * [[extractFeatures]].
    *
    * Plan: the frame stream (mapPartitions 1-in/N-out) → one per-asset
    * ordered LAG window (uniform doc key; frames-per-asset bounds window
    * memory) → one doc-key agg. Linear in total frames at any scale.
    * Output: (doc_id, n_frames, n_cuts, first_cut) ordered by doc_id.
    */
  def sceneCuts(frames: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("phist", lag(col("hist"), 1).over(w))
      .withColumn("pflen", lag(col("flen"), 1).over(w))
      .withColumn("l1", expr(
        "aggregate(zip_with(hist, phist, (x, y) -> abs(x - y)), 0L, (a, b) -> a + b)"))
      .withColumn("cut", col("phist").isNotNull &&
        col("l1") * 2 > col("flen") + col("pflen"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("cut"), 1L).otherwise(0L)).as("n_cuts"),
        min(when(col("cut"), col("frame_idx"))).as("first_cut"))
      .orderBy(col("doc_id"))
  }

  private val SceneStride = 64

  private val qSceneCuts = GraftQuery(
    "qm_scene_cuts",
    (s, dir) => sceneCuts(
      frameHistograms(binaryAssets(s, dir), SceneStride).toDF()),
    // ASCII assumption as qm_frame_sample documents.
    Some(s"""WITH f AS (SELECT doc_id, octet_length(encode(text)) AS len, text FROM documents),
    idx AS (SELECT doc_id, text,
      unnest(generate_series(0, CAST(ceil(len / $SceneStride.0) AS INTEGER) - 1)) AS frame_idx
      FROM f),
    sl AS (SELECT doc_id, frame_idx,
      substr(text, frame_idx * $SceneStride + 1, $SceneStride) AS sl FROM idx),
    h AS (SELECT doc_id, frame_idx, octet_length(encode(sl)) AS flen,
      list_transform(generate_series(0, 7), k ->
        CAST(len(list_filter(generate_series(1, length(sl)),
          p -> ascii(substr(sl, p, 1)) // 32 = k)) AS BIGINT)) AS cs
      FROM sl),
    d AS (SELECT doc_id, frame_idx, flen, cs,
        LAG(cs) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS pcs,
        LAG(flen) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS pflen
      FROM h),
    c AS (SELECT doc_id, frame_idx, flen, pflen,
        CASE WHEN pcs IS NULL THEN NULL
          ELSE list_sum(list_transform(generate_series(1, 8),
            i -> abs(cs[i] - pcs[i]))) END AS l1
      FROM d)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
      CAST(SUM(CASE WHEN l1 * 2 > flen + pflen THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
      CAST(MIN(CASE WHEN l1 * 2 > flen + pflen THEN frame_idx END) AS INTEGER) AS first_cut
    FROM c GROUP BY doc_id ORDER BY doc_id"""))

  /** Silence/static-segment detection — the VAD (voice-activity) /
    * dead-air analogue on the frame stub: a frame is "silent" when one
    * byte class carries ≥ 90 % of its mass (10·max(hist) ≥ 9·flen,
    * exact integers — a real build thresholds RMS energy behind the
    * same contract), and runs of consecutive silent frames collapse via
    * the gaps-and-islands identity. The trim-the-dead-air pass every
    * audio/video ingestion pipeline runs before paying for transcription.
    *
    * Plan: frame stream → map-only silent flag → per-asset rank window
    * on the silent subset → island agg → per-asset rollup. Linear in
    * frames; windows keyed by the uniform asset id.
    * Output: (doc_id, n_frames, n_silent, n_runs, longest_run).
    */
  def silenceRuns(frames: DataFrame): DataFrame = {
    val silent = frames
      .withColumn("mx", expr("array_max(hist)"))
      .filter(col("mx") * 10 >= col("flen") * 9)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val runs = silent
      .withColumn("grp", col("frame_idx") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("doc_id"))
      .agg(sum(col("len")).as("n_silent"), count(lit(1)).as("n_runs"),
        max(col("len")).as("longest_run"))
    frames.groupBy(col("doc_id")).agg(count(lit(1)).as("n_frames"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"),
        coalesce(col("n_silent"), lit(0L)).as("n_silent"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"))
      .orderBy(col("doc_id"))
  }

  private val qSilence = GraftQuery(
    "qm_silence_runs",
    (s, dir) => silenceRuns(
      frameHistograms(binaryAssets(s, dir), SceneStride).toDF()),
    Some(s"""WITH f AS (SELECT doc_id, octet_length(encode(text)) AS len, text FROM documents),
    idx AS (SELECT doc_id, text,
      unnest(generate_series(0, CAST(ceil(len / $SceneStride.0) AS INTEGER) - 1)) AS frame_idx
      FROM f),
    sl AS (SELECT doc_id, frame_idx,
      substr(text, frame_idx * $SceneStride + 1, $SceneStride) AS sl FROM idx),
    h AS (SELECT doc_id, frame_idx, octet_length(encode(sl)) AS flen,
      list_transform(generate_series(0, 7), k ->
        CAST(len(list_filter(generate_series(1, length(sl)),
          p -> ascii(substr(sl, p, 1)) // 32 = k)) AS BIGINT)) AS cs
      FROM sl),
    sil AS (SELECT doc_id, frame_idx FROM h WHERE list_max(cs) * 10 >= flen * 9),
    isl AS (SELECT doc_id, frame_idx,
        frame_idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY frame_idx) AS grp
      FROM sil),
    runs AS (SELECT doc_id, grp, COUNT(*) AS len FROM isl GROUP BY doc_id, grp),
    agg AS (SELECT doc_id, SUM(len) AS n_silent, COUNT(*) AS n_runs,
        MAX(len) AS longest_run FROM runs GROUP BY doc_id),
    tot AS (SELECT doc_id, COUNT(*) AS n_frames FROM h GROUP BY doc_id)
    SELECT t.doc_id, CAST(t.n_frames AS BIGINT) AS n_frames,
      CAST(COALESCE(a.n_silent, 0) AS BIGINT) AS n_silent,
      CAST(COALESCE(a.n_runs, 0) AS BIGINT) AS n_runs,
      CAST(COALESCE(a.longest_run, 0) AS BIGINT) AS longest_run
    FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
    ORDER BY t.doc_id"""))

  /** VIDEO-level near-duplicate detection by temporally-ALIGNED frame
    * signatures — the re-upload/re-mux detector ([[phashPairs]] is the
    * single-image pass; this is its sequence-level sibling): two assets
    * are near-dups when ≥ half of the shorter one's frames carry the SAME
    * checksum at the SAME frame index. Pair generation is an equi-join on
    * (frame_idx, checksum) — frame signatures are effectively unique, so
    * candidates ≈ genuinely shared frames, never an asset-pair scan — with
    * an [[DedupOps.ngramJaccard]]-style df-cap dropping degenerate hot
    * frames (black frames, silence padding) before the join; the cap is
    * mirrored in the oracle. Match counting and the ≥½ rule are one
    * aggregation + two count joins.
    *
    * A real build swaps the byte-slice checksum for a per-frame
    * perceptual hash behind the same [[sampleFrames]] decoder contract —
    * the join geometry (aligned index + signature equality) is the
    * pipeline part, and is what's oracled.
    * Output: (d1, d2, n_match, nf1, nf2), d1 < d2, ordered.
    */
  def videoNearDup(assets: Dataset[(Long, Array[Byte])], stride: Int = 64,
      dfCap: Int = 64): DataFrame = {
    require(stride >= 1 && dfCap >= 1, s"stride/dfCap must be >= 1")
    // r16: same narrow-frame checkpoint as [[audioFingerprint]] — frames
    // feeds a doc-keyed count AND the (frame_idx, checksum)-keyed df-cap
    // + semi-join, so the per-frame digest pass ran twice per query.
    val frames = sampleFrames(assets, stride).toDF()
      .select(col("doc_id"), col("frame_idx"), col("frame_checksum"))
      .localCheckpoint()
    val nf = frames.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val keep = frames.groupBy(col("frame_idx"), col("frame_checksum"))
      .agg(count(lit(1)).as("dfk")).filter(col("dfk") <= dfCap)
      .select(col("frame_idx"), col("frame_checksum"))
    val occ = frames.join(keep, Seq("frame_idx", "frame_checksum"), "left_semi")
    occ.select(col("frame_idx"), col("frame_checksum"), col("doc_id").as("d1"))
      .join(occ.select(col("frame_idx"), col("frame_checksum"),
        col("doc_id").as("d2")), Seq("frame_idx", "frame_checksum"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_match"))
      .join(nf.select(col("doc_id").as("d1"), col("nf").as("nf1")), Seq("d1"))
      .join(nf.select(col("doc_id").as("d2"), col("nf").as("nf2")), Seq("d2"))
      .filter(col("n_match") * 2 >= least(col("nf1"), col("nf2")))
      .select(col("d1"), col("d2"), col("n_match"), col("nf1"), col("nf2"))
      .orderBy(col("d1"), col("d2"))
  }

  // Same planted-variant fixture as qm_phash_neardup: every 10th payload
  // gets a 3-byte-appended twin, so only its final frame (and possibly one
  // extra frame) differs — the aligned-match rule must recover the pairs.
  private val qVideoNearDup = GraftQuery(
    "qm_video_neardup",
    (s, dir) => videoNearDup(phashAssets(s, dir), stride = 64),
    Some("""WITH t0 AS (SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 1000000, text || ' v2' FROM documents WHERE doc_id % 10 = 0),
    f0 AS (SELECT doc_id, octet_length(encode(text)) AS len, text FROM t0),
    idx AS (SELECT doc_id, len, text,
      unnest(generate_series(0, CAST(ceil(len / 64.0) AS INTEGER) - 1)) AS fi
      FROM f0),
    fr AS (SELECT doc_id, fi, md5(substr(text, fi * 64 + 1, 64)) AS cs FROM idx),
    nf AS (SELECT doc_id, COUNT(*) AS nf FROM fr GROUP BY doc_id),
    dfk AS (SELECT fi, cs FROM fr GROUP BY fi, cs HAVING COUNT(*) <= 64),
    occ AS (SELECT fr.doc_id, fr.fi, fr.cs FROM fr JOIN dfk USING (fi, cs)),
    p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_match
      FROM occ a JOIN occ b ON a.fi = b.fi AND a.cs = b.cs
        AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.d1, p.d2, CAST(p.n_match AS BIGINT) AS n_match,
      CAST(na.nf AS BIGINT) AS nf1, CAST(nb.nf AS BIGINT) AS nf2
    FROM p JOIN nf na ON p.d1 = na.doc_id JOIN nf nb ON p.d2 = nb.doc_id
    WHERE 2 * p.n_match >= LEAST(na.nf, nb.nf)
    ORDER BY d1, d2"""))

  // ------------------------------------------- audio fingerprint matching
  /** Constellation fingerprint matching (Wang 2003, the Shazam scheme) —
    * the OFFSET-INVARIANT duplicate detector [[videoNearDup]] is not:
    * that operator joins frames at IDENTICAL frame_idx, so a copy with
    * leading content inserted (an ad before the clip, silence trimmed
    * differently) matches zero frames. Here each asset emits landmark
    * fingerprints — (frame hash at anchor i, frame hash at i+g, gap g)
    * for g ≤ `fanout` — and candidate pairs VOTE on the anchor
    * difference Δ = i_a − i_b through an inverted-index join on the
    * fingerprint; a true shifted copy concentrates its votes on one Δ
    * (the shift), while coincidental hash collisions scatter. The
    * per-pair winning Δ with ≥ `minVotes` votes is a match.
    *
    * Scale shape: landmarks are a frame-keyed 1:g self-join per doc
    * (fan-out ≤ fanout, never quadratic); the inverted index is an
    * equi-join on the fingerprint key with the standard df-cap (a
    * fingerprint occurring in more than `dfCap` frames is too common to
    * be discriminative AND is the quadratic bucket — dropped, mirrored
    * in-oracle); delta voting is one (pair, Δ) aggregate; the winning Δ
    * is a max-struct aggregate per pair ((votes, −Δ) — largest vote
    * count, smallest Δ on ties), not a window. Assets with < g+1 frames
    * emit no landmarks — the honest minimum-signal bound of the scheme.
    *
    * The frame hash stands in for the spectrogram-peak pair a real audio
    * build derives behind [[MediaDecoder]]; the constellation/voting
    * layer above it — the Spark-side algorithm — is real and
    * oracle-checked.
    *
    * Output: (d1, d2, delta, votes, n_lm1, n_lm2) for matched pairs,
    * d1 < d2, ordered by (d1, d2); delta = d1's anchor minus d2's.
    */
  def audioFingerprint(assets: Dataset[(Long, Array[Byte])], stride: Int = 32,
      fanout: Int = 2, dfCap: Int = 64, minVotes: Int = 3): DataFrame = {
    require(stride >= 1 && fanout >= 1 && dfCap >= 1 && minVotes >= 1,
      s"stride/fanout/dfCap/minVotes must be >= 1")
    // r16 (guide §2.3): fr is consumed by BOTH sides of the landmark
    // self-join, and lm above it by three differently-keyed consumers —
    // exchange reuse covers at most the identically-keyed pair, so the
    // per-frame digest (sampleFrames' md5 over every frame of every
    // asset) re-ran up to 4× per query. Checkpointing the NARROW frame
    // table (doc_id, i, 32-char cs — r15 measured that checkpointing
    // the WIDE lm/occ frames regresses; width of materialization is the
    // trade) pins the digest pass to exactly one execution.
    val fr = sampleFrames(assets, stride).toDF()
      .select(col("doc_id"), col("frame_idx").as("i"),
        col("frame_checksum").as("cs"))
      .localCheckpoint()
    val lm = fr
      .select(col("doc_id"), col("i"), col("cs"),
        explode(array((1 to fanout).map(lit): _*)).as("g"))
      .withColumn("j", col("i") + col("g"))
      .join(fr.select(col("doc_id"), col("i").as("j"), col("cs").as("cs2")),
        Seq("doc_id", "j"))
      .select(col("doc_id"), col("i"),
        concat(col("cs"), lit(":"), col("cs2"), lit(":"), col("g")).as("fp"))
    val nl = lm.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lm"))
    val keep = lm.groupBy(col("fp")).agg(count(lit(1)).as("fdf"))
      .filter(col("fdf") <= dfCap).select(col("fp"))
    val occ = lm.join(keep, Seq("fp"), "left_semi")
    occ.select(col("fp"), col("doc_id").as("d1"), col("i").as("i1"))
      .join(occ.select(col("fp"), col("doc_id").as("d2"), col("i").as("i2")),
        Seq("fp"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"), (col("i1") - col("i2")).as("delta"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("d1"), col("d2"))
      .agg(max(struct(col("votes"), (-col("delta")).as("nd"))).as("best"))
      .select(col("d1"), col("d2"), (-col("best.nd")).as("delta"),
        col("best.votes").as("votes"))
      .filter(col("votes") >= minVotes)
      .join(nl.select(col("doc_id").as("d1"), col("n_lm").as("n_lm1")), "d1")
      .join(nl.select(col("doc_id").as("d2"), col("n_lm").as("n_lm2")), "d2")
      .select(col("d1"), col("d2"), col("delta"), col("votes"),
        col("n_lm1"), col("n_lm2"))
      .orderBy(col("d1"), col("d2"))
  }

  // Planted SHIFTED twins: every 13th payload gets a copy with a 64-byte
  // prefix prepended — exactly 2 frame slots at stride 32, so every
  // original landmark reappears at Δ = −2. The aligned-frame video rule
  // matches NONE of these pairs; the constellation vote recovers them.
  private def fpAssets(s: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    base.unionByName(base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(lit("x" * 64), col("text")).as("text")))
      .select(col("doc_id"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
  }

  private val qAudioFp = GraftQuery(
    "qm_audio_fingerprint",
    (s, dir) => audioFingerprint(fpAssets(s, dir)),
    Some("""WITH t0 AS (SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 2000000, repeat('x', 64) || text
        FROM documents WHERE doc_id % 13 = 0),
    f0 AS (SELECT doc_id, octet_length(encode(text)) AS len, text FROM t0),
    idx AS (SELECT doc_id, len, text,
      unnest(generate_series(0, CAST(ceil(len / 32.0) AS INTEGER) - 1)) AS fi
      FROM f0),
    fr AS (SELECT doc_id, fi, md5(substr(text, fi * 32 + 1, 32)) AS cs FROM idx),
    lm AS (SELECT a.doc_id, a.fi AS i,
        a.cs || ':' || b.cs || ':' || g.g AS fp
      FROM fr a JOIN (SELECT unnest([1, 2]) AS g) g ON TRUE
      JOIN fr b ON b.doc_id = a.doc_id AND b.fi = a.fi + g.g),
    nl AS (SELECT doc_id, COUNT(*) AS n_lm FROM lm GROUP BY doc_id),
    keep AS (SELECT fp FROM lm GROUP BY fp HAVING COUNT(*) <= 64),
    occ AS (SELECT lm.doc_id, lm.i, lm.fp FROM lm JOIN keep USING (fp)),
    v AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.i - b.i AS delta,
        COUNT(*) AS votes
      FROM occ a JOIN occ b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3),
    best AS (SELECT d1, d2, delta, votes,
        ROW_NUMBER() OVER (PARTITION BY d1, d2
          ORDER BY votes DESC, delta ASC) AS rk FROM v)
    SELECT best.d1, best.d2, CAST(best.delta AS BIGINT) AS delta,
      CAST(best.votes AS BIGINT) AS votes,
      CAST(na.n_lm AS BIGINT) AS n_lm1, CAST(nb.n_lm AS BIGINT) AS n_lm2
    FROM best JOIN nl na ON best.d1 = na.doc_id
      JOIN nl nb ON best.d2 = nb.doc_id
    WHERE best.rk = 1 AND best.votes >= 3
    ORDER BY d1, d2"""))

  val queries: Seq[GraftQuery] =
    Seq(qBinaryMeta, qFrames, qFeatures, qPhash, qSceneCuts, qSilence,
      qVideoNearDup, qAudioFp)
}
