package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.queries.{q, GQuery}

/** Multimodal column handling (SURVEY.md north-star): media as opaque
  * `binary` columns with typed metadata, decoded/feature-extracted through a
  * batched per-partition decoder.
  *
  * The container has no image/audio codecs, so [[FakeDecoder]] is a
  * deterministic stand-in — but everything Spark-side is real and tested:
  * the media schema (binary + struct metadata), the per-partition batched
  * decode (`mapPartitions`, the Scala analogue of `mapInPandas`: one decoder
  * instance per partition, streaming batches, never a per-row UDF), frame
  * sampling via `explode`, and fixed-width feature extraction. Swapping
  * [[FakeDecoder]] for a JNI/codec-backed [[MediaDecoder]] changes no
  * plumbing.
  *
  * Oracle strategy: the fake media table derives its binary content from
  * `documents.text` (UTF-8 bytes), so DuckDB reproduces every decoded value
  * from the text side while Spark genuinely computes from the binary column.
  */
object Multimodal {

  /** Decoded media metadata. */
  final case class MediaMeta(
      doc_id: Long, kind: String, n_bytes: Long,
      width: Int, height: Int, sample_rate: Int, duration_ms: Long)

  /** The decode contract: batched, one instance per partition. A real
    * implementation would wrap an image/audio codec here.
    */
  trait MediaDecoder extends Serializable {
    def decode(docId: Long, kind: String, content: Array[Byte]): MediaMeta
  }

  /** Deterministic fake: metadata derived purely from byte length — the
    * codec stub (`???` equivalent) with a reproducible contract so the
    * pipeline stays oracle-checkable.
    */
  object FakeDecoder extends MediaDecoder {
    def decode(docId: Long, kind: String, content: Array[Byte]): MediaMeta = {
      val n = content.length.toLong
      kind match {
        case "image" =>
          MediaMeta(docId, kind, n, (n % 1920).toInt + 1, (n % 1080).toInt + 1, 0, 0L)
        case "audio" =>
          MediaMeta(docId, kind, n, 0, 0, if (n % 2 == 0) 44100 else 16000, n * 10)
        case _ => // video
          MediaMeta(docId, kind, n, (n % 1280).toInt + 1, (n % 720).toInt + 1, 0, n * 10)
      }
    }
  }

  /** The media table: binary content (UTF-8 text bytes as the stand-in
    * payload) + kind assigned round-robin. At scale this is the raw bytes
    * column of an ingested dataset, partitioned like its source.
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    graft.Tables.t(s, dir, "documents")
      .select(col("doc_id"),
        expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END")
          .as("kind"),
        col("text").cast("binary").as("content"))

  private val kindCase =
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"

  /** Decode through the batched decoder: mapPartitions over (id, kind, bytes)
    * — the real plumbing a codec would plug into.
    */
  def decodeMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { batch =>
        val dec = FakeDecoder // one decoder instance per partition
        batch.map { case (id, kind, bytes) => dec.decode(id, kind, bytes) }
      }.toDF()
  }

  /** Decoded metadata, oracle-checked against the text-side derivation. */
  private val meta = q("mm_decode_meta",
    s"""SELECT doc_id, $kindCase AS kind,
       |  octet_length(encode(text)) AS n_bytes,
       |  CASE WHEN $kindCase = 'image' THEN (octet_length(encode(text)) % 1920)::INT + 1
       |       WHEN $kindCase = 'video' THEN (octet_length(encode(text)) % 1280)::INT + 1
       |       ELSE 0 END AS width,
       |  CASE WHEN $kindCase = 'image' THEN (octet_length(encode(text)) % 1080)::INT + 1
       |       WHEN $kindCase = 'video' THEN (octet_length(encode(text)) % 720)::INT + 1
       |       ELSE 0 END AS height,
       |  CASE WHEN $kindCase = 'audio'
       |       THEN CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 44100 ELSE 16000 END
       |       ELSE 0 END AS sample_rate,
       |  CASE WHEN $kindCase IN ('audio', 'video')
       |       THEN octet_length(encode(text)) * 10 ELSE 0 END AS duration_ms
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    decodeMeta(mediaTable(s, dir)).orderBy("doc_id")
  }

  /** Resize plan for one visual media row: aspect-preserving fit into the
    * 224×224 model input box, never upscaling.
    */
  final case class Resized(doc_id: Long, kind: String, width: Int, height: Int,
      scale: Double, out_w: Long, out_h: Long)

  /** Resize planning through the same batched per-partition shape as decode —
    * the pixel work would live here in a codec-backed implementation; the
    * geometry (what the oracle checks) is deterministic arithmetic.
    */
  def resizePlan(meta: DataFrame, box: Double = 224.0): DataFrame = {
    val spark = meta.sparkSession
    import spark.implicits._
    meta.filter(col("kind").isin("image", "video"))
      .select(col("doc_id"), col("kind"), col("width"), col("height"))
      .as[(Long, String, Int, Int)]
      .mapPartitions { batch =>
        batch.map { case (id, kind, w, h) =>
          val scale = math.min(1.0, math.min(box / w, box / h))
          Resized(id, kind, w, h, scale,
            math.max(1L, math.floor(w * scale).toLong),
            math.max(1L, math.floor(h * scale).toLong))
        }
      }.toDF()
  }

  /** Aspect-preserving resize geometry, oracle-checked. */
  private val resize = {
    val widthCase =
      s"""CASE WHEN $kindCase = 'image' THEN (octet_length(encode(text)) % 1920)::INT + 1
         |     ELSE (octet_length(encode(text)) % 1280)::INT + 1 END""".stripMargin
    val heightCase =
      s"""CASE WHEN $kindCase = 'image' THEN (octet_length(encode(text)) % 1080)::INT + 1
         |     ELSE (octet_length(encode(text)) % 720)::INT + 1 END""".stripMargin
    q("mm_resize",
      s"""WITH m AS (
         |  SELECT doc_id, $kindCase AS kind,
         |    $widthCase AS width,
         |    $heightCase AS height
         |  FROM documents WHERE $kindCase IN ('image', 'video')),
         |s AS (
         |  SELECT *, least(1.0, least(224.0 / width, 224.0 / height)) AS scale
         |  FROM m)
         |SELECT doc_id, kind, width, height, scale,
         |  greatest(1, floor(width * scale))::BIGINT AS out_w,
         |  greatest(1, floor(height * scale))::BIGINT AS out_h
         |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
      resizePlan(decodeMeta(mediaTable(s, dir))).orderBy("doc_id")
    }
  }

  /** Frame sampling: one row per sampled frame (every 2s of fake video) —
    * the explode/Generator shape of media expansion.
    */
  private val frames = q("mm_frame_sample",
    s"""WITH v AS (
       |  SELECT doc_id, octet_length(encode(text)) * 10 AS duration_ms
       |  FROM documents WHERE $kindCase = 'video')
       |SELECT doc_id, f AS frame_idx, f * 2000 AS ts_ms
       |FROM v, unnest(generate_series(0, duration_ms // 2000)) t(f)
       |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
    decodeMeta(mediaTable(s, dir))
      .filter(col("kind") === "video")
      .select(col("doc_id"),
        explode(sequence(lit(0L), floor(col("duration_ms") / 2000).cast("long")))
          .as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"), (col("frame_idx") * 2000).as("ts_ms"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Feature extraction: binary content → fixed-width deterministic feature
    * vector (8 dims, flat columns). The stub derives features from md5 of the
    * bytes; a real extractor would emit an embedding — same shape, same
    * partitioning.
    */
  private val features = {
    val dims = 0 until 8
    val sqlCols = dims.map(i =>
      s"(${sqlHash64(s"'$i|' || md5(text)")} % 1000) / 1000.0 AS f$i").mkString(",\n  ")
    q("mm_feature_extract",
      s"""SELECT doc_id,
         |  $sqlCols
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // md5 over the BINARY column — identical to DuckDB's md5(text) because
      // the stand-in payload is the UTF-8 encoding of text
      val base = mediaTable(s, dir).select(col("doc_id"), md5(col("content")).as("h"))
      val featCols = dims.map(i =>
        (hash64(concat(lit(s"$i|"), col("h"))) % 1000 / lit(1000.0)).as(s"f$i"))
      base.select(col("doc_id") +: featCols: _*).orderBy("doc_id")
    }
  }

  /** Perceptual-hash near-duplicate detection for media — the image-side
    * twin of text exact-dedup: a 60-bit average-hash per payload (sample 60
    * evenly-spaced code units, threshold each against the integer mean —
    * the aHash shape; a codec-backed decoder would feed downsampled pixels
    * into the same thresholding), then a (kind, phash) census marks
    * duplicate groups.
    *
    * Scale shape: the hash is computed in the batched per-partition decoder
    * (one pass over the bytes, map-only), and the dup census is one hash
    * aggregate keyed by (kind, phash) + a key-join back — exactly the
    * exact-dedup plan, over a perceptual key instead of a content digest.
    * All arithmetic is integer (byte values, truncating mean), so the
    * oracle replays it from the text side bit-for-bit.
    */
  def phash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(length(col("content")) > 0)
      .select(col("doc_id"), col("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { batch =>
        val cells = 60
        batch.map { case (id, kind, bytes) =>
          val n = bytes.length
          val s = Array.tabulate(cells)(i =>
            (bytes((i.toLong * n / cells).toInt) & 0xff).toLong)
          val mean = s.sum / cells
          var h = 0L
          var i = 0
          while (i < cells) { if (s(i) > mean) h |= (1L << i); i += 1 }
          (id, kind, h)
        }
      }.toDF("doc_id", "kind", "phash")
  }

  /** Oracle CTE chain ending in `ph (doc_id, kind, phash)` — the text-side
    * replay of [[phash]], shared by `mm_phash_dedup` and `mm_phash_near`
    * so the two oracles cannot drift. */
  private val phashCtes: String =
    s"""m AS (
       |  SELECT doc_id, $kindCase AS kind, text
       |  FROM documents WHERE len(text) > 0),
       |sm AS (
       |  SELECT doc_id, kind,
       |    list_transform(generate_series(0, 59), i ->
       |      ascii(substr(text, CAST((i * len(text)) // 60 AS BIGINT) + 1, 1))::BIGINT) AS s
       |  FROM m),
       |ph AS (
       |  SELECT doc_id, kind,
       |    CAST(list_sum(list_transform(generate_series(1, 60), i ->
       |      CASE WHEN s[i] > list_sum(s) // 60
       |           THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)) AS BIGINT) AS phash
       |  FROM sm)""".stripMargin

  private val phashDedup = q("mm_phash_dedup",
    s"""WITH $phashCtes,
       |g AS (SELECT kind, phash, count(*)::BIGINT AS n_same
       |      FROM ph GROUP BY kind, phash)
       |SELECT p.doc_id, p.kind, p.phash, g.n_same, g.n_same > 1 AS is_dup
       |FROM ph p JOIN g USING (kind, phash)
       |ORDER BY p.doc_id""".stripMargin) { (s, dir) =>
    val ph = phash(mediaTable(s, dir))
    val g = ph.groupBy("kind", "phash").agg(count(lit(1)).as("n_same"))
    ph.join(g, Seq("kind", "phash"))
      .select(col("doc_id"), col("kind"), col("phash"), col("n_same"),
        (col("n_same") > 1).as("is_dup"))
      .orderBy("doc_id")
  }

  /** Per-(kind, chunk, key) population above which a phash LSH bucket is
    * dropped — same rationale and value as the SimHash cap: an over-full
    * bucket (a chunk pattern shared by a corpus FRACTION) carries no
    * near-dup signal and would make the candidate join quadratic. */
  private val PhashBucketCap = 64

  /** Hamming-distance perceptual near-dup — exact-phash dedup only catches
    * bit-identical hashes, but a re-encoded / slightly-cropped image moves
    * a few aHash bits. Candidates come from 4 banded 15-bit chunks of the
    * 60-bit hash within each media kind (pigeonhole: hamming ≤ 3 implies
    * at least one identical chunk; larger distances are caught when the
    * flips cluster), scored by exact Hamming distance, reported as the 20
    * closest pairs with the `near` verdict (≤ 6 bits apart).
    *
    * Scale shape: identical to the SimHash text path — signature is
    * map-side (the batched decoder emits it), the FIRST exchange is the
    * (kind, chunk, key) band join, over-full buckets are dropped
    * identically in both engines, and the output is LIMIT-bounded.
    */
  private val phashNear = q("mm_phash_near",
    s"""WITH $phashCtes,
       |chunks AS (
       |  SELECT doc_id, kind, phash, c, (phash >> (15 * c)) & 32767 AS ck
       |  FROM ph, generate_series(0, 3) t(c)),
       |small AS (
       |  SELECT kind, c, ck FROM chunks
       |  GROUP BY kind, c, ck HAVING count(*) <= $PhashBucketCap),
       |kept AS (SELECT ch.* FROM chunks ch JOIN small USING (kind, c, ck)),
       |cand AS (
       |  SELECT DISTINCT a.kind, a.doc_id AS doc_a, a.phash AS ha,
       |    b.doc_id AS doc_b, b.phash AS hb
       |  FROM kept a JOIN kept b
       |    ON a.kind = b.kind AND a.c = b.c AND a.ck = b.ck
       |    AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, kind, bit_count(xor(ha, hb))::BIGINT AS hamming,
       |  bit_count(xor(ha, hb)) <= 6 AS near
       |FROM cand ORDER BY hamming, doc_a, doc_b LIMIT 20""".stripMargin) {
    (s, dir) =>
    val chunks = phash(mediaTable(s, dir))
      .withColumn("c", explode(sequence(lit(0), lit(3))))
      .withColumn("ck", expr("(phash >> (15 * c)) & 32767"))
    val small = chunks.groupBy("kind", "c", "ck").agg(count(lit(1)).as("n"))
      .filter(col("n") <= PhashBucketCap).select("kind", "c", "ck")
    val kept = chunks.join(small, Seq("kind", "c", "ck"))
    val a = kept.select(col("kind"), col("doc_id").as("doc_a"),
      col("phash").as("ha"), col("c"), col("ck"))
    val b = kept.select(col("kind"), col("doc_id").as("doc_b"),
      col("phash").as("hb"), col("c"), col("ck"))
    a.join(b, Seq("kind", "c", "ck")).filter(col("doc_a") < col("doc_b"))
      .select("kind", "doc_a", "ha", "doc_b", "hb").distinct()
      .select(col("doc_a"), col("doc_b"), col("kind"),
        bit_count(expr("ha ^ hb")).cast("long").as("hamming"),
        (bit_count(expr("ha ^ hb")) <= 6).as("near"))
      .orderBy("hamming", "doc_a", "doc_b").limit(20)
  }

  /** Banded phash rows `(doc_id, kind, phash, c, ck)` — what the persisted
    * media near-dup index stores; identical to [[phashNear]]'s candidate
    * key. */
  def phashChunks(media: DataFrame): DataFrame =
    phash(media)
      .withColumn("c", explode(sequence(lit(0), lit(3))))
      .withColumn("ck", expr("(phash >> (15 * c)) & 32767"))

  /** Maintain the persisted phash band index incrementally: replace the
    * rows of every doc in `media`, keep everyone else's — the media twin
    * of [[Dedup.upsertSignatures]], on the same crash-recoverable
    * keyed replace. Hashing is per media VERSION (CDC-proportional); the
    * corpus is never re-decoded.
    */
  def upsertPhash(media: DataFrame, path: String): Unit =
    graft.state.StateStore.replaceKeys(phashChunks(media), media, "doc_id", path)

  /** Candidate near-dup pairs TOUCHING a changed media batch via the
    * persisted index: batch chunks probe on (kind, chunk, key) — a
    * bucket-keyed join sized |batch|×4, never corpus×corpus — with the
    * exact Hamming distance and the ≤ 6 `near` verdict attached. All
    * banded candidates are returned (the band join already bounds them);
    * the caller applies its review threshold downstream, exactly like
    * the text-side incremental candidates feed a separate verify. Call
    * after [[upsertPhash]] so batch-internal pairs surface too.
    */
  def incrementalPhashPairs(changed: DataFrame, path: String): DataFrame = {
    val spark = changed.sparkSession
    val probe = phashChunks(changed)
    val index = graft.state.StateStore.loadTable(spark, path, probe.schema)
    probe.select(col("doc_id").as("doc_q"), col("kind"), col("c"),
        col("ck"), col("phash").as("pq"))
      .join(index.select(col("doc_id").as("doc_i"), col("kind"), col("c"),
        col("ck"), col("phash").as("pi")), Seq("kind", "c", "ck"))
      .filter(col("doc_q") =!= col("doc_i"))
      .select(least(col("doc_q"), col("doc_i")).as("doc_a"),
        greatest(col("doc_q"), col("doc_i")).as("doc_b"), col("kind"),
        bit_count(expr("pq ^ pi")).cast("long").as("hamming"))
      .distinct()
      .withColumn("near", col("hamming") <= 6)
  }

  /** The media-CDC cycle as an oracle-checked query: index the 90%
    * "existing library", upsert the 10% "late batch", probe for near-dup
    * pairs touching the batch — after the upsert the persisted index
    * equals the full chunk set, so DuckDB replays the probe as
    * late-chunks ⋈ all-chunks, filesystem state included.
    */
  private val phashIncremental = q("mm_phash_incremental",
    s"""WITH $phashCtes,
       |chunks AS (
       |  SELECT doc_id, kind, phash, c, (phash >> (15 * c)) & 32767 AS ck
       |  FROM ph, generate_series(0, 3) t(c)),
       |late AS (SELECT * FROM chunks WHERE doc_id % 10 = 0),
       |pairs AS (
       |  SELECT DISTINCT least(l.doc_id, b.doc_id) AS doc_a,
       |    greatest(l.doc_id, b.doc_id) AS doc_b, l.kind,
       |    bit_count(xor(l.phash, b.phash))::BIGINT AS hamming
       |  FROM late l JOIN chunks b
       |    ON b.kind = l.kind AND b.c = l.c AND b.ck = l.ck
       |    AND b.doc_id <> l.doc_id)
       |SELECT doc_a, doc_b, kind, hamming, hamming <= 6 AS near FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val media = mediaTable(s, dir)
    val path = graft.Caches.scratchDir("incr-phash").toString + "/phash"
    upsertPhash(media.filter(col("doc_id") % 10 =!= 0), path)
    val late = media.filter(col("doc_id") % 10 === 0)
    upsertPhash(late, path)
    incrementalPhashPairs(late, path).orderBy("doc_a", "doc_b")
  }

  /** Voice-activity segmentation for audio — the silence-trim planner every
    * speech pipeline runs before transcription: per 1-second window an
    * energy score, windows at or above the activity threshold grouped into
    * contiguous SEGMENTS (gaps-and-islands), one row per kept segment with
    * its time bounds and energy mass. Downstream, only the segments get
    * decoded/transcribed — at 100 TB of audio the trim is the difference
    * between paying for speech and paying for silence.
    *
    * The energy stub derives each window's score from the content digest
    * (`hash64(frame || '|' || md5(bytes)) % 100` — Spark hashes the BINARY
    * column, the oracle replays from the text side, same contract as
    * feature extraction); a codec-backed [[MediaDecoder]] would emit RMS
    * per window into the identical frame stream. Scale shape: window
    * expansion is an explode bounded by each clip's duration, the
    * island/segment machinery is two doc-partitioned windows + one
    * (doc, island) aggregate — per-clip bounded, nothing global; all
    * arithmetic integer so the engines hash-match.
    */
  private val audioSegments = {
    val EnergyGate = 30
    q("mm_audio_segments",
      s"""WITH a AS (
         |  SELECT doc_id, md5(text) AS h, octet_length(encode(text)) * 10 AS dur
         |  FROM documents
         |  WHERE $kindCase = 'audio' AND octet_length(encode(text)) > 0),
         |fr AS (
         |  SELECT doc_id, f,
         |    ${sqlHash64("f::VARCHAR || '|' || h")} % 100 AS energy
         |  FROM a, unnest(generate_series(0, (dur - 1) // 1000)) t(f)),
         |isl AS (
         |  SELECT doc_id, f, energy,
         |    f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS g
         |  FROM fr WHERE energy >= $EnergyGate),
         |seg AS (
         |  SELECT doc_id, min(f) AS f0, max(f) AS f1,
         |    count(*)::BIGINT AS n_frames, sum(energy)::BIGINT AS sum_energy
         |  FROM isl GROUP BY doc_id, g)
         |SELECT doc_id,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY f0) AS seg_idx,
         |  f0 * 1000 AS start_ms, (f1 + 1) * 1000 AS end_ms,
         |  n_frames, sum_energy
         |FROM seg ORDER BY doc_id, seg_idx""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val fr = mediaTable(s, dir)
        .filter(col("kind") === "audio" && length(col("content")) > 0)
        .select(col("doc_id"), md5(col("content")).as("h"),
          (length(col("content")).cast("long") * 10).as("dur"))
        .select(col("doc_id"), col("h"),
          explode(sequence(lit(0L), expr("(dur - 1) div 1000"))).as("f"))
        .select(col("doc_id"), col("f"),
          (hash64(concat(col("f").cast("string"), lit("|"), col("h"))) % 100)
            .as("energy"))
      val byDoc = Window.partitionBy("doc_id").orderBy("f")
      val isl = fr.filter(col("energy") >= EnergyGate)
        .withColumn("g", col("f") - row_number().over(byDoc))
      val seg = isl.groupBy("doc_id", "g")
        .agg(min("f").as("f0"), max("f").as("f1"),
          count(lit(1)).as("n_frames"), sum("energy").as("sum_energy"))
      seg.select(col("doc_id"),
          row_number().over(Window.partitionBy("doc_id").orderBy("f0"))
            .cast("long").as("seg_idx"),
          (col("f0") * 1000).as("start_ms"), ((col("f1") + 1) * 1000).as("end_ms"),
          col("n_frames"), col("sum_energy"))
        .orderBy("doc_id", "seg_idx")
    }
  }

  /** Per-frame 16-bit aHash signatures over each video's sampled 2-second
    * frame windows — the batched-decoder output a scene-cut pass consumes.
    * Window math is in BYTES (one frame window = 200 bytes of the 10
    * ms/byte fake stream); the payload is ASCII, so the oracle's character
    * arithmetic replays it exactly (same equivalence [[phash]] pins).
    */
  def frameSigs(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video" && length(col("content")) > 0)
      .select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        val bpf = 200
        val cells = 16
        batch.flatMap { case (id, bytes) =>
          val n = bytes.length
          val nf = (n + bpf - 1) / bpf
          (0 until nf).iterator.map { k =>
            val off = k * bpf
            val wlen = math.min(bpf, n - off)
            val s = Array.tabulate(cells)(i =>
              (bytes(off + i * wlen / cells) & 0xff).toLong)
            val mean = s.sum / cells
            var h = 0L
            var i = 0
            while (i < cells) { if (s(i) > mean) h |= (1L << i); i += 1 }
            (id, k.toLong, h)
          }
        }
      }.toDF("doc_id", "frame_idx", "sig")
  }

  /** Scene-cut segmentation — the shot detector that runs before any
    * per-scene captioning/embedding so a 2-hour video becomes scene-sized
    * work units instead of one blob: consecutive sampled frames whose
    * perceptual signatures differ by ≥ [[SceneCutBits]] of 16 aHash bits
    * open a new segment (classic threshold-on-frame-difference detection);
    * output is one row per (video, segment) with its frame span. On the
    * text-derived stand-in payload consecutive windows are near-random, so
    * the threshold sits high (uniform Hamming mean = 8) and segments are
    * short — a codec-backed [[MediaDecoder]] feeds real downsampled pixels
    * into the SAME thresholding and the same plan.
    *
    * Scale shape: signatures are map-side in the batched decoder (one pass
    * over the bytes); the lag/running-sum windows are partitioned by
    * doc_id (frames per video are duration-bounded — never a global
    * window); the segment rollup is one hash aggregate. All arithmetic is
    * integer end to end.
    */
  private val SceneCutBits = 10
  private val sceneSegments = q("mm_scene_segments",
    s"""WITH v AS (
       |  SELECT doc_id, text, len(text) AS n FROM documents
       |  WHERE $kindCase = 'video' AND len(text) > 0),
       |fr AS (
       |  SELECT doc_id, f, f * 200 AS off, least(200, n - f * 200) AS wlen, text
       |  FROM v, unnest(generate_series(0, (n + 199) // 200 - 1)) t(f)),
       |sg AS (
       |  SELECT doc_id, f,
       |    CAST(list_sum(list_transform(generate_series(1, 16), i ->
       |      CASE WHEN ascii(substr(text, off + ((i - 1) * wlen) // 16 + 1, 1))::BIGINT >
       |        list_sum(list_transform(generate_series(1, 16), j ->
       |          ascii(substr(text, off + ((j - 1) * wlen) // 16 + 1, 1))::BIGINT)) // 16
       |      THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)) AS BIGINT) AS sig
       |  FROM fr),
       |cd AS (
       |  SELECT doc_id, f, sig,
       |    lag(sig) OVER (PARTITION BY doc_id ORDER BY f) AS prev
       |  FROM sg),
       |ct AS (
       |  SELECT doc_id, f,
       |    CASE WHEN prev IS NULL OR bit_count(xor(sig, prev)) < $SceneCutBits
       |      THEN 0 ELSE 1 END AS cut
       |  FROM cd),
       |seg AS (
       |  SELECT doc_id, f,
       |    (sum(cut) OVER (PARTITION BY doc_id ORDER BY f))::BIGINT AS seg
       |  FROM ct)
       |SELECT doc_id, seg, count(*)::BIGINT AS n_frames,
       |  (min(f) * 2000)::BIGINT AS start_ms,
       |  ((max(f) + 1) * 2000)::BIGINT AS end_ms
       |FROM seg GROUP BY doc_id, seg
       |ORDER BY doc_id, seg""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    frameSigs(mediaTable(s, dir))
      .withColumn("prev", lag("sig", 1).over(w))
      .withColumn("cut",
        when(col("prev").isNull
          || bit_count(expr("sig ^ prev")) < SceneCutBits, 0L).otherwise(1L))
      .withColumn("seg", sum("cut").over(w))
      .groupBy("doc_id", "seg")
      .agg(count(lit(1)).as("n_frames"),
        (min("frame_idx") * 2000).as("start_ms"),
        ((max("frame_idx") + 1) * 2000).as("end_ms"))
      .orderBy("doc_id", "seg")
  }

  val all: Seq[GQuery] = Seq(meta, resize, frames, features, phashDedup,
    phashNear, phashIncremental, audioSegments, sceneSegments)
}
