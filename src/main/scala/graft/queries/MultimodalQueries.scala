package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Multimodal

/** Multimodal-plumbing queries: binary payload columns with typed
  * metadata, distributed batch feature extraction (decode STUBBED — see
  * Multimodal.decodeStub). Payload bytes are deterministic (UTF-8 of
  * ASCII text), so even the mapPartitions feature path has an exact
  * DuckDB oracle.
  */
object MultimodalQueries {

  private def media(s: SparkSession, dir: String): DataFrame =
    Multimodal.fakePayloads(Tables(s, dir, "documents"))

  private def mm01(s: SparkSession, dir: String): DataFrame =
    media(s, dir).select(col("doc_id"),
      length(col("payload")).as("payload_bytes"),
      col("kind"), col("width"), col("height"))
      .orderBy("doc_id").limit(100)

  private def mm02(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(media(s, dir))
      .select("doc_id", "byte_len", "byte_sum", "n_frames")
      .orderBy("doc_id").limit(100)

  // frame sampling over the video subset: every 4th fake frame of the
  // stubbed decode's frame count — the sampling plan is real (one row
  // per kept frame, computed scan-side), only the codec is fake
  private def mm03(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.extractFeatures(media(s, dir)), stride = 4)
      .orderBy("doc_id", "frame_idx")

  // metadata-only resize: aspect-preserving fit into 128x96; the
  // double scale arithmetic is the same IEEE ops in both engines
  private def mm04(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizeMeta(media(s, dir), maxW = 128, maxH = 96)
      .select("doc_id", "width", "height", "out_width", "out_height")
      .orderBy("doc_id").limit(100)

  // REAL image decode: PNG-encode a closed-form synthetic pixel pattern,
  // decode it back with javax.imageio, emit pixel-derived features. The
  // oracle recomputes every pixel from the same closed form in SQL — it
  // matches iff the PNG encode→decode round-trip is pixel-exact, so a
  // broken decode path hash-fails rather than passing rows-only.
  private def mm05(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImageFeatures(
      Multimodal.imagePayloads(Tables(s, dir, "documents")))
      .orderBy("doc_id").toDF()

  // REAL audio decode (the mm05 discipline for sound): WAV-encode a
  // closed-form 16-bit PCM pattern, decode it back with
  // javax.sound.sampled, emit sample-derived features. The oracle
  // recomputes every sample from the same closed form — it matches iff
  // the WAV encode→decode round-trip is sample-exact.
  private def mm06(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAudioFeatures(
      Multimodal.audioPayloads(Tables(s, dir, "documents")))
      .orderBy("doc_id").toDF()

  // REAL audio resample (mm06's processing stage): decode the WAV,
  // decimate 2:1 by truncating-mean blocks, RE-ENCODE as a 4 kHz WAV,
  // decode that back, emit features — the gate pins the whole resample
  // round-trip. The oracle replays every block mean from the closed
  // form with the same truncating division (DuckDB // == Java /)
  private def mm14(s: SparkSession, dir: String): DataFrame =
    Multimodal.downsampleAudioFeatures(
      Multimodal.audioPayloads(Tables(s, dir, "documents")), factor = 2)
      .orderBy("doc_id").toDF()

  // REAL video decode: animated-GIF-encode a closed-form grayscale frame
  // sequence (lossless 256-gray palette), decode it back frame-by-frame
  // with javax.imageio's sequence reader, emit one row per (doc, frame).
  // The oracle replays every pixel of every frame from the closed form.
  private def mm07(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeVideoFrames(
      Multimodal.videoPayloads(Tables(s, dir, "documents")))
      .orderBy("doc_id", "frame_idx").toDF()

  // the near-dup gates' one tail: 4×16-bit-band Hamming NN capped at
  // 1,000 per (band, value) bucket, in doc_id order
  private def nearDup(hashes: Dataset[_]): DataFrame =
    Multimodal.nearestByHamming(hashes.toDF(), bandBits = 16, numBands = 4,
      maxBucket = 1000).orderBy("doc_id")

  // image NEAR-DUP: 63-bit perceptual hash over the decoded pixels
  // (8×4 integer average-pool aHash + chain-gradient dHash bits), then
  // a banded Hamming nearest-neighbor join (4×16-bit bands — an
  // equi-join, never all-pairs) with a hot-bucket frequency cap (r7:
  // the r6 32-bit/8-bit-band layout had only 1,024 possible buckets —
  // a hard quadratic ceiling at corpus scale; 16-bit bands give 65k
  // values per band and maxBucket drops degenerate flat-payload
  // buckets, oracle-replayed via the same HAVING). The oracle replays
  // hash, bands, cap, and argmin from the closed-form pixels, so the
  // whole decode→pool→threshold→band→xor pipeline is hash-pinned.
  private def mm08(s: SparkSession, dir: String): DataFrame =
    nearDup(Multimodal.imageAHash(
      Multimodal.imagePayloads(Tables(s, dir, "documents"))))

  // audio NEAR-DUP — the mm08 discipline for sound: 63-bit energy-
  // envelope fingerprint over really-decoded PCM (32 time windows,
  // integer mean-|amplitude| threshold + chain-gradient bits), banded
  // Hamming NN through the SAME modality-agnostic nearestByHamming
  // operator (16-bit bands, capped). With mm08 and d01–d17 this closes
  // near-dup detection across text, image, and audio payloads.
  private def mm09(s: SparkSession, dir: String): DataFrame =
    nearDup(Multimodal.audioAHash(
      Multimodal.audioPayloads(Tables(s, dir, "documents"))))

  // video NEAR-DUP: per-frame 4x4 pooling of the really-decoded
  // (delta-composited) GIF frames expanded to a 63-bit fingerprint
  // (aHash + row/column chain gradients + second-order slopes +
  // quadrant bits), strict majority vote across frames per bit
  // (SimHash over time), then the SAME 16-bit-band capped Hamming NN
  // as the image/audio paths — 65k values per band, so bucket
  // cardinality grows with the corpus instead of saturating the r7
  // 1,024-bucket ceiling. Completes near-dup across every payload
  // modality the engine ships.
  private def mm10(s: SparkSession, dir: String): DataFrame =
    nearDup(Multimodal.videoAHash(
      Multimodal.videoPayloads(Tables(s, dir, "documents"))))

  // hot-bucket cap observability for the Hamming near-dup family (the
  // d08 discipline: caps drop silently so the join never stalls — the
  // matching audit is what a pipeline alerts on): what cap=2 and the
  // production cap=1000 would drop from the image-hash (band, value)
  // buckets, audited on the COARSE 4×8-bit layout where collisions
  // concentrate (the aHash half of the 63-bit hash).
  private def mm11(s: SparkSession, dir: String): DataFrame = {
    // checkpointed: both cap branches of the union read the hash frame,
    // and its derivation (decode + pool every payload) dominates
    val hashes = Multimodal.imageAHash(
      Multimodal.imagePayloads(Tables(s, dir, "documents"))).toDF()
      .localCheckpoint(true)
    def at(cap: Int) = Multimodal.hammingCapAudit(hashes, bandBits = 8,
      numBands = 4, maxBucket = cap).withColumn("cap", lit(cap))
    at(2).unionByName(at(1000))
      .select("cap", "hot_buckets", "dropped_rows", "max_df")
      .orderBy("cap")
  }

  // saturation audit for the WIDENED video layout (the r7 verdict's
  // one open scale defect): the 63-bit/16-bit-band geometry must show
  // dropped_rows = 0 at the production cap on the gate corpus — the r7
  // 31-bit/8-bit layout saturated its 1,024 buckets and silently shed
  // candidates. cap=2 rides along as the what-would-a-tiny-cap-drop
  // observability row (the mm11 pattern). MultimodalSpec asserts the
  // zero-drop invariant; this gate hash-pins the numbers.
  private def mm12(s: SparkSession, dir: String): DataFrame = {
    // checkpointed: both cap branches read it, and the full GIF decode
    // + composite + 63-bit hash of every payload dominates the gate
    val hashes = Multimodal.videoAHash(
      Multimodal.videoPayloads(Tables(s, dir, "documents"))).toDF()
      .localCheckpoint(true)
    def at(cap: Int) = Multimodal.hammingCapAudit(hashes, bandBits = 16,
      numBands = 4, maxBucket = cap).withColumn("cap", lit(cap))
    at(2).unionByName(at(1000))
      .select("cap", "hot_buckets", "dropped_rows", "max_df")
      .orderBy("cap")
  }

  // JPEG NEAR-DUP — the image family beyond PNG, at zero marginal
  // design cost: javax.imageio's native JPEG reader feeds the SAME
  // imageAHash -> nearestByHamming pipeline as mm08 (the operator never
  // asked which codec produced the pixels). JPEG is lossy, so no
  // closed-form pixel replay exists; the oracle is two-stage (the
  // d04/t15 recipe): Verify writes the decoded hash frame to
  // {OUT}/aux/mm13_hashes and DuckDB replays band split, hot-bucket
  // cap, candidate join, and argmin from it — the pairing logic stays
  // cross-engine-checked, the codec stays pinned by MultimodalSpec's
  // PNG-vs-JPEG Hamming-bound test.
  private def mm13(s: SparkSession, dir: String): DataFrame =
    nearDup(Multimodal.imageAHash(
      Multimodal.jpegPayloads(Tables(s, dir, "documents"))))

  /** Aux fixtures for two-stage oracles (see DedupQueries.auxOutputs). */
  val auxOutputs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm13_hashes" -> ((s, dir) =>
      Multimodal.imageAHash(
        Multimodal.jpegPayloads(Tables(s, dir, "documents"))).toDF()))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm13_jpeg_neardup" -> (mm13 _),
    "mm11_cap_audit" -> (mm11 _),
    "mm12_video_cap_audit" -> (mm12 _),
    "mm08_image_neardup" -> (mm08 _),
    "mm09_audio_neardup" -> (mm09 _),
    "mm10_video_neardup" -> (mm10 _),
    "mm01_payload_meta" -> (mm01 _),
    "mm02_decode_features" -> (mm02 _),
    "mm03_frame_sample" -> (mm03 _),
    "mm04_resize_meta" -> (mm04 _),
    "mm05_image_decode" -> (mm05 _),
    "mm06_audio_decode" -> (mm06 _),
    "mm07_video_frames" -> (mm07 _),
    "mm14_audio_resample" -> (mm14 _),
  )

  val oracleSql: Map[String, String] = Map(
    // two-stage: hashes from the Spark-decoded JPEG fixture (lossy
    // codec — no closed form), band/cap/candidate/argmin replayed in
    // plain bit arithmetic, the mm08 tail verbatim
    "mm13_jpeg_neardup" ->
      ("WITH hsh AS (SELECT doc_id, width, height, phash FROM " +
        "read_parquet('{OUT}/aux/mm13_hashes/*.parquet')), " +
        "bands AS (SELECT doc_id, phash, unnest([0,1,2,3]) AS band " +
        "FROM hsh), " +
        "bv0 AS (SELECT doc_id, phash, band, " +
        "(phash >> (16*band)) & 65535 AS v FROM bands), " +
        "bc AS (SELECT band, v FROM bv0 GROUP BY band, v " +
        "HAVING count(*) <= 1000), " +
        "bv AS (SELECT bv0.* FROM bv0 JOIN bc USING (band, v)), " +
        "cand AS (SELECT DISTINCT a.doc_id, b.doc_id AS cand_id, " +
        "CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming " +
        "FROM bv a JOIN bv b ON a.band = b.band AND a.v = b.v " +
        "AND a.doc_id <> b.doc_id), " +
        "nn AS (SELECT doc_id, cand_id AS nn_id, hamming AS nn_hamming " +
        "FROM (SELECT doc_id, cand_id, hamming, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY hamming, cand_id) AS rn FROM cand) " +
        "WHERE rn = 1) " +
        "SELECT hsh.doc_id, width, height, phash, " +
        "CAST(coalesce(nn.nn_id, -1) AS BIGINT) AS nn_id, " +
        "CAST(coalesce(nn.nn_hamming, -1) AS BIGINT) AS nn_hamming " +
        "FROM hsh LEFT JOIN nn USING (doc_id) ORDER BY hsh.doc_id"),
    // the mm08 hash replay down to the banding, then the d08-style
    // audit aggregate at both caps over the coarse 8-bit bands
    "mm11_cap_audit" ->
      ("WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0 " +
        "ORDER BY doc_id LIMIT 40), " +
        "dim AS (SELECT doc_id, doc_id % 24 + 8 AS w, " +
        "doc_id % 16 + 6 AS h FROM d), " +
        "xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dim), " +
        "px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs), " +
        "g AS (SELECT doc_id, w, h, " +
        "(((x*7 + y*13 + doc_id) % 256) + ((x*3 + y*5 + doc_id*2) % 256) " +
        "+ ((x*11 + y*17 + doc_id*3) % 256)) // 3 AS gray, " +
        "(y*4 // h)*8 + (x*8 // w) AS idx FROM px), " +
        "blk AS (SELECT doc_id, idx, sum(gray) // count(*) AS avg " +
        "FROM g GROUP BY doc_id, idx), " +
        "tot AS (SELECT doc_id, sum(avg) AS total FROM blk GROUP BY doc_id), " +
        "ap AS (SELECT blk.doc_id, sum(CASE WHEN avg*32 > total " +
        "THEN CAST(1 AS BIGINT) << CAST(idx AS INT) ELSE 0 END) " +
        "AS p FROM blk JOIN tot USING (doc_id) GROUP BY blk.doc_id), " +
        "dp AS (SELECT a.doc_id, sum(CASE WHEN b.avg > a.avg " +
        "THEN CAST(1 AS BIGINT) << CAST(32 + a.idx AS INT) ELSE 0 END) " +
        "AS p FROM blk a JOIN blk b ON b.doc_id = a.doc_id " +
        "AND b.idx = a.idx + 1 WHERE a.idx <= 30 GROUP BY a.doc_id), " +
        "hsh AS (SELECT ap.doc_id, CAST(ap.p + dp.p AS BIGINT) AS phash " +
        "FROM ap JOIN dp USING (doc_id)), " +
        "bv0 AS (SELECT doc_id, band, (phash >> (8*band)) & 255 AS v " +
        "FROM (SELECT doc_id, phash, unnest([0,1,2,3]) AS band FROM hsh)), " +
        "df AS (SELECT band, v, count(*) AS df FROM bv0 " +
        "GROUP BY band, v), " +
        "a AS (SELECT 2 AS cap, " +
        "CAST(sum(CASE WHEN df > 2 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS hot_buckets, " +
        "CAST(sum(CASE WHEN df > 2 THEN df ELSE 0 END) AS BIGINT) " +
        "AS dropped_rows, CAST(max(df) AS BIGINT) AS max_df FROM df " +
        "UNION ALL SELECT 1000, " +
        "CAST(sum(CASE WHEN df > 1000 THEN 1 ELSE 0 END) AS BIGINT), " +
        "CAST(sum(CASE WHEN df > 1000 THEN df ELSE 0 END) AS BIGINT), " +
        "CAST(max(df) AS BIGINT) FROM df) " +
        "SELECT cap, hot_buckets, dropped_rows, max_df FROM a " +
        "ORDER BY cap"),
    // the mm10 63-bit hash replay (same CTE chain) stopped at the
    // banded (band, value) frequency audit — 16-bit bands, caps 2 and
    // 1000, the mm11 aggregate shape
    "mm12_video_cap_audit" ->
      ("WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2 " +
        "ORDER BY doc_id LIMIT 30), " +
        "dim AS (SELECT doc_id, CAST(doc_id % 5 + 2 AS INT) AS n, " +
        "doc_id % 20 + 6 AS w, doc_id % 12 + 5 AS h FROM d), " +
        "fr AS (SELECT doc_id, n, w, h, unnest(range(0, n)) AS f FROM dim), " +
        "xs AS (SELECT doc_id, n, w, h, f, unnest(range(0, w)) AS x FROM fr), " +
        "px AS (SELECT doc_id, n, w, h, f, x, unnest(range(0, h)) AS y " +
        "FROM xs), " +
        "g AS (SELECT doc_id, n, f, " +
        "(x*7 + y*13 + doc_id + f*29) % 256 AS g, " +
        "(y*4 // h)*4 + (x*4 // w) AS idx FROM px), " +
        "blk AS MATERIALIZED (SELECT doc_id, n, f, idx, " +
        "sum(g) // count(*) AS avg " +
        "FROM g GROUP BY doc_id, n, f, idx), " +
        "tot AS (SELECT doc_id, f, sum(avg) AS total FROM blk " +
        "GROUP BY doc_id, f), " +
        "qs AS (SELECT doc_id, n, f, " +
        "sum(CASE WHEN (idx//8)*2 + (idx%4)//2 = 0 THEN avg ELSE 0 END) AS s0, " +
        "sum(CASE WHEN (idx//8)*2 + (idx%4)//2 = 1 THEN avg ELSE 0 END) AS s1, " +
        "sum(CASE WHEN (idx//8)*2 + (idx%4)//2 = 2 THEN avg ELSE 0 END) AS s2, " +
        "sum(CASE WHEN (idx//8)*2 + (idx%4)//2 = 3 THEN avg ELSE 0 END) AS s3 " +
        "FROM blk GROUP BY doc_id, n, f), " +
        "fb AS (SELECT blk.doc_id, blk.n, blk.f, idx, " +
        "CASE WHEN avg*16 > total THEN 1 ELSE 0 END AS bit FROM blk " +
        "JOIN tot ON tot.doc_id = blk.doc_id AND tot.f = blk.f " +
        "UNION ALL SELECT a.doc_id, a.n, a.f, 16 + a.idx AS idx, " +
        "CASE WHEN b.avg > a.avg THEN 1 ELSE 0 END AS bit FROM blk a " +
        "JOIN blk b ON b.doc_id = a.doc_id AND b.f = a.f " +
        "AND b.idx = a.idx + 1 WHERE a.idx <= 14 " +
        "UNION ALL SELECT a.doc_id, a.n, a.f, " +
        "31 + (a.idx%4)*4 + a.idx//4 AS idx, " +
        "CASE WHEN b.avg > a.avg THEN 1 ELSE 0 END AS bit FROM blk a " +
        "JOIN blk b ON b.doc_id = a.doc_id AND b.f = a.f " +
        "AND (b.idx%4)*4 + b.idx//4 = (a.idx%4)*4 + a.idx//4 + 1 " +
        "WHERE (a.idx%4)*4 + a.idx//4 <= 14 " +
        "UNION ALL SELECT a.doc_id, a.n, a.f, 46 + a.idx AS idx, " +
        "CASE WHEN b.avg > a.avg THEN 1 ELSE 0 END AS bit FROM blk a " +
        "JOIN blk b ON b.doc_id = a.doc_id AND b.f = a.f " +
        "AND b.idx = a.idx + 2 WHERE a.idx <= 13 " +
        "UNION ALL SELECT doc_id, n, f, 60 AS idx, " +
        "CASE WHEN s0 > s3 THEN 1 ELSE 0 END AS bit FROM qs " +
        "UNION ALL SELECT doc_id, n, f, 61 AS idx, " +
        "CASE WHEN s1 > s2 THEN 1 ELSE 0 END AS bit FROM qs " +
        "UNION ALL SELECT doc_id, n, f, 62 AS idx, " +
        "CASE WHEN s0 + s3 > s1 + s2 THEN 1 ELSE 0 END AS bit FROM qs), " +
        "votes AS (SELECT doc_id, n, idx, sum(bit) AS v FROM fb " +
        "GROUP BY doc_id, n, idx), " +
        "hsh AS (SELECT doc_id, CAST(sum(CASE WHEN v*2 > n THEN " +
        "CAST(1 AS BIGINT) << CAST(idx AS INT) ELSE 0 END) AS BIGINT) " +
        "AS phash FROM votes GROUP BY doc_id), " +
        "bv0 AS (SELECT doc_id, band, (phash >> (16*band)) & 65535 AS v " +
        "FROM (SELECT doc_id, phash, unnest([0,1,2,3]) AS band FROM hsh)), " +
        "df AS (SELECT band, v, count(*) AS df FROM bv0 " +
        "GROUP BY band, v), " +
        "a AS (SELECT 2 AS cap, " +
        "CAST(sum(CASE WHEN df > 2 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS hot_buckets, " +
        "CAST(sum(CASE WHEN df > 2 THEN df ELSE 0 END) AS BIGINT) " +
        "AS dropped_rows, CAST(max(df) AS BIGINT) AS max_df FROM df " +
        "UNION ALL SELECT 1000, " +
        "CAST(sum(CASE WHEN df > 1000 THEN 1 ELSE 0 END) AS BIGINT), " +
        "CAST(sum(CASE WHEN df > 1000 THEN df ELSE 0 END) AS BIGINT), " +
        "CAST(max(df) AS BIGINT) FROM df) " +
        "SELECT cap, hot_buckets, dropped_rows, max_df FROM a " +
        "ORDER BY cap"),
    // per-frame 4x4 cell means from the closed-form frame pixels,
    // 63 bits (aHash 0..15, row chain 16..30, col chain 31..45,
    // second-order 46..59, quadrants 60..62), strict cross-frame
    // majority per bit, 16-bit bands capped at 1000, min-(hamming, id)
    // nearest
    "mm10_video_neardup" ->
      ("WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2 " +
        "ORDER BY doc_id LIMIT 30), " +
        "dim AS (SELECT doc_id, CAST(doc_id % 5 + 2 AS INT) AS n, " +
        "doc_id % 20 + 6 AS w, doc_id % 12 + 5 AS h FROM d), " +
        "fr AS (SELECT doc_id, n, w, h, unnest(range(0, n)) AS f FROM dim), " +
        "xs AS (SELECT doc_id, n, w, h, f, unnest(range(0, w)) AS x FROM fr), " +
        "px AS (SELECT doc_id, n, w, h, f, x, unnest(range(0, h)) AS y " +
        "FROM xs), " +
        "g AS (SELECT doc_id, n, f, " +
        "(x*7 + y*13 + doc_id + f*29) % 256 AS g, " +
        "(y*4 // h)*4 + (x*4 // w) AS idx FROM px), " +
        "blk AS MATERIALIZED (SELECT doc_id, n, f, idx, " +
        "sum(g) // count(*) AS avg " +
        "FROM g GROUP BY doc_id, n, f, idx), " +
        "tot AS (SELECT doc_id, f, sum(avg) AS total FROM blk " +
        "GROUP BY doc_id, f), " +
        "qs AS (SELECT doc_id, n, f, " +
        "sum(CASE WHEN (idx//8)*2 + (idx%4)//2 = 0 THEN avg ELSE 0 END) AS s0, " +
        "sum(CASE WHEN (idx//8)*2 + (idx%4)//2 = 1 THEN avg ELSE 0 END) AS s1, " +
        "sum(CASE WHEN (idx//8)*2 + (idx%4)//2 = 2 THEN avg ELSE 0 END) AS s2, " +
        "sum(CASE WHEN (idx//8)*2 + (idx%4)//2 = 3 THEN avg ELSE 0 END) AS s3 " +
        "FROM blk GROUP BY doc_id, n, f), " +
        // 63 per-frame bits: aHash 0..15, row chain 16..30, col-major
        // chain 31..45 (col-major position of cell idx is
        // (idx%4)*4 + idx//4), second-order row slope 46..59,
        // quadrant energy 60..62 — mirror of videoAHash bit for bit
        "fb AS (SELECT blk.doc_id, blk.n, blk.f, idx, " +
        "CASE WHEN avg*16 > total THEN 1 ELSE 0 END AS bit FROM blk " +
        "JOIN tot ON tot.doc_id = blk.doc_id AND tot.f = blk.f " +
        "UNION ALL SELECT a.doc_id, a.n, a.f, 16 + a.idx AS idx, " +
        "CASE WHEN b.avg > a.avg THEN 1 ELSE 0 END AS bit FROM blk a " +
        "JOIN blk b ON b.doc_id = a.doc_id AND b.f = a.f " +
        "AND b.idx = a.idx + 1 WHERE a.idx <= 14 " +
        "UNION ALL SELECT a.doc_id, a.n, a.f, " +
        "31 + (a.idx%4)*4 + a.idx//4 AS idx, " +
        "CASE WHEN b.avg > a.avg THEN 1 ELSE 0 END AS bit FROM blk a " +
        "JOIN blk b ON b.doc_id = a.doc_id AND b.f = a.f " +
        "AND (b.idx%4)*4 + b.idx//4 = (a.idx%4)*4 + a.idx//4 + 1 " +
        "WHERE (a.idx%4)*4 + a.idx//4 <= 14 " +
        "UNION ALL SELECT a.doc_id, a.n, a.f, 46 + a.idx AS idx, " +
        "CASE WHEN b.avg > a.avg THEN 1 ELSE 0 END AS bit FROM blk a " +
        "JOIN blk b ON b.doc_id = a.doc_id AND b.f = a.f " +
        "AND b.idx = a.idx + 2 WHERE a.idx <= 13 " +
        "UNION ALL SELECT doc_id, n, f, 60 AS idx, " +
        "CASE WHEN s0 > s3 THEN 1 ELSE 0 END AS bit FROM qs " +
        "UNION ALL SELECT doc_id, n, f, 61 AS idx, " +
        "CASE WHEN s1 > s2 THEN 1 ELSE 0 END AS bit FROM qs " +
        "UNION ALL SELECT doc_id, n, f, 62 AS idx, " +
        "CASE WHEN s0 + s3 > s1 + s2 THEN 1 ELSE 0 END AS bit FROM qs), " +
        "votes AS (SELECT doc_id, n, idx, sum(bit) AS v FROM fb " +
        "GROUP BY doc_id, n, idx), " +
        "hsh AS (SELECT doc_id, CAST(sum(CASE WHEN v*2 > n THEN " +
        "CAST(1 AS BIGINT) << CAST(idx AS INT) ELSE 0 END) AS BIGINT) " +
        "AS phash FROM votes GROUP BY doc_id), " +
        "bv0 AS (SELECT doc_id, phash, band, (phash >> (16*band)) & 65535 " +
        "AS v FROM (SELECT doc_id, phash, unnest([0,1,2,3]) AS band " +
        "FROM hsh)), " +
        "bc AS (SELECT band, v FROM bv0 GROUP BY band, v " +
        "HAVING count(*) <= 1000), " +
        "bv AS (SELECT bv0.* FROM bv0 JOIN bc USING (band, v)), " +
        "cand AS (SELECT DISTINCT a.doc_id, b.doc_id AS cand_id, " +
        "CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming " +
        "FROM bv a JOIN bv b ON a.band = b.band AND a.v = b.v " +
        "AND a.doc_id <> b.doc_id), " +
        "nn AS (SELECT doc_id, cand_id AS nn_id, hamming AS nn_hamming " +
        "FROM (SELECT doc_id, cand_id, hamming, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY hamming, cand_id) AS rn FROM cand) " +
        "WHERE rn = 1) " +
        "SELECT dim.doc_id, dim.n AS n_frames, hsh.phash, " +
        "CAST(coalesce(nn.nn_id, -1) AS BIGINT) AS nn_id, " +
        "CAST(coalesce(nn.nn_hamming, -1) AS BIGINT) AS nn_hamming " +
        "FROM dim JOIN hsh USING (doc_id) LEFT JOIN nn USING (doc_id) " +
        "ORDER BY dim.doc_id"),
    // the mm08 replay recipe over closed-form SAMPLES: |amplitude|
    // windows via i*32//n, aHash bits 0..31 (avg*32 > total), chain
    // dHash bits 32..62, four 16-bit bands capped at 1000,
    // min-(hamming, id) nearest
    "mm09_audio_neardup" ->
      ("WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1 " +
        "ORDER BY doc_id LIMIT 40), " +
        "nn0 AS (SELECT doc_id, CAST(doc_id % 300 + 50 AS INT) AS ns " +
        "FROM d), " +
        "sm AS (SELECT doc_id, ns, unnest(range(0, ns)) AS i FROM nn0), " +
        "v AS (SELECT doc_id, ns, abs((i*31 + doc_id*17) % 4096 - 2048) " +
        "AS a, (i*32 // ns) AS w FROM sm), " +
        "blk AS (SELECT doc_id, w, sum(a) // count(*) AS avg FROM v " +
        "GROUP BY doc_id, w), " +
        "tot AS (SELECT doc_id, sum(avg) AS total FROM blk GROUP BY doc_id), " +
        "ap AS (SELECT blk.doc_id, sum(CASE WHEN avg*32 > total " +
        "THEN CAST(1 AS BIGINT) << CAST(w AS INT) ELSE 0 END) " +
        "AS p FROM blk JOIN tot USING (doc_id) GROUP BY blk.doc_id), " +
        "dp AS (SELECT a.doc_id, sum(CASE WHEN b.avg > a.avg " +
        "THEN CAST(1 AS BIGINT) << CAST(32 + a.w AS INT) ELSE 0 END) " +
        "AS p FROM blk a JOIN blk b ON b.doc_id = a.doc_id " +
        "AND b.w = a.w + 1 WHERE a.w <= 30 GROUP BY a.doc_id), " +
        "hsh AS (SELECT ap.doc_id, CAST(ap.p + dp.p AS BIGINT) AS phash " +
        "FROM ap JOIN dp USING (doc_id)), " +
        "bv0 AS (SELECT doc_id, phash, band, (phash >> (16*band)) & 65535 " +
        "AS v FROM (SELECT doc_id, phash, unnest([0,1,2,3]) AS band " +
        "FROM hsh)), " +
        "bc AS (SELECT band, v FROM bv0 GROUP BY band, v " +
        "HAVING count(*) <= 1000), " +
        "bv AS (SELECT bv0.* FROM bv0 JOIN bc USING (band, v)), " +
        "cand AS (SELECT DISTINCT a.doc_id, b.doc_id AS cand_id, " +
        "CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming " +
        "FROM bv a JOIN bv b ON a.band = b.band AND a.v = b.v " +
        "AND a.doc_id <> b.doc_id), " +
        "nn AS (SELECT doc_id, cand_id AS nn_id, hamming AS nn_hamming " +
        "FROM (SELECT doc_id, cand_id, hamming, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY hamming, cand_id) AS rn FROM cand) " +
        "WHERE rn = 1) " +
        "SELECT nn0.doc_id, nn0.ns AS n_samples, hsh.phash, " +
        "CAST(coalesce(nn.nn_id, -1) AS BIGINT) AS nn_id, " +
        "CAST(coalesce(nn.nn_hamming, -1) AS BIGINT) AS nn_hamming " +
        "FROM nn0 JOIN hsh USING (doc_id) LEFT JOIN nn USING (doc_id) " +
        "ORDER BY nn0.doc_id"),
    // full replay of the 63-bit hash pipeline from the closed-form
    // pixels: gray = (r+g+b)//3, pixel→block via (x*8//w, y*4//h),
    // integer block means, aHash bits 0..31 (avg*32 > total), dHash
    // bits 32..62 (avg(i+1) > avg(i) chain); bands are the four 16-bit
    // halves, hot buckets capped with the gate's HAVING <= 1000;
    // nearest = min (hamming, cand_id) among band-mates
    "mm08_image_neardup" ->
      ("WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0 " +
        "ORDER BY doc_id LIMIT 40), " +
        "dim AS (SELECT doc_id, doc_id % 24 + 8 AS w, " +
        "doc_id % 16 + 6 AS h FROM d), " +
        "xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dim), " +
        "px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs), " +
        "g AS (SELECT doc_id, w, h, " +
        "(((x*7 + y*13 + doc_id) % 256) + ((x*3 + y*5 + doc_id*2) % 256) " +
        "+ ((x*11 + y*17 + doc_id*3) % 256)) // 3 AS gray, " +
        "(y*4 // h)*8 + (x*8 // w) AS idx FROM px), " +
        "blk AS (SELECT doc_id, idx, sum(gray) // count(*) AS avg " +
        "FROM g GROUP BY doc_id, idx), " +
        "tot AS (SELECT doc_id, sum(avg) AS total FROM blk GROUP BY doc_id), " +
        "ap AS (SELECT blk.doc_id, sum(CASE WHEN avg*32 > total " +
        "THEN CAST(1 AS BIGINT) << CAST(idx AS INT) ELSE 0 END) " +
        "AS p FROM blk JOIN tot USING (doc_id) GROUP BY blk.doc_id), " +
        "dp AS (SELECT a.doc_id, sum(CASE WHEN b.avg > a.avg " +
        "THEN CAST(1 AS BIGINT) << CAST(32 + a.idx AS INT) ELSE 0 END) " +
        "AS p FROM blk a JOIN blk b ON b.doc_id = a.doc_id " +
        "AND b.idx = a.idx + 1 WHERE a.idx <= 30 GROUP BY a.doc_id), " +
        "hsh AS (SELECT ap.doc_id, CAST(ap.p + dp.p AS BIGINT) AS phash " +
        "FROM ap JOIN dp USING (doc_id)), " +
        "bands AS (SELECT doc_id, phash, unnest([0,1,2,3]) AS band FROM hsh), " +
        "bv0 AS (SELECT doc_id, phash, band, " +
        "(phash >> (16*band)) & 65535 AS v FROM bands), " +
        "bc AS (SELECT band, v FROM bv0 GROUP BY band, v " +
        "HAVING count(*) <= 1000), " +
        "bv AS (SELECT bv0.* FROM bv0 JOIN bc USING (band, v)), " +
        "cand AS (SELECT DISTINCT a.doc_id, b.doc_id AS cand_id, " +
        "CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming " +
        "FROM bv a JOIN bv b ON a.band = b.band AND a.v = b.v " +
        "AND a.doc_id <> b.doc_id), " +
        "nn AS (SELECT doc_id, cand_id AS nn_id, hamming AS nn_hamming " +
        "FROM (SELECT doc_id, cand_id, hamming, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY hamming, cand_id) AS rn FROM cand) " +
        "WHERE rn = 1) " +
        "SELECT dim.doc_id, CAST(w AS INT) AS width, CAST(h AS INT) " +
        "AS height, hsh.phash, " +
        "CAST(coalesce(nn.nn_id, -1) AS BIGINT) AS nn_id, " +
        "CAST(coalesce(nn.nn_hamming, -1) AS BIGINT) AS nn_hamming " +
        "FROM dim JOIN hsh USING (doc_id) LEFT JOIN nn USING (doc_id) " +
        "ORDER BY dim.doc_id"),
    "mm01_payload_meta" ->
      ("SELECT doc_id, octet_length(encode(text)) AS payload_bytes, " +
        "(['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind, " +
        "CAST(doc_id % 640 + 64 AS INT) AS width, " +
        "CAST(doc_id % 480 + 48 AS INT) AS height " +
        "FROM documents ORDER BY doc_id LIMIT 100"),
    "mm02_decode_features" ->
      ("SELECT doc_id, octet_length(encode(text)) AS byte_len, " +
        "CAST(list_sum(list_transform(range(1, length(text)+1), " +
        "i -> ord(substr(text, i, 1)))) AS BIGINT) AS byte_sum, " +
        "CAST(greatest(1, octet_length(encode(text)) // 256) AS INT) AS n_frames " +
        "FROM documents ORDER BY doc_id LIMIT 100"),
    "mm03_frame_sample" ->
      ("WITH f AS (SELECT doc_id, " +
        "CAST(greatest(1, octet_length(encode(text)) // 256) AS INT) " +
        "AS n_frames FROM documents WHERE doc_id % 3 = 2) " +
        "SELECT doc_id, CAST(unnest(range(0, n_frames, 4)) AS INT) " +
        "AS frame_idx FROM f ORDER BY doc_id, frame_idx"),
    "mm04_resize_meta" ->
      ("WITH m AS (SELECT doc_id, " +
        "CAST(doc_id % 640 + 64 AS INT) AS width, " +
        "CAST(doc_id % 480 + 48 AS INT) AS height FROM documents), " +
        "s AS (SELECT doc_id, width, height, " +
        "least(1.0, least(CAST(128 AS DOUBLE) / width, " +
        "CAST(96 AS DOUBLE) / height)) AS sc FROM m) " +
        "SELECT doc_id, width, height, " +
        "CAST(floor(width * sc) AS INT) AS out_width, " +
        "CAST(floor(height * sc) AS INT) AS out_height " +
        "FROM s ORDER BY doc_id LIMIT 100"),
    "mm05_image_decode" ->
      ("WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0 " +
        "ORDER BY doc_id LIMIT 40), " +
        "dim AS (SELECT doc_id, doc_id % 24 + 8 AS w, " +
        "doc_id % 16 + 6 AS h FROM d), " +
        "xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dim), " +
        "px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs), " +
        "v AS (SELECT doc_id, w, h, x, y, " +
        "(x*7 + y*13 + doc_id) % 256 AS r, " +
        "(x*3 + y*5 + doc_id*2) % 256 AS g, " +
        "(x*11 + y*17 + doc_id*3) % 256 AS b FROM px) " +
        "SELECT doc_id, CAST(max(w) AS INT) AS width, " +
        "CAST(max(h) AS INT) AS height, " +
        "CAST(sum(r) AS BIGINT) AS r_sum, " +
        "CAST(sum(g) AS BIGINT) AS g_sum, " +
        "CAST(sum(b) AS BIGINT) AS b_sum, " +
        "CAST(sum((x+1)*(y+1)*(r+g+b)) AS BIGINT) AS pos_sum, " +
        "CAST(sum(CASE WHEN r < 64 THEN 1 ELSE 0 END) AS BIGINT) AS r_h0, " +
        "CAST(sum(CASE WHEN r >= 64 AND r < 128 THEN 1 ELSE 0 END) AS BIGINT) AS r_h1, " +
        "CAST(sum(CASE WHEN r >= 128 AND r < 192 THEN 1 ELSE 0 END) AS BIGINT) AS r_h2, " +
        "CAST(sum(CASE WHEN r >= 192 THEN 1 ELSE 0 END) AS BIGINT) AS r_h3 " +
        "FROM v GROUP BY doc_id ORDER BY doc_id"),
    // samples replayed from the closed form smp(doc_id,i) =
    // (i*31 + doc_id*17) % 4096 - 2048 (non-negative operands, so Spark
    // and DuckDB % agree); zero_cross via lag within each doc
    "mm06_audio_decode" ->
      ("WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1 " +
        "ORDER BY doc_id LIMIT 40), " +
        "n AS (SELECT doc_id, CAST(doc_id % 300 + 50 AS INT) AS n FROM d), " +
        "s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM n), " +
        "v AS (SELECT doc_id, n, i, " +
        "(i*31 + doc_id*17) % 4096 - 2048 AS smp FROM s), " +
        "w AS (SELECT doc_id, n, i, smp, " +
        "lag(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prv FROM v) " +
        "SELECT doc_id, CAST(max(n) AS INT) AS n_samples, " +
        "CAST(8000 AS INT) AS sample_rate, " +
        "CAST(sum(smp) AS BIGINT) AS s_sum, " +
        "CAST(sum(abs(smp)) AS BIGINT) AS abs_sum, " +
        "CAST(min(smp) AS INT) AS s_min, " +
        "CAST(max(smp) AS INT) AS s_max, " +
        "CAST(sum((i+1)*smp) AS BIGINT) AS pos_sum, " +
        "CAST(sum(CASE WHEN prv IS NOT NULL AND " +
        "((smp < 0) <> (prv < 0)) THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS zero_cross " +
        "FROM w GROUP BY doc_id ORDER BY doc_id"),
    // the mm06 closed form pushed through the SAME 2:1 truncating-mean
    // decimation: block j averages samples 2j..2j+1 (odd tails keep
    // their single sample), then the mm06 feature tail over the
    // downsampled series at rate 4000
    "mm14_audio_resample" ->
      ("WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1 " +
        "ORDER BY doc_id LIMIT 40), " +
        "n AS (SELECT doc_id, CAST(doc_id % 300 + 50 AS INT) AS n FROM d), " +
        "s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM n), " +
        "v AS (SELECT doc_id, n, i, " +
        "(i*31 + doc_id*17) % 4096 - 2048 AS smp FROM s), " +
        "b AS (SELECT doc_id, i // 2 AS j, " +
        "CAST(sum(smp) AS BIGINT) // count(*) AS smp2 " +
        "FROM v GROUP BY doc_id, i // 2), " +
        "w AS (SELECT doc_id, j, smp2, " +
        "lag(smp2) OVER (PARTITION BY doc_id ORDER BY j) AS prv FROM b) " +
        "SELECT doc_id, CAST(count(*) AS INT) AS n_samples, " +
        "CAST(4000 AS INT) AS sample_rate, " +
        "CAST(sum(smp2) AS BIGINT) AS s_sum, " +
        "CAST(sum(abs(smp2)) AS BIGINT) AS abs_sum, " +
        "CAST(min(smp2) AS INT) AS s_min, " +
        "CAST(max(smp2) AS INT) AS s_max, " +
        "CAST(sum((j+1)*smp2) AS BIGINT) AS pos_sum, " +
        "CAST(sum(CASE WHEN prv IS NOT NULL AND " +
        "((smp2 < 0) <> (prv < 0)) THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS zero_cross " +
        "FROM w GROUP BY doc_id ORDER BY doc_id"),
    // every pixel of every frame replayed from the closed form
    // pxV(doc,f,x,y) = (x*7 + y*13 + doc_id + f*29) % 256
    "mm07_video_frames" ->
      ("WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2 " +
        "ORDER BY doc_id LIMIT 30), " +
        "dim AS (SELECT doc_id, CAST(doc_id % 5 + 2 AS INT) AS n, " +
        "doc_id % 20 + 6 AS w, doc_id % 12 + 5 AS h FROM d), " +
        "fr AS (SELECT doc_id, w, h, unnest(range(0, n)) AS f FROM dim), " +
        "xs AS (SELECT doc_id, w, h, f, unnest(range(0, w)) AS x FROM fr), " +
        "px AS (SELECT doc_id, w, h, f, x, unnest(range(0, h)) AS y FROM xs), " +
        "v AS (SELECT doc_id, w, h, f, x, y, " +
        "(x*7 + y*13 + doc_id + f*29) % 256 AS g FROM px) " +
        "SELECT doc_id, CAST(f AS INT) AS frame_idx, " +
        "CAST(max(w) AS INT) AS width, CAST(max(h) AS INT) AS height, " +
        "CAST(sum(g) AS BIGINT) AS g_sum, " +
        "CAST(sum((x+1)*(y+1)*g) AS BIGINT) AS pos_sum " +
        "FROM v GROUP BY doc_id, f ORDER BY doc_id, frame_idx"),
  )
}
