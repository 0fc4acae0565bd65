package graft
package gates

import graft.functions.Vectors
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Query gates — multimodal and media metadata. Each gate pairs its Spark
  * query with the DuckDB oracle SQL the correctness gate compares it against. */
private[graft] object MediaGates {
  import Shared._
  val gates: Seq[Gate] = Seq(
    // §2#35 multimodal metadata: REAL byte-level container parse. The gate
    // constructs real PNG/JPEG/GIF/BMP container bytes IN-PLAN from
    // per-doc parameters (Multimodal.syntheticImage — spec-faithful
    // headers via hex/unhex), then parses them back with the native
    // ImageMeta expression; the oracle re-derives every field
    // arithmetically from the same parameters, so the hash equality
    // proves parse(construct(p)) == p through actual encoded bytes.
    // Fully-valid golden files (CRC-correct PNG, camera-style JPEG,
    // WebP) are pinned byte-for-byte in ImageMetaSpec.
    Gate("q_multimodal_meta", (s, dir) => {
      val params = Tables.documents(s, dir).select(
        col("doc_id"),
        pmod(col("doc_id"), lit(4)).cast("int").as("fmt"),
        (lit(16) + pmod(col("doc_id") * 3, lit(1000))).cast("int").as("w"),
        (lit(16) + pmod(col("doc_id") * 7, lit(800))).cast("int").as("h"))
      val withBytes = params.withColumn("payload",
        Multimodal.syntheticImage(col("fmt"), col("w"), col("h"), col("doc_id")))
      Multimodal.extractMeta(withBytes, "doc_id", "payload")
        .select(col("doc_id"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("format"))
    },
      // arithmetic re-derivation of Multimodal.syntheticImage's parameters
      // and serialized byte counts — the Spark side must recover them by
      // PARSING the constructed container bytes (see the query)
      """SELECT doc_id,
        |  cast(CASE doc_id % 4 WHEN 0 THEN 45
        |    WHEN 1 THEN CASE WHEN doc_id % 5 = 0 THEN 35 ELSE 41 END
        |    WHEN 2 THEN 14 ELSE 54 END AS bigint) AS n_bytes,
        |  cast(16 + (doc_id * 3) % 1000 AS bigint) AS width,
        |  cast(16 + (doc_id * 7) % 800 AS bigint) AS height,
        |  cast(CASE doc_id % 4
        |    WHEN 0 THEN CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END
        |    WHEN 1 THEN CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END
        |    WHEN 2 THEN 3
        |    ELSE CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 3 END END AS bigint)
        |    AS channels,
        |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    WHEN 2 THEN 'gif' ELSE 'bmp' END AS format
        |FROM documents""".stripMargin),

    // §2#35c audio/video container metadata: the q_multimodal_meta device
    // for the OTHER container families a corpus's binary columns carry —
    // real WAV/RIFF bytes (fmt chunk + zero-filled data chunk), real
    // MP4/ISO-BMFF box trees (ftyp + moov{mvhd + trak{tkhd + mdia{mdhd +
    // hdlr + minf/stbl/stsd}}}) and real MKV/EBML element trees (EBML
    // header + Segment{Info + Tracks/TrackEntry}, variable-length-int
    // encoded) constructed IN-PLAN from per-doc parameters, then parsed
    // back with the native MediaMeta walk (O(header), codegen, NULL on
    // the planted corrupt rows). The oracle re-derives every field
    // arithmetically — including the WAV duration's exact integer
    // division and the MKV audio spec-default sample rate — so hash
    // equality proves parse(construct(p)) == p through actual bytes
    Gate("q_multimodal_av", (s, dir) => {
      val p = Tables.documents(s, dir).select(
        col("doc_id"),
        pmod(col("doc_id"), lit(6)).cast("int").as("fmt"),
        (lit(1) + pmod(col("doc_id"), lit(2))).cast("int").as("ch"),
        (lit(8000) + pmod(col("doc_id") * 37, lit(32000))).cast("int").as("rate"),
        (lit(8) + pmod(col("doc_id"), lit(2)) * 8).cast("int").as("bits"),
        pmod(col("doc_id") * 5, lit(256)).cast("int").as("db"),
        (lit(16) + pmod(col("doc_id") * 3, lit(1920))).cast("int").as("w"),
        (lit(16) + pmod(col("doc_id") * 7, lit(1080))).cast("int").as("h"),
        (lit(500) + pmod(col("doc_id") * 11, lit(60000))).cast("int").as("durms"))
      val withBytes = p.withColumn("payload",
        Multimodal.syntheticMedia(col("fmt"), col("ch"), col("rate"),
          col("bits"), col("db"), col("w"), col("h"), col("durms")))
      Multimodal.extractAvMeta(withBytes, "doc_id", "payload")
    },
      // arithmetic re-derivation of syntheticMedia's parameters and
      // serialized byte counts — WAV 44 + data bytes, the MP4 box trees'
      // layout constants (423 video / 373 audio), the corrupt row's 6 bytes;
      // WAV duration replays the parser's exact integer division
      """WITH p AS (SELECT doc_id,
        |    doc_id % 6 AS fmt,
        |    1 + doc_id % 2 AS ch,
        |    8000 + (doc_id * 37) % 32000 AS rate,
        |    8 + (doc_id % 2) * 8 AS bits,
        |    (doc_id * 5) % 256 AS db,
        |    16 + (doc_id * 3) % 1920 AS w,
        |    16 + (doc_id * 7) % 1080 AS h,
        |    500 + (doc_id * 11) % 60000 AS durms
        |  FROM documents)
        |SELECT doc_id,
        |  cast(CASE fmt WHEN 0 THEN 44 + db WHEN 1 THEN 423 WHEN 2 THEN 373
        |    WHEN 4 THEN 91 WHEN 5 THEN 86 ELSE 6 END AS bigint) AS n_bytes,
        |  CASE WHEN fmt = 0 THEN 'wav' WHEN fmt IN (1, 2) THEN 'mp4'
        |    WHEN fmt IN (4, 5) THEN 'mkv' END AS format,
        |  CASE WHEN fmt IN (0, 2, 5) THEN 'audio' WHEN fmt IN (1, 4)
        |    THEN 'video' END AS media_type,
        |  cast(CASE WHEN fmt IN (0, 2, 5) THEN ch END AS bigint) AS channels,
        |  cast(CASE WHEN fmt IN (0, 2) THEN rate
        |    WHEN fmt = 5 THEN 8000 END AS bigint) AS sample_rate,
        |  cast(CASE WHEN fmt = 0 THEN bits END AS bigint) AS bits_per_sample,
        |  cast(CASE WHEN fmt IN (1, 4) THEN w END AS bigint) AS width,
        |  cast(CASE WHEN fmt IN (1, 4) THEN h END AS bigint) AS height,
        |  cast(CASE WHEN fmt = 0 THEN (db * 1000) // (rate * ch * (bits // 8))
        |    WHEN fmt IN (1, 2) THEN durms END AS bigint) AS duration_ms
        |FROM p""".stripMargin),

    // §2#35e CLIP-score filtering (DataComp, arXiv:2304.14108) — THE
    // image-text curation filter: keep pairs whose two-tower embedding
    // cosine clears a threshold. The encoders are the multimodal family's
    // deterministic stub (the q_multimodal_patches discipline — no image
    // libs in this container): the caption tower reuses the image
    // vector's EXACT float values, aligned pairs with one component
    // negated (cos ≈ 1 − 2e²), the planted ~20 % mismatches reversed
    // (cos ≈ 0 on uniform vectors). The FILTER layer — the sequential
    // double-fold cosine, thresholding, keep decision — is the real
    // operator and replays bit-exact (reorder/negation of floats is
    // exact, the q_knn_brute fold discipline). Scale shape: pure
    // scan-side projection, zero shuffle, codegen'd FloatDot.
    Gate("q_clip_filter", (s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val caption = when(pmod(col("vec_id"), lit(5L)) === 0L,
          reverse(col("embedding")))
        .otherwise(concat(slice(col("embedding"), 1, 63),
          array((-element_at(col("embedding"), 64)).cast("float"))))
      emb.withColumn("cap_vec", caption)
        .withColumn("clip_score",
          graft.functions.Vectors.cosine(col("embedding"), col("cap_vec")))
        .select(col("vec_id"), col("clip_score"),
          (col("clip_score") >= 0.5).as("kept"))
    },
      // CLIP filter: caption tower = exact float reorder/negation of the
      // image vector, cosine = the q_knn_brute sequential-fold discipline
      s"""WITH cap AS (
        |  SELECT vec_id, embedding AS v,
        |    CASE WHEN vec_id % 5 = 0 THEN list_reverse(embedding)
        |      ELSE list_append(embedding[1:63], -embedding[64]) END AS c
        |  FROM embeddings
        |), nrm AS (
        |  SELECT vec_id, v, c, ${normSql("v")} AS nv, ${normSql("c")} AS nc FROM cap
        |), cs AS (
        |  SELECT vec_id, ${cosineSql("v", "nv", "c", "nc")} AS clip_score FROM nrm
        |)
        |SELECT vec_id, clip_score, clip_score >= 0.5 AS kept FROM cs""".stripMargin),

    // §2#35d audio-CODEC container metadata — MediaMeta's remaining
    // families (FLAC STREAMINFO bit fields, ID3v2 + MPEG-1 Layer III MP3
    // with the CBR duration estimate, Ogg first pages carrying Vorbis and
    // Opus id packets), gated with the same construct-then-parse device:
    // real container bytes built in-plan, fmt 4 a truncated-STREAMINFO
    // corrupt row whose metadata must come back NULL with n_bytes intact
    Gate("q_media_audio", (s, dir) => {
      val p = Tables.documents(s, dir).select(
        col("doc_id"),
        pmod(col("doc_id"), lit(6)).cast("int").as("fmt"),
        (lit(1) + pmod(col("doc_id"), lit(2))).cast("int").as("ch"),
        (lit(8000) + pmod(col("doc_id") * 37, lit(32000))).cast("int").as("rate"),
        (lit(8) + pmod(col("doc_id"), lit(3)) * lit(4)).cast("int").as("bits"),
        (lit(1000) + pmod(col("doc_id") * 13, lit(100000))).cast("long").as("samples"),
        (lit(1) + pmod(col("doc_id"), lit(14))).cast("int").as("br_idx"),
        pmod(col("doc_id"), lit(3)).cast("int").as("sr_idx"),
        pmod(col("doc_id") * 3, lit(4)).cast("int").as("ch_mode"),
        pmod(col("doc_id") * 5, lit(256)).cast("int").as("db"))
      val withBytes = p.withColumn("payload",
        Multimodal.syntheticAudio(col("fmt"), col("ch"), col("rate"),
          col("bits"), col("samples"), col("br_idx"), col("sr_idx"),
          col("ch_mode"), col("db")))
      Multimodal.extractAvMeta(withBytes, "doc_id", "payload")
    },
      // audio-codec twin: expected metadata derived arithmetically from the
      // same parameter draws the Spark side synthesizes container bytes from
      """WITH p AS (SELECT doc_id,
        |    doc_id % 6 AS fmt,
        |    1 + doc_id % 2 AS ch,
        |    8000 + (doc_id * 37) % 32000 AS rate,
        |    8 + (doc_id % 3) * 4 AS bits,
        |    1000 + (doc_id * 13) % 100000 AS samples,
        |    1 + doc_id % 14 AS br_idx,
        |    doc_id % 3 AS sr_idx,
        |    (doc_id * 3) % 4 AS ch_mode,
        |    (doc_id * 5) % 256 AS db
        |  FROM documents),
        |k AS (SELECT *,
        |    [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
        |     320][br_idx] AS kbps
        |  FROM p)
        |SELECT doc_id,
        |  cast(CASE fmt WHEN 0 THEN 42 WHEN 1 THEN 14 + db WHEN 2 THEN 58
        |    WHEN 3 THEN 47
        |    WHEN 5 THEN 26 + (CASE WHEN ch_mode = 3 THEN 17 ELSE 32 END) + db
        |    ELSE 18 END AS bigint) AS n_bytes,
        |  CASE WHEN fmt = 0 THEN 'flac' WHEN fmt IN (1, 5) THEN 'mp3'
        |    WHEN fmt IN (2, 3) THEN 'ogg' END AS format,
        |  CASE WHEN fmt IN (0, 1, 2, 3, 5) THEN 'audio' END AS media_type,
        |  cast(CASE WHEN fmt IN (0, 2, 3) THEN ch
        |    WHEN fmt IN (1, 5) THEN CASE WHEN ch_mode = 3 THEN 1 ELSE 2 END
        |    END AS bigint) AS channels,
        |  cast(CASE WHEN fmt IN (0, 2, 3) THEN rate
        |    WHEN fmt IN (1, 5) THEN CASE sr_idx WHEN 0 THEN 44100
        |      WHEN 1 THEN 48000 ELSE 32000 END
        |    END AS bigint) AS sample_rate,
        |  cast(CASE WHEN fmt = 0 THEN bits END AS bigint) AS bits_per_sample,
        |  cast(NULL AS bigint) AS width,
        |  cast(NULL AS bigint) AS height,
        |  cast(CASE WHEN fmt = 0 THEN (samples * 1000) // rate
        |    WHEN fmt = 1 THEN ((4 + db) * 8) // kbps
        |    WHEN fmt = 5 THEN (samples * 1152 * 1000) //
        |      (CASE sr_idx WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |        ELSE 32000 END) END AS bigint)
        |    AS duration_ms
        |FROM k""".stripMargin),

    // §2#35b multimodal patch/frame feature extraction (stubbed encoder;
    // rows-only oracle — the plumbing is explode-to-patch-grain with
    // array<float> features feeding the Similarity operators). The gate
    // output projects the feature vector to scalar summaries (L2 norm /
    // sum) because the driver's pandas comparator can't hash array cells;
    // the raw-array path is exercised by MultimodalSpec + Similarity ops.
    Gate("q_multimodal_patches", (s, dir) =>
      Multimodal.extractPatchFeatures(
          Tables.documents(s, dir)
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
          "doc_id", "payload")
        .select(
          col("doc_id"), col("patch_idx").cast("long").as("patch_idx"),
          sqrt(aggregate(col("features"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))).as("feat_l2"),
          aggregate(col("features"), lit(0.0),
            (acc, x) => acc + x.cast("double")).as("feat_sum")),
      // exact oracle for the stubbed patch encoder: the stub accumulates byte
      // histogram stripes in double with one float rounding per stripe, which
      // DuckDB replicates via the same sequential folds (text is ASCII, so
      // char positions == UTF-8 byte offsets)
      s"""WITH d AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |), patches AS (
        |  SELECT doc_id, text, n, unnest(generate_series(0, (n - 1) // 256)) AS patch_idx
        |  FROM d WHERE n > 0
        |), feats AS (
        |  SELECT doc_id, patch_idx,
        |    list_transform(generate_series(0, 7), s ->
        |      CASE WHEN patch_idx * 256 + 1 + s > least(n, (patch_idx + 1) * 256) THEN cast(0.0 AS real)
        |      ELSE cast(
        |        list_reduce(
        |          list_transform(
        |            generate_series(patch_idx * 256 + 1 + s, least(n, (patch_idx + 1) * 256), 8),
        |            j -> cast(ascii(substring(text, j, 1)) AS double) / 255.0),
        |          (acc, x) -> acc + x)
        |        AS real) END) AS features
        |  FROM patches
        |)
        |SELECT doc_id, cast(patch_idx AS bigint) AS patch_idx,
        |  ${normSql("features")} AS feat_l2,
        |  ${floatFoldSql("features", "cast(features[i] AS double)")} AS feat_sum
        |FROM feats""".stripMargin)
  )
}
