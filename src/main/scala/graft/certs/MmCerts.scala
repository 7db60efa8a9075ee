package graft
package certs

import org.apache.spark.sql.functions._

import graft.certs.Fixtures.withTempDir
import graft.sources.Tables

/** Multimodal certificates: synthetic images and audio, decoded, hashed
  * and paired. */
object MmCerts {

  lazy val certs: Seq[Cert] = Seq(
    // frame-sampling schedule over synthetic video durations (derived
    // deterministically from n_chars so the oracle shares the input)
    Cert("mm_frame_schedule", (s, d) =>
      graft.multimodal.Multimodal.frameSchedule(
        Tables.documents(s, d).select(col("doc_id").as("media_id"),
          (col("n_chars") * lit(100L)).as("duration_ms")), 5)
        .orderBy(col("media_id"), col("frame_idx")),
      // floor() on both sides: DuckDB CAST(double AS INT) rounds while
      // Spark's truncates, but floor-then-cast agrees everywhere
      ("WITH m AS (SELECT doc_id AS media_id, n_chars * 100 AS duration_ms FROM documents), " +
        "n AS (SELECT media_id, duration_ms, " +
        "CAST(least(5, greatest(floor(duration_ms / 1000), 1)) AS INT) AS n_frames FROM m), " +
        "f AS (SELECT media_id, n_frames, duration_ms, " +
        "CAST(unnest(range(0, n_frames)) AS INT) AS frame_idx FROM n) " +
        "SELECT media_id, n_frames, frame_idx, " +
        "CAST(floor(duration_ms * (frame_idx * 2 + 1) / (n_frames * 2)) AS BIGINT) AS ts_ms " +
        "FROM f ORDER BY media_id, frame_idx")),

    // ----- multimodal plumbing (binary column features; image decode is
    //       REAL via JDK ImageIO, audio/video stay stubbed)
    Cert("mm_binary_features", (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        ascii(substring(col("text"), 1, 1)).as("first_code"),
        md5(col("text")).as("content_hash"))
        .orderBy(col("doc_id")),
      ("SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes, " +
        "CAST(ascii(substr(text, 1, 1)) AS INT) AS first_code, md5(text) AS content_hash " +
        "FROM documents ORDER BY doc_id")),
    // the REAL decode certified end-to-end: deterministic two-band PNGs
    // are encoded on the executors, ImageIO-decoded back, and the exact
    // pixel sums must match the oracle's closed-form expectation
    Cert("mm_decode_features", (s, d) =>
      graft.multimodal.Multimodal.decodeImageStats(
        graft.multimodal.Multimodal.syntheticImages(Tables.documents(s, d)))
        .toDF()
        .orderBy(col("media_id")),
      // closed-form pixel sums of the two-band synthetic PNGs: left wa
      // columns in color A, the rest in color B, per-channel colors
      // (doc_id·m) mod 256 — matches Multimodal.syntheticImages exactly;
      // equality proves ImageIO returned the encoded pixels verbatim
      ("WITH g AS (SELECT doc_id AS media_id, " +
        "8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h, (8 + doc_id % 9) // 2 AS wa, " +
        "doc_id*37 % 256 AS ra, doc_id*59 % 256 AS ga, doc_id*83 % 256 AS ba, " +
        "doc_id*101 % 256 AS rb, doc_id*131 % 256 AS gb, doc_id*151 % 256 AS bb " +
        "FROM documents) " +
        "SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(w*h AS BIGINT) AS n_pixels, " +
        "CAST(h*(wa*ra + (w-wa)*rb) AS BIGINT) AS sum_r, " +
        "CAST(h*(wa*ga + (w-wa)*gb) AS BIGINT) AS sum_g, " +
        "CAST(h*(wa*ba + (w-wa)*bb) AS BIGINT) AS sum_b " +
        "FROM g ORDER BY media_id")),
    // the multimodal story CLOSED ON THE NATIVE FORMAT: the binary
    // media blobs live in a graft-segment table (binary + small-int
    // metadata columns), and the REAL ImageIO decode runs off the
    // segment scan — byte fidelity proven by the same closed-form
    // pixel-sum oracle as the parquet route. At 100 TB this is the
    // media lakehouse shape: blobs co-located with their typed
    // metadata under one transactional log (GDPR deletes via DVs,
    // time travel, CDC), not a parquet sidecar
    Cert("mm_decode_segment", (s, d) => withTempDir("graft-mmseg") { base =>
      val dir = s"$base/media"
      graft.multimodal.Multimodal.syntheticImages(Tables.documents(s, d))
        .toDF()
        .write.format("graft-segment")
        .option("clusterBy", "media_id").option("numPartitions", "8")
        .mode("append").save(dir)
      import s.implicits._
      graft.multimodal.Multimodal.decodeImageStats(
        s.read.format("graft-segment").load(dir)
          .as[graft.multimodal.Multimodal.MediaRecord])
        .toDF()
        .orderBy(col("media_id"))
    },
      ("WITH g AS (SELECT doc_id AS media_id, " +
        "8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h, (8 + doc_id % 9) // 2 AS wa, " +
        "doc_id*37 % 256 AS ra, doc_id*59 % 256 AS ga, doc_id*83 % 256 AS ba, " +
        "doc_id*101 % 256 AS rb, doc_id*131 % 256 AS gb, doc_id*151 % 256 AS bb " +
        "FROM documents) " +
        "SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(w*h AS BIGINT) AS n_pixels, " +
        "CAST(h*(wa*ra + (w-wa)*rb) AS BIGINT) AS sum_r, " +
        "CAST(h*(wa*ga + (w-wa)*gb) AS BIGINT) AS sum_g, " +
        "CAST(h*(wa*ba + (w-wa)*bb) AS BIGINT) AS sum_b " +
        "FROM g ORDER BY media_id")),
    // the REAL resize path: ImageIO decode + explicit nearest-neighbor
    // resample to a fixed 16x12 thumbnail (the pinned src_x = x*w/16
    // floor-division convention), per-channel sums of the RESIZED
    // raster vs the oracle's generate_series count of band-A samples
    Cert("mm_resize_features", (s, d) =>
      graft.multimodal.Multimodal.resizeImageStats(
        graft.multimodal.Multimodal.syntheticImages(Tables.documents(s, d)), 16, 12)
        .toDF()
        .orderBy(col("media_id")),
      // closed-form resize oracle: the target row samples source column
      // (x*w)//16, which lands in band A iff (x*w)//16 < wa — the count
      // of band-A samples over x in 0..15 is a generate_series aggregate,
      // and every target row repeats it (the source has no y-variation)
      ("WITH g AS (SELECT doc_id AS media_id, " +
        "8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h, (8 + doc_id % 9) // 2 AS wa, " +
        "doc_id*37 % 256 AS ra, doc_id*59 % 256 AS ga, doc_id*83 % 256 AS ba, " +
        "doc_id*101 % 256 AS rb, doc_id*131 % 256 AS gb, doc_id*151 % 256 AS bb " +
        "FROM documents), " +
        "cnt AS (SELECT *, " +
        "(SELECT count(*) FROM generate_series(0, 15) t(x) WHERE (x * w) // 16 < wa) AS n_a " +
        "FROM g) " +
        "SELECT media_id, CAST(w AS INT) AS src_w, CAST(h AS INT) AS src_h, " +
        "CAST(16 AS INT) AS out_w, CAST(12 AS INT) AS out_h, " +
        "CAST(12 * (n_a * ra + (16 - n_a) * rb) AS BIGINT) AS sum_r, " +
        "CAST(12 * (n_a * ga + (16 - n_a) * gb) AS BIGINT) AS sum_g, " +
        "CAST(12 * (n_a * ba + (16 - n_a) * bb) AS BIGINT) AS sum_b " +
        "FROM cnt ORDER BY media_id")),
    // the REAL audio path, same certification shape: deterministic
    // square-wave WAVs encoded on the executors, AudioSystem-decoded
    // back, exact PCM sums vs the oracle's closed forms
    Cert("mm_audio_features", (s, d) =>
      graft.multimodal.Multimodal.decodeAudioStats(
        graft.multimodal.Multimodal.syntheticAudio(Tables.documents(s, d)))
        .toDF()
        .orderBy(col("media_id")),
      // closed-form PCM stats of the synthetic square-wave WAVs: every
      // sample is exactly ±A, so sum_abs = n·A and peak = A — matches
      // Multimodal.syntheticAudio; equality proves the AudioSystem
      // round trip returned the encoded samples verbatim
      ("WITH g AS (SELECT doc_id AS media_id, " +
        "(doc_id*97) % 16384 + 1000 AS amp, 400 + doc_id % 50 AS n FROM documents) " +
        "SELECT media_id, CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels, " +
        "CAST(n AS BIGINT) AS n_frames, CAST(n * amp AS BIGINT) AS sum_abs, " +
        "CAST(amp AS INT) AS peak FROM g ORDER BY media_id")),
    // perceptual-hash near-dup over REAL decoded pixels: brightness-
    // shifted variants of one gradient image hash identically (bytes
    // differ — exact dedup misses them); banded Hamming join pairs them,
    // and the brute-force DuckDB oracle re-derives every dHash in closed
    // form, checking complete recall at Hamming ≤ 3
    Cert("mm_phash_pairs", (s, d) =>
      graft.multimodal.Phash.pairs(
        graft.multimodal.Multimodal.syntheticGradientImages(Tables.documents(s, d)), 3),
      // closed-form dHash of the synthetic gradient PNGs, brute-force
      // paired: the 9×8 sampled luma grid is (base + 2x·k) % 252 + v
      // (variant-3 bottom-row perturbation copies sampled x=3), the hash
      // accumulates per-bit in HUGEINT and wraps to signed 64, and pairs
      // are ALL-pairs Hamming ≤ 3 — deliberately not banded, so equality
      // certifies the Spark side's decode → downsample → dHash → banded
      // join loses nothing (same pigeonhole argument as dedup_simhash_pairs)
      ("WITH p AS (SELECT doc_id AS media_id, (doc_id // 4) * 37 % 252 AS base, " +
        "7 + (doc_id // 4) % 11 AS k, 3 + (doc_id // 4) % 5 AS j, doc_id % 4 AS v FROM documents), " +
        "grid AS (SELECT media_id, x, y, CASE WHEN v = 3 AND y = 7 AND x = 4 " +
        "THEN (base + 6 * k + 14 * j) % 252 + v ELSE (base + 2 * x * k + 2 * y * j) % 252 + v END AS gval " +
        "FROM p, (SELECT unnest([0,1,2,3,4,5,6,7,8]) AS x), " +
        "(SELECT unnest([0,1,2,3,4,5,6,7]) AS y)), " +
        "bits AS (SELECT a.media_id, a.x, a.y, (b.gval > a.gval) AS bit " +
        "FROM grid a JOIN grid b ON a.media_id = b.media_id AND a.y = b.y AND b.x = a.x + 1 " +
        "WHERE a.x < 8), " +
        "h AS (SELECT media_id, SUM(CASE WHEN bit THEN 1::HUGEINT << (y*8 + x) " +
        "ELSE 0::HUGEINT END) AS hh FROM bits GROUP BY media_id), " +
        "sig AS (SELECT media_id, CAST(CASE WHEN hh >= 9223372036854775808 " +
        "THEN hh - 18446744073709551616 ELSE hh END AS BIGINT) AS phash FROM h) " +
        "SELECT a.media_id AS media_a, b.media_id AS media_b, " +
        "CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming " +
        "FROM sig a JOIN sig b ON a.media_id < b.media_id " +
        "WHERE bit_count(xor(a.phash, b.phash)) <= 3 ORDER BY media_a, media_b")),
    // acoustic-fingerprint near-dup over REAL decoded PCM: volume-
    // shifted copies of one amplitude envelope hash identically (their
    // WAV bytes all differ — exact dedup misses them); the oracle
    // re-derives every envelope hash in closed form and brute-forces
    // pairs, certifying complete banded recall at Hamming ≤ 3
    Cert("mm_audio_dup_pairs", (s, d) =>
      graft.multimodal.AudioFp.pairs(
        graft.multimodal.AudioFp.syntheticAmAudio(Tables.documents(s, d)), 3),
      // closed-form envelope hash of the AM synthetic WAVs, brute-force
      // paired: window k's amplitude is 600 + ((c+7)(k+3)·13) % 900 + off
      // with c = doc_id % 50 and the volume offset cancelling out of
      // every rise/fall comparison, so bit k = base(k+1) > base(k); the
      // 31-bit hash fits BIGINT directly. All-pairs ≤ 3 certifies the
      // Spark side's decode → energy → hash → banded join loses nothing
      ("WITH p AS (SELECT doc_id AS media_id, doc_id % 50 AS c FROM documents), " +
        "e AS (SELECT media_id, k, 600 + ((c+7)*(k+3)*13) % 900 AS base " +
        "FROM p, (SELECT unnest(range(0, 32)) AS k)), " +
        "bits AS (SELECT a.media_id, a.k, (b.base > a.base) AS bit " +
        "FROM e a JOIN e b ON a.media_id = b.media_id AND b.k = a.k + 1 WHERE a.k < 31), " +
        "h AS (SELECT media_id, SUM(CASE WHEN bit THEN 1::BIGINT << k ELSE 0::BIGINT END) AS afp " +
        "FROM bits GROUP BY media_id) " +
        "SELECT a.media_id AS media_a, b.media_id AS media_b, " +
        "CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming " +
        "FROM h a JOIN h b ON a.media_id < b.media_id " +
        "WHERE bit_count(xor(a.afp, b.afp)) <= 3 ORDER BY media_a, media_b"))
  )
}
