package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import graft.operators.Multimodal
import Q._

/** Oracle-gated coverage for the multimodal column plumbing
  * (operators/Multimodal): media as opaque `binary` + typed metadata,
  * featurized partition-at-a-time. The real codecs (ImageIO / javax.sound)
  * are value-tested on real encoded payloads in MultimodalSpec — DuckDB
  * cannot decode pixels — but the PIPELINE (binary column construction, the
  * Dataset[MediaRow] contract, per-partition decoder dispatch, the
  * MediaFeatures schema) is hash-gated here by running the deterministic
  * byte-statistics decoder over payloads both engines can construct
  * identically: the documents' UTF-8 bytes (`cast(text AS BINARY)` ==
  * DuckDB `encode(text)`).
  */
object MultimodalQueries {

  // (registered below; round-11 adds v06_video_neardup, closing the
  // image/audio/video near-dup triangle on the hash gate)
  val all: Seq[Q] = Seq(

    // ---- byte-level media featurization on the hash gate: n_bytes, exact
    // mean byte, the 16-bucket byte histogram (signature string so the
    // compare is order-pinned), and the pseudo-frame count — FakeDecoder's
    // exact contract. The oracle re-derives every byte through hex()
    // unnesting, so payload construction AND the feature math are proven
    // cross-engine, not just row counts. ----
    Q("v01_media_bytestats",
      (s, dir) => {
        val media = T(s, dir, "documents")
          .select(col("doc_id").as("media_id"), lit("text/plain").as("mime"),
            coalesce(col("text"), lit("")).cast("binary").as("payload"))
          .as[Multimodal.MediaRow](Encoders.product[Multimodal.MediaRow])
        Multimodal.featurize(media, Multimodal.FakeDecoder, frameStride = 64)
          .toDF()
          .select(col("media_id"), col("n_bytes"), col("mean_byte"),
            array_join(transform(col("byte_hist"), x => x.cast("string")), ",")
              .as("hist_sig"),
            col("frames_sampled").cast("long").as("frames_sampled"))
      },
      Some("""WITH src AS (
          SELECT doc_id, hex(encode(coalesce(text, ''))) AS hx,
            octet_length(encode(coalesce(text, ''))) AS n
          FROM documents),
        bytes AS (
          SELECT doc_id,
            ('0x' || substr(hx, 2*CAST(i AS INT)+1, 2))::INT AS v
          FROM (SELECT doc_id, hx, unnest(range(n)) AS i FROM src) u),
        hist AS (
          SELECT doc_id, v // 16 AS bucket, count(*) AS c
          FROM bytes GROUP BY 1, 2),
        grid AS (
          SELECT s.doc_id, g.bucket, coalesce(h.c, 0) AS c
          FROM src s
          CROSS JOIN (SELECT unnest(range(16)) AS bucket) g
          LEFT JOIN hist h ON h.doc_id = s.doc_id AND h.bucket = g.bucket),
        sig AS (
          SELECT doc_id,
            string_agg(CAST(c AS VARCHAR), ',' ORDER BY bucket) AS hist_sig
          FROM grid GROUP BY 1),
        agg AS (
          SELECT doc_id, CAST(sum(v) AS BIGINT) AS sumv FROM bytes GROUP BY 1)
        SELECT s.doc_id AS media_id, CAST(s.n AS BIGINT) AS n_bytes,
          CASE WHEN s.n = 0 THEN 0.0
               ELSE CAST(a.sumv AS DOUBLE) / CAST(s.n AS DOUBLE) END AS mean_byte,
          g.hist_sig,
          CAST(s.n // 65536 + 1 AS BIGINT) AS frames_sampled
        FROM src s
        JOIN sig g USING (doc_id)
        LEFT JOIN agg a USING (doc_id)"""), bench = true),

    // ---- video-style FRAME SAMPLING on the hash gate: payloads are
    // segmented into fixed 32-byte frames and every 4th frame is sampled —
    // the "decode only every Nth frame" access pattern of video curation —
    // entirely COLUMNAR (binary substring + stepped sequence, no UDF), with
    // a per-frame md5 fingerprint (the unit of frame-level dedup: repeated
    // intros/credits collapse on it) over the frame's canonical hex form,
    // which both engines can construct byte-identically. The tail frame's
    // length is pinned (least(32, n - off)), so the hash proves slicing
    // geometry, stride arithmetic, AND fingerprint bytes cross-engine.
    // Scale shape: one projection + explode per media row — frames never
    // shuffle (features do), payload bytes are read once, and the explode
    // fan-out is bounded by n_bytes/(frameLen*stride) per row. Real pixel
    // decode stays behind the Decoder seam (MultimodalSpec); this gates
    // the sampling plumbing a real codec would sit inside. ----
    Q("v02_frame_sample",
      (s, dir) => {
        val media = T(s, dir, "documents")
          .select(col("doc_id").as("media_id"),
            coalesce(col("text"), lit("")).cast("binary").as("payload"))
          .withColumn("n", length(col("payload")).cast("long"))
          .filter(col("n") > 0)
        media
          .select(col("media_id"), col("payload"), col("n"),
            explode(expr("sequence(0, (n + 31) div 32 - 1, 4)")).as("frame_idx"))
          .select(col("media_id"), col("frame_idx"),
            (col("frame_idx") * 32).as("frame_off"),
            least(lit(32L), col("n") - col("frame_idx") * 32).as("flen"),
            md5(upper(hex(expr(
              "substring(payload, CAST(frame_idx*32 + 1 AS INT), 32)"))))
              .as("frame_fp"))
      },
      Some("""WITH src AS (
          SELECT doc_id, upper(hex(encode(coalesce(text, '')))) AS hx,
            octet_length(encode(coalesce(text, ''))) AS n
          FROM documents),
        f AS (SELECT doc_id, n, hx, CAST(i AS BIGINT) AS frame_idx
          FROM (SELECT doc_id, n, hx, unnest(range(0, (n + 31) // 32, 4)) AS i
                FROM src WHERE n > 0) u)
        SELECT doc_id AS media_id, frame_idx,
          frame_idx * 32 AS frame_off,
          CAST(least(32, n - frame_idx * 32) AS BIGINT) AS flen,
          md5(substr(hx, CAST(frame_idx * 64 + 1 AS INTEGER),
            CAST(least(32, n - frame_idx * 32) * 2 AS INTEGER))) AS frame_fp
        FROM f"""), bench = true),

    // ---- image aHash on the hash gate (round-9 verdict ask #4): payloads
    // are 8×8 PRE-DECODED grayscale pixels (the thumbnailsRaw ingest seam —
    // raw bytes both engines construct identically: the doc's first 64
    // chars space-padded, v01's trick), so the mean-threshold hash bits
    // and the 4×16-bit SimHash-style band values are re-derived by the
    // oracle byte-for-byte. Codec decode + bilinear resize stay value-
    // tested on real encoded bytes in MultimodalSpec/ImageNearDupSpec —
    // pixels a SQL oracle cannot reach — but the near-dup MATH now has a
    // gate row, not just a spec. ----
    Q("v03_image_ahash",
      (s, dir) => ahashBands(s, dir)
        .select(col("media_id"), col("band"), col("bv")),
      Some(s"""WITH $ahashBandsSql
        SELECT doc_id AS media_id, band, bv FROM bands"""), bench = true),

    // ---- the image near-dup pairs themselves: candidates share at least
    // one full 16-bit band of the aHash (LSH banding — never all-pairs),
    // then exact 64-bit hamming distance ≤ 6 verifies. The hash gate
    // proves band bucketing, the candidate join, AND the hamming verify
    // cross-engine (the oracle sums per-band bit_counts; the engine
    // bit_counts the xor of the full hashes — two constructions, one
    // result). Scale shape: identical to t08's SimHash banding — pairs
    // come from band-bucket joins whose fan-out is bounded by bucket
    // occupancy, and the wide payload column never reaches the join. ----
    Q("v04_image_neardup",
      // Candidate dedup WITHOUT a shuffle: a pair sharing m bands meets in
      // m of the band-join's buckets, and both full hashes ride every
      // joined row — so "is THIS the pair's first matching band?" is a
      // per-row expression, and keeping only first-match rows yields each
      // pair exactly once. The previous .distinct() re-shuffled every
      // candidate row (~4× the pair count on the dense surface, where
      // twins share all four bands: 240 M rows at sf10) just to drop the
      // copies this filter now never emits. Emitted pair set is identical,
      // so the gate hash is unchanged.
      (s, dir) => {
        val bands = ahashBands(s, dir)
        val firstMatch = expr(
          """CASE
               WHEN (a_hash & 65535) = (b_hash & 65535) THEN 0
               WHEN (shiftright(a_hash, 16) & 65535) = (shiftright(b_hash, 16) & 65535) THEN 1
               WHEN (shiftright(a_hash, 32) & 65535) = (shiftright(b_hash, 32) & 65535) THEN 2
               ELSE 3
             END""")
        bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
              col("a.media_id") < col("b.media_id"))
          .select(col("a.media_id").as("a_id"), col("b.media_id").as("b_id"),
            col("a.ahash").as("a_hash"), col("b.ahash").as("b_hash"),
            col("a.band").as("band"))
          .filter(col("band") === firstMatch)
          .withColumn("hamming", expr("CAST(bit_count(a_hash ^ b_hash) AS INT)"))
          .filter(col("hamming") <= 6)
          .select(col("a_id"), col("b_id"), col("hamming"))
      },
      Some(s"""WITH $ahashBandsSql,
        cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a
          JOIN bands b ON a.band = b.band AND a.bv = b.bv
            AND a.doc_id < b.doc_id),
        ham AS (SELECT c.a_id, c.b_id,
            CAST(sum(bit_count(xor(ba.bv, bb.bv))) AS INT) AS hamming
          FROM cand c
          JOIN bands ba ON ba.doc_id = c.a_id
          JOIN bands bb ON bb.doc_id = c.b_id AND bb.band = ba.band
          GROUP BY 1, 2)
        SELECT a_id, b_id, hamming FROM ham WHERE hamming <= 6"""), bench = true),

    // ---- audio fingerprint on the hash gate (the last spec-only
    // multimodal leg): payloads are REAL PCM16 WAV files — a constant
    // canonical 44-byte header (mono, 8 kHz, 16-bit, exactly 260 data
    // bytes; hex literal below, derivation in the comment) prepended to
    // the doc's first 260 bytes space-padded, so the engine's
    // javax.sound decode parses actual WAV while the oracle skips the
    // header it knows byte-for-byte and re-derives the 130 little-endian
    // signed samples from hex. The sign-of-delta fingerprint over 65
    // equal windows (Multimodal.audioFingerprints — the production
    // operator, unchanged) is emitted as 4×16-bit bands like v03, so all
    // 64 bits are hash-gated without bigint sign games. decoded=1 rides
    // the output: a header the JDK stopped parsing would flip it to 0
    // and fail the gate loudly. ----
    Q("v05_audio_fingerprint",
      (s, dir) => {
        val media = T(s, dir, "documents")
          .select(col("doc_id").as("media_id"), lit("audio/wav").as("mime"),
            concat(unhex(lit(WavHeaderHex)),
              // byte-level pad/truncate (see ahashBands): 260 BYTES of
              // PCM data whatever the text's encoding width
              expr("rpad(substring(CAST(coalesce(text, '') AS BINARY), 1, 260), 260, X'20')"))
              .as("payload"))
          .as[Multimodal.MediaRow](Encoders.product[Multimodal.MediaRow])
        Multimodal.audioFingerprints(media).toDF()
          .select(col("media_id"), col("fp"), col("n_samples"),
            col("decoded").cast("int").as("decoded"),
            explode(expr("sequence(0, 3)")).as("band"))
          .withColumn("bv",
            expr("shiftright(fp, CAST(band * 16 AS INT)) & 65535"))
          .select(col("media_id"), col("band"), col("bv"),
            col("n_samples"), col("decoded"))
      },
      Some("""WITH src AS (
          SELECT doc_id,
            rpad(substr(hex(encode(coalesce(text, ''))), 1, 520), 520, '20') AS hx
          FROM documents),
        samp AS (SELECT doc_id, i,
            abs((CASE WHEN h >= 128 THEN h - 256 ELSE h END) * 256 + l) AS amp
          FROM (SELECT doc_id, CAST(i AS INT) AS i,
                  ('0x' || substr(hx, 4*CAST(i AS INT)+1, 2))::INT AS l,
                  ('0x' || substr(hx, 4*CAST(i AS INT)+3, 2))::INT AS h
                FROM (SELECT doc_id, hx, unnest(range(130)) AS i FROM src) u) v),
        win AS (SELECT doc_id, CAST(i // 2 AS INT) AS w, sum(amp)/2.0 AS m
          FROM samp GROUP BY 1, 2),
        bits AS (SELECT a.doc_id, a.w AS b,
            CASE WHEN n.m > a.m THEN 1 ELSE 0 END AS bit
          FROM win a JOIN win n ON n.doc_id = a.doc_id AND n.w = a.w + 1
          WHERE a.w < 64),
        bands AS (SELECT doc_id, CAST(b // 16 AS INT) AS band,
            CAST(sum((1 << (b % 16)) * bit) AS BIGINT) AS bv
          FROM bits GROUP BY 1, 2)
        SELECT doc_id AS media_id, band, bv,
          CAST(130 AS BIGINT) AS n_samples, 1 AS decoded
        FROM bands"""), bench = true),

    // ---- video near-dup pairs (closes the multimodal family): chain
    // v02's frame sampling → per-frame fingerprints → cross-video pairs,
    // the frame-level dedup v02's fingerprint is the unit of. Candidates
    // come from EXACT shared-frame buckets (the band-bucket pattern of
    // v04/t08 with the frame fingerprint as the band) and are verified by
    // the Jaccard overlap of the two videos' distinct-frame sets ≥ 0.5 —
    // repeated intros/credits collapse on the fingerprint, so videos
    // sharing most sampled frames pair up. Scale shape: a frame_fp whose
    // document frequency exceeds the cap (boilerplate frames — all-space
    // padding, shared headers) is EXCLUDED from candidate generation
    // (df ≤ 20, the t06/t36 DF-cap discipline), so bucket fan-out is
    // bounded and the join is never video×video; the Jaccard denominator
    // still uses the FULL distinct-frame sets, so the cap only loses
    // candidates that boilerplate alone would have suggested. The single
    // IEEE division over exact integer counts is hash-stable
    // cross-engine (the cosine trick). ----
    Q("v06_video_neardup",
      // engine body lives in operators/FrameDedup — ONE definition shared
      // with jobs/FrameIndex (the incremental ingest face), so the index
      // can never drift from the gated semantics. The integer-form
      // Jaccard filter (shared·2 ≥ n_a+n_b−shared) is exactly the
      // oracle's `>= 0.5` double compare: 0.5 is a power of two and the
      // operands are exact integers, so the IEEE division can only cross
      // the threshold with the true ratio (|2·shared − x| ≥ 1 keeps every
      // ratio ≥ 2⁻⁵⁴ away from rounding onto 0.5 for any x < 2⁵³).
      (s, dir) => {
        val media = T(s, dir, "documents")
          .select(col("doc_id").as("media_id"),
            coalesce(col("text"), lit("")).cast("binary").as("payload"))
        val fd = graft.operators.FrameDedup
        // r15: materialize the per-video frame sets ONCE and derive both
        // selfPairs sides AND the dictionary from the copy — the lazy DAG
        // re-ran the payload decode + per-frame md5 (the dominant scan
        // cost) three times (sets a-side, sets b-side, dictionary). The
        // sets frame is exactly the row the disk index stores, so the
        // materialization point matches FrameIndex's; exploding the
        // stored sets reproduces the distinct (media_id, frame_fp) rows
        // the dictionary counts, bit-identically.
        val sets = fd.frameSets(fd.frameFingerprints(media)).localCheckpoint()
        val frames = sets.select(col("media_id"),
          explode(col("fps")).as("frame_fp"))
        fd.selfPairs(sets,
          fd.frameDictionary(frames, minDf = 2, maxDf = 20),
          jNum = 1, jDen = 2)
      },
      Some("""WITH src AS (
          SELECT doc_id, upper(hex(encode(coalesce(text, '')))) AS hx,
            octet_length(encode(coalesce(text, ''))) AS n
          FROM documents),
        frames AS (
          SELECT DISTINCT doc_id AS media_id,
            md5(substr(hx, CAST(i*64 + 1 AS INTEGER),
              CAST(least(32, n - i*32) * 2 AS INTEGER))) AS frame_fp
          FROM (SELECT doc_id, n, hx,
                  CAST(unnest(range(0, (n+31)//32, 4)) AS BIGINT) AS i
                FROM src WHERE n > 0) u),
        sizes AS (SELECT media_id, count(*) AS nf FROM frames GROUP BY 1),
        rare AS (SELECT frame_fp FROM frames
                 GROUP BY 1 HAVING count(*) BETWEEN 2 AND 20),
        keyed AS (SELECT f.* FROM frames f JOIN rare USING (frame_fp)),
        cand AS (
          SELECT a.media_id AS a_id, b.media_id AS b_id, count(*) AS shared
          FROM keyed a JOIN keyed b
            ON a.frame_fp = b.frame_fp AND a.media_id < b.media_id
          GROUP BY 1, 2)
        SELECT c.a_id, c.b_id, CAST(c.shared AS BIGINT) AS shared,
          CAST(sa.nf AS BIGINT) AS n_a, CAST(sb.nf AS BIGINT) AS n_b,
          CAST(c.shared AS DOUBLE)/CAST(sa.nf + sb.nf - c.shared AS DOUBLE)
            AS jaccard
        FROM cand c
        JOIN sizes sa ON sa.media_id = c.a_id
        JOIN sizes sb ON sb.media_id = c.b_id
        WHERE CAST(c.shared AS DOUBLE)/CAST(sa.nf + sb.nf - c.shared AS DOUBLE)
          >= 0.5"""), bench = true)
  )

  /** Canonical 44-byte PCM WAV header for exactly 260 data bytes, as hex:
    * "RIFF" + 296u32le (36 + 260) + "WAVE" + "fmt " + 16u32le +
    * format=1u16le + channels=1u16le + rate=8000u32le + byteRate=16000u32le +
    * blockAlign=2u16le + bits=16u16le + "data" + 260u32le. Constant
    * because the payload length is pinned at 260 bytes — which is what
    * lets the oracle treat it as a known prefix. */
  private val WavHeaderHex: String =
    "52494646" + "28010000" + "57415645" + "666D7420" + "10000000" +
      "0100" + "0100" + "401F0000" + "803E0000" + "0200" + "1000" +
      "64617461" + "04010000"

  /** Engine side of the v03/v04 shared body: 64-byte raw-gray payloads →
    * thumbnailsRaw aHash → (media_id, ahash, band, bv) with bv = the
    * band-th 16-bit slice ('& 65535' so band 3 survives the arithmetic
    * shift's sign extension when hash bit 63 is set). */
  private def ahashBands(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    // pad/truncate at the BYTE level (binary substring + binary rpad), not
    // the char level: a char-based rpad(...,64) of multi-byte text encodes
    // to >64 bytes, which would make thumbnailsRaw emit the all-zero
    // fallback while the oracle hashes the first 64 encoded bytes — the
    // two sides must construct identical 64-byte payloads for ANY text
    val media = T(s, dir, "documents")
      .select(col("doc_id").as("media_id"), lit("image/gray8").as("mime"),
        expr("rpad(substring(CAST(coalesce(text, '') AS BINARY), 1, 64), 64, X'20')")
          .as("payload"))
      .as[Multimodal.MediaRow](Encoders.product[Multimodal.MediaRow])
    Multimodal.thumbnailsRaw(media, 8, 8).toDF()
      .select(col("media_id"), col("ahash"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bv",
        expr("shiftright(ahash, CAST(band * 16 AS INT)) & 65535"))
  }

  /** Oracle side of the v03/v04 shared body (one definition so the two
    * gates cannot drift): bytes via hex unnesting, exact mean threshold,
    * band value = Σ 2^(i mod 16) over set bits. The mean is an integer
    * sum divided by the power of two 64, so `v > mean` is IEEE-exact in
    * both engines. */
  private def ahashBandsSql: String =
    """src AS (
          SELECT doc_id,
            rpad(substr(hex(encode(coalesce(text, ''))), 1, 128), 128, '20') AS hx
          FROM documents),
        bytes AS (
          SELECT doc_id, CAST(i AS INT) AS i,
            ('0x' || substr(hx, 2*CAST(i AS INT)+1, 2))::INT AS v
          FROM (SELECT doc_id, hx, unnest(range(64)) AS i FROM src) u),
        m AS (SELECT doc_id, sum(v)/64.0 AS mean FROM bytes GROUP BY 1),
        bits AS (SELECT b.doc_id, b.i,
            CASE WHEN b.v > m.mean THEN 1 ELSE 0 END AS bit
          FROM bytes b JOIN m USING (doc_id)),
        bands AS (SELECT doc_id, CAST(i // 16 AS INT) AS band,
            CAST(sum((1 << (i % 16)) * bit) AS BIGINT) AS bv
          FROM bits GROUP BY 1, 2)"""
}
