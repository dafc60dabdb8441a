package graft
package registry

import graft.operators._
import org.apache.spark.sql.functions._
import Shared._

/** Multimodal queries (`media_*`): image, audio and video payloads. */
object MediaQueries {

  /** The synthetic-video fixture: per doc a w×h frame size, nf frames
    * and a shot length sl, all derived from doc_id. */
  private val videoFixtureCte =
    "WITH m AS (SELECT doc_id AS media_id, doc_id AS base, CAST(8 + doc_id % 5 AS BIGINT) AS w, CAST(6 + doc_id % 4 AS BIGINT) AS h, " +
      "CAST(4 + doc_id % 3 AS BIGINT) AS nf, CAST(2 + doc_id % 2 AS BIGINT) AS sl FROM documents), "

  lazy val all: Seq[Query] = Seq(
    // --- multimodal plumbing ---
    Query("media_chunks", (s, d) =>
      Multimodal.chunkFrames(
          Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text"), 256)
        .select(col("media_id"), col("n_bytes"), col("n_chunks"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk_offset").cast("long").as("chunk_offset"),
          col("chunk_sig")),
      // media oracles: DuckDB substr() slices CHARACTERS while the Spark
      // side slices the UTF-8 payload BYTES — equivalent only on the
      // (deliberately ASCII) documents corpus; a multibyte corpus needs a
      // BLOB-slicing oracle
      ("WITH m AS (SELECT doc_id AS media_id, text, CAST(strlen(text) AS BIGINT) AS n_bytes, " +
        "CAST(ceil(strlen(text) / 256.0) AS BIGINT) AS n_chunks FROM documents) " +
        "SELECT media_id, n_bytes, n_chunks, CAST(t.i AS BIGINT) AS chunk_idx, CAST(t.i * 256 AS BIGINT) AS chunk_offset, " +
        "md5(substr(text, CAST(t.i * 256 + 1 AS INT), 256)) AS chunk_sig " +
        "FROM m, LATERAL (SELECT unnest(range(0, m.n_chunks)) AS i) t")),
    Query("media_frames", (s, d) =>
      Multimodal.sampleFrames(
          Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text"),
          256, 4)
        .select(col("media_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk_sig")),
      ("WITH m AS (SELECT doc_id AS media_id, text, CAST(ceil(strlen(text) / 256.0) AS BIGINT) AS n_chunks FROM documents) " +
        "SELECT media_id, CAST(t.i AS BIGINT) AS chunk_idx, " +
        "md5(substr(text, CAST(t.i * 256 + 1 AS INT), 256)) AS chunk_sig " +
        "FROM m, LATERAL (SELECT unnest(range(0, m.n_chunks)) AS i) t WHERE t.i % 4 = 0")),
    Query("media_windows", (s, d) =>
      Multimodal.frameWindows(
          Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text"),
          256, 128)
        .select(col("media_id"), col("n_windows"),
          col("window_idx").cast("long").as("window_idx"),
          col("window_offset").cast("long").as("window_offset"),
          col("window_sig")),
      ("WITH m AS (SELECT doc_id AS media_id, text, CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents), " +
        "w AS (SELECT media_id, text, n_bytes, CASE WHEN n_bytes <= 256 THEN 1 " +
        "ELSE CAST(ceil((n_bytes - 256) / 128.0) AS BIGINT) + 1 END AS n_windows FROM m) " +
        "SELECT media_id, n_windows, CAST(t.i AS BIGINT) AS window_idx, CAST(t.i * 128 AS BIGINT) AS window_offset, " +
        "md5(substr(text, CAST(t.i * 128 + 1 AS INT), 256)) AS window_sig " +
        "FROM w, LATERAL (SELECT unnest(range(0, w.n_windows)) AS i) t")),
    Query("media_resize", (s, d) =>
      // REAL resize round trip: synthesize a P6 blob per doc (id-derived
      // dims), decode it with the byte parser, nearest-neighbor resample
      // to 5x4, re-encode, decode AGAIN, and report pixel features of
      // the result. The oracle derives the expected values from the
      // generator formula + the sampling arithmetic — any header-offset,
      // dimension, or kernel bug breaks the hash match
      Multimodal.decodeImageFeatures(s,
          Multimodal.resizePpm(s,
            Multimodal.synthesizePpm(s, t(s, d, "documents"), "doc_id")
              .toDF, 5, 4).toDF)
        .toDF.select(col("media_id"), col("width"), col("height"),
          col("n_px"), col("px_sum"), col("mean_r"), col("mean_g"),
          col("mean_b"), col("mean_luma")),
      // media_resize oracle: replays the synthesizer formula + the
      // nearest-neighbor sampling arithmetic WITHOUT parsing any bytes —
      // out pixel (x,y,c) reads source index ((y*H//4)*W + (x*W//5))*3+c,
      // value (id*31 + si*7 + si²%97) % 256. The Spark side must decode
      // its own re-encoded 5x4 blob to reproduce these sums, so header,
      // dims, and kernel are all on the hook. Raw divisions of exact
      // integer sums (textStats convention)
      ("WITH m AS (SELECT doc_id AS media_id, doc_id AS base, CAST(8 + doc_id % 5 AS BIGINT) AS w, CAST(6 + doc_id % 4 AS BIGINT) AS h FROM documents), " +
        "o AS (SELECT media_id, base, w, h, (t.i // 3) % 5 AS x, (t.i // 3) // 5 AS y, t.i % 3 AS c " +
        "FROM m, LATERAL (SELECT unnest(range(0, 60)) AS i) t), " +
        "v AS (SELECT media_id, c, (base*31 + si*7 + (si*si) % 97) % 256 AS v " +
        "FROM (SELECT media_id, c, (((y * h) // 4) * w + ((x * w) // 5)) * 3 + c AS si, base FROM o) s) " +
        "SELECT media_id, CAST(5 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height, CAST(20 AS BIGINT) AS n_px, " +
        "CAST(sum(v) AS BIGINT) AS px_sum, " +
        "sum(CASE WHEN c = 0 THEN v END) / 20.0 AS mean_r, " +
        "sum(CASE WHEN c = 1 THEN v END) / 20.0 AS mean_g, " +
        "sum(CASE WHEN c = 2 THEN v END) / 20.0 AS mean_b, " +
        "sum(CASE c WHEN 0 THEN 2126*v WHEN 1 THEN 7152*v ELSE 722*v END) / (10000.0 * 20) AS mean_luma " +
        "FROM v GROUP BY media_id")),
    Query("media_features", (s, d) =>
      // REAL decode: per-channel means + Rec.709 luma over PIXELS the
      // P6 parser extracted. RAW divisions of exact integer sums (the
      // textStats bit-identical convention); the oracle recomputes the
      // same sums from the pixel formula without ever seeing the bytes,
      // so a decode bug cannot cancel out
      Multimodal.decodeImageFeatures(s,
          Multimodal.synthesizePpm(s, t(s, d, "documents"), "doc_id").toDF)
        .toDF.select(col("media_id"), col("width"), col("height"),
          col("n_px"), col("px_sum"), col("mean_r"), col("mean_g"),
          col("mean_b"), col("mean_luma")),
      // media_features oracle: recomputes the channel sums from the PPM
      // synthesizer's pixel formula — pixel i of doc id is
      // (id*31 + i*7 + i²%97) % 256, channel i%3 — never touching the
      // encoded bytes. The Spark side only matches if decodePpm walked
      // the header to the right offset and read the right W·H·3 block.
      // Exact integer sums, raw double divisions (textStats convention)
      ("WITH m AS (SELECT doc_id AS media_id, doc_id AS base, CAST(8 + doc_id % 5 AS BIGINT) AS w, CAST(6 + doc_id % 4 AS BIGINT) AS h FROM documents), " +
        "v AS (SELECT media_id, w, h, t.i % 3 AS c, (base*31 + t.i*7 + (t.i*t.i) % 97) % 256 AS v " +
        "FROM m, LATERAL (SELECT unnest(range(0, m.w * m.h * 3)) AS i) t) " +
        "SELECT media_id, w AS width, h AS height, w * h AS n_px, " +
        "CAST(sum(v) AS BIGINT) AS px_sum, " +
        "sum(CASE WHEN c = 0 THEN v END) / CAST(w * h AS DOUBLE) AS mean_r, " +
        "sum(CASE WHEN c = 1 THEN v END) / CAST(w * h AS DOUBLE) AS mean_g, " +
        "sum(CASE WHEN c = 2 THEN v END) / CAST(w * h AS DOUBLE) AS mean_b, " +
        "sum(CASE c WHEN 0 THEN 2126*v WHEN 1 THEN 7152*v ELSE 722*v END) / (10000.0 * (w * h)) AS mean_luma " +
        "FROM v GROUP BY media_id, w, h")),
    Query("media_near_dups", (s, d) =>
      // frame-signature video-dedup shape: 64-byte frames sampled at
      // stride 2, media paired through the frame-hash equi-join —
      // exact-dup payloads surface at overlap 1.0, partial re-posts
      // at their shared-frame fraction
      Multimodal.frameNearDups(
        Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text"),
        chunkBytes = 64, everyN = 2, minShared = 1L),
      // the frame-pairing replay: sampled 64-byte frame signatures
      // (stride 2), boilerplate guard (HAVING <= 64 media per frame),
      // pair counts via the same equi-join, overlap as raw double of
      // exact integer counts
      ("WITH m AS (SELECT doc_id AS media_id, text, CAST(ceil(strlen(text) / 64.0) AS BIGINT) AS n_chunks FROM documents WHERE strlen(text) > 0), " +
        "f AS (SELECT DISTINCT media_id, md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS sig " +
        "FROM (SELECT media_id, text, unnest(range(0, n_chunks)) AS i FROM m) t WHERE i % 2 = 0), " +
        "g AS (SELECT sig FROM f GROUP BY sig HAVING count(*) <= 64), " +
        "e AS (SELECT f.media_id, f.sig FROM f JOIN g USING (sig)), " +
        "c AS (SELECT media_id, CAST(count(*) AS BIGINT) AS nf FROM e GROUP BY media_id), " +
        "p AS (SELECT a.media_id AS a_id, b.media_id AS b_id, CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM e a JOIN e b ON a.sig = b.sig AND a.media_id < b.media_id GROUP BY 1, 2 HAVING count(*) >= 1) " +
        "SELECT p.a_id, p.b_id, p.n_shared, CAST(p.n_shared AS DOUBLE) / least(ca.nf, cb.nf) AS overlap_frac " +
        "FROM p JOIN c ca ON p.a_id = ca.media_id JOIN c cb ON p.b_id = cb.media_id")),
    Query("media_near_dups_px", (s, d) =>
      // CONTENT-level media dedup: PPM corpus with planted duplicate
      // groups (id % 25), payloads DECODED to raw pixels before frame
      // fingerprinting — the dedup keys on what the image shows, not on
      // blob framing. Identical rasters share every sampled frame, so
      // groups surface as complete subgraphs at overlap 1.0; distinct
      // bases never collide (aperiodic pixel formula, MultimodalSpec)
      Multimodal.frameNearDups(
        Multimodal.decodedPixelPayloads(s,
          Multimodal.synthesizePpm(s,
            t(s, d, "documents").filter(col("doc_id") < 200),
            "doc_id", Some(25L)).toDF).toDF,
        chunkBytes = 64, everyN = 2, minShared = 2L),
      // media_near_dups_px oracle: pure group combinatorics — ids sharing
      // id % 25 carry byte-identical rasters, so every within-group pair
      // shares ALL ceil(n_chunks/2) sampled pixel frames (within-image and
      // cross-base frame signatures never collide: aperiodic i²%97 term,
      // pinned by MultimodalSpec's distinctness check), and no cross-group
      // pair shares any. n_bytes = W·H·3 of the DECODED raster
      ("WITH d AS (SELECT doc_id, doc_id % 25 AS base FROM documents WHERE doc_id < 200), " +
        "m AS (SELECT doc_id, base, (8 + base % 5) * (6 + base % 4) * 3 AS nb FROM d), " +
        "s AS (SELECT doc_id, base, CAST(ceil(ceil(nb / 64.0) / 2.0) AS BIGINT) AS nf FROM m) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.nf AS n_shared, CAST(1.0 AS DOUBLE) AS overlap_frac " +
        "FROM s a JOIN s b ON a.base = b.base AND a.doc_id < b.doc_id")),
    Query("media_near_dups_phash", (s, d) => {
      // TRUE perceptual dedup: planted duplicate groups (id % 25), with
      // every ODD id re-encoded as an exact 2x nearest-neighbor upscale
      // — byte-DIFFERENT payloads, same content. dHash64 is invariant
      // to the upscale, so every within-group pair surfaces at hamming
      // 0 regardless of scale; payload md5 (`same_bytes`) matches only
      // same-parity pairs — the exact-vs-perceptual gap, one oracle row
      // per pair. Cross-base hashes sit > maxHamming bits apart
      // (MultimodalSpec pins min cross-base distance), so the banded
      // join admits no false pairs
      // corpus pinned (consumed by the even/odd filters — un-pinned,
      // the synthesis codec ran twice); media pinned (consumed by the
      // hash pass and the signature projection); sigs pinned (both
      // pair-annotation joins). 200 bounded rows each — the pins cut
      // this query from 24 document scans to 1
      val corpus = Multimodal.synthesizePpm(s,
        t(s, d, "documents").filter(col("doc_id") < 200), "doc_id",
        Some(25L)).toDF.localCheckpoint(true)
      val media = corpus.filter(col("media_id") % 2 === 0).unionByName(
        Multimodal.upscalePpm(s,
          corpus.filter(col("media_id") % 2 === 1), 2).toDF)
        .localCheckpoint(true)
      val sigs = media.select(col("media_id"), md5(col("payload")).as("__sig"))
        .localCheckpoint(true)
      Multimodal.phashNearDups(
          Multimodal.perceptualHashes(s, media), maxHamming = 2)
        .join(sigs.select(col("media_id").as("a_id"),
          col("__sig").as("__sa")), "a_id")
        .join(sigs.select(col("media_id").as("b_id"),
          col("__sig").as("__sb")), "b_id")
        .select(col("a_id"), col("b_id"), col("hamming"),
          (col("__sa") === col("__sb")).as("same_bytes"))
    },
      // media_near_dups_phash oracle: group combinatorics again — every
      // within-group pair has IDENTICAL dHash (the upscale invariance is
      // an exact integer identity, pinned in MultimodalSpec) so hamming 0;
      // payload bytes match iff both sides have the same parity (odd ids
      // are the 2x re-encodes). Cross-base pairs never appear (min
      // cross-base Hamming distance > 2, also spec-pinned)
      ("WITH d AS (SELECT doc_id, doc_id % 25 AS base FROM documents WHERE doc_id < 200) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(0 AS BIGINT) AS hamming, " +
        "(a.doc_id % 2 = b.doc_id % 2) AS same_bytes " +
        "FROM d a JOIN d b ON a.base = b.base AND a.doc_id < b.doc_id")),
    Query("media_near_dups_codec", (s, d) => {
      // COMPRESSED-codec perceptual dedup: planted duplicate groups
      // (id % 25), with every ODD id transcoded to PNG through the JDK
      // ImageIO codec — byte-different payloads in a different FORMAT,
      // same content. PNG is lossless, so decode∘encode is the
      // identity on pixels and dHash is exactly invariant: every
      // within-group pair surfaces at hamming 0 whether it's PPM↔PPM,
      // PNG↔PNG or PPM↔PNG; payload md5 only ever matches same-parity
      // pairs (cross-format blobs can't be byte-equal). The
      // cross_format column witnesses which pairs NO byte-level
      // fingerprint could have caught
      // same pin set as media_near_dups_phash (corpus / media / sigs
      // each multiply consumed; 200 bounded rows each)
      val corpus = Multimodal.synthesizePpm(s,
        t(s, d, "documents").filter(col("doc_id") < 200), "doc_id",
        Some(25L)).toDF.localCheckpoint(true)
      val media = corpus.filter(col("media_id") % 2 === 0).unionByName(
        Multimodal.transcode(s,
          corpus.filter(col("media_id") % 2 === 1), "png").toDF)
        .localCheckpoint(true)
      val sigs = media.select(col("media_id"), md5(col("payload")).as("__sig"))
        .localCheckpoint(true)
      Multimodal.phashNearDups(
          Multimodal.perceptualHashes(s, media), maxHamming = 2)
        .join(sigs.select(col("media_id").as("a_id"),
          col("__sig").as("__sa")), "a_id")
        .join(sigs.select(col("media_id").as("b_id"),
          col("__sig").as("__sb")), "b_id")
        .select(col("a_id"), col("b_id"), col("hamming"),
          (col("__sa") === col("__sb")).as("same_bytes"),
          (col("a_id") % 2 =!= col("b_id") % 2).as("cross_format"))
    },
      // media_near_dups_codec oracle: group combinatorics once more —
      // PNG decode∘encode is the pixel identity, so every within-group
      // pair (any format mix) sits at dHash hamming 0; bytes can only
      // match within one format, i.e. same parity; cross_format is the
      // parity-mix flag. A lossy "PNG" or a decoder bug breaks hamming 0
      // and the hash-match with it
      ("WITH d AS (SELECT doc_id, doc_id % 25 AS base FROM documents WHERE doc_id < 200) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(0 AS BIGINT) AS hamming, " +
        "(a.doc_id % 2 = b.doc_id % 2) AS same_bytes, " +
        "(a.doc_id % 2 <> b.doc_id % 2) AS cross_format " +
        "FROM d a JOIN d b ON a.base = b.base AND a.doc_id < b.doc_id")),
    Query("media_codec_jpeg", (s, d) => {
      // LOSSY-codec tolerance witness (the sketch-query convention:
      // exact values where they're deterministic, in-plan booleans
      // where the codec owns the noise). Smooth-gradient rasters
      // (synthesizeGradientPpm: adjacent downsample luma margins far
      // above JPEG's few-gray-level error) are JPEG-transcoded through
      // the JDK codec and rejoined to their originals: dimensions
      // survive exactly; the perceptual hash must land within hamming
      // 2 (measured 0 on this fixture); mean luma within 1.0 gray
      // level. A codec regression (or a decoder that silently returns
      // garbage) flips the booleans and fails the hash-match
      // orig consumed 3x (transcode, features, hashes) and jpeg 2x —
      // pinned so the synthesis/codec passes run once (100 bounded
      // rows each)
      val orig = Multimodal.synthesizeGradientPpm(s,
        t(s, d, "documents").filter(col("doc_id") < 100), "doc_id").toDF
        .localCheckpoint(true)
      val jpeg = Multimodal.transcode(s, orig, "jpg").toDF
        .localCheckpoint(true)
      val fo = Multimodal.decodeImageFeatures(s, orig).toDF
      val fj = Multimodal.decodeImageFeatures(s, jpeg).toDF
      val ho = Multimodal.perceptualHashes(s, orig)
      val hj = Multimodal.perceptualHashes(s, jpeg)
      fo.select(col("media_id"), col("width"), col("height"),
          col("mean_luma").as("__lo"))
        .join(fj.select(col("media_id"), col("width").as("__wj"),
          col("height").as("__hj"), col("mean_luma").as("__lj")), "media_id")
        .join(ho.withColumnRenamed("phash", "__po"), "media_id")
        .join(hj.withColumnRenamed("phash", "__pj"), "media_id")
        .select(col("media_id"), col("width"), col("height"),
          (col("width") === col("__wj") && col("height") === col("__hj"))
            .as("dims_match"),
          (expr("CAST(bit_count(__po ^ __pj) AS BIGINT)") <= 2)
            .as("phash_stable"),
          (abs(col("__lo") - col("__lj")) <= 1.0).as("luma_within"))
    },
      // media_codec_jpeg oracle: dimensions replay the synthesizer
      // formula exactly; the codec-noise-owned comparisons gate through
      // in-plan tolerance booleans (the sketch-query convention)
      ("SELECT doc_id AS media_id, CAST(8 + doc_id % 5 AS BIGINT) AS width, " +
        "CAST(6 + doc_id % 4 AS BIGINT) AS height, true AS dims_match, " +
        "true AS phash_stable, true AS luma_within " +
        "FROM documents WHERE doc_id < 100")),
    Query("media_audio_features", (s, d) =>
      // REAL audio decode: synthesize a WAV blob per doc (RIFF/PCM16,
      // id-derived length, planted silence blocks), parse it with the
      // chunk-walking RIFF reader, and reduce the DECODED samples to
      // clip features. The oracle recomputes every sum from the sample
      // formula without touching the bytes — a header-offset,
      // endianness, or sign bug breaks the hash match
      Audio.audioFeatures(s,
          Audio.synthesizeWav(s, t(s, d, "documents"), "doc_id").toDF)
        .toDF.select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), col("peak"), col("n_zero_cross"),
          col("sum_abs"), col("sum_sq"), col("mean_abs"), col("rms")),
      // audio oracles: replay the WAV synthesizer's sample formula —
      // sample i of clip id is 0 in every third 50-block, else
      // (id·37 + i·11 + i²%193) % 4001 − 2000 — never touching the
      // encoded bytes. Exact integer sums, raw divisions, one
      // correctly-rounded sqrt (bit-identical across engines)
      ("WITH m AS (SELECT doc_id AS media_id, doc_id AS base, CAST(400 + (doc_id % 7) * 40 AS BIGINT) AS n FROM documents), " +
        "s AS (SELECT media_id, n, t.i AS i, CASE WHEN (t.i // 50) % 3 = 2 THEN 0 ELSE (base*37 + t.i*11 + (t.i*t.i) % 193) % 4001 - 2000 END AS v " +
        "FROM m, LATERAL (SELECT unnest(range(0, m.n)) AS i) t), " +
        "f AS (SELECT media_id, max(n) AS n, CAST(max(abs(v)) AS BIGINT) AS peak, CAST(sum(abs(v)) AS BIGINT) AS sum_abs, CAST(sum(v*v) AS BIGINT) AS sum_sq FROM s GROUP BY media_id), " +
        "z AS (SELECT media_id, CAST(count(*) FILTER (WHERE (v > 0 AND prev < 0) OR (v < 0 AND prev > 0)) AS BIGINT) AS n_zero_cross " +
        "FROM (SELECT media_id, v, lag(v) OVER (PARTITION BY media_id ORDER BY i) AS prev FROM s) GROUP BY media_id) " +
        "SELECT f.media_id, CAST(8000 AS BIGINT) AS sample_rate, f.n AS n_samples, (f.n * 1000) // 8000 AS duration_ms, " +
        "f.peak, z.n_zero_cross, f.sum_abs, f.sum_sq, f.sum_abs / CAST(f.n AS DOUBLE) AS mean_abs, sqrt(f.sum_sq / CAST(f.n AS DOUBLE)) AS rms " +
        "FROM f JOIN z USING (media_id)")),
    Query("media_audio_silence", (s, d) =>
      // VAD baseline: maximal quiet runs (|s| < 100) at least 40
      // samples long over the decoded stream. The synthesizer plants
      // exact-zero 50-sample blocks; the detector must find them (plus
      // any deterministic quiet-noise extensions) at the right offsets
      Audio.silenceSegments(s,
          Audio.synthesizeWav(s, t(s, d, "documents"), "doc_id").toDF,
          threshold = 100, minRun = 40)
        .toDF.select(col("media_id"), col("seg_idx"), col("start_idx"),
          col("n")),
      // silence oracle: run detection over the replayed samples via the
      // gaps-and-islands grouping (i − row_number within quiet rows)
      ("WITH m AS (SELECT doc_id AS media_id, doc_id AS base, CAST(400 + (doc_id % 7) * 40 AS BIGINT) AS n FROM documents), " +
        "s AS (SELECT media_id, t.i AS i, CASE WHEN (t.i // 50) % 3 = 2 THEN 0 ELSE (base*37 + t.i*11 + (t.i*t.i) % 193) % 4001 - 2000 END AS v " +
        "FROM m, LATERAL (SELECT unnest(range(0, m.n)) AS i) t), " +
        "r AS (SELECT media_id, i, i - row_number() OVER (PARTITION BY media_id ORDER BY i) AS grp FROM s WHERE abs(v) < 100), " +
        "g AS (SELECT media_id, min(i) AS start_idx, CAST(count(*) AS BIGINT) AS n FROM r GROUP BY media_id, grp HAVING count(*) >= 40) " +
        "SELECT media_id, CAST(row_number() OVER (PARTITION BY media_id ORDER BY start_idx) - 1 AS BIGINT) AS seg_idx, start_idx, n FROM g")),
    Query("media_audio_resample", (s, d) =>
      // decode → decimate ×4 → re-encode at 2 kHz → decode AGAIN and
      // feature the result: the full codec round trip under a kernel,
      // oracle replaying the decimated formula (sample j reads source
      // index 4j)
      Audio.audioFeatures(s,
          Audio.resampleWav(s,
            Audio.synthesizeWav(s, t(s, d, "documents"), "doc_id").toDF,
            factor = 4).toDF)
        .toDF.select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), col("peak"), col("n_zero_cross"),
          col("sum_abs"), col("sum_sq"), col("mean_abs"), col("rms")),
      // resample oracle: decimated sample j reads source index 4j; clip
      // length becomes ceil(n/4), rate 2000
      ("WITH m AS (SELECT doc_id AS media_id, doc_id AS base, (CAST(400 + (doc_id % 7) * 40 AS BIGINT) + 3) // 4 AS n FROM documents), " +
        "s AS (SELECT media_id, n, t.j*4 AS i, CASE WHEN ((t.j*4) // 50) % 3 = 2 THEN 0 ELSE (base*37 + (t.j*4)*11 + ((t.j*4)*(t.j*4)) % 193) % 4001 - 2000 END AS v " +
        "FROM m, LATERAL (SELECT unnest(range(0, m.n)) AS j) t), " +
        "f AS (SELECT media_id, max(n) AS n, CAST(max(abs(v)) AS BIGINT) AS peak, CAST(sum(abs(v)) AS BIGINT) AS sum_abs, CAST(sum(v*v) AS BIGINT) AS sum_sq FROM s GROUP BY media_id), " +
        "z AS (SELECT media_id, CAST(count(*) FILTER (WHERE (v > 0 AND prev < 0) OR (v < 0 AND prev > 0)) AS BIGINT) AS n_zero_cross " +
        "FROM (SELECT media_id, v, lag(v) OVER (PARTITION BY media_id ORDER BY i) AS prev FROM s) GROUP BY media_id) " +
        "SELECT f.media_id, CAST(2000 AS BIGINT) AS sample_rate, f.n AS n_samples, (f.n * 1000) // 2000 AS duration_ms, " +
        "f.peak, z.n_zero_cross, f.sum_abs, f.sum_sq, f.sum_abs / CAST(f.n AS DOUBLE) AS mean_abs, sqrt(f.sum_sq / CAST(f.n AS DOUBLE)) AS rms " +
        "FROM f JOIN z USING (media_id)")),
    Query("media_video_frames", (s, d) =>
      // REAL multi-frame decode: GVID clips (id-derived dims, 4-6
      // frames, planted scene structure) parsed by the container
      // walker, per-frame integer features — the frame-explode shape
      // (F rows per clip). Oracle replays the frame formula per pixel
      Video.videoFrameFeatures(s,
          Video.synthesizeGvid(s, t(s, d, "documents"), "doc_id").toDF)
        .toDF.select(col("media_id"), col("frame_idx"), col("width"),
          col("height"), col("px_sum"), col("mean_luma")),
      // video oracles: replay the GVID synthesizer's channel formula —
      // channel i of frame f is ((id·31 + (f÷L)·53 + i·7 + i²%97) % 251)
      // + f%L with L the id-derived scene length — never touching bytes
      (videoFixtureCte +
        "v AS (SELECT media_id, w, h, fr.f AS f, t.i % 3 AS c, ((base*31 + (fr.f // sl)*53 + t.i*7 + (t.i*t.i) % 97) % 251) + fr.f % sl AS v " +
        "FROM m, LATERAL (SELECT unnest(range(0, m.nf)) AS f) fr, LATERAL (SELECT unnest(range(0, m.w*m.h*3)) AS i) t) " +
        "SELECT media_id, f AS frame_idx, w AS width, h AS height, CAST(sum(v) AS BIGINT) AS px_sum, " +
        "sum(CASE c WHEN 0 THEN 2126*v WHEN 1 THEN 7152*v ELSE 722*v END) / (10000.0 * (w*h)) AS mean_luma " +
        "FROM v GROUP BY media_id, f, w, h")),
    Query("media_video_scenes", (s, d) =>
      // shot-boundary detection: Σ|Δchannel| between consecutive
      // decoded frames, cut when the mean per-channel change exceeds 8
      // gray levels. The fixture makes this EXACT: in-scene frames
      // differ by +1 per channel, boundaries by ≥ 51 — so is_cut must
      // reproduce the planted scene structure precisely
      Video.sceneChanges(s,
          Video.synthesizeGvid(s, t(s, d, "documents"), "doc_id").toDF,
          meanDiffThr = 8)
        .toDF.select(col("media_id"), col("frame_idx"), col("diff_sum"),
          col("n_ch"), col("is_cut")),
      (videoFixtureCte +
        "d AS (SELECT media_id, w, h, fr.f AS f, " +
        "abs((((base*31 + (fr.f // sl)*53 + t.i*7 + (t.i*t.i) % 97) % 251) + fr.f % sl) - " +
        "(((base*31 + ((fr.f-1) // sl)*53 + t.i*7 + (t.i*t.i) % 97) % 251) + (fr.f-1) % sl)) AS ad " +
        "FROM m, LATERAL (SELECT unnest(range(1, m.nf)) AS f) fr, LATERAL (SELECT unnest(range(0, m.w*m.h*3)) AS i) t) " +
        "SELECT media_id, f AS frame_idx, CAST(sum(ad) AS BIGINT) AS diff_sum, w*h*3 AS n_ch, sum(ad) > 8*w*h*3 AS is_cut " +
        "FROM d GROUP BY media_id, f, w, h")),
    Query("media_video_keyframes", (s, d) =>
      // keyframe sampling: frame 0 + the first frame of every detected
      // shot, stamped with the shot ordinal. The oracle derives
      // keyframes from the PLANTED structure (f % sceneLen = 0), so the
      // detector must recover ground truth exactly, and the px_sum
      // proves the right frame block was decoded for each keyframe
      Video.keyframes(s,
          Video.synthesizeGvid(s, t(s, d, "documents"), "doc_id").toDF,
          meanDiffThr = 8)
        .toDF.select(col("media_id"), col("frame_idx"), col("scene_idx"),
          col("px_sum")),
      // keyframe oracle derives from the PLANTED structure (a shot starts
      // exactly where f % L = 0) — the detector must recover ground truth
      (videoFixtureCte +
        "k AS (SELECT media_id, base, w, h, sl, fr.f AS f FROM m, LATERAL (SELECT unnest(range(0, m.nf)) AS f) fr WHERE fr.f % sl = 0), " +
        "v AS (SELECT media_id, f, sl, ((base*31 + (f // sl)*53 + t.i*7 + (t.i*t.i) % 97) % 251) + f % sl AS v " +
        "FROM k, LATERAL (SELECT unnest(range(0, k.w*k.h*3)) AS i) t) " +
        "SELECT media_id, f AS frame_idx, f // sl AS scene_idx, CAST(sum(v) AS BIGINT) AS px_sum FROM v GROUP BY media_id, f, sl")),
    Query("media_audio_near_dups", (s, d) => {
      // CONTENT-level audio dedup: planted id%25 duplicate groups,
      // odd ids re-containered with a RIFF LIST/INFO metadata chunk —
      // byte-different payloads, identical decoded streams. Pairing
      // keys on what the clip SOUNDS like (content_sig over decoded
      // samples), so the re-tagged copies pair with their originals
      // while same_bytes exposes the container difference
      // base pinned: the even/odd filters each re-ran the WAV
      // synthesis un-pinned (200 bounded rows)
      val base = Audio.synthesizeWav(s,
        t(s, d, "documents").filter(col("doc_id") < 200), "doc_id",
        Some(25L)).toDF.localCheckpoint(true)
      Audio.contentNearDups(s,
        base.filter(col("media_id") % 2 === 0).unionByName(
          Audio.withInfoChunk(s,
            base.filter(col("media_id") % 2 === 1),
            "tagged-by-graft!").toDF))
    },
      // audio/video content near-dup oracles: pure group combinatorics
      // (the media_near_dups_px convention) — ids sharing id%25 carry
      // identical decoded content, so every within-group pair appears;
      // same_bytes is parity (the INFO-tagged odd ids share bytes among
      // themselves); video pairs share all 4+(base%3) frames at 1.0
      ("WITH m AS (SELECT doc_id FROM documents WHERE doc_id < 200) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
        "(a.doc_id % 2) = (b.doc_id % 2) AS same_bytes " +
        "FROM m a JOIN m b ON a.doc_id % 25 = b.doc_id % 25 AND a.doc_id < b.doc_id")),
    Query("media_video_near_dups", (s, d) =>
      // clip-level near-dup on shared DECODED-frame content: planted
      // id%25 groups pair at overlap 1.0 sharing all 4-6 frames;
      // distinct bases never collide (mod-251 shift analysis in the
      // AudioVideoSpec distinctness check)
      Video.videoFrameNearDups(s,
        Video.synthesizeGvid(s,
          t(s, d, "documents").filter(col("doc_id") < 200), "doc_id",
          Some(25L)).toDF),
      ("WITH m AS (SELECT doc_id FROM documents WHERE doc_id < 200) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
        "CAST(4 + (a.doc_id % 25) % 3 AS BIGINT) AS n_shared, " +
        "CAST(1.0 AS DOUBLE) AS overlap_frac " +
        "FROM m a JOIN m b ON a.doc_id % 25 = b.doc_id % 25 AND a.doc_id < b.doc_id"))
  )
}
