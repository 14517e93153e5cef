"""Multimodal keys (``multimodal_*``): synthesized image, audio and
archive payloads (PPM/PNG, WAV/FLAC, GIF, BMP, JPEG, tar) decoded by the
``ext`` codecs, with metadata, pixel and sample statistics.

Payload bytes come from affine generators that DuckDB can replay
relationally, so most keys carry a full hash oracle; the few that need
a codec no SQL engine exposes are rows-only by design.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .ext import multimodal as MM
from .registry_util import QueryDef, t


def _multimodal_metadata(spark, sf_dir):
    """Binary-payload convention: metadata pass (sizes + checksums) over
    the media table — no decode, pure JVM."""
    media = MM.text_as_media(t(spark, sf_dir, "documents"), "doc_id", "text")
    return MM.media_stats(media)


def _multimodal_decode(spark, sf_dir):
    """REAL byte-level decode loop, hash-verified end to end: documents
    become deterministic binary payloads (even doc_id → PCM WAV,
    doc_id ≡ 1 mod 4 → PPM P6, doc_id ≡ 3 mod 4 → PNG with cycling
    scanline filters; parameters derived from (doc_id, length)), then
    ``decode_media`` recovers every format field by parsing ONLY the
    bytes — RIFF chunk walk, PPM header scan, PNG IHDR parse. The
    oracle computes the same fields arithmetically, so any
    encode/decode bug flips the driver hash. Both mapInPandas stages
    are Arrow-batched and shuffle-free (payloads never leave their
    input partition)."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars")
    )
    return MM.decode_media(MM.synthesize_media(docs, png_mod4=True))


# ------------------------------------------------- FRAME SAMPLING


def _multimodal_frame_sample(spark, sf_dir):
    """Frame sampling over REAL synthesized payloads: documents become
    deterministic WAV/PPM binaries (ext/multimodal.synthesize_media),
    then ``frame_sample`` slices every 4th 64-byte frame inside an
    Arrow-batched mapInPandas (shuffle-free — payloads never leave
    their partition). The oracle re-derives each payload's byte length
    arithmetically from (doc_id, n_chars) — 44-byte WAV header + PCM
    data, PPM header + RGB plane — and regenerates the sampled frame
    index/length grid relationally, so a slicing bug flips the hash."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars")
    )
    media = MM.synthesize_media(docs)
    fs = MM.frame_sample(media, frame_bytes=64, every_k=4)
    return fs.select(
        "media_id", "frame_idx", F.length("frame").cast("long").alias("frame_len")
    )


_FRAME_SQL = """
WITH d AS (SELECT doc_id AS media_id, len(text) AS n FROM documents),
p AS (SELECT media_id,
   CASE WHEN media_id % 2 = 0
        THEN 44 + 2 * (n % 256 + 16) * (1 + (media_id // 2) % 2)
        ELSE 3 + len(CAST(n % 32 + 1 AS VARCHAR)) + 1
               + len(CAST((media_id // 2) % 16 + 1 AS VARCHAR)) + 1 + 4
               + 3 * (n % 32 + 1) * ((media_id // 2) % 16 + 1)
   END AS plen FROM d),
f AS (SELECT media_id, plen,
             unnest(range(0, (plen + 63) // 64, 4)) AS frame_idx
      FROM p)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(least(64, plen - frame_idx * 64) AS BIGINT) AS frame_len
FROM f
"""


# ------------------------------------------------------------- AUDIO RMS


def _multimodal_audio_features(spark, sf_dir):
    """Real audio feature extraction (integer RMS + peak) over the
    synthesized-WAV payloads — byte-level decode through mapInPandas.
    Full hash oracle via relational LCG replay (the pixel-stats
    pattern): payload synthesis is arithmetic in (doc_id, length), so
    DuckDB re-derives every 16-bit sample with the pw(k) power table
    and recomputes ssq/peak/rms without ever seeing a byte — the hash
    match proves the encode→parse-RIFF→decode-PCM loop recovers every
    sample exactly. The numpy re-decode parity stays in
    tests/test_multimodal.py."""
    docs = t(spark, sf_dir, "documents")
    media = MM.synthesize_media(docs)
    return MM.audio_features(media)


# Relational replay of the synthesize_media WAV-sample LCG (same pw(k)
# = (A^k, sum_{j<k} A^j) mod 2^63 table as _PIXEL_STATS_SQL):
# per even doc_id, m = (len%256+16)*(1+(id//2)%2)
# samples (max 542), sample_k = ((A^k*s0+S_k) >> 33) % 65536 - 32768;
# ssq/peak are exact int64 and rms2 = floor(sqrt(ssq/m)*100+0.5)/100
# is one IEEE sqrt of exact integers, bit-identical across engines.
_AUDIO_FEATURES_SQL = """
WITH RECURSIVE pw(k, ak, sk) AS (
  SELECT 1, CAST(6364136223846793005 AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
  SELECT k + 1,
         CAST((CAST(6364136223846793005 AS HUGEINT) * ak)
              % 9223372036854775808 AS BIGINT),
         CAST((CAST(6364136223846793005 AS HUGEINT) * sk + 1)
              % 9223372036854775808 AS BIGINT)
  FROM pw WHERE k < 542
),
wavs AS (
  SELECT doc_id AS media_id,
         CAST((length(text) % 256 + 16)
              * (1 + (doc_id // 2) % 2) AS BIGINT) AS m,
         CAST((CAST(doc_id AS HUGEINT) * 6364136223846793005
               + 1442695040888963407) % 9223372036854775808 AS BIGINT) AS s0
  FROM documents WHERE doc_id % 2 = 0
),
smp AS (
  SELECT w.media_id, w.m,
         (CAST((CAST(p.ak AS HUGEINT) * w.s0 + p.sk)
               % 9223372036854775808 AS BIGINT) // 8589934592) % 65536
           - 32768 AS s
  FROM wavs w JOIN pw p ON p.k <= w.m
),
agg AS (
  SELECT media_id, m, CAST(sum(s * s) AS BIGINT) AS ssq,
         CAST(max(abs(s)) AS BIGINT) AS peak
  FROM smp GROUP BY media_id, m
)
SELECT media_id, CAST(m AS BIGINT) AS n_values,
       floor(sqrt(CAST(ssq AS DOUBLE) / m) * 100 + 0.5) / 100.0 AS rms2,
       peak
FROM agg
UNION ALL
SELECT doc_id AS media_id, CAST(NULL AS BIGINT) AS n_values,
       CAST(NULL AS DOUBLE) AS rms2, CAST(NULL AS BIGINT) AS peak
FROM documents WHERE doc_id % 2 = 1
"""


# Relational replay of the synthesize_media pixel LCG (see the
# multimodal_pixel_stats QueryDef note): pw(k) carries (A^k, sum_{j<k}
# A^j) mod 2^63 — id-independent, one recursive CTE capped at the max
# pixel-byte count (w<=32, h<=16 -> 32*16*3 = 1536); per image,
# seed_k = A^k*s0 + S_k and byte_k = (seed_k >> 33) % 256. Channel =
# (k-1) % 3; means floor-rounded from exact integer sums exactly as the
# numpy side does (int(s*100//n)/100).
_PIXEL_STATS_SQL = """
WITH RECURSIVE pw(k, ak, sk) AS (
  SELECT 1, CAST(6364136223846793005 AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
  SELECT k + 1,
         CAST((CAST(6364136223846793005 AS HUGEINT) * ak)
              % 9223372036854775808 AS BIGINT),
         CAST((CAST(6364136223846793005 AS HUGEINT) * sk + 1)
              % 9223372036854775808 AS BIGINT)
  FROM pw WHERE k < 1536
),
imgs AS (
  SELECT doc_id AS media_id,
         CAST(length(text) % 32 + 1 AS BIGINT) AS w,
         CAST((doc_id // 2) % 16 + 1 AS BIGINT) AS h,
         CAST((CAST(doc_id AS HUGEINT) * 6364136223846793005
               + 1442695040888963407) % 9223372036854775808 AS BIGINT) AS s0
  FROM documents WHERE doc_id % 2 = 1
),
px AS (
  SELECT i.media_id, i.w * i.h AS npx, p.k,
         (CAST((CAST(p.ak AS HUGEINT) * i.s0 + p.sk)
               % 9223372036854775808 AS BIGINT) // 8589934592) % 256 AS byte
  FROM imgs i JOIN pw p ON p.k <= i.w * i.h * 3
),
ch AS (
  SELECT media_id, npx,
         CAST(sum(CASE WHEN (k - 1) % 3 = 0 THEN byte END) AS BIGINT) AS sr,
         CAST(sum(CASE WHEN (k - 1) % 3 = 1 THEN byte END) AS BIGINT) AS sg,
         CAST(sum(CASE WHEN (k - 1) % 3 = 2 THEN byte END) AS BIGINT) AS sb
  FROM px GROUP BY media_id, npx
)
SELECT media_id, CAST(npx AS BIGINT) AS n_px,
       ((sr * 100) // npx) / 100.0 AS mean_r2,
       ((sg * 100) // npx) / 100.0 AS mean_g2,
       ((sb * 100) // npx) / 100.0 AS mean_b2
FROM ch
UNION ALL
SELECT doc_id AS media_id, CAST(NULL AS BIGINT) AS n_px,
       CAST(NULL AS DOUBLE) AS mean_r2, CAST(NULL AS DOUBLE) AS mean_g2,
       CAST(NULL AS DOUBLE) AS mean_b2
FROM documents WHERE doc_id % 2 = 0
"""


# ------------------------------------------- PERCEPTUAL IMAGE DEDUP

# Hamming radius for the duplicate verdict (of 64 aHash bits). Random
# images sit near 32; real near-dups and degenerate (low-information)
# images sit near 0 — 12 is the conventional aHash near-dup bar.
AH_HAM_T = 12


def image_dedup(bands):
    """Banded perceptual-hash image dedup over (media_id, b0..b3) aHash
    band rows: candidates are pairs agreeing on ANY 16-bit band (the
    pigeonhole blocking dedup_simhash uses — Hamming <= 3 is guaranteed
    caught, wider radii probabilistically), verified by exact 64-bit
    Hamming distance <= ``AH_HAM_T``. Returns every image's bands plus
    its near-duplicate count — on this corpus the duplicate classes are
    the degenerate tiny images (1x1 collapses all 64 cells to one
    pixel, so every 1x1 image hashes to all-zero bands), which is
    precisely what aHash flags in production: low-information images.

    Scale shape: the band explode is in-place (4 rows per image);
    candidates come from ONE self-equi-join on (band_idx, value) —
    never all-pairs; the Hamming verify joins the bounded candidate
    set back to the band table twice; the per-image count is an
    aggregate. The band table is persisted: it is the output AND feeds
    three joins, and each re-derivation would re-run the Python decode
    over every payload (the minhash-signature persist discipline;
    callers/bench clearCache between queries)."""
    bands = bands.persist()
    ex = bands.select(
        "media_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), F.col(f"b{i}").alias("v"))
                    for i in range(4)
                ]
            )
        ).alias("bv"),
    ).select("media_id", F.col("bv.i").alias("i"), F.col("bv.v").alias("v"))
    a = ex.select(F.col("media_id").alias("ma"), "i", "v")
    b = ex.select(F.col("media_id").alias("mb"), "i", "v")
    cand = (
        a.join(b, ["i", "v"])
        .filter(F.col("ma") < F.col("mb"))
        .select("ma", "mb")
        .distinct()
    )
    ba = bands.select(
        F.col("media_id").alias("ma"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)],
    )
    bb = bands.select(
        F.col("media_id").alias("mb"),
        *[F.col(f"b{i}").alias(f"c{i}") for i in range(4)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}"))) for i in range(4)
    )
    dups = (
        cand.join(ba, "ma")
        .join(bb, "mb")
        .filter(ham <= AH_HAM_T)
        .select("ma", "mb")
    )
    touched = dups.select(F.col("ma").alias("media_id")).unionByName(
        dups.select(F.col("mb").alias("media_id"))
    )
    cnt = touched.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_dups"))
    return (
        bands.join(cnt, "media_id", "left")
        .select(
            "media_id",
            "b0",
            "b1",
            "b2",
            "b3",
            F.coalesce(F.col("n_dups"), F.lit(0)).alias("n_dups"),
        )
        .orderBy("media_id")
    )


def _multimodal_image_dedup(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars")
    )
    media = MM.synthesize_media(docs, png_mod4=True)
    bands = MM.image_ahash_bands(media).filter(F.col("b0").isNotNull())
    return image_dedup(bands)


# Relational replay of the synthesize_media pixel LCG (the
# multimodal_pixel_stats oracle pattern): pw(k) carries the
# id-independent (A^k mod 2^63, sum_{j<k} A^j mod 2^63) pair; per image
# seed_k = A^k*s0 + S_k and byte_k = (seed_k >> 33) % 256 (1-based k).
# The 8x8 downsample cell (cy, cx) reads source pixel
# p = (cy*h // 8)*w + (cx*w // 8) (0-based), i.e. bytes 3p+1..3p+3;
# gray = floor(sum/3), mean = floor(sum(gray)/64), bit ck set iff
# gray > mean, band i = bits [16i, 16i+16). PNG rows (id % 4 == 3)
# carry the SAME LCG pixels — the encode/decode loop is pixel-exact —
# so the oracle needs no per-format branch.
_AHASH_SQL = f"""
WITH RECURSIVE pw(k, ak, sk) AS (
  SELECT 1, CAST(6364136223846793005 AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
  SELECT k + 1,
         CAST((CAST(6364136223846793005 AS HUGEINT) * ak)
              % 9223372036854775808 AS BIGINT),
         CAST((CAST(6364136223846793005 AS HUGEINT) * sk + 1)
              % 9223372036854775808 AS BIGINT)
  FROM pw WHERE k < 1536
),
imgs AS (
  SELECT doc_id AS media_id,
         CAST(length(text) % 32 + 1 AS BIGINT) AS w,
         CAST((doc_id // 2) % 16 + 1 AS BIGINT) AS h,
         CAST((CAST(doc_id AS HUGEINT) * 6364136223846793005
               + 1442695040888963407) % 9223372036854775808 AS BIGINT) AS s0
  FROM documents WHERE doc_id % 2 = 1
),
cells AS (
  SELECT i.media_id, c.ck,
         ((c.ck // 8) * i.h // 8) * i.w + ((c.ck % 8) * i.w // 8) AS p
  FROM imgs i, (SELECT unnest(range(0, 64)) AS ck) c
),
gray AS (
  SELECT cl.media_id, cl.ck,
         CAST(sum((CAST((CAST(p.ak AS HUGEINT) * i.s0 + p.sk)
                   % 9223372036854775808 AS BIGINT) // 8589934592) % 256)
              // 3 AS BIGINT) AS g
  FROM cells cl
  JOIN imgs i ON i.media_id = cl.media_id
  JOIN pw p ON p.k BETWEEN 3 * cl.p + 1 AND 3 * cl.p + 3
  GROUP BY cl.media_id, cl.ck
),
m AS (SELECT media_id, CAST(sum(g) // 64 AS BIGINT) AS mean
      FROM gray GROUP BY media_id),
bits AS (
  SELECT gray.media_id, ck,
         CASE WHEN g > m.mean THEN CAST(1 AS BIGINT) ELSE 0 END AS bit
  FROM gray JOIN m USING (media_id)
),
bands AS (
  SELECT media_id,
         CAST(sum(CASE WHEN ck // 16 = 0 THEN bit << (ck % 16) ELSE 0 END)
              AS BIGINT) AS b0,
         CAST(sum(CASE WHEN ck // 16 = 1 THEN bit << (ck % 16) ELSE 0 END)
              AS BIGINT) AS b1,
         CAST(sum(CASE WHEN ck // 16 = 2 THEN bit << (ck % 16) ELSE 0 END)
              AS BIGINT) AS b2,
         CAST(sum(CASE WHEN ck // 16 = 3 THEN bit << (ck % 16) ELSE 0 END)
              AS BIGINT) AS b3
  FROM bits GROUP BY media_id
),
cand AS (
  SELECT a.media_id AS ma, b.media_id AS mb
  FROM bands a JOIN bands b
    ON a.media_id < b.media_id
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
),
dups AS (
  SELECT ma, mb FROM cand
  JOIN bands x ON x.media_id = cand.ma
  JOIN bands y ON y.media_id = cand.mb
  WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
      + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
      <= {AH_HAM_T}
),
cnt AS (
  SELECT media_id, CAST(count(*) AS BIGINT) AS n_dups
  FROM (SELECT ma AS media_id FROM dups
        UNION ALL SELECT mb FROM dups)
  GROUP BY media_id
)
SELECT b.media_id, b.b0, b.b1, b.b2, b.b3,
       CAST(COALESCE(c.n_dups, 0) AS BIGINT) AS n_dups
FROM bands b LEFT JOIN cnt c USING (media_id)
ORDER BY b.media_id
"""


# ------------------------------------------------- FLAC ROUND-TRIP QA


def _multimodal_flac_roundtrip(spark, sf_dir):
    """Real compressed-audio decode: every document becomes a genuine
    FLAC stream (rice-coded fixed/constant subframes, CRC-8/16, spec
    MD5) via the pure-stdlib codec in ``ext/flac.py``; the features are
    computed from the DECODED samples. The DuckDB oracle never sees a
    byte — it replays the sample LCG relationally — so the hash match
    proves the encode→parse→rice-decode→undo-predictor loop is lossless
    at sample grain, the same arithmetic-oracle pattern as
    ``multimodal_decode``/``multimodal_audio_features``. Scale shape:
    two chained Arrow-batched ``mapInPandas`` over the scan, zero
    shuffle, payload bytes never transit the driver."""
    from .ext import flac as FL

    docs = t(spark, sf_dir, "documents")
    return FL.flac_features(FL.synthesize_flac(docs))


# Relational replay of synthesize_flac: ids ≡ 0 (mod 8) are constant
# streams (closed form, no pw join); the rest replay the shared
# pw(k) = (A^k, sum_{j<k} A^j) mod 2^63 LCG table. rms2 is one IEEE
# sqrt of exact integers (bit-identical across engines); the constant
# branch's rms2 = |v| exactly (v² * m / m, sqrt, and the *100 floor
# quantization are all exact IEEE ops on representable integers).
_FLAC_SQL = """
WITH RECURSIVE pw(k, ak, sk) AS (
  SELECT 1, CAST(6364136223846793005 AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
  SELECT k + 1,
         CAST((CAST(6364136223846793005 AS HUGEINT) * ak)
              % 9223372036854775808 AS BIGINT),
         CAST((CAST(6364136223846793005 AS HUGEINT) * sk + 1)
              % 9223372036854775808 AS BIGINT)
  FROM pw WHERE k < 542
),
docs0 AS (
  SELECT doc_id,
         CAST(length(text) % 256 + 16 AS BIGINT) AS frames,
         CAST(1 + (doc_id // 2) % 2 AS INTEGER) AS nch,
         CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS rate
  FROM documents),
lcg AS (
  SELECT doc_id AS media_id, frames, nch, rate,
         frames * nch AS m,
         CAST((CAST(doc_id AS HUGEINT) * 6364136223846793005
               + 1442695040888963407) % 9223372036854775808 AS BIGINT) AS s0
  FROM docs0 WHERE doc_id % 8 <> 0),
smp AS (
  SELECT l.media_id, l.m, l.frames, l.nch, l.rate, p.k,
         (CAST((CAST(p.ak AS HUGEINT) * l.s0 + p.sk)
               % 9223372036854775808 AS BIGINT) // 8589934592) % 65536
           - 32768 AS s
  FROM lcg l JOIN pw p ON p.k <= l.m),
agg AS (
  SELECT media_id, m, frames, nch, rate,
         CAST(sum(s * s) AS BIGINT) AS ssq,
         CAST(max(abs(s)) AS BIGINT) AS peak,
         CAST(max(CASE WHEN k = 1 THEN s END) AS INTEGER) AS first_s,
         CAST(max(CASE WHEN k = m THEN s END) AS INTEGER) AS last_s
  FROM smp GROUP BY 1, 2, 3, 4, 5),
noise AS (
  SELECT media_id, rate AS sample_rate, nch AS n_channels,
         m AS n_values,
         CAST(CASE WHEN frames > 256 THEN 2 ELSE 1 END AS INTEGER)
           AS n_frames,
         first_s, last_s, peak,
         floor(sqrt(CAST(ssq AS DOUBLE) / m) * 100 + 0.5) / 100.0 AS rms2,
         TRUE AS md5_ok
  FROM agg),
cst AS (
  SELECT doc_id AS media_id, rate AS sample_rate, nch AS n_channels,
         CAST(frames * nch AS BIGINT) AS n_values,
         CAST(CASE WHEN frames > 256 THEN 2 ELSE 1 END AS INTEGER)
           AS n_frames,
         CAST((doc_id * 2654435761) % 65536 - 32768 AS INTEGER) AS first_s,
         CAST((doc_id * 2654435761) % 65536 - 32768 AS INTEGER) AS last_s,
         CAST(abs((doc_id * 2654435761) % 65536 - 32768) AS BIGINT) AS peak,
         CAST(abs((doc_id * 2654435761) % 65536 - 32768) AS DOUBLE) AS rms2,
         TRUE AS md5_ok
  FROM docs0 WHERE doc_id % 8 = 0)
SELECT * FROM noise UNION ALL SELECT * FROM cst
"""


# ------------------------------------------------- JPEG ROUND-TRIP QA


def _multimodal_jpeg_roundtrip(spark, sf_dir):
    """Real compressed-image decode: every document becomes a genuine
    baseline JPEG (DCT + huffman entropy coding + byte stuffing) via
    the numpy/stdlib codec in ``ext/jpeg.py``, using the flat-block /
    all-ones-quantizer configuration under which baseline JPEG is
    bit-exact — so the DuckDB oracle can replay the per-block LCG
    relationally and predict every decoded pixel statistic. The hash
    match proves the DCT→quantize→huffman→unstuff→dequantize→IDCT loop
    is exact at pixel grain; lossy-mode quality is PSNR-asserted in
    pytest. Scale shape: two chained Arrow-batched ``mapInPandas``,
    zero shuffle, payloads never transit the driver."""
    from .ext import jpeg as J

    docs = t(spark, sf_dir, "documents")
    return J.jpeg_features(J.synthesize_jpeg(docs))


# Relational replay of synthesize_jpeg's block LCG (same pw(k) table
# family as the WAV/FLAC oracles, truncated at the 12-block max).
# dc_blocks = block count asserts relationally that every decoded 8x8
# block came back constant — i.e. no AC leakage anywhere in the loop.
_JPEG_SQL = """
WITH RECURSIVE pw(k, ak, sk) AS (
  SELECT 1, CAST(6364136223846793005 AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
  SELECT k + 1,
         CAST((CAST(6364136223846793005 AS HUGEINT) * ak)
              % 9223372036854775808 AS BIGINT),
         CAST((CAST(6364136223846793005 AS HUGEINT) * sk + 1)
              % 9223372036854775808 AS BIGINT)
  FROM pw WHERE k < 12
),
docs0 AS (
  SELECT doc_id,
         CAST(doc_id % 4 + 1 AS BIGINT) AS bw,
         CAST((doc_id // 4) % 3 + 1 AS BIGINT) AS bh,
         CASE WHEN doc_id % 8 = 0 THEN doc_id + length(text)
              ELSE doc_id END AS sb
  FROM documents),
seeds AS (
  SELECT doc_id, bw, bh, bw * bh AS nb,
         CAST((CAST(sb AS HUGEINT) * 6364136223846793005
               + 1442695040888963407) % 9223372036854775808 AS BIGINT) AS s0
  FROM docs0),
blk AS (
  SELECT d.doc_id, d.bw, d.bh, d.nb,
         (CAST((CAST(p.ak AS HUGEINT) * d.s0 + p.sk)
               % 9223372036854775808 AS BIGINT) // 8589934592) % 256 AS v
  FROM seeds d JOIN pw p ON p.k <= d.nb)
SELECT doc_id AS media_id,
       CAST(bw * 8 AS INTEGER) AS width,
       CAST(bh * 8 AS INTEGER) AS height,
       CAST(bw * bh * 64 AS BIGINT) AS n_px,
       CAST(64 * sum(v) AS BIGINT) AS px_sum,
       CAST(min(v) AS INTEGER) AS px_min,
       CAST(max(v) AS INTEGER) AS px_max,
       CAST(nb AS INTEGER) AS dc_blocks
FROM blk GROUP BY doc_id, bw, bh, nb
"""


def _multimodal_gif_roundtrip(spark, sf_dir):
    """Real palette-image decode: every document becomes a genuine
    LZW-compressed GIF89a via the pure-stdlib codec in ``ext/gif.py``
    (variable-width codes, clear/EOI, sub-block framing), then decodes
    back to exact palette-index statistics. GIF's LZW is lossless, so
    the DuckDB oracle replays the per-pixel LCG relationally and the
    hash match proves the encode→sub-block→LZW→decode loop is
    index-exact everywhere. Decoder breadth (extensions, local color
    tables, KwKwK, mid-stream clears, corruption fuzz) is
    pytest-covered. Scale shape: two chained Arrow-batched
    ``mapInPandas``, zero data shuffle (the one exchange moves (id,
    len) control rows at an explicit partition count — SCALING.md §14)."""
    from .ext import gif as G

    docs = t(spark, sf_dir, "documents")
    return G.gif_features(G.synthesize_gif(docs))


_GIF_SQL = """
WITH RECURSIVE pw(k, ak, sk) AS (
  SELECT 1, CAST(6364136223846793005 AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
  SELECT k + 1,
         CAST((CAST(6364136223846793005 AS HUGEINT) * ak)
              % 9223372036854775808 AS BIGINT),
         CAST((CAST(6364136223846793005 AS HUGEINT) * sk + 1)
              % 9223372036854775808 AS BIGINT)
  FROM pw WHERE k < 30
),
docs0 AS (
  SELECT doc_id,
         CAST(doc_id % 5 + 2 AS BIGINT) AS w,
         CAST((doc_id // 5) % 4 + 2 AS BIGINT) AS h,
         CASE WHEN doc_id % 8 = 0 THEN doc_id + n_chars
              ELSE doc_id END AS sb
  FROM documents),
seeds AS (
  SELECT doc_id, w, h, w * h AS npx,
         CAST((CAST(sb AS HUGEINT) * 6364136223846793005
               + 1442695040888963407) % 9223372036854775808 AS BIGINT) AS s0
  FROM docs0),
px AS (
  SELECT d.doc_id, d.w, d.h, d.npx,
         (CAST((CAST(p.ak AS HUGEINT) * d.s0 + p.sk)
               % 9223372036854775808 AS BIGINT) // 8589934592) % 8 AS v
  FROM seeds d JOIN pw p ON p.k <= d.npx)
SELECT doc_id AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(npx AS BIGINT) AS n_px,
       CAST(8 AS INTEGER) AS n_colors,
       CAST(sum(v) AS BIGINT) AS idx_sum,
       CAST(min(v) AS INTEGER) AS idx_min,
       CAST(max(v) AS INTEGER) AS idx_max
FROM px GROUP BY doc_id, w, h, npx
"""


def _multimodal_tar_shards(spark, sf_dir):
    """Real archive-container decode: every document becomes a genuine
    ustar (POSIX tar) archive via the pure-stdlib codec in
    ``ext/tar.py`` — the WebDataset shard format — then parses back to
    per-member metadata and exact payload statistics. tar is lossless
    framing, so the DuckDB oracle replays the per-byte LCG relationally
    and the hash match proves the header/checksum/padding/terminator
    loop is byte-exact everywhere. Parser breadth (stdlib
    interoperability both directions, signed/unsigned checksums,
    corruption + truncation fuzz) is pytest-covered. Scale shape: two
    chained Arrow-batched ``mapInPandas``, zero data shuffle (the one
    exchange moves id control rows at an explicit partition count —
    SCALING.md §14)."""
    from .ext import tar as T

    docs = t(spark, sf_dir, "documents")
    return T.tar_features(T.synthesize_tar(docs))


_TAR_SQL = """
WITH RECURSIVE pw(k, ak, sk) AS (
  SELECT 1, CAST(6364136223846793005 AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
  SELECT k + 1,
         CAST((CAST(6364136223846793005 AS HUGEINT) * ak)
              % 9223372036854775808 AS BIGINT),
         CAST((CAST(6364136223846793005 AS HUGEINT) * sk + 1)
              % 9223372036854775808 AS BIGINT)
  FROM pw WHERE k < 110
),
mems AS (
  SELECT doc_id,
         CAST(doc_id % 3 + 1 AS INTEGER) AS n_members,
         CAST(u.m AS INTEGER) AS member_idx
  FROM documents, unnest(range(0, 3)) AS u(m)
  WHERE u.m < doc_id % 3 + 1
),
seeds AS (
  SELECT doc_id, n_members, member_idx,
         CAST(10 + (doc_id + 13 * member_idx) % 100 AS BIGINT) AS size,
         CAST((CAST(doc_id * 31 + member_idx AS HUGEINT)
               * 6364136223846793005 + 1442695040888963407)
              % 9223372036854775808 AS BIGINT) AS s0
  FROM mems
),
bytes AS (
  SELECT d.doc_id, d.n_members, d.member_idx, d.size,
         CAST(((CAST((CAST(p.ak AS HUGEINT) * d.s0 + p.sk)
                     % 9223372036854775808 AS BIGINT)) // 8589934592) % 256
              AS BIGINT) AS v
  FROM seeds d JOIN pw p ON p.k <= d.size
)
SELECT doc_id AS media_id, n_members, member_idx,
       CAST(doc_id AS VARCHAR) || '/' || CAST(member_idx AS VARCHAR)
           || '.bin' AS name,
       size,
       CAST(sum(v) AS BIGINT) AS byte_sum,
       CAST(min(v) AS INTEGER) AS byte_min,
       CAST(max(v) AS INTEGER) AS byte_max
FROM bytes GROUP BY doc_id, n_members, member_idx, size
"""


def _multimodal_bmp_rle(spark, sf_dir):
    """Real run-length decode: every document becomes a genuine
    BI_RLE8-compressed BMP via the pure-stdlib codec in ``ext/bmp.py``
    (run packets, end-of-line/bitmap escapes, bottom-up rows), then
    decodes back to exact palette-index statistics — the fourth real
    compression family beside LZW/DCT/Rice. RLE8 is lossless, so the
    DuckDB oracle replays the per-pixel LCG relationally and the hash
    match proves the encode→escape→decode loop is index-exact
    everywhere. Decoder breadth (absolute-mode packets with word
    padding, delta rejection, corruption + truncation fuzz) is
    pytest-covered. Scale shape: two chained Arrow-batched
    ``mapInPandas``, zero data shuffle."""
    from .ext import bmp as B

    docs = t(spark, sf_dir, "documents")
    return B.bmp_features(B.synthesize_bmp(docs))


_BMP_SQL = """
WITH RECURSIVE pw(k, ak, sk) AS (
  SELECT 1, CAST(6364136223846793005 AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
  SELECT k + 1,
         CAST((CAST(6364136223846793005 AS HUGEINT) * ak)
              % 9223372036854775808 AS BIGINT),
         CAST((CAST(6364136223846793005 AS HUGEINT) * sk + 1)
              % 9223372036854775808 AS BIGINT)
  FROM pw WHERE k < 35
),
docs0 AS (
  SELECT doc_id,
         CAST(doc_id % 6 + 2 AS BIGINT) AS w,
         CAST((doc_id // 6) % 4 + 2 AS BIGINT) AS h,
         CASE WHEN doc_id % 9 = 0 THEN doc_id + n_chars
              ELSE doc_id END AS sb
  FROM documents),
seeds AS (
  SELECT doc_id, w, h, w * h AS npx,
         CAST((CAST(sb AS HUGEINT) * 6364136223846793005
               + 1442695040888963407) % 9223372036854775808 AS BIGINT) AS s0
  FROM docs0),
px AS (
  SELECT d.doc_id, d.w, d.h, d.npx,
         (CAST((CAST(p.ak AS HUGEINT) * d.s0 + p.sk)
               % 9223372036854775808 AS BIGINT) // 8589934592) % 16 AS v
  FROM seeds d JOIN pw p ON p.k <= d.npx)
SELECT doc_id AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(npx AS BIGINT) AS n_px,
       CAST(16 AS INTEGER) AS n_colors,
       CAST(sum(v) AS BIGINT) AS idx_sum,
       CAST(min(v) AS INTEGER) AS idx_min,
       CAST(max(v) AS INTEGER) AS idx_max
FROM px GROUP BY doc_id, w, h, npx
"""


def _multimodal_tar_index(spark, sf_dir):
    """WebDataset shard index: byte offsets of every member inside the
    real ustar archives of multimodal_tar_shards — what a training
    loader actually seeks with. The DuckDB oracle re-derives every
    offset from the 512-block framing arithmetic (header block +
    size-padded payload blocks, cumulative over preceding members), so
    the hash match proves the parser's offset bookkeeping byte-for-byte
    against bytes it never saw. Same zero-shuffle two-stage
    mapInPandas shape as the feature key."""
    from .ext import tar as T

    docs = t(spark, sf_dir, "documents")
    return T.tar_index(T.synthesize_tar(docs))


_TAR_INDEX_SQL = """
WITH mems AS (
  SELECT doc_id, CAST(u.m AS INTEGER) AS m,
         CAST(10 + (doc_id + 13 * u.m) % 100 AS BIGINT) AS size
  FROM documents, unnest(range(0, 3)) AS u(m)
  WHERE u.m < doc_id % 3 + 1
),
offs AS (
  SELECT a.doc_id, a.m, a.size,
         CAST(COALESCE(sum(512 + 512 * ((b.size + 511) // 512)), 0)
              AS BIGINT) AS header_offset
  FROM mems a LEFT JOIN mems b ON b.doc_id = a.doc_id AND b.m < a.m
  GROUP BY a.doc_id, a.m, a.size
)
SELECT doc_id AS media_id, m AS member_idx,
       CAST(doc_id AS VARCHAR) || '/' || CAST(m AS VARCHAR) || '.bin' AS name,
       header_offset,
       header_offset + 512 AS payload_offset,
       size
FROM offs
"""


MULTIMODAL_QUERIES: dict[str, QueryDef] = {
    q.name: q
    for q in (
        QueryDef(
            "multimodal_metadata",
            _multimodal_metadata,
            """SELECT doc_id AS media_id, 'text' AS kind,
                      octet_length(encode(text)) AS n_bytes, md5(text) AS checksum
               FROM documents""",
        ),
        QueryDef(
            "multimodal_decode",
            _multimodal_decode,
            """WITH d AS (SELECT doc_id, length(text) AS n FROM documents)
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'audio' ELSE 'image' END AS kind,
       CASE WHEN doc_id % 2 = 0 THEN 'audio/wav'
            WHEN doc_id % 4 = 3 THEN 'image/png'
            ELSE 'image/x-portable-pixmap' END AS mime,
       CASE WHEN doc_id % 2 = 0 THEN NULL
            ELSE CAST(n % 32 + 1 AS INTEGER) END AS width,
       CASE WHEN doc_id % 2 = 0 THEN NULL
            ELSE CAST((doc_id // 2) % 16 + 1 AS INTEGER) END AS height,
       CASE WHEN doc_id % 2 = 0 THEN CAST(8000 + (doc_id % 4) * 4000 AS INTEGER)
            ELSE NULL END AS sample_rate,
       CASE WHEN doc_id % 2 = 0 THEN CAST(1 + (doc_id // 2) % 2 AS INTEGER)
            ELSE NULL END AS n_channels,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END AS INTEGER) AS bits,
       CAST(CASE WHEN doc_id % 2 = 0 THEN n % 256 + 16 ELSE NULL END
            AS BIGINT) AS n_samples
FROM d""",
        ),
        QueryDef("multimodal_frame_sample", _multimodal_frame_sample, _FRAME_SQL),
        QueryDef(
            "multimodal_audio_features",
            _multimodal_audio_features,
            _AUDIO_FEATURES_SQL,
        ),
        QueryDef(
            "multimodal_pixel_stats",
            lambda spark, sf_dir: __import__(
                "fitness_data_ingest_spark.ext.multimodal", fromlist=["multimodal"]
            ).image_pixel_stats(
                __import__(
                    "fitness_data_ingest_spark.ext.multimodal",
                    fromlist=["multimodal"],
                ).synthesize_media(
                    t(spark, sf_dir, "documents").select(
                        "doc_id", F.length("text").alias("n_chars")
                    ),
                    png_mod4=True,
                )
            ),
            # Full hash oracle: the pixel
            # bytes are an affine LCG mod 2^63, so DuckDB replays them
            # relationally — (A^k, sum A^j) are id-INDEPENDENT and come
            # from one 1536-row recursive CTE; seed_k = A^k*s0 + S_k
            # (HUGEINT intermediates, BIGINT values). PNG rows decode
            # to the SAME LCG pixels as PPM, so the oracle covers every
            # image row and hash-verifies the whole zlib-inflate +
            # five-unfilter PNG pipeline, not just the PPM subset; WAV
            # (even-id) rows emit typed nulls on both sides.
            _PIXEL_STATS_SQL,
        ),
        QueryDef("multimodal_image_dedup", _multimodal_image_dedup, _AHASH_SQL),
        QueryDef("multimodal_flac_roundtrip", _multimodal_flac_roundtrip, _FLAC_SQL),
        QueryDef("multimodal_jpeg_roundtrip", _multimodal_jpeg_roundtrip, _JPEG_SQL),
        QueryDef("multimodal_gif_roundtrip", _multimodal_gif_roundtrip, _GIF_SQL),
        QueryDef("multimodal_tar_shards", _multimodal_tar_shards, _TAR_SQL),
        QueryDef("multimodal_bmp_rle", _multimodal_bmp_rle, _BMP_SQL),
        QueryDef("multimodal_tar_index", _multimodal_tar_index, _TAR_INDEX_SQL),
    )
}
