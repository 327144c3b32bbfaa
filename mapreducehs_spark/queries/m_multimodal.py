"""Multimodal queries (m-series).

Split out of the former single-module queries.py (round 8, zero
behavior change — plan fingerprints held).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # noqa: F401 — needed to resolve postponed pd.Series hints in pandas UDFs

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducehs_spark.operators import dedup, multimodal, similarity, text, windows
from mapreducehs_spark.operators import sampling as _sampling
from mapreducehs_spark.operators.iteration import Materialization, materialize
from mapreducehs_spark.operators.joins import asof_join
from mapreducehs_spark.pipeline import word_count_pipeline
from mapreducehs_spark.sources.catalog import load_table

from mapreducehs_spark.queries._registry import (  # noqa: F401
    ORACLE,
    QUERIES,
    STAGED_ORACLE,
    query,
)
from mapreducehs_spark.queries._shared import (  # noqa: F401
    _d15_oracle,
    _d15_staged_stmts,
    _t,
)

# =========================================================================
# Multimodal plumbing (BASELINE.json mandate)
# =========================================================================

@query(
    "m01_payload_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum,
           'text' AS modality
    FROM documents
    """,
)
def m01_payload_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata struct convention
    (operators/multimodal.py attach_payload)."""
    docs = _t(spark, sf_dir, "documents")
    with_payload = multimodal.attach_payload(docs)
    return with_payload.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.checksum").alias("checksum"),
        F.col("meta.modality").alias("modality"),
    )


@query(
    "m02_payload_features",
    oracle="""
    SELECT doc_id,
           round((('0x' || substr(sha256(text), 1, 8))::BIGINT) / 4294967296.0, 6) AS f0,
           round((('0x' || substr(sha256(text), 57, 8))::BIGINT) / 4294967296.0, 6) AS f7,
           8 AS dim
    FROM documents
    """,
)
def m02_payload_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    mapInPandas (deterministic stand-in extractor; real decode stubs).
    The stand-in folds the payload's sha256 into unit floats, which the
    oracle replays in SQL (hex-slice → int / 2^32) — so even the UDF
    boundary is hash-checked, not just row-counted."""
    docs = _t(spark, sf_dir, "documents")
    feats = multimodal.extract_features(multimodal.attach_payload(docs), dim=8)
    return feats.select(
        "doc_id",
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(F.element_at("features", 8), 6).alias("f7"),
        F.size("features").alias("dim"),
    )


@query(
    "m03_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(f AS BIGINT) AS frame_index
    FROM documents,
         LATERAL (
           SELECT unnest(range(0,
             greatest(CAST(octet_length(encode(text)) / 1000 AS BIGINT) - 1, 0) + 1,
             10)) AS f
         )
    """,
)
def m03_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plan shape (every-10th-frame explode
    over payload metadata; decode itself is the documented stub —
    operators/multimodal.frame_sample_plan)."""
    from mapreducehs_spark.operators.multimodal import attach_payload, frame_sample_plan

    docs = _t(spark, sf_dir, "documents")
    with_payload = attach_payload(docs)
    sampled = frame_sample_plan(with_payload, every_n=10)
    return sampled.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("frame_index").cast("bigint").alias("frame_index"),
    )


@query(
    "m04_arrow_payload_stats",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1)) ELSE -1 END AS INT)
             AS head_byte,
           CAST(list_sum(list_transform(string_split(text, ''), x -> ascii(x))) AS BIGINT)
             AS byte_sum
    FROM documents
    """,
)
def m04_arrow_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy payload processing via ``mapInArrow`` (the third UDF
    batch interface after pandas_udf and mapInPandas): binary payloads
    stay in the Arrow buffer, numpy reduces per-segment via the offsets
    array — no per-cell Python objects.  Oracle recomputes byte stats
    from the source text (payload = UTF-8 bytes; the corpus is ASCII so
    per-char ascii() equals per-byte value)."""
    from mapreducehs_spark.operators.multimodal import attach_payload, payload_byte_stats

    docs = _t(spark, sf_dir, "documents")
    return payload_byte_stats(attach_payload(docs))


@query(
    "m06_image_decode_stats",
    oracle="""
    WITH px AS (
      SELECT doc_id, (doc_id * 31 + i * 7) % 256 AS p
      FROM documents, unnest(range(0, 512)) AS u(i)
    )
    SELECT doc_id,
           32::BIGINT AS width,
           16::BIGINT AS height,
           CAST(sum(p) AS BIGINT) AS px_sum,
           CAST(min(p) AS BIGINT) AS px_min,
           CAST(max(p) AS BIGINT) AS px_max
    FROM px GROUP BY doc_id
    """,
)
def m06_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode inside the checked inventory: every doc gets a
    synthetic 32x16 PGM payload (pixel law (id*31 + 7i) mod 256,
    operators/multimodal.render_pgm_payloads), and a second Arrow stage
    decodes the actual bytes — magic check, header parse, raster
    reshape (multimodal.decode_image, pure numpy) — then reduces to
    per-image stats.  The arithmetic pixel law lets DuckDB replay the
    stats without decoding, so the encode→decode round trip itself is
    what is value-checked.  Formats needing codec libs stay env-gated;
    the pipeline shape (binary column → decode kernel → stats) is the
    production one."""
    from mapreducehs_spark.operators.multimodal import (
        decoded_image_stats,
        render_pgm_payloads,
    )

    docs = _t(spark, sf_dir, "documents")
    payloads = render_pgm_payloads(docs, "doc_id", width=32, height=16)
    return decoded_image_stats(payloads).withColumnRenamed("id", "doc_id")


@query(
    "m05_pointer_manifest",
    oracle="""
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS file_name,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS checksum
    FROM documents
    """,
)
def m05_pointer_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINTER-style multimodal layout, end to end: payloads live as
    individual files on storage and the engine handles a manifest of
    (path, size, checksum) — the 100 TB posture where petabytes of
    media bytes never enter the relational plan (SCALE.md multimodal
    row).  The query builds the manifest with Spark's ``binaryFile``
    source over the payload directory (content read once, hashed,
    dropped); the oracle recomputes size/checksum from the source text
    the fixture files were written from.  The fixture write is a
    one-time driver loop (it IS the external media store); everything
    after is distributed."""
    import os
    import tempfile

    from mapreducehs_spark.operators.multimodal import read_binary_dir
    from mapreducehs_spark.sources.catalog import build_fixture_once, source_fingerprint

    tag = os.path.basename(os.path.normpath(sf_dir))
    fp = source_fingerprint(sf_dir, "documents")

    def _write_media(tmp: str) -> None:
        from mapreducehs_spark.sources.catalog import guard_driver_fixture

        os.makedirs(tmp, exist_ok=True)
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        guard_driver_fixture(docs, f"m05 media fixture ({sf_dir})")
        for r in docs.collect():
            with open(os.path.join(tmp, f"doc_{r['doc_id']}.bin"), "wb") as f:
                f.write(r["text"].encode("utf-8"))

    base = build_fixture_once(
        os.path.join(tempfile.gettempdir(), f"mapreducehs_media_{tag}_{fp}"),
        _write_media,
    )
    bins = read_binary_dir(spark, os.path.join(base, "*.bin"))
    return bins.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("checksum"),
    )


@query(
    "m07_audio_decode_stats",
    oracle="""
    WITH samples AS (
      SELECT doc_id, ((doc_id * 13 + i * 17) % 4096) - 2048 AS s
      FROM documents, LATERAL unnest(range(0, 256)) AS t(i)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(sum(s) AS BIGINT) AS amp_sum,
           CAST(sum(s * s) AS BIGINT) AS sq_sum,
           CAST(min(s) AS BIGINT) AS amp_min,
           CAST(max(s) AS BIGINT) AS amp_max
    FROM samples
    GROUP BY doc_id
    """,
)
def m07_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode inside the checked inventory (the WAV twin of
    m06's PGM): every doc gets a synthetic 256-sample 16-bit PCM WAV
    (sample law ((id*13 + 17i) mod 4096) - 2048,
    operators/multimodal.render_wav_payloads), and a second Arrow stage
    parses the actual RIFF bytes — magic check, chunk walk, int16
    frame decode (multimodal.decode_wav, pure numpy+struct) — reducing
    to exact integer stats.  The arithmetic sample law lets DuckDB
    replay the stats without decoding, so the encode→decode round trip
    itself is value-checked; stats stay integer (amp/square sums) so
    the check is bit-exact.  Codec-dependent formats (mp3/flac) remain
    env-gated stubs; this pins the real binary-parsing path."""
    from mapreducehs_spark.operators.multimodal import (
        decoded_audio_stats,
        render_wav_payloads,
    )

    docs = _t(spark, sf_dir, "documents")
    payloads = render_wav_payloads(docs, "doc_id", n_samples=256, sample_rate=8000)
    return decoded_audio_stats(payloads).withColumnRenamed("id", "doc_id")


@query(
    "m08_image_resize_stats",
    oracle="""
    WITH px AS (
      SELECT doc_id, (doc_id * 31 + i * 7) % 256 AS p
      FROM documents, unnest(range(0, 512)) AS u(i)
      WHERE (i // 32) % 2 = 0 AND (i % 32) % 2 = 0
    )
    SELECT doc_id,
           16::BIGINT AS width,
           8::BIGINT AS height,
           CAST(sum(p) AS BIGINT) AS px_sum,
           CAST(min(p) AS BIGINT) AS px_min,
           CAST(max(p) AS BIGINT) AS px_max
    FROM px GROUP BY doc_id
    """,
)
def m08_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image RESIZE on the decode path (the m-series template's
    third verb after decode and feature-extract): each synthetic 32x16
    PGM payload is decoded from bytes and nearest-neighbor downsampled
    2x2 by stride slicing (multimodal.resize_image — a zero-copy numpy
    view, no interpolation arithmetic), fused with decode in ONE Arrow
    stage so full-resolution rasters never leave the batch.  Stride
    sampling is bit-deterministic, so DuckDB value-checks the resized
    stats by replaying the pixel law on the sampled (even-row,
    even-col) grid — the resize kernel itself is what is checked."""
    from mapreducehs_spark.operators.multimodal import (
        render_pgm_payloads,
        resized_image_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    payloads = render_pgm_payloads(docs, "doc_id", width=32, height=16)
    return resized_image_stats(payloads).withColumnRenamed("id", "doc_id")


@query(
    "m09_video_frame_stats",
    oracle="""
    WITH px AS (
      SELECT doc_id, ((doc_id * 31 + f.f * 101 + i.i * 7) % 256) AS v
      FROM documents,
           LATERAL unnest([0, 3, 6]) AS f(f),
           LATERAL unnest(range(0, 128)) AS i(i)
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS n_frames,
           CAST(3 AS BIGINT) AS n_sampled,
           CAST(sum(v) AS BIGINT) AS px_sum,
           CAST(min(v) AS BIGINT) AS px_min,
           CAST(max(v) AS BIGINT) AS px_max
    FROM px
    GROUP BY doc_id
    """,
)
def m09_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-template decode: every doc gets an 8-frame MRV clip
    (a minimal length-prefixed-PGM container,
    operators/multimodal.encode_mrv), and a second Arrow stage demuxes
    the actual bytes, SAMPLES every 3rd frame (frames 0, 3, 6 — skipped
    frames are never decoded; the demux walk reads only length
    prefixes), decodes the sampled PGMs, and reduces to integer pixel
    stats fused in one stage.  This makes m03's frame-sampling plumbing
    a real decoding path — the m06/m07 checked-codec discipline applied
    to the video container template.  The arithmetic pixel law
    (id·31 + frame·101 + 7i mod 256) lets DuckDB replay the stats
    without demuxing, so encode→demux→sample→decode is value-checked
    end to end.  Codec formats (h264/vp9) remain env-gated; the
    Spark-side shape is the production one."""
    from mapreducehs_spark.operators.multimodal import (
        render_mrv_payloads,
        sampled_frame_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    payloads = render_mrv_payloads(docs, "doc_id", n_frames=8, width=16, height=8)
    return sampled_frame_stats(payloads, every_n=3).withColumnRenamed("id", "doc_id")


@query(
    "m10_tolerant_decode",
    oracle="""
    WITH px AS (
      SELECT doc_id, ((doc_id * 31 + i.i * 7) % 256) AS v
      FROM documents, LATERAL unnest(range(0, 512)) AS i(i)
      WHERE doc_id % 13 <> 0
    ), good AS (
      SELECT doc_id, CAST(sum(v) AS BIGINT) AS px_sum FROM px GROUP BY doc_id
    )
    SELECT CASE WHEN d.doc_id % 13 = 0 THEN 'corrupt_truncated' ELSE 'ok' END
             AS decode_status,
           CAST(count(*) AS BIGINT) AS n_payloads,
           CAST(coalesce(sum(g.px_sum), 0) AS BIGINT) AS px_sum_total
    FROM documents d LEFT JOIN good g USING (doc_id)
    GROUP BY 1
    """,
)
def m10_tolerant_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERROR-TOLERANT media decode — the production requirement m06/m09
    skip: at 100 TB some payloads ARE corrupt, and a decode kernel that
    throws kills the whole task (and with retries, the job).  Here every
    13th payload is truncated mid-raster (deterministic corruption law),
    and the Arrow decode stage classifies per row — 'ok' rows reduce to
    pixel stats, corrupt rows land in a quarantine status with ZERO
    exceptions escaping the kernel — the badRecords/DLQ pattern as a
    column, so the pipeline's error budget is itself a queryable,
    value-checked result."""
    from mapreducehs_spark.operators.multimodal import (
        render_corrupt_pgm_batches,
        tolerant_decode_batches,
    )

    docs = _t(spark, sf_dir, "documents")

    # the render/decode kernels live in operators/multimodal.py since
    # round 7, shared verbatim with the streaming DLQ twin (st24)
    decoded = (
        docs.select("doc_id")
        .mapInPandas(render_corrupt_pgm_batches, schema="doc_id long, payload binary")
        .mapInPandas(
            tolerant_decode_batches,
            schema="doc_id long, decode_status string, px_sum long",
        )
    )
    return decoded.groupBy("decode_status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_payloads"),
        F.sum("px_sum").cast("bigint").alias("px_sum_total"),
    )


#: Shared oracle tail for the multimodal canonical dedup (m11/m12):
#: takes a CTE ``h`` of (doc_id, lo, hi) 64-bit hashes and replays
#: hash64_canonical_dedup — exact-dup contraction to distinct hashes,
#: pigeonhole banding + popcount verify between hash reps, recursive-CTE
#: component closure, then (member, rep, class_size) broadcast back to
#: members.  The closure runs over DISTINCT HASHES, not members, so the
#: recursion stays tiny even when duplicate classes are huge.
_HASH64_CANONICAL_TAIL = """grp AS (
      SELECT lo, hi, min(doc_id) AS hrep, CAST(count(*) AS BIGINT) AS cnt
      FROM h GROUP BY lo, hi
    ), gbanded AS (
      SELECT hrep, b,
             CASE b WHEN 0 THEN lo & 65535 WHEN 1 THEN lo >> 16
                    WHEN 2 THEN hi & 65535 ELSE hi >> 16 END AS bk
      FROM grp, unnest(range(4)) tb(b)
    ), gcand AS (
      SELECT DISTINCT a.hrep AS ra, b.hrep AS rb
      FROM gbanded a JOIN gbanded b ON a.b = b.b AND a.bk = b.bk AND a.hrep < b.hrep
    ), pe AS (
      SELECT c.ra, c.rb
      FROM gcand c JOIN grp ga ON ga.hrep = c.ra JOIN grp gb ON gb.hrep = c.rb
      WHERE bit_count(xor(ga.lo, gb.lo)) + bit_count(xor(ga.hi, gb.hi)) <= 3
    ), edges AS (
      SELECT ra AS src, rb AS dst FROM pe UNION SELECT rb, ra FROM pe
    ), reach(src, dst) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.dst FROM edges e JOIN reach r ON e.dst = r.src
    ), comp AS (
      SELECT src AS hrep, min(dst) AS comp FROM reach GROUP BY src
    ), crep AS (
      SELECT g.lo, g.hi, g.cnt, coalesce(c.comp, g.hrep) AS comp
      FROM grp g LEFT JOIN comp c ON c.hrep = g.hrep
    ), sizes AS (
      SELECT comp, CAST(sum(cnt) AS BIGINT) AS class_size FROM crep GROUP BY comp
    )
    SELECT h.doc_id AS member, CAST(cr.comp AS BIGINT) AS rep, s.class_size
    FROM h JOIN crep cr ON cr.lo = h.lo AND cr.hi = h.hi
    JOIN sizes s ON s.comp = cr.comp
    WHERE h.doc_id != cr.comp
    """


#: m11's full oracle as a constant so m14's cross-modal composition can
#: embed the identical image-class replay as a subquery.
#: The ahash-from-doc_id law (cells → tot → bits → h(lo,hi)) shared by
#: m11's dedup oracle and m15's alignment-verification oracle.
_AHASH_CTES = """cells AS (
      SELECT doc_id, r, c,
             CAST(sum((doc_id * 31 + ((2 * r + br) * 32 + (4 * c + bc)) * 7) % 256)
                  AS BIGINT) AS cs
      FROM documents,
           unnest(range(8)) tr(r), unnest(range(8)) tc(c),
           unnest(range(2)) tbr(br), unnest(range(4)) tbc(bc)
      GROUP BY doc_id, r, c
    ), tot AS (
      SELECT doc_id, CAST(sum(cs) AS BIGINT) AS total FROM cells GROUP BY doc_id
    ), bits AS (
      SELECT cells.doc_id, (r * 8 + c) AS k,
             CASE WHEN cs * 64 > total THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      FROM cells JOIN tot USING (doc_id)
    ), h AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN k < 32 THEN bit << k ELSE 0 END) AS BIGINT) AS lo,
             CAST(sum(CASE WHEN k >= 32 THEN bit << (k - 32) ELSE 0 END) AS BIGINT) AS hi
      FROM bits GROUP BY doc_id
    )"""


_M11_ORACLE = "\n    WITH RECURSIVE " + _AHASH_CTES + ", " + _HASH64_CANONICAL_TAIL


@query("m11_phash_dedup", oracle=_M11_ORACLE)
def m11_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL-HASH image dedup — the multimodal member of the dedup
    suite (fifth blocking paradigm): real decode (PGM parse) + 8x8
    block-sum average hash fused in one Arrow stage
    (operators/multimodal.ahash_64), resolved to the CANONICAL output
    contract (member, rep, class_size) by
    dedup.hash64_canonical_dedup — the round-6 reshape of VERDICT r05's
    `weak` mark: the previous pairwise output grew 305 k → 30.8 M rows
    across sf0.1 → sf1 (quadratic in duplicate-class size); this
    composition contracts exact hash-dups FIRST (planted classes share
    one hash), runs pigeonhole banding + popcount verify + star-CC over
    DISTINCT hashes only, and emits one row per non-representative
    member — linear, the d15/d20/d21 discipline.  hamming <= 3 keeps
    the banding recall EXACT (< 4 differing bits cannot touch all four
    16-bit quarters).  At 100 TB: hashing is scan-shaped over the media
    store manifest (m05's pointer layout), the shuffle carries 64-bit
    hashes — never pixels — and no stage is quadratic in members."""
    from mapreducehs_spark.operators.multimodal import ahash_64, render_pgm_payloads

    docs = _t(spark, sf_dir, "documents")
    payloads = render_pgm_payloads(docs, "doc_id", width=32, height=16)
    return dedup.hash64_canonical_dedup(ahash_64(payloads), max_hamming=3)


@query(
    "m12_audio_fingerprint_dedup",
    oracle="""
    WITH RECURSIVE samples AS (
      SELECT doc_id, i,
             ('0x' || substr(md5((doc_id % 128)::VARCHAR || '_' || i::VARCHAR), 1, 4))::INT
               % 4096 - 2048 AS s
      FROM documents, unnest(range(256)) t(i)
    ), en AS (
      SELECT doc_id, i // 4 AS k, CAST(sum(s * s) AS BIGINT) AS e
      FROM samples GROUP BY 1, 2
    ), tot AS (
      SELECT doc_id, CAST(sum(e) AS BIGINT) AS te FROM en GROUP BY 1
    ), bits AS (
      SELECT en.doc_id, k,
             CASE WHEN e * 64 > te THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      FROM en JOIN tot USING (doc_id)
    ), h AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN k < 32 THEN bit << k ELSE 0 END) AS BIGINT) AS lo,
             CAST(sum(CASE WHEN k >= 32 THEN bit << (k - 32) ELSE 0 END) AS BIGINT) AS hi
      FROM bits GROUP BY doc_id
    ), """
    + _HASH64_CANONICAL_TAIL,
)
def m12_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO near-dup dedup — completes the multimodal×dedup matrix
    (text: d-series, image: m11, audio: here): real WAV decode (RIFF
    chunk walk) fused with a 64-frame integer ENERGY fingerprint in one
    Arrow stage (operators/multimodal.audio_fingerprint_64), resolved
    to the canonical (member, rep, class_size) contract by
    dedup.hash64_canonical_dedup — m11's round-6 reshape: exact-dup
    contraction to distinct fingerprints, pigeonhole banding + popcount
    verify at hamming <= 3, star-CC resolution, linear output (the
    pairwise matrix the r05 audit flagged as quadratic never exists).
    The seeded media store (render_wav_payloads_seeded) plants
    duplicate classes via id mod 128 with md5-white samples, so the
    classes are the planted ones plus a negligible random tail.  Every
    stage is exact integer arithmetic, so decode → energies → threshold
    bits → banding → popcount → components replays bit-for-bit in
    DuckDB.  At 100 TB: fingerprints shuffle, audio bytes never do
    (m05's pointer story)."""
    from mapreducehs_spark.operators.multimodal import (
        audio_fingerprint_64,
        render_wav_payloads_seeded,
    )

    docs = _t(spark, sf_dir, "documents")
    payloads = render_wav_payloads_seeded(docs, "doc_id", seed_mod=128)
    return dedup.hash64_canonical_dedup(audio_fingerprint_64(payloads), max_hamming=3)


#: hash128_canonical_dedup's oracle tail: takes a CTE ``h`` of
#: (doc_id, w0..w3) 32-bit words and replays the 4x32-bit-band
#: composition — same closure-over-distinct-hashes shape as
#: _HASH64_CANONICAL_TAIL, wider bands.
_HASH128_CANONICAL_TAIL = """grp AS (
      SELECT w0, w1, w2, w3, min(doc_id) AS hrep, CAST(count(*) AS BIGINT) AS cnt
      FROM h GROUP BY w0, w1, w2, w3
    ), gbanded AS (
      SELECT hrep, b,
             CASE b WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2 ELSE w3 END AS bk
      FROM grp, unnest(range(4)) tb(b)
    ), gcand AS (
      SELECT DISTINCT a.hrep AS ra, b.hrep AS rb
      FROM gbanded a JOIN gbanded b ON a.b = b.b AND a.bk = b.bk AND a.hrep < b.hrep
    ), pe AS (
      SELECT c.ra, c.rb
      FROM gcand c JOIN grp ga ON ga.hrep = c.ra JOIN grp gb ON gb.hrep = c.rb
      WHERE bit_count(xor(ga.w0, gb.w0)) + bit_count(xor(ga.w1, gb.w1))
            + bit_count(xor(ga.w2, gb.w2)) + bit_count(xor(ga.w3, gb.w3)) <= 3
    ), edges AS (
      SELECT ra AS src, rb AS dst FROM pe UNION SELECT rb, ra FROM pe
    ), reach(src, dst) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.dst FROM edges e JOIN reach r ON e.dst = r.src
    ), comp AS (
      SELECT src AS hrep, min(dst) AS comp FROM reach GROUP BY src
    ), crep AS (
      SELECT g.w0, g.w1, g.w2, g.w3, g.cnt, coalesce(c.comp, g.hrep) AS comp
      FROM grp g LEFT JOIN comp c ON c.hrep = g.hrep
    ), sizes AS (
      SELECT comp, CAST(sum(cnt) AS BIGINT) AS class_size FROM crep GROUP BY comp
    )
    SELECT h.doc_id AS member, CAST(cr.comp AS BIGINT) AS rep, s.class_size
    FROM h JOIN crep cr ON cr.w0 = h.w0 AND cr.w1 = h.w1 AND cr.w2 = h.w2 AND cr.w3 = h.w3
    JOIN sizes s ON s.comp = cr.comp
    WHERE h.doc_id != cr.comp
    """


@query(
    "m13_phash128_dedup",
    oracle="""
    WITH RECURSIVE cells AS (
      SELECT doc_id, r, c,
             CAST(sum((doc_id * 31 + ((4 * r + br) * 64 + (4 * c + bc)) * 7) % 256)
                  AS BIGINT) AS cs
      FROM documents,
           unnest(range(8)) tr(r), unnest(range(16)) tc(c),
           unnest(range(4)) tbr(br), unnest(range(4)) tbc(bc)
      GROUP BY doc_id, r, c
    ), tot AS (
      SELECT doc_id, CAST(sum(cs) AS BIGINT) AS total FROM cells GROUP BY doc_id
    ), bits AS (
      SELECT cells.doc_id, (r * 16 + c) AS k,
             CASE WHEN cs * 128 > total THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      FROM cells JOIN tot USING (doc_id)
    ), h AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN k // 32 = 0 THEN bit << (k % 32) ELSE 0 END) AS BIGINT) AS w0,
             CAST(sum(CASE WHEN k // 32 = 1 THEN bit << (k % 32) ELSE 0 END) AS BIGINT) AS w1,
             CAST(sum(CASE WHEN k // 32 = 2 THEN bit << (k % 32) ELSE 0 END) AS BIGINT) AS w2,
             CAST(sum(CASE WHEN k // 32 = 3 THEN bit << (k % 32) ELSE 0 END) AS BIGINT) AS w3
      FROM bits GROUP BY doc_id
    ), """
    + _HASH128_CANONICAL_TAIL,
)
def m13_phash128_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-BIT perceptual-hash dedup (round 7) — m11's composition at
    the fingerprint width SCALE.md's round-7 band-occupancy probe
    recorded as the billion-scale mitigation: the four pigeonhole
    bands are 32-bit words (multimodal.ahash_128 over a 64x32 render,
    8x16 block grid), so per-band bucket keys cap at 2^32 instead of
    2^16 and the candidate stage over N DISTINCT hashes is ~N^2/2^33
    pairs (~10^8 at N = 10^9, where the 16-bit-band law is ~10^13 —
    infeasible).  Same exact-recall guarantee (hamming <= 3 cannot
    touch all four words), same linear contract
    (dedup.hash128_canonical_dedup: contraction -> banding over
    distinct hashes -> popcount verify -> star-CC -> (member, rep,
    class_size)), and the whole pipeline — pixel law, 128 block sums,
    threshold bits, word packing, banding, closure — replays
    bit-for-bit in DuckDB."""
    from mapreducehs_spark.operators.multimodal import ahash_128, render_pgm_payloads

    docs = _t(spark, sf_dir, "documents")
    payloads = render_pgm_payloads(docs, "doc_id", width=64, height=32)
    return dedup.hash128_canonical_dedup(ahash_128(payloads), max_hamming=3)


def _m14_oracle() -> str:
    """m14: union of m11's image-phash class edges (the full m11 oracle
    embedded as a subquery) and d07's checked near-dup caption class
    edges (d15's renderer, the d23 embedding), closed with a
    recursive-CTE component min over documents — the cross-modal merge
    replayed relationally.  Outer CTE names are xm14_-prefixed because
    BOTH embedded oracles define ``edges``/``reach`` internally and
    DuckDB resolves an outer recursive CTE against the shadowing inner
    name (measured: 404 vs the correct 476 rows at sf0.01)."""
    txt = _d15_oracle(est_threshold=0.25, jaccard_threshold=0.6)
    return f"""
    WITH RECURSIVE xm14_img AS (
      SELECT member AS a, rep AS b FROM ({_M11_ORACLE}) tim
    ), xm14_txt AS (
      SELECT doc_id AS a, rep_id AS b FROM ({txt}) ttx
    ), xm14_e0 AS (
      SELECT a, b FROM xm14_img UNION SELECT a, b FROM xm14_txt
    ), xm14_edges AS (
      SELECT a AS src, b AS dst FROM xm14_e0 UNION SELECT b, a FROM xm14_e0
    ), xm14_reach(src, dst) AS (
      SELECT DISTINCT src, src FROM xm14_edges
      UNION
      SELECT e.src, r.dst FROM xm14_edges e JOIN xm14_reach r ON e.dst = r.src
    ), xm14_comp AS (
      SELECT src AS member, min(dst) AS comp FROM xm14_reach GROUP BY src
    ), xm14_sizes AS (
      SELECT comp, CAST(count(*) AS BIGINT) AS class_size
      FROM xm14_comp GROUP BY comp
    )
    SELECT c.member, CAST(c.comp AS BIGINT) AS rep, s.class_size
    FROM xm14_comp c JOIN xm14_sizes s USING (comp)
    WHERE c.member != c.comp
    """


@query("m14_crossmodal_dedup", oracle=_m14_oracle())
def m14_crossmodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL pair dedup — the image-text-pair curation rule
    (LAION-style corpora): two records are duplicates when EITHER the
    caption text is a near-duplicate OR the image is a perceptual
    near-duplicate, so each modality's class structure must be MERGED,
    not intersected.  Composition: m11's canonical image classes
    (real PGM decode → 64-bit ahash → hash64_canonical_dedup) and
    d07's checked caption near-dup drop list (MinHash-LSH candidates →
    exact Jaccard ≥ 0.6 → cluster resolution) are both already
    star-shaped edge sets; their union is closed by
    connected_components_star (d21's O(log² n)-round web-scale CC) and
    emitted in the linear canonical contract (member, rep,
    class_size).  A chain like "A shares a caption with B, B shares an
    image with C" correctly lands A, C in one class — exactly what
    per-modality dedup run separately misses.  Costs the sum of its
    two arms plus the closure, by construction.  At 100 TB: both edge
    sets carry ids/hashes only (never pixels or text), the union is
    edge-count-sized, and the closure is the d21 algorithm whose
    per-round cost is two aggregate+join passes.  Round 12 (guide §1.2
    step 1): each arm emits its RAW verified edge set — member→hash-rep
    + verified rep–rep for images, exact-Jaccard-verified pairs for
    captions — instead of a per-arm closed class table, so the ONE
    shared closure here replaces the three the query used to run
    (each arm's internal components pass, plus this one); connectivity
    is identical by construction (every class edge is a path in the
    raw edge set and vice versa), which the oracle value-check
    witnesses at three scale factors."""
    from mapreducehs_spark.operators.multimodal import ahash_64, render_pgm_payloads

    docs = _t(spark, sf_dir, "documents")
    payloads = render_pgm_payloads(docs, "doc_id", width=32, height=16)
    with materialize(spark) as m:
        img = dedup.hash64_duplicate_edges(m, ahash_64(payloads), max_hamming=3)
        txt = dedup.near_dedup_verified_edges_checked(
            m, docs, est_threshold=0.25, jaccard_threshold=0.6
        )
        # ONE action (the closure's checkpoint+checksum) materializes both
        # lazy arms; their internal caches are freed once it returns
        comp = dedup.connected_components_star(img.unionByName(txt))
    sizes = comp.groupBy("rep").agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("class_size")
    )
    return (
        comp.join(sizes, "rep")
        .select(
            F.col("node").cast("bigint").alias("member"),
            F.col("rep").cast("bigint").alias("rep"),
            "class_size",
        )
    )


def _m15_oracle(max_hamming: int = 3) -> str:
    """m15: the shared ahash-from-doc_id law (m11's _AHASH_CTES) joined
    against the deterministic swapped-pairing rule; flagged pairs are
    those whose decoded-image hash disagrees with the caption-derived
    expectation by more than ``max_hamming`` bits."""
    return f"""
    WITH {_AHASH_CTES}, pairs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 3 THEN doc_id - 1 ELSE doc_id END AS img_of
      FROM documents
    )
    SELECT p.doc_id, p.img_of,
           CAST(bit_count(xor(ih.lo, ch.lo)) + bit_count(xor(ih.hi, ch.hi))
                AS BIGINT) AS hamming
    FROM pairs p
    JOIN h ih ON ih.doc_id = p.img_of
    JOIN h ch ON ch.doc_id = p.doc_id
    WHERE bit_count(xor(ih.lo, ch.lo)) + bit_count(xor(ih.hi, ch.hi)) > {max_hamming}
    """


@query("m15_alignment_verify", oracle=_m15_oracle())
def m15_alignment_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL ALIGNMENT VERIFICATION — the integrity filter an
    image-text-pair corpus runs before training (LAION-style curation:
    a crawl joins captions to images by URL, and join bugs / CDN
    rot / page edits silently SWAP pairs): re-derive each image's
    perceptual hash by actually DECODING the stored bytes (m11's fused
    PGM-parse + 8x8 block-sum aHash Arrow stage), derive the EXPECTED
    hash from the caption through the render law, and flag pairs
    disagreeing by more than 3 bits — the m11 threshold, so legitimate
    re-encodes survive and true swaps flag.  A deterministic corruption
    (every doc_id % 7 == 3 pair carries its predecessor's image) plays
    the broken crawl; swapped pairs whose two docs happen to be
    near-dup images correctly DON'T flag (their content agrees — the
    pairing is semantically fine), which the oracle reproduces because
    it replays the full hash law, not the corruption rule.  At 100 TB:
    one decode scan over the media store (hashes leave the Arrow
    batch, never rasters), two hash-keyed equi-joins carrying
    (id, 2x32-bit halves) only, output linear in FLAGGED pairs.  The
    hash frame is checkpointed once and handed out with the result —
    two joins consume it without re-decoding the corpus
    (simhash_checked discipline)."""
    from mapreducehs_spark.operators.multimodal import ahash_64, render_pgm_payloads

    docs = _t(spark, sf_dir, "documents")
    payloads = render_pgm_payloads(docs, "doc_id", width=32, height=16)
    with materialize(spark) as m:
        ih = m.result(ahash_64(payloads))
    pairs = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 3, F.col("doc_id") - 1)
        .otherwise(F.col("doc_id"))
        .alias("img_of"),
    )
    img = ih.select(
        F.col("id").alias("img_of"), F.col("lo").alias("ilo"), F.col("hi").alias("ihi")
    )
    cap = ih.select(
        F.col("id").alias("doc_id"), F.col("lo").alias("clo"), F.col("hi").alias("chi")
    )
    hamming = (
        F.bit_count(F.col("ilo").bitwiseXOR(F.col("clo")))
        + F.bit_count(F.col("ihi").bitwiseXOR(F.col("chi")))
    ).cast("bigint")
    return (
        pairs.join(img, "img_of")
        .join(cap, "doc_id")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") > 3)
        .select("doc_id", "img_of", "hamming")
    )


#: m16's frame-term ahash CTEs: m09's pixel law (id·31 + f·101 + 7i mod
#: 256) through the 8x8 block-sum bit rule per SAMPLED frame, majority-
#: pooled across frames {0,3,6} into one 64-bit (lo, hi) pair that
#: feeds the shared canonical-dedup tail.
_VIDEO_AHASH_CTES = """cells AS (
      SELECT doc_id, f, r, c,
             CAST(sum((doc_id * 31 + f * 101 + (r * 16 + 2 * c + bc) * 7) % 256)
                  AS BIGINT) AS cs
      FROM documents,
           unnest([0, 3, 6]) tf(f),
           unnest(range(8)) tr(r), unnest(range(8)) tc(c),
           unnest(range(2)) tbc(bc)
      GROUP BY 1, 2, 3, 4
    ), tot AS (
      SELECT doc_id, f, CAST(sum(cs) AS BIGINT) AS total
      FROM cells GROUP BY 1, 2
    ), fbits AS (
      SELECT cells.doc_id, cells.f, (r * 8 + c) AS k,
             CASE WHEN cs * 64 > total THEN 1 ELSE 0 END AS bit
      FROM cells JOIN tot ON tot.doc_id = cells.doc_id AND tot.f = cells.f
    ), vbits AS (
      SELECT doc_id, k,
             CASE WHEN sum(bit) >= 2 THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      FROM fbits GROUP BY 1, 2
    ), h AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN k < 32 THEN bit << k ELSE 0 END) AS BIGINT) AS lo,
             CAST(sum(CASE WHEN k >= 32 THEN bit << (k - 32) ELSE 0 END) AS BIGINT) AS hi
      FROM vbits GROUP BY 1
    )"""


_M16_ORACLE = "\n    WITH RECURSIVE " + _VIDEO_AHASH_CTES + ", " + _HASH64_CANONICAL_TAIL


@query("m16_video_dedup", oracle=_M16_ORACLE)
def m16_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO near-dup dedup — the last cell of the per-modality dedup
    matrix (text d-series, image m11, audio m12): every doc's 8-frame
    MRV clip (m09's real container) is demuxed, frame-sampled
    (0, 3, 6 — skipped frames never decoded), per-frame aHashed, and
    MAJORITY-POOLED into one 64-bit clip fingerprint inside a single
    Arrow stage (multimodal.video_majority_ahash) — temporal pooling
    is what makes it a VIDEO signature: per-frame noise can't flip a
    bit that most frames agree on.  The canonical tail is m11's
    unchanged (hash64_canonical_dedup: exact-hash contraction first,
    pigeonhole 4x16-bit banding with exact recall at hamming ≤ 3,
    star-CC resolution, linear (member, rep, class_size) output).  At
    100 TB: demux+hash is one scan over the media manifest, shuffles
    carry 64-bit fingerprints — never frames — and no stage is
    quadratic in members.  The oracle replays pixel law → block sums →
    per-frame bits → majority pool → banding → components
    relationally, end to end."""
    from mapreducehs_spark.operators.multimodal import (
        render_mrv_payloads,
        video_majority_ahash,
    )

    docs = _t(spark, sf_dir, "documents")
    payloads = render_mrv_payloads(docs, "doc_id", n_frames=8, width=16, height=8)
    return dedup.hash64_canonical_dedup(
        video_majority_ahash(payloads, every_n=3), max_hamming=3
    )


def _staged_hash64_tail(h_table: str, p: str, into: str | None = None) -> str:
    """_HASH64_CANONICAL_TAIL replayed as ';'-separated statements over
    a materialized (doc_id, lo, hi) TEMP TABLE ``h_table``: grp →
    banding/verify edges → recursive component closure → final select,
    each stage its own statement so DuckDB frees the previous stage's
    memory before the next (the STAGED_ORACLE discipline).  ``p``
    prefixes the temp-table names.  Value-identical to the monolithic
    tail: the closure runs over the SAME edge set, just materialized.
    The final (member, rep, class_size) select ALWAYS materializes as
    a TEMP TABLE (``into`` if given — m14's arms — else ``{p}_cls``)
    and the scratch tables are dropped once consumed, so no
    memory-critical residue outlives the stage; without ``into`` a
    trailing ``SELECT * FROM {p}_cls`` makes it the script result
    (only the small class table itself remains live)."""
    out = into if into is not None else f"{p}_cls"
    script = (
        _staged_hash64_body(h_table, p).replace(
            "WITH crep AS (",
            f"DROP TABLE IF EXISTS {out};\n"
            f"    CREATE TEMP TABLE {out} AS\n"
            f"    WITH crep AS (",
            1,
        )
        + f";\n    DROP TABLE {p}_grp;\n    DROP TABLE {p}_comp;\n"
    )
    if into is None:
        script += f"    SELECT * FROM {out}\n    "
    return script


def _staged_hash64_body(h_table: str, p: str) -> str:
    """The raw stage script for :func:`_staged_hash64_tail` (ends with
    the bare final select; callers wrap/materialize it)."""
    return f"""
    DROP TABLE IF EXISTS {p}_grp;
    CREATE TEMP TABLE {p}_grp AS
      SELECT lo, hi, min(doc_id) AS hrep, CAST(count(*) AS BIGINT) AS cnt
      FROM {h_table} GROUP BY lo, hi;
    DROP TABLE IF EXISTS {p}_edges;
    CREATE TEMP TABLE {p}_edges AS
      WITH gbanded AS (
        SELECT hrep, b,
               CASE b WHEN 0 THEN lo & 65535 WHEN 1 THEN lo >> 16
                      WHEN 2 THEN hi & 65535 ELSE hi >> 16 END AS bk
        FROM {p}_grp, unnest(range(4)) tb(b)
      ), gcand AS (
        SELECT DISTINCT a.hrep AS ra, b.hrep AS rb
        FROM gbanded a JOIN gbanded b ON a.b = b.b AND a.bk = b.bk AND a.hrep < b.hrep
      ), pe AS (
        SELECT c.ra, c.rb
        FROM gcand c JOIN {p}_grp ga ON ga.hrep = c.ra JOIN {p}_grp gb ON gb.hrep = c.rb
        WHERE bit_count(xor(ga.lo, gb.lo)) + bit_count(xor(ga.hi, gb.hi)) <= 3
      )
      SELECT ra AS src, rb AS dst FROM pe UNION SELECT rb, ra FROM pe;
    DROP TABLE IF EXISTS {p}_comp;
    CREATE TEMP TABLE {p}_comp AS
      WITH RECURSIVE reach(src, dst) AS (
        SELECT DISTINCT src, src FROM {p}_edges
        UNION
        SELECT e.src, r.dst FROM {p}_edges e JOIN reach r ON e.dst = r.src
      )
      SELECT src AS hrep, min(dst) AS comp FROM reach GROUP BY src;
    DROP TABLE {p}_edges;
    WITH crep AS (
      SELECT g.lo, g.hi, g.cnt, coalesce(c.comp, g.hrep) AS comp
      FROM {p}_grp g LEFT JOIN {p}_comp c ON c.hrep = g.hrep
    ), sizes AS (
      SELECT comp, CAST(sum(cnt) AS BIGINT) AS class_size FROM crep GROUP BY comp
    )
    SELECT h.doc_id AS member, CAST(cr.comp AS BIGINT) AS rep, s.class_size
    FROM {h_table} h JOIN crep cr ON cr.lo = h.lo AND cr.hi = h.hi
    JOIN sizes s ON s.comp = cr.comp
    WHERE h.doc_id != cr.comp
    """


#: m16 staged: the video-ahash head split at its two natural barriers
#: (per-frame bits, then majority-pooled 64-bit hash) before the shared
#: staged tail.  The monolithic _M16_ORACLE keeps cells→tot→fbits→
#: vbits→h→banding→closure live at once and dies at sf1 with an
#: internal allocation failure even isolated at a 108 GB limit
#: (CORRECTNESS_sf1 r9); largest single stage here is the fbits
#: build — well inside the box.
STAGED_ORACLE["m16_video_dedup"] = (
    """
    DROP TABLE IF EXISTS m16_fbits;
    CREATE TEMP TABLE m16_fbits AS
      WITH cells AS (
        SELECT doc_id, f, r, c,
               CAST(sum((doc_id * 31 + f * 101 + (r * 16 + 2 * c + bc) * 7) % 256)
                    AS BIGINT) AS cs
        FROM documents,
             unnest([0, 3, 6]) tf(f),
             unnest(range(8)) tr(r), unnest(range(8)) tc(c),
             unnest(range(2)) tbc(bc)
        GROUP BY 1, 2, 3, 4
      ), tot AS (
        SELECT doc_id, f, CAST(sum(cs) AS BIGINT) AS total
        FROM cells GROUP BY 1, 2
      )
      SELECT cells.doc_id, cells.f, (r * 8 + c) AS k,
             CASE WHEN cs * 64 > total THEN 1 ELSE 0 END AS bit
      FROM cells JOIN tot ON tot.doc_id = cells.doc_id AND tot.f = cells.f;
    DROP TABLE IF EXISTS m16_h;
    CREATE TEMP TABLE m16_h AS
      WITH vbits AS (
        SELECT doc_id, k,
               CASE WHEN sum(bit) >= 2 THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        FROM m16_fbits GROUP BY 1, 2
      )
      SELECT doc_id,
             CAST(sum(CASE WHEN k < 32 THEN bit << k ELSE 0 END) AS BIGINT) AS lo,
             CAST(sum(CASE WHEN k >= 32 THEN bit << (k - 32) ELSE 0 END) AS BIGINT) AS hi
      FROM vbits GROUP BY 1;
    DROP TABLE m16_fbits;
    """
    + _staged_hash64_tail("m16_h", "m16")
)


#: m14 staged: each ARM (m11's image classes, d07's caption drop list —
#: both sf1-green standalone) replays FULLY staged — ahash head +
#: staged canonical tail for the image arm, _d15_staged_stmts for the
#: caption arm — and the cross-modal closure is CONTRACTED to the REP
#: GRAPH before the recursive CTE.  The real sf1 bomb (bisected
#: statement-by-statement, r10) is not the arms: it is the MEMBER-level
#: ``reach``, which materializes every transitive (src, dst) pair —
#: Σ class_size² rows, a 32 GiB un-spillable hash allocation at sf1's
#: class sizes (this is also why the monolithic form overflowed the
#: spill disk).  Contraction is value-identical: each arm's rep is its
#: class MINIMUM, so every node has an edge to a ≤-valued rep, the
#: merged component's minimum is always a rep vertex, and components
#: of the member graph = components of the rep graph (reps sharing a
#: node are merged).  The rep-graph reach is Σ (classes-per-merged-
#: component)², quadratic in CLASSES merged, not members.  INSERT
#: instead of the original UNION between arms is value-identical: the
#: nm self-join dedups anyway.
STAGED_ORACLE["m14_crossmodal_dedup"] = f"""
    DROP TABLE IF EXISTS m14i_h;
    CREATE TEMP TABLE m14i_h AS
      WITH {_AHASH_CTES}
      SELECT doc_id, lo, hi FROM h;
    {_staged_hash64_tail("m14i_h", "m14i", into="m14i_cls")}
    DROP TABLE m14i_h;
    {_d15_staged_stmts("m14t", est_threshold=0.25, jaccard_threshold=0.6)}
    DROP TABLE IF EXISTS xm14_e0;
    CREATE TEMP TABLE xm14_e0 AS
      SELECT member AS a, rep AS b FROM m14i_cls;
    INSERT INTO xm14_e0
      SELECT doc_id AS a, rep_id AS b FROM m14t_drop;
    DROP TABLE m14i_cls;
    DROP TABLE m14t_drop;
    DROP TABLE IF EXISTS xm14_nm;
    CREATE TEMP TABLE xm14_nm AS
      SELECT a AS node, b AS r FROM xm14_e0
      UNION
      SELECT DISTINCT b, b FROM xm14_e0;
    DROP TABLE xm14_e0;
    DROP TABLE IF EXISTS xm14_redges;
    CREATE TEMP TABLE xm14_redges AS
      SELECT DISTINCT x.r AS src, y.r AS dst
      FROM xm14_nm x JOIN xm14_nm y ON x.node = y.node;
    DROP TABLE IF EXISTS xm14_rcomp;
    CREATE TEMP TABLE xm14_rcomp AS
      WITH RECURSIVE reach(src, dst) AS (
        SELECT src, dst FROM xm14_redges
        UNION
        SELECT e.src, r.dst FROM xm14_redges e JOIN reach r ON e.dst = r.src
      )
      SELECT src AS r, min(dst) AS comp FROM reach GROUP BY src;
    DROP TABLE xm14_redges;
    DROP TABLE IF EXISTS xm14_comp;
    CREATE TEMP TABLE xm14_comp AS
      SELECT n.node AS member, min(c.comp) AS comp
      FROM xm14_nm n JOIN xm14_rcomp c ON c.r = n.r
      GROUP BY n.node;
    DROP TABLE xm14_nm;
    DROP TABLE xm14_rcomp;
    WITH sizes AS (
      SELECT comp, CAST(count(*) AS BIGINT) AS class_size
      FROM xm14_comp GROUP BY comp
    )
    SELECT c.member, CAST(c.comp AS BIGINT) AS rep, s.class_size
    FROM xm14_comp c JOIN sizes s USING (comp)
    WHERE c.member != c.comp
    """


# =========================================================================
# Round 8: multimodal sequence budgeting (VLM training-export planning)
# =========================================================================


@query(
    "m17_vlm_token_budget",
    oracle="""
    WITH pair AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_text,
             CAST((2 + doc_id % 7) * (2 + doc_id % 5) AS BIGINT) AS n_patch
      FROM documents
    ), seq AS (
      SELECT source, n_text, n_patch, n_patch + n_text + 2 AS n_seq
      FROM pair
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(n_patch) AS BIGINT) AS patch_tokens,
           CAST(sum(n_text) AS BIGINT) AS text_tokens,
           CAST(sum(n_seq) AS BIGINT) AS seq_tokens,
           CAST(sum(n_patch) * 1000000 // sum(n_seq) AS BIGINT) AS patch_share_ppm
    FROM seq
    GROUP BY source
    """,
)
def m17_vlm_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL SEQUENCE BUDGETING — the planning pass of a
    vision-language training export: each (image, caption) pair costs
    `patches + text_tokens + 2` context positions (ViT-style patch
    grid: (w/16)·(h/16) patch tokens, BOS/EOS separators), and the
    packer/batcher needs those totals PER SOURCE before anything is
    decoded.  The image dimensions come from METADATA (the m-series
    doc_id raster law: w = 16·(2 + id mod 7), h = 16·(2 + id mod 5)) —
    the whole budget is arithmetic on a metadata scan, no pixel ever
    decoded for planning, which is exactly how a 100 TB VLM pipeline
    sizes its shards (decode happens once, later, in the export pass —
    m08/m16 discipline).  Token accounting mirrors t27/t33's integer
    metering; the patch-vs-text split in truncating ppm tells the
    context-budget story (image-heavy sources pack fewer pairs per
    window).  One scan, one n_sources rollup.  Reference witness: O2
    keyed fold (src/Core/MapReduceC.hs:25-26)."""
    docs = _t(spark, sf_dir, "documents")
    pair = docs.select(
        "source",
        F.size(text.tokens("text")).cast("bigint").alias("n_text"),
        ((2 + F.col("doc_id") % 7) * (2 + F.col("doc_id") % 5))
        .cast("bigint")
        .alias("n_patch"),
    ).withColumn("n_seq", F.col("n_patch") + F.col("n_text") + 2)
    return pair.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("n_patch").cast("bigint").alias("patch_tokens"),
        F.sum("n_text").cast("bigint").alias("text_tokens"),
        F.sum("n_seq").cast("bigint").alias("seq_tokens"),
        F.expr(
            "cast((sum(n_patch) * 1000000L) div sum(n_seq) as bigint)"
        ).alias("patch_share_ppm"),
    )


# =========================================================================
# Round 9: VLM interleaved sequence packing (m17's widths, t40's law)
# =========================================================================

#: m18 context window (positions per packed VLM training sequence).
#: VLM contexts run longer than text-only t40's — patch runs are wide.
_M18_CTX = 4096


@query(
    "m18_vlm_sequence_packing",
    oracle=f"""
    WITH pair AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_text,
             CAST((2 + doc_id % 7) * (2 + doc_id % 5) AS BIGINT) AS n_patch
      FROM documents
    ), w AS (
      SELECT doc_id, source, n_patch, n_patch + n_text + 2 AS w FROM pair
    ), starts AS (
      SELECT doc_id, source, n_patch, w,
             CAST(sum(w) OVER (PARTITION BY source ORDER BY doc_id) - w AS BIGINT)
               AS start
      FROM w
    ), x AS (
      SELECT source, doc_id, n_patch, w, start, s.seq_id
      FROM starts,
           LATERAL unnest(range(start // {{C}},
                                (start + w - 1) // {{C}} + 1)) s(seq_id)
    )
    SELECT source,
           CAST(seq_id AS BIGINT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc,
           CAST(sum(CASE WHEN (start + w - 1) // {{C}} = seq_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_eos,
           CAST(sum(least(start + w, (seq_id + 1) * {{C}})
                    - greatest(start, seq_id * {{C}})) AS BIGINT) AS n_fill,
           CAST(sum(least(start + w, (seq_id + 1) * {{C}})
                    - greatest(start, seq_id * {{C}}))
                * 1000000 // {{C}} AS BIGINT) AS fill_micro
    FROM x
    GROUP BY source, seq_id
    """.replace("{{C}}", "{C}").format(C=_M18_CTX),
)
def m18_vlm_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VLM INTERLEAVED SEQUENCE PACKING — the export step m17 plans
    for: each (image, caption) pair occupies `patches + text + 2`
    context positions (m17's metadata-only width law — the doc_id
    raster grid, no pixel decoded), and pairs are packed doc_id-ordered
    PER SOURCE SHARD into _M18_CTX-position windows under t40's
    interval arithmetic (per-pair separators, intersection fill).
    Per-source packing is the production VLM-export topology (st26's
    batch twin, with multimodal widths): shards pack independently, so
    export parallelism is #sources wide with no cross-shard barrier.

    Offsets via the round-9 ``sampling.grouped_prefix_sums``
    seam (t46's): global two-phase prefix sums over (source, doc_id)
    minus each source's broadcast base — never a per-source window
    that would collapse a shard onto one task at 100 TB.  Plan: one
    metadata scan, the range exchange, the (source, seq_id) hash agg;
    window-free, join-free apart from the #sources-row broadcast.
    Reference witness: O1 fission + O2 ordered fold
    (src/Core/MapReduceC.hs:24-26)."""
    with materialize(spark) as m:
        return m.result(_m18_build(m, sf_dir))


def _m18_build(m: Materialization, sf_dir: str) -> DataFrame:
    """m18 pre-checkpoint builder (q107/t40 discipline)."""
    from mapreducehs_spark.operators.sampling import grouped_prefix_sums

    C = _M18_CTX
    docs = _t(m.spark, sf_dir, "documents")
    keyed = docs.select(
        "source",
        "doc_id",
        (
            ((2 + F.col("doc_id") % 7) * (2 + F.col("doc_id") % 5)).cast("bigint")
            + F.size(text.tokens("text")).cast("bigint")
            + F.lit(2)
        ).alias("w"),
    )
    starts = grouped_prefix_sums(m, keyed, ["source"], ["doc_id"], "w", out_col="start")
    x = starts.select(
        "source",
        "doc_id",
        "w",
        "start",
        F.explode_outer(
            F.expr(f"sequence(start div {C}, (start + w - 1) div {C})")
        ).alias("seq_id"),
    ).filter(F.col("seq_id").isNotNull())
    fill = F.least(
        F.col("start") + F.col("w"), (F.col("seq_id") + 1) * C
    ) - F.greatest(F.col("start"), F.col("seq_id") * C)
    return (
        x.select(
            "source",
            "doc_id",
            "seq_id",
            fill.alias("__fill"),
            (F.expr(f"(start + w - 1) div {C}") == F.col("seq_id"))
            .cast("bigint")
            .alias("__eos"),
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
            F.sum("__eos").cast("bigint").alias("n_eos"),
            F.sum("__fill").cast("bigint").alias("n_fill"),
        )
        .select(
            "source",
            "seq_id",
            "n_pairs",
            "first_doc",
            "last_doc",
            "n_eos",
            "n_fill",
            F.expr(f"cast((n_fill * 1000000L) div {C} as bigint)").alias(
                "fill_micro"
            ),
        )
    )


# =========================================================================
# Round 9 (20): image-text pair curation funnel (DataComp-style)
# =========================================================================

_M19_ORACLE = """
    WITH pair AS (
      SELECT source,
             16 * (2 + doc_id % 7) AS w,
             16 * (2 + doc_id % 5) AS h,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tok,
             CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                                x -> x != ''))) AS BIGINT) AS n_uniq
      FROM documents
    ), flagged AS (
      SELECT source, w, h, n_tok,
             CASE
               WHEN least(w, h) < 48 THEN 'size'
               WHEN 2 * greatest(w, h) > 5 * least(w, h) THEN 'aspect'
               WHEN n_tok < 5 THEN 'caption'
               WHEN (n_uniq * 1000000) // n_tok < 500000 THEN 'quality'
               ELSE 'kept'
             END AS verdict
      FROM pair
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN verdict = 'size' THEN 1 ELSE 0 END) AS BIGINT) AS drop_size,
           CAST(sum(CASE WHEN verdict = 'aspect' THEN 1 ELSE 0 END) AS BIGINT) AS drop_aspect,
           CAST(sum(CASE WHEN verdict = 'caption' THEN 1 ELSE 0 END) AS BIGINT) AS drop_caption,
           CAST(sum(CASE WHEN verdict = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS drop_quality,
           CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN verdict = 'kept'
                         THEN (w // 16) * (h // 16) ELSE 0 END) AS BIGINT) AS kept_patch_tokens,
           CAST(sum(CASE WHEN verdict = 'kept' THEN n_tok ELSE 0 END) AS BIGINT) AS kept_text_tokens
    FROM flagged
    GROUP BY source
"""


@query("m19_pair_curation_funnel", oracle=_M19_ORACLE)
def m19_pair_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE-TEXT PAIR CURATION FUNNEL — the DataComp/LAION filtering
    recipe as one attributed pass: every (image, caption) pair is
    tested against the standard gate sequence — image size (min side ≥
    48px), aspect ratio (≤ 2.5, the cross-multiplied integer form
    2·max > 5·min so no float boundary exists), caption length (≥ 5
    tokens), caption quality (the t45/t49 ``_quality_scored`` TTR law ≥
    0.5) — with FIRST-FAILING attribution (t12's funnel discipline: a
    pair dropped for size never reaches the caption test, so the
    per-gate counts tell the operator which gate to retune), and the
    kept mass is reported in m17's token-cost units (patch + text
    tokens of surviving pairs — what the packer actually gets).

    Image dims come from the m-series metadata raster law (w = 16·(2 +
    id mod 7), h = 16·(2 + id mod 5)) — planning never decodes a pixel
    (m17 discipline); pair-INTEGRITY (swapped images) is m15's decode
    pass, and semantic dedup of survivors is d22's — this funnel is the
    gate BETWEEN those stages in a production VLM pipeline.

    Scale shape: ONE documents scan, every gate a codegen'd CASE arm
    (gate count changes per-row arithmetic, never scan or shuffle
    count), one n_sources-row rollup — t12's shape on the multimodal
    axis.  Reference witness: O1 predicate fission + O2 keyed fold
    (src/Core/MapReduceC.hs:24-26)."""
    docs = _t(spark, sf_dir, "documents")
    return _m19_rollup(_m19_flagged(docs))


def _m19_flagged(docs: DataFrame) -> DataFrame:
    """m19's stateless per-pair gate frame (source, w, h, n_tok,
    verdict) — shared with the streaming ingest gate st30 (the
    _t16_doc_frame seam discipline: ONE gate law, two topologies).
    Input needs (doc_id, source, text)."""
    did = F.col("doc_id")
    toks = text.tokens("text")
    pair = docs.select(
        "source",
        (16 * (2 + did % 7)).cast("bigint").alias("w"),
        (16 * (2 + did % 5)).cast("bigint").alias("h"),
        F.size(toks).cast("bigint").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq"),
    )
    verdict = (
        F.when(F.least("w", "h") < 48, F.lit("size"))
        .when(2 * F.greatest("w", "h") > 5 * F.least("w", "h"), F.lit("aspect"))
        .when(F.col("n_tok") < 5, F.lit("caption"))
        .when(F.expr("(n_uniq * 1000000L) div n_tok") < 500000, F.lit("quality"))
        .otherwise(F.lit("kept"))
    )
    return pair.select("source", "w", "h", "n_tok", verdict.alias("verdict"))


def _m19_rollup(flagged: DataFrame) -> DataFrame:
    """m19's per-source funnel rollup over ``_m19_flagged`` rows."""
    kept = F.col("verdict") == "kept"
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("verdict") == "size").cast("bigint")).alias("drop_size"),
        F.sum((F.col("verdict") == "aspect").cast("bigint")).alias("drop_aspect"),
        F.sum((F.col("verdict") == "caption").cast("bigint")).alias("drop_caption"),
        F.sum((F.col("verdict") == "quality").cast("bigint")).alias("drop_quality"),
        F.sum(kept.cast("bigint")).alias("n_kept"),
        F.sum(
            F.when(kept, F.expr("(w div 16) * (h div 16)"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("kept_patch_tokens"),
        F.sum(F.when(kept, F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("kept_text_tokens"),
    )
