"""Multimodal column plumbing: opaque binary payloads + typed metadata.

LLM-data-pipeline surface mandated by BASELINE.json (absent in the
reference).  Conventions:

- A modality column is ``BinaryType`` payload + a sibling struct of
  typed metadata (``modality``, ``mime``, ``n_bytes``, ``checksum``).
- At 100 TB the payload column is *pointer-style* where possible: store
  (path, offset, length) into an object store and load bytes inside the
  UDF — shuffling raw media through every stage is the classic
  anti-pattern.  ``attach_payload`` here materializes real bytes because
  the testdata is synthetic text; the schema contract is identical.
- Decode / feature-extract run as Arrow-batched ``mapInPandas`` — the
  only sane shape for per-item Python media libs (one Python worker per
  partition, batches amortize serialization).  ``decode_image`` is a
  REAL pure-numpy decoder for binary PGM (P5) — header parse + raster —
  so the decode stage is exercised end-to-end (m06); formats that need
  a codec lib (JPEG/PNG, absent in this container) still raise
  ``NotImplementedError`` and ``fake_features`` provides the
  deterministic stand-in used by the feature-extraction tests.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attach_payload(df: DataFrame) -> DataFrame:
    """Materialize an opaque binary payload column + metadata struct from
    a source column (UTF-8 bytes of the text in this synthetic setup)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "meta",
        F.struct(
            F.lit("text").alias("modality"),
            F.lit("application/octet-stream").alias("mime"),
            F.length(payload).cast("bigint").alias("n_bytes"),
            F.md5(payload).alias("checksum"),
        ),
    )


def read_binary_dir(spark, path: str) -> DataFrame:
    """Directory-of-files reader: Spark's ``binaryFile`` source
    (path, modificationTime, length, content).

    A glob BASENAME (``.../dir/*.bin``) is rewritten to
    ``load(dir)`` + ``pathGlobFilter`` — passing the glob as the load
    path expands it to one root PER FILE, and once the root count
    crosses ``parallelPartitionDiscovery.threshold`` (32) Spark runs a
    one-task-per-file LISTING job before the actual read (measured:
    5,000 listing tasks ≈ 9 s for a 0.3 s scan at sf0.1 — and at
    100 TB, one listing task per object).  One root directory lists in
    a single pass and the files bin-pack into normal-size splits."""
    base, name = os.path.split(path)
    if any(c in name for c in "*?[") and base:
        return (
            spark.read.format("binaryFile").option("pathGlobFilter", name).load(base)
        )
    return spark.read.format("binaryFile").load(path)


def encode_pgm(pixels: "np.ndarray") -> bytes:
    """Encode a (h, w) uint8 array as a binary PGM (P5) image — the
    netpbm format is simple enough to implement with no codec lib, so
    the encode→decode path is REAL in this container (not a stub)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 2:
        raise ValueError(f"encode_pgm: expected 2-D grayscale array, got shape {px.shape}")
    h, w = px.shape
    return f"P5\n{w} {h}\n255\n".encode("ascii") + px.tobytes()


def decode_image(payload_bytes: bytes) -> "np.ndarray":
    """Decode an image payload to a (h, w) uint8 array.

    Implements binary PGM (P5, maxval ≤ 255) in pure numpy — a real
    parse of magic, whitespace/comment-tolerant header, and raster —
    so the decode stage of the multimodal pipeline is exercised
    end-to-end without PIL/cv2 (which this container lacks).  Other
    formats (JPEG/PNG/…) still require a codec lib: deployments extend
    the dispatch below; the mapInPandas plumbing is identical.
    """
    if not payload_bytes.startswith(b"P5"):
        raise NotImplementedError(
            "only PGM (P5) decodes without a codec lib; JPEG/PNG need PIL/cv2"
        )
    # header = magic + 3 whitespace-separated ints, '#' comments allowed
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(payload_bytes) and payload_bytes[pos : pos + 1].isspace():
            pos += 1
        if payload_bytes[pos : pos + 1] == b"#":
            pos = payload_bytes.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload_bytes) and not payload_bytes[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload_bytes[start:pos]))
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PGM not supported")
    raster = np.frombuffer(payload_bytes, dtype=np.uint8, count=w * h, offset=pos + 1)
    return raster.reshape(h, w)


def fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for a media feature extractor: folds the
    sha256 digest into 8 floats in [0, 1)."""
    digest = hashlib.sha256(payload).digest()
    return [
        int.from_bytes(digest[4 * i : 4 * i + 4], "big") / 2**32 for i in range(8)
    ]


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The production shape for decode/resize/frame-sample: mapInPandas,
    one pandas batch of payloads in, features out.  Swap
    ``fake_features`` for a real extractor without touching the plan.
    """
    out_schema = ", ".join(
        f"{name} {dtype}" for name, dtype in df.dtypes if name != "payload"
    ) + f", features array<double>"

    other_cols = [c for c in df.columns if c != "payload"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [fake_features(p) for p in pdf["payload"]]
            out = pdf[other_cols].copy()
            out["features"] = feats
            yield out

    return df.mapInPandas(batches, schema=out_schema)


def frame_sample_plan(df: DataFrame) -> DataFrame:
    """STUB shape for video frame sampling: emits (id, frame_index) rows
    for frames 0, n, 2n… of a declared frame count in metadata; the
    decode of each frame is a NotImplementedError stub like
    ``decode_image``.  Demonstrates the explode-then-process plan shape."""
    n_frames = F.coalesce(F.col("meta.n_bytes") / 1000, F.lit(0)).cast("int")
    return df.select(
        "*",
        F.explode(
            F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(10))
        ).alias("frame_index"),
    )


def render_pgm_payloads(df: DataFrame, width: int = 32, height: int = 16) -> DataFrame:
    """Deterministic synthetic image per row: pixel[i] =
    (id*31 + i*7) mod 256, encoded as real PGM bytes.  Plays the
    external camera/media store in tests and m06 — the arithmetic
    pixel law is what lets a SQL oracle replay decoded-image stats
    without itself decoding anything.  Emits (id, payload binary)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(width * height, dtype=np.int64)
        for pdf in it:
            payloads = [
                encode_pgm((((int(i) * 31 + idx * 7) % 256).astype(np.uint8)).reshape(height, width))
                for i in pdf["doc_id"]
            ]
            yield pd.DataFrame({"id": pdf["doc_id"].astype("int64"), "payload": payloads})

    return df.select("doc_id").mapInPandas(batches, schema="id long, payload binary")


def decoded_image_stats(df: DataFrame) -> DataFrame:
    """Decode each payload with ``decode_image`` and reduce to stats:
    (id, width, height, px_sum, px_min, px_max).  A genuinely-decoding
    mapInPandas stage — header parse, raster reshape, numpy reduce —
    the template every real extractor (resize, embed, OCR) follows."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i, p in zip(pdf["id"], pdf["payload"]):
                img = decode_image(bytes(p))
                rows.append(
                    (
                        int(i),
                        img.shape[1],
                        img.shape[0],
                        int(img.astype(np.int64).sum()),
                        int(img.min()),
                        int(img.max()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["id", "width", "height", "px_sum", "px_min", "px_max"]
            )

    return df.mapInPandas(
        batches,
        schema="id long, width long, height long, px_sum long, px_min long, px_max long",
    )


def resize_image(img: "np.ndarray") -> "np.ndarray":
    """Nearest-neighbor downsample by integer stride — the resize
    kernel of the decode→resize→featurize template.  Stride slicing is
    a numpy VIEW (zero copy) and bit-deterministic (no interpolation
    arithmetic), which is what lets a resized image's stats be
    value-checked by an oracle replaying the pixel law on the sampled
    grid."""
    return img[::2, ::2]


def resized_image_stats(df: DataFrame) -> DataFrame:
    """Decode + RESIZE each payload, then reduce to stats over the
    resized raster — the real thumbnail/preprocess shape (decode and
    resize fused in ONE Arrow stage so full-resolution pixels never
    leave the batch, let alone the executor)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i, p in zip(pdf["id"], pdf["payload"]):
                img = resize_image(decode_image(bytes(p)))
                rows.append(
                    (
                        int(i),
                        img.shape[1],
                        img.shape[0],
                        int(img.astype(np.int64).sum()),
                        int(img.min()),
                        int(img.max()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["id", "width", "height", "px_sum", "px_min", "px_max"]
            )

    return df.mapInPandas(
        batches,
        schema="id long, width long, height long, px_sum long, px_min long, px_max long",
    )


def payload_byte_stats(df: DataFrame) -> DataFrame:
    """Per-row payload byte statistics via ``mapInArrow`` — the
    zero-copy variant of the mapInPandas path: batches arrive as
    pyarrow RecordBatches with the binary column as one contiguous
    Arrow data buffer + offsets, skipping the pandas object-per-cell
    materialization entirely.  For opaque-media columns this is the
    right batch interface at 100 TB (payload bytes never become Python
    objects; numpy views the flattened buffer and reduces per-segment).

    Emits (doc_id, n_bytes, head_byte, byte_sum).
    """
    import pyarrow as pa

    def batches(it):
        for batch in it:
            ids = batch.column(batch.schema.get_field_index("doc_id"))
            payload = batch.column(batch.schema.get_field_index("payload"))
            data_buf = payload.buffers()[2]
            buf = (
                np.frombuffer(data_buf, dtype=np.uint8)
                if data_buf is not None
                else np.zeros(0, dtype=np.uint8)
            )
            offs = np.frombuffer(payload.buffers()[1], dtype=np.int32)[
                payload.offset : payload.offset + len(payload) + 1
            ].astype(np.int64)
            n_bytes = offs[1:] - offs[:-1]
            if len(buf):
                # reduceat needs in-range, and sums need a wide dtype
                starts = np.minimum(offs[:-1], len(buf) - 1)
                sums = np.add.reduceat(buf.astype(np.int64), starts)[: len(n_bytes)]
                sums = np.where(n_bytes > 0, sums, 0)
                head = np.where(n_bytes > 0, buf[starts].astype(np.int32), -1)
            else:
                sums = np.zeros(len(n_bytes), dtype=np.int64)
                head = np.full(len(n_bytes), -1, dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.cast(pa.int64()),
                    pa.array(n_bytes),
                    pa.array(head.astype(np.int32)),
                    pa.array(sums),
                ],
                names=["doc_id", "n_bytes", "head_byte", "byte_sum"],
            )

    return df.select("doc_id", "payload").mapInArrow(
        batches, schema="doc_id long, n_bytes long, head_byte int, byte_sum long"
    )


# ---------------------------------------------------------------------------
# Audio: real WAV (RIFF PCM) encode/decode — pure numpy + struct, no codec
# libs, so the decode path is exercised for audio exactly like PGM is for
# images (the env-gated NotImplementedError stays only for formats that
# genuinely need external codecs).
# ---------------------------------------------------------------------------


def encode_wav(samples: "np.ndarray") -> bytes:
    """Mono 16-bit PCM WAV: 44-byte RIFF header + little-endian frames."""
    import struct

    pcm = samples.astype("<i2").tobytes()
    n = len(pcm)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + n)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000 * 2, 2, 16)
        + b"data"
        + struct.pack("<I", n)
        + pcm
    )


def decode_wav(payload: bytes) -> tuple["np.ndarray", int]:
    """Parse a mono 16-bit PCM WAV: validate RIFF/WAVE magic, walk the
    chunk list to fmt/data (no fixed-offset assumptions), return
    (samples int16 array, sample_rate)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if (audio_format, channels, bits) != (1, 1, 16):
        raise ValueError(f"unsupported WAV layout {fmt}")
    return np.frombuffer(data, dtype="<i2"), sample_rate


def render_wav_payloads(df: DataFrame) -> DataFrame:
    """Deterministic synthetic audio per row: sample[i] =
    ((id*13 + i*17) mod 4096) - 2048, as real WAV bytes — the audio
    twin of render_pgm_payloads (the arithmetic law lets a SQL oracle
    replay decoded stats without decoding)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(256, dtype=np.int64)
        for pdf in it:
            payloads = [
                encode_wav((int(i) * 13 + idx * 17) % 4096 - 2048)
                for i in pdf["doc_id"]
            ]
            yield pd.DataFrame({"id": pdf["doc_id"].astype("int64"), "payload": payloads})

    return df.select("doc_id").mapInPandas(batches, schema="id long, payload binary")


def decoded_audio_stats(df: DataFrame) -> DataFrame:
    """Decode each WAV payload and reduce to exact integer stats:
    (id, n_samples, sample_rate, amp_sum, sq_sum, amp_min, amp_max).
    Integer sums (not float RMS) so the oracle check is bit-exact;
    callers derive rms = sqrt(sq_sum/n) at the edge."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i, p in zip(pdf["id"], pdf["payload"]):
                s, rate = decode_wav(bytes(p))
                s64 = s.astype(np.int64)
                rows.append(
                    (int(i), len(s), rate, int(s64.sum()), int((s64 * s64).sum()),
                     int(s64.min()), int(s64.max()))
                )
            yield pd.DataFrame(
                rows,
                columns=["id", "n_samples", "sample_rate", "amp_sum", "sq_sum",
                         "amp_min", "amp_max"],
            )

    return df.mapInPandas(
        batches,
        schema=("id long, n_samples long, sample_rate long, amp_sum long, "
                "sq_sum long, amp_min long, amp_max long"),
    )


def encode_mrv(frames: "list[np.ndarray]") -> bytes:
    """Encode a list of (h, w) uint8 frames as an MRV container — a
    minimal video-ish format (magic + frame count + length-prefixed PGM
    frames) implementable with no codec lib, so the container-walk +
    per-frame-decode path is REAL in this container.  Real deployments
    swap this for mp4/mkv demuxing; the Spark-side plumbing (binary
    column → demux → frame-sample → decode → stats) is identical."""
    import struct

    out = [b"MRV1", struct.pack("<I", len(frames))]
    for fr in frames:
        pgm = encode_pgm(fr)
        out.append(struct.pack("<I", len(pgm)))
        out.append(pgm)
    return b"".join(out)


def decode_mrv_frames(
    payload: bytes, every_n: int = 1
) -> "list[tuple[int, np.ndarray]]":
    """Demux an MRV container and decode every ``every_n``-th frame
    (frame indices 0, n, 2n, …) — the frame-SAMPLING decode that makes
    video tractable: the demux walk touches only length prefixes, so
    skipped frames are never decoded (at 100 TB of video, sampling
    1-in-10 cuts decode CPU 10×; IO still reads the payload, which is
    why real stores chunk frames into separately-fetchable ranges).
    Returns [(frame_idx, (h, w) uint8 array), ...]."""
    import struct

    if payload[:4] != b"MRV1":
        raise NotImplementedError("only MRV1 demuxes without a codec lib")
    (n_frames,) = struct.unpack_from("<I", payload, 4)
    pos = 8
    out = []
    for f in range(n_frames):
        (ln,) = struct.unpack_from("<I", payload, pos)
        pos += 4
        if f % every_n == 0:
            out.append((f, decode_image(payload[pos : pos + ln])))
        pos += ln
    return out


def render_mrv_payloads(df: DataFrame) -> DataFrame:
    """Deterministic synthetic clip per row: frame f pixel i =
    (id*31 + f*101 + i*7) mod 256 — the m06 pixel-law discipline
    extended with a frame term, so a SQL oracle replays sampled-frame
    stats without demuxing anything.  Emits (id, payload binary)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(16 * 8, dtype=np.int64)
        for pdf in it:
            payloads = []
            for i in pdf["doc_id"]:
                frames = [
                    (((int(i) * 31 + f * 101 + idx * 7) % 256).astype(np.uint8)).reshape(8, 16)
                    for f in range(8)
                ]
                payloads.append(encode_mrv(frames))
            yield pd.DataFrame({"id": pdf["doc_id"].astype("int64"), "payload": payloads})

    return df.select("doc_id").mapInPandas(batches, schema="id long, payload binary")


def sampled_frame_stats(df: DataFrame) -> DataFrame:
    """Demux + frame-sample + decode + reduce in ONE Arrow stage:
    (id, n_frames, n_sampled, px_sum, px_min, px_max) over the sampled
    frames only — full-resolution rasters never leave the batch (m08's
    fusion discipline applied to the video template)."""
    import struct

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i, p in zip(pdf["id"], pdf["payload"]):
                payload = bytes(p)
                (n_frames,) = struct.unpack_from("<I", payload, 4)
                frames = decode_mrv_frames(payload, every_n=3)
                stack = np.stack([fr for _, fr in frames]).astype(np.int64)
                rows.append(
                    (
                        int(i),
                        int(n_frames),
                        len(frames),
                        int(stack.sum()),
                        int(stack.min()),
                        int(stack.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["id", "n_frames", "n_sampled", "px_sum", "px_min", "px_max"],
            )

    return df.mapInPandas(
        batches,
        schema="id long, n_frames long, n_sampled long, px_sum long, px_min long, px_max long",
    )


def ahash_64(df: DataFrame) -> DataFrame:
    """64-bit average hash (aHash) of image payloads — decode and hash
    FUSED in one Arrow stage (the m06/m08 discipline: full-resolution
    rasters never leave the batch).

    The classic perceptual-hash recipe, in exact integer arithmetic so
    a SQL oracle can replay it: decode (real PGM parse), partition the
    raster into an 8x8 grid of blocks, block SUM per cell (= mean x
    block size, kept as the integer sum), bit k (row-major cell k) set
    iff 64*cell_sum > total_sum.  The hash is returned as two
    non-negative 32-bit halves (``lo`` bits 0-31, ``hi`` bits 32-63):
    keeping bit 63 out of a BIGINT's sign position sidesteps
    arithmetic-vs-logical shift divergence between engines.

    Emits (id, lo, hi).  Near-duplicate images then band-join on 16-bit
    hash quarters and verify by XOR popcount — m11 composes this with
    the d-series banding paradigm.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, los, his = [], [], []
        for pdf in it:
            for i, pl in zip(pdf["id"], pdf["payload"]):
                img = decode_image(bytes(pl))
                h, w = img.shape
                if h % 8 or w % 8:
                    raise ValueError(f"ahash_64: dims {h}x{w} not divisible by 8")
                cells = (
                    img.astype(np.int64)
                    .reshape(8, h // 8, 8, w // 8)
                    .sum(axis=(1, 3))
                    .ravel()
                )
                total = int(cells.sum())
                bits = cells * 64 > total
                lo = hi = 0
                for k in range(32):
                    if bits[k]:
                        lo |= 1 << k
                    if bits[k + 32]:
                        hi |= 1 << k
                ids.append(int(i))
                los.append(lo)
                his.append(hi)
            yield pd.DataFrame({"id": ids, "lo": los, "hi": his})
            ids, los, his = [], [], []

    return df.mapInPandas(batches, schema="id long, lo long, hi long")


def render_wav_payloads_seeded(df: DataFrame) -> DataFrame:
    """Synthetic audio store with PLANTED duplicate classes: the signal
    depends only on ``id % 128``, and each sample is an md5 fold
    (``(int(md5(f"{seed}_{i}")[:4], 16) % 4096) - 2048``) — white-ish
    noise, unlike ``render_wav_payloads``'s sawtooth whose frame
    energies are so uniform that threshold fingerprints collide
    corpus-wide (measured: 1.3 M hamming<=3 pairs over 5 000 docs).
    With md5 samples, fingerprints of DIFFERENT classes are ~iid random
    bits, so near-dup pairs are exactly the planted classes plus a
    negligible random tail — the healthy dedup workload shape.  The
    128 signals memoize per batch; bytes are real WAV (encode_wav)."""
    import hashlib

    def signal(seed: int) -> "np.ndarray":
        return np.array(
            [
                int(hashlib.md5(f"{seed}_{i}".encode()).hexdigest()[:4], 16) % 4096
                - 2048
                for i in range(256)
            ],
            dtype=np.int64,
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[int, bytes] = {}
        for pdf in it:
            payloads = []
            for i in pdf["doc_id"]:
                seed = int(i) % 128
                if seed not in cache:
                    cache[seed] = encode_wav(signal(seed))
                payloads.append(cache[seed])
            yield pd.DataFrame({"id": pdf["doc_id"].astype("int64"), "payload": payloads})

    return df.select("doc_id").mapInPandas(batches, schema="id long, payload binary")


def audio_fingerprint_64(df: DataFrame) -> DataFrame:
    """64-bit audio energy fingerprint — decode and hash FUSED in one
    Arrow stage (m11's aHash recipe on the time axis): real WAV decode
    (RIFF chunk walk), split samples into 64 frames, integer
    energy (sum of squares) per frame, bit f set iff
    ``64 * energy_f > total_energy``.  Exact integer arithmetic
    end to end, hash returned as two non-negative 32-bit halves
    (``lo``/``hi``) — same sign-safe layout as ``ahash_64``, same
    banding/verify composition downstream (m12)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, los, his = [], [], []
            for i, pl in zip(pdf["id"], pdf["payload"]):
                samples, _rate = decode_wav(bytes(pl))
                s = samples.astype(np.int64)
                if len(s) % 64:
                    raise ValueError(
                        f"audio_fingerprint_64: {len(s)} samples not divisible "
                        "by 64 frames"
                    )
                en = (s.reshape(64, -1) ** 2).sum(axis=1)
                bits = en * 64 > en.sum()
                lo = hi = 0
                for k in range(32):
                    if bits[k]:
                        lo |= 1 << k
                    if bits[k + 32]:
                        hi |= 1 << k
                ids.append(int(i))
                los.append(lo)
                his.append(hi)
            yield pd.DataFrame({"id": ids, "lo": los, "hi": his})

    return df.mapInPandas(batches, schema="id long, lo long, hi long")


def ahash_128(df: DataFrame) -> DataFrame:
    """128-bit average hash — ``ahash_64`` at double fingerprint width,
    the band-occupancy MITIGATION recorded in SCALE.md's round-7 probe:
    4 bands over a 128-bit hash are 32 bits wide, capping per-band
    bucket keys at 2³² instead of 2¹⁶, so the candidate stage over N
    DISTINCT hashes shrinks from ~N²/2¹⁷ to ~N²/2³³ pairs — the
    billion-scale posture (at N = 10⁹: ~10⁸ candidates instead of
    ~10¹³).  Same recipe, 8×16 block grid: decode (real PGM parse),
    integer block sums, bit k (row-major cell k) set iff
    128·cell_sum > total_sum.  Emits (id, w0, w1, w2, w3) — four
    non-negative 32-bit words, bits 0-31 in w0 through bits 96-127 in
    w3 (the ahash_64 sign-bit discipline, four ways)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out: dict[str, list[int]] = {"id": [], "w0": [], "w1": [], "w2": [], "w3": []}
        for pdf in it:
            for i, pl in zip(pdf["id"], pdf["payload"]):
                img = decode_image(bytes(pl))
                h, w = img.shape
                if h % 8 or w % 16:
                    raise ValueError(f"ahash_128: dims {h}x{w} not divisible by 8x16")
                cells = (
                    img.astype(np.int64)
                    .reshape(8, h // 8, 16, w // 16)
                    .sum(axis=(1, 3))
                    .ravel()
                )
                total = int(cells.sum())
                bits = cells * 128 > total
                words = [0, 0, 0, 0]
                for k in range(128):
                    if bits[k]:
                        words[k // 32] |= 1 << (k % 32)
                out["id"].append(int(i))
                for j in range(4):
                    out[f"w{j}"].append(words[j])
            yield pd.DataFrame(out)
            out = {"id": [], "w0": [], "w1": [], "w2": [], "w3": []}

    return df.mapInPandas(
        batches, schema="id long, w0 long, w1 long, w2 long, w3 long"
    )


def video_majority_ahash(df: DataFrame) -> DataFrame:
    """Temporally-pooled perceptual hash of a video payload — demux,
    frame-sample, per-frame 8x8 block-sum aHash, and MAJORITY-VOTE the
    bits across sampled frames, all fused in ONE Arrow stage (m08/m09
    discipline: rasters never leave the batch).  Majority pooling is
    the classic temporal aggregation for clip fingerprints: a bit
    survives when most sampled frames agree, so per-frame noise
    (re-encodes, single dropped frames) doesn't flip the signature
    while a genuinely different clip does.

    Emits (id, lo, hi) — ahash_64's two-halves contract — so the
    canonical dedup tail (hash64_canonical_dedup: exact contraction →
    pigeonhole banding → star-CC) composes unchanged; m16 is the video
    member of the per-modality dedup matrix (text d-series, image m11,
    audio m12)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, los, his = [], [], []
        for pdf in it:
            for i, p in zip(pdf["id"], pdf["payload"]):
                frames = decode_mrv_frames(bytes(p), every_n=3)
                if not frames:
                    # Zero decoded frames would make the majority
                    # threshold 0, so every bit votes true and ALL empty
                    # clips silently collapse into one all-ones
                    # fingerprint — reject instead (mirrors the
                    # dims-not-divisible-by-8 guard below).
                    raise ValueError(
                        f"video_majority_ahash: payload id={int(i)} "
                        "decoded to zero frames"
                    )
                votes = np.zeros(64, dtype=np.int64)
                for _fidx, img in frames:
                    h, w = img.shape
                    if h % 8 or w % 8:
                        raise ValueError(
                            f"video_majority_ahash: dims {h}x{w} not divisible by 8"
                        )
                    cells = (
                        img.astype(np.int64)
                        .reshape(8, h // 8, 8, w // 8)
                        .sum(axis=(1, 3))
                        .ravel()
                    )
                    total = int(cells.sum())
                    votes += (cells * 64 > total).astype(np.int64)
                maj = votes >= (len(frames) + 1) // 2
                lo = hi = 0
                for k in range(32):
                    if maj[k]:
                        lo |= 1 << k
                    if maj[k + 32]:
                        hi |= 1 << k
                ids.append(int(i))
                los.append(lo)
                his.append(hi)
        if ids:
            yield pd.DataFrame({"id": ids, "lo": los, "hi": his})

    return df.select("id", "payload").mapInPandas(batches, schema="id long, lo long, hi long")


def render_corrupt_pgm_batches(it):
    """m10's render kernel as a module-level mapInPandas stage (round 7:
    shared by batch m10 and the streaming DLQ st24): the doc_id pixel
    law rastered to PGM, with every 13th payload truncated mid-raster —
    the deterministic corruption both oracles replay."""
    import numpy as np
    import pandas as pd

    idx = np.arange(512, dtype=np.int64)
    for pdf in it:
        payloads = []
        for i in pdf["doc_id"]:
            img = (((int(i) * 31 + idx * 7) % 256).astype(np.uint8)).reshape(16, 32)
            p = encode_pgm(img)
            if int(i) % 13 == 0:
                p = p[: len(p) // 2]  # truncate mid-raster
            payloads.append(p)
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


def tolerant_decode_batches(it):
    """m10's decode kernel as a module-level mapInPandas stage: per-row
    classify — 'ok' rows carry the pixel sum, corrupt rows land in the
    quarantine status with ZERO exceptions escaping the kernel."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        rows = []
        for i, p in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(p)
            try:
                img = decode_image(b)
                if img.size != 512:
                    raise ValueError("short raster")
                rows.append((int(i), "ok", int(img.astype(np.int64).sum())))
            except Exception:
                rows.append((int(i), "corrupt_truncated", 0))
        yield pd.DataFrame(rows, columns=["doc_id", "decode_status", "px_sum"])
