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
- Every render, decode and fingerprint kernel is a plain per-row
  function run by ONE stage, ``_row_map``: an Arrow-batched
  ``mapInPandas`` that calls the row function on each row and builds
  the output frame from the schema's column names — the reference's
  ``Mapper`` (a per-row function lifted over every row by one runner),
  and the only sane shape for per-item Python media libs (one Python
  worker per partition, batches amortize serialization).  Renderers
  are ``doc_id -> bytes`` laws; decoders are ``(id, payload) -> row``.
  ``decode_image`` is a REAL pure-numpy decoder for binary PGM (P5) —
  header parse + raster — so the decode stage is exercised end-to-end
  (m06); formats that need a codec lib (JPEG/PNG, absent in this
  container) still raise ``NotImplementedError`` and ``fake_features``
  provides the deterministic stand-in used by the feature-extraction
  tests.
- The perceptual fingerprints share one block-sum threshold
  (``_block_bits``) and one packer of bits into non-negative 32-bit
  words (``_pack_words``).
"""

from __future__ import annotations

import functools
import hashlib
import os
import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _row_map(df: DataFrame, cols: list[str], row: Callable[..., tuple], schema: str) -> DataFrame:
    """The media layer's one stage: ``row(*values)`` over ``df``'s
    ``cols`` on every row, one Arrow batch at a time; each returned
    tuple is one output row, named by ``schema``'s column names."""
    names = [field.split()[0] for field in schema.split(",")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [row(*values) for values in zip(*(pdf[c].tolist() for c in cols))]
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(batches, schema=schema)


def _render(df: DataFrame, law: Callable[[int], bytes]) -> DataFrame:
    """A synthetic media store: (id, payload binary) with
    ``payload = law(doc_id)`` for every row of ``df``."""
    return _row_map(df, ["doc_id"], lambda i: (i, law(i)), "id long, payload binary")


def _block_bits(raster: "np.ndarray", rows: int, cols: int, who: str) -> "np.ndarray":
    """Threshold bits of a 2-D raster cut into a ``rows`` x ``cols``
    grid of equal blocks: bit k (row-major block k) is set iff
    ``n_blocks * block_sum > total_sum`` — the average-hash rule in
    exact integer arithmetic, so a SQL oracle replays it bit for bit."""
    h, w = raster.shape
    if h % rows or w % cols:
        grid = f"{rows}" if rows == cols else f"{rows}x{cols}"
        raise ValueError(f"{who}: dims {h}x{w} not divisible by {grid}")
    cells = (
        raster.astype(np.int64).reshape(rows, h // rows, cols, w // cols).sum(axis=(1, 3)).ravel()
    )
    return cells * cells.size > cells.sum()


#: 2**j for bit j of a 32-bit word.
_WORD_WEIGHTS = 1 << np.arange(32, dtype=np.int64)


def _pack_words(bits: "np.ndarray") -> tuple[int, ...]:
    """A bool vector as non-negative 32-bit words: bit k lands in word
    ``k // 32`` at position ``k % 32``.  32-bit words keep a hash's top
    bit out of a BIGINT's sign position, which sidesteps
    arithmetic-vs-logical shift divergence between engines."""
    return tuple(int(w) for w in np.asarray(bits, dtype=np.int64).reshape(-1, 32) @ _WORD_WEIGHTS)


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
    the dispatch below; the ``_row_map`` plumbing is identical.
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
    Every column but ``payload`` passes through as pandas carries it,
    which is why this stage is not a ``_row_map`` (whose rows are
    Python tuples).
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


def _pixels(seed: int, width: int, height: int) -> "np.ndarray":
    """The m-series pixel law: a (height, width) uint8 raster with
    pixel[i] = (seed + i*7) mod 256, row-major."""
    idx = np.arange(width * height, dtype=np.int64)
    return ((seed + idx * 7) % 256).astype(np.uint8).reshape(height, width)


def render_pgm_payloads(df: DataFrame, width: int = 32, height: int = 16) -> DataFrame:
    """Deterministic synthetic image per row: pixel[i] =
    (id*31 + i*7) mod 256, encoded as real PGM bytes.  Plays the
    external camera/media store in tests and m06 — the arithmetic
    pixel law is what lets a SQL oracle replay decoded-image stats
    without itself decoding anything.  Emits (id, payload binary)."""
    return _render(df, lambda i: encode_pgm(_pixels(i * 31, width, height)))


#: Output schema of the pixel-stats stages.
_PIXEL_STATS = "id long, width long, height long, px_sum long, px_min long, px_max long"


def _pixel_stats(i: int, img: "np.ndarray") -> tuple:
    """(id, width, height, px_sum, px_min, px_max) of one raster."""
    px = img.astype(np.int64)
    return i, img.shape[1], img.shape[0], int(px.sum()), int(px.min()), int(px.max())


def decoded_image_stats(df: DataFrame) -> DataFrame:
    """Decode each payload with ``decode_image`` and reduce to stats:
    (id, width, height, px_sum, px_min, px_max).  A genuinely-decoding
    Arrow stage — header parse, raster reshape, numpy reduce — the
    template every real extractor (resize, embed, OCR) follows."""
    return _row_map(
        df, ["id", "payload"], lambda i, p: _pixel_stats(i, decode_image(p)), _PIXEL_STATS
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
    return _row_map(
        df,
        ["id", "payload"],
        lambda i, p: _pixel_stats(i, resize_image(decode_image(p))),
        _PIXEL_STATS,
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
    idx = np.arange(256, dtype=np.int64)
    return _render(df, lambda i: encode_wav((i * 13 + idx * 17) % 4096 - 2048))


def _audio_stats(i: int, payload: bytes) -> tuple:
    s, rate = decode_wav(payload)
    s = s.astype(np.int64)
    return i, len(s), rate, int(s.sum()), int((s * s).sum()), int(s.min()), int(s.max())


def decoded_audio_stats(df: DataFrame) -> DataFrame:
    """Decode each WAV payload and reduce to exact integer stats:
    (id, n_samples, sample_rate, amp_sum, sq_sum, amp_min, amp_max).
    Integer sums (not float RMS) so the oracle check is bit-exact;
    callers derive rms = sqrt(sq_sum/n) at the edge."""
    return _row_map(
        df,
        ["id", "payload"],
        _audio_stats,
        "id long, n_samples long, sample_rate long, amp_sum long, sq_sum long, "
        "amp_min long, amp_max long",
    )


def encode_mrv(frames: "list[np.ndarray]") -> bytes:
    """Encode a list of (h, w) uint8 frames as an MRV container — a
    minimal video-ish format (magic + frame count + length-prefixed PGM
    frames) implementable with no codec lib, so the container-walk +
    per-frame-decode path is REAL in this container.  Real deployments
    swap this for mp4/mkv demuxing; the Spark-side plumbing (binary
    column → demux → frame-sample → decode → stats) is identical."""
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
    return _render(
        df, lambda i: encode_mrv([_pixels(i * 31 + f * 101, 16, 8) for f in range(8)])
    )


def _frame_stats(i: int, payload: bytes) -> tuple:
    (n_frames,) = struct.unpack_from("<I", payload, 4)
    frames = decode_mrv_frames(payload, every_n=3)
    stack = np.stack([fr for _, fr in frames]).astype(np.int64)
    return i, n_frames, len(frames), int(stack.sum()), int(stack.min()), int(stack.max())


def sampled_frame_stats(df: DataFrame) -> DataFrame:
    """Demux + frame-sample + decode + reduce in ONE Arrow stage:
    (id, n_frames, n_sampled, px_sum, px_min, px_max) over the sampled
    frames only — full-resolution rasters never leave the batch (m08's
    fusion discipline applied to the video template)."""
    return _row_map(
        df,
        ["id", "payload"],
        _frame_stats,
        "id long, n_frames long, n_sampled long, px_sum long, px_min long, px_max long",
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
    non-negative 32-bit halves (``lo`` bits 0-31, ``hi`` bits 32-63).

    Emits (id, lo, hi).  Near-duplicate images then band-join on 16-bit
    hash quarters and verify by XOR popcount — m11 composes this with
    the d-series banding paradigm.
    """
    return _row_map(
        df,
        ["id", "payload"],
        lambda i, p: (i, *_pack_words(_block_bits(decode_image(p), 8, 8, "ahash_64"))),
        "id long, lo long, hi long",
    )


@functools.lru_cache(maxsize=128)
def _seeded_wav(seed: int) -> bytes:
    samples = [
        int(hashlib.md5(f"{seed}_{i}".encode()).hexdigest()[:4], 16) % 4096 - 2048
        for i in range(256)
    ]
    return encode_wav(np.array(samples, dtype=np.int64))


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
    128 signals memoize per worker; bytes are real WAV (encode_wav)."""
    return _render(df, lambda i: _seeded_wav(i % 128))


def _audio_fingerprint(i: int, payload: bytes) -> tuple:
    samples, _rate = decode_wav(payload)
    s = samples.astype(np.int64)
    if len(s) % 64:
        raise ValueError(
            f"audio_fingerprint_64: {len(s)} samples not divisible by 64 frames"
        )
    energy = (s * s).reshape(1, -1)
    return (i, *_pack_words(_block_bits(energy, 1, 64, "audio_fingerprint_64")))


def audio_fingerprint_64(df: DataFrame) -> DataFrame:
    """64-bit audio energy fingerprint — decode and hash FUSED in one
    Arrow stage (m11's aHash recipe on the time axis): real WAV decode
    (RIFF chunk walk), split samples into 64 frames, integer
    energy (sum of squares) per frame, bit f set iff
    ``64 * energy_f > total_energy``.  Exact integer arithmetic
    end to end, hash returned as two non-negative 32-bit halves
    (``lo``/``hi``) — same sign-safe layout as ``ahash_64``, same
    banding/verify composition downstream (m12)."""
    return _row_map(df, ["id", "payload"], _audio_fingerprint, "id long, lo long, hi long")


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
    return _row_map(
        df,
        ["id", "payload"],
        lambda i, p: (i, *_pack_words(_block_bits(decode_image(p), 8, 16, "ahash_128"))),
        "id long, w0 long, w1 long, w2 long, w3 long",
    )


def _video_majority_hash(i: int, payload: bytes) -> tuple:
    frames = decode_mrv_frames(payload, every_n=3)
    if not frames:
        # Zero decoded frames would make the majority threshold 0, so
        # every bit votes true and ALL empty clips silently collapse
        # into one all-ones fingerprint — reject instead (mirrors the
        # dims-not-divisible-by-8 guard).
        raise ValueError(f"video_majority_ahash: payload id={i} decoded to zero frames")
    votes = sum(
        _block_bits(img, 8, 8, "video_majority_ahash").astype(np.int64) for _, img in frames
    )
    return (i, *_pack_words(votes >= (len(frames) + 1) // 2))


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
    return _row_map(df, ["id", "payload"], _video_majority_hash, "id long, lo long, hi long")


def _corrupt_pgm(i: int) -> bytes:
    """The 32x16 pixel law rastered to PGM, with every 13th payload
    truncated mid-raster — the deterministic corruption m10 and st24's
    oracles replay."""
    p = encode_pgm(_pixels(i * 31, 32, 16))
    return p[: len(p) // 2] if i % 13 == 0 else p


def _tolerant_decode_row(i: int, payload: bytes) -> tuple:
    try:
        img = decode_image(payload)
        if img.size != 512:
            raise ValueError("short raster")
        return i, "ok", int(img.astype(np.int64).sum())
    except Exception:
        return i, "corrupt_truncated", 0


def tolerant_decode(df: DataFrame) -> DataFrame:
    """Error-tolerant decode over a corrupting media store (m10, and
    the streaming DLQ st24): render each ``doc_id``'s payload by the
    corruption law, then classify per row — 'ok' rows carry the pixel
    sum, corrupt rows land in the quarantine status with ZERO
    exceptions escaping the stage.  Emits (doc_id, decode_status,
    px_sum)."""
    return _row_map(
        _render(df, _corrupt_pgm),
        ["id", "payload"],
        _tolerant_decode_row,
        "doc_id long, decode_status string, px_sum long",
    )
