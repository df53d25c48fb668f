"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

Every media operator runs on one Arrow path, ``_map_payloads``: it
selects ``(id, payload)``, streams the Arrow batches through
``mapInPandas``, calls one per-payload function on each payload's bytes
and types the output rows from the operator's declared DDL schema. The
codec steps are those per-payload functions, so each is INJECTABLE:

- ``extract_binary_metadata`` — real: size, md5, magic-byte format sniff
  (the template a real decoder plugs into).
- ``decode_image`` / ``sample_frames`` / ``resize_image`` /
  ``extract_audio_features`` — deterministic fakes by default; pass
  ``decoder=``/``frame_extractor=``/``resizer=``/``extractor=`` to swap
  in PIL/ffmpeg/torchaudio on a cluster with codecs installed — a
  one-line swap at the call site; the Arrow flow, schemas, and
  partitioning are unchanged (`tests/test_operators.py` proves a custom
  decoder rides the same plumbing).
- ``image_ahash`` / ``audio_fingerprint`` / ``video_frame_ahash`` — real
  stdlib PNG / PCM16 WAV / SVID decodes feeding the content hashes
  (``decoder=``/``frame_parser=`` seams).

Scale notes: binary payloads ride the shuffle, so partition count must keep
``partition_bytes ≈ rows_per_partition × avg_payload`` under executor
memory — repartition by a key BEFORE attaching payloads when possible, and
set ``spark.sql.files.maxPartitionBytes`` for the scan. ``mapInPandas``
streams Arrow record batches, so peak memory is batch-sized
(``spark.sql.execution.arrow.maxRecordsPerBatch``), not partition-sized.
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib
from typing import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .topk import topk

BINARY_META_SCHEMA = (
    "id long, size_bytes long, md5_hex string, format string"
)

IMAGE_META_SCHEMA = (
    "id long, size_bytes long, md5_hex string, width int, height int, channels int"
)

_MAGIC = [
    (b"\x89PNG", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"GIF8", "gif"),
    (b"RIFF", "riff"),
    (b"%PDF", "pdf"),
]


def _sniff_format(payload: bytes) -> str:
    for magic, name in _MAGIC:
        if payload[: len(magic)] == magic:
            return name
    return "unknown"


def _map_payloads(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    fn: Callable[[bytes], Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """The one Arrow path of the media tier: ``fn(payload)`` returns the
    output rows of one payload as tuples of the columns after ``id`` —
    one tuple for a 1:1 operator, any number for an explode-shaped one.
    ``schema`` is a flat ``"id long, <name> <type>, ..."`` DDL; it names
    the columns and Arrow casts each to its declared type."""
    names = [field.split()[0] for field in schema.split(",")]

    def _map(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                (i, *row)
                for i, payload in zip(pdf[id_col], pdf[binary_col])
                for row in fn(bytes(payload))
            ]
            yield pd.DataFrame.from_records(rows, columns=names)

    return df.select(id_col, binary_col).mapInPandas(_map, schema)


def _pack64(bits: list[int]) -> tuple[int, int]:
    """64 hash bits → (hi, lo): two NON-NEGATIVE 32-bit halves (lo = bits
    0-31, hi = bits 32-63), so every value stays positive in signed-64
    arithmetic — portable to engines that error on bigint overflow, the
    same discipline as ``dedup.SIMHASH_BITS``."""
    v = sum(bit << i for i, bit in enumerate(bits))
    return v >> 32, v & 0xFFFFFFFF


def extract_binary_metadata(df: DataFrame, id_col: str, binary_col: str) -> DataFrame:
    """Per-payload metadata (size, md5, sniffed format). Fully real (no
    stub): the template every decode operator follows — one function of
    the payload bytes on the shared Arrow path."""
    return _map_payloads(
        df,
        id_col,
        binary_col,
        lambda b: [(len(b), hashlib.md5(b).hexdigest(), _sniff_format(b))],
        BINARY_META_SCHEMA,
    )


def synth_png(width: int, height: int, color_type: int = 2) -> bytes:
    """Construct a minimal REAL PNG (signature + IHDR + 1-byte IDAT + IEND,
    correct chunk CRCs) — stdlib only. Used to exercise the genuine decode
    path end-to-end where no image files exist: synthesize → parse back →
    compare against the dims that went in."""

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00"))
        + chunk(b"IEND", b"")
    )


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def stdlib_image_decode(b: bytes) -> tuple[int, int, int]:
    """REAL image header decode — stdlib only, no codec libraries
    (VERDICT r2 #9): true (width, height, channels) from PNG IHDR, the GIF
    logical screen descriptor, or the JPEG SOF0-3 frame header. Raises on
    anything else (it decodes real formats or refuses — never fakes).
    Drop-in for the ``decoder=`` seam of ``decode_image``/``resize_image``;
    full-pixel decoding still belongs to PIL on a cluster that has it.
    """
    if b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return int(w), int(h), _PNG_CHANNELS.get(b[25], 3)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return int(w), int(h), 3
    if b[:3] == b"\xff\xd8\xff":
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker in (0xC0, 0xC1, 0xC2, 0xC3):  # SOF0-3: baseline..lossless
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return int(w), int(h), int(b[i + 9])
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:  # standalone markers
                i += 2
                continue
            i += 2 + struct.unpack(">H", b[i + 2 : i + 4])[0]
        raise ValueError("no SOF frame header found in JPEG payload")
    raise ValueError("unsupported image format for stdlib header decode")


def synth_wav(samples: list[int], sample_rate: int = 8000, channels: int = 1) -> bytes:
    """Construct a minimal REAL RIFF/WAVE PCM16 file — stdlib only."""
    data = struct.pack("<%dh" % len(samples), *samples)
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * channels * 2, channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def stdlib_wav_features(b: bytes) -> tuple[float, int, float]:
    """REAL audio feature extraction for PCM16 RIFF/WAVE — stdlib only:
    (duration_s, sample_rate, rms in [0, 1]). Raises on non-WAV payloads;
    compressed codecs (mp3/ogg/flac) still require external libraries and
    keep the honest stub."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, rate, nch, bits, data = 12, None, 1, 16, None
    while i + 8 <= len(b):
        cid, ln = b[i : i + 4], struct.unpack("<I", b[i + 4 : i + 8])[0]
        body = b[i + 8 : i + 8 + ln]
        if cid == b"fmt ":
            _, nch, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
        elif cid == b"data":
            data = body
        i += 8 + ln + (ln & 1)
    if rate is None or data is None or bits != 16:
        raise ValueError("missing fmt/data chunk or non-PCM16 WAV")
    n = len(data) // 2
    if n == 0:
        return 0.0, int(rate), 0.0
    vals = struct.unpack("<%dh" % n, data[: n * 2])
    rms = math.sqrt(sum(v * v for v in vals) / n) / 32768.0
    return n / nch / rate, int(rate), rms


def synth_png_gray(
    width: int, height: int, pixels: bytes, filter_type: int = 0
) -> bytes:
    """Construct a REAL 8-bit grayscale PNG carrying actual pixel
    content — stdlib only (signature + IHDR + filtered zlib scanlines +
    IEND, correct CRCs). ``pixels`` is row-major, ``width·height``
    bytes. ``filter_type`` picks the per-row PNG filter (0 = None,
    1 = Sub, 2 = Up): the SAME pixel grid encodes to DIFFERENT bytes
    under different filters — the "re-encoded copy" a content-level
    image dedup must catch and a byte-level md5 cannot."""
    if len(pixels) != width * height:
        raise ValueError(
            f"synth_png_gray: need {width * height} pixels, got {len(pixels)}"
        )
    if filter_type not in (0, 1, 2):
        raise ValueError(f"filter_type must be 0, 1 or 2, got {filter_type}")

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    # whole-image filter application in numpy (r14, guide §4.2): Sub is
    # a row-axis diff, Up a column-axis diff, both mod 256 — identical
    # bytes to the former per-pixel loop
    import numpy as np

    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width).astype(np.int64)
    if filter_type == 0:
        filt = img
    elif filter_type == 1:  # Sub: delta vs left neighbor
        filt = np.diff(img, axis=1, prepend=0) & 0xFF
    else:  # Up: delta vs the pixel above (first row vs implicit zeros)
        filt = np.diff(img, axis=0, prepend=0) & 0xFF
    raw_m = np.empty((height, width + 1), dtype=np.uint8)
    raw_m[:, 0] = filter_type
    raw_m[:, 1:] = filt.astype(np.uint8)
    raw = raw_m.tobytes()
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def stdlib_png_pixel_decode(b: bytes) -> tuple[int, int, bytes]:
    """REAL pixel decode for 8-bit grayscale non-interlaced PNG —
    stdlib only: walks the chunk stream, inflates the concatenated IDAT
    payload, and reverses all five standard scanline filters (None /
    Sub / Up / Average / Paeth at bpp = 1). Returns (width, height,
    row-major pixel bytes). Raises on any other color type / bit depth
    (it decodes the real format or refuses — never fakes); full-featured
    decoding still belongs to PIL on a cluster that has it."""
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, idat = 8, bytearray()
    width = height = -1
    while pos + 8 <= len(b):
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        typ = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        if typ == b"IHDR":
            width, height, depth, ctype, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or ctype != 0 or interlace != 0:
                raise ValueError(
                    "stdlib_png_pixel_decode handles 8-bit grayscale "
                    f"non-interlaced only (depth={depth}, color_type={ctype})"
                )
        elif typ == b"IDAT":
            idat.extend(data)
        elif typ == b"IEND":
            break
        pos += 12 + length
    if width < 0:
        raise ValueError("no IHDR chunk found")
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (width + 1):
        raise ValueError("IDAT payload does not match IHDR dimensions")
    import numpy as np

    raw_m = np.frombuffer(raw, dtype=np.uint8).reshape(height, width + 1)
    fts = raw_m[:, 0]
    # whole-image fast paths for uniform-filter images — what the synth
    # encoder emits (r14, guide §4.2); identical bytes to the per-pixel
    # loop below, which remains for mixed/Average/Paeth streams:
    # None = copy; Sub = row-axis cumsum mod 256 (each pixel is the sum
    # of its left deltas); Up = column-axis cumsum mod 256
    if (fts == 0).all():
        return width, height, raw_m[:, 1:].tobytes()
    if (fts == 1).all():
        out_m = np.cumsum(raw_m[:, 1:].astype(np.int64), axis=1) & 0xFF
        return width, height, out_m.astype(np.uint8).tobytes()
    if (fts == 2).all():
        out_m = np.cumsum(raw_m[:, 1:].astype(np.int64), axis=0) & 0xFF
        return width, height, out_m.astype(np.uint8).tobytes()
    out = bytearray(width * height)
    prev = bytes(width)
    for y in range(height):
        ft = raw[y * (width + 1)]
        row = bytearray(raw[y * (width + 1) + 1 : (y + 1) * (width + 1)])
        if ft == 1:  # Sub
            for x in range(1, width):
                row[x] = (row[x] + row[x - 1]) & 0xFF
        elif ft == 2:  # Up
            for x in range(width):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(width):
                left = row[x - 1] if x else 0
                row[x] = (row[x] + (left + prev[x]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(width):
                a, bb, c = (row[x - 1] if x else 0), prev[x], (prev[x - 1] if x else 0)
                p = a + bb - c
                pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else c)
                row[x] = (row[x] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y * width : (y + 1) * width] = row
        prev = bytes(row)
    return width, height, bytes(out)


def ahash_bits(pixels: bytes, width: int, height: int, grid: int = 8) -> list[int]:
    """Average-hash bit vector over the REAL pixel grid — pure integer
    arithmetic so any engine reproduces it bit-for-bit (the house
    oracle discipline): partition the image into ``grid × grid`` equal
    blocks (width/height must divide evenly), take integer block SUMS,
    and set bit ``blk = by·grid + bx`` iff
    ``grid² · block_sum > total_sum`` — the block's mean strictly above
    the image mean, with no division anywhere. Invariant under uniform
    additive brightness shift (both sides gain equally) and under
    re-encoding (it reads pixels, not bytes)."""
    if width % grid or height % grid:
        raise ValueError(
            f"ahash_bits: {width}x{height} not divisible into {grid}x{grid} blocks"
        )
    import numpy as np

    bw, bh = width // grid, height // grid
    # exact-integer block sums, vectorized (r14, guide §4.2): the
    # (grid, bh, grid, bw) reshape sums each block in one C pass —
    # identical int64 sums to the former per-pixel Python loop
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    sums = arr.reshape(grid, bh, grid, bw).sum(axis=(1, 3), dtype=np.int64)
    total = int(sums.sum())
    n = grid * grid
    return [1 if n * int(s) > total else 0 for s in sums.ravel()]


def image_ahash(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    grid: int = 8,
    decoder: Callable[[bytes], tuple[int, int, bytes]] = stdlib_png_pixel_decode,
) -> DataFrame:
    """Per-image perceptual hash → (id, ahash_hi, ahash_lo): the 64
    average-hash bits packed by :func:`_pack64`. ``decoder`` is the
    injectable codec seam (``stdlib_png_pixel_decode`` is REAL for the
    grayscale-PNG path; swap PIL for arbitrary formats)."""

    def _hash(b: bytes) -> list[tuple[int, int]]:
        w, h, px = decoder(b)
        return [_pack64(ahash_bits(px, w, h, grid))]

    return _map_payloads(
        df, id_col, binary_col, _hash, "id long, ahash_hi long, ahash_lo long"
    )


def choose_band_arity(
    n_rows: int,
    max_hamming: int = 6,
    bands: int = 8,
    target_bucket_size: int = 64,
) -> int:
    """The banded-Hamming family's scale dispatcher (pure — no Spark):
    the smallest composite-band arity whose EXPECTED random-collision
    bucket occupancy ``n_rows / 2^(chunk·arity)`` stays within
    ``target_bucket_size``, clamped to ``bands − max_hamming`` so auto
    NEVER weakens the caller's recall guarantee (the
    ``choose_jaccard_strategy`` contract: the dispatcher trades only
    cost, never recall — past the clamp you raise the arity explicitly
    and accept d ≤ bands − arity, or raise ``bands``).

    Why occupancy is the right dial: in-bucket candidate expansion is
    quadratic in bucket size, so an 8-band/8-bit scheme (256 possible
    keys per band) goes quadratic in the CORPUS once n ≫ 256·target —
    measured at 100k signatures: arity 1 = 76.0 s vs arity 2 = 10.2 s,
    identical output (PERF.md r14)."""
    if 64 % bands:
        raise ValueError(f"bands must divide 64, got {bands}")
    chunk = 64 // bands
    max_arity = max(1, bands - max_hamming)
    arity = 1
    while arity < max_arity and n_rows > target_bucket_size << (chunk * arity):
        arity += 1
    return arity


def _resolve_band_arity(
    op_name: str,
    band_arity: int | str,
    n_rows: int | None,
    count_probe: Callable[[], int],
    max_hamming: int,
    bands: int,
) -> int:
    """Shared ``band_arity='auto'`` front door for the three perceptual
    pair tiers: resolve auto via ``choose_band_arity`` (count-probing
    the input ONLY when the caller didn't pass ``n_rows`` — the jaccard
    auto-dispatch convention), then warn once if an EXPLICIT arity
    leaves ``max_hamming`` past the pigeonhole guarantee (auto can't,
    by the clamp)."""
    if band_arity == "auto":
        return choose_band_arity(
            n_rows if n_rows is not None else count_probe(), max_hamming, bands
        )
    if not isinstance(band_arity, int):
        raise ValueError(f"band_arity must be an int or 'auto', got {band_arity!r}")
    if max_hamming > bands - band_arity:
        import warnings

        warnings.warn(
            f"{op_name}: max_hamming={max_hamming} exceeds the "
            f"banding recall guarantee (≤ {bands - band_arity} for {bands} "
            f"bands at arity {band_arity}) — pairs beyond it may be missed",
            stacklevel=3,
        )
    return band_arity


def image_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    max_hamming: int = 6,
    bands: int = 8,
    grid: int = 8,
    max_bucket_size: int = 10_000,
    decoder: Callable[[bytes], tuple[int, int, bytes]] = stdlib_png_pixel_decode,
    band_arity: int | str = 1,
    n_docs: int | None = None,
    candidate_shape: str = "collect",
) -> DataFrame:
    """Content-level near-duplicate image pairs: perceptual hash
    (``image_ahash``) + banded Hamming LSH — the ``simhash_near_pairs``
    machinery applied to pixels instead of tokens. The 64-bit hash
    splits into ``bands`` equal chunks; pairs agreeing on any chunk are
    candidates (EXACT recall for ``max_hamming ≤ bands − 1`` by
    pigeonhole), verified with JVM-side
    ``bit_count(hi⊕hi) + bit_count(lo⊕lo) ≤ max_hamming``. Catches
    re-encoded (different bytes, same pixels → distance 0) and
    brightness-shifted copies (additive shift is hash-invariant) that
    byte-level md5 dedup misses. Output: (id_a, id_b, hamming).

    Plan shape (r13 bench fix, 9.07 → ~1 s at sf0.1): the signature
    table is STAGED once (``localCheckpoint`` — three consumers read
    it, and each would otherwise re-run the whole decode→hash Arrow
    pass: the ``text_novelty`` restaging lesson); candidates come from
    BUCKET-COLLECT + in-bucket pair expansion (the
    ``minhash_lsh_candidates`` shape — no signature self-join), then
    the candidate-bounded pairs fetch their two 16-byte hashes by id
    equi-join for verification. Degenerate buckets (a band value shared
    by a giant identical-image cluster is b·(b−1)/2 pairs) are dropped
    past ``max_bucket_size`` — that set-level dedup belongs to exact
    md5 grouping, not pairwise LSH."""
    if 64 % bands:
        raise ValueError(f"bands must divide 64, got {bands}")
    band_arity = _resolve_band_arity(
        "image_near_dup_pairs", band_arity, n_docs, df.count, max_hamming, bands
    )
    sig = image_ahash(df, id_col, binary_col, grid=grid, decoder=decoder)
    return _banded_hamming_pairs(
        sig, "ahash_hi", "ahash_lo", max_hamming, bands, max_bucket_size,
        arity=band_arity, candidate_shape=candidate_shape,
    )


def _band_key_structs(hi_col: str, lo_col: str, bands: int, arity: int = 1):
    """Column: array<struct(band, key)> — the 64 packed bits sliced into
    ``bands`` equal chunks; with ``arity=1`` each chunk is a band's
    bucket key (exact recall for distance ≤ bands−1 by pigeonhole). The
    single source of the banding arithmetic: the pair tier, the
    monitoring companion, and the incremental media index all band
    through it, so their buckets agree by construction.

    ``arity>1`` is the SCALE dial (the s-of-b LSH generalization,
    measured in PERF.md r14): an 8-band/8-bit-chunk scheme has only 256
    possible buckets per band, so bucket occupancy — and with it the
    quadratic in-bucket pair expansion — grows as n/256 no matter how
    unclustered the corpus is. Composite keys over every
    C(bands, arity) band combination widen the key space to
    2^(chunk·arity) at the cost of a weaker pigeonhole: distance d
    dirties ≤ d bands, leaving ≥ bands−d clean, and a clean COMPOSITE
    needs ``arity`` clean constituents — exact recall for
    d ≤ bands − arity. arity=2 keeps the family's max_hamming=6
    guarantee intact at 8 bands while multiplying the key space by 256."""
    chunk = 64 // bands
    if not 1 <= arity <= bands:
        raise ValueError(f"band arity must be in [1, {bands}], got {arity}")

    def _chunk_key(i: int):
        lo_bit = i * chunk
        src = F.col(lo_col) if lo_bit < 32 else F.col(hi_col)
        return F.shiftright(src, lo_bit % 32).bitwiseAND(F.lit((1 << chunk) - 1))

    from itertools import combinations

    entries = []
    for ci, combo in enumerate(combinations(range(bands), arity)):
        key = _chunk_key(combo[0])
        for b in combo[1:]:
            key = F.shiftleft(key, chunk) + _chunk_key(b)
        entries.append(F.struct(F.lit(ci).alias("band"), key.alias("key")))
    return F.array(*entries)


def _band_key_rows(
    sig: DataFrame, hi_col: str, lo_col: str, bands: int, arity: int = 1
) -> DataFrame:
    """(_id, bk=struct(band, key)) rows — one per (signature, band
    combination); see ``_band_key_structs``."""
    return sig.select(
        F.col("id").alias("_id"),
        F.explode(_band_key_structs(hi_col, lo_col, bands, arity)).alias("bk"),
    )


def banded_hamming_bucket_stats(
    sig: DataFrame, hi_col: str, lo_col: str, bands: int = 8, arity: int = 1
) -> DataFrame:
    """Band-bucket size distribution for a 64-bit fingerprint signature
    table — the ``lsh_band_bucket_stats`` companion for the perceptual
    tiers (VERDICT r13 item 2: no silent caps). ``sig`` is the (id, hi,
    lo) frame ``image_ahash`` / ``audio_fingerprint`` produce.

    Output: (band, bucket_size, n_buckets), counting DISTINCT ids per
    bucket exactly as the pair tier's ``collect_set`` does. A production
    run alerts when max(bucket_size) approaches ``max_bucket_size`` —
    each dropped bucket of b ids silently costs ≤ b·(b−1)/2 candidate
    pairs (the fuzzed bound property in ``tests/test_operators.py``
    pins that every capped loss is accounted by a row here)."""
    if 64 % bands:
        raise ValueError(f"bands must divide 64, got {bands}")
    return (
        _band_key_rows(sig, hi_col, lo_col, bands, arity)
        .groupBy("bk")
        .agg(F.count_distinct("_id").alias("bucket_size"))
        .select(F.col("bk.band").alias("band"), "bucket_size")
        .groupBy("band", "bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
    )


def _bucket_candidate_pairs(ex: DataFrame, max_bucket_size: int) -> DataFrame:
    """Distinct (id_a, id_b), a < b, from (_id, bk) band rows:
    bucket-collect + in-bucket pair expansion (the
    ``minhash_lsh_candidates`` shape — no signature self-join). Buckets
    holding more than ``max_bucket_size`` DISTINCT ids are dropped —
    the cap the ``banded_hamming_bucket_stats`` companion accounts for.
    Shared by the single-fingerprint tail and the video frame tier."""
    buckets = (
        ex.groupBy("bk")
        .agg(F.sort_array(F.collect_set("_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket_size))
    )
    return (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("ids"),
                                i + 2,
                                F.greatest(F.size("ids") - i - 1, F.lit(0)),
                            ),
                            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                        ),
                    )
                )
            ).alias("pair")
        )
        .select("pair.id_a", "pair.id_b")
        .distinct()
    )


def _banded_hamming_pairs(
    sig: DataFrame,
    hi_col: str,
    lo_col: str,
    max_hamming: int,
    bands: int,
    max_bucket_size: int,
    arity: int = 1,
    candidate_shape: str = "collect",
) -> DataFrame:
    """Shared banded-Hamming tail for the 64-bit perceptual fingerprint
    tiers (image aHash, audio energy-sign): ``sig`` is (id, hi, lo) with
    the 64 bits packed into two non-negative 32-bit halves. Staged once
    (``localCheckpoint`` — three consumers: the band explode and both
    verify sides), bucket-collect + in-bucket pair expansion (the
    ``minhash_lsh_candidates`` shape — no signature self-join), 16-byte
    hash fetch by id equi-join, JVM-side ``bit_count`` verification.
    Output: (id_a, id_b, hamming ≤ max_hamming).

    ``candidate_shape='join'`` is the FOURTH-DECADE escape hatch
    (output-identical, pinned): past ~10M signatures the bucket-collect's
    map-side partial ``collect_set`` holds a growing buffer per
    in-flight bucket key — at ~10⁹ distinct keys it OOMs the default
    heap REGARDLESS of shuffle partitioning (measured r14: 20M sigs ×
    56 composite bands walled at 32 AND 512 shuffle partitions). The
    join shape streams a sort-merge self-join on the bucket key after
    anti-joining away capped buckets (both aggregations fixed-width →
    spill-safe), trading the collect shape's single-pass expansion for
    memory-bounded execution."""
    from pyspark.storagelevel import StorageLevel

    if candidate_shape not in ("collect", "join"):
        raise ValueError(
            f"candidate_shape must be 'collect' or 'join', got {candidate_shape!r}"
        )
    sig = sig.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    ex = _band_key_rows(sig, hi_col, lo_col, bands, arity)
    if candidate_shape == "join":
        cands = _bucket_candidate_pairs_join(ex, max_bucket_size)
    else:
        cands = _bucket_candidate_pairs(ex, max_bucket_size)
    ha = sig.select(
        F.col("id").alias("id_a"),
        F.col(hi_col).alias("_hi_a"),
        F.col(lo_col).alias("_lo_a"),
    )
    hb = sig.select(
        F.col("id").alias("id_b"),
        F.col(hi_col).alias("_hi_b"),
        F.col(lo_col).alias("_lo_b"),
    )
    return (
        cands.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.bit_count(F.col("_hi_a").bitwiseXOR(F.col("_hi_b")))
                + F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def _bucket_candidate_pairs_join(ex: DataFrame, max_bucket_size: int) -> DataFrame:
    """The banded tail's memory-bounded candidate generator: oversized
    buckets are removed by an anti-join against a fixed-width count
    aggregate (same cap semantics as ``_bucket_candidate_pairs``), then
    candidates stream out of a sort-merge SELF-JOIN on the bucket key —
    no per-key growing buffers anywhere, so the shape survives decades
    the collect shape's partial ``collect_set`` cannot (PERF.md r14).
    Output-identical to the collect shape (distinct a < b pairs)."""
    over = (
        ex.groupBy("bk")
        .agg(F.count_distinct("_id").alias("_n"))
        .filter(F.col("_n") > max_bucket_size)
        .select("bk")
    )
    exk = ex.join(over, "bk", "left_anti")
    a = exk.select(F.col("_id").alias("id_a"), "bk")
    b = exk.select(F.col("_id").alias("id_b"), "bk")
    return (
        a.join(b, "bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def fake_image_decode(b: bytes) -> tuple[int, int, int]:
    """Default STUB decoder: deterministic (width, height, channels) from
    the payload md5 — stable across runs/engines. Production:
    ``lambda b: (*PIL.Image.open(io.BytesIO(b)).size, len(Image.open(...).getbands()))``."""
    h = hashlib.md5(b).hexdigest()
    width = 1 + int(h[0:4], 16) % 4096
    height = 1 + int(h[4:8], 16) % 4096
    channels = 1 + int(h[8:10], 16) % 4
    return width, height, channels


def decode_image(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    decoder: Callable[[bytes], tuple[int, int, int]] = fake_image_decode,
) -> DataFrame:
    """Image decode → (id, size, md5, width, height, channels).

    STUB DECODER: the container has no image codecs, so width/height/
    channels are a deterministic fake derived from the payload md5 (stable
    across runs and engines). The Spark-side contract — input binary
    column, Arrow batch flow, output schema — is the real one; pass
    ``decoder=`` (e.g. a ``PIL.Image.open(io.BytesIO(b))`` reader) in
    production.
    """
    return _map_payloads(
        df,
        id_col,
        binary_col,
        lambda b: [(len(b), hashlib.md5(b).hexdigest(), *decoder(b))],
        IMAGE_META_SCHEMA,
    )


def fake_frame_extract(b: bytes, every_n_bytes: int, max_frames: int) -> list[str]:
    """Default STUB frame extractor: md5 fingerprints of byte windows at a
    fixed stride. Production: ffmpeg keyframe extraction returning one
    fingerprint (or encoded frame) per keyframe."""
    n = min(max_frames, max(1, len(b) // every_n_bytes))
    return [
        hashlib.md5(b[f * every_n_bytes : (f + 1) * every_n_bytes]).hexdigest()
        for f in range(n)
    ]


def sample_frames(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    every_n_bytes: int = 1024,
    max_frames: int = 8,
    frame_extractor: Callable[[bytes, int, int], list[str]] = fake_frame_extract,
) -> DataFrame:
    """Video frame sampling → one row per sampled frame.

    STUB: "frames" are md5 fingerprints of byte windows at a fixed stride —
    the real implementation replaces the window fingerprint with an ffmpeg
    keyframe extraction, keeping the same explode-shaped output
    (id, frame_index, frame_md5). Output cardinality is bounded by
    ``max_frames`` so the operator's fan-out is predictable at scale.
    """
    return _map_payloads(
        df,
        id_col,
        binary_col,
        lambda b: enumerate(frame_extractor(b, every_n_bytes, max_frames)),
        "id long, frame_index int, frame_md5 string",
    )


def fake_resize(b: bytes, w: int, h: int) -> bytes:
    """Default STUB resizer: stable fingerprint of (payload, target box).
    Production: ``PIL.Image.thumbnail((w, h))`` + re-encode."""
    return hashlib.md5(b + f":{w}x{h}".encode()).digest()


def resize_image(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    target_w: int,
    target_h: int,
    decoder: Callable[[bytes], tuple[int, int, int]] = fake_image_decode,
    resizer: Callable[[bytes, int, int], bytes] = fake_resize,
) -> DataFrame:
    """Image resize → (id, width, height, payload) at the target box,
    preserving aspect ratio (fit-inside, never upscale).

    STUB RESIZER by default: source dims come from ``fake_image_decode``
    and the output payload is a stable fingerprint of (source bytes, fit
    box) — pass ``decoder=``/``resizer=`` to swap in ``PIL.Image.open`` /
    ``Image.thumbnail`` + re-encode. The fit-inside arithmetic, Arrow
    batch flow, and binary-out schema are the real contract; output
    payloads stay bounded by the target box, which is what keeps the
    operator's shuffle volume predictable when resizing billions of images.
    """

    def _fit(w: int, h: int) -> tuple[int, int]:
        scale = min(target_w / w, target_h / h, 1.0)
        return max(1, int(w * scale)), max(1, int(h * scale))

    def _resize(b: bytes) -> list[tuple[int, int, bytes]]:
        w, h = _fit(*decoder(b)[:2])
        return [(w, h, resizer(b, w, h))]

    return _map_payloads(
        df, id_col, binary_col, _resize, "id long, width int, height int, payload binary"
    )


def extract_audio_features(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    extractor: Callable[[bytes], tuple[float, int, float]] | None = None,
) -> DataFrame:
    """Audio feature extraction → (id, duration_s, sample_rate, rms).

    Default STUB: raises NotImplementedError at execution time — decoding
    compressed audio (mp3/ogg/flac) needs codecs absent from this
    container. Pass ``extractor=stdlib_wav_features`` for the REAL
    stdlib-only PCM16 WAV path (header walk + RMS over samples), or a
    soundfile/torchaudio-backed callable on a cluster that has them; the
    Arrow flow and schema are identical either way.
    """
    extract = extractor or _no_audio_codec
    return _map_payloads(
        df,
        id_col,
        binary_col,
        lambda b: [extract(b)],
        "id long, duration_s double, sample_rate int, rms double",
    )


def _no_audio_codec(b: bytes) -> tuple[float, int, float]:
    raise NotImplementedError(
        "audio decode requires soundfile/torchaudio; not available in this "
        "environment (extractor=stdlib_wav_features handles PCM16 WAV)"
    )


def stdlib_wav_samples(b: bytes) -> tuple[int, int, list[int]]:
    """REAL sample decode for PCM16 RIFF/WAVE — stdlib only: walks the
    chunk stream and unpacks the raw int16 samples. Returns
    (sample_rate, channels, samples). Raises on non-WAV / non-PCM16
    payloads (decodes the real format or refuses — never fakes);
    compressed codecs (mp3/ogg/flac) keep the honest stub."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, rate, nch, bits, data = 12, None, 1, 16, None
    while i + 8 <= len(b):
        cid, ln = b[i : i + 4], struct.unpack("<I", b[i + 4 : i + 8])[0]
        body = b[i + 8 : i + 8 + ln]
        if cid == b"fmt ":
            _, nch, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
        elif cid == b"data":
            data = body
        i += 8 + ln + (ln & 1)
    if rate is None or data is None or bits != 16:
        raise ValueError("missing fmt/data chunk or non-PCM16 WAV")
    n = len(data) // 2
    return int(rate), int(nch), list(struct.unpack("<%dh" % n, data[: n * 2]))


def audio_sign_bits(samples: list[int], frames: int = 64) -> list[int]:
    """Energy-delta-sign audio fingerprint bits — pure integer
    arithmetic (the house oracle discipline): partition the samples
    into ``frames`` equal frames (length must divide evenly), take
    integer frame energies ``e_f = Σ|s|``, and set bit ``f`` iff
    ``e_{(f+1) mod frames} > e_f`` — the circular energy-contour shape
    (the Haitsma-Kalker / Chromaprint family's core idea reduced to one
    band). Invariant under uniform POSITIVE GAIN (every energy scales
    by the same factor, strict inequalities are preserved) and under
    container-level re-encoding (it reads samples, not bytes)."""
    n = len(samples)
    if n == 0 or n % frames:
        raise ValueError(
            f"audio_sign_bits: {n} samples not divisible into {frames} frames"
        )
    import numpy as np

    fl = n // frames
    # exact-integer frame energies, vectorized (r14, guide §4.2): one
    # C abs + reshape-sum pass — identical int64 energies to the former
    # per-sample Python generator
    arr = np.abs(np.asarray(samples, dtype=np.int64)).reshape(frames, fl)
    e = arr.sum(axis=1)
    nxt = np.roll(e, -1)
    return [1 if b else 0 for b in nxt > e]


def audio_fingerprint(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    frames: int = 64,
    decoder: Callable[[bytes], tuple[int, int, list[int]]] = stdlib_wav_samples,
) -> DataFrame:
    """Per-clip audio fingerprint → (id, afp_hi, afp_lo): the 64
    energy-sign bits packed by :func:`_pack64`. ``decoder`` is the
    injectable codec seam (``stdlib_wav_samples`` is REAL for PCM16 WAV;
    swap ffmpeg/torchaudio for compressed codecs)."""
    return _map_payloads(
        df,
        id_col,
        binary_col,
        lambda b: [_pack64(audio_sign_bits(decoder(b)[2], frames))],
        "id long, afp_hi long, afp_lo long",
    )


def audio_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    max_hamming: int = 6,
    bands: int = 8,
    frames: int = 64,
    max_bucket_size: int = 10_000,
    decoder: Callable[[bytes], tuple[int, int, list[int]]] = stdlib_wav_samples,
    band_arity: int | str = 1,
    n_docs: int | None = None,
    candidate_shape: str = "collect",
) -> DataFrame:
    """Content-level near-duplicate audio pairs: energy-sign fingerprint
    (``audio_fingerprint``) + the SHARED banded Hamming tail
    (``_banded_hamming_pairs`` — exact recall for ``max_hamming ≤
    bands − 1`` by pigeonhole, bucket-collect candidates, equi-join
    verification). Catches gain-scaled copies (energy ordering is
    scale-invariant) and container re-encodes that byte-level md5 dedup
    misses. Output: (id_a, id_b, hamming)."""
    if 64 % bands:
        raise ValueError(f"bands must divide 64, got {bands}")
    band_arity = _resolve_band_arity(
        "audio_near_dup_pairs", band_arity, n_docs, df.count, max_hamming, bands
    )
    sig = audio_fingerprint(df, id_col, binary_col, frames=frames, decoder=decoder)
    return _banded_hamming_pairs(
        sig, "afp_hi", "afp_lo", max_hamming, bands, max_bucket_size,
        arity=band_arity, candidate_shape=candidate_shape,
    )


def pattern_samples(
    doc_id: int,
    frames: int = 64,
    frame_len: int = 64,
    keys: int = 199,
    gains: int = 3,
) -> list[int]:
    """Deterministic frame-constant PCM16 samples as a PURE integer
    function of the id — the audio twin of :func:`pattern_pixels`:

    - content key ``k = id % keys``: ids sharing ``k`` get the same
      base energy contour — the planted near-duplicate groups;
    - base frame value
      ``v(f) = ((k+1)·(f²+3f+7)·53 + (k+7)·(f+11)·17) % 4001`` — the
      quadratic term scatters the wrap points so different keys'
      sign contours stay ≥ 13 bits apart (an arithmetic progression
      per key made most bits 1 and keys nearly collide — measured
      min inter-key Hamming 5 under the linear form, 13 quadratic);
    - uniform GAIN ``1 + (id div keys) % gains`` multiplies every
      sample — the change the energy-sign fingerprint is invariant to;
    - sparse noise: ids with ``id % 3 == 0`` get ``+2000`` on frame
      ``id % frames`` (pre-gain) — a local edit perturbing a couple of
      sign bits while same-key clips stay within a small Hamming
      distance.

    Max sample = (4000 + 2000) · gains ≤ 18000 < 32767: no clipping, so
    an external oracle reproduces every frame energy arithmetically."""
    import numpy as np

    k = doc_id % keys
    gain = 1 + (doc_id // keys) % gains
    noise_f = doc_id % frames if doc_id % 3 == 0 else -1
    f = np.arange(frames, dtype=np.int64)
    v = ((k + 1) * (f * f + 3 * f + 7) * 53 + (k + 7) * (f + 11) * 17) % 4001
    if noise_f >= 0:
        v[noise_f] += 2000
    return np.repeat(v * gain, frame_len).tolist()


def _attach_from_id(
    df: DataFrame, id_col: str, out_col: str, make: Callable[[int], bytes]
) -> DataFrame:
    """``df`` plus ``out_col = make(id)``: the one Arrow-batched UDF the
    id-derivable payload attachers share."""

    @F.pandas_udf("binary")
    def _make(ids: pd.Series) -> pd.Series:
        return ids.map(lambda x: make(int(x)))

    return df.withColumn(out_col, _make(F.col(id_col)))


def attach_pattern_wav(
    df: DataFrame,
    id_col: str,
    out_col: str = "wav_payload",
    frames: int = 64,
    frame_len: int = 64,
    keys: int = 199,
    gains: int = 3,
) -> DataFrame:
    """Attach a REAL PCM16 WAV whose samples are the id-derivable
    :func:`pattern_samples` contour: same-key ids carry byte-DIFFERENT
    payloads (the gain multiplies every sample) with the SAME energy
    ordering — the content-vs-bytes distinction the audio dedup tier
    exists for."""
    return _attach_from_id(
        df,
        id_col,
        out_col,
        lambda x: synth_wav(pattern_samples(x, frames, frame_len, keys, gains)),
    )


def pattern_pixels(
    doc_id: int,
    size: int = 32,
    grid: int = 8,
    keys: int = 7,
    levels: int = 5,
) -> bytes:
    """Deterministic block-constant grayscale pixels as a PURE integer
    function of the id — the device that makes a pixel-level oracle
    possible (the ``attach_synth_png`` id-derivable-dims trick, extended
    from header to content):

    - content key ``k = id % keys``: ids sharing ``k`` get the same base
      pattern — the planted near-duplicate groups;
    - base block value ``v(blk) = ((k+1)·(blk+3)·37) % 160`` for block
      ``blk = by·grid + bx`` (constant within each block, so block means
      are exact integers);
    - uniform brightness shift ``(id div keys) % levels`` — the additive
      change the average hash must be invariant to;
    - sparse noise: ids with ``id % 3 == 0`` get ``+64`` on the single
      block ``id % grid²`` — a local edit that perturbs a few hash bits
      but keeps same-key images within a small Hamming distance.

    All values stay ≤ 160+levels+64 < 255: no clipping, so the external
    oracle reproduces every pixel arithmetically."""
    import numpy as np

    n_blocks = grid * grid
    k = doc_id % keys
    bright = (doc_id // keys) % levels
    noise_blk = doc_id % n_blocks if doc_id % 3 == 0 else -1
    bw = size // grid
    blk = np.arange(n_blocks, dtype=np.int64)
    vals = ((k + 1) * (blk + 3) * 37) % 160 + bright
    if noise_blk >= 0:
        vals[noise_blk] += 64
    # expand the grid×grid block values to the pixel grid in two C
    # repeats (r14, guide §4.2) — same bytes as the per-pixel loop
    px = np.repeat(
        np.repeat(vals.reshape(grid, grid).astype(np.uint8), bw, axis=0),
        bw,
        axis=1,
    )
    return px.tobytes()


def attach_pattern_png(
    df: DataFrame,
    id_col: str,
    out_col: str = "png_payload",
    size: int = 32,
    grid: int = 8,
    keys: int = 7,
    levels: int = 5,
) -> DataFrame:
    """Attach a REAL grayscale PNG whose pixel content is the
    id-derivable :func:`pattern_pixels` pattern, re-encoded under a
    varying scanline filter (``id % 3`` → None/Sub/Up): same-pattern ids
    carry byte-DIFFERENT payloads, so any pair the pixel-level dedup
    finds is invisible to md5 — the content-vs-bytes distinction the
    operator exists for."""
    return _attach_from_id(
        df,
        id_col,
        out_col,
        lambda x: synth_png_gray(
            size, size, pattern_pixels(x, size, grid, keys, levels), filter_type=x % 3
        ),
    )


def attach_text_payload(df: DataFrame, text_col: str, out_col: str = "payload") -> DataFrame:
    """Helper: materialize a binary column from text (UTF-8) for testing the
    binary plumbing without real media files."""
    return df.withColumn(out_col, F.encode(F.col(text_col), "UTF-8"))


def attach_synth_png(
    df: DataFrame, id_col: str, out_col: str = "png_payload", mod: int = 512
) -> DataFrame:
    """Attach a REAL synthesized PNG payload whose dimensions are a pure
    function of the id (width = 1 + id % mod, height = 1 + 7·id % mod) —
    the id-derivable dims let an external oracle predict what a genuine
    header decode must return, turning the synthesize→parse round trip
    into a checkable contract."""
    return _attach_from_id(
        df, id_col, out_col, lambda x: synth_png(1 + x % mod, 1 + (x * 7) % mod)
    )


# ------------------------------------------------------------ video tier
#
# Content-level video dedup (VERDICT r13 item 6): a video is a frame
# SEQUENCE, so its content identity is set-like — re-encoding, brightness
# grading, and frame-offset (rotation) edits all preserve some frame's
# pixels while changing every byte. The tier composes the proven pieces:
# per sampled frame the image aHash, pairs by the shared banded tail over
# FRAME signatures (a video pair is a candidate when ANY frame pair
# shares a band), verified to the MIN cross-frame Hamming distance —
# exact recall for min-distance ≤ bands−1 by the same pigeonhole, lifted
# through the min.
#
# Container: the sandbox has no compressed-video codec (the documented
# env-blocked seam, ``decode_image``'s sibling), so the REAL end-to-end
# path runs on "SVID" — a trivial uncompressed container of PNG frames
# (magic + count + length-prefixed payloads). The parser seam is
# injectable exactly like the image/audio decoders: production swaps
# ffmpeg keyframe extraction, everything downstream is unchanged.

VIDEO_MAGIC = b"SVID"


def synth_video(frames: list[bytes]) -> bytes:
    """Pack encoded frames into the SVID container: magic, u32be frame
    count, then length-prefixed frame payloads."""
    import struct

    out = [VIDEO_MAGIC, struct.pack(">I", len(frames))]
    for fr in frames:
        out.append(struct.pack(">I", len(fr)))
        out.append(fr)
    return b"".join(out)


def parse_video_frames(b: bytes) -> list[bytes]:
    """Unpack an SVID container into its frame payloads (the injectable
    frame-extraction seam — swap ffmpeg keyframe extraction for
    compressed containers)."""
    import struct

    if b[:4] != VIDEO_MAGIC:
        raise ValueError("parse_video_frames: not an SVID container")
    (n,) = struct.unpack(">I", b[4:8])
    off, frames = 8, []
    for _ in range(n):
        (ln,) = struct.unpack(">I", b[off : off + 4])
        off += 4
        frames.append(bytes(b[off : off + ln]))
        off += ln
    return frames


def video_frame_ahash(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    grid: int = 8,
    frame_parser: Callable[[bytes], list[bytes]] = parse_video_frames,
    decoder: Callable[[bytes], tuple[int, int, bytes]] = stdlib_png_pixel_decode,
) -> DataFrame:
    """Per-frame perceptual hash → (id, frame_index, ahash_hi, ahash_lo):
    one Arrow pass parses the container, decodes each frame, and hashes
    it with the image tier's integer aHash packing."""

    def _frames(b: bytes) -> Iterator[tuple[int, int, int]]:
        for f, fr in enumerate(frame_parser(b)):
            w, h, px = decoder(fr)
            yield (f, *_pack64(ahash_bits(px, w, h, grid)))

    return _map_payloads(
        df,
        id_col,
        binary_col,
        _frames,
        "id long, frame_index int, ahash_hi long, ahash_lo long",
    )


def video_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    max_hamming: int = 6,
    bands: int = 8,
    grid: int = 8,
    max_bucket_size: int = 10_000,
    frame_parser: Callable[[bytes], list[bytes]] = parse_video_frames,
    decoder: Callable[[bytes], tuple[int, int, bytes]] = stdlib_png_pixel_decode,
    band_arity: int | str = 1,
    n_frames: int | None = None,
) -> DataFrame:
    """Content-level near-duplicate video pairs: per-frame aHash + the
    banded tail over FRAME signatures, verified to the MIN cross-frame
    Hamming distance. Catches re-encoded, brightness-graded, and
    frame-rotated copies (any matching frame pair suffices — the
    sequence offset never matters). Output: (id_a, id_b, hamming =
    min over frame pairs, ≤ max_hamming).

    Recall: a pair with min cross-frame distance d ≤ bands−1 has that
    frame pair agreeing on some band chunk (pigeonhole), so the videos
    share a bucket — EXACT recall through the min. Plan shape: the
    frame-signature table is staged once (three consumers), candidates
    come from bucket-collect over (band, key) with DISTINCT video ids
    (a video's own frames never pair it with itself), and verification
    joins each side's per-video frame-hash ARRAY — the cross-distance
    matrix (≤ frames² per pair, frames is small by contract) is
    evaluated JVM-side inside one projection, never exchanged."""
    from pyspark.storagelevel import StorageLevel

    if 64 % bands:
        raise ValueError(f"bands must divide 64, got {bands}")
    # auto arity buckets FRAME signatures, so occupancy scales with
    # videos × sampled frames: pass n_frames for the exact count; the
    # container-count probe fallback is a LOWER bound — conservative
    # toward lower arity, never recall-affecting (the clamp binds both)
    band_arity = _resolve_band_arity(
        "video_near_dup_pairs", band_arity, n_frames, df.count, max_hamming, bands
    )
    fsig = video_frame_ahash(
        df, id_col, binary_col, grid=grid,
        frame_parser=frame_parser, decoder=decoder,
    ).localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    ex = fsig.select(
        F.col("id").alias("_id"),
        F.explode(
            _band_key_structs("ahash_hi", "ahash_lo", bands, band_arity)
        ).alias("bk"),
    )
    cands = _bucket_candidate_pairs(ex, max_bucket_size)
    harr = fsig.groupBy("id").agg(
        F.collect_list(F.struct("ahash_hi", "ahash_lo")).alias("hs")
    )
    ha = harr.select(F.col("id").alias("id_a"), F.col("hs").alias("_ha"))
    hb = harr.select(F.col("id").alias("id_b"), F.col("hs").alias("_hb"))
    cross_min = F.array_min(
        F.flatten(
            F.transform(
                F.col("_ha"),
                lambda x: F.transform(
                    F.col("_hb"),
                    lambda y: F.bit_count(
                        x["ahash_hi"].bitwiseXOR(y["ahash_hi"])
                    )
                    + F.bit_count(x["ahash_lo"].bitwiseXOR(y["ahash_lo"])),
                ),
            )
        )
    )
    return (
        cands.join(ha, "id_a")
        .join(hb, "id_b")
        .select("id_a", "id_b", cross_min.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


VIDEO_PATTERN_P = 181  # prime modulus of the frame-pattern values; the
# frame-key space (keys · n_frames) must stay ≤ it — every arithmetic
# expression mod p is PERIODIC in the key with period p, so a larger key
# space would alias distinct groups onto identical patterns (the audio
# fixture lesson, taken one step further: scatter AND bound the domain)


def pattern_video_pixels(
    video_id: int,
    frame: int,
    size: int = 32,
    grid: int = 8,
    n_frames: int = 4,
    keys: int = 45,
    levels: int = 5,
) -> bytes:
    """Deterministic block-constant pixels for frame ``frame`` of video
    ``video_id`` — a PURE integer function of (id, frame), the
    :func:`pattern_pixels` device lifted to sequences:

    - content key ``k = id % keys``: same-k videos carry the same frame
      CONTENTS — the planted near-duplicate groups;
    - frame ROTATION ``rot = (id div keys) % n_frames``: group members
      play the shared frames in rotated order, so only cross-index
      matching (the min semantics) can pair them;
    - frame key ``kf = k·n_frames + (frame + rot) % n_frames`` with
      block value ``((kf² + 3·kf + 7)·(blk² + 3·blk + 11)·53
      + (kf + 7)·(blk + 13)·17) mod 181`` — quadratic scatter in BOTH
      kf and blk (linear patterns nearly collide across keys: the r13
      audio-fixture lesson);
    - uniform brightness ``(id div (keys·n_frames)) % levels`` — hash-
      invariant by construction;
    - sparse noise: ids with ``id % 3 == 0`` get ``+64`` on block
      ``(id + frame) % grid²`` of EVERY frame, so a noisy↔clean
      same-group pair has a small but NONZERO min distance — the oracle
      must reproduce the actual min arithmetic, not just find zeros.

    Values stay ≤ 180 + levels + 64 < 255: no clipping."""
    import numpy as np

    n_blocks = grid * grid
    k = video_id % keys
    rot = (video_id // keys) % n_frames
    bright = (video_id // (keys * n_frames)) % levels
    kf = k * n_frames + (frame + rot) % n_frames
    noise_blk = (video_id + frame) % n_blocks if video_id % 3 == 0 else -1
    bw = size // grid
    blk = np.arange(n_blocks, dtype=np.int64)
    vals = (
        (kf * kf + 3 * kf + 7) * (blk * blk + 3 * blk + 11) * 53
        + (kf + 7) * (blk + 13) * 17
    ) % VIDEO_PATTERN_P + bright
    if noise_blk >= 0:
        vals[noise_blk] += 64
    px = np.repeat(
        np.repeat(vals.reshape(grid, grid).astype(np.uint8), bw, axis=0),
        bw,
        axis=1,
    )
    return px.tobytes()


def attach_pattern_video(
    df: DataFrame,
    id_col: str,
    out_col: str = "video_payload",
    size: int = 32,
    grid: int = 8,
    n_frames: int = 4,
    keys: int = 45,
    levels: int = 5,
) -> DataFrame:
    """Attach a REAL SVID container of grayscale-PNG frames carrying the
    id-derivable :func:`pattern_video_pixels` sequence, each frame
    re-encoded under a varying scanline filter (``(id + frame) % 3``):
    same-group videos are byte-different everywhere — rotated frame
    order, shifted brightness, different filters — yet min-Hamming 0 or
    near-0 in content."""
    return _attach_from_id(
        df,
        id_col,
        out_col,
        lambda x: synth_video(
            [
                synth_png_gray(
                    size,
                    size,
                    pattern_video_pixels(x, f, size, grid, n_frames, keys, levels),
                    filter_type=(x + f) % 3,
                )
                for f in range(n_frames)
            ]
        ),
    )


# --------------------------------------------------------------------------
# shared media-index core — the batch DAG models (models_corpus) and the
# streaming twin (streaming/media.py) both run these, so they cannot drift


def media_signatures(
    df: DataFrame,
    id_col: str = "media_id",
    kind_col: str = "kind",
    payload_col: str = "payload",
) -> DataFrame:
    """(media_id, kind, frame_index, fp_hi, fp_lo): the 64-bit content
    fingerprint rows of a mixed-modality media table — image aHash
    (stdlib PNG pixel decode) for kind='image', gain-invariant
    energy-sign bits (PCM16 WAV decode) for kind='audio', PER-FRAME
    aHash for kind='video' (a video is a SET of frame fingerprints;
    single-fingerprint kinds carry frame_index 0). One Arrow pass per
    modality; kinds the input lacks cost nothing."""
    src = df.select(
        F.col(id_col).alias("media_id"),
        F.col(kind_col).alias("kind"),
        F.col(payload_col).alias("payload"),
    )
    img = image_ahash(
        src.filter(F.col("kind") == "image"), "media_id", "payload"
    ).select(
        F.col("id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit(0).alias("frame_index"),
        F.col("ahash_hi").alias("fp_hi"),
        F.col("ahash_lo").alias("fp_lo"),
    )
    aud = audio_fingerprint(
        src.filter(F.col("kind") == "audio"), "media_id", "payload"
    ).select(
        F.col("id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.lit(0).alias("frame_index"),
        F.col("afp_hi").alias("fp_hi"),
        F.col("afp_lo").alias("fp_lo"),
    )
    vid = video_frame_ahash(
        src.filter(F.col("kind") == "video"), "media_id", "payload"
    ).select(
        F.col("id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.col("frame_index").cast("integer").alias("frame_index"),
        F.col("ahash_hi").alias("fp_hi"),
        F.col("ahash_lo").alias("fp_lo"),
    )
    return img.unionByName(aud).unionByName(vid)


def media_index_rows(
    sig: DataFrame, bands: int = 8, arity: int = 1
) -> DataFrame:
    """Signature rows → persisted-index band rows: one row per
    (payload frame, band combination) carrying the bucket key AND the
    full packed fingerprint, banded through the family's single
    ``_band_key_structs`` arithmetic (the pair tiers, the monitoring
    companion, and both index twins bucket identically by
    construction)."""
    return sig.select(
        "media_id",
        "kind",
        "frame_index",
        "fp_hi",
        "fp_lo",
        F.explode(_band_key_structs("fp_hi", "fp_lo", bands, arity)).alias("bk"),
    ).select(
        "media_id",
        "kind",
        "frame_index",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("band_key"),
        "fp_hi",
        "fp_lo",
    )


def media_neardup_pairs_from_index(
    new: DataFrame, idx: DataFrame, max_hamming: int = 6
) -> DataFrame:
    """Near-duplicate (id_a, id_b, hamming) pairs of NEW index rows
    against the accumulated index (both in the ``media_index_rows``
    layout) — the shared verification core of the incremental DAG model
    and the streaming sink. Single-fingerprint kinds verify inline with
    JVM bit_count over the fingerprints both sides of the (kind, band,
    band_key) match already carry; video pairs — MIN over ALL
    cross-frame pairs, not just the banded ones — re-join candidate ids
    against the index's distinct frame fingerprints (frames² per
    candidate, frames small by contract, all equi-joins). No payload is
    touched: incremental completeness lifts through frames because
    every frame of a payload enters the index in that payload's run.

    Scale shape (new ≪ idx, the incremental premise): the accumulated
    index is NEVER shuffled wholesale — it is semi-join-prefiltered by
    a BROADCAST of the new side's distinct (kind, band, band_key) keys
    (batch-bounded; the ``stream_dedup_ingest`` broadcast-probe
    discipline), so the rows reaching the candidate join are bounded by
    the batch's bucket occupancy; likewise the video frame-fingerprint
    re-join reads only candidate ids' frames via a broadcast semi
    filter, never the full video index."""
    new_keys = new.select("kind", "band", "band_key").distinct()
    idx_hit = idx.join(
        F.broadcast(new_keys), ["kind", "band", "band_key"], "left_semi"
    )
    band_match = (
        (F.col("n.kind") == F.col("i.kind"))
        & (F.col("n.band") == F.col("i.band"))
        & (F.col("n.band_key") == F.col("i.band_key"))
        & (F.col("n.media_id") != F.col("i.media_id"))
    )
    single = (
        new.filter(F.col("kind") != "video")
        .alias("n")
        .join(idx_hit.alias("i"), band_match)
        .select(
            F.least("n.media_id", "i.media_id").alias("id_a"),
            F.greatest("n.media_id", "i.media_id").alias("id_b"),
            (
                F.bit_count(F.col("n.fp_hi").bitwiseXOR(F.col("i.fp_hi")))
                + F.bit_count(F.col("n.fp_lo").bitwiseXOR(F.col("i.fp_lo")))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    vcand = (
        new.filter(F.col("kind") == "video")
        .alias("n")
        .join(idx_hit.alias("i"), band_match)
        .select(
            F.least("n.media_id", "i.media_id").alias("id_a"),
            F.greatest("n.media_id", "i.media_id").alias("id_b"),
        )
        .distinct()
    )
    cand_ids = vcand.select(F.col("id_a").alias("media_id")).unionByName(
        vcand.select(F.col("id_b").alias("media_id"))
    ).distinct()
    vframes = (
        idx.filter(F.col("kind") == "video")
        .join(F.broadcast(cand_ids), "media_id", "left_semi")
        .select("media_id", "frame_index", "fp_hi", "fp_lo")
        .distinct()
    )
    video = (
        vcand.join(
            vframes.select(
                F.col("media_id").alias("id_a"),
                F.col("fp_hi").alias("_a_hi"),
                F.col("fp_lo").alias("_a_lo"),
            ),
            "id_a",
        )
        .join(
            vframes.select(
                F.col("media_id").alias("id_b"),
                F.col("fp_hi").alias("_b_hi"),
                F.col("fp_lo").alias("_b_lo"),
            ),
            "id_b",
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min(
                F.bit_count(F.col("_a_hi").bitwiseXOR(F.col("_b_hi")))
                + F.bit_count(F.col("_a_lo").bitwiseXOR(F.col("_b_lo")))
            ).alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return single.unionByName(video)


# --------------------------------------------------------------------------
# Hamming top-k search (multi-index Hamming search over 64-bit codes)


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    hi_col: str,
    lo_col: str,
    k: int = 10,
    max_hamming: int = 6,
    bands: int = 8,
    arity: int = 1,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """RADIUS-LIMITED exact top-k by Hamming distance over 64-bit
    binary codes — perceptual similarity SEARCH (the dedup family's
    retrieval sibling; multi-index Hamming search, Norouzi et al.'s
    MIH reduced to the repo's shared banding): for each query
    signature, every corpus signature within Hamming ≤ ``max_hamming``
    ranked by (hamming, id), top ``k`` per query. EXACT within the
    radius for ``max_hamming ≤ bands − arity`` by the same pigeonhole
    as the pair tiers — candidates are the corpus rows sharing any
    band bucket with the query, verified by JVM bit_count; a query
    drawn from the corpus retrieves itself at distance 0 (rank 1 by
    the id tie-break).

    Plan shape: corpus and query band rows meet in a (band, key)
    equi-join (both staged once); verification fetches the two packed
    fingerprints by id equi-join; the grouped ``topk`` ranks each
    query's verified CANDIDATES only — no window, no corpus-wide sort.
    Corpus buckets past ``max_bucket_size`` are dropped (the
    ``banded_hamming_bucket_stats`` companion accounts for the loss).
    Output: (query_id, id, hamming, rank)."""
    from pyspark.storagelevel import StorageLevel

    if 64 % bands:
        raise ValueError(f"bands must divide 64, got {bands}")
    if max_hamming > bands - arity:
        import warnings

        warnings.warn(
            f"hamming_topk: max_hamming={max_hamming} exceeds the "
            f"banding recall guarantee (≤ {bands - arity} for {bands} "
            f"bands at arity {arity}) — neighbors beyond it may be "
            "missed",
            stacklevel=2,
        )
    corpus = corpus.localCheckpoint(
        eager=False, storageLevel=StorageLevel.DISK_ONLY
    )
    queries = queries.localCheckpoint(
        eager=False, storageLevel=StorageLevel.DISK_ONLY
    )
    cb = _band_key_rows(corpus, hi_col, lo_col, bands, arity)
    qb = _band_key_rows(queries, hi_col, lo_col, bands, arity)
    # cap oversized CORPUS buckets (bucket size = distinct corpus ids),
    # mirroring the pair tiers' cap semantics
    ok = (
        cb.groupBy("bk")
        .agg(F.count_distinct("_id").alias("_n"))
        .filter(F.col("_n") <= max_bucket_size)
        .select("bk")
    )
    cands = (
        qb.join(ok, "bk")
        .select(F.col("_id").alias("query_id"), "bk")
        .join(
            cb.select(F.col("_id").alias("id"), "bk"), "bk"
        )
        .select("query_id", "id")
        .distinct()
    )
    qf = queries.select(
        F.col("id").alias("query_id"),
        F.col(hi_col).alias("_q_hi"),
        F.col(lo_col).alias("_q_lo"),
    )
    cf = corpus.select(
        "id", F.col(hi_col).alias("_c_hi"), F.col(lo_col).alias("_c_lo")
    )
    verified = (
        cands.join(qf, "query_id")
        .join(cf, "id")
        .select(
            "query_id",
            "id",
            (
                F.bit_count(F.col("_q_hi").bitwiseXOR(F.col("_c_hi")))
                + F.bit_count(F.col("_q_lo").bitwiseXOR(F.col("_c_lo")))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return topk(verified, k, "hamming", "id", by=["query_id"], ascending=True)


def image_hamming_topk(
    df_corpus: DataFrame,
    df_query: DataFrame,
    id_col: str,
    binary_col: str,
    k: int = 10,
    max_hamming: int = 6,
    bands: int = 8,
    grid: int = 8,
    max_bucket_size: int = 10_000,
    decoder: Callable[[bytes], tuple[int, int, bytes]] = stdlib_png_pixel_decode,
    band_arity: int = 1,
) -> DataFrame:
    """Perceptual image search: ``hamming_topk`` over the aHash
    signatures of a corpus and a query set (each decoded once —
    reverse-image-search by content, robust to re-encoding and uniform
    brightness shifts exactly as the dedup tier is). Output:
    (query_id, id, hamming, rank)."""
    return hamming_topk(
        image_ahash(df_corpus, id_col, binary_col, grid=grid, decoder=decoder),
        image_ahash(df_query, id_col, binary_col, grid=grid, decoder=decoder),
        "ahash_hi",
        "ahash_lo",
        k,
        max_hamming,
        bands,
        band_arity,
        max_bucket_size,
    )
