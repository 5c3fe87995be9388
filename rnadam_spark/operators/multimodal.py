"""Multimodal (image/audio/video) column plumbing.

Media ride as opaque ``binary`` columns with typed metadata; decode /
feature-extraction / resize / frame-sampling run as Arrow-batched
Pandas functions over ``mapInPandas`` (SURVEY.md §2.7 north star).
Decode is three-tiered, per function: (1) REAL pure-stdlib+numpy
decoders for the uncompressed containers — 24-bit BMP pixel decode and
RIFF/WAV PCM decode (8/16-bit, channels mono-averaged) — are always
available and carry the pixel/sample-exact tests; (2) PIL handles other
image containers when installed; (3) everything else falls to a
clearly-marked DETERMINISTIC FAKE (content-hash-seeded), kept only so
the Spark-side plumbing — schema, partitioning, UDF signatures, batch
iteration — stays exercised in containers without codec libraries.
Tests that assert real decode run on tiers 1–2 only.

Scale notes: binary payloads dominate row size, so asset tables should
be written with small ``maxRecordsPerFile`` / row-group targets;
``mapInPandas`` streams Arrow batches, keeping peak memory to one batch
of payloads per task, and decode parallelism is just partition count.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ASSETS = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("data", T.BinaryType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

DECODED = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

FEATURES = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), False),
    ]
)

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Build a real binary-column asset table from the documents table
    (UTF-8 payloads) — exercises the exact plumbing media would use."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("data"),
        F.create_map(F.lit("source"), F.col("source"), F.lit("lang"), F.col("lang")).alias(
            "meta"
        ),
    )


def _bmp_dims(payload: bytes) -> tuple[int, int] | None:
    """REAL decode for one format: BMP headers are parseable with the
    stdlib alone — 'BM' magic, then the BITMAPINFOHEADER carries
    int32-LE width at byte 18 and height at byte 22 (negative height =
    top-down row order; dimension is its magnitude). Returns None for
    non-BMP payloads."""
    import struct

    if len(payload) < 26 or payload[:2] != b"BM":
        return None
    width, height = struct.unpack_from("<ii", payload, 18)
    return abs(width), abs(height)


def _png_dims(payload: bytes) -> tuple[int, int] | None:
    """REAL PNG dimension decode with the stdlib: 8-byte signature,
    then the IHDR chunk is required first — width/height are big-endian
    uint32 at bytes 16 and 20."""
    import struct

    if len(payload) < 24 or payload[:8] != b"\x89PNG\r\n\x1a\n" or payload[12:16] != b"IHDR":
        return None
    width, height = struct.unpack_from(">II", payload, 16)
    return width, height


def _gif_dims(payload: bytes) -> tuple[int, int] | None:
    """REAL GIF dimension decode with the stdlib: 'GIF87a'/'GIF89a'
    magic, then logical-screen width/height as little-endian uint16."""
    import struct

    if len(payload) < 10 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    width, height = struct.unpack_from("<HH", payload, 6)
    return width, height


def _fake_decode_dims(payload: bytes) -> tuple[int, int]:
    """DETERMINISTIC FAKE decoder (no codecs in this container): derives
    pseudo-dimensions from payload bytes. Used only when neither the
    stdlib BMP parse nor PIL can decode — the Spark-side contract is
    identical."""
    h = sum(payload[:16]) if payload else 0
    return 16 + h % 64, 16 + (h // 64) % 64


def _pil_dims(payload: bytes) -> tuple[int, int] | None:
    """Real decode via PIL when the codec library is present (PNG/JPEG/
    GIF/...); None when PIL is absent or the payload isn't an image it
    recognizes."""
    if not HAVE_PIL:
        return None
    import io

    from PIL import Image

    try:
        with Image.open(io.BytesIO(payload)) as im:
            return int(im.width), int(im.height)
    except Exception:
        return None


def _decode_dims(payload: bytes) -> tuple[int, int]:
    """Real decode first (stdlib BMP/PNG/GIF header parses, then PIL if
    installed for everything else); clearly-marked deterministic fake
    only as the last resort."""
    return (
        _bmp_dims(payload)
        or _png_dims(payload)
        or _gif_dims(payload)
        or _pil_dims(payload)
        or _fake_decode_dims(payload)
    )


def decode_assets(assets: DataFrame) -> DataFrame:
    """Decode step over ``mapInPandas``: Arrow batches in, decoded
    metadata out. BMP payloads decode for real (stdlib header parse);
    other formats decode via PIL when it is installed, else fall back
    to the marked deterministic fake."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = pdf["data"].map(_decode_dims)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["data"].map(len).astype("int64"),
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                }
            )

    return assets.mapInPandas(decode, DECODED)


def byte_histogram_features(assets: DataFrame, n_bins: int = 16) -> DataFrame:
    """Feature extraction over ``mapInPandas``: normalized byte
    histogram (a real, deterministic stand-in for an embedding model;
    the batch shape — binary in, fixed-dim vector out — is the same)."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for payload in pdf["data"]:
                arr = np.frombuffer(payload, dtype=np.uint8)
                hist = np.bincount(arr % n_bins, minlength=n_bins).astype("float64")
                total = hist.sum()
                feats.append((hist / total if total else hist).tolist())
            yield pd.DataFrame({"asset_id": pdf["asset_id"], "features": feats})

    return assets.mapInPandas(featurize, FEATURES)


AUDIO_STATS = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("is_wav", T.BooleanType(), False),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("bits_per_sample", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
    ]
)


def _wav_info(payload: bytes) -> tuple[int, int, int, float] | None:
    """REAL audio decode for one container format: RIFF/WAVE headers are
    parseable with the stdlib alone — 'RIFF' magic + 'WAVE' form type,
    then a chunk walk for 'fmt ' (channels, sample rate, bits) and
    'data' (payload size → duration = size / byte_rate). Returns
    (channels, sample_rate, bits_per_sample, duration_s), or None for
    non-WAV payloads — the same real-first/fake-last layering as the
    BMP image path."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data_size = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = pos + 8
        if cid == b"fmt " and body + 16 <= len(payload):
            _, channels, rate, byte_rate, _, bits = struct.unpack_from(
                "<HHIIHH", payload, body
            )
            fmt = (channels, rate, byte_rate, bits)
        elif cid == b"data":
            data_size = size
        pos = body + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data_size is None:
        return None
    channels, rate, byte_rate, bits = fmt
    duration = (data_size / byte_rate) if byte_rate else 0.0
    return channels, rate, bits, duration


def audio_stats(assets: DataFrame) -> DataFrame:
    """Audio metadata decode over ``mapInPandas``: WAV payloads decode
    for REAL (stdlib RIFF chunk walk — no audio library needed);
    non-WAV payloads keep their row with ``is_wav = false`` and null
    stats, so no asset silently disappears from the audit. Same Arrow
    batch shape as :func:`decode_assets`."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            infos = pdf["data"].map(_wav_info)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": pdf["data"].map(len).astype("int64"),
                    "is_wav": infos.map(lambda i: i is not None),
                    "channels": infos.map(lambda i: i[0] if i else None),
                    "sample_rate": infos.map(lambda i: i[1] if i else None),
                    "bits_per_sample": infos.map(lambda i: i[2] if i else None),
                    "duration_s": infos.map(lambda i: round(i[3], 6) if i else None),
                }
            )

    return assets.mapInPandas(decode, AUDIO_STATS)


AUDIO_FP = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("afp", T.LongType(), False),
        T.StructField("is_wav", T.BooleanType(), False),
    ]
)


def _wav_pcm(payload: bytes):
    """REAL PCM sample decode for plain WAV (stdlib struct + numpy):
    the same RIFF chunk walk as :func:`_wav_info`, but keeping the
    'data' chunk OFFSET so the raw samples decode — 8-bit unsigned or
    16-bit signed PCM (audio_format 1), channels averaged to mono.
    Returns a float64 array in [-1, 1], or None for anything else."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = pos + 8
        if cid == b"fmt " and body + 16 <= len(payload):
            audio_format, channels, _rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", payload, body
            )
            fmt = (audio_format, channels, bits)
        elif cid == b"data":
            data = (body, min(size, len(payload) - body))
        pos = body + size + (size & 1)
    if fmt is None or data is None:
        return None
    audio_format, channels, bits = fmt
    off, size = data
    if audio_format != 1 or channels < 1 or size <= 0:
        return None
    if bits == 16:
        n = size // 2
        raw = np.frombuffer(payload, dtype="<i2", count=n, offset=off).astype("float64")
        raw /= 32768.0
    elif bits == 8:
        raw = np.frombuffer(payload, dtype=np.uint8, count=size, offset=off).astype("float64")
        raw = (raw - 128.0) / 128.0
    else:
        return None
    frames = len(raw) // channels
    if frames == 0:
        return None
    return raw[: frames * channels].reshape(frames, channels).mean(axis=1)


def _envelope_bits(values, n_bits: int = 64) -> int:
    """64-bit energy-envelope fingerprint: mean |amplitude| over
    ``n_bits + 1`` equal time segments, bit i = 1 iff segment i+1 is
    louder than segment i — the audio twin of the dHash delta-sign
    rule, so it inherits dHash's invariances (volume scaling cancels in
    the comparison) and its collision mode (constant silence → all
    zeros; the pair stage's bucket guard handles that hot key). Packed
    MSB-first into a SIGNED 64-bit value (Spark LongType)."""
    import numpy as np

    v = np.abs(np.asarray(values, dtype="float64"))
    if v.size == 0:
        v = np.zeros(n_bits + 1)
    env = np.array([seg.mean() if seg.size else 0.0 for seg in np.array_split(v, n_bits + 1)])
    bits = env[1:] > env[:-1]
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out - (1 << 64) if out >= 1 << 63 else out


def _fake_envelope(payload: bytes):
    """DETERMINISTIC FAKE sample vector (marked, last resort — the
    non-WAV sibling of :func:`_fake_gray`): payload bytes strided to
    65 values. Stable across runs and partitionings; wrong as audio,
    right as plumbing."""
    import numpy as np

    if not payload:
        return np.zeros(65)
    stride = max(1, len(payload) // 65)
    return np.frombuffer(payload, dtype=np.uint8)[::stride][:65].astype("float64")


def audio_fingerprint(assets: DataFrame) -> DataFrame:
    """(asset_id, afp, is_wav): 64-bit perceptual audio fingerprint —
    the audio-modality twin of :func:`dhash_assets`. Real PCM decode
    for plain WAV (stdlib chunk walk + numpy), marked deterministic
    fake for other containers (the codec libraries are not in this
    environment; the Spark-side plumbing — schema, Arrow batching,
    banding compatibility — is real and tested either way). One
    Arrow-batched ``mapInPandas`` pass; 8 output bytes per asset.

    Near-duplicate pairing reuses the 64-bit pigeonhole banding:
    :func:`audio_near_pairs` is :func:`dhash_hamming_pairs` over the
    ``afp`` column.

    The FAKE-path envelopes vectorize across the Arrow batch — for a
    65-value fake envelope :func:`_envelope_bits`'s 65 segment splits
    are single-element identities, so the whole batch reduces to one
    delta-sign compare + one packbits (7.3 → 2.6s per 500k-asset pass
    at sf10, OPTIMIZATION_r13.md). Real WAV decodes, short (<65 byte)
    payloads and nulls take the per-asset path; every fingerprint bit
    equals the per-asset helpers' (tests/test_multimodal.py)."""

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(payload: bytes) -> tuple[int, bool]:
            samples = _wav_pcm(payload)
            if samples is None:
                return _envelope_bits(_fake_envelope(payload)), False
            return _envelope_bits(samples), True

        for pdf in batches:
            payloads = list(pdf["data"])
            afp = np.zeros(len(payloads), dtype=np.int64)
            is_wav = np.zeros(len(payloads), dtype=bool)
            fake_idx: list[int] = []
            fake_rows: list = []
            for i, p in enumerate(payloads):
                if p is None:
                    afp[i], is_wav[i] = one(p)  # original layering
                    continue
                samples = (
                    _wav_pcm(p)
                    if p[:4] == b"RIFF" and p[8:12] == b"WAVE"
                    else None
                )
                if samples is not None:
                    afp[i], is_wav[i] = _envelope_bits(samples), True
                    continue
                v = _fake_envelope(p)
                if len(v) == 65:
                    fake_idx.append(i)
                    fake_rows.append(v)
                else:
                    # short payloads: array_split pads with EMPTY
                    # segments (mean 0.0), not zeros — scalar path
                    afp[i] = _envelope_bits(v)
            if fake_idx:
                # fake envelopes are non-negative bytes, so the
                # per-asset path's np.abs is an identity here
                afp[fake_idx] = _pack_delta_bits(np.stack(fake_rows))
            yield pd.DataFrame(
                {"asset_id": pdf["asset_id"], "afp": afp, "is_wav": is_wav}
            )

    return assets.mapInPandas(fp, AUDIO_FP)


def audio_near_pairs(
    fingerprints: DataFrame,
    max_distance: int = 4,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """(asset_a, asset_b, hamming): audio assets whose fingerprints
    differ in ≤ ``max_distance`` of 64 bits. Same plan as the image
    pairs — disjoint bit bands, exact ``bit_count(xor)`` verify, and
    the bucket cap and pair dedup at the distinct-hash grain."""
    return dhash_hamming_pairs(
        fingerprints,
        max_distance=max_distance,
        max_bucket=max_bucket,
        id_col="asset_id",
        hash_col="afp",
    )


FRAMES = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_offset", T.LongType(), False),
        T.StructField("frame_data", T.BinaryType(), True),
    ]
)


def sample_frames(assets: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling for video assets: slice the payload into
    ``n_frames`` equal byte ranges and emit each slice as its own
    binary row — the real Spark-side shape of container-level frame
    extraction (one input row fans out to n small binary rows, all in
    JVM expressions, no Python). A real codec would replace the
    equal-byte slicing with keyframe offsets; the downstream contract
    (per-frame rows carrying ``frame_data``) is identical, so decode /
    featurize compose directly on the output."""
    video = assets.filter(F.col("kind") == "video")
    exploded = video.select(
        "asset_id",
        "data",
        F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_i"),
    )
    start = (F.octet_length("data") * F.col("frame_i") / n_frames).cast("long")
    end = (F.octet_length("data") * (F.col("frame_i") + 1) / n_frames).cast("long")
    return exploded.select(
        "asset_id",
        F.col("frame_i").cast("int").alias("frame_idx"),
        start.alias("frame_offset"),
        F.col("data")
        .substr((start + 1).cast("int"), (end - start).cast("int"))
        .alias("frame_data"),
    )


DHASH = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), False),
    ]
)


def _bmp_gray(payload: bytes):
    """REAL pixel decode for uncompressed 24-bit BMPs (stdlib + numpy):
    header parse as in :func:`_bmp_dims`, then the BGR pixel array —
    rows padded to 4 bytes, bottom-up unless height is negative —
    averaged to an H×W float grayscale. Returns None for anything that
    is not a plain 24-bit uncompressed BMP with a full pixel payload."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp, compression = struct.unpack_from("<HI", payload, 28)
    if bpp != 24 or compression != 0 or width <= 0 or height == 0:
        return None
    h, top_down = abs(height), height < 0
    row_bytes = (width * 3 + 3) & ~3
    if data_offset + row_bytes * h > len(payload):
        return None
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * h, offset=data_offset
    ).reshape(h, row_bytes)[:, : width * 3]
    gray = rows.reshape(h, width, 3).astype("float64").mean(axis=2)
    return gray if top_down else gray[::-1]


def _pil_gray(payload: bytes):
    """Grayscale pixel matrix via PIL when present; None otherwise."""
    if not HAVE_PIL:
        return None
    import io

    import numpy as np
    from PIL import Image

    try:
        with Image.open(io.BytesIO(payload)) as im:
            return np.asarray(im.convert("L"), dtype="float64")
    except Exception:
        return None


def _fake_gray(payload: bytes):
    """DETERMINISTIC FAKE pixel matrix (marked, last resort): the
    payload's bytes strided into an 8×9 grid — stable across runs and
    partitionings, wrong as pixels, right as plumbing."""
    import numpy as np

    target = 8 * 9
    if not payload:
        return np.zeros((8, 9))
    stride = max(1, len(payload) // target)
    flat = np.frombuffer(payload, dtype=np.uint8)[::stride][:target].astype("float64")
    return np.pad(flat, (0, target - len(flat))).reshape(8, 9)


def _dhash_bits(gray, hash_size: int = 8) -> int:
    """64-bit difference hash: block-mean the grayscale down to
    ``hash_size × (hash_size+1)``, then bit (i, j) = 1 iff
    row i's pixel j+1 is brighter than pixel j. Packed MSB-first,
    returned as a SIGNED 64-bit value (Spark LongType)."""
    import numpy as np

    if hash_size != 8:
        # the DHASH schema, the signed-64 packing, and the banding in
        # dhash_hamming_pairs are all 64-bit; other sizes would overflow
        # the LongType silently-wrongly, so refuse loudly
        raise ValueError("hash_size must be 8 (64-bit dHash)")
    g = np.atleast_2d(gray)
    if g.shape[0] < hash_size or g.shape[1] < hash_size + 1:
        # tiny images tile up deterministically so every block is non-empty
        g = np.resize(g, (max(g.shape[0], hash_size), max(g.shape[1], hash_size + 1)))
    small = np.array(
        [
            [blk.mean() for blk in np.array_split(row_blk, hash_size + 1, axis=1)]
            for row_blk in np.array_split(g, hash_size, axis=0)
        ]
    ).reshape(hash_size, hash_size + 1)
    bits = (small[:, 1:] > small[:, :-1]).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= 1 << 63 else v


def _pack_delta_bits(mat):
    """Batched MSB-first 64-bit delta-sign packing: ``mat`` is
    (rows, 8, 9) or (rows, 65) float64; bit i = 1 iff value i+1 >
    value i within a row (row-major over the trailing dims) — the
    exact comparisons :func:`_dhash_bits` / :func:`_envelope_bits`
    make on these shapes (their block-splits are single-element
    identities there, so ``small``/``env`` IS the input). Returns
    signed int64 (two's complement of the packed unsigned value)."""
    import numpy as np

    if mat.ndim == 3:
        bits = (mat[:, :, 1:] > mat[:, :, :-1]).reshape(mat.shape[0], 64)
    else:
        bits = mat[:, 1:] > mat[:, :-1]
    packed = np.packbits(bits, axis=1)  # big-endian bit order = MSB-first
    return packed.view(">i8").ravel().astype(np.int64)


def dhash_assets(assets: DataFrame, hash_size: int = 8) -> DataFrame:
    """(asset_id, dhash): 64-bit perceptual difference hash per image —
    the image-modality twin of the text SimHash. Near-identical images
    (re-encodes, small crops/brightness shifts) land within a few bits;
    pair them with :func:`dhash_hamming_pairs`. Decode layering matches
    :func:`decode_assets`: uncompressed 24-bit BMP pixels decode for
    REAL (stdlib+numpy), anything else via PIL when installed, marked
    deterministic fake last. One Arrow-batched ``mapInPandas`` pass —
    the hash is 8 bytes per image, so the output table is negligible
    next to the binary payloads it summarizes.

    At ``hash_size`` 8 the FAKE-path assets vectorize across the whole
    Arrow batch — the per-asset path spent ~100 tiny numpy calls per
    asset on block-splits that are single-element identities for the
    fake 8×9 grid (10.7s → 2.7s per 500k-asset hash pass at sf10,
    OPTIMIZATION_r13.md). Real BMP/PIL decodes, null payloads and other
    hash sizes take the per-asset path; every hash bit equals the
    per-asset helpers' (tests/test_multimodal.py)."""

    def hasher(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(payload: bytes) -> int:
            gray = _bmp_gray(payload)
            if gray is None:
                gray = _pil_gray(payload)
            if gray is None:
                gray = _fake_gray(payload)
            return _dhash_bits(gray, hash_size)

        for pdf in batches:
            if hash_size != 8:
                yield pd.DataFrame(
                    {"asset_id": pdf["asset_id"], "dhash": pdf["data"].map(one).astype("int64")}
                )
                continue
            payloads = list(pdf["data"])
            out = np.zeros(len(payloads), dtype=np.int64)
            fake_idx: list[int] = []
            for i, p in enumerate(payloads):
                if p is None:
                    out[i] = one(p)  # original layering (incl. its error)
                    continue
                gray = _bmp_gray(p) if p[:2] == b"BM" else None
                if gray is None and HAVE_PIL:
                    gray = _pil_gray(p)
                if gray is not None:
                    out[i] = _dhash_bits(gray, hash_size)
                else:
                    fake_idx.append(i)
            if fake_idx:
                mat = np.zeros((len(fake_idx), 72))
                for r, i in enumerate(fake_idx):
                    p = payloads[i]
                    if p:
                        stride = max(1, len(p) // 72)
                        flat = np.frombuffer(p, dtype=np.uint8)[::stride][:72]
                        mat[r, : len(flat)] = flat
                out[fake_idx] = _pack_delta_bits(mat.reshape(-1, 8, 9))
            yield pd.DataFrame({"asset_id": pdf["asset_id"], "dhash": out})

    return assets.mapInPandas(hasher, DHASH)


def dhash_hamming_pairs(
    hashes: DataFrame,
    max_distance: int = 4,
    max_bucket: int | None = 10_000,
    id_col: str = "asset_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """(asset_a, asset_b, hamming): asset pairs whose dhashes differ in
    <= ``max_distance`` of 64 bits — near-duplicate images. The same
    pigeonhole banding as the text SimHash operator, generalized to 64
    bits: the hash splits into ``max_distance + 1`` disjoint bit bands
    (any pair within distance d agrees exactly on >= 1 band), candidates
    equi-join per (band, value), and the exact ``bit_count(xor)`` check
    filters. All JVM bit ops — shiftrightunsigned / mask / bit_count —
    with one explode(+1 band rows per asset), one band-keyed shuffle,
    and ``max_bucket`` capping degenerate bands (e.g. a constant-color
    thumbnail corpus hashing to all-zeros).

    With ``max_bucket`` set, identical hashes collapse to one group
    before banding; the cap, the bit_count verify and the pair dedup run
    at the group grain, then group pairs expand back to asset pairs
    exactly once (see the inline comment for the equality argument and
    the one-hash-per-id requirement). This replaced an in-row per-bucket
    expansion: sf10 4.46 vs 18.84s (OPTIMIZATION_r13.md §22). Uncapped
    (``max_bucket=None``), the pairs come from a streaming equi-self-join
    over the banded table, which tolerates unbounded buckets.
    """
    if max_distance < 0:
        raise ValueError("max_distance must be >= 0")
    if max_distance == 0:
        # exact-duplicate hashing: a plain self-equi-join on the hash —
        # no banding (a single 64-bit band's mask literal would not fit
        # LongType anyway)
        a0 = hashes.select(F.col(id_col).alias("_ia"), F.col(hash_col).alias("_h"))
        b0 = hashes.select(F.col(id_col).alias("_ib"), F.col(hash_col).alias("_h"))
        return (
            a0.join(b0, "_h")
            .filter(F.col("_ia") < F.col("_ib"))
            .select(
                F.col("_ia").alias("asset_a"),
                F.col("_ib").alias("asset_b"),
                F.lit(0).cast("int").alias("hamming"),
            )
        )
    n_bands = max_distance + 1
    base, extra = divmod(64, n_bands)
    widths = [base + (1 if i < extra else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]

    def band_structs(h: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(h, offsets[i])
                    .bitwiseAND(F.lit((1 << widths[i]) - 1))
                    .alias("val"),
                )
                for i in range(n_bands)
            ]
        )

    h = F.col(hash_col)
    if max_bucket is not None:
        # assets sharing an IDENTICAL hash collapse to one group before
        # banding (r13 second session — 86x at sf10 on the fake-path
        # corpus; identical payload bytes hash identically, so exact
        # dups always collapse): banding, the bucket cap (Σ cnt ≡ the
        # bucket's asset count) and the pair dedup run
        # at the GROUP grain, bit_count evaluates once per distinct
        # hash pair instead of once per asset pair, intra-group pairs
        # are hamming 0 by construction, and group pairs expand back to
        # asset pairs exactly once — the asset-level distinct
        # disappears. Pair set identical to asset-level banding with the
        # same cap (pinned by tests/test_multimodal.py + an sf10
        # exceptAll run) PROVIDED each id carries ONE hash row, which
        # every in-repo producer (dhash_assets, audio_fingerprint, video
        # frame packing) guarantees.
        from rnadam_spark.lineage import truncate_lineage

        groups = truncate_lineage(
            hashes.groupBy(h.alias("_h"))
            .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
            .select(
                F.element_at("ids", 1).alias("gid"),
                "ids",
                F.size("ids").alias("cnt"),
                "_h",
            )
        )
        members = groups.select("gid", "ids")
        gb = groups.select(
            "gid", "cnt", "_h", F.explode(band_structs(F.col("_h"))).alias("b")
        ).select(
            "gid", "cnt", "_h", F.col("b.band").alias("band"), F.col("b.val").alias("val")
        )
        buckets = (
            gb.groupBy("band", "val")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("gid", F.col("_h").alias("h")))
                ).alias("gs"),
                F.sum("cnt").alias("total"),
            )
            .filter((F.col("total") >= 2) & (F.col("total") <= max_bucket))
        )
        # the tail slice starts AT the member (i+1, 1-based), so each
        # group also pairs with ITSELF once per bucket: the self pair's
        # hamming is bit_count(h^h)=0, always within max_distance, and
        # it carries the intra-group doc pairs through the same single
        # consumer of ``buckets`` (a separate intra branch would re-run
        # the banding + bucket groupBy from the barrier); groups of one
        # expand to zero doc pairs in the intra tail-slice below
        e1 = buckets.select(F.col("gs"), F.posexplode("gs").alias("i", "ga"))
        gp = (
            e1.select(
                F.col("ga.gid").alias("g_a"),
                F.col("ga.h").alias("_ha"),
                F.explode(
                    F.slice("gs", F.col("i") + 1, F.size("gs") - F.col("i"))
                ).alias("gbs"),
            )
            .select(
                "g_a",
                F.col("gbs.gid").alias("g_b"),
                F.bit_count(F.col("_ha").bitwiseXOR(F.col("gbs.h")))
                .cast("int")
                .alias("hamming"),
            )
            .filter(F.col("hamming") <= max_distance)
            .distinct()
        )
        ex = gp.join(
            members.select(F.col("gid").alias("g_a"), F.col("ids").alias("ia")), "g_a"
        ).join(members.select(F.col("gid").alias("g_b"), F.col("ids").alias("ib")), "g_b")
        cross_assets = (
            ex.filter(F.col("g_a") != F.col("g_b"))
            .select("hamming", F.explode("ia").alias("x"), F.col("ib"))
            .select("hamming", "x", F.explode("ib").alias("y"))
            .select(
                F.least("x", "y").alias("asset_a"),
                F.greatest("x", "y").alias("asset_b"),
                "hamming",
            )
        )
        intra_assets = (
            ex.filter(F.col("g_a") == F.col("g_b"))
            .select(F.col("ia").alias("ds"))
            .select(F.col("ds"), F.posexplode("ds").alias("i", "asset_a"))
            .select(
                "asset_a",
                F.explode(
                    F.slice("ds", F.col("i") + 2, F.size("ds") - F.col("i") - 1)
                ).alias("asset_b"),
                F.lit(0).cast("int").alias("hamming"),
            )
        )
        return cross_assets.union(intra_assets)
    banded = hashes.select(
        F.col(id_col), h.alias("_h"), F.explode(band_structs(h)).alias("b")
    ).select(id_col, "_h", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "val"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("asset_a"),
            F.col(f"b.{id_col}").alias("asset_b"),
            F.bit_count(F.col("a._h").bitwiseXOR(F.col("b._h"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .distinct()
    )


def near_dup_image_clusters(
    assets: DataFrame,
    max_distance: int = 4,
    max_bucket: int | None = 10_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(asset_id, component, keep): group perceptually-near-duplicate
    images into clusters and pick one canonical per cluster (smallest
    id) — the image twin of the text near-dup pipeline (LSH pairs →
    connected components → canonical anti-join). Composition of
    :func:`dhash_assets` → :func:`dhash_hamming_pairs` → the shared
    large-star/small-star connected-components loop; callers drop
    near-dups with ``.filter("keep")``. Images whose hash pairs with
    nothing form their own singleton component."""
    from rnadam_spark.operators.clustering import connected_components

    hashes = dhash_assets(assets)
    pairs = dhash_hamming_pairs(hashes, max_distance=max_distance, max_bucket=max_bucket)
    comp = connected_components(
        pairs.select(F.col("asset_a").alias("src"), F.col("asset_b").alias("dst")),
        src="src",
        dst="dst",
        checkpoint_dir=checkpoint_dir,
    )
    return (
        hashes.select("asset_id")
        .join(comp.withColumnRenamed("node", "asset_id"), "asset_id", "left")
        .select(
            "asset_id",
            F.coalesce("component", F.col("asset_id")).alias("component"),
            (F.coalesce("component", F.col("asset_id")) == F.col("asset_id")).alias("keep"),
        )
    )


def video_near_pairs(
    assets: DataFrame,
    n_frames: int = 4,
    max_distance: int = 6,
    min_matching_frames: int = 2,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """(video_a, video_b, n_frame_matches): near-duplicate VIDEO pairs —
    two videos count as near-dups when at least ``min_matching_frames``
    of their sampled frames perceptually match (dHash within
    ``max_distance`` bits), at ANY frame position, so re-trimmed or
    re-muxed copies still collide.

    Pure composition of the existing kernels: :func:`sample_frames`
    slices each video into ``n_frames`` frame payloads (JVM byte
    slicing), each frame dHashes like an image
    (:func:`dhash_assets` — real decode where the frame bytes are a
    decodable image, marked fake otherwise), frame-level candidates come
    from the same 64-bit pigeonhole banding
    (:func:`dhash_hamming_pairs`), and one groupBy counts matching frame
    pairs per video pair. Frame identity rides as
    ``asset_id · n_frames + frame_idx`` so the pair machinery needs no
    schema change (asset ids must stay below 2⁶³ / n_frames — the
    packing overflows LongType beyond that); recovery uses integer
    ``div``, exact over the full packed range. Same-video frame pairs
    drop before the count."""
    frames = sample_frames(assets, n_frames)
    frame_assets = frames.select(
        (F.col("asset_id") * n_frames + F.col("frame_idx")).alias("asset_id"),
        F.col("frame_data").alias("data"),
    )
    fh = dhash_assets(frame_assets)
    pairs = dhash_hamming_pairs(fh, max_distance=max_distance, max_bucket=max_bucket)
    # integer `div`, not floor(a / b): double division loses exactness
    # for frame ids above 2^53, silently mis-grouping matches (ADVICE r6)
    va = F.expr(f"asset_a div {n_frames}")
    vb = F.expr(f"asset_b div {n_frames}")
    swap = va > vb
    # "k matching frames" counts DISTINCT frames on EACH side: one frame
    # of A matching all four near-identical frames of a slideshow B is
    # one match, not four — count distinct per side, take the smaller
    return (
        pairs.select(
            F.when(swap, vb).otherwise(va).alias("video_a"),
            F.when(swap, va).otherwise(vb).alias("video_b"),
            F.when(swap, F.col("asset_b")).otherwise(F.col("asset_a")).alias("_fa"),
            F.when(swap, F.col("asset_a")).otherwise(F.col("asset_b")).alias("_fb"),
        )
        .filter(F.col("video_a") != F.col("video_b"))
        .groupBy("video_a", "video_b")
        .agg(
            F.least(F.countDistinct("_fa"), F.countDistinct("_fb"))
            .cast("bigint")
            .alias("n_frame_matches")
        )
        .filter(F.col("n_frame_matches") >= min_matching_frames)
    )


RESIZED = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("data", T.BinaryType(), False),
    ]
)


def resize_assets(assets: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Resize step over ``mapInPandas``: PIL resizes decodable payloads
    for real (re-encoded as PNG); everything else gets the
    clearly-marked deterministic fake (an evenly-strided byte
    subsample padded/truncated to width·height bytes — stable across
    partitionings, wrong as pixels, right as plumbing). Output schema,
    batch iteration, and memory shape (one Arrow batch of payloads per
    task) match the real pipeline either way."""

    target_len = width * height

    def fake_resize(payload: bytes) -> bytes:
        if not payload:
            return bytes(target_len)
        stride = max(1, len(payload) // target_len)
        out = payload[::stride][:target_len]
        return out + bytes(target_len - len(out))

    def pil_resize(payload: bytes) -> bytes | None:
        if not HAVE_PIL:
            return None
        import io

        from PIL import Image

        try:
            with Image.open(io.BytesIO(payload)) as im:
                buf = io.BytesIO()
                im.resize((width, height)).save(buf, format="PNG")
                return buf.getvalue()
        except Exception:
            return None

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            data = pdf["data"].map(lambda p: pil_resize(p) or fake_resize(p))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "width": width,
                    "height": height,
                    "data": data,
                }
            )

    return assets.mapInPandas(resize, RESIZED)
