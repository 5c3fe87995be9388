import itertools
from collections import defaultdict

from rnadam_spark.operators import multimodal as mm


def _assets(spark):
    rows = [
        (1, "image", bytearray(b"abcdef" * 10), {"source": "s"}),
        (2, "video", bytearray(b"\x00\x01\x02\x03" * 25), {}),
        (3, "audio", bytearray(b""), {}),
    ]
    return spark.createDataFrame(rows, mm.ASSETS)


def test_decode_assets_stub(spark):
    got = {r.asset_id: r for r in mm.decode_assets(_assets(spark)).collect()}
    assert got[1].n_bytes == 60 and got[2].n_bytes == 100 and got[3].n_bytes == 0
    # deterministic fake dims: stable across runs/partitionings
    again = {r.asset_id: r for r in mm.decode_assets(_assets(spark).repartition(3)).collect()}
    for k in got:
        assert (got[k].width, got[k].height) == (again[k].width, again[k].height)
        assert 16 <= got[k].width < 80


def _bmp_bytes(width, height):
    """Minimal valid 24-bit BMP: 14-byte file header + 40-byte
    BITMAPINFOHEADER, no pixel data needed for header decode."""
    import struct

    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, 0, 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40, 0, 0, 14 + 40)
    return header + info


def test_decode_assets_real_bmp(spark):
    # the one REAL codec path: BMP dimensions parsed from the header
    # (stdlib struct, no image libs); non-BMP still hits the fake
    rows = [
        (10, "image", bytearray(_bmp_bytes(640, 480)), {}),
        (11, "image", bytearray(_bmp_bytes(32, 2048)), {}),
        # negative height = top-down BMP; dimension is the magnitude
        (12, "image", bytearray(_bmp_bytes(100, -200)), {}),
    ]
    assets = spark.createDataFrame(rows, mm.ASSETS)
    got = {r.asset_id: (r.width, r.height) for r in mm.decode_assets(assets).collect()}
    assert got[10] == (640, 480)
    assert got[11] == (32, 2048)
    assert got[12] == (100, 200)


def test_byte_histogram_features(spark):
    feats = {r.asset_id: r.features for r in mm.byte_histogram_features(_assets(spark)).collect()}
    assert len(feats[1]) == 16
    assert abs(sum(feats[1]) - 1.0) < 1e-9
    assert sum(feats[3]) == 0.0  # empty payload → zero vector, no NaN


def test_sample_frames_video_only(spark):
    rows = sorted(mm.sample_frames(_assets(spark), n_frames=4).collect(), key=lambda r: r.frame_idx)
    assert {r.asset_id for r in rows} == {2}
    assert [r.frame_offset for r in rows] == [0, 25, 50, 75]
    # frame slices carry the actual bytes and reassemble to the payload
    payload = b"\x00\x01\x02\x03" * 25
    assert all(len(bytes(r.frame_data)) == 25 for r in rows)
    assert b"".join(bytes(r.frame_data) for r in rows) == payload


def test_sample_frames_uneven_split_covers_payload(spark):
    # 10 bytes into 3 frames: offsets 0/3/6, lengths 3/3/4 — slices
    # partition the payload exactly, no gaps or overlaps
    rows = [(5, "video", bytearray(b"0123456789"), {})]
    assets = spark.createDataFrame(rows, mm.ASSETS)
    frames = sorted(mm.sample_frames(assets, n_frames=3).collect(), key=lambda r: r.frame_idx)
    assert b"".join(bytes(r.frame_data) for r in frames) == b"0123456789"


def test_resize_assets_fake_path_deterministic(spark):
    out = {r.asset_id: r for r in mm.resize_assets(_assets(spark), width=8, height=4).collect()}
    assert set(out) == {1, 2, 3}
    for r in out.values():
        assert (r.width, r.height) == (8, 4)
        assert len(bytes(r.data)) == 32  # fake path pads/truncates to w*h
    again = {
        r.asset_id: bytes(r.data)
        for r in mm.resize_assets(_assets(spark).repartition(3), width=8, height=4).collect()
    }
    assert {k: bytes(v.data) for k, v in out.items()} == again  # layout-invariant


def test_assets_from_documents_schema(spark):
    docs = spark.createDataFrame(
        [(7, "hello world", "en", "src0", 11)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    a = mm.assets_from_documents(docs).collect()[0]
    assert a.asset_id == 7 and bytes(a.data) == b"hello world"
    assert a.meta["lang"] == "en"


def _wav_bytes(channels=1, rate=8000, width=2, n_frames=8000):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(bytes(n_frames * channels * width))
    return buf.getvalue()


def test_audio_stats_real_wav_decode(spark):
    from rnadam_spark.operators.multimodal import audio_stats

    rows = [
        (1, "audio", _wav_bytes(channels=1, rate=8000, width=2, n_frames=8000), None),
        (2, "audio", _wav_bytes(channels=2, rate=44100, width=2, n_frames=44100), None),
        (3, "audio", b"not a wav at all", None),
        (4, "audio", b"", None),
    ]
    from rnadam_spark.operators.multimodal import ASSETS

    df = spark.createDataFrame(rows, ASSETS)
    got = {r.asset_id: r for r in audio_stats(df).collect()}
    assert got[1].is_wav and got[1].channels == 1 and got[1].sample_rate == 8000
    assert got[1].bits_per_sample == 16 and abs(got[1].duration_s - 1.0) < 1e-6
    assert got[2].is_wav and got[2].channels == 2 and got[2].sample_rate == 44100
    assert abs(got[2].duration_s - 1.0) < 1e-6
    assert not got[3].is_wav and got[3].channels is None
    assert not got[4].is_wav and got[4].n_bytes == 0
    # stdlib wave agrees with our chunk walk (decode is REAL)
    import io
    import wave

    with wave.open(io.BytesIO(rows[1][2]), "rb") as w:
        assert (w.getnchannels(), w.getframerate()) == (got[2].channels, got[2].sample_rate)


def test_png_gif_header_decode(spark):
    import struct
    import zlib

    from rnadam_spark.operators.multimodal import ASSETS, decode_assets

    def png_bytes(w, h):
        ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
        chunk = b"IHDR" + ihdr
        return (b"\x89PNG\r\n\x1a\n"
                + struct.pack(">I", len(ihdr)) + chunk
                + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF))

    def gif_bytes(w, h):
        return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 10

    rows = [
        (1, "image", png_bytes(640, 480), None),
        (2, "image", gif_bytes(320, 200), None),
        (3, "image", b"\x89PNGbut-truncated", None),  # falls to fake, no crash
    ]
    got = {r.asset_id: r for r in decode_assets(spark.createDataFrame(rows, ASSETS)).collect()}
    assert (got[1].width, got[1].height) == (640, 480)   # REAL PNG decode
    assert (got[2].width, got[2].height) == (320, 200)   # REAL GIF decode
    assert got[3].width > 0 and got[3].height > 0


# ---------------------------------------------------------------------------
# Audio fingerprint + near-dup pairs
# ---------------------------------------------------------------------------


def _tone_wav(freqs, rate=8000, seconds=1.0, amp=0.5, width=2):
    """A WAV whose loudness profile follows per-segment amplitudes."""
    import io
    import math
    import wave

    import numpy as np

    n = int(rate * seconds)
    t = np.arange(n) / rate
    segs = np.array_split(np.zeros(n), len(freqs))
    samples = []
    for seg_amp, seg in zip(freqs, segs):
        samples.append(seg_amp * amp * np.sin(2 * math.pi * 440 * t[: len(seg)]))
    x = np.concatenate(samples)
    pcm = (x * 32767).astype("<i2").tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(pcm)
    return buf.getvalue()


def test_audio_fingerprint_real_decode_and_invariance(spark):
    import numpy as np

    from rnadam_spark.operators import multimodal as mm

    rng = np.random.default_rng(7)
    profile = list(rng.uniform(0.1, 1.0, 65))
    rows = [
        (1, "audio", _tone_wav(profile), None),
        # same loudness PROFILE at half the volume: fingerprint invariant
        (2, "audio", _tone_wav([a * 0.5 for a in profile]), None),
        # unrelated profile
        (3, "audio", _tone_wav(list(rng.uniform(0.1, 1.0, 65))), None),
        # non-WAV: deterministic fake path, marked not-wav
        (4, "audio", b"OggS this is not a wav", None),
    ]
    df = spark.createDataFrame(rows, mm.ASSETS)
    fp = {r.asset_id: r for r in mm.audio_fingerprint(df).collect()}
    assert fp[1].is_wav and fp[2].is_wav and fp[3].is_wav and not fp[4].is_wav
    assert fp[1].afp == fp[2].afp  # volume scaling cancels
    assert fp[1].afp != fp[3].afp
    # python-reference agreement: the fingerprint IS the envelope rule
    samples = mm._wav_pcm(rows[0][2])
    assert samples is not None
    assert fp[1].afp == mm._envelope_bits(samples)
    # deterministic fake is stable
    fp2 = {r.asset_id: r.afp for r in mm.audio_fingerprint(df).collect()}
    assert fp2[4] == fp[4].afp


def test_audio_near_pairs_banding_agrees_with_brute_force(spark):
    import numpy as np

    from rnadam_spark.operators import multimodal as mm

    rng = np.random.default_rng(11)
    base = list(rng.uniform(0.1, 1.0, 65))
    perturbed = list(base)
    # flip a couple of segments hard enough to move ~2-3 envelope bits
    perturbed[10], perturbed[40] = perturbed[11] + 0.3, perturbed[41] + 0.3
    rows = [
        (1, "audio", _tone_wav(base), None),
        (2, "audio", _tone_wav(base), None),          # exact dup
        (3, "audio", _tone_wav(perturbed), None),     # near dup
        (4, "audio", _tone_wav(list(rng.uniform(0.1, 1.0, 65))), None),
    ]
    df = spark.createDataFrame(rows, mm.ASSETS)
    fps = mm.audio_fingerprint(df)
    got = {
        (r.asset_a, r.asset_b): r.hamming
        for r in mm.audio_near_pairs(fps, max_distance=6).collect()
    }
    # brute force over the collected fingerprints
    vals = {r.asset_id: r.afp for r in fps.collect()}
    want = {}
    ids = sorted(vals)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin((vals[a] ^ vals[b]) & ((1 << 64) - 1)).count("1")
            if d <= 6:
                want[(a, b)] = d
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 0


def test_dhash_pairs_full_duckdb_cross_check(spark):
    """Engine-to-engine re-derivation of the 64-bit Hamming banding
    kernel (shared verbatim by audio_near_pairs) — the oracle shape a
    future gate rotation would register. DuckDB reproduces the
    unsigned band extraction via HUGEINT arithmetic ((u // 2^off) %
    2^width over the two's-complement value) and the exact
    bit_count(xor) verify, including signed (negative) hashes."""
    import random

    import duckdb

    rng = random.Random(29)

    def as_signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    rows = []
    aid = 0
    for _ in range(25):
        base = rng.getrandbits(64)
        rows.append((aid, as_signed(base)))
        aid += 1
        # a sibling within distance <= 4 and a far cousin
        flips = rng.sample(range(64), rng.randrange(0, 5))
        sib = base
        for b in flips:
            sib ^= 1 << b
        rows.append((aid, as_signed(sib)))
        aid += 1
    hashes = spark.createDataFrame(rows, "asset_id BIGINT, dhash BIGINT")
    got = sorted(
        (r.asset_a, r.asset_b, r.hamming)
        for r in mm.dhash_hamming_pairs(hashes, max_distance=4, max_bucket=100).collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE h(asset_id BIGINT, dhash BIGINT)")
    con.executemany("INSERT INTO h VALUES (?, ?)", rows)
    # same band layout as the operator: 5 bands, widths 13,13,13,13,12
    widths = [13, 13, 13, 13, 12]
    offsets = [0, 13, 26, 39, 52]
    u = "(CAST(dhash AS HUGEINT) + CASE WHEN dhash < 0 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)"
    bands = "\nUNION ALL\n".join(
        f"SELECT asset_id, dhash, {i} AS band, "
        f"({u} // CAST({1 << off} AS HUGEINT)) % {1 << w} AS val FROM h"
        for i, (off, w) in enumerate(zip(offsets, widths))
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                f"""
        WITH banded AS ({bands}),
        capped AS (SELECT * FROM banded
                   QUALIFY count(*) OVER (PARTITION BY band, val) <= 100)
        SELECT DISTINCT a.asset_id AS asset_a, b.asset_id AS asset_b,
               CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
        FROM capped a JOIN capped b USING (band, val)
        WHERE a.asset_id < b.asset_id
          AND bit_count(xor(a.dhash, b.dhash)) <= 4
        """
            ).fetchall(),
        )
    )
    assert got == want and got


def _ref_dhash_pairs(rows, max_distance, max_bucket):
    """Driver-side pigeonhole reference for ``dhash_hamming_pairs``: the
    operator's max_distance + 1 disjoint bit bands, buckets of
    2..max_bucket assets per (band, value), pairs within max_distance
    by ``bin(a ^ b).count("1")`` over the unsigned 64-bit hashes."""
    n_bands = max_distance + 1
    base, extra = divmod(64, n_bands)
    widths = [base + (1 if i < extra else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    unsigned = {aid: h & ((1 << 64) - 1) for aid, h in rows}
    buckets = defaultdict(set)
    for aid, h in unsigned.items():
        for i in range(n_bands):
            buckets[(i, (h >> offsets[i]) & ((1 << widths[i]) - 1))].add(aid)
    pairs = set()
    for ids in buckets.values():
        if 2 <= len(ids) <= max_bucket:
            for a, b in itertools.combinations(sorted(ids), 2):
                d = bin(unsigned[a] ^ unsigned[b]).count("1")
                if d <= max_distance:
                    pairs.add((a, b, d))
    return sorted(pairs)


def test_dhash_pairs_strategies_agree(spark):
    # the group-grain expansion must emit EXACTLY the reference pair set
    # (same ids, same hamming, no duplicate rows), hot buckets capped
    import random

    import pytest

    rng = random.Random(31)

    def as_signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    rows = []
    aid = 0
    for _ in range(30):
        base = rng.getrandbits(64)
        for flips in (0, 2, 4, 9):
            v = base
            for b in rng.sample(range(64), flips):
                v ^= 1 << b
            rows.append((aid, as_signed(v)))
            aid += 1
    # a degenerate all-zeros farm that the cap must drop (Σcnt cap
    # semantics: 12 identical hashes collapse to one group)
    rows += [(aid + i, 0) for i in range(12)]
    hashes = spark.createDataFrame(rows, "asset_id BIGINT, dhash BIGINT")
    got = sorted(map(tuple, mm.dhash_hamming_pairs(hashes, max_bucket=10).collect()))
    assert got == _ref_dhash_pairs(rows, 4, 10) and len(got) > 20
    # duplicate hashes below the cap: intra pairs surface at hamming 0
    dup_rows = [(0, 7), (1, 7), (2, 7), (3, 6)]
    dup = spark.createDataFrame(dup_rows, "asset_id BIGINT, dhash BIGINT")
    got = sorted(map(tuple, mm.dhash_hamming_pairs(dup, max_bucket=10).collect()))
    assert got == [(0, 1, 0), (0, 2, 0), (0, 3, 1), (1, 2, 0), (1, 3, 1), (2, 3, 1)]
    assert got == _ref_dhash_pairs(dup_rows, 4, 10)
    with pytest.raises(ValueError):
        mm.dhash_hamming_pairs(hashes, max_distance=-1)


def _full_bmp(width=16, height=12, seed=5):
    # 24-bit BMP WITH pixel payload so _bmp_gray decodes for real
    import random
    import struct

    rng = random.Random(seed)
    row_bytes = (width * 3 + 3) & ~3
    pixels = bytes(rng.randrange(256) for _ in range(row_bytes * height))
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, 0, 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 14 + 40)
    return header + info + pixels


def test_dhash_kernels_equal(spark):
    # r13 batched fake-path kernel: every hash bit must equal the
    # per-asset decode layering (BMP → PIL → fake) applied on the
    # driver, across real-BMP, text, short and empty payloads
    rows = [
        (1, "image", bytearray(_full_bmp()), {}),
        (2, "image", bytearray(_full_bmp(9, -7, seed=8)), {}),
        (3, "image", bytearray(b"plain text payload " * 40), {}),
        (4, "image", bytearray(b"tiny"), {}),
        (5, "image", bytearray(b""), {}),
        (6, "image", bytearray(_bmp_bytes(640, 480)), {}),  # header, no pixels
        (7, "image", bytearray(bytes(range(256)) * 3), {}),
    ]
    df = spark.createDataFrame(rows, mm.ASSETS)
    got_b = {r.asset_id: r.dhash for r in mm.dhash_assets(df).collect()}

    def one(p):
        gray = mm._bmp_gray(p)
        if gray is None:
            gray = mm._pil_gray(p)
        if gray is None:
            gray = mm._fake_gray(p)
        return mm._dhash_bits(gray, 8)

    want = {aid: one(bytes(p)) for aid, _, p, _ in rows}
    assert got_b == want and len(got_b) == 7


def test_audio_kernels_equal(spark):
    import io
    import wave

    def tone_wav(width=2, channels=1):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(width)
            w.setframerate(8000)
            w.writeframes(bytes((i * 37) % 256 for i in range(4000 * channels * width)))
        return buf.getvalue()

    rows = [
        (1, "audio", bytearray(tone_wav()), {}),
        (2, "audio", bytearray(tone_wav(width=1, channels=2)), {}),
        (3, "audio", bytearray(b"not audio " * 50), {}),
        (4, "audio", bytearray(b"short"), {}),  # <65 bytes: scalar path
        (5, "audio", bytearray(b""), {}),
        (6, "audio", bytearray(b"RIFF1234WAVEbroken"), {}),  # RIFF, bad chunks
    ]
    df = spark.createDataFrame(rows, mm.ASSETS)
    got_b = {r.asset_id: (r.afp, r.is_wav) for r in mm.audio_fingerprint(df).collect()}

    # the per-asset helpers applied on the driver: real PCM decode, or
    # the marked-fake envelope when the payload is not a plain WAV
    def one(p):
        samples = mm._wav_pcm(p)
        if samples is None:
            return mm._envelope_bits(mm._fake_envelope(p)), False
        return mm._envelope_bits(samples), True

    want = {aid: one(bytes(p)) for aid, _, p, _ in rows}
    assert got_b == want and len(got_b) == 6
    assert got_b[1][1] and not got_b[3][1]
