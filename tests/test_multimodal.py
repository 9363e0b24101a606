"""Multimodal plumbing tests: exact feature values vs a local pandas
recomputation (the rows-only query's correctness pin), Arrow batch
shape, payload pruning, and stub contracts."""

from __future__ import annotations

import pytest


def test_image_features_match_local_recompute(spark, sf_dir):
    from mapreducecf_spark.multimodal import fake_decode_rgb, media_table, image_features

    media = media_table(spark, sf_dir).limit(50)
    got = {r["media_id"]: r for r in image_features(media).collect()}
    src = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    assert set(got) == set(src)
    for mid, payload in src.items():
        img = fake_decode_rgb(payload)
        m = img.reshape(-1, 3).mean(axis=0)
        row = got[mid]
        assert row["n_bytes"] == len(payload)
        assert row["mean_r"] == pytest.approx(float(m[0]), abs=1e-12)
        assert row["mean_g"] == pytest.approx(float(m[1]), abs=1e-12)
        assert row["mean_b"] == pytest.approx(float(m[2]), abs=1e-12)


def test_audio_features_match_local_recompute(spark, sf_dir):
    import numpy as np

    from mapreducecf_spark.multimodal import audio_features, fake_decode_pcm, media_table

    media = media_table(spark, sf_dir).limit(60)
    got = {r["media_id"]: r for r in audio_features(media).collect()}
    src = {
        r["media_id"]: bytes(r["payload"])
        for r in media.filter("kind = 'audio'").collect()
    }
    assert set(got) == set(src) and got
    for mid, payload in src.items():
        pcm = fake_decode_pcm(payload)
        energy_micro = int(float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2))) * 1e6)
        zc = int(np.count_nonzero(np.diff(np.signbit(pcm))))
        assert got[mid]["energy_micro"] == energy_micro
        assert got[mid]["zero_crossings"] == zc
        assert got[mid]["n_samples"] == len(pcm)


def test_catalog_prunes_payload_from_the_scan(spark, sf_dir):
    """mm_catalog touches only metadata; the text/payload source column
    must not be read from parquet."""
    import contextlib
    import io

    from mapreducecf_spark.registry import QUERIES

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES["mm_catalog"](spark, sf_dir).explain(mode="formatted")
    read = [ln for ln in buf.getvalue().splitlines() if "ReadSchema" in ln][0]
    assert "text" in read  # payload derives from text: it IS the scan cost here
    # frame sampling, by contrast, needs no payload at all
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES["mm_frame_sample"](spark, sf_dir).explain(mode="formatted")
    # only doc_id + text-length metadata feed the explode; no Python stage
    assert "mapInPandas" not in buf.getvalue()


def test_decode_codec_boundary_and_malformed_errors(spark):
    """Every format other than PNG/BMP/PNM images and RIFF/WAVE integer
    PCM raises NotImplementedError (the single deployment plug-in
    point); malformed payloads of a DECODED format raise ValueError
    (the drop-don't-crash error path)."""
    import struct

    from mapreducecf_spark.multimodal import decode_audio, decode_image

    def wav_with_tag(tag):
        fmt = struct.pack("<HHIIHH", tag, 1, 8000, 8000, 1, 8)
        data = bytes(16)
        return (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    for payload in (
        b"\xff\xd8\xff\xe0JFIF-ish",  # JPEG
        b"GIF89a\x02\x00\x02\x00",  # GIF
        b"II*\x00\x08\x00\x00\x00",  # TIFF, little-endian
        b"MM\x00*\x00\x00\x00\x08",  # TIFF, big-endian
        b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00\x00\x00\x00\x00",  # WebP
    ):
        with pytest.raises(NotImplementedError):
            decode_image(payload)
    for payload in (
        b"fLaC\x00\x00\x00\x22",  # FLAC
        b"ID3\x04mp3-ish",  # compressed audio
        wav_with_tag(0x11),  # IMA-ADPCM
        wav_with_tag(0x07),  # G.711 mu-law
    ):
        with pytest.raises(NotImplementedError):
            decode_audio(payload)
    decode_audio(wav_with_tag(0x01))  # the same container as PCM decodes
    with pytest.raises(ValueError):
        decode_audio(b"RIFF\x00\x00\x00\x00WAVE")  # truncated WAV
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\x0anot-chunks")  # truncated PNG


def test_decode_wav_pcm_roundtrip(spark):
    """Real WAV decode: build 16-bit PCM with the stdlib writer, read
    back bit-exact normalized float32."""
    import io
    import wave

    import numpy as np

    from mapreducecf_spark.multimodal import decode_audio

    samples = np.array([0, 1, -1, 32767, -32768, 12345], dtype="<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(samples.tobytes())
    x = decode_audio(buf.getvalue())
    assert x.dtype == np.float32 and x.shape == (6,)
    assert np.array_equal(x, samples.astype(np.float32) / 32768.0)
    # stereo comes back (frames, 2)
    buf2 = io.BytesIO()
    with wave.open(buf2, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    assert decode_audio(buf2.getvalue()).shape == (3, 2)


def test_decode_bmp_and_ppm_roundtrip(spark):
    """Real BMP/PPM decode: hand-packed 2x2 images land as the exact
    HxWx3 RGB array (BMP rows bottom-up + BGR + padded; PPM raw)."""
    import struct

    import numpy as np

    from mapreducecf_spark.multimodal import decode_image

    rgb = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8
    )
    # 24-bit BMP: 2 rows of 2 BGR pixels, rows padded to 8 bytes,
    # stored bottom-up
    rows = b""
    for y in (1, 0):
        row = b"".join(bytes(rgb[y, x, ::-1]) for x in (0, 1))
        rows += row + b"\x00\x00"
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(rows), 0, 0, 0, 0)
    assert np.array_equal(decode_image(hdr + dib + rows), rgb)
    # P6 PPM with a comment line in the header
    ppm = b"P6\n# c\n2 2\n255\n" + rgb.tobytes()
    assert np.array_equal(decode_image(ppm), rgb)


def _png_chunk(typ, data):
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data))
    )


def _encode_png(img, filters):
    """Reference PNG encoder (spec-direct, test-only): 8-bit RGB with
    the given per-row filter types — the independent implementation the
    decoder is checked against."""
    import struct
    import zlib

    import numpy as np

    img = img.astype(np.int32)
    h, w = img.shape[:2]
    raw = bytearray()
    prev = np.zeros((w, 3), dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        cur = img[y]
        raw.append(f)
        for x in range(w):
            for c in range(3):
                a = int(cur[x - 1, c]) if x else 0
                b = int(prev[x, c])
                cc = int(prev[x - 1, c]) if x else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                raw.append((int(cur[x, c]) - pred) & 0xFF)
        prev = cur
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def test_decode_png_filters_roundtrip(spark):
    """Real PNG decode: encode a known RGB image with stdlib zlib using
    a different filter per scanline (None/Sub/Up/Average/Paeth) and
    require the exact pixels back — exercises every filter branch."""
    import struct
    import zlib

    import numpy as np

    from mapreducecf_spark.multimodal import decode_image

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    png = _encode_png(img, [0, 1, 2, 3, 4])
    assert np.array_equal(decode_image(png), img)
    # greyscale (color type 0) replicates to 3 channels
    g = np.arange(4, dtype=np.uint8).reshape(2, 2)
    graw = b"".join(b"\x00" + bytes(g[y]) for y in range(2))
    png_g = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(graw))
        + _png_chunk(b"IEND", b"")
    )
    out = decode_image(png_g)
    assert out.shape == (2, 2, 3)
    assert np.array_equal(out[:, :, 0], g) and np.array_equal(out[:, :, 2], g)


def test_decode_roundtrip_property(spark):
    """Seeded randomized round-trips: random geometries (including 1×1,
    1×N, N×1 edges), random per-row PNG filters, random PCM shapes —
    every decode must return the exact input."""
    import io
    import wave

    import numpy as np

    from mapreducecf_spark.multimodal import decode_audio, decode_image

    rng = np.random.default_rng(20260815)
    shapes = [(1, 1), (1, 5), (7, 1), (3, 3)] + [
        (int(rng.integers(1, 9)), int(rng.integers(1, 9))) for _ in range(8)
    ]
    for h, w in shapes:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        filters = [int(f) for f in rng.integers(0, 5, size=h)]
        assert np.array_equal(decode_image(_encode_png(img, filters)), img), (
            h,
            w,
            filters,
        )
    for _ in range(6):
        n = int(rng.integers(1, 200))
        ch = int(rng.integers(1, 3))
        pcm = rng.integers(-32768, 32768, size=n * ch, dtype=np.int64).astype("<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as f:
            f.setnchannels(ch)
            f.setsampwidth(2)
            f.setframerate(8000)
            f.writeframes(pcm.tobytes())
        x = decode_audio(buf.getvalue())
        want = pcm.astype(np.float32) / 32768.0
        if ch > 1:
            want = want.reshape(-1, ch)
        assert x.dtype == np.float32 and np.array_equal(x, want), (n, ch)


def test_arrow_stage_runs_real_codecs_end_to_end(spark):
    """The codec-agnostic claim, executed: the SAME mapInPandas stages
    the graded queries use run over REAL PNG / BMP / WAV payloads with the
    real decoders plugged in — and a malformed payload takes the
    ValueError drop path instead of killing the Arrow batch."""
    import io
    import struct
    import wave
    import zlib

    import numpy as np

    from mapreducecf_spark.multimodal import (
        audio_features,
        bmp24_bytes,
        decode_audio,
        decode_image,
        image_features,
    )

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    # 2x2 solid-color PNG (filter 0 rows)
    px = np.full((2, 2, 3), (200, 100, 50), dtype=np.uint8)
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(2))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(np.array([16384, -16384] * 8, dtype="<i2").tobytes())
    wav = buf.getvalue()

    # 2x2 solid-color 24-bit BMP (bottom-up, BGR, padded rows)
    bmp = bmp24_bytes(np.full((2, 2, 3), (10, 20, 30), dtype=np.uint8))

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(png)),
            (2, "image", bytearray(b"\x89PNG\r\n\x1a\nbroken")),  # drop path
            (3, "audio", bytearray(wav)),
            (4, "audio", bytearray(b"RIFF\x00\x00\x00\x00WAVE")),  # drop path
            (5, "image", bytearray(bmp)),
        ],
        "media_id bigint, kind string, payload binary",
    )
    # kind-filter upstream like the graded query does (codec-missing
    # NotImplementedError must surface loudly, so feeding WAV bytes to
    # the image stage is a deployment error, not a drop)
    imgs = {
        r["media_id"]: r
        for r in image_features(
            media.filter("kind = 'image'"), decode=decode_image
        ).collect()
    }
    assert set(imgs) == {1, 5}  # real decodes ran; malformed row dropped
    assert (imgs[1]["mean_r"], imgs[1]["mean_g"], imgs[1]["mean_b"]) == (
        200.0,
        100.0,
        50.0,
    )
    assert (imgs[5]["mean_r"], imgs[5]["mean_g"], imgs[5]["mean_b"]) == (
        10.0,
        20.0,
        30.0,
    )
    # audio_features only reads kind == 'audio'
    auds = {
        r["media_id"]: r for r in audio_features(media, decode=decode_audio).collect()
    }
    assert set(auds) == {3}
    assert auds[3]["n_samples"] == 16
    # |sample| = 16384/32768 = 0.5 everywhere -> rms 0.5 -> 500000 micro
    assert auds[3]["energy_micro"] == 500000
    assert auds[3]["zero_crossings"] == 15


def test_fake_decoder_is_deterministic_and_shaped(spark):
    import numpy as np

    from mapreducecf_spark.multimodal import FAKE_H, FAKE_W, fake_decode_rgb

    a = fake_decode_rgb(b"payload")
    b = fake_decode_rgb(b"payload")
    c = fake_decode_rgb(b"other")
    assert a.shape == (FAKE_H, FAKE_W, 3) and a.dtype == np.uint8
    assert (a == b).all()
    assert (a != c).any()


def test_payload_dedup_counts_and_pruning(spark, sf_dir):
    """Totals recomputed from the catalog; dup = rows minus distinct
    payloads, per kind."""
    from pyspark.sql import functions as F

    from mapreducecf_spark.multimodal import media_table, mm_payload_dedup

    got = {r["kind"]: r for r in mm_payload_dedup(spark, sf_dir).collect()}
    m = media_table(spark, sf_dir).select(
        "kind", F.md5("payload").alias("fp"), F.octet_length("payload").alias("n")
    ).collect()
    from collections import defaultdict

    rows = defaultdict(list)
    for r in m:
        rows[r["kind"]].append(r)
    for kind, rs in rows.items():
        g = got[kind]
        assert g["n_media"] == len(rs)
        assert g["n_unique"] == len({r["fp"] for r in rs})
        assert g["n_dup"] == len(rs) - g["n_unique"]
        assert g["total_bytes"] == sum(r["n"] for r in rs)


def test_phash_catches_every_planted_reencode(spark, sf_dir):
    """Every planted re-encode pair (doc, doc+VOFF) must surface with
    Hamming <= 1 — byte-level payload dedup cannot see these pairs at
    all (the payloads decode differently only after the jitter)."""
    from pyspark.sql import functions as F

    from mapreducecf_spark.multimodal import (
        PHASH_VOFF,
        mm_phash_neardup,
        phash_corpus,
    )

    planted = {
        r[0]
        for r in phash_corpus(spark, sf_dir)
        .filter(F.col("media_id") >= PHASH_VOFF)
        .select(F.col("media_id") - PHASH_VOFF)
        .collect()
    }
    pairs = mm_phash_neardup(spark, sf_dir).collect()
    found = {
        r["ida"]: r["hamming"]
        for r in pairs
        if r["idb"] == r["ida"] + PHASH_VOFF
    }
    assert planted, "corpus must plant at least one re-encode"
    assert planted <= set(found), planted - set(found)
    assert all(h <= 1 for h in found.values())


def test_audio_segments_invariants(spark, sf_dir):
    """Segment algebra: active frames ≤ total frames, longest ≤
    active, and n_segments == 0 iff n_active == 0; both VAD states
    must occur somewhere in the corpus (the threshold sits near the
    median)."""
    from mapreducecf_spark.multimodal import VAD_NFRAMES, mm_audio_segments

    rows = mm_audio_segments(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_frames"] == VAD_NFRAMES
        assert 0 <= r["n_active"] <= VAD_NFRAMES
        assert r["longest_segment"] <= r["n_active"]
        assert (r["n_segments"] == 0) == (r["n_active"] == 0)
        if r["n_segments"]:
            assert r["n_segments"] <= r["n_active"]
    assert any(r["n_active"] > 0 for r in rows)
    assert any(r["n_active"] < VAD_NFRAMES for r in rows)


def test_image_histogram_matches_local_recompute_and_real_codec(spark, sf_dir):
    """The histogram's bins must equal a local numpy recompute over the
    same fake decodes (shares reconcile per channel), and the SAME
    Arrow stage shape works on REAL codec output: a planted solid-color
    BMP decodes into a single bin."""
    import numpy as np

    from mapreducecf_spark.multimodal import (
        bmp24_bytes,
        decode_image,
        fake_decode_rgb,
        media_table,
    )
    from mapreducecf_spark.registry import QUERIES

    rows = QUERIES["mm_image_histogram"](spark, sf_dir).collect()
    media = media_table(spark, sf_dir).filter("kind = 'image'").collect()
    acc = {("r", b): 0 for b in range(4)}
    acc.update({("g", b): 0 for b in range(4)})
    acc.update({("b", b): 0 for b in range(4)})
    for r in media:
        if r["payload"] is None:
            continue
        img = fake_decode_rgb(bytes(r["payload"]))
        bins = img >> 6
        for ci, cname in enumerate("rgb"):
            for b, n in enumerate(np.bincount(bins[:, :, ci].ravel(), minlength=4)):
                acc[(cname, b)] += int(n)
    got = {(r["channel"], r["bin"]): r["n_px"] for r in rows}
    assert got == {k: v for k, v in acc.items() if v > 0}
    for ch in "rgb":
        tot = sum(v for (c, _), v in got.items() if c == ch)
        shares = [r["share_micro"] for r in rows if r["channel"] == ch]
        assert abs(sum(shares) - 1_000_000) <= len(shares)  # half-up per bin
    # real-codec path: a mid-grey BMP lands every pixel in bin 2
    solid = np.full((16, 16, 3), 130, np.uint8)
    img = decode_image(bmp24_bytes(solid))
    assert set(np.unique(img >> 6)) == {2}


def test_audio_fp_catches_every_planted_reencode(spark, sf_dir):
    """Every planted audio re-encode pair (doc, doc+AFP_VOFF) must
    surface with Hamming <= 2: the one-sample jitter perturbs exactly
    one frame's energy, so only the two adjacent delta-sign bits can
    flip — and with 4 chunks the banded join has exact recall there."""
    from pyspark.sql import functions as F

    from mapreducecf_spark.multimodal import (
        AFP_VOFF,
        audio_fp_corpus,
        mm_audio_fp_neardup,
    )

    planted = {
        r[0]
        for r in audio_fp_corpus(spark, sf_dir)
        .filter(F.col("media_id") >= AFP_VOFF)
        .select(F.col("media_id") - AFP_VOFF)
        .collect()
    }
    pairs = mm_audio_fp_neardup(spark, sf_dir).collect()
    found = {
        r["ida"]: r["hamming"]
        for r in pairs
        if r["idb"] == r["ida"] + AFP_VOFF
    }
    assert planted, "corpus must plant at least one re-encode"
    assert planted <= set(found), planted - set(found)
    assert all(h <= 2 for h in found.values())


def test_decoder_error_contract_under_corruption():
    """CORRUPTION FUZZ of the drop-path contract: for every natively
    decoded format (PNG, BMP, PNM, WAV PCM), random truncations / bit
    flips / garbage splices of a valid payload must either decode or
    raise ValueError / NotImplementedError — never IndexError,
    struct.error, stdlib RuntimeError, numpy shape errors, or a
    multi-GB allocation — so the Arrow image/audio feature stages can
    drop malformed rows instead of dying. Seeded rng: the exact
    corruption set replays."""
    import numpy as np

    from mapreducecf_spark.multimodal import (
        bmp24_bytes, decode_audio, decode_image, wav_pcm16_bytes)

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (24, 20, 3), dtype=np.uint8)
    x = rng.integers(-3000, 3000, 400, dtype=np.int64)
    image_payloads = {
        "png": _encode_png(img, [0]),
        "bmp": bmp24_bytes(img),
        "ppm": b"P6\n20 24\n255\n" + img.tobytes(),
    }
    audio_payloads = {"wav_pcm16": wav_pcm16_bytes(x)}

    def fuzz(name, payload, decode, n=120):
        r = np.random.default_rng(12345)
        for i in range(n):
            b = bytearray(payload)
            kind = r.integers(0, 3)
            if kind == 0 and len(b) > 4:
                b = b[: int(r.integers(1, len(b)))]
            elif kind == 1:
                for _ in range(int(r.integers(1, 6))):
                    b[int(r.integers(0, len(b)))] ^= int(r.integers(1, 256))
            else:
                pos = int(r.integers(0, len(b)))
                ins = bytes(r.integers(0, 256, int(r.integers(1, 16)), dtype=np.uint8))
                b[pos : pos + len(ins)] = ins
            try:
                decode(bytes(b))
            except (ValueError, NotImplementedError):
                pass
            except Exception as ex:  # noqa: BLE001 — the assertion itself
                raise AssertionError(
                    f"{name} corruption #{i} escaped the drop-path "
                    f"contract with {type(ex).__name__}: {ex}"
                ) from ex

    for name, p in image_payloads.items():
        fuzz(name, p, decode_image)
    for name, p in audio_payloads.items():
        fuzz(name, p, decode_audio)


def test_wav_and_bmp_builders_roundtrip_real_decoders():
    """The `_real` graded rows' container builders feed the REAL
    decoders: a WAV built from int16 samples decodes to exactly those
    samples (float32 path rescaled), and a BMP built from an RGB array
    (bottom-up + BGR + padded stride) decodes back pixel-exactly —
    including a non-multiple-of-4 width that exercises row padding."""
    import numpy as np

    from mapreducecf_spark.multimodal import (
        bmp24_bytes, decode_audio, decode_image, wav_pcm16_bytes)

    rng = np.random.default_rng(3)
    s = rng.integers(-32768, 32768, 301, dtype=np.int64).astype(np.int16)
    wav = wav_pcm16_bytes(s)
    x = decode_audio(wav)
    assert x.dtype == np.float32 and x.shape == (301,)
    assert np.array_equal(np.round(x.astype(np.float64) * 32768.0), s)

    for h, w in [(8, 8), (5, 7), (3, 10)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_image(bmp24_bytes(img)), img)


def test_mm_real_rows_match_fake_rows(spark, sf_dir):
    """`mm_audio_features_real` / `mm_image_features_real` must agree
    with their keystream-graded twins on every shared column — the
    real container+decoder path is a pure re-encoding of the same
    samples, so features are identical by construction."""
    from mapreducecf_spark.multimodal import (
        mm_audio_features, mm_audio_features_real,
        mm_image_features, mm_image_features_real)

    fake = {r["media_id"]: r for r in mm_audio_features(spark, sf_dir).collect()}
    real = mm_audio_features_real(spark, sf_dir).collect()
    assert len(real) == len(fake) > 0
    for r in real:
        f = fake[r["media_id"]]
        assert (r["n_samples"], r["energy_micro"], r["zero_crossings"]) == (
            f["n_samples"], f["energy_micro"], f["zero_crossings"])
        assert r["container"] == "wav-pcm16"
        assert r["n_container_bytes"] == 44 + 2 * r["n_samples"]

    ifake = {
        r["media_id"]: r
        for r in mm_image_features(spark, sf_dir).collect()
        if r["kind"] == "image"
    }
    ireal = mm_image_features_real(spark, sf_dir).collect()
    assert len(ireal) == len(ifake) > 0
    for r in ireal:
        f = ifake[r["media_id"]]
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (
            f["mean_r"], f["mean_g"], f["mean_b"])
        assert r["container"] == "bmp24" and r["n_container_bytes"] == 246
