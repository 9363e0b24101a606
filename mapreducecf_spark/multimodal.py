"""Multimodal columns — image/audio/video as opaque ``binary`` payloads
with typed metadata, plus the Spark-side plumbing of a decode /
feature-extract / frame-sample pipeline (north-star surface; the
reference is text-only, SURVEY.md §2.1).

:func:`decode_image` decodes PNG (stdlib ``zlib`` + per-spec scanline
filters), uncompressed BMP and binary PPM/PGM; :func:`decode_audio`
decodes RIFF/WAVE integer PCM (stdlib ``wave``). Every other format
raises ``NotImplementedError`` at that single plug-in point, where a
deployment plugs in PIL or soundfile. The ``_real`` graded rows feed
WAV PCM16 and 24-bit BMP containers through these decoders; the other
graded pipelines run on :func:`fake_decode_rgb` /
:func:`fake_decode_pcm` — deterministic md5-keystream decoders with the
same output contract — because the synthetic testdata payloads are
document bytes, not real media; the plumbing (schema, Arrow batching,
UDF signatures, partitioning) is identical either way.

100 TB design notes:

- Payloads stay **opaque bytes end-to-end**: the catalog/stat queries
  never decode, so Catalyst prunes the payload column away whenever a
  query doesn't touch it — the usual way a 100 TB media table is 99%
  cold bytes.
- Python is entered ONCE, via ``mapInPandas`` (Arrow batches, zero-copy
  into numpy), only for the decode/feature stage; upstream filters and
  downstream aggregations stay JVM-side. Batch size is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` so executor memory
  holds O(batch × decoded_size), independent of partition size.
- Frame sampling multiplies rows, not bytes: it emits (media_id,
  frame_idx, fingerprint), never materialized frames — the explode is
  driven by metadata arithmetic, no decode.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducecf_spark.registry import register
from mapreducecf_spark.sources import load_table

if TYPE_CHECKING:
    import pandas as pd

#: decoded-image geometry of the fake decoder (a real decoder reads it
#: from the payload header; ours fixes it so tests are deterministic)
FAKE_W, FAKE_H = 8, 8
FRAME_EVERY_MS = 40  # 25 fps sampling grid

KINDS = ("image", "audio", "video")
MIMES = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}


# ---------------------------------------------------------------------
# media synthesis (testdata ships no media table; derive one
# deterministically from documents so every SF has a media corpus)
# ---------------------------------------------------------------------
def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, kind, payload: binary, meta: struct) — payload is the
    document text's bytes (opaque to everything downstream), kind
    cycles by id, duration scales with payload size."""
    d = load_table(spark, sf_dir, "documents")
    kind = F.element_at(F.array(*[F.lit(k) for k in KINDS]), (F.col("doc_id") % 3 + 1).cast("int"))
    n = F.octet_length(F.col("payload"))
    return (
        d.select(
            F.col("doc_id").alias("media_id"),
            kind.alias("kind"),
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        )
        .withColumn(
            "meta",
            F.struct(
                F.lit(FAKE_W).alias("width"),
                F.lit(FAKE_H).alias("height"),
                F.lit(16000).alias("sample_rate"),
                (n * 10).cast("int").alias("duration_ms"),
            ),
        )
    )


# ---------------------------------------------------------------------
# decoders: PNG/BMP/PNM images and WAV PCM audio (pure stdlib +
# numpy), the NotImplementedError plug-in point for every other
# format, and the deterministic fakes the synthetic-payload pipelines
# run on
# ---------------------------------------------------------------------
def decode_image(payload: bytes) -> "object":
    """Decode an encoded image to an HxWx3 uint8 RGB array.

    Decodes PNG (8-bit grey/RGB/palette/alpha, non-interlaced),
    uncompressed 24/32-bit BI_RGB BMP and binary PPM/PGM (P6/P5).
    Greyscale replicates to 3 channels, alpha is dropped, palette is
    looked up — the contract is always HxWx3 uint8. Any other format
    (JPEG, GIF, TIFF, WebP, ...) raises ``NotImplementedError``: a
    deployment plugs PIL/cv2 into THIS body and nothing else changes —
    the pipeline plumbing is codec-agnostic. Malformed payloads of a
    decoded format raise ``ValueError`` (a decode error path the Arrow
    stage DROPS, never crashes on)."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] in (b"P6", b"P5"):
        return _decode_pnm(payload)
    raise NotImplementedError(
        "no codec for this image format (PNG/BMP/PPM/PGM decode natively; "
        "plug PIL/cv2 in here); use fake_decode_rgb for the deterministic "
        "test decoder"
    )


def decode_audio(payload: bytes) -> "object":
    """Decode encoded audio to a float32 PCM array in [-1, 1), shape
    (n_frames,) for mono or (n_frames, n_channels) otherwise.

    Decodes RIFF/WAVE integer PCM (8/16/32-bit, any channel count) via
    the stdlib ``wave`` reader. Any other format — including a WAV
    whose fmt tag is not PCM (ADPCM, G.711, float, ...) — raises
    ``NotImplementedError``, the plug-in point for soundfile; a
    truncated or malformed PCM WAV raises ``ValueError``."""
    import numpy as np

    is_wav = payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    if not is_wav or _wav_format_tag(payload) not in (None, 1):
        raise NotImplementedError(
            "no codec for this audio format (RIFF/WAVE integer PCM decodes "
            "natively; plug soundfile in here); use fake_decode_pcm for the "
            "deterministic test decoder"
        )
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            n_ch, sampwidth = w.getnchannels(), w.getsampwidth()
            frames = w.readframes(w.getnframes())
    except (wave.Error, EOFError, RuntimeError) as ex:
        # the stdlib reader raises a BARE RuntimeError on a chunk that
        # seeks past the buffer (wave.py Chunk.skip) — a malformed
        # payload, so it must surface as the drop path's ValueError
        raise ValueError(f"malformed WAV payload: {ex}") from ex
    if sampwidth == 1:  # WAV 8-bit is unsigned, midpoint 128
        x = (np.frombuffer(frames, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif sampwidth == 2:
        x = np.frombuffer(frames, dtype="<i2").astype(np.float32) / 32768.0
    elif sampwidth == 4:
        x = np.frombuffer(frames, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width {sampwidth}")
    return x if n_ch == 1 else x.reshape(-1, n_ch)


def _wav_format_tag(payload: bytes) -> "int | None":
    """Format tag of a RIFF/WAVE payload's fmt chunk (1 = integer PCM),
    or None when no complete fmt chunk is found — a malformed payload
    the stdlib ``wave`` reader then rejects."""
    import struct

    pos = 12
    while pos + 10 <= len(payload):
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if payload[pos : pos + 4] == b"fmt ":
            return struct.unpack_from("<H", payload, pos + 8)[0] if size >= 2 else None
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    return None


def _decode_png(payload: bytes) -> "object":
    """Pure stdlib+numpy PNG decode: 8-bit depth, color types
    0/2/3/4/6, no Adam7 interlacing (ValueError otherwise)."""
    import struct
    import zlib

    import numpy as np

    pos, w = 8, None
    idat, plte = [], None
    try:
        while pos < len(payload):
            (ln,) = struct.unpack(">I", payload[pos : pos + 4])
            typ = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + ln]
            if typ == b"IHDR":
                w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", data
                )
                if depth != 8 or interlace:
                    raise ValueError(
                        f"unsupported PNG (depth={depth}, interlace={interlace})"
                    )
            elif typ == b"PLTE":
                plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            elif typ == b"IDAT":
                idat.append(data)
            elif typ == b"IEND":
                break
            pos += 12 + ln
        if w is None or not idat:
            raise ValueError("PNG missing IHDR/IDAT")
        raw = zlib.decompress(b"".join(idat))
    except (struct.error, zlib.error) as ex:
        raise ValueError(f"malformed PNG payload: {ex}") from ex
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise ValueError(f"unsupported PNG color type {ctype}")
    stride = w * nch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data size mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    # per-spec filter reconstruction; a/b/c are the left / up /
    # up-left RECONSTRUCTED bytes at channel distance nch
    for y in range(h):
        f, line = rows[y, 0], rows[y, 1:].astype(np.int32)
        up = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        cur = np.empty(stride, dtype=np.int32)
        if f == 0:
            cur = line
        elif f == 2:
            cur = line + up
        else:
            for i in range(stride):
                a = cur[i - nch] if i >= nch else 0
                b = up[i]
                c = up[i - nch] if i >= nch else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) >> 1
                elif f == 4:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad PNG filter {f}")
                # mask BEFORE the store: the next pixel's a/c predictor
                # must read the mod-256 reconstructed byte
                cur[i] = (line[i] + pred) & 0xFF
        out[y] = cur & 0xFF
    px = out.reshape(h, w, nch)
    if ctype == 3:
        if plte is None:
            raise ValueError("paletted PNG missing PLTE")
        return plte[px[:, :, 0]]
    if nch == 1:
        return np.repeat(px, 3, axis=2)
    if nch == 2:  # grey + alpha: drop alpha, replicate grey
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3]  # RGB / RGBA→RGB


def _decode_bmp(payload: bytes) -> "object":
    """Uncompressed 24/32-bit BI_RGB BMP → HxWx3 uint8 RGB (rows are
    stored bottom-up, BGR, 4-byte padded)."""
    import struct

    import numpy as np

    try:
        off = struct.unpack("<I", payload[10:14])[0]
        hdr_sz = struct.unpack("<I", payload[14:18])[0]
        w, h = struct.unpack("<ii", payload[18:26])
        bpp = struct.unpack("<H", payload[28:30])[0]
        comp = struct.unpack("<I", payload[30:34])[0]
    except struct.error as ex:
        raise ValueError(f"malformed BMP header: {ex}") from ex
    if hdr_sz < 40 or comp != 0 or bpp not in (24, 32):
        raise ValueError(
            f"unsupported BMP (hdr={hdr_sz}, compression={comp}, bpp={bpp})"
        )
    flip = h > 0
    h = abs(h)
    nb = bpp // 8
    row_sz = (w * nb + 3) & ~3
    if len(payload) < off + row_sz * h:
        raise ValueError("BMP pixel data truncated")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_sz * h, offset=off
    ).reshape(h, row_sz)
    px = rows[:, : w * nb].reshape(h, w, nb)
    if flip:
        px = px[::-1]
    return px[:, :, 2::-1].copy()  # BGR(A) -> RGB


def _decode_pnm(payload: bytes) -> "object":
    """Binary PPM (P6) / PGM (P5), maxval 255 → HxWx3 uint8 RGB."""
    import numpy as np

    toks: list[bytes] = []
    pos = 2
    while len(toks) < 3 and pos < len(payload):
        # skip whitespace and '#' comment lines between header fields
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        toks.append(payload[start:pos])
    try:
        w, h, maxval = (int(t) for t in toks)
    except ValueError as ex:
        raise ValueError(f"malformed PNM header: {ex}") from ex
    if maxval != 255:
        raise ValueError(f"unsupported PNM maxval {maxval}")
    pos += 1  # single whitespace after maxval
    nch = 3 if payload[:2] == b"P6" else 1
    need = w * h * nch
    if len(payload) < pos + need:
        raise ValueError("PNM pixel data truncated")
    px = np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos).reshape(
        h, w, nch
    )
    return px if nch == 3 else np.repeat(px, 3, axis=2)


def _hex_keystream(seed_hex: str, n_bytes: int) -> bytes:
    """Expand a 32-char md5 hex seed to ``n_bytes`` via block hashes
    ``md5(f"{seed_hex}:{counter}")``. Every hash input is ASCII text —
    deliberately, so the whole keystream replays in ANY engine with a
    string md5 (DuckDB's ``md5(VARCHAR)`` included); a digest-bytes
    chain would need a binary md5 the oracle engine may not have."""
    hexs: list[str] = []
    counter = 0
    while len(hexs) * 16 < n_bytes:
        hexs.append(hashlib.md5(f"{seed_hex}:{counter}".encode()).hexdigest())
        counter += 1
    return bytes.fromhex("".join(hexs))[:n_bytes]


def fake_decode_pcm(payload: bytes, n_samples: int = 256):
    """Deterministic stand-in audio decoder: md5 hex keystream expanded
    to ``n_samples`` little-endian int16 PCM — same dtype/shape
    contract as a real codec (see decode_audio)."""
    import numpy as np

    seed_hex = hashlib.md5(b"pcm:" + payload).hexdigest()
    raw = _hex_keystream(seed_hex, n_samples * 2)
    return np.frombuffer(raw, dtype="<i2").astype(np.int64)


def fake_decode_rgb(payload: bytes, w: int = FAKE_W, h: int = FAKE_H):
    """Deterministic stand-in decoder: an md5 hex keystream over the
    payload expanded to h*w*3 uint8 — same dtype/shape contract as a
    real decode, bit-stable across runs and engines."""
    import numpy as np

    seed_hex = hashlib.md5(payload).hexdigest()
    raw = _hex_keystream(seed_hex, h * w * 3)
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


def wav_pcm16_bytes(samples) -> bytes:
    """Pack int16 mono samples into a REAL RIFF/WAVE PCM container
    (canonical 44-byte header, 16 kHz) — what the `_real` graded rows
    feed through :func:`decode_audio` so the driver gate exercises the
    actual RIFF walk + stdlib ``wave`` PCM path, not the keystream
    stand-in."""
    import struct

    data = samples.astype("<i2").tobytes()
    n = len(data)
    return (
        b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
        + b"data" + struct.pack("<I", n) + data
    )


def bmp24_bytes(rgb) -> bytes:
    """Pack an HxWx3 uint8 array into a REAL uncompressed 24-bit
    BI_RGB BMP (bottom-up rows, BGR, 4-byte padded stride) — the image
    twin of :func:`wav_pcm16_bytes` for the `_real` graded rows."""
    import struct

    import numpy as np

    h, w = rgb.shape[:2]
    row_sz = (w * 3 + 3) & ~3
    rows = np.zeros((h, row_sz), np.uint8)
    rows[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)
    pix = rows.tobytes()
    return (
        b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
        + pix
    )


# ---------------------------------------------------------------------
# pipeline stages
# ---------------------------------------------------------------------
_FEATURE_SCHEMA = (
    "media_id bigint, kind string, n_bytes int, "
    "mean_r double, mean_g double, mean_b double"
)


def image_features(media: DataFrame, decode=None) -> DataFrame:
    """Decode + per-channel mean features via ``mapInPandas`` — ONE
    Python stage, Arrow-batched; the payload never round-trips back
    to the JVM (only the tiny feature row does). ``decode`` is the
    pluggable codec (payload bytes → HxWx3 uint8): the graded default
    is :func:`fake_decode_rgb` (synthetic payloads), and the pytest
    runs the SAME stage over real PNG bytes with :func:`decode_image`
    — the codec-agnostic claim, executed."""
    decode = decode or fake_decode_rgb

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            feats = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                if payload is None:
                    # failed fetch/transcode lands as a NULL payload; the
                    # decode stage DROPS it (a real decoder's error path),
                    # it must never kill the Arrow batch
                    continue
                try:
                    img = decode(bytes(payload))
                except ValueError:
                    continue  # malformed-container decode error: drop row
                m = img.reshape(-1, 3).mean(axis=0)
                feats.append(
                    (int(mid), kind, len(payload), float(m[0]), float(m[1]), float(m[2]))
                )
            yield pd.DataFrame(
                feats,
                columns=["media_id", "kind", "n_bytes", "mean_r", "mean_g", "mean_b"],
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        batches, _FEATURE_SCHEMA
    )


def frame_samples(media: DataFrame, every_ms: int = FRAME_EVERY_MS) -> DataFrame:
    """Sample frame slots from video metadata — pure JVM arithmetic
    (sequence + explode on duration), no decode: row count is
    duration/every_ms, payload bytes are never copied. The fingerprint
    stands in for the decoded frame a real pipeline would hand to the
    next stage."""
    # guard: a clip shorter than the sampling step yields no frames
    # (sequence(0, -1) would count DOWN, not produce an empty array)
    v = media.filter(
        (F.col("kind") == "video") & (F.col("meta.duration_ms") >= every_ms)
    )
    idx = F.explode(
        F.sequence(F.lit(0), F.floor(F.col("meta.duration_ms") / every_ms).cast("int") - 1)
    ).alias("frame_idx")
    return v.select("media_id", idx, F.col("meta.duration_ms").alias("duration_ms")).select(
        "media_id",
        "frame_idx",
        (F.col("frame_idx") * every_ms).alias("frame_ms"),
        F.md5(F.concat_ws(":", "media_id", "frame_idx")).alias("frame_fingerprint"),
    )


# ---------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------
@register(
    "mm_catalog",
    oracle="""
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       octet_length(encode(text)) AS n_bytes,
       CAST(octet_length(encode(text)) * 10 AS INTEGER) AS duration_ms
FROM documents
""",
)
def mm_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media catalog scan: metadata only — the payload column is pruned
    out of the parquet read entirely (the common fast path over a media
    lake)."""
    m = media_table(spark, sf_dir)
    return m.select(
        "media_id",
        "kind",
        F.octet_length("payload").alias("n_bytes"),
        F.col("meta.duration_ms").alias("duration_ms"),
    )


@register(
    "mm_image_features",
    oracle=f"""
WITH media AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         octet_length(encode(text)) AS n_bytes,
         md5(text) AS seed
  FROM documents WHERE text IS NOT NULL),
blocks AS (
  SELECT media_id, kind, n_bytes,
         string_agg(md5(seed || ':' || c), '' ORDER BY c) AS hexs
  FROM media, range({FAKE_W * FAKE_H * 3 // 16}) t(c)
  GROUP BY media_id, kind, n_bytes),
bytes AS (
  SELECT media_id, kind, n_bytes, i,
         ('0x' || substr(hexs, CAST(2 * i + 1 AS INT), 2))::INT AS b
  FROM blocks, range({FAKE_W * FAKE_H * 3}) t(i))
SELECT media_id, kind, n_bytes,
       sum(CASE WHEN i % 3 = 0 THEN b END) / {FAKE_W * FAKE_H}.0 AS mean_r,
       sum(CASE WHEN i % 3 = 1 THEN b END) / {FAKE_W * FAKE_H}.0 AS mean_g,
       sum(CASE WHEN i % 3 = 2 THEN b END) / {FAKE_W * FAKE_H}.0 AS mean_b
FROM bytes GROUP BY media_id, kind, n_bytes
""",
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over the synthesized media corpus — the one
    deliberately-Python (Arrow ``mapInPandas``) decode stage.

    Hash-gated since r07: the fake decoder's keystream is built from
    STRING md5 blocks (``md5(f"{{seed_hex}}:{{counter}}")``), so the
    oracle replays decode + per-channel means in pure DuckDB SQL —
    hex-pair byte parsing, then channel sums over a lateral ``range``.
    Means divide an exact integer sum by a power of two (64 pixels),
    so numpy's float64 mean and SQL's ``sum/64.0`` agree bitwise."""
    return image_features(media_table(spark, sf_dir))


_AUDIO_SCHEMA = (
    "media_id bigint, n_samples int, energy_micro bigint, zero_crossings int"
)


def audio_features(media: DataFrame, decode=None) -> DataFrame:
    """Audio twin of image_features: PCM decode + RMS energy +
    zero-crossing count per clip, one Arrow-batched Python stage;
    ``decode`` is pluggable like image_features' (graded default
    :func:`fake_decode_pcm`, real-WAV pytest via :func:`decode_audio`).

    Energy ships as INTEGER MICRO-UNITS (``int(rms * 1e6)``, i.e. a
    floor) — the repo's usual fixed-point trick (see the EWMA and
    priority-sampling queries): every step up to the floor is exact or
    correctly-rounded IEEE double math, so any engine replays the
    integer bit-for-bit, with no dependence on decimal-rounding
    semantics that differ between Python ``round`` and SQL ``round``."""

    decode = decode or fake_decode_pcm

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue  # failed fetch: decode drops, never crashes
                try:
                    pcm = decode(bytes(payload))
                except ValueError:
                    continue  # malformed-container decode error: drop row
                energy = float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2)))
                zc = int(np.count_nonzero(np.diff(np.signbit(pcm))))
                rows.append((int(mid), len(pcm), int(energy * 1e6), zc))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "energy_micro", "zero_crossings"],
            )

    return media.filter(F.col("kind") == "audio").select(
        "media_id", "payload"
    ).mapInPandas(batches, _AUDIO_SCHEMA)


@register(
    "mm_audio_features",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id, md5('pcm:' || text) AS seed
  FROM documents WHERE doc_id % 3 = 1 AND text IS NOT NULL),
blocks AS (
  SELECT media_id, string_agg(md5(seed || ':' || c), '' ORDER BY c) AS hexs
  FROM media, range(32) t(c) GROUP BY media_id),
pcm AS (
  SELECT media_id, i,
         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
  FROM (
    SELECT media_id, i,
           ('0x' || substr(hexs, CAST(4 * i + 1 AS INT), 2))::INT
           + 256 * ('0x' || substr(hexs, CAST(4 * i + 3 AS INT), 2))::INT AS u
    FROM blocks, range(256) t(i)))
SELECT media_id,
       CAST(256 AS INT) AS n_samples,
       CAST(floor(sqrt(sum(CAST(s AS DOUBLE) * s) / 256.0) * 1000000.0) AS BIGINT)
         AS energy_micro,
       CAST(sum(CASE WHEN (s < 0) != (nxt < 0) THEN 1 ELSE 0 END) AS INT)
         AS zero_crossings
FROM (SELECT media_id, s,
             lead(s) OVER (PARTITION BY media_id ORDER BY i) AS nxt
      FROM pcm)
GROUP BY media_id
""",
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over the synthesized corpus — the
    audio leg of the decode/feature plumbing.

    Hash-gated since r07 like the image leg: the PCM keystream replays
    as string-md5 blocks, little-endian int16 parsing is two hex-pair
    casts, RMS energy is exact-integer sum-of-squares / 256 (power of
    two) → sqrt → micro-unit floor, and zero crossings are a ``lead``
    window over the sample index (numpy's ``diff(signbit)`` twin; the
    final sample's NULL ``lead`` comparison is FALSE, matching diff's
    n-1 length)."""
    return audio_features(media_table(spark, sf_dir))


_REAL_AUDIO_SCHEMA = (
    "media_id bigint, container string, n_container_bytes int, "
    "n_samples int, energy_micro bigint, zero_crossings int"
)


@register(
    "mm_audio_features_real",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id, md5('pcm:' || text) AS seed
  FROM documents WHERE doc_id % 3 = 1 AND text IS NOT NULL),
blocks AS (
  SELECT media_id, string_agg(md5(seed || ':' || c), '' ORDER BY c) AS hexs
  FROM media, range(32) t(c) GROUP BY media_id),
pcm AS (
  SELECT media_id, i,
         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
  FROM (
    SELECT media_id, i,
           ('0x' || substr(hexs, CAST(4 * i + 1 AS INT), 2))::INT
           + 256 * ('0x' || substr(hexs, CAST(4 * i + 3 AS INT), 2))::INT AS u
    FROM blocks, range(256) t(i)))
SELECT media_id,
       'wav-pcm16' AS container,
       CAST(44 + 256 * 2 AS INT) AS n_container_bytes,
       CAST(256 AS INT) AS n_samples,
       CAST(floor(sqrt(sum(CAST(s AS DOUBLE) * s) / 256.0) * 1000000.0) AS BIGINT)
         AS energy_micro,
       CAST(sum(CASE WHEN (s < 0) != (nxt < 0) THEN 1 ELSE 0 END) AS INT)
         AS zero_crossings
FROM (SELECT media_id, s,
             lead(s) OVER (PARTITION BY media_id ORDER BY i) AS nxt
      FROM pcm)
GROUP BY media_id
""",
)
def mm_audio_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mm_audio_features`` through the REAL audio decoder (VERDICT
    r17 #3): each clip's keystream PCM16 is packed into an actual
    RIFF/WAVE container (:func:`wav_pcm16_bytes`) and decoded by
    :func:`decode_audio` — the genuine RIFF chunk walk, fmt-tag
    sniff, stdlib ``wave`` PCM read and float32 [-1, 1) scaling — so
    the driver's hash gate covers the production decode path, not the
    keystream stand-in. int16 → float32 is exact (|s| ≤ 2¹⁵ < 2²⁴ and
    the /32768 is a power of two), so rescaling by 32768 recovers the
    integer samples bit-for-bit and the features — RMS energy in
    micro-units, zero crossings — replay in the oracle with the SAME
    keystream math as ``mm_audio_features``.

    Scale: identical shape to ``mm_audio_features`` — one Arrow
    ``mapInPandas`` stage, payload column pruned upstream, batch
    memory bounded by arrow maxRecordsPerBatch."""
    media = media_table(spark, sf_dir)

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                seed_hex = hashlib.md5(b"pcm:" + bytes(payload)).hexdigest()
                raw = _hex_keystream(seed_hex, 256 * 2)
                wav = wav_pcm16_bytes(np.frombuffer(raw, dtype="<i2"))
                try:
                    x = decode_audio(wav)  # float32 in [-1, 1)
                except ValueError:
                    continue  # malformed container: the drop path
                s = np.round(x.astype(np.float64) * 32768.0).astype(np.int64)
                energy = float(np.sqrt(np.mean(s.astype(np.float64) ** 2)))
                zc = int(np.count_nonzero(np.diff(np.signbit(s))))
                rows.append(
                    (int(mid), "wav-pcm16", len(wav), len(s),
                     int(energy * 1e6), zc)
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "container", "n_container_bytes",
                         "n_samples", "energy_micro", "zero_crossings"],
            )

    return media.filter(F.col("kind") == "audio").select(
        "media_id", "payload"
    ).mapInPandas(batches, _REAL_AUDIO_SCHEMA)


_REAL_IMAGE_SCHEMA = (
    "media_id bigint, container string, n_container_bytes int, "
    "mean_r double, mean_g double, mean_b double"
)


@register(
    "mm_image_features_real",
    oracle=f"""
WITH media AS (
  SELECT doc_id AS media_id, md5(text) AS seed
  FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL),
blocks AS (
  SELECT media_id,
         string_agg(md5(seed || ':' || c), '' ORDER BY c) AS hexs
  FROM media, range({FAKE_W * FAKE_H * 3 // 16}) t(c)
  GROUP BY media_id),
bytes AS (
  SELECT media_id, i,
         ('0x' || substr(hexs, CAST(2 * i + 1 AS INT), 2))::INT AS b
  FROM blocks, range({FAKE_W * FAKE_H * 3}) t(i))
SELECT media_id,
       'bmp24' AS container,
       CAST(54 + {FAKE_H} * (({FAKE_W} * 3 + 3) // 4 * 4) AS INT)
         AS n_container_bytes,
       sum(CASE WHEN i % 3 = 0 THEN b END) / {FAKE_W * FAKE_H}.0 AS mean_r,
       sum(CASE WHEN i % 3 = 1 THEN b END) / {FAKE_W * FAKE_H}.0 AS mean_g,
       sum(CASE WHEN i % 3 = 2 THEN b END) / {FAKE_W * FAKE_H}.0 AS mean_b
FROM bytes GROUP BY media_id
""",
)
def mm_image_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mm_image_features`` through the REAL image decoder (VERDICT
    r17 #3, image leg): the keystream pixels are packed into an actual
    uncompressed 24-bit BMP — bottom-up rows, BGR byte order, padded
    stride (:func:`bmp24_bytes`) — and decoded by :func:`decode_image`,
    whose BMP branch must un-flip and un-swap to recover the exact
    keystream array; per-channel means then replay in the oracle with
    the SAME keystream math as ``mm_image_features`` (integer sums over
    a power-of-two pixel count, so float64 means agree bitwise)."""
    media = media_table(spark, sf_dir)

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                rgb = fake_decode_rgb(bytes(payload))
                bmp = bmp24_bytes(rgb)
                try:
                    img = decode_image(bmp)
                except ValueError:
                    continue  # malformed container: the drop path
                m = img.astype(np.float64).mean(axis=(0, 1))
                rows.append(
                    (int(mid), "bmp24", len(bmp),
                     float(m[0]), float(m[1]), float(m[2]))
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "container", "n_container_bytes",
                         "mean_r", "mean_g", "mean_b"],
            )

    return media.filter(F.col("kind") == "image").select(
        "media_id", "payload"
    ).mapInPandas(batches, _REAL_IMAGE_SCHEMA)


@register(
    "mm_frame_sample",
    oracle=f"""
SELECT media_id, frame_idx,
       frame_idx * {FRAME_EVERY_MS} AS frame_ms,
       md5(media_id || ':' || frame_idx) AS frame_fingerprint
FROM (
  SELECT doc_id AS media_id,
         unnest(range(octet_length(encode(text)) * 10 // {FRAME_EVERY_MS}))
           AS frame_idx
  FROM documents
  WHERE doc_id % 3 = 2 AND octet_length(encode(text)) * 10 >= {FRAME_EVERY_MS}) t
""",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-slot sampling for the video subset (metadata arithmetic +
    explode; fingerprints are md5 so the oracle replays exactly)."""
    return frame_samples(media_table(spark, sf_dir))


@register(
    "mm_payload_dedup",
    oracle="""
WITH cat AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
           AS kind,
         md5(text) AS payload_fp,  -- payload IS utf8(text): same bytes hashed
         octet_length(encode(text)) AS n_bytes
  FROM documents)
SELECT kind,
       count(*) AS n_media,
       CAST(count(DISTINCT payload_fp) AS BIGINT) AS n_unique,
       CAST(count(*) - count(DISTINCT payload_fp) AS BIGINT) AS n_dup,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes
FROM cat GROUP BY kind
""",
)
def mm_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical media dedup telemetry per modality — the first
    pass every media lake runs (identical bytes under different ids are
    the dominant dup class for scraped assets): md5 over the RAW
    payload bytes, then duplicate counts and reclaimable volume per
    kind. A perceptual-hash pass (the near-dup analogue) would slot in
    exactly where the md5 is; the Spark-side shape is identical.

    100 TB shape: the payload is touched ONCE by the md5 projection
    folded into the scan — the shuffle carries (kind, 16-byte fp) pairs
    only, never media bytes, so dedup cost is scan-bound regardless of
    asset size."""
    m = media_table(spark, sf_dir)
    cat = m.select(
        "kind",
        F.md5("payload").alias("payload_fp"),
        F.octet_length("payload").alias("n_bytes"),
    )
    return cat.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.count_distinct("payload_fp").cast("bigint").alias("n_unique"),
        (F.count("*") - F.count_distinct("payload_fp")).cast("bigint").alias("n_dup"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
    )


# ---------------------------------------------------------------------
# perceptual-hash near-dup over the image corpus
# ---------------------------------------------------------------------
#: variant-row id offset: each planted "re-encode" of image doc_id is
#: media_id = doc_id + PHASH_VOFF (every 5th image gets one)
PHASH_VOFF = 1_000_000_000
#: luma jitter the simulated re-encode applies to ONE pixel block —
#: stands in for lossy-codec noise (capped add, no wraparound)
PHASH_JITTER = 24
#: fixed luma midpoint floor(3*255/2): the bit is sign(luma - mid), so
#: a k-pixel perturbation flips AT MOST k bits (a per-image mean
#: threshold would let one pixel's jitter move every borderline bit)
PHASH_THRESH = 383
PHASH_CHUNKS = 4
#: pigeonhole-exact at Hamming <= 3 with 4 chunks (same argument as
#: dedup_simhash_pairs)
PHASH_HAMMING_K = PHASH_CHUNKS - 1

_PHASH_SCHEMA = "media_id bigint, c0 int, c1 int, c2 int, c3 int"


def phash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-kind media plus a deterministic planted re-encode per 5th
    image: same payload, ``jp`` = the pixel block the simulated lossy
    re-encode perturbs (-1 on originals). The pair (original, variant)
    is byte-DIFFERENT after decode, so byte-level dedup can't see it —
    exactly the gap perceptual hashing exists to close."""
    m = media_table(spark, sf_dir).filter(F.col("kind") == "image")
    base = m.select("media_id", "payload", F.lit(-1).alias("jp"))
    var = m.filter(F.col("media_id") % 5 == 0).select(
        (F.col("media_id") + PHASH_VOFF).alias("media_id"),
        "payload",
        (F.col("media_id") % 64).cast("int").alias("jp"),
    )
    return base.unionByName(var)


def phash_fingerprints(corpus: DataFrame) -> DataFrame:
    """64-bit blockhash fingerprint per image as 4×16-bit chunks: decode
    (fake) → per-pixel luma (r+g+b) → threshold against the FIXED
    midpoint {PHASH_THRESH} → pack. One Arrow ``mapInPandas`` stage
    (the only Python), emitting 4 ints per image — the payload never
    returns to the JVM."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        w = np.arange(15, -1, -1)
        for pdf in it:
            rows = []
            for mid, payload, jp in zip(
                pdf["media_id"], pdf["payload"], pdf["jp"]
            ):
                if payload is None:
                    continue  # failed fetch: drop, never crash the batch
                img = fake_decode_rgb(bytes(payload))
                lum = img.reshape(-1, 3).astype(np.int64).sum(axis=1)
                if jp >= 0:
                    lum[jp] = min(int(lum[jp]) + PHASH_JITTER, 765)
                bits = (lum > PHASH_THRESH).astype(np.int64)
                cks = [
                    int((bits[16 * j : 16 * j + 16] << w).sum())
                    for j in range(PHASH_CHUNKS)
                ]
                rows.append((int(mid), *cks))
            yield pd.DataFrame(
                rows, columns=["media_id", "c0", "c1", "c2", "c3"]
            )

    return corpus.mapInPandas(batches, _PHASH_SCHEMA)


def phash_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized fingerprint table — the banded self-join
    consumes BOTH sides from the cache, so the Arrow decode runs once
    per session, not once per join side (same discipline as
    ``dedup.simhash_chunks``; prewarm.py carries the build)."""
    from mapreducecf_spark.memo import session_memo

    return session_memo(
        spark,
        ("phash_chunks", sf_dir),
        lambda: phash_fingerprints(phash_corpus(spark, sf_dir)),
    )


_PHASH_HAM_SQL = (
    "bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) "
    "+ bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3))"
)


@register(
    "mm_phash_neardup",
    oracle=f"""
WITH media AS (
  SELECT doc_id AS media_id, md5(text) AS seed, -1 AS jp
  FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + {PHASH_VOFF} AS media_id, md5(text) AS seed,
         CAST(doc_id % 64 AS INT) AS jp
  FROM documents WHERE doc_id % 15 = 0 AND text IS NOT NULL),
blocks AS (
  SELECT media_id, jp,
         string_agg(md5(seed || ':' || c), '' ORDER BY c) AS hexs
  FROM media, range({FAKE_W * FAKE_H * 3 // 16}) t(c)
  GROUP BY 1, 2),
lum AS (
  SELECT media_id, jp, i AS p,
         ('0x' || substr(hexs, CAST(6 * i + 1 AS INT), 2))::INT
       + ('0x' || substr(hexs, CAST(6 * i + 3 AS INT), 2))::INT
       + ('0x' || substr(hexs, CAST(6 * i + 5 AS INT), 2))::INT AS l
  FROM blocks, range({FAKE_W * FAKE_H}) t(i)),
bits AS (
  SELECT media_id, p,
         CASE WHEN (CASE WHEN p = jp THEN least(l + {PHASH_JITTER}, 765)
                         ELSE l END) > {PHASH_THRESH}
              THEN 1 ELSE 0 END AS bit
  FROM lum),
fp AS (
  SELECT media_id,
         CAST(sum(CASE WHEN p // 16 = 0 THEN bit << (15 - p % 16) ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN p // 16 = 1 THEN bit << (15 - p % 16) ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN p // 16 = 2 THEN bit << (15 - p % 16) ELSE 0 END) AS BIGINT) AS c2,
         CAST(sum(CASE WHEN p // 16 = 3 THEN bit << (15 - p % 16) ELSE 0 END) AS BIGINT) AS c3
  FROM bits GROUP BY 1),
chunks AS (
  SELECT media_id, c0, c1, c2, c3, j AS ci,
         CASE j WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS ck
  FROM fp, range({PHASH_CHUNKS}) t(j))
SELECT DISTINCT a.media_id AS ida, b.media_id AS idb,
       CAST({_PHASH_HAM_SQL} AS BIGINT) AS hamming
FROM chunks a JOIN chunks b
  ON a.ci = b.ci AND a.ck = b.ck AND a.media_id < b.media_id
WHERE {_PHASH_HAM_SQL} <= {PHASH_HAMMING_K}
""",
)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over the image corpus — the
    vision twin of SimHash dedup: blockhash fingerprints (fixed-midpoint
    luma bits, {PHASH_CHUNKS}×16-bit chunks) → equi-join on
    (chunk_idx, chunk) → Hamming ≤ {PHASH_HAMMING_K} verify fused into
    the join projection. The corpus plants one simulated re-encode per
    5th image (same payload, one jittered pixel block): byte-identical
    dedup misses every planted pair; this query catches them all at
    Hamming ≤ 1, while unrelated images sit near the 32-bit mean.

    Scale shape mirrors ``dedup_simhash_pairs``: each join side carries
    its 4 chunk ints, so the verify needs no second join; the chunk
    equi-join has EXACT recall at the threshold (pigeonhole over
    {PHASH_CHUNKS} chunks); decode enters Python once via Arrow
    ``mapInPandas`` and only 4 ints per image come back. At 100 TB the
    fingerprint table is ~32 bytes/image — the media bytes never
    shuffle."""
    chunks = phash_chunks(spark, sf_dir)
    band = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("ci"),
                    F.col(f"c{j}").alias("ck"),
                )
                for j in range(PHASH_CHUNKS)
            ]
        )
    ).alias("c")
    banded = chunks.select("media_id", "c0", "c1", "c2", "c3", band).select(
        "media_id", "c0", "c1", "c2", "c3", "c.ci", "c.ck"
    )
    ham = sum(
        F.bit_count(F.col(f"a.c{j}").bitwiseXOR(F.col(f"b.c{j}")))
        for j in range(PHASH_CHUNKS)
    ).cast("bigint")
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["ci", "ck"])
        .filter(F.col("a.media_id") < F.col("b.media_id"))
        .select(
            F.col("a.media_id").alias("ida"),
            F.col("b.media_id").alias("idb"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= PHASH_HAMMING_K)
        .distinct()
    )


# ---------------------------------------------------------------------
# audio activity segmentation (VAD-shaped)
# ---------------------------------------------------------------------
VAD_FRAME = 32  # samples per analysis frame (256-sample clips -> 8 frames)
VAD_NFRAMES = 256 // VAD_FRAME
#: activity threshold on integer-micro frame RMS — near the corpus
#: median so both segment states are well represented
VAD_THRESH_MICRO = 18_800_000_000

_VAD_SCHEMA = "media_id bigint, f int, energy_micro bigint"


def audio_frames(media: DataFrame) -> DataFrame:
    """Per-frame RMS energy over the fake-PCM decode — the framing
    stage of voice-activity detection: one Arrow ``mapInPandas`` stage
    emits (clip, frame, integer-micro energy); segmentation stays
    JVM-side."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                pcm = fake_decode_pcm(bytes(payload)).astype(np.float64)
                for f in range(VAD_NFRAMES):
                    fr = pcm[VAD_FRAME * f : VAD_FRAME * (f + 1)]
                    # sum/2^k then sqrt: every step exact or correctly
                    # rounded, so int(x*1e6) replays cross-engine
                    rms = float(np.sqrt((fr * fr).sum() / float(VAD_FRAME)))
                    rows.append((int(mid), f, int(rms * 1e6)))
            yield pd.DataFrame(rows, columns=["media_id", "f", "energy_micro"])

    return media.filter(F.col("kind") == "audio").select(
        "media_id", "payload"
    ).mapInPandas(batches, _VAD_SCHEMA)


@register(
    "mm_audio_segments",
    oracle=f"""
WITH media AS (
  SELECT doc_id AS media_id, md5('pcm:' || text) AS seed
  FROM documents WHERE doc_id % 3 = 1 AND text IS NOT NULL),
blocks AS (
  SELECT media_id, string_agg(md5(seed || ':' || c), '' ORDER BY c) AS hexs
  FROM media, range(32) t(c) GROUP BY 1),
pcm AS (
  SELECT media_id, i,
         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
  FROM (
    SELECT media_id, i,
           ('0x' || substr(hexs, CAST(4 * i + 3 AS INT), 2)
                 || substr(hexs, CAST(4 * i + 1 AS INT), 2))::INT AS u
    FROM blocks, range(256) t(i)) b),
frames AS (
  SELECT media_id, CAST(i // {VAD_FRAME} AS INT) AS f,
         CAST(floor(sqrt(sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                         / {VAD_FRAME}.0) * 1e6) AS BIGINT) AS energy_micro
  FROM pcm GROUP BY 1, 2),
active AS (
  SELECT media_id, f FROM frames WHERE energy_micro > {VAD_THRESH_MICRO}),
isl AS (
  SELECT media_id, f,
         f - row_number() OVER (PARTITION BY media_id ORDER BY f) AS g
  FROM active),
segs AS (SELECT media_id, g, count(*) AS len FROM isl GROUP BY 1, 2),
per_clip AS (
  SELECT s.media_id,
         CAST(count(*) AS BIGINT) AS n_segments,
         CAST(max(len) AS BIGINT) AS longest_segment,
         CAST(sum(len) AS BIGINT) AS n_active
  FROM segs s GROUP BY 1)
SELECT m.media_id,
       {VAD_NFRAMES} AS n_frames,
       coalesce(p.n_active, 0) AS n_active,
       coalesce(p.n_segments, 0) AS n_segments,
       coalesce(p.longest_segment, 0) AS longest_segment
FROM media m LEFT JOIN per_clip p ON p.media_id = m.media_id
""",
)
def mm_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-shaped segmentation of every audio clip: frame
    the PCM into {VAD_NFRAMES} windows of {VAD_FRAME} samples, score
    integer-micro RMS per frame, threshold into active/inactive, and
    collapse consecutive active frames into segments (count, longest,
    total) — the structure extraction a speech-data pipeline runs
    before transcription to skip silence and split long recordings.

    Composition is the point: Python (Arrow ``mapInPandas``) is
    entered ONLY for the decode+framing stage, emitting 3 ints per
    frame; the segmentation itself is the relational gaps-and-islands
    idiom (row_number difference → island key → groupBy) the SCD2
    query already uses, running fully JVM-side on the tiny frame
    table. Clips with no active frames keep a row (LEFT JOIN back to
    the clip set). At 100 TB the frame table is |clips|×{VAD_NFRAMES}
    rows — the audio bytes never shuffle."""
    m = media_table(spark, sf_dir)
    frames = audio_frames(m)
    active = frames.filter(F.col("energy_micro") > VAD_THRESH_MICRO)
    w = Window.partitionBy("media_id").orderBy("f")
    isl = active.select(
        "media_id", "f", (F.col("f") - F.row_number().over(w)).alias("g")
    )
    segs = isl.groupBy("media_id", "g").agg(F.count("*").alias("len"))
    per_clip = segs.groupBy("media_id").agg(
        F.count("*").cast("bigint").alias("n_segments"),
        F.max("len").cast("bigint").alias("longest_segment"),
        F.sum("len").cast("bigint").alias("n_active"),
    )
    clips = m.filter(F.col("kind") == "audio").select("media_id")
    return clips.join(per_clip, "media_id", "left").select(
        "media_id",
        F.lit(VAD_NFRAMES).alias("n_frames"),
        F.coalesce("n_active", F.lit(0)).cast("bigint").alias("n_active"),
        F.coalesce("n_segments", F.lit(0)).cast("bigint").alias("n_segments"),
        F.coalesce("longest_segment", F.lit(0))
        .cast("bigint")
        .alias("longest_segment"),
    )


@register(
    "mm_image_histogram",
    oracle=f"""
WITH media AS (
  SELECT doc_id AS media_id, md5(text) AS seed
  FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 0),
blocks AS (
  SELECT media_id, string_agg(md5(seed || ':' || c), '' ORDER BY c) AS hexs
  FROM media, range({FAKE_W * FAKE_H * 3 // 16}) t(c)
  GROUP BY media_id),
bytes AS (
  SELECT media_id, i,
         ('0x' || substr(hexs, CAST(2 * i + 1 AS INT), 2))::INT AS b
  FROM blocks, range({FAKE_W * FAKE_H * 3}) t(i)),
hist AS (
  SELECT CAST(i % 3 AS INT) AS ch, CAST(b // 64 AS INT) AS bin,
         CAST(count(*) AS BIGINT) AS n_px
  FROM bytes GROUP BY 1, 2),
tot AS (SELECT ch, CAST(sum(n_px) AS BIGINT) AS tot FROM hist GROUP BY 1)
SELECT CASE h.ch WHEN 0 THEN 'r' WHEN 1 THEN 'g' ELSE 'b' END AS channel,
       h.bin, h.n_px,
       CAST((2000000 * h.n_px + t.tot) // (2 * t.tot) AS BIGINT)
         AS share_micro
FROM hist h JOIN tot t ON t.ch = h.ch
""",
)
def mm_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level per-channel COLOR HISTOGRAM over the decoded image
    corpus (r14) — the color-stats gate an image-curation pipeline
    reads before training (flag washed-out / near-black / clipped
    sources): each decoded pixel's channel value bins into 4 intensity
    quartiles (b >> 6), aggregated corpus-wide per (channel, bin) with
    the r14 half-up integer share quantization floor((2e6·n+t)/(2t)).

    Decode is the same Arrow ``mapInPandas`` stage shape as
    ``image_features`` — the payload never leaves Python, only 12
    tiny (channel, bin, count) partials per batch shuffle (map-side
    combine of the histogram, the classic decode→reduce pattern). The
    graded decoder is the deterministic md5-keystream fake so the
    oracle replays decode + binning in pure SQL (hex-pair byte parse,
    i % 3 channel layout — exactly ``fake_decode_rgb``'s reshape);
    the REAL codecs run the same stage in the round-trip pytests."""
    import numpy as np  # noqa: F401 — imported for the closure below

    media = (
        media_table(spark, sf_dir)
        .filter((F.col("kind") == "image") & F.col("payload").isNotNull())
        .select("media_id", "payload")
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in it:
            acc = np.zeros((3, 4), dtype=np.int64)
            for payload in pdf["payload"]:
                if payload is None:
                    continue
                img = fake_decode_rgb(bytes(payload))
                bins = img >> 6  # 4 intensity quartiles
                for c in range(3):
                    acc[c] += np.bincount(bins[:, :, c].ravel(), minlength=4)
            if not acc.any():
                continue
            # Only OBSERVED (channel, bin) partials: a zero-count bin
            # never seen corpus-wide would otherwise surface as an
            # n_px=0 row the oracle (which groups observed bytes
            # only) never produces (ADVICE r14).
            ch, bn = np.divmod(np.arange(12), 4)
            mask = acc.ravel() > 0
            yield pd.DataFrame(
                {"channel": ch[mask].astype("int32"),
                 "bin": bn[mask].astype("int32"),
                 "n": acc.ravel()[mask]}
            )

    hist = (
        media.mapInPandas(batches, "channel int, bin int, n long")
        .groupBy("channel", "bin")
        .agg(F.sum("n").cast("bigint").alias("n_px"))
    )
    from pyspark.sql.window import Window

    # `div`, not `/`: the slash is a double true-division whose floor
    # is exact only while 2e6·n_px + tot < 2^53 — reachable at
    # real-corpus pixel counts. Bigint `div` (trunc == floor for this
    # non-negative numerator) is exact at any count (r15, VERDICT r14
    # item #2; the pipe_token_apportion recipe).
    return (
        hist.withColumn(
            "tot", F.sum("n_px").over(Window.partitionBy("channel"))
        )
        .select(
            F.element_at(
                F.array(F.lit("r"), F.lit("g"), F.lit("b")), F.col("channel") + 1
            ).alias("channel"),
            "bin",
            "n_px",
            F.expr("(2000000 * n_px + tot) div (2 * tot)").alias("share_micro"),
        )
    )


# ---------------------------------------------------------------------
# audio energy-envelope fingerprint near-dup (r15) — the AUDIO twin of
# mm_phash_neardup: banded Hamming over delta-sign fingerprints
# ---------------------------------------------------------------------
AFP_FRAME = 8  # samples per fingerprint frame (256 -> 32 frames)
AFP_NFRAMES = 256 // AFP_FRAME
AFP_CHUNKS = 4  # 4 x 8-bit chunks of the 31-bit (+1 pad) fingerprint
AFP_HAMMING_K = AFP_CHUNKS - 1  # pigeonhole-exact recall at <= 3
AFP_VOFF = 2_000_000_000  # planted re-encode id offset
#: one-sample jitter of the simulated lossy re-encode: perturbs ONE
#: frame's energy, so at most the two adjacent delta bits flip —
#: hamming <= 2 < AFP_CHUNKS by construction, every plant is caught
AFP_JITTER = 1500

_AFP_SCHEMA = "media_id bigint, c0 int, c1 int, c2 int, c3 int"


def audio_fp_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-kind media plus a deterministic planted re-encode per 5th
    clip: same payload, ``js`` = the PCM sample the simulated lossy
    re-encode perturbs (-1 on originals). The variant's samples differ,
    so byte dedup can't pair it — the envelope fingerprint must."""
    m = media_table(spark, sf_dir).filter(F.col("kind") == "audio")
    base = m.select("media_id", "payload", F.lit(-1).alias("js"))
    var = m.filter(F.col("media_id") % 5 == 0).select(
        (F.col("media_id") + AFP_VOFF).alias("media_id"),
        "payload",
        (F.col("media_id") % 256).cast("int").alias("js"),
    )
    return base.unionByName(var)


def audio_fp_fingerprints(corpus: DataFrame) -> DataFrame:
    """31-bit energy-envelope delta-sign fingerprint per clip as
    4×8-bit chunks: decode (fake PCM, int16 samples) → EXACT integer
    frame energies sum(s²) over {AFP_FRAME}-sample frames → bit f =
    [e(f+1) > e(f)] → pack. No float anywhere (unlike the RMS framing,
    sign comparisons need no sqrt), so the fingerprint replays
    bit-exactly in SQL. One Arrow stage; 4 ints per clip return."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        w = np.arange(7, -1, -1)
        for pdf in it:
            rows = []
            for mid, payload, js in zip(pdf["media_id"], pdf["payload"], pdf["js"]):
                if payload is None:
                    continue
                pcm = fake_decode_pcm(bytes(payload))
                if js >= 0:
                    pcm = pcm.copy()
                    pcm[js] = min(int(pcm[js]) + AFP_JITTER, 32767)
                e = (pcm.reshape(AFP_NFRAMES, AFP_FRAME) ** 2).sum(axis=1)
                bits = np.zeros(AFP_NFRAMES, dtype=np.int64)
                bits[: AFP_NFRAMES - 1] = (e[1:] > e[:-1]).astype(np.int64)
                cks = [
                    int((bits[8 * j : 8 * j + 8] << w).sum())
                    for j in range(AFP_CHUNKS)
                ]
                rows.append((int(mid), *cks))
            yield pd.DataFrame(rows, columns=["media_id", "c0", "c1", "c2", "c3"])

    return corpus.mapInPandas(batches, _AFP_SCHEMA)


def audio_fp_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized audio fingerprint table — both banded join
    sides read the cache (phash_chunks' discipline; prewarm carries
    the build)."""
    from mapreducecf_spark.memo import session_memo

    return session_memo(
        spark,
        ("audio_fp_chunks", sf_dir),
        lambda: audio_fp_fingerprints(audio_fp_corpus(spark, sf_dir)),
    )


@register(
    "mm_audio_fp_neardup",
    oracle=f"""
WITH media AS (
  SELECT doc_id AS media_id, md5('pcm:' || text) AS seed, -1 AS js
  FROM documents WHERE doc_id % 3 = 1 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + {AFP_VOFF} AS media_id, md5('pcm:' || text) AS seed,
         CAST(doc_id % 256 AS INT) AS js
  FROM documents WHERE doc_id % 15 = 10 AND text IS NOT NULL),
blocks AS (
  SELECT media_id, js,
         string_agg(md5(seed || ':' || c), '' ORDER BY c) AS hexs
  FROM media, range(32) t(c) GROUP BY 1, 2),
pcm AS (
  SELECT media_id, i,
         CASE WHEN i = js THEN least(s0 + {AFP_JITTER}, 32767)
              ELSE s0 END AS s
  FROM (
    SELECT media_id, js, i,
           CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s0
    FROM (SELECT media_id, js, i,
                 ('0x' || substr(hexs, CAST(4 * i + 3 AS INT), 2)
                       || substr(hexs, CAST(4 * i + 1 AS INT), 2))::INT AS u
          FROM blocks, range(256) t(i)) a) b),
frames AS (
  SELECT media_id, CAST(i // {AFP_FRAME} AS INT) AS f,
         CAST(sum(CAST(s AS BIGINT) * CAST(s AS BIGINT)) AS BIGINT) AS e
  FROM pcm GROUP BY 1, 2),
bits AS (
  SELECT a.media_id, a.f AS p,
         CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
  FROM frames a JOIN frames b ON b.media_id = a.media_id AND b.f = a.f + 1),
fp AS (
  SELECT media_id,
         CAST(sum(CASE WHEN p // 8 = 0 THEN bit << (7 - p % 8) ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN p // 8 = 1 THEN bit << (7 - p % 8) ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN p // 8 = 2 THEN bit << (7 - p % 8) ELSE 0 END) AS BIGINT) AS c2,
         CAST(sum(CASE WHEN p // 8 = 3 THEN bit << (7 - p % 8) ELSE 0 END) AS BIGINT) AS c3
  FROM bits GROUP BY 1),
chunks AS (
  SELECT media_id, c0, c1, c2, c3, j AS ci,
         CASE j WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS ck
  FROM fp, range({AFP_CHUNKS}) t(j))
SELECT DISTINCT a.media_id AS ida, b.media_id AS idb,
       CAST({_PHASH_HAM_SQL} AS BIGINT) AS hamming
FROM chunks a JOIN chunks b
  ON a.ci = b.ci AND a.ck = b.ck AND a.media_id < b.media_id
WHERE {_PHASH_HAM_SQL} <= {AFP_HAMMING_K}
""",
)
def mm_audio_fp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-envelope fingerprint near-dup pairs over the audio corpus
    — the AUDIO twin of mm_phash_neardup: 31-bit delta-sign envelope
    fingerprints ({AFP_CHUNKS}×8-bit chunks) → equi-join on
    (chunk_idx, chunk) → Hamming ≤ {AFP_HAMMING_K} fused into the join
    projection, recall EXACT at the threshold by pigeonhole. The corpus
    plants one simulated lossy re-encode per 5th clip (same payload,
    one jittered PCM sample): byte-level dedup misses every planted
    pair, while the jitter can flip at most the two delta bits adjacent
    to the perturbed frame — hamming ≤ 2 by construction, so this query
    catches ALL plants (pytest-pinned). Fingerprints are EXACT integer
    arithmetic end to end (sum-of-squares energies, sign comparisons —
    no sqrt, no float), so the oracle replays them bitwise.

    At 100 TB the fingerprint table is ~20 bytes/clip, decode enters
    Python once via Arrow, and the audio bytes never shuffle — same
    scale shape as the image fingerprint pass."""
    chunks = audio_fp_chunks(spark, sf_dir)
    band = F.explode(
        F.array(
            *[
                F.struct(F.lit(j).alias("ci"), F.col(f"c{j}").alias("ck"))
                for j in range(AFP_CHUNKS)
            ]
        )
    ).alias("c")
    banded = chunks.select("media_id", "c0", "c1", "c2", "c3", band).select(
        "media_id", "c0", "c1", "c2", "c3", "c.ci", "c.ck"
    )
    ham = sum(
        F.bit_count(F.col(f"a.c{j}").bitwiseXOR(F.col(f"b.c{j}")))
        for j in range(AFP_CHUNKS)
    ).cast("bigint")
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["ci", "ck"])
        .filter(F.col("a.media_id") < F.col("b.media_id"))
        .select(
            F.col("a.media_id").alias("ida"),
            F.col("b.media_id").alias("idb"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= AFP_HAMMING_K)
        .distinct()
    )
