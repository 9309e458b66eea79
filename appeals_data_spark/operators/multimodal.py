"""Multimodal column plumbing: opaque binary payloads + typed metadata.

A 100 TB training-data pipeline carries images/audio/video as opaque
``binary`` columns with a typed metadata struct alongside; decode and
feature extraction run as Arrow-batched pandas iterators (mapInPandas)
so the JVM never copies payload bytes row-at-a-time into Python.

``decode_media`` dispatches on mime: PPM and 24-bit BMP images and
RIFF/WAVE PCM16 audio decode natively via the pure-Python codecs in
this module (three deliberately different container grammars); formats
whose libraries (PIL / soundfile / av) are NOT in this container keep
a clearly-marked external-codec hook. Everything around the hook — the
schema contract, the partition-preserving mapInPandas shape, the batch
iteration, the deterministic fallback features — is real and tested.
Payloads are synthesized deterministically from the documents table,
which makes every decoded number oracle-checkable in DuckDB.
"""

from __future__ import annotations

import sys
from typing import Iterator

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import sized_for_compute as _sized

# The mapInPandas passes run in Python workers that need not have this
# package on their path: ship the codecs and feature helpers by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

MEDIA_META_SCHEMA = "struct<mime:string,width:int,height:int,n_frames:int>"

FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, digest string, mime string, "
    "feat array<float>"
)


def as_media(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Documents -> media table: ``blob binary`` + typed metadata.

    The blob is the utf-8 encoding of the text (deterministic fake
    payload); metadata is derived from doc stats the way a real
    ingest job would record container headers.
    """
    n = F.coalesce(F.col("n_chars"), F.length(text_col)).cast("int")
    meta = F.struct(
        F.lit("application/x-fake").alias("mime"),
        (n % 640 + 32).alias("width"),
        (n % 480 + 32).alias("height"),
        (n % 24 + 1).alias("n_frames"),
    )
    return docs.select(
        "doc_id",
        "source",
        F.encode(F.col(text_col), "utf-8").alias("blob"),
        meta.cast(MEDIA_META_SCHEMA).alias("meta"),
    )


PPM_MIME = "image/x-portable-pixmap"


def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Binary PPM (P6) encoder — pure Python, no codec libraries.
    ``pixels`` is raw interleaved RGB, len == width*height*3."""
    if len(pixels) != width * height * 3:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, "
            f"expected {width * height * 3} for {width}x{height} RGB"
        )
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Binary PPM (P6) decoder -> (width, height, raw RGB bytes).
    Handles the format's whitespace/comment header grammar; only
    maxval 255 (8-bit channels) is supported."""
    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported, got maxval={maxval}")
    pos += 1  # single whitespace byte separates header from raster
    raster = payload[pos : pos + width * height * 3]
    if len(raster) != width * height * 3:
        raise ValueError("truncated PPM raster")
    return width, height, raster


BMP_MIME = "image/bmp"


def encode_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """Uncompressed 24-bit BMP encoder — pure Python. ``pixels`` is raw
    interleaved RGB, top-down, len == width*height*3. The container
    grammar differs from PPM in three ways a parser must get right:
    rows are stored BOTTOM-UP, channels are BGR, and every row pads to
    a 4-byte boundary."""
    import struct

    if len(pixels) != width * height * 3:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, "
            f"expected {width * height * 3} for {width}x{height} RGB"
        )
    row = width * 3
    pad = (4 - row % 4) % 4
    raster = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        r = pixels[y * row : (y + 1) * row]
        bgr = bytearray(r)
        bgr[0::3], bgr[2::3] = r[2::3], r[0::3]  # RGB -> BGR
        raster += bgr + b"\x00" * pad
    img_size = (row + pad) * height
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    return header + info + bytes(raster)


def decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Uncompressed 24-bit BMP decoder -> (width, height, raw RGB
    top-down) — undoes the bottom-up row order, BGR channels, and
    4-byte row padding. Only BI_RGB bpp=24 with a positive (bottom-up)
    height is supported."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    offset = struct.unpack_from("<I", payload, 10)[0]
    if offset < 54:
        # a corrupt offset pointing inside the headers would otherwise
        # silently decode header bytes as pixels
        raise ValueError(f"BMP pixel-data offset {offset} inside header")
    hsize, width, height, _planes, bpp, comp = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hsize < 40 or bpp != 24 or comp != 0 or height <= 0 or width <= 0:
        raise ValueError(
            f"only uncompressed bottom-up 24-bit BMP supported "
            f"(bpp={bpp}, compression={comp}, {width}x{height})"
        )
    row = width * 3
    pad = (4 - row % 4) % 4
    if len(payload) < offset + (row + pad) * height:
        raise ValueError("truncated BMP raster")
    pixels = bytearray(row * height)
    for y in range(height):
        src = offset + (height - 1 - y) * (row + pad)  # bottom-up
        bgr = payload[src : src + row]
        rgb = bytearray(bgr)
        rgb[0::3], rgb[2::3] = bgr[2::3], bgr[0::3]  # BGR -> RGB
        pixels[y * row : (y + 1) * row] = rgb
    return width, height, bytes(pixels)


WAV_MIME = "audio/wav"


def encode_wav(sample_rate: int, pcm16: bytes, channels: int = 1) -> bytes:
    """RIFF/WAVE PCM16 encoder — pure Python. ``pcm16`` is raw
    little-endian signed 16-bit samples (interleaved if stereo)."""
    import struct

    if len(pcm16) % (2 * channels):
        raise ValueError("pcm16 length not a multiple of the frame size")
    block = 2 * channels
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, channels, sample_rate,
        sample_rate * block, block, 16,
    )
    data = struct.pack("<4sI", b"data", len(pcm16)) + pcm16
    body = b"WAVE" + fmt + data
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def decode_wav(payload: bytes) -> tuple[int, int, bytes]:
    """RIFF/WAVE PCM16 decoder -> (sample_rate, channels, raw PCM16
    bytes). Walks the chunk list (fmt/data may be separated by
    LIST/fact/etc chunks, each padded to even length — the RIFF
    grammar a real parser must honor); only uncompressed 16-bit PCM
    is supported."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            # a declared size past the payload end would otherwise
            # slice short and decode silently-wrong sample counts
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks pad to even length
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, channels, sample_rate, _brate, _block, bits = fmt
    if audio_format != 1 or bits != 16 or channels < 1:
        raise ValueError(
            f"only uncompressed 16-bit PCM supported "
            f"(format={audio_format}, bits={bits}, channels={channels})"
        )
    if len(data) % (2 * channels):
        raise ValueError("truncated WAV data chunk")
    return sample_rate, channels, data


def decode_media(payload: bytes, mime: str):
    """Decode hook, dispatched on mime. PPM and 24-bit BMP images and
    RIFF/WAVE PCM16 audio decode natively (pure-Python codecs above —
    no external libraries, and deliberately different container
    grammars: text header + raw raster / binary headers + bottom-up
    padded BGR rows / chunk-walked RIFF); every other format is where
    a production deployment plugs in PIL.Image.open / soundfile.read /
    av.open, none of which are installed in this environment. Return
    shape is codec-specific: images -> (width, height, rgb), audio ->
    (sample_rate, channels, pcm16).
    """
    if mime == PPM_MIME:
        return decode_ppm(bytes(payload))
    if mime == BMP_MIME:
        return decode_bmp(bytes(payload))
    if mime == WAV_MIME:
        return decode_wav(bytes(payload))
    raise NotImplementedError(
        f"no codec for {mime!r} in this environment; "
        "install PIL/soundfile/av and dispatch on mime"
    )


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched feature extraction. One output row per input row;
    pure function of the payload bytes, so the op is deterministic
    under any partitioning. Only the decoder-hook features are computed
    here — everything expressible JVM-side (digest, byte length) is
    already a column on the way in."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["n_bytes"],
                "digest": pdf["digest"],
                "mime": pdf["mime"],
                # Deterministic fallback features (a real decoder would
                # emit embeddings here via decode_media).
                "feat": [
                    [
                        float(n),
                        float(b[0]) if n else 0.0,
                        float(b[-1]) if n else 0.0,
                    ]
                    for b, n in zip(pdf["blob"], pdf["n_bytes"])
                ],
            }
        )


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over (doc_id, blob, meta.mime).

    Projects only the needed columns before the Python boundary so
    Arrow ships the minimum bytes; partitioning is preserved (no
    shuffle), so this pipelines with an upstream repartition sized to
    fit payload batches in executor memory.

    Payload *metadata* (md5 digest, byte length) is computed in
    whole-stage codegen before the boundary — a per-row
    ``hashlib.md5`` inside the pandas batch measured ~2x slower on the
    rollup; Python only does what only Python can (the decode hook).
    """
    slim = media.select(
        "doc_id",
        "blob",
        F.col("meta.mime").alias("mime"),
        F.octet_length("blob").cast("long").alias("n_bytes"),
        F.md5("blob").alias("digest"),
    )
    return _sized(slim).mapInPandas(_feature_batches, schema=FEATURE_SCHEMA)


PPM_STATS_SCHEMA = "doc_id long, width int, height int, pixel_sum long"


def as_image_media(docs: DataFrame, mixed: bool = False) -> DataFrame:
    """Synthesize a REAL image payload per document: a constant-color
    RGB image whose dims/color are pure functions of doc_id (w =
    id%16+4, h = id%12+4, rgb = id%256/(7id)%256/(13id)%256) — so
    everything a decoder recovers from the bytes has an exact SQL
    twin, while the payload is still a genuine container a real parser
    must decode. With ``mixed=True``, even doc_ids encode as PPM and
    odd as 24-bit BMP (same pixel content, different container
    grammar), so downstream decode MUST dispatch on the per-row mime —
    the multi-format shape of a real crawl."""

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs, mimes = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                w, h = d % 16 + 4, d % 12 + 4
                px = bytes((d % 256, (d * 7) % 256, (d * 13) % 256)) * (w * h)
                if mixed and d % 2 == 1:
                    blobs.append(encode_bmp(w, h, px))
                    mimes.append(BMP_MIME)
                else:
                    blobs.append(encode_ppm(w, h, px))
                    mimes.append(PPM_MIME)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "blob": blobs, "mime": mimes}
            )

    return _sized(docs.select("doc_id")).mapInPandas(
        _enc, schema="doc_id long, blob binary, mime string"
    )


def as_ppm_media(docs: DataFrame) -> DataFrame:
    """All-PPM variant of ``as_image_media`` (kept for single-format
    tests)."""
    return as_image_media(docs, mixed=False)


def decode_image_stats(media: DataFrame) -> DataFrame:
    """End-to-end decode path: parse each payload via the decode_media
    mime dispatch and emit stats computed FROM THE DECODED RASTER
    (dims from the header, pixel_sum over every byte) — a wrong parse
    of any byte changes the output. Arrow-batched, 1:1, partition-
    preserving, like every other payload stage."""

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ws, hs, sums = [], [], []
            for blob, mime in zip(pdf["blob"], pdf["mime"]):
                w, h, raster = decode_media(blob, mime)
                ws.append(w)
                hs.append(h)
                sums.append(
                    int(np.frombuffer(raster, dtype=np.uint8).astype(np.int64).sum())
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "width": ws, "height": hs,
                 "pixel_sum": sums}
            )

    return media.select("doc_id", "blob", "mime").mapInPandas(
        _dec, schema=PPM_STATS_SCHEMA
    )


RESIZE_SCHEMA = "doc_id long, blob binary, new_width int, new_height int"


def resize_media(media: DataFrame, max_dim: int = 256) -> DataFrame:
    """1:1 payload transform: cap the longer image side at ``max_dim``.

    The geometry (scale = min(1, max_dim / max(w, h)), truncating int
    dims) is real; the pixel resample is stubbed — a production build
    decodes via ``decode_media``, resamples, and re-encodes the blob.
    Binary-in/binary-out through Arrow with metadata recomputed
    JVM-side afterwards: the exact shape a real thumbnailing stage has.
    """

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            scale = (max_dim / pdf[["width", "height"]].max(axis=1)).clip(upper=1.0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    # stub: real impl re-encodes the decoded, resampled image
                    "blob": pdf["blob"],
                    "new_width": (pdf["width"] * scale).astype("int32"),
                    "new_height": (pdf["height"] * scale).astype("int32"),
                }
            )

    slim = media.select(
        "doc_id",
        "blob",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )
    return _sized(slim).mapInPandas(_resize, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id long, source string, frame_idx int, frame_blob binary"


def sample_frames(media: DataFrame, every_k: int = 4) -> DataFrame:
    """1:N frame sampling: emit every k-th frame of each video payload.

    Demonstrates the fan-out mapInPandas shape (output rows > input
    rows) a video pipeline needs; frames are deterministic byte slices
    of the payload standing in for decoded frames (``decode_media`` is
    the production hook). Emitted rows per doc = ceil(n_frames / k).
    """

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "source": [], "frame_idx": [], "frame_blob": []}
            for did, src, blob, nf in zip(
                pdf["doc_id"], pdf["source"], pdf["blob"], pdf["n_frames"]
            ):
                b = bytes(blob)
                stride = max(1, len(b) // int(nf)) if len(b) else 1
                for idx in range(0, int(nf), every_k):
                    out["doc_id"].append(did)
                    out["source"].append(src)
                    out["frame_idx"].append(idx)
                    out["frame_blob"].append(b[idx * stride : (idx + 1) * stride])
            yield pd.DataFrame(out)

    slim = media.select(
        "doc_id", "source", "blob", F.col("meta.n_frames").alias("n_frames")
    )
    return _sized(slim).mapInPandas(_frames, schema=FRAME_SCHEMA)


WAV_STATS_SCHEMA = (
    "doc_id long, sample_rate int, n_samples long, abs_sum long, max_abs int"
)


def as_wav_media(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL audio payload per document: a mono PCM16 WAV
    at 8 kHz whose samples are pure functions of doc_id
    (n = id%256+16 samples, sample_i = (31*id + 17*i) % 65536 - 32768)
    — everything a decoder recovers from the bytes has an exact SQL
    twin, while the payload is still a genuine RIFF container a real
    parser must chunk-walk."""
    import struct

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                d = int(did)
                n = d % 256 + 16
                pcm = struct.pack(
                    f"<{n}h",
                    *[(31 * d + 17 * i) % 65536 - 32768 for i in range(n)],
                )
                blobs.append(encode_wav(8000, pcm))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return (
        _sized(docs.select("doc_id"))
        .mapInPandas(_enc, schema="doc_id long, blob binary")
        .withColumn("mime", F.lit(WAV_MIME))
    )


def decode_audio_stats(media: DataFrame) -> DataFrame:
    """End-to-end audio decode path: parse each payload via the
    decode_media mime dispatch and emit stats computed FROM THE
    DECODED SAMPLES (count, integer sum of |amplitude|, peak) — all
    integers, so the differential check is exact. Arrow-batched, 1:1,
    partition-preserving."""

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            srs, ns, sums, peaks = [], [], [], []
            for blob, mime in zip(pdf["blob"], pdf["mime"]):
                sr, ch, pcm = decode_media(blob, mime)
                s = np.frombuffer(pcm, dtype="<i2").astype(np.int64)
                srs.append(sr)
                ns.append(len(s) // ch)
                sums.append(int(np.abs(s).sum()))
                peaks.append(int(np.abs(s).max()) if len(s) else 0)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "sample_rate": srs,
                 "n_samples": ns, "abs_sum": sums, "max_abs": peaks}
            )

    return media.select("doc_id", "blob", "mime").mapInPandas(
        _dec, schema=WAV_STATS_SCHEMA
    )


# --- perceptual hashing (image near-dedup) ---------------------------------

# Gradient-scene parameters: pixel value v(x, gy; doc) =
#   (scene*7*(x+1) + gy*11*(scene+3)) % 199   (the scene gradient)
#   + off                                      (uniform brightness)
#   + pert if gy == 0 and x % 3 == 0           (row-0 structured tweak)
# with scene = doc_id % 256, off = (doc_id // 7) % 16,
# pert = (doc_id // 256) % 8 — max value 198+15+7 = 220 < 256, so no
# clipping/wrap anywhere. Same-scene docs are near-duplicate images:
# `off` shifts every pixel uniformly (dHash-invariant — comparisons
# cancel it), `pert` flips at most the 8 row-0 comparisons, so their
# dHashes agree on bit 8..31 exactly and differ by Hamming <= 8.
PHASH_W, PHASH_H = 18, 8  # 9x4 grid of 2x2 blocks -> 32-bit dHash


def _gradient_pixels(doc_id: int) -> bytes:
    scene = doc_id % 256
    off = (doc_id // 7) % 16
    pert = (doc_id // 256) % 8
    rows = []
    for y in range(PHASH_H):
        gy = y // 2
        for x in range(PHASH_W):
            v = (scene * 7 * (x + 1) + gy * 11 * (scene + 3)) % 199 + off
            if gy == 0 and x % 3 == 0:
                v += pert
            rows.append(bytes((v, v, v)))
    return b"".join(rows)


def as_gradient_image_media(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL gradient image per document (constant-color
    payloads hash to all-zero dHashes, so the near-dedup corpus needs
    structure): grayscale scene gradient + per-doc brightness offset +
    a row-0 perturbation, all closed-form in doc_id so the decoded
    raster — and hence the dHash — has an exact SQL twin. Mixed
    containers like as_image_media (even doc_ids PPM, odd 24-bit BMP)
    so the decode MUST dispatch per-row."""

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs, mimes = [], []
            for did in pdf["doc_id"]:
                d = int(did)
                px = _gradient_pixels(d)
                if d % 2 == 1:
                    blobs.append(encode_bmp(PHASH_W, PHASH_H, px))
                    mimes.append(BMP_MIME)
                else:
                    blobs.append(encode_ppm(PHASH_W, PHASH_H, px))
                    mimes.append(PPM_MIME)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "blob": blobs, "mime": mimes}
            )

    return _sized(docs.select("doc_id")).mapInPandas(
        _enc, schema="doc_id long, blob binary, mime string"
    )


def dhash32(media: DataFrame) -> DataFrame:
    """Difference hash over the DECODED raster (the standard dHash,
    Krawetz 2013, at a 9x4 grid): block-sum the image into 4 rows x 9
    columns of 2x2 integer sums (exact — no float resample), emit bit
    (gy*8+i) when column block i outweighs block i+1. 32 bits -> one
    BIGINT per image, computed in the same Arrow-batched 1:1
    mapInPandas shape as decode_image_stats; every bit is a pure
    function of the payload bytes, so a mis-parsed BMP pad or channel
    swap flips bits and hash-fails the differential check."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            hs = []
            for blob, mime in zip(pdf["blob"], pdf["mime"]):
                w, h, raster = decode_media(blob, mime)
                arr = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)
                s = (
                    arr[:, :, 0]
                    .astype(np.int64)
                    .reshape(h // 2, 2, w // 2, 2)
                    .sum(axis=(1, 3))
                )
                bits = s[:, :-1] > s[:, 1:]
                gy, gx = np.nonzero(bits)
                hs.append(int((1 << (gy * 8 + gx)).sum()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "h": hs})

    return media.select("doc_id", "blob", "mime").mapInPandas(
        _hash, schema="doc_id long, h long"
    )


# --- audio fingerprinting (near-dedup) --------------------------------------

# Tone-scene parameters: 512 mono PCM16 samples = 32 frames of 16.
# Per-frame amplitude amp_f = (scene*11 + f*f) % 199 + 1 with
# scene = doc_id % 128; every sample is amp_f * gain with alternating
# sign (gain = (doc_id // 128) % 3 + 1), EXCEPT frame 0, which is
# all-positive and adds pert = (doc_id // 7) % 8 on every third sample.
# Frame |amplitude| energies are then exactly:
#   E_0 = 16*amp_0*gain + 6*pert,   E_f = 16*amp_f*gain  (f >= 1)
# so the envelope difference hash (bit f set iff E_f > E_{f+1}) is
# EXACTLY gain-invariant on bits 1..30 (comparisons scale by gain) and
# pert/gain can flip at most bit 0 — same-scene docs are guaranteed
# band collisions beyond the first 8-bit band, the audio twin of the
# gradient-image dHash construction. Max |sample| = 199*3 + 7 < 32768:
# no clipping anywhere.
TONE_FRAMES, TONE_FRAME_LEN = 32, 16


def _tone_pcm(doc_id: int) -> bytes:
    import struct

    scene = doc_id % 128
    gain = (doc_id // 128) % 3 + 1
    pert = (doc_id // 7) % 8
    samples = []
    for f in range(TONE_FRAMES):
        amp = (scene * 11 + f * f) % 199 + 1
        for i in range(TONE_FRAME_LEN):
            if f == 0:
                samples.append(amp * gain + (pert if i % 3 == 0 else 0))
            else:
                samples.append(amp * gain * (1 if i % 2 == 0 else -1))
    return struct.pack(f"<{len(samples)}h", *samples)


def as_tone_wav_media(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL tone WAV per document with near-duplicate
    structure (the audio counterpart of as_gradient_image_media):
    same-scene documents are the same tone at a different gain plus a
    frame-0 tweak — the loudness-normalization-free replicas a crawl
    corpus actually contains. Genuine RIFF containers; the decode must
    chunk-walk."""

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [encode_wav(8000, _tone_pcm(int(d))) for d in pdf["doc_id"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return (
        _sized(docs.select("doc_id"))
        .mapInPandas(_enc, schema="doc_id long, blob binary")
        .withColumn("mime", F.lit(WAV_MIME))
    )


def audio_envelope_hash(media: DataFrame) -> DataFrame:
    """Energy-envelope difference hash over the DECODED samples: frame
    the PCM into 32 frames of 16, per-frame integer |amplitude| energy,
    bit f set iff E_f > E_{f+1} — 31 bits, exactly invariant to uniform
    gain (comparisons scale), the audio analog of dhash32's brightness
    invariance. Integer-exact end to end; Arrow-batched 1:1."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            hs = []
            for blob, mime in zip(pdf["blob"], pdf["mime"]):
                _sr, ch, pcm = decode_media(blob, mime)
                s = np.abs(np.frombuffer(pcm, dtype="<i2").astype(np.int64))
                e = s.reshape(TONE_FRAMES, TONE_FRAME_LEN * ch).sum(axis=1)
                bits = e[:-1] > e[1:]
                (f,) = np.nonzero(bits)
                hs.append(int((1 << f).sum()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "h": hs})

    return media.select("doc_id", "blob", "mime").mapInPandas(
        _hash, schema="doc_id long, h long"
    )


# --- video fingerprinting (near-dedup) --------------------------------------

# A "video" is a concatenated binary-PPM (P6) frame stream — each frame
# is self-delimiting (header + fixed-size raster), so decoding is a
# genuine container walk, the moving-image analog of the RIFF
# chunk-walk. Synthesis: vscene = doc_id % 64 picks an infinite frame
# stream; offv = (doc_id // 64) % 4 TRIMS the start (the classic
# near-dup: the same clip cropped by a few frames); off = (doc_id // 7)
# % 16 is a uniform brightness shift (dHash-invariant per frame). Each
# video carries VIDEO_FRAMES consecutive frames; same-vscene docs at
# offsets d apart share VIDEO_FRAMES - d aligned frames, hence
# VIDEO_FRAMES - 1 - d common consecutive frame-hash 2-grams.
VIDEO_FRAMES = 8
VIDEO_SCENES, VIDEO_OFFSETS = 64, 4


def _video_frame_pixels(vscene: int, fidx: int, off: int) -> bytes:
    fscene = (vscene * 13 + fidx * 29) % 251
    rows = []
    for y in range(PHASH_H):
        gy = y // 2
        for x in range(PHASH_W):
            v = (fscene * 7 * (x + 1) + gy * 11 * (fscene + 3)) % 199 + off
            rows.append(bytes((v, v, v)))
    return b"".join(rows)


def decode_ppm_stream(payload: bytes) -> list[tuple[int, int, bytes]]:
    """Walk a concatenated binary-PPM stream -> ordered frame list.
    Each frame is parsed with the full P6 header grammar (the stream
    has no index/length table — the parse IS the delimiter)."""
    frames, pos = [], 0
    while pos < len(payload):
        w, h, raster = decode_ppm(payload[pos:])
        frames.append((w, h, raster))
        # consumed = header bytes + raster bytes; re-derive the header
        # length by re-encoding the dims (the encoder's exact grammar)
        pos += len(b"P6\n%d %d\n255\n" % (w, h)) + len(raster)
    return frames


def as_video_media(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL frame-stream video payload per document (see
    the module constants for the near-duplicate structure: same scene,
    trimmed start, shifted brightness)."""

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                d = int(did)
                vscene = d % VIDEO_SCENES
                offv = (d // VIDEO_SCENES) % VIDEO_OFFSETS
                off = (d // 7) % 16
                blobs.append(
                    b"".join(
                        encode_ppm(
                            PHASH_W,
                            PHASH_H,
                            _video_frame_pixels(vscene, offv + k, off),
                        )
                        for k in range(VIDEO_FRAMES)
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return _sized(docs.select("doc_id")).mapInPandas(
        _enc, schema="doc_id long, blob binary"
    )


def video_hash_seq(media: DataFrame) -> DataFrame:
    """Per-video ordered frame-dHash sequence from the DECODED stream:
    walk the P6 frames, dHash each raster (the 9x4 block grid of
    dhash32), emit (doc_id, seq array<bigint>). One Arrow-batched 1:1
    pass; every element is a pure function of the payload bytes."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            seqs = []
            for blob in pdf["blob"]:
                seq = []
                for w, h, raster in decode_ppm_stream(bytes(blob)):
                    arr = np.frombuffer(raster, dtype=np.uint8).reshape(
                        h, w, 3
                    )
                    s = (
                        arr[:, :, 0]
                        .astype(np.int64)
                        .reshape(h // 2, 2, w // 2, 2)
                        .sum(axis=(1, 3))
                    )
                    bits = s[:, :-1] > s[:, 1:]
                    gy, gx = np.nonzero(bits)
                    seq.append(int((1 << (gy * 8 + gx)).sum()))
                seqs.append(seq)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "seq": seqs})

    return media.select("doc_id", "blob").mapInPandas(
        _hash, schema="doc_id long, seq array<long>"
    )
