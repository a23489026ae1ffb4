"""Multimodal columns: images/audio/video as opaque binary + typed
metadata, with Arrow-batched decode/feature/resize/frame-sample stages.

One codec is REAL and dependency-free: ``decode_bmp`` parses actual
BMP (Windows DIB) bytes — magic, BITMAPFILEHEADER/BITMAPINFOHEADER
field unpacking, 4-byte row-stride arithmetic, pixel-byte extraction
excluding padding. The ``multimodal_decode`` query round-trips real
encoded images through it and is oracle-gated (the DuckDB twin derives
the same header fields arithmetically from the encode parameters).

The library-dependent codecs (JPEG/ffmpeg/torchaudio classes of
decode) remain stubbed behind ``fake=True`` because those libraries
don't exist in this container; their Arrow plumbing (schemas,
partitioning, batch shapes, UDF signatures) is real and tested.

At 100 TB the pattern is: binary payloads live in their own parquet
column (column pruning means metadata-only queries never read them);
decode runs in mapInPandas so one Python worker processes an Arrow
batch of payloads at a time; heavy outputs (pixels/frames) are written
immediately, never shuffled.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmr_spark.operators.pyworker import skip_unchanged_zip_rereads

#: metadata schema carried next to every binary payload
MEDIA_META_SCHEMA = (
    "media_id long, kind string, mime string, width int, height int, "
    "duration_ms long, payload binary"
)

DECODED_SCHEMA = (
    "media_id long, kind string, n_bytes long, mean_byte double, "
    "checksum string"
)

RESIZED_SCHEMA = "media_id long, width int, height int, payload binary"

FRAMES_SCHEMA = "media_id long, frame_idx int, frame binary"


def make_media_table(spark: SparkSession, n: int = 64, partitions: int = 8) -> DataFrame:
    """Deterministic synthetic media table for pipeline tests."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(str(i).encode()).digest() * (i % 7 + 1)
        kind = ["image", "audio", "video"][i % 3]
        rows.append((i, kind, f"application/x-fake-{kind}", 64 + i, 48 + i,
                     1000 * (i + 1), bytearray(payload)))
    return spark.createDataFrame(rows, MEDIA_META_SCHEMA).repartition(partitions)


def decode_media(df: DataFrame, fake: bool = False) -> DataFrame:
    """Decode stage: binary payload -> per-item features.

    Real decoders (PIL/ffmpeg/torchaudio) are not available in this
    container; ``fake=True`` substitutes a deterministic byte-level
    "decode" with the same Arrow batch shape so the distributed plumbing
    is fully exercised.
    """
    if not fake:
        raise NotImplementedError(
            "media codecs not available in this environment; "
            "pass fake=True for the deterministic test decoder")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": payloads.map(len).astype("int64"),
                "mean_byte": payloads.map(
                    lambda b: float(sum(b)) / len(b) if len(b) else 0.0),
                "checksum": payloads.map(lambda b: hashlib.md5(bytes(b)).hexdigest()),
            })

    return df.mapInPandas(run, schema=DECODED_SCHEMA)


def resize_images(df: DataFrame, width: int, height: int, fake: bool = False) -> DataFrame:
    """Resize stage plumbing: image rows in, (media_id, w, h, payload)
    out. Fake mode truncates/pads bytes to w*h as a stand-in.

    For BMP payloads a REAL dependency-free resize exists:
    :func:`resize_bmp_nn` (nearest-neighbor over the repo's own BMP
    codec). This generic entry stays library-gated for JPEG/PNG/WebP.
    """
    if not fake:
        raise NotImplementedError(
            "JPEG/PNG resize requires PIL/opencv (use resize_bmp_nn for "
            "BMP payloads); pass fake=True for the deterministic stand-in")

    target = width * height

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            pdf = pdf[pdf["kind"] == "image"]
            out = pdf["payload"].map(
                lambda b: bytes(b)[:target].ljust(target, b"\0"))
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "width": width, "height": height,
                "payload": out.map(bytearray),
            })

    return df.mapInPandas(run, schema=RESIZED_SCHEMA)


def sample_frames(df: DataFrame, every_n_bytes: int = 64, fake: bool = False) -> DataFrame:
    """Frame-sampling plumbing for video rows: one output row per
    sampled frame (UDTF shape — 0..n rows out per row in)."""
    if not fake:
        raise NotImplementedError(
            "video demux requires ffmpeg; pass fake=True for the "
            "deterministic stand-in")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            pdf = pdf[pdf["kind"] == "video"]
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload)
                for j, off in enumerate(range(0, len(raw), every_n_bytes)):
                    ids.append(mid)
                    idxs.append(j)
                    frames.append(bytearray(raw[off:off + every_n_bytes]))
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return df.mapInPandas(run, schema=FRAMES_SCHEMA)


# ------------------------------------------------------- real BMP codec

BMP_DECODED_SCHEMA = (
    "doc_id long, width int, height int, bpp int, stride int, "
    "n_bytes long, pixel_sum long"
)

_BMP_HEADER_SIZE = 14 + 40  # BITMAPFILEHEADER + BITMAPINFOHEADER


def _bmp_encode(w: int, h: int, pixels: bytes) -> bytes:
    """Assemble one spec-conformant 24-bpp BMP from stride-padded pixel
    rows — the single header writer every encoder shares (file header,
    40-byte info header, 2835 px/m = 72 DPI)."""
    size = _BMP_HEADER_SIZE + len(pixels)
    return (
        b"BM"
        + struct.pack("<IHHI", size, 0, 0, _BMP_HEADER_SIZE)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                      len(pixels), 2835, 2835, 0, 0)
        + pixels
    )


def encode_docs_as_bmp(docs: DataFrame) -> DataFrame:
    """Deterministic 24-bpp BMP per document: width from the text
    length, height and fill byte from doc_id. Real, spec-conformant
    bytes (little-endian headers, rows padded to 4-byte boundaries) —
    the encode parameters are simple arithmetic so the DuckDB oracle
    can predict every decoded field without a binary parser."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            payloads = []
            for did, tlen in zip(pdf["doc_id"], pdf["tlen"]):
                did, tlen = int(did), int(tlen)
                w = (tlen % 31) + 2
                h = (did % 17) + 2
                fill = did % 251
                stride = ((w * 3 + 3) // 4) * 4
                row = bytes([fill]) * (w * 3) + b"\0" * (stride - w * 3)
                pixels = row * h
                payloads.append(bytearray(_bmp_encode(w, h, pixels)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.length("text").alias("tlen")).mapInPandas(
        run, schema="doc_id long, payload binary")


def _parse_bmp(raw: bytes, ctx: object = "") -> dict:
    """Parse one BMP byte string: magic, header unpack, stride
    arithmetic, padding-free pixel sum. Raises on malformed input."""
    if raw[:2] != b"BM":
        raise ValueError(f"{ctx}: not a BMP (bad magic)")
    size, _, _, off = struct.unpack_from("<IHHI", raw, 2)
    hdr_sz, w, h, planes, bpp = struct.unpack_from("<IiiHH", raw, 14)
    if size != len(raw) or planes != 1 or hdr_sz < 40:
        raise ValueError(f"{ctx}: malformed BMP header")
    stride = ((w * (bpp // 8) + 3) // 4) * 4
    habs = abs(h)
    if len(raw) < off + habs * stride:
        raise ValueError(f"{ctx}: pixel array truncated")
    import numpy as np
    arr = np.frombuffer(raw, dtype=np.uint8, count=habs * stride, offset=off)
    psum = int(arr.reshape(habs, stride)[:, :w * (bpp // 8)].sum())
    return {"off": off, "width": w, "height": habs, "bpp": bpp,
            "stride": stride, "n_bytes": len(raw), "pixel_sum": psum}


def decode_bmp(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL BMP decode over Arrow batches: validates the 'BM' magic,
    unpacks the file/info headers, recomputes the 4-byte row stride,
    and sums the pixel bytes row by row (stride padding excluded).
    Raises on malformed payloads rather than guessing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "doc_id", "width", "height", "bpp", "stride",
                "n_bytes", "pixel_sum")}
            for did, payload in zip(pdf["doc_id"], pdf[payload_col]):
                f = _parse_bmp(bytes(payload), f"doc {did}")
                f.pop("off")
                out["doc_id"].append(int(did))
                for k, v in f.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=BMP_DECODED_SCHEMA)


def encode_docs_as_gradient_bmp(docs: DataFrame) -> DataFrame:
    """Like :func:`encode_docs_as_bmp` but with a per-pixel gradient —
    the grayscale value at storage position (x, y) is
    ``(fill + 3x + 5y) % 251`` — so a resample's pixel sum actually
    depends on WHICH source pixels were chosen. Constant-fill images
    can't distinguish a correct nearest-neighbor map from a wrong one;
    this gradient makes the resize oracle exact."""

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            payloads = []
            for did, tlen in zip(pdf["doc_id"], pdf["tlen"]):
                did, tlen = int(did), int(tlen)
                w = (tlen % 31) + 2
                h = (did % 17) + 2
                fill = did % 251
                stride = ((w * 3 + 3) // 4) * 4
                # vectorized gradient: broadcast (fill + 3x + 5y) % 251
                # over the grid, replicate to 3 channels, stride-pad
                grad = ((fill + 3 * np.arange(w)[None, :]
                         + 5 * np.arange(h)[:, None]) % 251).astype(np.uint8)
                padded = np.zeros((h, stride), dtype=np.uint8)
                padded[:, :w * 3] = np.repeat(grad, 3, axis=1)
                payloads.append(bytearray(_bmp_encode(w, h, padded.tobytes())))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.length("text").alias("tlen")).mapInPandas(
        run, schema="doc_id long, payload binary")


def resize_bmp_nn(df: DataFrame, out_w: int, out_h: int,
                  payload_col: str = "payload") -> DataFrame:
    """REAL nearest-neighbor resize over the repo's own BMP codec: parse
    the headers (magic/size/stride validation as in decode_bmp), map
    each output pixel (xo, yo) to source pixel
    ``(xo*w_in DIV out_w, yo*h_in DIV out_h)`` in storage order, copy
    its 3 channel bytes, and re-encode a spec-conformant 24-bpp BMP
    with fresh stride padding. Raises on malformed payloads."""
    if out_w < 1 or out_h < 1:
        raise ValueError(f"output dims must be >= 1, got {out_w}x{out_h}")

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            ids, payloads = [], []
            for did, payload in zip(pdf["doc_id"], pdf[payload_col]):
                raw = bytes(payload)
                src = _parse_bmp(raw, f"doc {did}")
                if src["bpp"] != 24:
                    raise ValueError(f"doc {did}: resize supports 24-bpp only")
                w, h, stride = src["width"], src["height"], src["stride"]
                off = src["off"]
                out_stride = ((out_w * 3 + 3) // 4) * 4
                # vectorized gather: view the padded pixel array as
                # (h, stride) bytes, take the NN index map rows/cols in
                # one fancy-index, then pad each output row's stride
                arr = np.frombuffer(raw, dtype=np.uint8,
                                    count=h * stride, offset=off)
                px = arr.reshape(h, stride)[:, :w * 3].reshape(h, w, 3)
                yi = (np.arange(out_h) * h) // out_h
                xi = (np.arange(out_w) * w) // out_w
                resized = px[yi][:, xi]  # (out_h, out_w, 3)
                padded = np.zeros((out_h, out_stride), dtype=np.uint8)
                padded[:, :out_w * 3] = resized.reshape(out_h, out_w * 3)
                ids.append(int(did))
                payloads.append(bytearray(
                    _bmp_encode(out_w, out_h, padded.tobytes())))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(run, schema="doc_id long, payload binary")


RESIZE_W, RESIZE_H = 20, 10


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document as a gradient BMP, nearest-neighbor resize
    it to RESIZE_W x RESIZE_H with the real codec, decode the result
    back, and report the decoded fields + pixel checksum. The oracle
    recomputes the checksum by applying the same NN index map to the
    gradient formula — so the exact source-pixel choice is verified."""
    from kmr_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    resized = resize_bmp_nn(
        encode_docs_as_gradient_bmp(docs), RESIZE_W, RESIZE_H)
    return decode_bmp(resized).orderBy("doc_id")


_RESIZE_STRIDE = ((RESIZE_W * 3 + 3) // 4) * 4

MULTIMODAL_RESIZE_SQL = f"""
WITH m AS (
  SELECT doc_id,
         (length(text) % 31) + 2 AS w,
         (doc_id % 17) + 2 AS h,
         doc_id % 251 AS fill
  FROM documents WHERE text IS NOT NULL),
px AS (
  SELECT doc_id,
         (fill + 3 * ((xo * w) // {RESIZE_W})
               + 5 * ((yo * h) // {RESIZE_H})) % 251 AS v
  FROM m,
       LATERAL (SELECT unnest(generate_series(0, {RESIZE_W} - 1)) AS xo),
       LATERAL (SELECT unnest(generate_series(0, {RESIZE_H} - 1)) AS yo))
SELECT doc_id,
       CAST({RESIZE_W} AS INTEGER) AS width,
       CAST({RESIZE_H} AS INTEGER) AS height,
       CAST(24 AS INTEGER) AS bpp,
       CAST({_RESIZE_STRIDE} AS INTEGER) AS stride,
       CAST({_BMP_HEADER_SIZE} + {_RESIZE_STRIDE} * {RESIZE_H} AS BIGINT) AS n_bytes,
       CAST(SUM(3 * v) AS BIGINT) AS pixel_sum
FROM px GROUP BY doc_id ORDER BY doc_id
"""


AHASH_SIDE = 8  # aHash operates on an 8x8 grayscale thumbnail


def ahash_bmp(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Perceptual AVERAGE-HASH over real 8x8 BMP thumbnails: per image
    the 64 threshold bits (pixel > image mean, integer-compared as
    px*64 > sum so no float mean exists), packed into two BIGINTs
    (hi/lo 32 bits, j = y*8+x in storage order) plus the popcount.
    Near-duplicate images differ in a few bits — the classic aHash
    dedup primitive (Monga & Evans 2006 family), computed here over
    the repo's own codec with exact integer arithmetic."""

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "doc_id", "ahash_hi", "ahash_lo", "n_ones")}
            for did, payload in zip(pdf["doc_id"], pdf[payload_col]):
                raw = bytes(payload)
                m = _parse_bmp(raw, f"doc {did}")
                if m["width"] != AHASH_SIDE or m["height"] != AHASH_SIDE:
                    raise ValueError(
                        f"doc {did}: ahash expects {AHASH_SIDE}x{AHASH_SIDE}, "
                        f"got {m['width']}x{m['height']}")
                arr = np.frombuffer(
                    raw, dtype=np.uint8,
                    count=m["height"] * m["stride"], offset=m["off"])
                px = (arr.reshape(m["height"], m["stride"])
                      [:, :m["width"] * 3:3].astype(np.int64))  # gray = ch0
                total = int(px.sum())
                bits = (px * (AHASH_SIDE * AHASH_SIDE) > total).astype(
                    np.int64).ravel()  # j = y*8 + x
                lo = int((bits[:32] << np.arange(32)).sum())
                hi = int((bits[32:] << np.arange(32)).sum())
                out["doc_id"].append(int(did))
                out["ahash_hi"].append(hi)
                out["ahash_lo"].append(lo)
                out["n_ones"].append(int(bits.sum()))
            yield pd.DataFrame(out)

    return df.mapInPandas(
        run, schema="doc_id long, ahash_hi long, ahash_lo long, n_ones int")


def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient BMP -> REAL nearest-neighbor resize to 8x8 -> aHash:
    the perceptual-dedup fingerprint pass of an image curation
    pipeline, end-to-end through the real codec."""
    from kmr_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    thumbs = resize_bmp_nn(
        encode_docs_as_gradient_bmp(docs), AHASH_SIDE, AHASH_SIDE)
    return ahash_bmp(thumbs).orderBy("doc_id")


MULTIMODAL_AHASH_SQL = f"""
WITH m AS (
  SELECT doc_id,
         (length(text) % 31) + 2 AS w,
         (doc_id % 17) + 2 AS h,
         doc_id % 251 AS fill
  FROM documents WHERE text IS NOT NULL),
px AS (
  SELECT doc_id, yo * {AHASH_SIDE} + xo AS j,
         (fill + 3 * ((xo * w) // {AHASH_SIDE})
               + 5 * ((yo * h) // {AHASH_SIDE})) % 251 AS v
  FROM m,
       LATERAL (SELECT unnest(generate_series(0, {AHASH_SIDE} - 1)) AS xo),
       LATERAL (SELECT unnest(generate_series(0, {AHASH_SIDE} - 1)) AS yo)),
tot AS (SELECT doc_id, SUM(v) AS total FROM px GROUP BY doc_id),
bits AS (
  SELECT px.doc_id, px.j,
         CASE WHEN px.v * {AHASH_SIDE * AHASH_SIDE} > t.total
              THEN 1 ELSE 0 END AS b
  FROM px JOIN tot t USING (doc_id))
SELECT doc_id,
       CAST(SUM(CASE WHEN j >= 32 THEN b * (CAST(2 AS BIGINT) ^ (j - 32))
                ELSE 0 END) AS BIGINT) AS ahash_hi,
       CAST(SUM(CASE WHEN j < 32 THEN b * (CAST(2 AS BIGINT) ^ j)
                ELSE 0 END) AS BIGINT) AS ahash_lo,
       CAST(SUM(b) AS INTEGER) AS n_ones
FROM bits GROUP BY doc_id ORDER BY doc_id
"""


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document as a real BMP, decode it back with the
    real parser, return the decoded header fields + pixel checksum."""
    from kmr_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    return decode_bmp(encode_docs_as_bmp(docs)).orderBy("doc_id")


# ------------------------------------------------------- real WAV codec

WAV_DECODED_SCHEMA = (
    "doc_id long, sample_rate int, channels int, bits int, "
    "n_samples long, duration_ms long, sample_sum long"
)

_WAV_RATE = 8000


def encode_docs_as_wav(docs: DataFrame) -> DataFrame:
    """Deterministic PCM16 mono RIFF/WAVE file per document. The sample
    count derives from the text length, the (constant) amplitude from
    doc_id — simple arithmetic so the DuckDB oracle predicts every
    decoded field. A LIST/INFO chunk is deliberately placed between fmt
    and data so decoders can't shortcut to fixed offsets: they must
    walk the chunk list like a real reader."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            payloads = []
            for did, tlen in zip(pdf["doc_id"], pdf["tlen"]):
                did, tlen = int(did), int(tlen)
                n = (tlen % 256) + 32
                amp = (did % 199) - 99
                data = struct.pack(f"<{n}h", *([amp] * n))
                fmt = struct.pack(
                    "<HHIIHH", 1, 1, _WAV_RATE, _WAV_RATE * 2, 2, 16)
                info = b"INFO" + bytes([did % 251]) * (4 * ((did % 7) + 1))
                chunks = (
                    b"fmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"LIST" + struct.pack("<I", len(info)) + info
                    + b"data" + struct.pack("<I", len(data)) + data
                )
                payloads.append(bytearray(
                    b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE"
                    + chunks))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.length("text").alias("tlen")).mapInPandas(
        run, schema="doc_id long, payload binary")


def _riff_pcm16(raw: bytes, did: object) -> tuple[tuple, bytes]:
    """Walk a RIFF/WAVE chunk list (validating magic, declared sizes,
    even-byte padding, skipping unknown chunks) and return the unpacked
    fmt tuple and the raw PCM16 data chunk. Raises on malformed input."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError(f"doc {did}: not a RIFF/WAVE file")
    (riff_sz,) = struct.unpack_from("<I", raw, 4)
    if riff_sz + 8 != len(raw):
        raise ValueError(f"doc {did}: RIFF size mismatch")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(raw):
        cid = raw[pos:pos + 4]
        (sz,) = struct.unpack_from("<I", raw, pos + 4)
        if sz > len(raw) - pos - 8:
            raise ValueError(f"doc {did}: chunk {cid!r} overruns the payload")
        body = raw[pos + 8:pos + 8 + sz]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks pad to even length
    if fmt is None or data is None:
        raise ValueError(f"doc {did}: missing fmt or data chunk")
    if fmt[0] != 1 or fmt[5] != 16:
        raise ValueError(f"doc {did}: not PCM16")
    return fmt, data


def decode_wav(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL RIFF/WAVE decode: validates RIFF/WAVE magic and the declared
    size, then walks the chunk list (skipping unknown chunks by their
    declared length, honoring RIFF even-byte padding) to find fmt and
    data; unpacks PCM16 samples and reports format fields, duration,
    and the exact sample sum. Raises on malformed payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "doc_id", "sample_rate", "channels", "bits",
                "n_samples", "duration_ms", "sample_sum")}
            for did, payload in zip(pdf["doc_id"], pdf[payload_col]):
                fmt, data = _riff_pcm16(bytes(payload), did)
                _fmt, channels, rate, _brate, _align, bits = fmt
                n = len(data) // 2
                samples = struct.unpack(f"<{n}h", data)
                out["doc_id"].append(int(did))
                out["sample_rate"].append(rate)
                out["channels"].append(channels)
                out["bits"].append(bits)
                out["n_samples"].append(n)
                out["duration_ms"].append(n * 1000 // rate)
                out["sample_sum"].append(sum(samples))
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=WAV_DECODED_SCHEMA)


def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document as a real WAV, decode with the real RIFF
    chunk-walker, return format fields + duration + sample checksum."""
    from kmr_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    return decode_wav(encode_docs_as_wav(docs)).orderBy("doc_id")


MULTIMODAL_AUDIO_SQL = f"""
WITH m AS (
  SELECT doc_id,
         (length(text) % 256) + 32 AS n,
         (doc_id % 199) - 99 AS amp
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id,
       CAST({_WAV_RATE} AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS channels,
       CAST(16 AS INTEGER) AS bits,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000 // {_WAV_RATE} AS BIGINT) AS duration_ms,
       CAST(amp * n AS BIGINT) AS sample_sum
FROM m ORDER BY doc_id
"""


# --------------------------------------- audio frame-feature extraction

AUDIO_FRAME_LEN = 64

AUDIO_FEATURES_SCHEMA = (
    "doc_id long, frame_idx int, n_samples long, energy long, "
    "zero_crossings long, peak int"
)


def encode_docs_as_tone_wav(docs: DataFrame) -> DataFrame:
    """Deterministic VARYING waveform per document (PCM16 mono RIFF):
    sample i is ``((doc_id + 7*i) mod 201) - 100`` — a sawtooth whose
    sign flips within every frame, so frame energy, zero-crossing
    counts, and peaks all genuinely depend on which samples land in
    which frame (a constant tone would make every feature vacuous, the
    same reason the resize oracle uses a gradient image)."""

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            payloads = []
            for did, tlen in zip(pdf["doc_id"], pdf["tlen"]):
                did, tlen = int(did), int(tlen)
                n = (tlen % 256) + 32
                s = ((did + 7 * np.arange(n)) % 201 - 100).astype("<i2")
                data = s.tobytes()
                fmt = struct.pack(
                    "<HHIIHH", 1, 1, _WAV_RATE, _WAV_RATE * 2, 2, 16)
                chunks = (
                    b"fmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"data" + struct.pack("<I", len(data)) + data
                )
                payloads.append(bytearray(
                    b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE"
                    + chunks))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.length("text").alias("tlen")).mapInPandas(
        run, schema="doc_id long, payload binary")


def audio_frame_features(df: DataFrame, frame_len: int = AUDIO_FRAME_LEN,
                         payload_col: str = "payload") -> DataFrame:
    """Per-frame audio features over REAL RIFF/PCM16 decode: split each
    clip into non-overlapping ``frame_len``-sample frames (last frame
    may be short) and emit energy (sum of squares), zero-crossing count
    (strict sign change between in-frame neighbors), and peak |sample|.

    The per-clip compute is vectorized numpy inside Arrow-batched
    mapInPandas — the multimodal slow-path pattern (SURVEY §2.9 UDF
    surface): rows stay in their input partitions, output fanout is
    n_samples/frame_len per clip, and no shuffle is introduced."""
    if frame_len < 2:
        raise ValueError(f"frame_len must be >= 2, got {frame_len}")

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "doc_id", "frame_idx", "n_samples", "energy",
                "zero_crossings", "peak")}
            for did, payload in zip(pdf["doc_id"], pdf[payload_col]):
                _fmt, data = _riff_pcm16(bytes(payload), did)
                s = np.frombuffer(data, dtype="<i2").astype(np.int64)
                for f0 in range(0, len(s), frame_len):
                    fr = s[f0:f0 + frame_len]
                    out["doc_id"].append(int(did))
                    out["frame_idx"].append(f0 // frame_len)
                    out["n_samples"].append(len(fr))
                    out["energy"].append(int(np.sum(fr * fr)))
                    out["zero_crossings"].append(
                        int(np.sum(fr[:-1] * fr[1:] < 0)))
                    out["peak"].append(int(np.max(np.abs(fr))))
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document as a sawtooth WAV, run the real frame-
    feature extractor, return per-frame energy/ZCR/peak — the feature
    pass an audio curation pipeline runs before filtering clips."""
    from kmr_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    return audio_frame_features(
        encode_docs_as_tone_wav(docs)).orderBy("doc_id", "frame_idx")


MULTIMODAL_AUDIO_FEATURES_SQL = f"""
WITH m AS (
  SELECT doc_id, (length(text) % 256) + 32 AS n
  FROM documents WHERE text IS NOT NULL),
s AS (
  SELECT doc_id, i, (doc_id + 7 * i) % 201 - 100 AS v
  FROM m, unnest(range(n)) AS t(i)),
fr AS (
  SELECT doc_id, CAST(i // {AUDIO_FRAME_LEN} AS INTEGER) AS frame_idx, i, v,
         LAG(v) OVER (PARTITION BY doc_id, i // {AUDIO_FRAME_LEN}
                      ORDER BY i) AS pv
  FROM s)
SELECT doc_id, frame_idx,
       COUNT(*) AS n_samples,
       CAST(SUM(v * v) AS BIGINT) AS energy,
       CAST(SUM(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS zero_crossings,
       CAST(MAX(abs(v)) AS INTEGER) AS peak
FROM fr GROUP BY doc_id, frame_idx
ORDER BY doc_id, frame_idx
"""


# -------------------------------------- video container + frame sampling

VIDEO_FRAME_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, pixel_sum long"
)


def encode_docs_as_video(docs: DataFrame) -> DataFrame:
    """Deterministic toy video per document: a KVID container (magic,
    frame count, then length-prefixed frames) whose frames are REAL BMP
    images. Frame geometry/fill derive from (doc_id, frame_idx) by the
    same arithmetic style as the BMP/WAV encoders so the oracle can
    predict every sampled frame's decode."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            payloads = []
            for did, tlen in zip(pdf["doc_id"], pdf["tlen"]):
                did, tlen = int(did), int(tlen)
                n_frames = (did % 5) + 2
                w = (tlen % 31) + 2
                frames = []
                for f in range(n_frames):
                    h = ((did + f) % 17) + 2
                    fill = (did * 7 + f) % 251
                    stride = ((w * 3 + 3) // 4) * 4
                    row = bytes([fill]) * (w * 3) + b"\0" * (stride - w * 3)
                    pixels = row * h
                    frames.append(_bmp_encode(w, h, pixels))
                body = b"".join(
                    struct.pack("<I", len(fr)) + fr for fr in frames)
                payloads.append(bytearray(
                    b"KVID" + struct.pack("<I", n_frames) + body))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.length("text").alias("tlen")).mapInPandas(
        run, schema="doc_id long, payload binary")


def sample_video_frames(df: DataFrame, every_n: int = 2,
                        payload_col: str = "payload") -> DataFrame:
    """REAL frame sampling: walk the KVID container by its length
    prefixes, decode every ``every_n``-th frame with the real BMP
    parser, emit one row per sampled frame (UDTF shape: 0..n out per
    row in). Unsampled frames are skipped by length without decoding —
    the point of frame sampling at 100 TB."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "doc_id", "frame_idx", "width", "height", "pixel_sum")}
            for did, payload in zip(pdf["doc_id"], pdf[payload_col]):
                raw = bytes(payload)
                if raw[:4] != b"KVID":
                    raise ValueError(f"doc {did}: not a KVID container")
                (n_frames,) = struct.unpack_from("<I", raw, 4)
                pos = 8
                for idx in range(n_frames):
                    (flen,) = struct.unpack_from("<I", raw, pos)
                    pos += 4
                    if idx % every_n == 0:
                        f = _parse_bmp(raw[pos:pos + flen],
                                       f"doc {did} frame {idx}")
                        out["doc_id"].append(int(did))
                        out["frame_idx"].append(idx)
                        out["width"].append(f["width"])
                        out["height"].append(f["height"])
                        out["pixel_sum"].append(f["pixel_sum"])
                    pos += flen
                if pos != len(raw):
                    raise ValueError(f"doc {did}: trailing bytes in container")
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=VIDEO_FRAME_SCHEMA)


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document as a KVID video of real BMP frames, sample
    every 2nd frame with the real demuxer, return per-frame decodes."""
    from kmr_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    return sample_video_frames(
        encode_docs_as_video(docs), every_n=2).orderBy("doc_id", "frame_idx")


MULTIMODAL_FRAMES_SQL = """
WITH m AS (
  SELECT doc_id,
         (doc_id % 5) + 2 AS n_frames,
         (length(text) % 31) + 2 AS w
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(((doc_id + f) % 17) + 2 AS INTEGER) AS height,
       CAST(((doc_id * 7 + f) % 251) * w * 3 * (((doc_id + f) % 17) + 2) AS BIGINT)
         AS pixel_sum
FROM m, LATERAL (SELECT unnest(generate_series(0, n_frames - 1, 2)) AS f)
ORDER BY doc_id, frame_idx
"""


SCENE_CUT_DELTA = 50.0  # mean-intensity jump that counts as a cut


def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the REAL video path: demux every frame
    (every_n=1), compute each frame's mean intensity from its decoded
    pixel sum, and flag frames whose mean jumps more than
    SCENE_CUT_DELTA from the previous frame — the shot-boundary
    primitive a video curation pipeline uses to pick keyframes.

    The synthetic fills advance by 1 per frame (mod 251), so most
    deltas are tiny and the mod wrap produces genuine large jumps —
    the detector has real positives and negatives. Mean intensity is
    an exact integer ratio; the lag window is per-doc ordered by
    frame index."""
    from pyspark.sql import Window

    from kmr_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    frames = sample_video_frames(encode_docs_as_video(docs), every_n=1)
    mean_i = (F.col("pixel_sum").cast("double")
              / (F.col("width") * 3 * F.col("height")).cast("double"))
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    scored = (
        frames.withColumn("mean_intensity", mean_i)
        .withColumn("delta",
                    F.abs(F.col("mean_intensity")
                          - F.lag("mean_intensity").over(w)))
        .filter(F.col("delta").isNotNull())
    )
    return (
        scored.select(
            "doc_id", "frame_idx", "mean_intensity", "delta",
            (F.col("delta") > F.lit(SCENE_CUT_DELTA)).alias("is_cut"))
        .orderBy("doc_id", "frame_idx")
    )


MULTIMODAL_SCENE_CUTS_SQL = f"""
WITH m AS (
  SELECT doc_id, (doc_id % 5) + 2 AS n_frames,
         (length(text) % 31) + 2 AS w
  FROM documents WHERE text IS NOT NULL),
frames AS (
  SELECT doc_id, f AS frame_idx,
         CAST(((doc_id * 7 + f) % 251) AS DOUBLE) AS mean_intensity
  FROM m, LATERAL (SELECT unnest(generate_series(0, n_frames - 1)) AS f)),
scored AS (
  SELECT doc_id, frame_idx, mean_intensity,
         abs(mean_intensity - LAG(mean_intensity) OVER (
             PARTITION BY doc_id ORDER BY frame_idx)) AS delta
  FROM frames)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       mean_intensity, delta,
       delta > {SCENE_CUT_DELTA} AS is_cut
FROM scored WHERE delta IS NOT NULL
ORDER BY doc_id, frame_idx
"""


MULTIMODAL_DECODE_SQL = """
WITH m AS (
  SELECT doc_id,
         (length(text) % 31) + 2 AS w,
         (doc_id % 17) + 2 AS h,
         doc_id % 251 AS fill
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(24 AS INTEGER) AS bpp,
       CAST(((w * 3 + 3) // 4) * 4 AS INTEGER) AS stride,
       CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS BIGINT) AS n_bytes,
       CAST(fill * w * 3 * h AS BIGINT) AS pixel_sum
FROM m ORDER BY doc_id
"""


# -------------------------------------------------- feature extraction

N_HIST_BINS = 8
FEATURES_SCHEMA = ("doc_id long, width int, height int, px_mean double, "
                   + ", ".join(f"h{i} long" for i in range(N_HIST_BINS)))


def extract_bmp_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL feature extraction from decoded pixels: parse the BMP,
    walk the pixel rows (stride padding excluded), and emit a compact
    per-image feature record — grayscale mean plus an 8-bin intensity
    histogram of the blue channel. This is the feature-extract stage of
    the multimodal pipeline (decode → features → resize → frames); at
    scale it is one Arrow-batched narrow pass producing rows 100x
    smaller than the payloads, the standard shape for feeding image
    features into the relational side.
    """

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                ["doc_id", "width", "height", "px_mean"]
                + [f"h{i}" for i in range(N_HIST_BINS)])}
            for did, payload in zip(pdf["doc_id"], pdf[payload_col]):
                raw = bytes(payload)
                f = _parse_bmp(raw, f"doc {did}")
                w, h, stride = f["width"], f["height"], f["stride"]
                off = f["off"]
                bpx = f["bpp"] // 8
                # vectorized channel extract + histogram: blue channel
                # is every bpx-th byte of each unpadded row (gray:
                # B==G==R); bincount over v//32 builds all bins at once
                arr = np.frombuffer(raw, dtype=np.uint8,
                                    count=h * stride, offset=off)
                blue = arr.reshape(h, stride)[:, :w * bpx:bpx]
                bins = np.minimum(blue // 32, N_HIST_BINS - 1)
                hist = np.bincount(bins.ravel(), minlength=N_HIST_BINS)
                out["doc_id"].append(int(did))
                out["width"].append(w)
                out["height"].append(h)
                out["px_mean"].append(int(blue.sum()) / (w * h))
                for i in range(N_HIST_BINS):
                    out[f"h{i}"].append(int(hist[i]))
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=FEATURES_SCHEMA)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document as a gradient BMP and extract per-image
    features from the REAL pixel bytes; the oracle recomputes mean and
    histogram from the gradient formula, so the exact bytes the
    extractor read are verified."""
    from kmr_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    return extract_bmp_features(
        encode_docs_as_gradient_bmp(docs)).orderBy("doc_id")


_HIST_COLS = ",\n       ".join(
    f"CAST(SUM(CASE WHEN LEAST(v // 32, {N_HIST_BINS - 1}) = {i} "
    f"THEN 1 ELSE 0 END) AS BIGINT) AS h{i}"
    for i in range(N_HIST_BINS))

MULTIMODAL_FEATURES_SQL = f"""
WITH m AS (
  SELECT doc_id,
         (length(text) % 31) + 2 AS w,
         (doc_id % 17) + 2 AS h,
         doc_id % 251 AS fill
  FROM documents WHERE text IS NOT NULL),
px AS (
  SELECT doc_id, w, h,
         (fill + 3 * x + 5 * y) % 251 AS v
  FROM m,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x),
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y))
SELECT doc_id,
       CAST(MIN(w) AS INTEGER) AS width,
       CAST(MIN(h) AS INTEGER) AS height,
       CAST(SUM(v) AS DOUBLE) / (MIN(w) * MIN(h)) AS px_mean,
       {_HIST_COLS}
FROM px GROUP BY doc_id ORDER BY doc_id
"""


QUERIES = {
    "multimodal_decode": multimodal_decode,
    "multimodal_audio": multimodal_audio,
    "multimodal_frames": multimodal_frames,
    "multimodal_resize": multimodal_resize,
    "multimodal_features": multimodal_features,
    "multimodal_audio_features": multimodal_audio_features,
    "multimodal_image_ahash": multimodal_image_ahash,
    "multimodal_scene_cuts": multimodal_scene_cuts,
}
ORACLE_SQL = {
    "multimodal_decode": MULTIMODAL_DECODE_SQL,
    "multimodal_audio": MULTIMODAL_AUDIO_SQL,
    "multimodal_frames": MULTIMODAL_FRAMES_SQL,
    "multimodal_resize": MULTIMODAL_RESIZE_SQL,
    "multimodal_features": MULTIMODAL_FEATURES_SQL,
    "multimodal_audio_features": MULTIMODAL_AUDIO_FEATURES_SQL,
    "multimodal_image_ahash": MULTIMODAL_AHASH_SQL,
    "multimodal_scene_cuts": MULTIMODAL_SCENE_CUTS_SQL,
}


#: max Hamming distance for an image near-dup pair; with 4 16-bit
#: bands, pigeonhole guarantees any pair within 3 bits shares at least
#: one band — the banding is RECALL-COMPLETE for this threshold
AHASH_HAMMING_T = 3


def multimodal_dedup_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image NEAR-DUP pairs: aHash the 8x8 thumbnails (the
    real-codec pipeline of multimodal_image_ahash), collapse identical
    hashes into groups, then find group pairs within AHASH_HAMMING_T
    bits via 4x16-bit BAND self-joins — the Hamming-LSH standard: a
    pair differing in <= 3 of 64 bits must agree on one of 4 bands
    (pigeonhole), so the banded join is exact, never all-pairs.
    Output: (rep_a, rep_b, dist, n_a, n_b) per near-dup group pair.

    Scale shape mirrors dedup_minhash_lsh: candidates are keyed
    equi-joins on (band_id, band_value); pair volume is measurable
    from band-bucket counts before materialization; the verify XOR
    popcount runs only on candidates.
    """
    from kmr_spark.session import materialize_release

    h = multimodal_image_ahash(spark, sf_dir)
    # |distinct hashes| rows — persisted: the uncached 4-band x 2-side
    # union re-ran the WHOLE real-codec aHash pipeline (BMP encode ->
    # resize -> hash, the expensive Arrow passes) EIGHT times
    groups = (h.groupBy("ahash_hi", "ahash_lo")
              .agg(F.min("doc_id").alias("rep"), F.count("*").alias("n"))
              .persist())
    band_structs = F.array(*[
        F.struct(F.lit(bid).cast("int").alias("band_id"),
                 F.expr(expr).alias("band_val"))
        for bid, expr in enumerate([
            "ahash_lo & 65535", "(ahash_lo >> 16) & 65535",
            "ahash_hi & 65535", "(ahash_hi >> 16) & 65535"])])
    bands = (groups
             .select("rep", "n", "ahash_hi", "ahash_lo",
                     F.explode(band_structs).alias("b"))
             .select("rep", "n", "ahash_hi", "ahash_lo",
                     "b.band_id", "b.band_val"))
    a = bands.select(F.col("rep").alias("rep_a"), F.col("n").alias("n_a"),
                     F.col("ahash_hi").alias("hi_a"),
                     F.col("ahash_lo").alias("lo_a"),
                     "band_id", "band_val")
    b = bands.select(F.col("rep").alias("rep_b"), F.col("n").alias("n_b"),
                     F.col("ahash_hi").alias("hi_b"),
                     F.col("ahash_lo").alias("lo_b"),
                     "band_id", "band_val")
    pairs = (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b", "n_a", "n_b",
                (F.bit_count(F.expr("hi_a ^ hi_b"))
                 + F.bit_count(F.expr("lo_a ^ lo_b"))).alias("dist"))
        .distinct()  # a pair can collide in several bands
        .filter(F.col("dist") <= AHASH_HAMMING_T)
    )
    return materialize_release(pairs.orderBy("rep_a", "rep_b"), groups)


MULTIMODAL_DEDUP_AHASH_SQL = f"""
WITH ah AS (SELECT * FROM (
  {MULTIMODAL_AHASH_SQL.replace("ORDER BY doc_id", "")}
) t),
g AS (
  SELECT ahash_hi, ahash_lo, MIN(doc_id) AS rep, COUNT(*) AS n
  FROM ah GROUP BY 1, 2)
SELECT a.rep AS rep_a, b.rep AS rep_b, a.n AS n_a, b.n AS n_b,
       CAST(bit_count(xor(a.ahash_hi, b.ahash_hi))
            + bit_count(xor(a.ahash_lo, b.ahash_lo)) AS INTEGER) AS dist
FROM g a JOIN g b ON a.rep < b.rep
WHERE bit_count(xor(a.ahash_hi, b.ahash_hi))
      + bit_count(xor(a.ahash_lo, b.ahash_lo)) <= {AHASH_HAMMING_T}
ORDER BY rep_a, rep_b
"""


QUERIES["multimodal_dedup_ahash"] = multimodal_dedup_ahash
ORACLE_SQL["multimodal_dedup_ahash"] = MULTIMODAL_DEDUP_AHASH_SQL


PHASH_SIDE = 8          # pHash operates on the same 8x8 thumbnail as aHash
PHASH_Q = 1_000_000     # DCT basis quantization (micro-units)
PHASH_BLOCK = 4         # keep the low-frequency 4x4 block minus DC -> 15 bits


def _phash_dct_flat() -> list[int]:
    """Quantized DCT-II basis, flattened c[u*8+x] =
    round(cos(pi*(2x+1)*u/16) * 1e6). Generated ONCE in Python and
    embedded as integer literals on BOTH engines (the spectral-table
    recipe, plans/timeseries.py), so no runtime cos() — and therefore
    no libm — is in either plan."""
    import math

    return [round(math.cos(math.pi * (2 * x + 1) * u / (2 * PHASH_SIDE))
                  * PHASH_Q)
            for u in range(PHASH_SIDE) for x in range(PHASH_SIDE)]


def phash_bmp(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Perceptual DCT-HASH over real 8x8 BMP thumbnails: the 2-D DCT of
    the integer pixel grid against the quantized basis, sign bits of
    the 15 low-frequency coefficients (4x4 block minus DC), packed
    little-endian by k = u*4 + v - 1. pHash survives brightness shifts
    aHash does not (DC carries the mean); all arithmetic is int64 —
    |S_uv| <= 64 * 250 * 1e12 < 2^54, no float ever exists."""

    import numpy as np

    t4 = np.array(_phash_dct_flat(), dtype=np.int64).reshape(
        PHASH_SIDE, PHASH_SIDE)[:PHASH_BLOCK]  # (4, 8), rows = u

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "doc_id", "phash", "n_ones")}
            for did, payload in zip(pdf["doc_id"], pdf[payload_col]):
                raw = bytes(payload)
                m = _parse_bmp(raw, f"doc {did}")
                if m["width"] != PHASH_SIDE or m["height"] != PHASH_SIDE:
                    raise ValueError(
                        f"doc {did}: phash expects {PHASH_SIDE}x"
                        f"{PHASH_SIDE}, got {m['width']}x{m['height']}")
                arr = np.frombuffer(
                    raw, dtype=np.uint8,
                    count=m["height"] * m["stride"], offset=m["off"])
                px = (arr.reshape(m["height"], m["stride"])
                      [:, :m["width"] * 3:3].astype(np.int64))  # px[y][x]
                # S[u, v] = sum_{x,y} px[y][x] * C[u][x] * C[v][y]
                s = t4 @ px.T @ t4.T
                bits = (s.ravel()[1:] > 0).astype(np.int64)  # drop DC
                out["doc_id"].append(int(did))
                out["phash"].append(int((bits << np.arange(15)).sum()))
                out["n_ones"].append(int(bits.sum()))
            yield pd.DataFrame(out)

    return df.mapInPandas(
        run, schema="doc_id long, phash long, n_ones int")


def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient BMP -> real NN resize to 8x8 -> DCT perceptual hash:
    the robust-fingerprint pass of an image dedup pipeline (companion
    to multimodal_image_ahash), end-to-end through the repo's own
    codec. At scale this is one narrow mapInPandas per image — the
    hash is 15 bits + popcount, so the downstream dedup join ships
    2 longs per image, never pixels."""
    from kmr_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    thumbs = resize_bmp_nn(
        encode_docs_as_gradient_bmp(docs), PHASH_SIDE, PHASH_SIDE)
    return phash_bmp(thumbs).orderBy("doc_id")


def _phash_sql() -> str:
    ct = _phash_dct_flat()
    return f"""
WITH m AS (
  SELECT doc_id,
         (length(text) % 31) + 2 AS w,
         (doc_id % 17) + 2 AS h,
         doc_id % 251 AS fill
  FROM documents WHERE text IS NOT NULL),
px AS (
  SELECT doc_id, xo, yo,
         (fill + 3 * ((xo * w) // {PHASH_SIDE})
               + 5 * ((yo * h) // {PHASH_SIDE})) % 251 AS v
  FROM m,
       LATERAL (SELECT unnest(generate_series(0, {PHASH_SIDE} - 1)) AS xo),
       LATERAL (SELECT unnest(generate_series(0, {PHASH_SIDE} - 1)) AS yo)),
co AS (
  SELECT p.doc_id, uu, vv,
         SUM(p.v * ({ct})[uu * {PHASH_SIDE} + p.xo + 1]
                 * ({ct})[vv * {PHASH_SIDE} + p.yo + 1]) AS s
  FROM px p,
       LATERAL (SELECT unnest(generate_series(0, {PHASH_BLOCK - 1})) AS uu),
       LATERAL (SELECT unnest(generate_series(0, {PHASH_BLOCK - 1})) AS vv)
  WHERE NOT (uu = 0 AND vv = 0)
  GROUP BY 1, 2, 3)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0
                THEN CAST(2 AS BIGINT) ^ (uu * {PHASH_BLOCK} + vv - 1)
                ELSE 0 END) AS BIGINT) AS phash,
       CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_ones
FROM co GROUP BY doc_id ORDER BY doc_id
"""


MULTIMODAL_PHASH_SQL = _phash_sql()

QUERIES["multimodal_image_phash"] = multimodal_image_phash
ORACLE_SQL["multimodal_image_phash"] = MULTIMODAL_PHASH_SQL
