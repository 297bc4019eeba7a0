"""Multimodal column support: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched Pandas UDFs.

Design (the part that matters at 100 TB):
- media rides in a ``binary`` column next to a ``meta`` struct
  (kind/width/height/sample_rate/duration_ms/n_frames) — one row per
  asset, columnar at rest, so metadata predicates prune without touching
  payload bytes (Parquet column pruning skips the binary column entirely
  for metadata-only queries).
- ingest path: any table carrying bytes (Spark's own ``binaryFile``
  source reads an asset directory into that shape).
- compute path: ``mapInPandas`` — the payload crosses to Python ONCE per
  Arrow batch, not per row; batch size is controlled by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` so executor memory is
  bounded by batch_size × max_asset_size.

Decode support without codec libraries:
- ``decoder="real"`` runs a pure-Python image decode — PNG header parse +
  full pixel decode (zlib inflate, scanline unfilter, all five PNG filter
  types) and JPEG SOF header parse — stdlib ``zlib``/``struct`` only, so
  it works in this container and on any executor. Audio/video codecs
  (ffmpeg/librosa) stay out of scope; their queries use metadata plumbing.
- ``decoder="fake"`` keeps the deterministic pseudo-decode (seeded by
  content hash) for fixtures that carry non-image payloads.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_sha", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media fixture: documents' text bytes as fake 'image'
    payloads — real binary column, real metadata struct, fake pixels."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.struct(
            F.lit("image").alias("kind"),
            (F.length("text") % 640).cast("int").alias("width"),
            (F.length("text") % 480).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit(1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


PNG_SIG = b"\x89PNG\r\n\x1a\n"

# PNG color type -> channel count (spec §11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    """length + tag + body + CRC32(tag+body) — PNG chunk framing."""
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _uniform_filtered_scanlines(
    width: int, height: int, channels: int, row_value, filter_type: int
) -> bytes:
    """Filtered scanline stream for an image whose every row y is the
    uniform value row_value(y): the filtered bytes are closed-form —
    None: v everywhere; Sub: v for the first pixel then zeros;
    Up: (v - prev_v) everywhere — so no per-byte loop."""
    stride = width * channels
    raw = bytearray()
    pv = 0
    for y in range(height):
        v = row_value(y) & 0xFF
        if filter_type == 0:
            filtered = bytes([v]) * stride
        elif filter_type == 1:
            filtered = bytes([v]) * channels + bytes(stride - channels)
        else:
            filtered = bytes([(v - pv) & 0xFF]) * stride
        raw.append(filter_type)
        raw.extend(filtered)
        pv = v
    return bytes(raw)


def png_encode(
    width: int,
    height: int,
    channels: int,
    row_value,  # callable y -> int pixel value for every sample in row y
    filter_type: int = 0,
) -> bytes:
    """Minimal pure-Python PNG writer (8-bit, grayscale/RGB/RGBA, no
    interlace): IHDR + one IDAT (zlib of filtered scanlines) + IEND.
    ``filter_type`` 0 (None), 1 (Sub) or 2 (Up) is applied to every
    scanline so decoders must actually run the unfilter pass."""
    color_type = {1: 0, 3: 2, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = _uniform_filtered_scanlines(width, height, channels, row_value, filter_type)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def png_encode_pixels(px, filter_type: int = 0) -> bytes:
    """PNG writer for an ARBITRARY (h, w, c) uint8 pixel array (8-bit,
    c in {1,2,3,4}, no interlace) — the encoder the resize path needs,
    where scanlines are no longer uniform. Filter 0 keeps the filtered
    stream a plain memory copy; zlib does the compression."""
    import numpy as np

    h, w, c = px.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    if filter_type != 0:
        raise ValueError("png_encode_pixels writes filter 0 only")
    # one filter byte per scanline then raw samples: build as one array
    flat = np.zeros((h, w * c + 1), dtype=np.uint8)
    flat[:, 1:] = np.ascontiguousarray(px, dtype=np.uint8).reshape(h, w * c)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(flat.tobytes()))
        + _png_chunk(b"IEND", b"")
    )


def resize_nearest_px(px, width: int, height: int):
    """Nearest-neighbor resample of an (h, w, c) array by integer index
    sampling: source index = (dst_index * src_size) // dst_size — pure
    numpy fancy indexing, exactly replayable in SQL for oracles."""
    import numpy as np

    h, w, _ = px.shape
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return px[ys][:, xs, :]


def png_parse_header(data: bytes) -> dict:
    """(fmt, width, height, channels, bit_depth) from the IHDR chunk."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    if data[12:16] != b"IHDR":
        raise ValueError("IHDR not first chunk")
    width, height, bit_depth, color_type = struct.unpack(">IIBB", data[16:26])
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"bad color type {color_type}")
    return {
        "fmt": "png",
        "width": width,
        "height": height,
        "channels": _PNG_CHANNELS[color_type],
        "bit_depth": bit_depth,
    }


def jpeg_parse_header(data: bytes) -> dict:
    """(fmt, width, height, channels, bit_depth) from the first SOFn marker
    — a linear scan over JPEG segments, no entropy decode."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            precision, height, width, ncomp = struct.unpack(
                ">BHHB", data[i + 4 : i + 10]
            )
            return {
                "fmt": "jpeg",
                "width": width,
                "height": height,
                "channels": ncomp,
                "bit_depth": precision,
            }
        i += 2 + seg_len
    raise ValueError("no SOF marker found")


def decode_image_meta(data: bytes) -> dict:
    """Dispatch PNG/JPEG header parse by magic bytes."""
    if data[:8] == PNG_SIG:
        return png_parse_header(data)
    if data[:2] == b"\xff\xd8":
        return jpeg_parse_header(data)
    raise ValueError("unknown image format")


def png_decode(data: bytes):
    """Full PNG pixel decode → numpy uint8 array (height, width, channels).

    Pure Python + stdlib zlib: concatenates IDAT chunks, inflates, and
    un-applies the per-scanline filter (all five types: None/Sub/Up/
    Average/Paeth, spec §9). Supports 8-bit depth, color types 0/2/4/6,
    no interlace — the common web/png-writer subset. Raises ValueError
    outside that subset (palette, 16-bit, Adam7)."""
    import numpy as np

    hdr = png_parse_header(data)
    if hdr["bit_depth"] != 8:
        raise ValueError("only 8-bit PNGs supported")
    w, h, c = hdr["width"], hdr["height"], hdr["channels"]

    idat = bytearray()
    i = 8
    interlace = data[28]
    if interlace != 0:
        raise ValueError("interlaced PNGs not supported")
    while i + 8 <= len(data):
        (length,) = struct.unpack(">I", data[i : i + 4])
        tag = data[i + 4 : i + 8]
        if tag == b"IDAT":
            idat.extend(data[i + 8 : i + 8 + length])
        if tag == b"IEND":
            break
        i += 12 + length
    return _unfilter(zlib.decompress(bytes(idat)), w, h, c)


def _unfilter(raw: bytes, w: int, h: int, c: int):
    """Inflated filtered scanline stream → (h, w, c) uint8 pixels: the
    PNG unfilter pass (spec §9), shared by the still decoder and the
    per-frame APNG decoder."""
    import numpy as np

    stride = w * c
    if len(raw) != h * (stride + 1):
        raise ValueError("truncated PNG pixel data")

    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    fts, lines = arr[:, 0], arr[:, 1:]
    # whole-image fast paths when every scanline uses the same filter
    # (the common writer behavior, and our fixtures): one or two numpy
    # calls instead of a per-row loop of tiny array ops
    ft0 = int(fts[0])
    if (fts == ft0).all():
        if ft0 == 0:
            return lines.reshape(h, w, c).copy()
        if ft0 == 2:  # Up everywhere — column-wise prefix sum mod 256
            return (
                (np.cumsum(lines, axis=0, dtype=np.int64) & 0xFF)
                .astype(np.uint8)
                .reshape(h, w, c)
            )
        if ft0 == 1:  # Sub everywhere — per-row channel-lane prefix sum
            return (
                (np.cumsum(lines.reshape(h, w, c), axis=1, dtype=np.int64) & 0xFF)
                .astype(np.uint8)
            )

    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    rowlen = stride + 1
    for y in range(h):
        ft = raw[y * rowlen]
        off = y * rowlen + 1
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off)
        if ft == 0:
            rec = line
        elif ft == 2:  # Up — uint8 addition wraps mod 256, which IS the spec
            rec = line + prev
        elif ft == 1:
            # Sub: rec[x] = line[x] + rec[x-c] — a per-channel-lane prefix
            # sum mod 256 (mod distributes over +), so one cumsum over the
            # (w, c) view replaces the per-byte Python loop
            rec = (
                (np.cumsum(line.reshape(w, c), axis=0, dtype=np.int64) & 0xFF)
                .astype(np.uint8)
                .reshape(stride)
            )
        elif ft in (3, 4):
            # Average / Paeth carry a true left-to-right data dependence
            # (floor-div / 3-way min of the running value) — keep the
            # scalar loop but on Python lists: list indexing beats numpy
            # scalar indexing several-fold in this shape
            lb = raw[off : off + stride]
            pl = prev.tolist()
            rl = [0] * stride
            if ft == 3:
                for x in range(stride):
                    a = rl[x - c] if x >= c else 0
                    rl[x] = (lb[x] + ((a + pl[x]) >> 1)) & 0xFF
            else:
                for x in range(stride):
                    a = rl[x - c] if x >= c else 0
                    b = pl[x]
                    cc = pl[x - c] if x >= c else 0
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                    rl[x] = (lb[x] + pred) & 0xFF
            rec = np.array(rl, dtype=np.uint8)
        else:
            raise ValueError(f"bad filter type {ft}")
        out[y] = rec
        prev = out[y]
    return out.reshape(h, w, c)


def _fake_decode(content: bytes) -> list[float]:
    """Deterministic stand-in for codec output: FEATURE_DIM floats in
    [0, 1) derived from the content digest. NOT a real decode — marks the
    seam where PIL/ffmpeg would run."""
    digest = hashlib.sha256(content).digest()
    return [b / 255.0 for b in digest[:FEATURE_DIM]]


def _real_decode(content: bytes) -> list[float]:
    """Feature vector from an actual pixel decode (PNG) or header parse
    (JPEG): [width, height, channels, bit_depth, mean, std, min, max,
    per-channel means (≤4), 0-padding] — pixel stats scaled to [0, 1]."""
    meta = decode_image_meta(content)
    feats = [
        float(meta["width"]),
        float(meta["height"]),
        float(meta["channels"]),
        float(meta["bit_depth"]),
    ]
    if meta["fmt"] == "png":
        px = png_decode(content).astype("float64")
        feats += [
            px.mean() / 255.0,
            px.std() / 255.0,
            px.min() / 255.0,
            px.max() / 255.0,
        ]
        feats += [px[:, :, ch].mean() / 255.0 for ch in range(px.shape[2])]
    return (feats + [0.0] * FEATURE_DIM)[:FEATURE_DIM]


def extract_features(media: DataFrame, decoder: str = "fake") -> DataFrame:
    """binary → feature vector via mapInPandas (Arrow-batched).

    ``decoder="real"`` runs the pure-Python PNG/JPEG decode (no codec
    libraries needed); ``decoder="fake"`` is the digest-seeded stand-in
    for non-image payload fixtures. Either way the payload crosses to
    Python once per Arrow batch."""
    if decoder not in {"fake", "real"}:
        raise ValueError(decoder)
    decode = _real_decode if decoder == "real" else _fake_decode

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = pdf["content"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": contents.map(len).astype("int64"),
                    "content_sha": contents.map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    ),
                    "features": contents.map(lambda b: decode(bytes(b))),
                }
            )

    return media.mapInPandas(batch_fn, schema=FEATURES_SCHEMA)


def png_media_from_documents(docs: DataFrame) -> DataFrame:
    """Real-PNG media fixture: one valid PNG per document, dimensions and
    pixel content derived deterministically from document columns so an
    external oracle can predict the decoded stats without a codec:

        width    = char_length(text) % 64 + 1
        height   = char_length(text) % 48 + 1
        channels = 1 if doc_id even else 3
        pixel[y] = (doc_id + y) % 256   (uniform across each scanline)
        filter   = doc_id % 3           (None / Sub / Up)

    Built in mapInPandas (Arrow-batched) because PNG encoding is
    imperative byte work — the fixture path, not a hot path."""

    return docs.select("doc_id", "text").mapInPandas(
        _png_media_batches, schema=MEDIA_SCHEMA
    )


def _png_media_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Per-batch PNG fixture kernel shared by ``png_media_from_documents``
    and the fused fixture+decode path."""
    for pdf in batches:
        rows = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            w = len(text) % 64 + 1
            h = len(text) % 48 + 1
            c = 1 if doc_id % 2 == 0 else 3
            content = png_encode(
                w, h, c, lambda y, d=doc_id: (d + y) % 256, int(doc_id % 3)
            )
            rows.append(
                {
                    "media_id": doc_id,
                    "content": content,
                    "meta": {
                        "kind": "image",
                        "width": w,
                        "height": h,
                        "sample_rate": None,
                        "duration_ms": None,
                        "n_frames": 1,
                    },
                }
            )
        yield pd.DataFrame(rows)


def apng_media_from_documents(docs: DataFrame) -> DataFrame:
    """Real-APNG video fixture: one valid animated PNG per document,
    every field derived deterministically from document columns so an
    external oracle can predict per-frame decoded stats without a codec:

        n_frames    = char_length(text) % 6 + 2     (2..7 frames)
        width       = char_length(text) % 16 + 1
        height      = char_length(text) % 12 + 1
        channels    = 1 if doc_id even else 3
        pixel[f, y] = (doc_id + 7*f + y) % 256      (uniform scanlines)
        filter      = doc_id % 3                    (None / Sub / Up)
    """

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                n_frames = len(text) % 6 + 2
                w = len(text) % 16 + 1
                h = len(text) % 12 + 1
                c = 1 if doc_id % 2 == 0 else 3
                content = apng_encode(
                    w, h, c, n_frames,
                    lambda f, y, d=doc_id: (d + 7 * f + y) % 256,
                    int(doc_id % 3),
                )
                rows.append(
                    {
                        "media_id": doc_id,
                        "content": content,
                        "meta": {
                            "kind": "video",
                            "width": w,
                            "height": h,
                            "sample_rate": None,
                            "duration_ms": n_frames * 40,
                            "n_frames": n_frames,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return docs.select("doc_id", "text").mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


DECODE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("bit_depth", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("mean_px", T.DoubleType()),
    ]
)


def _decode_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Per-batch decode-stats kernel shared by ``decode_stats`` and the
    fused fixture+decode path."""
    for pdf in batches:
        rows = []
        for media_id, content in zip(pdf["media_id"], pdf["content"]):
            data = bytes(content)
            meta = decode_image_meta(data)
            px = png_decode(data) if meta["fmt"] == "png" else None
            rows.append(
                {
                    "media_id": media_id,
                    "fmt": meta["fmt"],
                    "width": meta["width"],
                    "height": meta["height"],
                    "channels": meta["channels"],
                    "bit_depth": meta["bit_depth"],
                    "n_pixels": meta["width"] * meta["height"],
                    "mean_px": float(px.mean()) if px is not None else None,
                }
            )
        yield pd.DataFrame(rows)


def decode_stats(media: DataFrame) -> DataFrame:
    """Per-image decoded statistics via the pure-Python codec: header
    fields from the byte parse and mean pixel value from the full decode
    (inflate + unfilter) — the real-decode path, Arrow-batched."""

    return media.mapInPandas(_decode_stats_batches, schema=DECODE_STATS_SCHEMA)


def png_decode_stats_from_documents(docs: DataFrame) -> DataFrame:
    """Fused fixture+decode: ``decode_stats(png_media_from_documents(docs))``
    composed inside ONE mapInPandas, so the generated PNG bytes never make
    the JVM→Python→JVM round trip between the two operators (guide §4:
    two chained Python-eval nodes each pay a full Arrow serialization of
    the binary column; composing the batch kernels halves the crossings).
    Byte-for-byte the same per-batch work — both stages' kernels are the
    shared module-level functions."""

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _decode_stats_batches(_png_media_batches(batches))

    return docs.select("doc_id", "text").mapInPandas(
        batch_fn, schema=DECODE_STATS_SCHEMA
    )


def resize_nearest(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize over the binary media column: PNG payloads are
    decoded (inflate + unfilter), nearest-neighbor resampled by integer
    index sampling (src = (dst * src_size) // dst_size), and re-encoded —
    no image libraries, pure numpy inside the Arrow-batched mapInPandas.
    Non-PNG payloads pass through untouched (metadata included): WAV/JPEG
    resampling is a different codec's job and silently rewriting their
    meta would lie about the bytes."""

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, metas = [], []
            for content, meta in zip(pdf["content"], pdf["meta"]):
                data = bytes(content)
                if data[:8] == PNG_SIG:
                    resized = resize_nearest_px(png_decode(data), width, height)
                    contents.append(png_encode_pixels(resized))
                    metas.append({**meta, "width": width, "height": height})
                else:
                    contents.append(data)
                    metas.append(meta)
            out = pdf.copy()
            out["content"] = contents
            out["meta"] = metas
            yield out

    return media.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# APNG (animated PNG) — the video container for the frame sampler. APNG is
# part of the PNG specification (W3C PNG 3rd edition §12: acTL / fcTL / fdAT
# chunks); frames here are full-size (no sub-rectangle offsets), each frame's
# pixel data an independent zlib stream, so every frame decodes with the same
# inflate + unfilter pass as a still PNG.
# ---------------------------------------------------------------------------

_FCTL_FULL = struct.Struct(">IIIIIHHBB")  # seq, w, h, x, y, delay n/d, dispose, blend


def apng_encode(
    width: int,
    height: int,
    channels: int,
    n_frames: int,
    frame_row_value,  # callable (f, y) -> pixel value for every sample in row y
    filter_type: int = 0,
    delay_ms: int = 40,
) -> bytes:
    """Minimal pure-Python APNG writer: IHDR + acTL + (fcTL+IDAT for frame
    0, the default image) + (fcTL+fdAT per later frame) + IEND. Full-size
    frames, dispose NONE / blend SOURCE, one zlib stream per frame."""
    if n_frames < 1:
        raise ValueError("need at least one frame")
    color_type = {1: 0, 3: 2, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    out = bytearray(PNG_SIG)
    out += _png_chunk(b"IHDR", ihdr)
    out += _png_chunk(b"acTL", struct.pack(">II", n_frames, 0))
    seq = 0
    for f in range(n_frames):
        fctl = _FCTL_FULL.pack(seq, width, height, 0, 0, delay_ms, 1000, 0, 0)
        out += _png_chunk(b"fcTL", fctl)
        seq += 1
        raw = _uniform_filtered_scanlines(
            width, height, channels, lambda y, f=f: frame_row_value(f, y), filter_type
        )
        data = zlib.compress(raw)
        if f == 0:
            out += _png_chunk(b"IDAT", data)
        else:
            out += _png_chunk(b"fdAT", struct.pack(">I", seq) + data)
            seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


def apng_decode_frames(data: bytes) -> list:
    """Full APNG decode → list of (h, w, c) uint8 arrays, one per frame.

    Chunk walk collects acTL/fcTL/IDAT/fdAT; each frame's (possibly
    multi-chunk) data is one zlib stream, inflated and unfiltered with the
    same `_unfilter` pass as still PNGs. Only the subset our writer emits
    is supported (full-size frames at offset 0, default image is frame 0);
    a plain PNG (no acTL) decodes as a single frame."""
    hdr = png_parse_header(data)
    w, h, c = hdr["width"], hdr["height"], hdr["channels"]
    frames: list[bytearray] = []
    n_declared = None
    in_frame = False
    i = 8
    while i + 8 <= len(data):
        (length,) = struct.unpack(">I", data[i : i + 4])
        tag = data[i + 4 : i + 8]
        body = data[i + 8 : i + 8 + length]
        if tag == b"acTL":
            n_declared = struct.unpack(">II", body)[0]
        elif tag == b"fcTL":
            _, fw, fh, fx, fy = struct.unpack(">IIIII", body[:20])
            if (fw, fh, fx, fy) != (w, h, 0, 0):
                raise ValueError("sub-rectangle APNG frames not supported")
            frames.append(bytearray())
            in_frame = True
        elif tag == b"IDAT":
            if not in_frame:  # plain PNG or default image outside animation
                frames.append(bytearray())
                in_frame = True
            frames[-1].extend(body)
        elif tag == b"fdAT":
            frames[-1].extend(body[4:])  # skip the 4-byte sequence number
        elif tag == b"IEND":
            break
        i += 12 + length
    if n_declared is not None and n_declared != len(frames):
        raise ValueError("acTL frame count mismatch")
    return [_unfilter(zlib.decompress(bytes(fr)), w, h, c) for fr in frames]


def _is_apng(data: bytes) -> bool:
    """Exact animation check: walk chunk tags until acTL or IDAT — a
    substring scan could false-positive on compressed payload bytes."""
    if data[:8] != PNG_SIG:
        return False
    i = 8
    while i + 8 <= len(data):
        (length,) = struct.unpack(">I", data[i : i + 4])
        tag = data[i + 4 : i + 8]
        if tag == b"acTL":
            return True
        if tag in (b"IDAT", b"IEND"):
            return False
        i += 12 + length
    return False


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """REAL video frame sampling over the binary media column: APNG
    payloads are decoded (chunk walk + per-frame inflate/unfilter), every
    ``every_n``-th frame kept, and each kept frame re-encoded as a
    standalone still PNG — one output row per kept frame, pure stdlib +
    numpy inside Arrow-batched mapInPandas. Non-animated payloads keep the
    metadata-driven plumbing: one row per sampled frame index from
    meta.n_frames, payload passed through untouched (no codec for that
    container lives here, and rewriting its bytes would lie)."""

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content, meta in zip(
                pdf["media_id"], pdf["content"], pdf["meta"]
            ):
                data = bytes(content)
                if _is_apng(data):
                    frames = apng_decode_frames(data)
                    for f in range(0, len(frames), every_n):
                        h, w, _ = frames[f].shape
                        rows.append(
                            {
                                "media_id": media_id,
                                "frame_idx": f,
                                "content": png_encode_pixels(frames[f]),
                                "meta": {
                                    **meta,
                                    "kind": "image",
                                    "width": w,
                                    "height": h,
                                    "n_frames": 1,
                                },
                            }
                        )
                else:
                    n = max(int(meta["n_frames"] or 1), 1)
                    for f in range(0, n, every_n):
                        rows.append(
                            {
                                "media_id": media_id,
                                "frame_idx": f,
                                "content": data,
                                "meta": dict(meta),
                            }
                        )
            yield pd.DataFrame(rows)

    return media.mapInPandas(batch_fn, schema=FRAME_SCHEMA)


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("mean_amp", T.DoubleType()),
    ]
)


def wav_encode(sample_rate: int, samples: list[int]) -> bytes:
    """Minimal valid PCM16 mono WAV (RIFF/fmt/data) — stdlib struct only."""
    pcm = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_parse(data: bytes) -> dict:
    """Chunk-walking WAV parse: validates RIFF/WAVE, reads fmt, returns
    sample rate and the int16 samples — a real (if minimal) audio decode
    with no codec library."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, sample_rate, samples = 12, None, None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            _, channels, sample_rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if bits != 16 or channels != 1:
                raise ValueError("only PCM16 mono supported")
        elif tag == b"data":
            samples = struct.unpack(f"<{size // 2}h", body)
        pos += 8 + size + (size % 2)
    if sample_rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return {"sample_rate": sample_rate, "samples": samples}


def wav_media_from_documents(docs: DataFrame, sample_rate: int = 8000) -> DataFrame:
    """Real-WAV audio fixture: one PCM16 file per document with content an
    external oracle can predict without a codec:

        n_samples = n_chars * 4
        sample[i] = ((doc_id * 31 + i) % 65536) - 32768
    """

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text) * 4
                samples = [((doc_id * 31 + i) % 65536) - 32768 for i in range(n)]
                rows.append(
                    {
                        "media_id": doc_id,
                        "content": wav_encode(sample_rate, samples),
                        "meta": {
                            "kind": "audio",
                            "width": None,
                            "height": None,
                            "sample_rate": sample_rate,
                            "duration_ms": n * 1000 // sample_rate,
                            "n_frames": None,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return docs.select("doc_id", "text").mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


def audio_stats(media: DataFrame) -> DataFrame:
    """Per-file decoded audio statistics via the chunk-walking WAV parse —
    Arrow-batched; payload bytes cross to Python once per batch."""

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                parsed = wav_parse(bytes(content))
                s = parsed["samples"]
                n = len(s)
                rows.append(
                    {
                        "media_id": media_id,
                        "sample_rate": parsed["sample_rate"],
                        "n_samples": n,
                        "duration_ms": n * 1000 // parsed["sample_rate"],
                        "mean_amp": float(sum(s)) / n if n else None,
                    }
                )
            yield pd.DataFrame(rows)

    return media.mapInPandas(batch_fn, schema=AUDIO_STATS_SCHEMA)


def average_hash(media: DataFrame, size: int = 8) -> DataFrame:
    """Perceptual average-hash (aHash) over a binary image column:
    decode → nearest-neighbor downsample to size×size → integer
    grayscale (channel mean) → one bit per pixel, set iff the pixel
    exceeds the image mean → hex digest, MSB-first row-major (numpy
    packbits order). The classic near-duplicate-image fingerprint: two
    renderings of the same picture (recompression, mild resize) share
    the hash, unlike byte-level digests.

    The threshold compare is cross-multiplied to stay in integers
    (``n·px > Σpx`` instead of ``px > Σpx/n``), so the whole hash is
    exact arithmetic — no float crosses the engine boundary and an
    external oracle can replay it. Arrow-batched mapInPandas like every
    codec kernel here; per-image work is O(decoded pixels)."""
    import numpy as np

    n_px = size * size

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                px = png_decode(bytes(content)).astype(np.int64)
                small = resize_nearest_px(px, size, size)
                gray = small.sum(axis=2) // small.shape[2]
                total = int(gray.sum())
                bits = (gray * n_px > total).reshape(-1)
                out.append(
                    {"media_id": mid, "ahash": np.packbits(bits).tobytes().hex()}
                )
            yield pd.DataFrame(out)

    return media.select("media_id", "content").mapInPandas(
        batch_fn, schema="media_id long, ahash string"
    )


def audio_downsample(media: DataFrame, factor: int = 2) -> DataFrame:
    """Integer-factor audio downsampling through the REAL codec path:
    chunk-walk parse → keep every ``factor``-th sample → re-encode at
    rate/factor. Decimation without a low-pass filter — the honest name
    for it; deterministic and exactly replayable, which is the property
    the oracle needs (a windowed-sinc resampler's floats would not be).
    Arrow-batched like every codec kernel here; output is a fresh media
    frame, so stats/decode can run on it AGAIN, putting parse,
    decimation, re-encode and the second parse all under the hash."""

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                parsed = wav_parse(bytes(content))
                kept = list(parsed["samples"][::factor])
                rate = parsed["sample_rate"] // factor
                rows.append(
                    {
                        "media_id": media_id,
                        "content": wav_encode(rate, kept),
                        "meta": {
                            "kind": "audio",
                            "width": None,
                            "height": None,
                            "sample_rate": rate,
                            "duration_ms": len(kept) * 1000 // rate if rate else None,
                            "n_frames": None,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        batch_fn, schema=MEDIA_SCHEMA
    )


def pixel_digest(media: DataFrame) -> DataFrame:
    """(media_id, px_md5): content digest of the DECODED pixel buffer
    (md5 of its hex encoding — hex because portable SQL md5 implement-
    ations hash text, not blobs). Distinct from a file-byte digest: two
    encodings of the same picture (different PNG filter types, different
    compressors) collide HERE and nowhere else — the exact-dup layer of
    image dedup, below the perceptual aHash layer."""

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                px = png_decode(bytes(content))
                out.append(
                    {
                        "media_id": mid,
                        "px_md5": hashlib.md5(
                            px.tobytes().hex().encode()
                        ).hexdigest(),
                    }
                )
            yield pd.DataFrame(out)

    return media.select("media_id", "content").mapInPandas(
        batch_fn, schema="media_id long, px_md5 string"
    )
