"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The container has no image/audio codec libraries, so the decode step is
pluggable; two vendored pure-python codecs (``operators/png.py`` and the
baseline-JPEG ``operators/jpeg.py``) make it a REAL decode with no
dependency at all:

- ``decode_media``: resolves registered codecs first, then the fake
  below, and raises ``NotImplementedError`` only when a named codec is
  not registered;
- ``fake_decode_media``: a deterministic md5-derived "decoder" that
  exercises the REAL Spark-side plumbing (binary columns, Arrow batch
  transfer, schema contract, per-partition batching) with reproducible
  outputs, so the pipeline shape is testable end-to-end today and the
  decoder body is swappable later.

Scale notes: mapInPandas streams Arrow batches per partition — decode
parallelism equals partition count, no driver involvement, and binary
payloads never leave the executor that read them. Repartition upstream by a
size-balanced key when media files are skewed.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = (
    "width int, height int, channels int, format string"
)


def with_media_column(df: DataFrame, source_col: str,
                      media_col: str = "media") -> DataFrame:
    """Pack a column into the opaque-binary media representation with byte
    size metadata — the storage contract for multimodal tables."""
    return df.withColumn(
        media_col,
        F.struct(
            F.col(source_col).cast("binary").alias("content"),
            F.length(F.col(source_col).cast("binary")).alias("n_bytes"),
            F.lit("application/octet-stream").alias("mime"),
        ),
    )


# --------------------------------------------------------------- codecs
#
# Pluggable per-row decoders: content bytes -> (width, height, channels,
# format) or None on decode failure. Resolution order: explicitly
# registered codecs (``register_png_codec``, ``register_jpeg_codec`` or a
# caller's own), then the deterministic fake.

def _fake_decode(content: bytes):
    digest = hashlib.md5(content or b"").hexdigest()
    return (1 + int(digest[0:2], 16), 1 + int(digest[2:4], 16),
            1 + int(digest[4], 16) % 4, "fake/" + digest[5])


_CODEC_REGISTRY: dict = {"fake": _fake_decode}


def register_codec(name: str, decode_fn) -> None:
    """Register a custom per-row decoder (bytes -> (w, h, channels, format)
    or None). Must be importable/picklable for executor shipping."""
    _CODEC_REGISTRY[name] = decode_fn


def _codec_available(name: str) -> bool:
    """Whether a codec of this name is registered."""
    return name in _CODEC_REGISTRY


def resolve_codec(preferred: str = "auto"):
    """Return (name, decode_fn). ``auto`` picks the first registered
    codec, else the deterministic fake."""
    if preferred != "auto":
        if preferred in _CODEC_REGISTRY:
            return preferred, _CODEC_REGISTRY[preferred]
        raise NotImplementedError(
            f"media codec {preferred!r} is not available in this "
            "environment; register one with register_codec() or use "
            "codec='auto' to fall back to the deterministic fake decoder")
    for name, fn in _CODEC_REGISTRY.items():
        if name != "fake":
            return name, fn
    return "fake", _fake_decode


def decode_media(df: DataFrame, media_col: str, id_col: str,
                 codec: str = "auto") -> DataFrame:
    """Decode the opaque media column to typed metadata via the codec
    registry — REAL decoding when a codec is registered (the vendored PNG
    and JPEG decoders, or a caller's own), the deterministic fake otherwise
    (marked by ``format`` starting with ``fake/``). Same distributed plumbing
    either way: Arrow-batched ``mapInPandas``, decode parallelism =
    partition count, payloads never leave the executor."""
    _codec_name, decode_fn = resolve_codec(codec)  # fail fast on the driver
    out_schema = f"{id_col} long, n_bytes int, {MEDIA_META_SCHEMA}"

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # decode_fn ships by reference (module-level def or registered
        # picklable callable); codec libraries import lazily per executor.
        # zip over the raw numpy object arrays — iterrows() materializes a
        # Series per row and is several times slower.
        for pdf in batches:
            metas = []
            for id_, content in zip(pdf["__id"].values,
                                    pdf["__content"].values):
                content = content or b""
                meta = decode_fn(content) or (None, None, None, None)
                metas.append((id_, len(content), *meta))
            yield pd.DataFrame(
                metas,
                columns=[id_col, "n_bytes", "width", "height", "channels",
                         "format"],
            )

    packed = df.select(
        F.col(id_col).alias("__id"),
        F.col(f"{media_col}.content").alias("__content"),
    )
    return packed.mapInPandas(decode, schema=out_schema)


def fake_decode_media(df: DataFrame, media_col: str, id_col: str) -> DataFrame:
    """Deterministic stand-in decoder over the real plumbing.

    Derives (width, height, channels, format) from the md5 of the content
    bytes — stable across engines and runs, so oracles can verify the
    whole distributed pipeline. Thin wrapper over :func:`decode_media`
    pinned to the registry's ``fake`` codec (single source of the md5-meta
    derivation: ``_fake_decode``).
    """
    return decode_media(df, media_col, id_col, codec="fake")


def sample_frames(df: DataFrame, media_col: str, id_col: str,
                  frame_bytes: int = 64, max_frames: int = 8) -> DataFrame:
    """Frame sampling plumbing: split the opaque payload into fixed-size
    chunks ("frames") with indices — JVM-side only (no Python), the shape a
    real video frame-sampler plugs into."""
    content = F.col(f"{media_col}.content")
    n_frames = F.least(
        F.ceil(F.length(content) / F.lit(frame_bytes)).cast("int"),
        F.lit(max_frames),
    )
    return (
        df.select(
            F.col(id_col),
            content.alias("__content"),
            F.posexplode(F.sequence(F.lit(1), n_frames)).alias("frame_idx", "_o"),
        )
        .select(
            id_col,
            "frame_idx",
            F.substring(
                F.col("__content"),
                F.col("frame_idx") * frame_bytes + 1,
                frame_bytes,
            ).alias("frame_bytes"),
        )
    )


def image_ahash(df: DataFrame, image_col: str, id_col: str,
                grid: tuple[int, int] = (4, 4)) -> DataFrame:
    """Perceptual average-hash (aHash) over REAL decoded pixels: decode
    the payload (baseline JPEG or PNG, sniffed by magic bytes) through the
    vendored pure-python codecs, reduce to a ``grid`` of integer box sums,
    and set bit k when box k's mean exceeds the image mean — compared in
    exact integer cross-multiplied form (``box_sum * W * H >
    total_sum * box_area``), so the hash is bit-reproducible across
    engines and a SQL oracle can replay it. Multi-channel images reduce
    by per-pixel channel SUM (still integer-exact).

    The hash feeds :func:`delta_sharing_spark.operators.dedup.
    hamming_near_pairs` for banded near-duplicate detection — the image
    twin of SimHash-over-text. Map-only Arrow-batched mapInPandas; decode
    parallelism = partition count; payloads never leave the executor."""
    from collections.abc import Iterator

    import pandas as pd

    gx, gy = grid
    if gx * gy > 63:
        raise ValueError("grid must pack into a 64-bit hash")

    def hasher(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        from delta_sharing_spark.operators.jpeg import JpegError, decode_jpeg
        from delta_sharing_spark.operators.png import PngError, decode_png

        for pdf in batches:
            out = []
            for id_, content in zip(pdf["__id"].values,
                                    pdf["__content"].values):
                data = bytes(content or b"")
                try:
                    if data[:2] == b"\xff\xd8":
                        w, h, nch, rows = decode_jpeg(data)
                    elif data[:4] == b"\x89PNG"[:4]:
                        w, h, nch, rows = decode_png(data)
                    else:
                        raise JpegError("unrecognized image magic")
                    px = np.frombuffer(
                        b"".join(bytes(r) for r in rows), np.uint8
                    ).reshape(h, w, nch).astype(np.int64).sum(axis=2)
                    total = int(px.sum())
                    hval = 0
                    for j in range(gy):
                        y0, y1 = j * h // gy, (j + 1) * h // gy
                        for i in range(gx):
                            x0, x1 = i * w // gx, (i + 1) * w // gx
                            box = int(px[y0:y1, x0:x1].sum())
                            area = (y1 - y0) * (x1 - x0)
                            if box * w * h > total * area:
                                hval |= 1 << (j * gx + i)
                    out.append((id_, w, h, hval, None))
                except (JpegError, PngError, ValueError, struct.error,
                        IndexError, ZeroDivisionError) as e:
                    out.append((id_, None, None, None, str(e)))
            yield pd.DataFrame(
                out, columns=[id_col, "width", "height", "ahash", "error"])

    packed = df.select(F.col(id_col).alias("__id"),
                       F.col(image_col).alias("__content"))
    return packed.mapInPandas(
        hasher,
        schema=f"{id_col} long, width int, height int, ahash bigint,"
               " error string")


def resize_media(df: DataFrame, media_col: str, id_col: str,
                 out_w: int, out_h: int) -> DataFrame:
    """REAL image resize for PNG and baseline-JPEG payloads (magic-byte
    sniff, nearest-neighbor over the vendored pure-python codecs, output
    re-encoded as lossless PNG) — the feature-extract / thumbnail stage of
    a multimodal pipeline. Undecodable payloads yield a null output with
    the error recorded, so a mixed corpus processes without poisoning the
    batch.

    Same distributed plumbing as :func:`decode_media`: Arrow-batched
    mapInPandas, resize parallelism = partition count, payloads never
    leave the executor. Swap the body for a SIMD codec (pillow-simd,
    libvips) at production scale — the Spark-side contract is identical.
    """
    from collections.abc import Iterator

    import pandas as pd

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

        from delta_sharing_spark.operators.jpeg import JpegError, decode_jpeg
        from delta_sharing_spark.operators.png import (
            PngError,
            decode_png,
            encode_png,
        )

        for pdf in batches:
            ids, outs, ws, hs, errs = [], [], [], [], []
            for id_, content in zip(pdf["__id"].values,
                                    pdf["__content"].values):
                ids.append(id_)
                try:
                    data = bytes(content or b"")
                    if data[:2] == b"\xff\xd8":
                        w, h, nch, rows = decode_jpeg(data)
                    else:
                        w, h, nch, rows = decode_png(data)
                    # nearest-neighbor sampling grid
                    out_rows = []
                    for y in range(out_h):
                        sy = min(h - 1, (y * h) // out_h)
                        src = rows[sy]
                        line = bytearray()
                        for x in range(out_w):
                            sx = min(w - 1, (x * w) // out_w)
                            line += src[sx * nch:(sx + 1) * nch]
                        out_rows.append(bytes(line))
                    outs.append(encode_png(out_w, out_h, nch, out_rows))
                    ws.append(out_w)
                    hs.append(out_h)
                    errs.append(None)
                except (PngError, JpegError, ValueError, KeyError,
                        zlib.error, struct.error, IndexError) as e:
                    outs.append(None)
                    ws.append(None)
                    hs.append(None)
                    errs.append(str(e))
            yield pd.DataFrame({
                id_col: ids, "resized": outs, "width": ws, "height": hs,
                "error": errs,
            })

    packed = df.select(
        F.col(id_col).alias("__id"),
        F.col(f"{media_col}.content").alias("__content"),
    )
    return packed.mapInPandas(
        do_resize,
        schema=f"{id_col} long, resized binary, width int, height int,"
               " error string")
