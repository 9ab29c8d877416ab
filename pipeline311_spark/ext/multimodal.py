"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata (north star).

The Spark-side plumbing is real — schemas, Arrow-batched
``mapInPandas`` decode/feature/resize and frame-sample operators with
correct batch shapes and partitioning.  Codecs come in two tiers:

* ``fake=True`` paths produce a deterministic byte-derived stand-in
  for a LEARNED encoder (embeddings need torch; not in scope here),
  keeping the pipeline end-to-end testable and oracle-checkable.
* REAL stdlib codecs (r6, ext/codecs.py): PNG decode/encode (zlib
  inflate + scanline unfiltering) and WAV integer-PCM decode need no
  external libraries — ``decode_image_features(fake=False)``,
  :func:`audio_pcm_window_features`, and :func:`resize_png` run real
  media in ANY environment, degrading corrupt payloads to NULL
  features / no rows instead of failing the job.

At 100 TB: payloads stay in executors (never collected); decode is an
Arrow batch pipe with ``maxRecordsPerBatch`` bounding memory;
``repartition`` by size-bucket before heavy decode balances skew from
variable-length payloads.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), True),
    ]
)


def documents_as_media(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Adapter for the driver testdata: treat document text bytes as an
    opaque payload so the multimodal plumbing is exercised end-to-end."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def media_manifest(df: DataFrame) -> DataFrame:
    """Cheap metadata pass (no decode): byte length, 4 KiB chunk count,
    content hash.  Pure Column expressions."""
    return df.select(
        "media_id",
        "kind",
        F.octet_length("payload").alias("byte_len"),
        F.ceil(F.octet_length("payload") / F.lit(4096.0)).cast("long").alias("n_chunks_4k"),
        F.md5("payload").alias("content_md5"),
    )


def _fake_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a real image encoder: bytes of the
    sha256 digest scaled to [0,1).  Stable across runs/machines."""
    d = hashlib.sha256(payload).digest()
    return [d[i] / 255.0 for i in range(dim)]


def _png_features(payload: bytes, dim: int) -> list[float] | None:
    """REAL image features from the stdlib PNG codec
    (ext/codecs.decode_png): [width, height, channels, mean, std, min,
    max, n_pixels], zero-padded / truncated to ``dim``.  mean/std are
    computed from exact integer sums (one final IEEE division/sqrt —
    deterministic across machines).  Corrupt / non-PNG payloads yield
    None features (a 100 TB corpus always contains broken media; the
    row survives with byte_len + sha256 for quarantine)."""
    from pipeline311_spark.ext.codecs import decode_png

    try:
        w, h, ch, px = decode_png(payload)
    except ValueError:
        return None
    if not px:  # spec-valid 0x0 PNG: no pixels, no stats (review r6:
        return None  # mean = s/0 crashed the task instead of degrading)
    n = len(px)
    s = sum(px)
    s2 = sum(b * b for b in px)
    mean = s / n
    var = (n * s2 - s * s) / (n * n)
    feats = [
        float(w), float(h), float(ch), mean,
        var ** 0.5, float(min(px)), float(max(px)), float(n),
    ]
    return (feats + [0.0] * dim)[:dim]


def decode_image_features(df: DataFrame, dim: int = 8, fake: bool = True) -> DataFrame:
    """Arrow-batched decode + feature extraction over ``mapInPandas``.

    ``fake=True`` (default, and what the registry oracles gate) keeps
    the deterministic byte-derived stand-in for an ML image encoder.
    ``fake=False`` decodes REAL PNG payloads with the stdlib codec
    (ext/codecs.py — zlib inflate + scanline unfiltering, no external
    libraries) and emits geometry/intensity features; corrupt media
    degrade to NULL features instead of failing the job.  A learned
    encoder (PIL/torchvision) would replace only ``_png_features``
    inside the identical Arrow plumbing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "byte_len": payloads.map(lambda b: 0 if b is None else len(b)).astype("int64"),
                    "sha256": payloads.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "features": payloads.map(
                        lambda b: None
                        if b is None
                        else (
                            _fake_features(bytes(b), dim)
                            if fake
                            else _png_features(bytes(b), dim)
                        )
                    ),
                }
            )

    return df.select("media_id", "payload").mapInPandas(run, IMAGE_FEATURES_SCHEMA)


def frame_sample(df: DataFrame, every_bytes: int = 1024, max_frames: int = 8) -> DataFrame:
    """Video frame sampling, stubbed: deterministically slice the
    payload every ``every_bytes`` as stand-in 'frames'.  The real
    implementation would swap the slicer for an ffmpeg call inside the
    same mapInPandas shape."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_no", T.IntegerType(), False),
            T.StructField("frame", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_no": [], "frame": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                raw = bytes(payload)
                for i in range(min(max_frames, max(1, len(raw) // every_bytes))):
                    out["media_id"].append(mid)
                    out["frame_no"].append(i)
                    out["frame"].append(raw[i * every_bytes : (i + 1) * every_bytes])
            yield pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(run, schema)


AUDIO_PCM_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("window_no", T.IntegerType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("sum_abs", T.LongType(), False),
        T.StructField("peak", T.LongType(), False),
        T.StructField("rms", T.DoubleType(), False),
    ]
)


def audio_pcm_window_features(
    df: DataFrame, window_samples: int = 256, max_windows: int = 8
) -> DataFrame:
    """REAL audio windowing over PCM: decode WAV payloads with the
    stdlib codec (ext/codecs.decode_wav — integer PCM, mono-mixed),
    split into fixed-length sample windows, emit per-window stats.
    ``sum_abs``/``peak`` are exact integers (oracle-mirrorable);
    ``rms`` is one final IEEE sqrt of an exact integer ratio.  Corrupt
    / non-WAV payloads emit no rows (quarantine via anti-join on the
    manifest).  Arrow-batched ``mapInPandas``, with a per-payload
    window fan-out cap."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pipeline311_spark.ext.codecs import decode_wav

        for pdf in batches:
            out = {k.name: [] for k in AUDIO_PCM_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    _, _, samples = decode_wav(bytes(payload))
                except ValueError:
                    continue
                if not samples:
                    continue
                n = min(max_windows, -(-len(samples) // window_samples))
                for i in range(n):
                    seg = samples[i * window_samples : (i + 1) * window_samples]
                    s2 = sum(s * s for s in seg)
                    out["media_id"].append(mid)
                    out["window_no"].append(i)
                    out["n_samples"].append(len(seg))
                    out["sum_abs"].append(sum(abs(s) for s in seg))
                    out["peak"].append(max(abs(s) for s in seg))
                    out["rms"].append((s2 / len(seg)) ** 0.5)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "window_no": pd.Series(out["window_no"], dtype="int32"),
                    "n_samples": pd.Series(out["n_samples"], dtype="int64"),
                    "sum_abs": pd.Series(out["sum_abs"], dtype="int64"),
                    "peak": pd.Series(out["peak"], dtype="int64"),
                    "rms": pd.Series(out["rms"], dtype="float64"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(run, AUDIO_PCM_SCHEMA)


RESIZE_PNG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("orig_w", T.IntegerType(), False),
        T.StructField("orig_h", T.IntegerType(), False),
        T.StructField("new_w", T.IntegerType(), False),
        T.StructField("new_h", T.IntegerType(), False),
        T.StructField("resized", T.BinaryType(), False),
    ]
)


def resize_png(df: DataFrame, factor: int = 2) -> DataFrame:
    """REAL image resize: decode PNG → nearest-neighbor downsample by
    integer ``factor`` (keep every factor-th column/row) → re-encode
    PNG, all with the stdlib codec: the full decode → transform →
    re-encode shape, emitting a binary column a sink can write back.  Corrupt payloads emit no
    rows."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pipeline311_spark.ext.codecs import decode_png, encode_png

        # channels -> color type for re-encode
        ct = {1: 0, 2: 4, 3: 2, 4: 6}
        for pdf in batches:
            out = {k.name: [] for k in RESIZE_PNG_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    w, h, ch, px = decode_png(bytes(payload))
                except ValueError:
                    continue
                nw, nh = -(-w // factor), -(-h // factor)
                resized = bytearray()
                for y in range(0, h, factor):
                    row = px[y * w * ch : (y + 1) * w * ch]
                    for x in range(0, w, factor):
                        resized += row[x * ch : (x + 1) * ch]
                out["media_id"].append(mid)
                out["orig_w"].append(w)
                out["orig_h"].append(h)
                out["new_w"].append(nw)
                out["new_h"].append(nh)
                out["resized"].append(encode_png(nw, nh, bytes(resized), ct[ch]))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "orig_w": pd.Series(out["orig_w"], dtype="int32"),
                    "orig_h": pd.Series(out["orig_h"], dtype="int32"),
                    "new_w": pd.Series(out["new_w"], dtype="int32"),
                    "new_h": pd.Series(out["new_h"], dtype="int32"),
                    "resized": pd.Series(out["resized"], dtype="object"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(run, RESIZE_PNG_SCHEMA)
