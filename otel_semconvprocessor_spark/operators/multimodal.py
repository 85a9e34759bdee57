"""Multimodal columns: image/audio/video as opaque ``binary`` columns with
typed metadata, processed through Arrow-batched ``mapInPandas``.

Round 5 makes the decode step REAL for the formats the Python stdlib can
handle — PNG (zlib/struct) and WAV (wave/struct) via
:mod:`.media_codecs` — decoded inside the same Arrow batch iterator.
Formats that genuinely need external codec libraries (JPEG, MP4) keep the
honest ``NotImplementedError`` stub; payloads are routed by sniffing their
magic bytes, as real decoders do.

``synthetic_media`` rows use the canonical lakehouse layout for binary
payloads: content-addressed ``media_id``, modality ``kind``, raw ``bytes``,
and a typed ``meta`` struct (mime, width, height, duration_ms), so
pruning/filtering never touches the blob column — at 100 TB the planner must
be able to select metadata without reading bytes.
"""

from __future__ import annotations

import sys as _sys

from pyspark import cloudpickle as _cp
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import media_codecs

# ship the codec functions by value with any UDF closure (same
# worker-independence contract as sources/otlp_proto.py: executors may not
# have the package importable in local no---py-files runs)
_cp.register_pickle_by_value(media_codecs)
_cp.register_pickle_by_value(_sys.modules[__name__])

__all__ = [
    "FEATURE_SCHEMA",
    "synthetic_media",
    "media_from_ids",
    "decode_and_featurize",
    "frame_sample_plan",
]

FEATURE_SCHEMA = (
    "media_id string, kind string, n_bytes long, feature array<float>, "
    "resized_width int, resized_height int, n_frames_sampled int, "
    "decoded_width int, decoded_height int, decoded_duration_ms int, "
    "mean_level double"
)


def synthetic_media(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic fake media rows (bytes = hash-derived, NOT decodable),
    Spark-native — the plumbing/prune-plan fixture."""
    df = spark.range(n).withColumn("__h", F.xxhash64(F.col("id"), F.lit(7)))
    kind = (
        F.when(F.pmod("__h", F.lit(3)) == 0, "image")
        .when(F.pmod("__h", F.lit(3)) == 1, "audio")
        .otherwise("video")
    )
    payload = F.encode(F.repeat(F.md5(F.col("id").cast("string")), 8), "UTF-8")
    return df.select(
        F.md5(F.col("__h").cast("string")).alias("media_id"),
        kind.alias("kind"),
        payload.alias("bytes"),
        F.struct(
            F.when(kind == "image", F.lit("image/jpeg"))
            .when(kind == "audio", F.lit("audio/wav"))
            .otherwise(F.lit("video/mp4"))
            .alias("mime"),
            (F.pmod(F.abs("__h"), F.lit(1920)) + 32).cast("int").alias("width"),
            (F.pmod(F.abs("__h"), F.lit(1080)) + 32).cast("int").alias("height"),
            (F.pmod(F.abs("__h"), F.lit(60000)) + 1000).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


# deterministic blob-parameter derivations (shared with the DuckDB oracle,
# which re-derives them from doc_id arithmetic — __spark_entry__.py
# multimodal_decode_stats)
def _png_params(i: int) -> tuple[int, int, int]:
    return 8 + i % 24, 8 + i % 16, i % 256  # width, height, fill


def _wav_params(i: int) -> tuple[int, int, int]:
    return 400 + (i % 50) * 40, 1 + i % 2, (i % 1000) * 16  # frames, channels, amp


def media_from_ids(df: DataFrame) -> DataFrame:
    """REAL decodable media blobs derived deterministically from the
    ``doc_id`` column: even ids encode a PNG (constant fill), odd ids a
    PCM-16 WAV (constant amplitude) — both via the pure-stdlib codecs,
    generated executor-side in Arrow batches (no driver loop, no rand())."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, kinds, blobs = [], [], []
            for i in pdf["doc_id"]:
                i = int(i)
                if i % 2 == 0:
                    w, h, fill = _png_params(i)
                    blob = media_codecs.encode_png(w, h, (fill, fill, fill))
                    kinds.append("image")
                else:
                    frames, ch, amp = _wav_params(i)
                    blob = media_codecs.encode_wav(frames, ch, amp)
                    kinds.append("audio")
                ids.append(i)
                blobs.append(blob)
            yield pd.DataFrame({"doc_id": ids, "kind": kinds, "bytes": blobs})

    return df.select("doc_id").mapInPandas(gen, schema="doc_id long, kind string, bytes binary")


def decode_and_featurize(
    df: DataFrame,
    *,
    fake: bool = True,
    id_col: str = "media_id",
) -> DataFrame:
    """Decode -> feature-extract -> resize / frame-sample, as ONE
    mapInPandas pass (bytes cross the Arrow boundary once).

    ``fake=True``: deterministic hash-derived features (plumbing mode —
    schema, partitioning, batch shape exercised without codecs).

    ``fake=False``: REAL decode. Payloads are sniffed by magic bytes: PNG and
    WAV decode through :mod:`.media_codecs` (dims / duration / mean level +
    content-derived features); anything else — JPEG, MP4, garbage — raises
    NotImplementedError, the retained honest stub for formats that need
    external codec libraries.

    The closure is self-contained (pickled by value — no package import needed
    on executors).  Output rows 1:1 with input (frame sampling yields a count
    + pooled feature, not exploded frames — explode at this layer would
    multiply blob traffic).  Every row carries 8 features, reports the
    224x224 resize target and samples 4 frames per video.
    """

    def featurize(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        def pad(vals):
            out = list(vals)[:8]
            return [float(v) for v in out] + [0.0] * (8 - len(out))

        for pdf in batches:
            feats, nbytes, frames = [], [], []
            dws, dhs, ddur, levels = [], [], [], []
            for kind, blob in zip(pdf["kind"], pdf["bytes"]):
                data = bytes(blob) if blob is not None else b""
                nbytes.append(len(data))
                if fake:
                    digest = hashlib.sha256(data).digest()
                    vec = np.frombuffer(digest[:32], dtype=np.uint32)
                    feats.append((vec.astype(np.float64) / 2**32).astype(np.float32))
                    dws.append(None)
                    dhs.append(None)
                    ddur.append(None)
                    levels.append(None)
                elif data[:8] == media_codecs.PNG_SIGNATURE:
                    d = media_codecs.decode_png(data)
                    feats.append(
                        np.array(
                            pad(
                                [d["mean_level"]] * d["channels"]
                                + [d["width"] / 4096.0, d["height"] / 4096.0]
                            ),
                            dtype=np.float32,
                        )
                    )
                    dws.append(d["width"])
                    dhs.append(d["height"])
                    ddur.append(None)
                    levels.append(d["mean_level"])
                elif data[:4] == b"RIFF" and data[8:12] == b"WAVE":
                    d = media_codecs.decode_wav(data)
                    feats.append(
                        np.array(
                            pad(
                                [
                                    d["mean_level"],
                                    d["sample_rate"] / 48000.0,
                                    d["duration_ms"] / 60000.0,
                                    float(d["channels"]),
                                ]
                            ),
                            dtype=np.float32,
                        )
                    )
                    dws.append(None)
                    dhs.append(None)
                    ddur.append(d["duration_ms"])
                    levels.append(d["mean_level"])
                else:
                    raise NotImplementedError(
                        "real media decode: no stdlib codec for this payload "
                        "(PNG/WAV supported; JPEG/MP4 need external codec "
                        "libraries not present in this container)"
                    )
                frames.append(4 if kind == "video" else 1)
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype(str),
                    "kind": pdf["kind"],
                    "n_bytes": nbytes,
                    "feature": [list(map(float, f)) for f in feats],
                    "resized_width": 224,
                    "resized_height": 224,
                    "n_frames_sampled": frames,
                    "decoded_width": pd.array(dws, dtype="Int32"),
                    "decoded_height": pd.array(dhs, dtype="Int32"),
                    "decoded_duration_ms": pd.array(ddur, dtype="Int32"),
                    "mean_level": pd.array(levels, dtype="float64"),
                }
            )

    cols = [id_col, "kind", "bytes"]
    return df.select(*cols).mapInPandas(featurize, schema=FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Metadata-only frame-sampling plan: computes which timestamps WOULD be
    decoded per video — pure expression work over ``meta`` (never touches the
    blob column, so the scan prunes ``bytes`` entirely)."""
    n = (F.col("meta.duration_ms") / every_ms).cast("int") + 1
    return df.filter(F.col("kind") == "video").select(
        "media_id",
        F.transform(F.sequence(F.lit(0), n - 1), lambda i: i * every_ms).alias("sample_ts_ms"),
    )
