"""Multimodal column plumbing (north-star ops).

Images/audio/video are carried as opaque BINARY payload columns with a
typed metadata struct; decode/feature-extraction runs as Arrow-batched
`mapInPandas` (never row-at-a-time UDFs). The real media libraries are
not in this container, so `fake_decode` derives deterministic
"decoded" properties from the payload's md5 — the Spark-side plumbing
(schema, batching, partition behavior) is real and the determinism
keeps even the Pandas-UDF path oracle-checkable.

A production decode would replace `fake_decode`'s batch body with
e.g. PIL/ffmpeg calls; everything else (schema contract, mapInPandas
wiring) stays identical.

Every function handed to mapInPandas/applyInPandas here is defined
INSIDE its operator (closure) so cloudpickle ships it by value —
module-level functions are pickled by reference and would force the
executor's Python worker to import this package. Sessions from
`session.get_spark` put the package on the workers' PYTHONPATH (their
zip-free daemon lives in it), but the driver contract's sessions are
not built there and make no such promise.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_SCHEMA = "doc_id bigint, width int, height int, n_pixels bigint"


def to_binary_assets(docs: DataFrame) -> DataFrame:
    """documents → asset frame: (doc_id, payload BINARY, meta STRUCT).
    Stands in for reading image/audio blobs; metadata is computed
    JVM-side (octet_length, sha2) — no Python in this path."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.octet_length(F.col("text")).alias("n_bytes"),
            F.sha2(payload, 256).alias("sha256"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )


def fake_decode(assets: DataFrame) -> DataFrame:
    """Arrow-batched decode over the binary payload column.

    Deterministic stand-in decoder: "image" dimensions from the
    payload digest. Real decoders are I/O+CPU heavy → mapInPandas
    keeps them batched per partition with zero shuffle.

    The batch fn is defined LOCALLY (like the resize/histogram
    factories below) so cloudpickle ships it by value: a module-level
    function is pickled by reference, and the executor's Python worker
    would then have to `import apachebeamkmeans_spark` — which fails
    under a driver whose sys.path/cwd doesn't include this repo (the
    driver contract makes no such promise)."""

    def _batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        for pdf in batches:
            digests = pdf["payload"].map(lambda b: _hl.md5(bytes(b)).hexdigest())
            width = digests.map(lambda h: int(h[0:2], 16) + 1).astype("int32")
            height = digests.map(lambda h: int(h[2:4], 16) + 1).astype("int32")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": width,
                    "height": height,
                    "n_pixels": (width.astype("int64") * height.astype("int64")),
                }
            )

    return assets.select("doc_id", "payload").mapInPandas(
        _batch, schema=DECODE_SCHEMA
    )


def frame_sample_indices(assets: DataFrame, every: int = 7) -> DataFrame:
    """Frame-sampling plumbing: derive a per-asset frame count from the
    metadata and emit every `every`-th frame index (column-expression
    only — the actual frame extraction would join these indices into a
    decode mapInPandas)."""
    n_frames = (F.col("meta.n_bytes") % 100) + 1
    return assets.select(
        "doc_id",
        n_frames.alias("n_frames"),
        F.sequence(F.lit(0), n_frames - 1, F.lit(every)).alias("frame_idx"),
    )


RESIZE_SCHEMA = "doc_id bigint, width int, height int, thumb binary"


def _resize_batch_fn(width: int, height: int):
    n = width * height

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = pdf["payload"].map(
                lambda b: (bytes(b) * (n // max(len(b), 1) + 1))[:n]
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": width,
                    "height": height,
                    "thumb": thumbs,
                }
            )

    return go


def resize_stub(assets: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """Resize plumbing: payload → fixed-size "thumbnail" bytes
    (deterministic repeat+truncate stand-in for an image resampler).
    Schema/batching/partitioning are exactly what a PIL-backed resize
    would use; only the per-batch body changes in production."""
    return assets.select("doc_id", "payload").mapInPandas(
        _resize_batch_fn(width, height), schema=RESIZE_SCHEMA
    )


FEATURES_SCHEMA = "doc_id bigint, features array<float>"


def _histogram_batch_fn(bins: int):
    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        edges = np.linspace(0, 256, bins + 1)
        for pdf in batches:
            feats = pdf["payload"].map(
                lambda b: (
                    np.histogram(np.frombuffer(bytes(b), dtype=np.uint8), bins=edges)[0]
                    / max(len(b), 1)
                ).astype("float32").tolist()
            )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return go


def byte_histogram_features(assets: DataFrame, bins: int = 16) -> DataFrame:
    """Feature-extraction plumbing: payload → normalized byte-histogram
    vector (`array<float>`), the deterministic stand-in for an image/
    audio embedding model. Output feeds the similarity operators
    (cosine top-k, LSH near-dup) unchanged — the multimodal →
    embedding-space hand-off of an LLM data pipeline."""
    return assets.select("doc_id", "payload").mapInPandas(
        _histogram_batch_fn(bins), schema=FEATURES_SCHEMA
    )


def decode_stub_real_media(fmt: str = "jpeg"):
    """Placeholder for real media decoding — image/audio libraries are
    not available in this environment."""
    raise NotImplementedError(
        f"real {fmt} decode requires PIL/ffmpeg; use fake_decode for plumbing tests"
    )
