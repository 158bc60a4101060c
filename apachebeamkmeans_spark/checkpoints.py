"""Checkpoint storage: one rule for who releases a `localCheckpoint`.

Operators checkpoint intermediates (`localCheckpoint`) to cut lineage
and to share one materialization among several jobs. The blocks are
RDD-level persists: `spark.catalog.clearCache()` never touches them,
and the GC-driven ContextCleaner releases them only when the
driver-side object happens to be collected, so a long-lived session
accumulates them. Every checkpoint falls under exactly one case:

- **Consumed inside the function** (every consumer materializes before
  it returns): stage it with `with staged(df) as x:`, which releases
  the blocks when the block exits, by return or by exception.
- **Feeds the returned lazy plan**: left to the ContextCleaner.
  Unpersisting a lineage-truncated frame before its consumer runs
  would lose the data.
- **Rolling loop** (each round's checkpoint supersedes the previous
  one, and the last one is returned): the loop calls `release_blocks`
  on each superseded checkpoint itself.

`release_blocks` finds the checkpoint's RDD as the analyzed plan's
LogicalRDD root, the only handle PySpark exposes; `df.rdd` would
build a NEW conversion RDD, not the persisted one.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


def release_blocks(df: DataFrame | None) -> None:
    """Unpersist the storage blocks behind a localCheckpointed
    DataFrame whose consumers have ALL materialized. After this the
    frame cannot be recomputed (its lineage was truncated at
    checkpoint time) — callers must be completely done with it.
    No-op on None, on never-materialized lazy checkpoints (nothing
    persisted yet is still registered — unpersist is idempotent), and
    on errors (release is an optimization, never a correctness
    dependency). Only the frame's OWN checkpoint is released: a frame
    derived from checkpoints (e.g. a join) releases nothing."""
    if df is None:
        return
    try:
        root = df._jdf.queryExecution().analyzed()
        if root.getClass().getSimpleName() == "LogicalRDD":
            root.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — best-effort by design
        pass


@contextmanager
def staged(df: DataFrame, eager: bool = False) -> Iterator[DataFrame]:
    """Yield `df.localCheckpoint(eager=eager)` and release its blocks
    on exit. Nothing read from the staged frame may outlive the block:
    collect or write every consumer inside it."""
    ckpt = df.localCheckpoint(eager=eager)
    try:
        yield ckpt
    finally:
        release_blocks(ckpt)
