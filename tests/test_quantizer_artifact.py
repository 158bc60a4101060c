"""The trained-quantizer artifact (r6 verdict item 3, re-keyed r8): the
session memo in front of `_knn_quantizer` dies with the process, so a
COLD session must read the previous session's training back from the
parquet artifact instead of re-paying the distributed Lloyd cost. The
artifact is keyed by the embeddings CONTENT fingerprint (r7 verdict
item 2): a regeneration that reproduces identical bytes — the driver's
deterministic generator every round — must read THROUGH (no retrain),
while a regeneration with different content must miss and retrain,
never serve stale centers."""

from __future__ import annotations

import os
import time

import pytest


@pytest.fixture(autouse=True)
def _fresh_scratch(tmp_path, monkeypatch):
    """Artifacts go under this test's own tmp tree. The artifact name
    hashes the sf_dir's absolute path, and pytest reuses tmp paths
    across runs (pytest-of-<user>/pytest-<n>), so a shared `.scratch/`
    can already hold this test's artifact from an earlier run."""
    from apachebeamkmeans_spark import scratch

    root = tmp_path / "repo"
    root.mkdir()
    monkeypatch.setattr(scratch, "repo_root", lambda: str(root))


def _write_embeddings(d, payload):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"x": payload}), str(d / "embeddings.parquet"))


def _mk_sfdir(tmp_path, name="sfx", payload=(1,)):
    d = tmp_path / name
    d.mkdir()
    # content keys the artifact via its fingerprint (the training frame
    # itself is passed separately)
    _write_embeddings(d, list(payload))
    return str(d)


def test_quantizer_artifact_cold_session_and_staleness(spark, tmp_path, monkeypatch):
    import apachebeamkmeans_spark.queries_similarity as QS
    from apachebeamkmeans_spark.operators import ann_train as ANN

    sf_dir = _mk_sfdir(tmp_path)
    rows = [(i, [float(i % 3), float(i % 5), 1.0, float(i)]) for i in range(12)]
    base = spark.createDataFrame(rows, "id long, features array<double>")

    calls = {"n": 0}
    real_train = ANN.ivf_train

    def counting(*a, **kw):
        calls["n"] += 1
        return real_train(*a, **kw)

    monkeypatch.setattr(ANN, "ivf_train", counting)

    QS._KNN_QUANTIZER_MEMO.clear()
    c1 = QS._knn_quantizer(base, sf_dir, 2)
    assert calls["n"] == 1 and len(c1) == 2

    # warm: memo hit, no disk read or training
    QS._knn_quantizer(base, sf_dir, 2)
    assert calls["n"] == 1

    # cold session (memo cleared): artifact read-through, NO retraining
    QS._KNN_QUANTIZER_MEMO.clear()
    c2 = QS._knn_quantizer(base, sf_dir, 2)
    assert calls["n"] == 1
    assert c2 == c1

    # regenerated at the same path with IDENTICAL content (newer mtime,
    # same bytes — the per-round driver scenario) → fingerprint
    # unchanged → artifact HIT, no retraining
    t = time.time() + 10
    _p = os.path.join(sf_dir, "embeddings.parquet")
    os.utime(_p, (t, t))
    QS._KNN_QUANTIZER_MEMO.clear()
    c3 = QS._knn_quantizer(base, sf_dir, 2)
    assert calls["n"] == 1
    assert c3 == c1

    # regenerated with DIFFERENT content → fingerprint changes →
    # artifact miss, retrain; deterministic trainer + same training
    # frame → identical centers
    import pathlib

    _write_embeddings(pathlib.Path(sf_dir), [1, 2, 3])
    QS._KNN_QUANTIZER_MEMO.clear()
    c4 = QS._knn_quantizer(base, sf_dir, 2)
    assert calls["n"] == 2
    assert c4 == c1


def test_quantizer_artifact_corruption_falls_back_to_training(
    spark, tmp_path, monkeypatch
):
    import apachebeamkmeans_spark.queries_similarity as QS
    from apachebeamkmeans_spark import scratch
    from apachebeamkmeans_spark.operators import ann_train as ANN

    sf_dir = _mk_sfdir(tmp_path, name="sfy")
    rows = [(i, [float(i), 1.0]) for i in range(8)]
    base = spark.createDataFrame(rows, "id long, features array<double>")

    QS._KNN_QUANTIZER_MEMO.clear()
    c1 = QS._knn_quantizer(base, sf_dir, 2)

    # truncate the artifact to garbage: the read returns None and the
    # consumer retrains instead of crashing or serving junk
    fp = scratch.data_fingerprint(sf_dir, "embeddings")
    art = QS._quantizer_artifact_path(sf_dir, 2, fp)
    with open(art, "wb") as f:
        f.write(b"not parquet")
    QS._KNN_QUANTIZER_MEMO.clear()
    c2 = QS._knn_quantizer(base, sf_dir, 2)
    assert c2 == c1
