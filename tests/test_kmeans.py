"""ml/kmeans.py: the sample a fit reads is partition-independent, a fit
always returns exactly k centers, and the PQ Arrow encoder's packed
nibbles are exactly ``nearest`` per subspace."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from antidote_data_framework_spark.ml.kmeans import kmeans, nearest, train_sample
from antidote_data_framework_spark.ml.pq import (
    _CODED,
    _SUBDIM,
    PQ_K,
    PQ_M,
    _encoder,
    _nibble,
    _unit,
)


def _emb_frame(spark, mat: np.ndarray):
    rows = [(i, i % 3, [float(x) for x in v]) for i, v in enumerate(mat)]
    return spark.createDataFrame(
        rows, "vec_id BIGINT, label INT, embedding ARRAY<FLOAT>"
    )


def test_train_sample_independent_of_partitioning(spark):
    mat = np.random.RandomState(3).randn(300, 16).astype(np.float32)
    emb = _emb_frame(spark, mat)
    ids1, X1 = train_sample(emb.repartition(1), "embedding")
    ids4, X4 = train_sample(emb.repartition(4), "embedding")
    assert ids1.tolist() == list(range(300)) and ids4.tolist() == ids1.tolist()
    assert np.array_equal(X1, X4)
    assert np.array_equal(X1, mat.astype(np.float64))
    assert np.array_equal(kmeans(X1, 10, 42, 20), kmeans(X4, 10, 42, 20))


def test_sample_is_capped_and_off_sample_query_still_answers(spark, monkeypatch):
    """Past TRAIN_CAP rows the fit reads a vec_id stride (vec_id 0
    always in it); ivf_probe_topk fetches a query the stride skipped."""
    from antidote_data_framework_spark.ml import kmeans as km
    from antidote_data_framework_spark.ml.lsh import ivf_probe_topk

    mat = np.random.RandomState(4).randn(300, 16).astype(np.float32)
    emb = _emb_frame(spark, mat)
    monkeypatch.setattr(km, "TRAIN_CAP", 100)
    ids, X = train_sample(emb, "embedding")
    assert ids.tolist() == list(range(0, 300, 3))
    assert np.array_equal(X, mat[::3].astype(np.float64))

    got = ivf_probe_topk(emb, k=4, nprobe=4, topk=5, query_vec_id=7).collect()
    V = mat.astype(np.float64)
    cos = V @ V[7] / (np.linalg.norm(V, axis=1) * np.linalg.norm(V[7]))
    want = [int(i) for i in np.argsort(-cos) if i != 7][:5]
    assert [r["vec_id"] for r in got] == want  # nprobe = k: exact search


def test_fit_returns_k_centers_when_points_are_fewer():
    X = np.random.RandomState(5).randn(6, 8)
    C = kmeans(X, 16, 42, 10)
    assert C.shape == (16, 8) and np.isfinite(C).all()
    a = nearest(X, C)
    assert np.array_equal(C[a], X)
    # duplicate-heavy input (the shape that made MLlib drop centers)
    C = kmeans(np.repeat(X, 40, axis=0), PQ_K, 42, 10)
    assert C.shape == (PQ_K, 8) and np.isfinite(C).all()


def test_arrow_encoder_packs_nearest_codes(spark):
    rng = np.random.RandomState(11)
    books = [rng.randn(PQ_K, _SUBDIM) * 4 for _ in range(PQ_M)]
    codes = rng.randint(PQ_K, size=(64, PQ_M))
    codes[0, PQ_M - 1] = 15  # top nibble >= 8: the packed INT is negative
    mat = np.hstack([books[i][codes[:, i]] for i in range(PQ_M)])
    mat = (mat + rng.randn(*mat.shape) * 0.1).astype(np.float32)
    X = mat.astype(np.float64)
    emb = _emb_frame(spark, mat).repartition(3)
    coarse = _unit(rng.randn(4, 64))

    for cq in (None, coarse):
        got = (
            emb.mapInPandas(_encoder(books, cq), _CODED)
            .select(
                "vec_id", "cell", "code",
                *[_nibble(F.col("code"), i).alias(f"n{i}") for i in range(PQ_M)],
            )
            .orderBy("vec_id")
            .collect()
        )
        R, cells = X, np.zeros(len(X), np.int32)
        if cq is not None:
            cells = nearest(_unit(X), cq)
            R = _unit(X) - cq[cells]
        want = np.stack(
            [nearest(R[:, i * _SUBDIM : (i + 1) * _SUBDIM], b) for i, b in enumerate(books)],
            axis=1,
        )
        assert [r["cell"] for r in got] == cells.tolist()
        assert [[r[f"n{i}"] for i in range(PQ_M)] for r in got] == want.tolist()
        if cq is None:
            assert want.tolist() == codes.tolist()
            assert got[0]["code"] < 0
