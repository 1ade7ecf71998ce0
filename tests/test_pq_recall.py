"""PQ/ADC laws: self-query ranks first, distances are sane, and
recall against the exact L2 search clears the isotropic-data floor
(the fixture's structureless vectors bound recall near the
compression-information limit — same caveat as IVF; on real
embedding manifolds recall concentrates)."""

from __future__ import annotations

import numpy as np

import __spark_entry__ as entrymod
from antidote_data_framework_spark.sources import load_table

QUERIES = entrymod.queries()


def test_pq_adc_topk_laws(spark, sf_dir):
    rows = QUERIES["q_pq_adc_topk"](spark, sf_dir).collect()
    assert len(rows) == 10
    # the query vector's own row reconstructs closest to itself
    assert rows[0]["vec_id"] == 0
    dists = [r["adc_dist"] for r in rows]
    assert all(d >= 0 for d in dists)
    assert dists == sorted(dists)
    assert all(r["code_bytes"] == 4 and r["float_bytes"] == 256 for r in rows)

    emb = load_table(spark, sf_dir, "embeddings").collect()
    V = np.array([r["embedding"] for r in emb])
    ids = [r["vec_id"] for r in emb]
    q = V[ids.index(0)]
    exact = {ids[i] for i in np.argsort(((V - q) ** 2).sum(1))[:10]}
    got = {r["vec_id"] for r in rows}
    assert len(got & exact) / 10 >= 0.1  # measured 0.2 on the fixture


def test_ivfpq_topk_recall_and_laws(spark, sf_dir):
    """IVFADC composition (r5 VERDICT #7): packed 4-bit residual codes
    scored inside nprobe coarse cells.  Recall@10 vs the exact cosine
    search must clear the isotropic floor (measured 0.3 at sf0.001,
    0.5 at sf0.01); distances sorted and non-negative."""
    rows = QUERIES["q_ivfpq_topk"](spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r["code_bytes"] == 4 for r in rows)
    dists = [r["adc_dist"] for r in rows]
    assert all(d >= 0 for d in dists) and dists == sorted(dists)

    emb = load_table(spark, sf_dir, "embeddings").collect()
    V = np.array([r["embedding"] for r in emb])
    ids = [r["vec_id"] for r in emb]
    vq = V[ids.index(0)]
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = Vn @ (vq / np.linalg.norm(vq))
    exact = [ids[i] for i in np.argsort(-sims) if ids[i] != 0][:10]
    got = {r["vec_id"] for r in rows}
    assert len(got & set(exact)) / 10 >= 0.1


def test_ivfpq_collapsed_codebook_pad(spark, tmp_path):
    """Pin the r8 collapsed-codebook case at unit scale, so it stops
    depending on the 9x scale harness.

    Duplicate-heavy vectors made MLlib KMeans return FEWER than k
    centers (random init de-dups its sampled seeds), and residuals
    inside a pure-duplicate coarse cell collapse to a handful of
    distinct points.  One short codebook made the per-cell flat ADC
    LUT shorter than PQ_M*PQ_K and misaligned every later subspace's
    offsets -- element_at crashed at index 128.  ml/kmeans.py keeps an
    emptied center in place, so every codebook has exactly PQ_K rows;
    this fixture (240 vectors, only 6 distinct templates) asserts that
    and that the query still answers."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from antidote_data_framework_spark.ml.kmeans import kmeans
    from antidote_data_framework_spark.ml.pq import PQ_K

    rng = np.random.RandomState(7)
    templates = rng.randn(6, 64).astype(np.float32)
    n = 240
    mat = templates[np.arange(n) % 6]  # exact duplicates only
    tab = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [row.tolist() for row in mat], pa.list_(pa.float32())
            ),
            "label": pa.array([i % 3 for i in range(n)], pa.int32()),
        }
    )
    pq.write_table(tab, str(tmp_path / "embeddings.parquet"))

    # the property the regression test RELIES on: a k=16 fit over 6
    # distinct points still returns exactly 16 centers, so the flat
    # per-cell LUT keeps its PQ_M * PQ_K stride
    assert kmeans(mat.astype(np.float64), PQ_K, 42, 10).shape[0] == PQ_K

    rows = QUERIES["q_ivfpq_topk"](spark, str(tmp_path)).collect()
    assert len(rows) == 10
    assert all(r["vec_id"] != 0 for r in rows)
    dists = [r["adc_dist"] for r in rows]
    assert all(d >= 0 for d in dists) and dists == sorted(dists)
    # 39 other rows share vec_id 0's exact template; their packed codes
    # equal the query's own encoding, so the whole top-10 sits at one
    # identical (near-zero) ADC distance
    assert dists[-1] == dists[0]
