"""Property tests for the round-13 batch (chunk-granular corpus
rewrite): reassembly-fidelity and conservation laws on top of the
DuckDB hash-match.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from antidote_data_framework_spark.sources import load_table

QUERIES = entrymod.queries()


def test_chunk_rewrite_reassembly_is_lossless(spark, sf_dir):
    """A document that lost no chunks must rewrite to EXACTLY its
    original text: 32-token chunks joined by ' ' round-trip the
    whitespace tokenization, so clean_md5 == md5(text).  This pins the
    reassembly path (slice -> sort_array -> array_join) independently
    of the oracle, which could agree on a mutually wrong convention."""
    out = {
        r["doc_id"]: r
        for r in QUERIES["q_dedup_chunk_rewrite"](spark, sf_dir).collect()
    }
    originals = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", "text")
        .collect()
    )
    intact = [
        (r["doc_id"], r["text"])
        for r in originals
        if out[r["doc_id"]]["tokens_kept"] == out[r["doc_id"]]["tokens_total"]
    ]
    assert intact, "fixture corpus should contain at least one intact doc"
    for doc_id, text in intact:
        expect = hashlib.md5(text.encode()).hexdigest()
        assert out[doc_id]["clean_md5"] == expect, doc_id


def test_chunk_rewrite_conserves_tokens_against_prune(spark, sf_dir):
    """The rewrite's kept/total accounting must equal chunk_prune's —
    the two operators elect keepers with the same packed-min rule, so
    disagreement means one of them dropped or double-counted a chunk.
    Also: summed tokens_kept across docs equals the number of DISTINCT
    chunk instances kept corpus-wide (each hash keeps exactly one
    owner), which must be <= tokens_total with equality iff there are
    no cross-copy chunks."""
    rw = {
        r["doc_id"]: r
        for r in QUERIES["q_dedup_chunk_rewrite"](spark, sf_dir).collect()
    }
    pr = {
        r["doc_id"]: r
        for r in QUERIES["q_dedup_chunk_prune"](spark, sf_dir).collect()
    }
    assert set(rw) == set(pr)
    for doc_id in rw:
        assert rw[doc_id]["tokens_kept"] == pr[doc_id]["tokens_kept"], doc_id
        assert rw[doc_id]["tokens_total"] == pr[doc_id]["tokens_total"], doc_id
    total_kept = sum(r["tokens_kept"] for r in rw.values())
    total_all = sum(r["tokens_total"] for r in rw.values())
    assert 0 < total_kept <= total_all


def test_mmr_matches_numpy_replay(spark, sf_dir):
    """Re-derive the full MMR selection from the raw parquet in numpy
    (same candidate cut, same λ, same tie rule) and require the Spark
    operator to reproduce rank-for-rank ids and scores."""
    import numpy as np
    import pyarrow.parquet as pq

    from antidote_data_framework_spark.operators.vectors import (
        MMR_CANDIDATES,
        MMR_K,
        MMR_LAMBDA,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    vecs = {
        int(v): np.asarray(e, dtype=np.float32).astype(np.float64)
        for v, e in zip(t["vec_id"], t["embedding"])
    }
    qv = vecs[0]

    def cos(a, b):
        # left-to-right fold like F.aggregate: np.dot is close enough
        # for 1e-9 comparison on 64-dim unit-scale data
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    rel = {v: cos(e, qv) for v, e in vecs.items() if v != 0}
    cand = sorted(rel, key=lambda v: (-rel[v], v))[:MMR_CANDIDATES]
    selected, remaining = [], sorted(cand)
    while remaining and len(selected) < MMR_K:
        best, best_s = None, None
        for i in remaining:
            if selected:
                pen = max(cos(vecs[i], vecs[s]) for s, _ in selected)
                s = MMR_LAMBDA * rel[i] - (1 - MMR_LAMBDA) * pen
            else:
                s = MMR_LAMBDA * rel[i]
            if best_s is None or s > best_s:
                best, best_s = i, s
        selected.append((best, best_s))
        remaining.remove(best)

    got = QUERIES["q_retrieval_mmr"](spark, sf_dir).collect()
    assert len(got) == MMR_K
    for row, (vid, score) in zip(got, selected):
        assert row["vec_id"] == vid, (row, vid)
        assert abs(row["mmr_score"] - round(score, 4)) <= 1e-4
        assert abs(row["relevance"] - round(rel[vid], 4)) <= 1e-4


def test_star_components_equals_propagation(spark, sf_dir):
    """The log-round star-contraction components must produce the
    exact labeling of the diameter-round min-label propagation on the
    real near-dup graph (both also hash-match the same recursive-CTE
    oracle)."""
    star = {
        (r["doc_id"], r["cluster_id"])
        for r in QUERIES["q_dedup_components_star"](spark, sf_dir).collect()
    }
    prop = {
        (r["doc_id"], r["cluster_id"])
        for r in QUERIES["q_dedup_components"](spark, sf_dir).collect()
    }
    assert star == prop


def test_star_components_handles_deep_chain(spark):
    """The case star contraction exists for: a path graph of length 64
    (diameter 64) collapses to ONE component rooted at its minimum —
    within the operator's ~log n alternation bound, where plain
    propagation would need 64 rounds.  Plus two disjoint extras: an
    isolated edge and a triangle, to check components don't bleed."""
    from antidote_data_framework_spark.operators.text import star_components

    chain = [(i, i + 1) for i in range(100, 164)]           # path, min=100
    extra = [(500, 501)]                                    # isolated edge
    tri = [(700, 701), (701, 702), (700, 702)]              # triangle
    pairs = spark.createDataFrame(
        chain + extra + tri, "doc_a BIGINT, doc_b BIGINT"
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in star_components(pairs).collect()
    }
    assert set(got) == set(range(100, 165)) | {500, 501, 700, 701, 702}
    assert all(got[i] == 100 for i in range(100, 165))
    assert got[500] == got[501] == 500
    assert got[700] == got[701] == got[702] == 700


def test_custom_als_half_step_matches_numpy_ridge():
    """One U-step must equal the closed-form ALS-WR ridge solve
    u_i = (Σ v_j v_jᵀ + λ·n_i·I)⁻¹ Σ x_ij v_j computed directly in numpy
    on a tiny known problem — the golden for the bincount Gram sums +
    batched-solve path.  User 2 skips item 3, so n_i varies."""
    import numpy as np

    from antidote_data_framework_spark.ml.als_custom import (
        RANK,
        _det_factors,
        half_step,
    )

    cells = [(u, i) for u in range(3) for i in range(4) if (u, i) != (2, 3)]
    rows = np.array([u for u, _ in cells])
    cols = np.array([i for _, i in cells])
    x = np.array([float(1 + (u * 3 + i) % 5) for u, i in cells])
    V = _det_factors(np.arange(4))
    lam = 0.1
    got = half_step(rows, cols, x, V, 3, lam)
    for u in range(3):
        obs = [i for uu, i in cells if uu == u]
        A = lam * len(obs) * np.eye(RANK)
        b = np.zeros(RANK)
        for i in obs:
            A += np.outer(V[i], V[i])
            b += float(1 + (u * 3 + i) % 5) * V[i]
        expect = np.linalg.solve(A, b)
        assert np.allclose(got[u], expect, atol=1e-9), u


def test_custom_als_warm_start_beats_cold_at_equal_budget(spark, sf_dir):
    """The warm-start law the operator exists for: after new ratings
    arrive, a warm refit must reach at-or-better train RMSE than a
    cold refit given the SAME number of refit alternations, and
    training must improve monotonically with alternations from cold."""
    import numpy as np
    from pyspark.sql import functions as F

    from antidote_data_framework_spark.ml.als_custom import (
        als,
        als_rmse,
        fetch_ratings,
    )
    from antidote_data_framework_spark.ml.recsys_data import ratings_df

    base_df = (
        ratings_df(spark, sf_dir)
        .filter(F.col("user_id") % 20 == 0)
        .groupBy("user_id", "item_id")
        .agg(F.avg("rating").alias("rating"))
        .localCheckpoint(eager=True)
    )
    base = fetch_ratings(base_df)
    U1, V1 = als(base, alternations=1)
    U2, V2 = als(base, alternations=2)
    r1, r2 = als_rmse(base, U1, V1), als_rmse(base, U2, V2)
    assert r2 <= r1 + 1e-9, (r1, r2)

    new_rows = (
        base_df.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 50 == 0)
        .crossJoin(base_df.select("item_id").distinct().orderBy("item_id").limit(3))
        .select(
            "user_id",
            "item_id",
            (1 + (F.col("user_id") + F.col("item_id")) % 5).cast("double").alias("rating"),
        )
    )
    updated = fetch_ratings(
        base_df.unionByName(new_rows)
        .groupBy("user_id", "item_id")
        .agg(F.avg("rating").alias("rating"))
    )
    # the new rows add no user or item, so the factors of ``base`` align
    assert np.array_equal(updated.users, base.users)
    assert np.array_equal(updated.items, base.items)
    Uw, Vw = als(updated, alternations=2, U=U2, V=V2)
    Uc, Vc = als(updated, alternations=2)
    rmse_warm = als_rmse(updated, Uw, Vw)
    rmse_cold = als_rmse(updated, Uc, Vc)
    # equal refit budget: starting from trained factors must not lose
    # to the deterministic cold init (5% slack for non-convex drift)
    assert rmse_warm <= rmse_cold * 1.05, (rmse_warm, rmse_cold)


def test_custom_als_raises_past_row_cap(monkeypatch):
    """Past MAX_RATINGS rows the fit raises; it never degrades."""
    import numpy as np
    import pytest

    from antidote_data_framework_spark.ml import als_custom
    from antidote_data_framework_spark.ml.als_custom import Ratings, als

    R = Ratings(
        np.arange(3), np.arange(2), np.repeat(np.arange(3), 2),
        np.tile(np.arange(2), 3), np.ones(6),
    )
    monkeypatch.setattr(als_custom, "MAX_RATINGS", 6)
    als(R, alternations=1)  # at the cap: fits
    monkeypatch.setattr(als_custom, "MAX_RATINGS", 5)
    with pytest.raises(ValueError, match="cap 5"):
        als(R, alternations=1)


def test_ivf_recall_concentrates_on_planted_clusters(spark):
    """The round-1 caveat, closed: on the near-isotropic fixture, IVF
    recall ~= probed fraction (the information floor for structureless
    vectors).  On data WITH cosine structure — 4 planted clusters,
    center + small deterministic jitter — probing 1 of 4 cells (25% of
    the corpus) must recover essentially all true neighbors, because
    true neighbors share the query's cell.  Uses the same ivf_probe_topk
    recipe as q_ivf_cosine_topk."""
    import numpy as np

    from antidote_data_framework_spark.ml.lsh import ivf_probe_topk

    # deterministic, no RNG: jitter from a hash-like law
    dim, per_cluster = 16, 50
    centers = np.eye(4, dim) * 10.0  # 4 well-separated directions
    rows = []
    vid = 0
    for c in range(4):
        for i in range(per_cluster):
            jit = np.array(
                [((vid * 31 + d * 17) % 97) / 97.0 - 0.5 for d in range(dim)]
            )
            v = centers[c] + jit
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, label INT, embedding ARRAY<FLOAT>"
    )
    # query = vector 0 (cluster 0); probe only 1 of 4 cells
    approx = ivf_probe_topk(emb, k=4, nprobe=1, topk=10, query_vec_id=0)
    got = [r["vec_id"] for r in approx.collect()]

    # brute-force truth in numpy
    vecs = {r[0]: np.array(r[2], dtype=np.float32).astype(np.float64) for r in rows}
    q = vecs[0]
    sims = {
        v: float(np.dot(e, q) / (np.linalg.norm(e) * np.linalg.norm(q)))
        for v, e in vecs.items()
        if v != 0
    }
    truth = [v for v, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:10]]
    recall = len(set(got) & set(truth)) / 10.0
    assert recall >= 0.9, (recall, got, truth)
    # and every returned neighbor is from the query's planted cluster
    assert all(vecs[v][0] > 5.0 for v in got), got
