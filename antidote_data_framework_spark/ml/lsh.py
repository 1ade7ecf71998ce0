"""Sketch-based scale twins — SURVEY.md §2B O-57/O-59/O-61.

These are the 100 TB paths for the exact operators that have SQL
oracles (q_jaccard_block, q_cosine_topk): MinHash LSH turns the
within-block O(N²) self-join into a band-bucket join; random-
projection LSH turns brute-force ANN into bucket probing; k-means
(``ml/kmeans.py``) is the embedding-space partitioner for IVF-style
search.  All rows-only: sketches are implementation-specific.
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.feature import BucketedRandomProjectionLSH
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import spark_query
from ..sources import load_table
from .kmeans import kmeans, nearest, train_sample


# Banded MinHash parameters: 64 hashes in 16 bands of 4.  Collision
# probability at Jaccard s is 1-(1-s^4)^16: ~0.89 at s=0.6, ~0.12 at
# s=0.3 — the AND-within-band/OR-across-bands S-curve MLlib's
# MinHashLSH lacks (it OR-amplifies with 1 hash per table, so its
# candidate set grows ~quadratically on shingle-sparse corpora;
# measured 25 s vs ~6 s for this banded form at sf0.1).
MINHASH_K = 64
MINHASH_BANDS = 16
MINHASH_R = MINHASH_K // MINHASH_BANDS




def _shingles_col():
    """Distinct 2-shingle array over whitespace tokens of ``text``."""
    toks = F.split("text", " ")
    return F.array_distinct(
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )


def minhash_sigs(docs: DataFrame, keep_shingles: bool = False) -> DataFrame:
    """MinHash signature table for ``docs(doc_id, text)``: ONE row per
    doc with (doc_id, sig) [+ shingles when ``keep_shingles``].  Pure
    JVM expressions; no fit step, no vocabulary state.

    r12 optimization-round split (guide §2.3/§8 — shuffle keys, not
    payloads): the old ``minhash_bands`` exploded each doc into 16 band
    rows that CARRIED the 64-long signature (and optionally the full
    shingle array) on every row, so the checkpoint, the band-bucket
    join, and the candidate ``distinct`` all moved ~16x the payload
    bytes they needed.  Signatures now live here (1x payload, the table
    that gets checkpointed) and ``band_rows`` derives the narrow
    (doc_id, band_id, band_key) rows the bucket join actually keys on;
    consumers re-attach sig/shingles by doc_id AFTER candidate pairs
    are deduped.  Same band keys, same candidate set, same output."""
    sig = F.array(
        *[
            F.array_min(
                F.transform(F.col("shingles"), (lambda i: lambda s: F.xxhash64(s, F.lit(i)))(i))
            )
            for i in range(MINHASH_K)
        ]
    )
    return (
        docs.withColumn("shingles", _shingles_col())
        .filter(F.size("shingles") > 0)
        .select(
            "doc_id", sig.alias("sig"), *(["shingles"] if keep_shingles else [])
        )
    )


def band_rows(sigs: DataFrame) -> DataFrame:
    """Narrow banded layout (doc_id, band_id, band_key) — one row per
    (doc, band), 3 longs wide, derived from a ``minhash_sigs`` table.
    This is the only shape the band-bucket equi-join needs."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_id"),
                        F.xxhash64(
                            *[F.col("sig")[k * MINHASH_R + j] for j in range(MINHASH_R)]
                        ).alias("band_key"),
                    )
                    for k in range(MINHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")


# rows-only, re-surveyed r11: every signature value is xxhash64 (a
# Spark-specific 64-bit hash with no DuckDB implementation), so
# neither the minhash values, the band keys, nor therefore the
# candidate-pair set is replayable in SQL — and the law-boolean
# pattern has no purchase either (the banding guarantee is
# probabilistic, not an invariant).  Determinism is pinned by the
# rows-only golden + the recall test instead.
@spark_query("q_minhash_lsh")
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup join — the scale path for
    q_jaccard_block.

    Pipeline (pure JVM expressions, no fit step, single pass):
    tokenize → 2-shingles (shingling is load-bearing: over a small
    word vocabulary unigram sets collide so heavily that LSH buckets
    go quadratic — measured 950 s at sf0.1 before shingling) → 64
    MinHash values, each an array_min over seeded xxhash64 of the
    shingle array → 16 bands of 4 hashes, band key = hash of the
    band's slice → explode to (band_id, band_key) → equi self-join on
    band buckets → distinct candidate pairs → verify by signature
    agreement (estimated Jaccard = matching minhash fraction) >= 0.5.

    At 100 TB: candidate generation is a hash-partitioned shuffle on
    band keys (bounded buckets), signatures are 64 longs/doc
    regardless of document size, and there is no vocabulary or model
    state — every stage is embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Materialize the SIGNATURE table once (n_docs rows, sig payload
    # 1x): a lazy self-join recomputes the 64-minhash pipeline for BOTH
    # sides — the same double-cost the simhash operator had.  At
    # cluster scale this is a persisted signatures table.  The band
    # join itself runs on the NARROW (doc_id, band_id, band_key)
    # derivation and candidate pairs dedup as bare id pairs; signatures
    # re-attach afterwards by doc_id (r12, guide §2.3/§8: the old shape
    # carried both 64-long sigs through the join AND the distinct —
    # ~130x the bytes the dedup shuffle needed).
    sigs = minhash_sigs(docs).localCheckpoint()
    bands = band_rows(sigs)
    a, b = bands.alias("a"), bands.alias("b")
    pair_ids = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    cands = pair_ids.join(
        sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
        "doc_a",
    ).join(
        sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
        "doc_b",
    )
    est = (
        F.aggregate(
            F.zip_with(
                F.col("sig_a"),
                F.col("sig_b"),
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, m: acc + m,
        )
        / F.lit(MINHASH_K)
    )
    return (
        cands.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b", F.round("est_jaccard", 4).alias("est_jaccard"))
    )


@spark_query("q_knn_lsh")  # rows-only: approximate neighbors
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors of vec_id=0 via random-projection
    LSH (Euclidean) — the ANN twin of the exact q_cosine_topk.  At
    scale, bucketLength and numHashTables trade recall for probe
    fan-out; approxNearestNeighbors probes only matching buckets."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0,
        numHashTables=4, seed=42,
    )
    model = brp.fit(emb)
    key = emb.filter(F.col("vec_id") == 0).first()["features"]
    neighbors = model.approxNearestNeighbors(
        emb.filter(F.col("vec_id") != 0), key, 5, distCol="euclidean_dist"
    )
    return neighbors.select(
        "vec_id", "label", F.round("euclidean_dist", 4).alias("euclidean_dist")
    )


@spark_query("q_kmeans_labels")  # rows-only: cluster ids are run-relative
def q_kmeans_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means (k=10, seed 42, 20 Lloyd steps) over the embeddings —
    the IVF partition step for vector search and the sanity check that
    the 10 planted label clusters are recoverable.  The fit runs on the
    driver over the bounded sample of ``ml/kmeans.py``; one mapInPandas
    scan assigns every row.  Emits cluster sizes ranked descending (ids
    are run-relative, sizes are the stable part)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centers = kmeans(train_sample(emb, "embedding")[1], 10, 42, 20)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame({"cluster": nearest(X, centers)})

    sizes = (
        emb.mapInPandas(assign, "cluster int")
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy(F.desc("n_vectors"), F.asc("cluster"))
        .select("n_vectors")
    )
    return sizes.withColumn(
        "size_rank", F.row_number().over(Window.orderBy(F.desc("n_vectors")))
    )


@spark_query("q_ivf_cosine_topk")  # rows-only: approximate (probed) search
def q_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbors: k-means (k=16) as the
    coarse quantizer, then exact cosine only inside the nprobe=6
    clusters nearest to the query — the third leg of the similarity
    stack (exact q_cosine_topk / LSH q_knn_lsh / IVF here).

    Scale shape: the partition-by-cluster layout means a query touches
    nprobe/k of the corpus (~38% here; ~1% in production with k=4096).
    Centroid fitting and scoring are driver-side numpy over a bounded
    sample and a k×dim array — small by construction, like the
    antidote state.

    Recall caveat (measured): the fixture embeddings are near-
    isotropic random vectors, so recall ~= probed fraction (0.4@38%
    probed) — the information-theoretic floor for structureless data.
    On real embedding manifolds IVF recall concentrates because true
    neighbors share cells; the operator's plan is unchanged."""
    raw = load_table(spark, sf_dir, "embeddings")
    return ivf_probe_topk(raw, k=16, nprobe=6, topk=5, query_vec_id=0)


def ivf_probe_topk(
    raw: DataFrame, k: int, nprobe: int, topk: int, query_vec_id: int
) -> DataFrame:
    """The IVF recipe over any (vec_id, label, embedding) frame —
    factored from q_ivf_cosine_topk so the planted-cluster recall test
    can drive it on structured synthetic data (the fixture embeddings
    are near-isotropic, which pins recall to the probed fraction).

    L2-normalize BEFORE clustering: on unit vectors Euclidean distance
    is monotone in cosine, so the k-means cells align with cosine
    neighborhoods (without this, measured recall@5 vs the exact search
    dropped to 0.2).  The fit (seed 42, 20 Lloyd steps) reads the
    bounded sample of ``ml/kmeans.py``; one mapInPandas scan then adds
    each row's ``cluster`` and its exact cosine to the query, so the
    vectors never leave the Arrow pass and the probe is a filter."""
    emb = raw.select("vec_id", "label", "embedding")
    ids, X = train_sample(emb, "embedding")
    centers = kmeans(X / np.linalg.norm(X, axis=1, keepdims=True), k, 42, 20)
    hit = ids == query_vec_id  # always true for vec_id 0
    qe = (
        X[hit][0]
        if hit.any()
        else np.asarray(
            emb.filter(F.col("vec_id") == query_vec_id).first()["embedding"],
            dtype=np.float64,
        )
    )
    q_nrm = np.linalg.norm(qe)
    sims = (centers @ qe) / (np.linalg.norm(centers, axis=1) * q_nrm + 1e-12)
    probe = [int(i) for i in np.argsort(-sims)[:nprobe]]

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            E = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(E, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "cluster": nearest(E / nrm, centers),
                    "cos_raw": (E @ qe) / (nrm[:, 0] * q_nrm),
                }
            )

    scored = emb.mapInPandas(
        assign, "vec_id long, label int, cluster int, cos_raw double"
    ).filter(F.col("cluster").isin(probe) & (F.col("vec_id") != query_vec_id))
    return (
        scored.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .select("vec_id", "label", F.round("cos_raw", 4).alias("cosine_sim"))
        .limit(topk)
    )


@spark_query("q_dedup_incremental")  # rows-only: LSH recall < 1 by
# design, so no SQL oracle; the recall gate vs the exact asymmetric
# Jaccard join lives in tests/test_dedup_recall.py
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a NEW batch of documents
    (doc_id % 10 == 9 stands in for today's crawl) is checked against
    the EXISTING corpus index (everything else) — the production flow
    where dedup runs per ingest batch against a persisted MinHash
    index, never as a full-corpus self-join.

    Three stages, each strictly smaller than the last:
    1. candidate generation — batch band rows equi-join the corpus
       band table on (band_id, band_key): asymmetric, so the shuffle
       is sized by the BATCH (the corpus side is a bucketed index
       lookup at scale, here a checkpointed table);
    2. sketch verify — signature-agreement estimate >= 0.5 prunes
       band-collision noise using only the 64-long signatures;
    3. exact verify — true shingle-set Jaccard (array_intersect on
       the two shingle arrays, carried only for survivors) >= 0.6
       confirms, so every emitted pair is a TRUE near-dup (approx
       recall, exact precision — misses possible, false accepts not).

    Emits (new_doc_id, dup_of_doc_id, jaccard): the batch rows an
    ingest gate would reject, with their canonical existing twin."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # one signature pass over ALL docs, split afterwards: batch and
    # corpus need identical minhash pipelines, so computing them in
    # separate passes doubles the 64-hash shingle work (measured ~2x).
    # The checkpointed table is ONE row per doc (sig + shingles, 1x
    # payload); the band-bucket join runs on the narrow band rows and
    # candidate pairs dedup as bare id pairs — sig/shingles re-attach
    # by doc_id only for the deduped survivors (r12, guide §2.3/§8:
    # the old banded layout duplicated both payloads 16x through the
    # checkpoint, the join and the distinct).
    all_sigs = minhash_sigs(docs, keep_shingles=True).localCheckpoint()
    bands = band_rows(all_sigs)
    is_new = F.col("doc_id") % 10 == 9
    corpus_idx = bands.filter(~is_new)
    batch = bands.filter(is_new)
    pair_ids = (
        batch.alias("n")
        .join(
            corpus_idx.alias("c"),
            (F.col("n.band_id") == F.col("c.band_id"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("c.doc_id").alias("dup_of_doc_id"),
        )
        .distinct()
    )
    cands = pair_ids.join(
        all_sigs.select(
            F.col("doc_id").alias("new_doc_id"),
            F.col("sig").alias("sig_n"),
            F.col("shingles").alias("sh_n"),
        ),
        "new_doc_id",
    ).join(
        all_sigs.select(
            F.col("doc_id").alias("dup_of_doc_id"),
            F.col("sig").alias("sig_c"),
            F.col("shingles").alias("sh_c"),
        ),
        "dup_of_doc_id",
    )
    est = (
        F.aggregate(
            F.zip_with(
                F.col("sig_n"),
                F.col("sig_c"),
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, m: acc + m,
        )
        / F.lit(MINHASH_K)
    )
    n_common = F.size(F.array_intersect("sh_n", "sh_c"))
    exact_jac = n_common / (F.size("sh_n") + F.size("sh_c") - n_common)
    return (
        cands.filter(est >= 0.5)
        .withColumn("jaccard", exact_jac)
        .filter(F.col("jaccard") >= 0.6)
        .select(
            "new_doc_id",
            "dup_of_doc_id",
            F.round("jaccard", 4).alias("jaccard"),
        )
        .orderBy("new_doc_id", "dup_of_doc_id")
    )
