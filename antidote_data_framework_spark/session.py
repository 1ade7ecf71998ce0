"""SparkSession factory tuned for this engine.

Local-mode defaults that still encode the cluster posture:

- AQE on (coalesce shuffle partitions, split skewed joins, re-plan at
  shuffle boundaries) — at 100 TB this is what keeps a bad static plan
  from burning the cluster.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this would be ~2-3x total executor cores (AQE coalesces down).
- Arrow on: every pandas exchange (the antidote gradient carrier, the
  multimodal UDFs) crosses the Python boundary in columnar batches.
- Session timezone pinned to UTC so timestamp semantics are identical
  to the DuckDB oracle and independent of host TZ.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# Every @derived entry, keyed (builder, applicationId, sf_dir).
_DERIVED: dict[tuple, object] = {}


def get_spark(app_name: str = "antidote_data_framework_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Initial shuffle-partition count: cores locally (the driver's
        # bench posture, unchanged), overridable for bigger inputs.
        # The r12 scale curve's byte columns showed WHY the override
        # matters: at the 27x synthetic point the pair-expansion family
        # spills tens of GB (q_item_item_cosine 84 GB, q_slopeone_rmse
        # 54 GB disk+mem) because 32 partitions give each task a
        # multi-GB sort buffer — AQE can only coalesce DOWN from the
        # initial count, and uniform oversize partitions never trip the
        # skew-join splitter.  On a real cluster this is ~2-3x total
        # executor cores (AQE coalesces down); the scale harness's
        # 27x A/B measuring the spill removal is in SCALE.md §Round-12.
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor models cost as BYTES, which is right
        # for JVM stages and wrong for CPU-bound stages over small-byte
        # rows: the 2 MB events shuffle coalesced to 1-2 partitions, so
        # per-key Python folds (the mapInPandas Holt stream-fold, the
        # applyInPandas chunked carries) and iterative join loops
        # (PageRank) ran on 2 of 32 cores.  A 64k floor lets
        # tiny-byte/CPU-heavy stages keep their parallelism (measured:
        # q_holt_linear 6.5->2.6 s, q_graph_pagerank 7.2->2.8 s at
        # sf0.1); large shuffles still coalesce toward the 64 MB
        # advisory size, and on a 100 TB cluster — where partition
        # bytes dwarf any floor — this setting is inert.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Row-proportional demo results (per-row projections like
        # q_scalar_math_cond) exceed the 1g default when collected at
        # the synthetic 27x scale point (16.2M rows x 15 cols); 4g is
        # still a fraction of driver memory.  On a real cluster
        # results that large should land in a sink, not the driver.
        .config("spark.driver.maxResultSize", "4g")
        # UI off (driver-side listener and HTTP overhead): the harnesses
        # read job/stage metrics from the in-process status store.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Pin BLAS/OpenMP to one thread per executor Python worker
        # (r12 VERDICT #2 / guide §4): the Arrow-batch numpy kernels
        # (q_als_recommend_ann's matmul, the antidote gradient stages,
        # PCA partials) run in up to `cpus` CONCURRENT Python workers —
        # a threaded BLAS inside each worker oversubscribes the box by
        # the BLAS thread count (this host's OpenBLAS is built
        # MAX_THREADS=2, so the local exposure is bounded at 2x; on a
        # production image with default OpenBLAS, 32 workers x 32 BLAS
        # threads is a 32x oversubscription collapse).  One thread per
        # worker is the correct posture whenever Spark owns the
        # parallelism.  Result-identical: the kernels' GEMM K-dims
        # (rank<=64) are never split across BLAS threads, so float
        # summation order is unchanged (goldens + oracle sweeps green).
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # The events fixture stores TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects; read as epoch-nanos long, converted in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def derived(
    builder: Callable[[SparkSession, str], T],
) -> Callable[[SparkSession, str], T]:
    """Memoize a ``(spark, sf_dir)`` builder of cross-query derived state
    (fitted models, persisted intermediate DataFrames) per session.

    The key is ``(builder, applicationId, sf_dir)``: the application id
    names the SparkContext itself, so a new session never sees an entry
    built on a stopped one (an object-identity key can be recycled after
    garbage collection).  A hit returns the SAME object the first call
    built; ``clear_derived_caches`` evicts every entry."""

    @functools.wraps(builder)
    def memoized(spark: SparkSession, sf_dir: str) -> T:
        key = (builder, spark.sparkContext.applicationId, sf_dir)
        if key not in _DERIVED:
            _DERIVED[key] = builder(spark, sf_dir)
        return _DERIVED[key]

    return memoized


def clear_derived_caches(spark: SparkSession) -> None:
    """Evict every ``@derived`` entry, unpersisting each DataFrame that
    is an entry's value or an element of a tuple value, so the next
    query run re-pays its eager work.  The benchmarks call this before
    each sweep: a sweep starts cold, and within a sweep the memo makes
    cross-query sharing visible (q_als_rmse_gate rides
    q_als_train_predict's fit, the social-metric queries share one
    bias-prediction pipeline) — the cost structure a production session
    would have.  Entries built on a stopped session may still be held,
    so a failing ``unpersist`` is ignored.

    Anything still pinned in the storage layer (MLlib internal caches,
    stray persists) goes too, and the streaming memory sinks' ``mem_*``
    temp views are dropped so the JVM can reclaim their driver-held
    result tables.  Lazy plan handles (``sources.fixtures._DF_CACHE``)
    and on-disk stream staging are fixture plumbing, not query work,
    and are NOT cleared."""
    for value in _DERIVED.values():
        for df in value if isinstance(value, tuple) else (value,):
            if isinstance(df, DataFrame):
                try:
                    df.unpersist()
                except Exception:
                    pass
    _DERIVED.clear()
    spark.catalog.clearCache()
    try:
        for t in spark.catalog.listTables():
            if t.name.startswith("mem_"):
                spark.catalog.dropTempView(t.name)
    except Exception:
        pass
