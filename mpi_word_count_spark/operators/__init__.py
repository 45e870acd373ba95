"""Operator library: each module groups one family from SURVEY.md §2."""

from __future__ import annotations

from pyspark.sql import DataFrame

# Cached DataFrames created inside operators (MinHash signatures, LSH
# candidate sets, connected-component labels). A lazily returned result
# can't unpersist its own inputs — the operator doesn't know when the
# caller is done — so operators register caches here and long-lived
# callers (bench loops, test sessions) call release_caches() between
# queries. Forgetting to release is bounded leak, not wrong results:
# Spark evicts LRU under memory pressure; this keeps long sessions from
# accumulating dead cache entries at all.
_TRACKED_CACHES: list[DataFrame] = []
_TRACKED_RELEASERS: list = []  # callables freeing non-cache blocks


def track_cache(df: DataFrame) -> DataFrame:
    """cache() a DataFrame and register it for later release_caches()."""
    cached = df.cache()
    _TRACKED_CACHES.append(cached)
    return cached


def track_releaser(fn) -> None:
    """Register a zero-arg callable that frees storage release_caches()
    can't reach via unpersist() — e.g. localCheckpoint RDD blocks,
    which otherwise linger until a JVM GC notices the orphaned RDD."""
    _TRACKED_RELEASERS.append(fn)


def _unpersist_local_ckpt(df: DataFrame) -> None:
    """Free a localCheckpoint'ed DataFrame's storage blocks NOW.

    localCheckpoint keeps its materialized RDD cached with no public
    DataFrame-level unpersist; orphaned rounds otherwise sit in the
    block manager until a JVM GC lets the ContextCleaner notice them —
    measured as episodic multi-second stalls in later queries of a
    long session. Reaches the RDD through LogicalRDD (non-public
    accessor, hence the broad guard: worst case blocks free on GC as
    before)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def release_caches() -> int:
    """Unpersist every tracked cache and run every tracked releaser;
    returns how many were released.

    Caches recompute transparently if their DataFrame is re-executed
    later. RELEASERS MAY NOT: operators that register one (e.g.
    dup_clusters' localCheckpoint labels) produce results whose
    storage has no recomputable lineage — after release_caches(),
    re-derive such results by calling the operator again instead of
    re-executing a held DataFrame reference."""
    n = 0
    while _TRACKED_CACHES:
        _TRACKED_CACHES.pop().unpersist()
        n += 1
    while _TRACKED_RELEASERS:
        _TRACKED_RELEASERS.pop()()
        n += 1
    return n


def widen(df: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """Ensure CPU-heavy per-row operators get full parallelism.

    Small parquet inputs scan as 1-2 tasks (row-group granularity), so
    a compute-bound stage (16 md5s per shingle, 60 bit-rows per term)
    would run on 1-2 of the available cores. Repartition ONLY when the
    scan is narrower than the cluster — at real scale inputs already
    have thousands of splits and this is a no-op (no shuffle added).

    The width check costs a `.rdd` call, which physically plans the
    WHOLE subtree on the driver — measured at ~2s per call when `df`
    embeds an LSH pipeline (the dedup_clusters drift, VERDICT r8
    item 2). When `df` is a narrow decoration of a base relation
    (e.g. a broadcast semi join, which preserves the probe side's
    partitioning exactly), pass that base relation as `probe`: the
    width probe then plans only the cheap scan tree while the
    repartition still applies to `df`.

    This is the moral twin of the reference's byte-balanced partition
    planner (word_count_mpi.c:246-255): equalize work across workers
    before the expensive scan loop.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    src = probe if probe is not None else df
    if src.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
