"""Focused tests for round-11 text-query internals: the RRF
adjacent-pair proximity expression and the edit-distance length band
— both claim bit-identical results to the form they replaced, so each
is pinned against a brute-force reference here (the oracle sweep pins
the end-to-end queries)."""

from __future__ import annotations

import itertools
import random

from pyspark.sql import functions as F

from mpi_word_count_spark.queries.text_queries import _min_diff_word_dist


def _brute_min_diff_word_dist(hits: list[tuple[int, str]]) -> int | None:
    """All-pairs reference: min |pos_i - pos_j| over different-word
    pairs — exactly the old positional self-join's aggregate."""
    best = None
    for (p1, w1), (p2, w2) in itertools.combinations(hits, 2):
        if w1 != w2:
            d = abs(p1 - p2)
            best = d if best is None or d < best else best
    return best


def test_min_diff_word_dist_matches_all_pairs(spark):
    # hand cases: empty, single, all-same-word, the adjacency
    # argument's interesting case (closest pair not first), and
    # same-word runs between different-word hits
    cases = [
        [],
        [(3, "a")],
        [(1, "a"), (9, "a"), (20, "a")],
        [(1, "a"), (9, "a"), (10, "b")],       # closest pair at the end
        [(1, "a"), (2, "b"), (50, "a")],       # closest pair at the start
        [(1, "a"), (5, "a"), (6, "a"), (7, "b"), (30, "c")],
        [(2, "x"), (4, "y"), (6, "x"), (8, "y")],
    ]
    # plus randomized sequences over 3 words (the BM25_TERMS shape)
    rng = random.Random(42)
    for _ in range(40):
        n = rng.randint(0, 12)
        pos = sorted(rng.sample(range(1, 200), n))
        cases.append([(p, rng.choice("abc")) for p in pos])

    rows = [(i, [{"pos": p, "word": w} for p, w in c]) for i, c in enumerate(cases)]
    df = spark.createDataFrame(
        rows, "case_id long, hits array<struct<pos:int, word:string>>"
    )
    got = {
        r["case_id"]: r["d"]
        for r in df.select(
            "case_id", _min_diff_word_dist(F.col("hits")).alias("d")
        ).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == _brute_min_diff_word_dist(c), (i, c)


def test_edit_distance_length_band_is_lossless(spark):
    """The banded candidate join must return exactly the brute-force
    result: every pair with >= min_shared shingles and prefix edit
    distance <= max_distance, with identical n_shared counts —
    including near-threshold length differences (the band boundary)
    and pairs the band prunes."""
    from mpi_word_count_spark.operators.dedup import (
        edit_distance_pairs,
        shingles_col,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, base),
        (2, base + " lambda"),                      # tiny length diff
        (3, base + " pad pad"),                     # within the band
        (4, base + " " + "x" * 60),                 # beyond max_distance=20
        (5, "unrelated words entirely different content here today"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    max_d, min_shared, prefix = 20, 3, 256

    got = {
        (r["d1"], r["d2"]): (r["n_shared"], r["edit_distance"])
        for r in edit_distance_pairs(
            df, max_distance=max_d, min_shared_shingles=min_shared,
            prefix_chars=prefix,
        ).collect()
    }

    # brute force over all pairs, straight from the definition
    sh = {
        r["doc_id"]: set(r["s"])
        for r in df.select(
            "doc_id", shingles_col("text").alias("s")
        ).collect()
    }
    lev_rows = df.alias("x").crossJoin(df.alias("y")).filter(
        F.col("x.doc_id") < F.col("y.doc_id")
    ).select(
        F.col("x.doc_id").alias("d1"),
        F.col("y.doc_id").alias("d2"),
        F.levenshtein(
            F.substring("x.text", 1, prefix), F.substring("y.text", 1, prefix)
        ).alias("lev"),
    ).collect()
    want = {}
    for r in lev_rows:
        shared = len(sh[r["d1"]] & sh[r["d2"]])
        if shared >= min_shared and r["lev"] <= max_d:
            want[(r["d1"], r["d2"])] = (shared, r["lev"])

    assert want, "reference must be non-empty or the test is vacuous"
    assert got == want
    # the band boundary did its job: (1,4) shares the full base
    # shingles but differs in prefix length by 61 > max_d — pruned by
    # the band AND (by the Levenshtein lower bound) absent from brute
    # force
    assert (1, 4) not in got


def test_rrf_index_path_matches_oracle(spark):
    """hybrid_rrf_retrieval's materialized-index plan only runs on
    documents inputs of RRF_INDEX_MIN_BYTES and up, which no fixture
    reaches; run it directly against the same DuckDB oracle the
    inline plan is checked with."""
    from mpi_word_count_spark.operators import release_caches
    from mpi_word_count_spark.oracle import compare
    from mpi_word_count_spark.queries.text_queries import _hybrid_rrf, _rrf_oracle
    from mpi_word_count_spark.tables import DEFAULT_SF_DIR

    try:
        ok, msg = compare(
            spark,
            lambda s, d: _hybrid_rrf(s, d, use_index=True),
            _rrf_oracle(),
            DEFAULT_SF_DIR,
        )
    finally:
        release_caches()
    assert ok, msg


def test_rrf_use_index_measures_through_hadoop_fs(spark, monkeypatch):
    """The switch sizes documents.parquet through the path's Hadoop
    FileSystem, so a scheme-qualified sf_dir measures its real size
    instead of 0."""
    import os

    from mpi_word_count_spark.queries import text_queries
    from mpi_word_count_spark.tables import DEFAULT_SF_DIR

    # the largest fixture scale, still below the threshold
    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1")
    size = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    assert size < text_queries.RRF_INDEX_MIN_BYTES
    assert not text_queries._rrf_use_index(spark, sf_dir)
    monkeypatch.setattr(text_queries, "RRF_INDEX_MIN_BYTES", size)
    assert text_queries._rrf_use_index(spark, sf_dir)
    assert text_queries._rrf_use_index(spark, "file://" + sf_dir)
    monkeypatch.setattr(text_queries, "RRF_INDEX_MIN_BYTES", size + 1)
    assert not text_queries._rrf_use_index(spark, "file://" + sf_dir)
