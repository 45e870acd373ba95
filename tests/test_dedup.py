"""Unit tests for dedup operators on hand-built corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mpi_word_count_spark.operators.dedup import (
    embedding_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles_col,
    simhash,
    simhash_dup_pairs,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river bend today"),  # near dup of 1
    (4, "completely different content about spark query engines and shuffles"),
    (5, "ab"),  # fewer than 3 tokens → no shingles
]


def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    got = df.select(shingles_col("text").alias("s")).collect()[0]["s"]
    assert sorted(got) == ["a b c", "b c d"]
    short = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert short.select(shingles_col("text").alias("s")).collect()[0]["s"] == []


def test_exact_dedup(spark):
    got = exact_dedup(docs_df(spark)).collect()
    by_canon = {r["canonical_id"]: r["n_copies"] for r in got}
    assert by_canon[1] == 2          # docs 1,2 identical
    assert by_canon[3] == 1
    assert len(got) == 4             # 4 distinct texts


def test_ngram_jaccard_pairs(spark):
    got = ngram_jaccard_pairs(docs_df(spark), threshold=0.5)
    pairs = {(r["d1"], r["d2"]): r["jaccard"] for r in got.collect()}
    assert pairs[(1, 2)] == 1.0      # identical
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_matches_exact_on_high_sim(spark):
    exact = {
        (r["d1"], r["d2"])
        for r in ngram_jaccard_pairs(docs_df(spark), threshold=0.5).collect()
    }
    lsh = {
        (r["d1"], r["d2"])
        for r in minhash_lsh_pairs(docs_df(spark), threshold=0.5).collect()
    }
    # banded LSH verified with exact jaccard → subset of exact pairs;
    # identical texts always collide in every band
    assert lsh <= exact
    assert (1, 2) in lsh


def test_simhash_identical_and_near(spark):
    s = {r["doc_id"]: r["simhash"] for r in simhash(docs_df(spark)).collect()}
    assert s[1] == s[2]              # identical docs → identical fingerprints
    pairs = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in simhash_dup_pairs(docs_df(spark), max_hamming=8).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs           # near dup within hamming budget


def test_embedding_dup_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = embedding_dup_pairs(df, threshold=0.95)
    pairs = [(r["id1"], r["id2"]) for r in got.collect()]
    assert pairs == [(1, 2)]


def test_simhash_banded_equals_allpairs(spark):
    from mpi_word_count_spark.operators.dedup import simhash_banded_pairs

    allp = {
        (r["d1"], r["d2"], r["hamming"])
        for r in simhash_dup_pairs(docs_df(spark), max_hamming=8).collect()
    }
    banded = {
        (r["d1"], r["d2"], r["hamming"])
        for r in simhash_banded_pairs(docs_df(spark), max_hamming=8).collect()
    }
    # pigeonhole banding is exact, not probabilistic
    assert banded == allp


def test_dup_clusters_components(spark):
    from mpi_word_count_spark.operators.dedup import dup_clusters

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    # components: {1,2,3} via chain, {5,6}; 4 and 7 singletons
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (5, 6)], "d1 long, d2 long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(docs, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_simhash_arrow_equals_expression(spark):
    from mpi_word_count_spark.operators.dedup import simhash_arrow

    expr = {
        r["doc_id"]: r["simhash"]
        for r in simhash(docs_df(spark), kernel="expr").collect()
    }
    arrow = {r["doc_id"]: r["simhash"] for r in simhash_arrow(docs_df(spark)).collect()}
    assert expr == arrow


def test_simhash_arrow_string_ids(spark):
    # string ids must survive the bucketing (hash(id), not pmod(id))
    # and come back with their original type
    from mpi_word_count_spark.operators.dedup import simhash_arrow

    df = spark.createDataFrame(
        [(f"doc-{i}", t) for i, t in DOCS], "doc_id string, text string"
    )
    expr = {
        r["doc_id"]: r["simhash"] for r in simhash(df, kernel="expr").collect()
    }
    arrow = {r["doc_id"]: r["simhash"] for r in simhash_arrow(df).collect()}
    assert expr == arrow
    assert expr["doc-1"] == expr["doc-2"]


def test_dup_clusters_nonconvergence_raises(spark):
    import pytest

    from mpi_word_count_spark.operators.dedup import dup_clusters

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(12)], "doc_id long, text string"
    )
    # an 11-edge path needs ~diameter rounds; 2 iterations cannot finish
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "d1 long, d2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(docs, chain, max_iters=2)


def test_release_caches_unpersists_tracked(spark):
    from mpi_word_count_spark.operators import release_caches

    released_before = release_caches()  # drain anything from other tests
    minhash_lsh_pairs(docs_df(spark), threshold=0.5).collect()
    assert release_caches() >= 2  # signatures + candidate pairs
    assert release_caches() == 0
    del released_before


def test_levenshtein_parity_with_duckdb(spark):
    """Lock the cross-engine edit-distance semantics the
    edit_distance_dups oracle relies on: Spark's levenshtein and
    DuckDB's levenshtein agree on unit-cost edits, empty strings, and
    case sensitivity for ASCII text. On non-ASCII they are KNOWN to
    diverge (Spark counts characters, DuckDB counts UTF-8 bytes) —
    the engine's character semantics is the production behavior; the
    oracle is valid because the fixture corpus is pure ASCII (asserted
    here so a fixture change surfaces loudly)."""
    import duckdb

    cases = [
        ("kitten", "sitting"),
        ("", "abc"),
        ("abc", ""),
        ("same", "same"),
        ("Case", "case"),
        ("a" * 100, "a" * 80 + "b" * 20),
    ]
    df = spark.createDataFrame(cases, "s1 string, s2 string")
    from pyspark.sql import functions as F

    spark_d = {
        (r["s1"], r["s2"]): r["d"]
        for r in df.select("s1", "s2", F.levenshtein("s1", "s2").alias("d")).collect()
    }
    con = duckdb.connect()
    for s1, s2 in cases:
        duck = con.execute("SELECT levenshtein(?, ?)", [s1, s2]).fetchone()[0]
        assert spark_d[(s1, s2)] == duck, (s1, s2)

    # the pinned divergence: char-based (Spark, correct for text) vs
    # byte-based (DuckDB) on multibyte codepoints
    nai = spark.createDataFrame(
        [("naïve café", "naive cafe")], "s1 string, s2 string"
    ).select(F.levenshtein("s1", "s2").alias("d")).collect()[0]["d"]
    assert nai == 2
    assert con.execute(
        "SELECT levenshtein('naïve café', 'naive cafe')"
    ).fetchone()[0] == 4

    # oracle precondition: the fixture corpus is ASCII end to end
    non_ascii = con.execute(
        "SELECT count(*) FROM '/root/testdata/sf0.001/documents.parquet' "
        "WHERE strlen(text) <> length(text)"
    ).fetchone()[0]
    assert non_ascii == 0


def test_incremental_exact_dedup_statuses(spark):
    from pyspark.sql import functions as F

    from mpi_word_count_spark.operators.dedup import incremental_exact_dedup

    rows = [
        (1, "alpha"),   # corpus
        (2, "beta"),    # corpus
        (10, "alpha"),  # batch: dup_of_corpus
        (15, "gamma"),  # batch: unique (first of its hash in batch)
        (20, "gamma"),  # batch: dup_in_batch (15 is canonical)
        (25, "delta"),  # batch: unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["status"]
        for r in incremental_exact_dedup(
            df, batch_filter=F.col("doc_id") >= 10
        ).collect()
    }
    assert out == {
        10: "dup_of_corpus",
        15: "unique",
        20: "dup_in_batch",
        25: "unique",
    }


def test_twostar_equals_label_propagation_on_random_graphs(spark):
    """dup_clusters_twostar must produce IDENTICAL (doc_id, cluster_id)
    assignments to min-label propagation on arbitrary graphs — chains
    (worst case for propagation), cliques, singletons, random."""
    import random

    from mpi_word_count_spark.operators import release_caches
    from mpi_word_count_spark.operators.dedup import (
        dup_clusters,
        dup_clusters_twostar,
    )

    def clusters(fn, docs, pairs):
        out = {(r["doc_id"], r["cluster_id"]) for r in fn(docs, pairs).collect()}
        release_caches()
        return out

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(20)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (11, 12), (15, 16)],
        "d1 long, d2 long",
    )
    assert clusters(dup_clusters, docs, pairs) == clusters(
        dup_clusters_twostar, docs, pairs
    )

    rnd = random.Random(11)
    n = 60
    edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    rdocs = spark.createDataFrame([(i, "") for i in range(n)], "doc_id long, text string")
    rpairs = spark.createDataFrame(edges, "d1 long, d2 long")
    assert clusters(dup_clusters, rdocs, rpairs) == clusters(
        dup_clusters_twostar, rdocs, rpairs
    )


def test_incremental_minhash_signature_store_path(spark, tmp_path):
    """The incremental claim made real: corpus signatures persisted
    once (parquet signature store) and passed back in must yield the
    IDENTICAL classification as the all-in-one computation — with only
    the batch being tokenized fresh on the store path."""
    from pyspark.sql import functions as F

    from mpi_word_count_spark.operators import release_caches
    from mpi_word_count_spark.operators.dedup import (
        incremental_minhash_dups,
        minhash_signatures,
    )
    from mpi_word_count_spark.tables import table
    from tests.conftest import SF_DIR

    docs = table(spark, "documents", SF_DIR)
    batch = F.col("doc_id") % 5 == 0

    inline = {
        (r["doc_id"], r["dup_of"], r["status"], r["n_matches"])
        for r in incremental_minhash_dups(docs, batch).collect()
    }
    release_caches()

    store = str(tmp_path / "sigstore")
    minhash_signatures(docs.filter(~batch)).write.mode("overwrite").parquet(store)
    corpus_sig = spark.read.parquet(store)
    via_store = {
        (r["doc_id"], r["dup_of"], r["status"], r["n_matches"])
        for r in incremental_minhash_dups(
            docs, batch, corpus_signatures=corpus_sig
        ).collect()
    }
    release_caches()
    assert inline == via_store
    assert any(s == "dup_of_corpus" for _, _, s, _ in inline)


def test_incremental_embedding_bucket_store_path(spark, tmp_path):
    """The embedding twin of the signature-store test: corpus band
    keys persisted once (parquet bucket store) and passed back in must
    yield the IDENTICAL classification as the all-in-one computation —
    with only the batch being banded fresh on the store path."""
    from pyspark.sql import functions as F

    from mpi_word_count_spark.operators import release_caches
    from mpi_word_count_spark.operators.dedup import (
        embedding_band_keys,
        incremental_embedding_dups,
    )
    from mpi_word_count_spark.tables import table
    from tests.conftest import SF_DIR

    emb = table(spark, "embeddings", SF_DIR)
    batch = F.col("vec_id") % 5 == 0

    inline = {
        (r["vec_id"], r["dup_of"], r["status"], r["n_matches"], r["max_cosine"])
        for r in incremental_embedding_dups(emb, batch).collect()
    }
    release_caches()

    store = str(tmp_path / "bucketstore")
    embedding_band_keys(emb.filter(~batch)).write.mode("overwrite").parquet(store)
    buckets = spark.read.parquet(store)
    via_store = {
        (r["vec_id"], r["dup_of"], r["status"], r["n_matches"], r["max_cosine"])
        for r in incremental_embedding_dups(
            emb, batch, corpus_buckets=buckets
        ).collect()
    }
    release_caches()
    assert inline == via_store
    assert any(s == "dup_of_corpus" for _, _, s, _, _ in inline)


def test_incremental_embedding_band_recall(spark):
    """Band-recall properties of the hyperplane bucketing driving
    incremental_embedding_dups:
    - positive-scale invariance: bucket(c·v) == bucket(v) for c > 0
      (sign bits see direction only), so a rescaled re-ingest of a
      corpus vector ALWAYS collides in every band;
    - empirical S-curve floor: planted near-duplicates at cos ≈ 0.98
      (small deterministic perturbation) are recalled as
      dup_of_corpus at well above the 1−(1−(1−θ/π)^3)^8 ≈ 0.97
      analytic rate's test floor of 80%."""
    import math

    from pyspark.sql import functions as F

    from mpi_word_count_spark.operators import release_caches
    from mpi_word_count_spark.operators.dedup import (
        embedding_band_keys,
        incremental_embedding_dups,
    )
    from mpi_word_count_spark.functions.hashing import py_hash32

    dim, n = 16, 60

    def unit(seed: str) -> list[float]:
        raw = [
            py_hash32(f"{seed}c{d}") / 2147483648.0 - 1.0 for d in range(dim)
        ]
        nrm = math.sqrt(sum(x * x for x in raw))
        return [x / nrm for x in raw]

    corpus = [(10 + i, unit(f"v{i}")) for i in range(n)]
    # batch = the same vectors, perturbed a little and rescaled; plus
    # one far-away probe that must classify unique
    eps = 0.2  # ||delta|| = 0.2 on unit vectors -> cos ≈ 0.98
    batch = []
    for i in range(n):
        d = unit(f"d{i}")
        v = [2.5 * (corpus[i][1][k] + eps * d[k]) for k in range(dim)]
        batch.append((1000 + i, v))
    batch.append((2000, unit("far-away-probe")))
    df = spark.createDataFrame(
        [(vid, [float(x) for x in vec]) for vid, vec in corpus + batch],
        "vec_id long, embedding array<float>",
    )
    is_batch = F.col("vec_id") >= 1000

    # scale invariance: banding the 2.5x-rescaled copies of the corpus
    # vectors reproduces the corpus band keys exactly
    scaled = spark.createDataFrame(
        [(vid, [7.25 * x for x in vec]) for vid, vec in corpus],
        "vec_id long, embedding array<float>",
    )
    orig_keys = {
        (r["_id"], r["band"], r["bucket"])
        for r in embedding_band_keys(df.filter(~is_batch), dim=dim).collect()
    }
    scaled_keys = {
        (r["_id"], r["band"], r["bucket"])
        for r in embedding_band_keys(scaled, dim=dim).collect()
    }
    assert orig_keys == scaled_keys

    rows = {
        r["vec_id"]: r
        for r in incremental_embedding_dups(
            df, is_batch, threshold=0.9, dim=dim
        ).collect()
    }
    release_caches()
    recalled = sum(
        1
        for i in range(n)
        if rows[1000 + i]["status"] == "dup_of_corpus"
        and rows[1000 + i]["dup_of"] == 10 + i
    )
    assert recalled >= 0.8 * n
    assert rows[2000]["status"] == "unique"


def test_passage_windows_stride_contract(spark):
    """The two thinning knobs have different guarantees. stride is
    POSITIONAL: copies of a region share a strided window only when
    their offsets agree mod stride (this test exhibits the misaligned
    failure — writing the naive 'length >= width+stride-1 suffices'
    claim as an assertion FAILED here and forced the docstring fix).
    sample_mod is CONTENT-DEFINED: every copy keeps the same windows
    regardless of alignment, so any shared region with a selected
    window is detected."""
    from mpi_word_count_spark.operators.dedup import passage_windows

    w, stride = 4, 3
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india"
    df = spark.createDataFrame(
        [
            (1, "one two " + shared + " nine ten"),   # region offset 2
            (2, shared + " zulu yankee xray"),        # region offset 0
        ],
        "doc_id long, text string",
    )
    dense = {
        (r["doc_id"], r["passage_hash"])
        for r in passage_windows(df, width=w, stride=1).collect()
    }
    strided = {
        (r["doc_id"], r["passage_hash"])
        for r in passage_windows(df, width=w, stride=stride).collect()
    }
    assert strided <= dense
    # positional stride misses the misaligned copy (offsets 2 vs 0,
    # 2 % 3 != 0) no matter how long the region is
    s1 = {h for d, h in strided if d == 1}
    s2 = {h for d, h in strided if d == 2}
    assert not (s1 & s2)
    # content-defined sampling keeps IDENTICAL windows in both copies:
    # the sampled shared set is exactly the dense shared set ∩ sample
    sampled = {
        (r["doc_id"], r["passage_hash"])
        for r in passage_windows(df, width=w, sample_mod=2).collect()
    }
    assert sampled <= dense
    d1 = {h for d, h in dense if d == 1}
    d2 = {h for d, h in dense if d == 2}
    m1 = {h for d, h in sampled if d == 1}
    m2 = {h for d, h in sampled if d == 2}
    assert 0 < len(m1 | m2) < len(d1 | d2)  # it actually thinned
    assert m1 & m2 == (d1 & d2) & (m1 | m2)  # shared iff selected


def test_ppjoin_equals_bruteforce(spark):
    # PPJoin is exact: on any corpus it must return precisely the
    # pairs the naive all-pairs token-set Jaccard finds
    from itertools import combinations

    from mpi_word_count_spark.operators.dedup import ppjoin_pairs

    df = docs_df(spark)
    got = {
        (r["d1"], r["d2"]): (r["n_common"], r["jaccard"])
        for r in ppjoin_pairs(df, threshold_pct=70, shingle_n=None).collect()
    }
    sets = {
        r["doc_id"]: set(r["text"].lower().split())
        for r in df.collect()
    }
    want = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and 100 * inter >= 70 * union:
            want[(a, b)] = inter
    assert set(got) == set(want)
    for pair, inter in want.items():
        assert got[pair][0] == inter
    # the planted exact-dup pair (1,2) qualifies; doc 4 pairs don't
    assert (1, 2) in got and got[(1, 2)][1] == 1.0
    assert all(4 not in pair for pair in got)


def test_ppjoin_no_cartesian(spark):
    import contextlib
    import io

    from mpi_word_count_spark.operators.dedup import ppjoin_pairs

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ppjoin_pairs(docs_df(spark)).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ppjoin_shingle_mode_matches_inverted_index(spark):
    # shingle-set PPJoin finds exactly the pairs the full
    # inverted-index formulation (ngram_jaccard_pairs) finds
    from mpi_word_count_spark.operators.dedup import ppjoin_pairs

    df = docs_df(spark)
    pp = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in ppjoin_pairs(df, threshold_pct=50, shingle_n=3).collect()
    }
    inv = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    assert set(pp) == set(inv)
    for pair in pp:
        assert abs(pp[pair] - inv[pair]) < 1e-9


def test_sorted_neighborhood_finds_identical_and_bounds_candidates(spark):
    from mpi_word_count_spark.operators.dedup import sorted_neighborhood_pairs

    got = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in sorted_neighborhood_pairs(
            docs_df(spark), neighborhood=2, max_hamming=8
        ).collect()
    }
    # identical docs share a fingerprint, sort adjacent, hamming 0
    assert got[(1, 2)] == 0
    # every returned pair is within the hamming budget, no dup pairs
    assert all(h <= 8 for h in got.values())
    # SNM vs all-pairs: the neighborhood pass returns a SUBSET of the
    # exhaustive simhash pairing (its documented miss set)
    allp = {
        (r["d1"], r["d2"])
        for r in simhash_dup_pairs(docs_df(spark), max_hamming=8).collect()
    }
    assert set(got) <= allp


def test_winnowing_guarantee_and_density(spark):
    """The MOSS guarantee: two documents sharing a token run of
    length >= w+k-1 MUST share at least one selected fingerprint;
    selection is deterministic (same text -> same fingerprints) and
    much sparser than the full gram set."""
    from mpi_word_count_spark.operators.dedup import (
        passage_windows,
        winnowing_fingerprints,
    )

    k, w = 4, 5
    shared_run = "alpha beta gamma delta epsilon zeta eta theta"  # 8 >= w+k-1
    rows = [
        (1, f"unrelated prefix words here {shared_run} and one tail"),
        (2, f"{shared_run} totally different continuation text follows now ok"),
        (3, "no overlap with anything else at all in this document text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sel = winnowing_fingerprints(df, k=k, w=w).collect()
    by_doc = {}
    for r in sel:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2], "shared run of w+k-1 tokens missed"
    assert not (by_doc[3] & (by_doc[1] | by_doc[2]))
    # density: selections are a strict subset of all gram hashes
    n_grams = passage_windows(df, width=k, stride=1).count()
    assert 0 < len(sel) < n_grams
    # determinism: a second run selects the identical set
    again = {
        (r["doc_id"], r["pos"], r["fingerprint"])
        for r in winnowing_fingerprints(df, k=k, w=w).collect()
    }
    assert again == {(r["doc_id"], r["pos"], r["fingerprint"]) for r in sel}


def test_containment_catches_excerpt_jaccard_misses(spark):
    # a short doc fully embedded in a long one: containment ~1.0 but
    # Jaccard well below 0.5 — the case the asymmetric query exists for
    from mpi_word_count_spark.queries.dedup_queries import q_containment_dups

    excerpt = "the quick brown fox jumps over the lazy dog today"
    filler = " ".join(f"filler{i} pad{i} extra{i}" for i in range(20))
    rows = [
        (1, excerpt),
        (2, f"{filler} {excerpt} {filler}"),
        (3, "completely unrelated content about engines and shuffles again"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("_containment_docs")

    from mpi_word_count_spark.operators.dedup import (
        _shared_shingle_pairs,
        _shingle_index,
        ngram_jaccard_pairs,
    )
    from pyspark.sql import functions as F

    sh = _shingle_index(df, 3, "doc_id", "text", None)
    sizes = {r["doc_id"]: r["n"] for r in
             sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    shared = {(r["d1"], r["d2"]): r["inter"]
              for r in _shared_shingle_pairs(sh).collect()}
    inter = shared[(1, 2)]
    containment_1_in_2 = inter / sizes[1]
    jaccard = inter / (sizes[1] + sizes[2] - inter)
    assert containment_1_in_2 >= 0.9      # excerpt detected
    assert jaccard < 0.5                  # symmetric Jaccard misses it
    assert 3 not in {d for pair in shared for d in pair}


def test_new_operators_degenerate_inputs(spark):
    """Degenerate inputs must yield empty results, not errors: empty
    corpus, all-delimiter docs, docs shorter than the gram/shingle
    width."""
    from mpi_word_count_spark.operators.dedup import (
        ppjoin_pairs,
        sorted_neighborhood_pairs,
        winnowing_fingerprints,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert ppjoin_pairs(empty).count() == 0
    assert sorted_neighborhood_pairs(empty).count() == 0
    assert winnowing_fingerprints(empty).count() == 0

    degenerate = spark.createDataFrame(
        [(1, ""), (2, "   ,,;; "), (3, "ab"), (4, "one two three")],
        "doc_id long, text string",
    )
    # 3-gram shingle sets: only doc 4 has one shingle; no pairs anywhere
    assert ppjoin_pairs(degenerate).count() == 0
    assert sorted_neighborhood_pairs(degenerate).count() >= 0  # no raise
    # k=4 grams need >= 4 tokens; w=5 windows need >= 8 grams
    assert winnowing_fingerprints(degenerate, k=4, w=5).count() == 0


def test_dedup_method_agreement_matrix_properties(spark):
    """Diagonal = method pair-set size with agreement 1000; the
    intersection never exceeds either side; methods are emitted in
    canonical (method_a <= method_b) order."""
    from mpi_word_count_spark.queries.dedup_queries import (
        q_dedup_method_agreement,
    )
    from tests.conftest import SF_DIR

    rows = q_dedup_method_agreement(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["method_a"] <= r["method_b"]
        assert r["n_common"] <= min(r["n_a"], r["n_b"])
        if r["method_a"] == r["method_b"]:
            assert r["n_common"] == r["n_a"] == r["n_b"]
            assert r["agreement_milli"] == 1000
    # at least one off-diagonal comparison materialized
    assert any(r["method_a"] != r["method_b"] for r in rows)


def test_winnowing_pos_zero_decodes_exactly(spark):
    """Regression for the POS_BASE truncation defect (round-5 ADVICE):
    with a base of 10^10, pos=0 inverted to an 11-digit number that
    lpad(..., 10) silently truncated, decoding to pos 9_000_000_000
    and breaking ties toward the LEFT at position 0. Every decoded
    position must lie inside the document's gram range, and a minimum
    gram at position 0 must be selectable with its true position."""
    from mpi_word_count_spark.operators.dedup import (
        passage_windows,
        winnowing_fingerprints,
    )

    k, w = 2, 2
    rows = [(1, "aa bb cc dd ee"), (2, "zz yy xx ww vv uu tt ss")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n_grams = {
        r["doc_id"]: r["n"]
        for r in passage_windows(df, width=k, stride=1)
        .groupBy("doc_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    sel = winnowing_fingerprints(df, k=k, w=w).collect()
    assert sel, "winnowing selected nothing"
    for r in sel:
        assert 0 <= r["pos"] < n_grams[r["doc_id"]], (
            f"doc {r['doc_id']}: decoded pos {r['pos']} outside "
            f"[0, {n_grams[r['doc_id']]}) — POS_BASE truncation"
        )
    # pos 0 must be reachable and decode as 0, not 9_000_000_000:
    # with w=1 every gram is its own window minimum, so position 0 is
    # selected unconditionally — hash-independent
    all_pos = {
        (r["doc_id"], r["pos"])
        for r in winnowing_fingerprints(df, k=k, w=1).collect()
    }
    for d, n in n_grams.items():
        assert (d, 0) in all_pos, f"doc {d}: position 0 never selected"
        assert {p for dd, p in all_pos if dd == d} == set(range(n))


def test_cdc_chunks_realign_after_insertion(spark):
    """The CDC property: chunk boundaries depend on content alone, so
    a document copied with an inserted PREFIX still shares chunk
    hashes with the original once past the first post-insertion
    boundary — exactly what fixed-stride windows (stride=width) lose
    to misalignment. Also: chunks partition each doc exactly (token
    counts sum to doc length) and assembly order is deterministic."""
    from pyspark.sql import functions as F

    from mpi_word_count_spark.operators.dedup import cdc_chunks, tokens_col

    body = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa quebec romeo "
        "sierra tango uniform victor whiskey xray yankee zulu one "
        "two three four five six seven eight nine ten eleven twelve"
    )
    rows = [
        (1, body),
        (2, "unrelated inserted preamble shifts every position " + body),
        (3, "completely different words with no shared content at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ch = cdc_chunks(df, mod=4).cache()
    by_doc = {}
    for r in ch.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    # partition exactness: per-doc chunk token counts sum to doc length
    lens = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", F.size(tokens_col("text")).alias("n")
        ).collect()
    }
    for d, chunks in by_doc.items():
        assert sum(c["n_tokens"] for c in chunks) == lens[d]
    # insertion robustness: docs 1 and 2 share chunk hashes; doc 3 none
    h1 = {c["chunk_hash"] for c in by_doc[1]}
    h2 = {c["chunk_hash"] for c in by_doc[2]}
    h3 = {c["chunk_hash"] for c in by_doc[3]}
    assert h1 & h2, "shifted copy shares no CDC chunks"
    assert not (h3 & (h1 | h2))
    ch.unpersist()


def test_winnowing_short_docs_still_fingerprint(spark):
    """Docs with fewer than w grams must emit exactly ONE fingerprint
    (the min over all available grams — Schleimer et al.'s degenerate
    window), so identical short documents still match; previously they
    emitted zero and were invisible to every consumer."""
    from mpi_word_count_spark.operators.dedup import winnowing_fingerprints

    k, w = 4, 5
    short = "alpha beta gamma delta epsilon zeta"  # 6 tokens -> 3 grams < w
    df = spark.createDataFrame(
        [(1, short), (2, short), (3, "totally different words here now ok")],
        "doc_id long, text string",
    )
    fp = winnowing_fingerprints(df, k=k, w=w).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], []).append((r["pos"], r["fingerprint"]))
    assert len(by_doc[1]) == 1 and len(by_doc[2]) == 1 and len(by_doc[3]) == 1
    assert by_doc[1] == by_doc[2]          # identical short docs match
    assert by_doc[1] != by_doc[3]


def test_dup_clusters_reliable_checkpoint(spark, tmp_path):
    """Cluster-mode durability, exercised not just documented (VERDICT
    r8 item 5): the same iteration under reliable checkpoint() — rounds
    written to the checkpoint FS (survives executor loss, unlike
    localCheckpoint blocks) — produces identical clusters, and the
    checkpoint directory actually receives RDD checkpoint files."""
    import os

    from mpi_word_count_spark.operators.dedup import dup_clusters

    ckpt_dir = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt_dir)
    try:
        docs = spark.createDataFrame(
            [(i, f"text {i}") for i in range(1, 8)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(
            [(2, 3), (1, 2), (5, 6)], "d1 long, d2 long"
        )
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dup_clusters(
                docs, pairs, reliable_checkpoint=True
            ).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}
        # the rounds really went through the reliable checkpoint path
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(ckpt_dir)
            for f in fs
        ]
        assert files, "no RDD checkpoint files written under the dir"
    finally:
        # reset (py4j name for the Scala setter `checkpointDir_=`):
        # a later .checkpoint() in this session must not land in the
        # pytest tmp dir after its cleanup
        sc = spark.sparkContext
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


def test_unpersist_local_ckpt_private_reach_pinned(spark):
    """Pin the non-public py4j accessor path _unpersist_local_ckpt
    depends on (VERDICT r8 minor): if a Spark upgrade renames
    queryExecution/analyzed/rdd, THIS test fails loudly — otherwise
    the helper would silently degrade to GC-paced block release and
    only show up as episodic latency. Calls the chain WITHOUT the
    broad guard and asserts the unpersist really flips the RDD's
    storage level."""
    from mpi_word_count_spark.operators.dedup import _unpersist_local_ckpt

    df = spark.range(100).localCheckpoint(eager=True)
    jrdd = df._jdf.queryExecution().analyzed().rdd()  # no try/except
    assert jrdd is not None
    assert jrdd.getStorageLevel().useMemory(), (
        "localCheckpoint RDD not cached — the accessor path resolved "
        "to the wrong RDD"
    )
    _unpersist_local_ckpt(df)
    lvl = df._jdf.queryExecution().analyzed().rdd().getStorageLevel()
    assert not lvl.useMemory() and not lvl.useDisk(), (
        "unpersist did not reach the checkpoint RDD"
    )


# --- blocked_pairs / batch_blocked_pairs: the one candidate-pair path ----

KEYS_SCHEMA = "doc_id long, band int, key string"


def _pairs(df):
    return sorted((r["d1"], r["d2"]) for r in df.collect())


def test_blocked_pairs_empty_and_single_member_blocks(spark):
    from mpi_word_count_spark.operators.dedup import blocked_pairs

    empty = blocked_pairs(
        spark.createDataFrame([], KEYS_SCHEMA), "doc_id", ("band", "key")
    )
    assert empty.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema] == [
        ("d1", "bigint"),
        ("d2", "bigint"),
    ]
    one = spark.createDataFrame([(1, 0, "k")], KEYS_SCHEMA)
    assert blocked_pairs(one, "doc_id", ("band", "key")).count() == 0
    # every block has one member: same key in different bands, same
    # band with different keys — no pair
    singles = spark.createDataFrame(
        [(1, 0, "k"), (2, 1, "k"), (3, 0, "j")], KEYS_SCHEMA
    )
    assert blocked_pairs(singles, "doc_id", ("band", "key")).count() == 0


def test_blocked_pairs_multi_block_collision_emitted_once(spark):
    from mpi_word_count_spark.operators.dedup import blocked_pairs

    keys = spark.createDataFrame(
        # 7 and 3 collide in bands 0, 1 and 2; 5 meets 3 in band 2 only
        [(7, 0, "a"), (3, 0, "a"), (7, 1, "b"), (3, 1, "b"),
         (7, 2, "c"), (3, 2, "c"), (5, 2, "c"), (5, 0, "z")],
        KEYS_SCHEMA,
    )
    got = blocked_pairs(keys, "doc_id", ("band", "key"))
    assert got.columns == ["d1", "d2"]
    assert _pairs(got) == [(3, 5), (3, 7), (5, 7)]


def test_blocked_pairs_filter_drops_pair_whole(spark):
    from mpi_word_count_spark.operators.dedup import blocked_pairs

    keys = spark.createDataFrame(
        [(1, 0, "a", 10), (2, 0, "a", 11), (3, 0, "a", 50),
         (1, 1, "b", 10), (3, 1, "b", 50)],
        KEYS_SCHEMA + ", w int",
    )
    got = blocked_pairs(
        keys,
        "doc_id",
        ("band", "key"),
        pair_filter=lambda a, b: F.abs(F.col("a.w") - F.col("b.w")) <= 5,
    )
    # (1,3) collides in two bands and fails the filter in both
    assert _pairs(got) == [(1, 2)]


def _batch_rows(df):
    return sorted((r["did"], r["other"], r["other_is_batch"]) for r in df.collect())


def test_batch_blocked_pairs_equals_blocked_pairs_on_union(spark):
    import random

    from mpi_word_count_spark.operators.dedup import (
        batch_blocked_pairs,
        blocked_pairs,
    )

    rnd = random.Random(3)
    rows = [
        (i, band, rnd.choice("abc"))
        for i in range(1, 25)
        for band in range(3)
    ]
    batch_ids = {i for i in range(1, 25) if i % 4 == 0}
    keys = spark.createDataFrame(rows, KEYS_SCHEMA)
    batch = keys.filter(F.col("doc_id") % 4 == 0)
    store = keys.filter(F.col("doc_id") % 4 != 0)
    got = _batch_rows(batch_blocked_pairs(batch, store, "doc_id", ("band", "key")))
    assert got, "fixture produced no candidate pairs"
    # no (x, x) pair, and other_is_batch says where `other` lives
    assert all(did != other for did, other, _ in got)
    assert all(did in batch_ids for did, _, _ in got)
    assert all(flag == (other in batch_ids) for _, other, flag in got)
    # in-batch pairs are owned by the larger id
    assert all(other < did for did, other, flag in got if flag)
    # the same pairs as the full self-join, restricted to batch pairs
    full = _pairs(blocked_pairs(keys, "doc_id", ("band", "key")))
    want = [p for p in full if batch_ids & set(p)]
    assert sorted(tuple(sorted((d, o))) for d, o, _ in got) == want
    assert len(got) == len(want)  # distinct: one row per pair


def test_batch_blocked_pairs_empty_batch(spark):
    from mpi_word_count_spark.operators.dedup import batch_blocked_pairs

    store = spark.createDataFrame([(1, 0, "a"), (2, 0, "a")], KEYS_SCHEMA)
    empty = spark.createDataFrame([], KEYS_SCHEMA)
    got = batch_blocked_pairs(empty, store, "doc_id", ("band", "key"))
    assert got.columns == ["did", "other", "other_is_batch"]
    assert got.count() == 0


# --- pigeonhole bandings vs brute force (hypothesis) ----------------------

_VOCAB = ["ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen", "ibis", "jay"]


def test_simhash_banded_equals_allpairs_every_distance(spark):
    """Pigeonhole banding is exact for EVERY max_hamming, not just the
    registered d=8: on random near-duplicate corpora the banded plan
    returns precisely simhash_dup_pairs' pairs for d = 0..8."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mpi_word_count_spark.operators import release_caches
    from mpi_word_count_spark.operators.dedup import simhash_banded_pairs

    words = st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=10)
    edits = st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 9), st.sampled_from(_VOCAB)),
        max_size=8,
    )

    @settings(max_examples=3, deadline=None)
    @given(st.lists(words, min_size=1, max_size=6), edits)
    def check(bases, muts):
        # near-duplicates: copies of a base doc with one token replaced
        docs = [" ".join(b) for b in bases]
        for base, pos, w in muts:
            toks = list(bases[base % len(bases)])
            toks[pos % len(toks)] = w
            docs.append(" ".join(toks))
        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id long, text string"
        )
        allp = {
            (r["d1"], r["d2"], r["hamming"])
            for r in simhash_dup_pairs(df, max_hamming=8).collect()
        }
        for d in range(9):
            banded = {
                (r["d1"], r["d2"], r["hamming"])
                for r in simhash_banded_pairs(df, max_hamming=d).collect()
            }
            release_caches()
            assert banded == {p for p in allp if p[2] <= d}, d

    check()


def test_phash_dups_equals_allpairs_popcount(spark):
    """dHash band pigeonhole (4 × 16-bit bands) is exact up to 3 bits:
    phash_dups equals the all-pairs popcount for every max_hamming in
    0..3 on random hash tables with planted near-copies."""
    from itertools import combinations

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mpi_word_count_spark.operators import release_caches
    from mpi_word_count_spark.operators.multimodal import phash_dups

    band = st.integers(0, (1 << 16) - 1)
    flips = st.lists(st.integers(0, 63), max_size=5)

    @settings(max_examples=4, deadline=None)
    @given(
        st.lists(st.tuples(band, band, band, band), min_size=1, max_size=6),
        st.lists(st.tuples(st.integers(0, 5), flips), max_size=10),
    )
    def check(bases, copies):
        hashes = [list(b) for b in bases]
        for base, bits in copies:
            h = list(bases[base % len(bases)])
            for bit in bits:
                h[bit // 16] ^= 1 << (bit % 16)
            hashes.append(h)
        rows = [(i, *h) for i, h in enumerate(hashes)]
        df = spark.createDataFrame(
            rows, "media_id long, b0 int, b1 int, b2 int, b3 int"
        )
        dist = {
            (a[0], b[0]): sum(bin(x ^ y).count("1") for x, y in zip(a[1:], b[1:]))
            for a, b in combinations(rows, 2)
        }
        for d in range(4):
            got = {
                (r["media_id_1"], r["media_id_2"], r["hamming"])
                for r in phash_dups(df, max_hamming=d).collect()
            }
            release_caches()
            assert got == {(a, b, h) for (a, b), h in dist.items() if h <= d}, d

    check()


# --- partition invariance of every blocked-pair consumer ------------------

BLOCKED_PAIR_QUERIES = (
    "minhash_lsh_dups",
    "dedup_clusters",
    "simhash_dups",
    "simhash_banded_dups",
    "embedding_dups",
    "incremental_minhash_dups",
    "incremental_embedding_dups",
    "media_phash_dups",
    "minhash_estimate_audit",
)


@pytest.mark.parametrize("name", BLOCKED_PAIR_QUERIES)
def test_blocked_pair_queries_partition_invariant(spark, name):
    """An odd shuffle-partition count (7, vs the session's 8) must not
    change any candidate-pair consumer's oracle-checked result."""
    import __spark_entry__ as entrymod
    from mpi_word_count_spark.operators import release_caches
    from mpi_word_count_spark.oracle import compare
    from tests.conftest import SF_DIR

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        ok, msg = compare(
            spark, entrymod.queries()[name], entrymod.oracle_sql()[name], SF_DIR
        )
    finally:
        spark.conf.set(key, old)
        release_caches()
    assert ok, f"{name}: {msg}"
