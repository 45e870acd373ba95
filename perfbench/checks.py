"""Output checks. A job whose output fails its check counts as failed
(it feeds `failed` and the printed error_rate); nothing is skipped."""

from __future__ import annotations

from itertools import zip_longest

# Share of planted copies that must land in their base document's
# cluster. Every planted copy is at 3-shingle Jaccard >= 0.7 to its
# base, where 8 bands of 2 min-hashes would miss a pair with
# probability < 0.3% if the 16 hashes were independent. They are not:
# h = (a*x + b) mod (2^61 - 1) with a < 2^31, x < 2^32 wraps at most
# three times, so the minima are correlated and the pipeline misses
# ~5% of copies (measured at Jaccard 0.79-0.87). The floor catches a
# regression from there; `dedup.planted_recall` reports the value.
RECALL_FLOOR = 0.90


def check_word_count_csv(path: str, expected: bytes) -> str | None:
    """None when `path` is a correct word-count CSV, else the reason.

    Correct means: header `Word,Count`, rows in strictly ascending
    bytewise word order, and each count equal to the generator's
    tally. `write_word_count_csv` is a byte-parity sink, so the file
    must equal the expected bytes; a mismatch reports the first line
    that differs, which shows a header, order, count or row error."""
    with open(path, "rb") as fh:
        got = fh.read()
    if got == expected:
        return None
    lines = zip_longest(got.splitlines(keepends=True), expected.splitlines(keepends=True),
                        fillvalue=b"<end of file>")
    i, (have, want) = next((i, pair) for i, pair in enumerate(lines, 1) if pair[0] != pair[1])
    return f"line {i} differs from the expected CSV: got {have!r}, want {want!r}"


def planted_recall(cluster_of: dict[int, int], groups: list[list[int]]) -> float:
    """Share of planted copies in the same cluster as their group's
    base document (a group's first member)."""
    copies = sum(len(g) - 1 for g in groups)
    found = sum(cluster_of[d] == cluster_of[g[0]] for g in groups for d in g[1:])
    return found / copies


def check_clusters(doc_ids, cluster_ids, groups: list[list[int]], n_docs: int) -> str | None:
    """None when (doc_id, cluster_id) rows are a correct clustering of
    the generated documents, else the reason.

    Correct means: every document exactly once; cluster_id is the
    smallest doc_id of its cluster; no cluster holds documents of two
    planted groups (an unplanted document is a group of its own); and
    at least RECALL_FLOOR of the planted copies share their base's
    cluster."""
    doc_ids = [int(d) for d in doc_ids]
    cluster_of = dict(zip(doc_ids, (int(c) for c in cluster_ids)))
    if len(doc_ids) != n_docs or len(cluster_of) != n_docs:
        return f"{len(doc_ids)} rows for {len(cluster_of)} distinct docs, want {n_docs}"
    members: dict[int, list[int]] = {}
    for d, c in cluster_of.items():
        members.setdefault(c, []).append(d)
    if any(c != min(ds) for c, ds in members.items()):
        return "a cluster_id is not the smallest doc_id of its cluster"
    group_of = {d: g for g, ds in enumerate(groups) for d in ds}
    for ds in members.values():
        if len({group_of.get(d, -1 - d) for d in ds}) > 1:
            return f"cluster {min(ds)} spans planted groups: {sorted(ds)[:8]}"
    recall = planted_recall(cluster_of, groups)
    if recall < RECALL_FLOOR:
        return f"planted-copy recall {recall:.4f} below floor {RECALL_FLOOR}"
    return None


def read_clusters(path: str):
    """(doc_ids, cluster_ids) from a parquet output directory."""
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=["doc_id", "cluster_id"])
    return table.column("doc_id").to_pylist(), table.column("cluster_id").to_pylist()
