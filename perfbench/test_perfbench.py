"""Tests of the benchmark itself: generators, output checks, the
dedup oracle on a small generated instance, and BENCHMARK.json.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from checks import check_clusters, check_word_count_csv, planted_recall  # noqa: E402

SMALL = {
    "corpus_zipf": {"tokens": 20_000, "vocab": 2_000, "zipf_s": 1.05, "files": 3},
    "near_dup_docs": {"docs": 300, "groups": 25, "copies": 3, "vocab": 2_000},
}


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_generators_are_deterministic_per_seed(tmp_path, workload):
    a = gen.prepare(workload, 7, str(tmp_path / "a"), SMALL[workload])
    b = gen.prepare(workload, 7, str(tmp_path / "b"), SMALL[workload])
    c = gen.prepare(workload, 8, str(tmp_path / "c"), SMALL[workload])
    assert _tree(a) == _tree(b)
    assert _tree(a) != _tree(c)


def test_prepare_reuses_a_finished_input_set(tmp_path):
    a = gen.prepare("corpus_zipf", 1, str(tmp_path), SMALL["corpus_zipf"])
    stamp = os.path.getmtime(os.path.join(a, "truth.json"))
    assert gen.prepare("corpus_zipf", 1, str(tmp_path), SMALL["corpus_zipf"]) == a
    assert os.path.getmtime(os.path.join(a, "truth.json")) == stamp


def _python_word_count(input_dir: str) -> bytes:
    """Reference tally: split on the reference delimiter alphabet and
    lowercase, in plain Python."""
    import re
    from collections import Counter

    from mpi_word_count_spark.tokenizer import delimiter_regex

    rx = re.compile(delimiter_regex())
    counts: Counter[str] = Counter()
    for name in sorted(os.listdir(input_dir)):
        with open(os.path.join(input_dir, name), encoding="latin-1") as fh:
            counts.update(w.lower() for w in rx.split(fh.read()) if w)
    rows = sorted((w.encode(), n) for w, n in counts.items())
    return b"Word,Count\n" + b"".join(b"%s,%d\n" % r for r in rows)


def test_corpus_truth_matches_an_independent_tally(tmp_path):
    root = gen.prepare("corpus_zipf", 3, str(tmp_path), SMALL["corpus_zipf"])
    with open(os.path.join(root, "expected.csv"), "rb") as fh:
        expected = fh.read()
    assert expected == _python_word_count(os.path.join(root, "input"))


def _corpus_expected(tmp_path) -> bytes:
    root = gen.prepare("corpus_zipf", 5, str(tmp_path), SMALL["corpus_zipf"])
    with open(os.path.join(root, "expected.csv"), "rb") as fh:
        return fh.read()


def test_csv_check_accepts_the_expected_output_and_rejects_another_spelling(tmp_path):
    expected = _corpus_expected(tmp_path)
    out = tmp_path / "out.csv"
    out.write_bytes(expected)
    assert check_word_count_csv(str(out), expected) is None
    out.write_bytes(expected.replace(b"\n", b"\r\n"))  # CRLF breaks byte parity
    assert "line 1 differs" in check_word_count_csv(str(out), expected)


def test_csv_check_catches_a_corrupted_count(tmp_path):
    expected = _corpus_expected(tmp_path)
    lines = expected.splitlines(keepends=True)
    word, count = lines[5].rstrip(b"\n").split(b",")
    lines[5] = b"%s,%d\n" % (word, int(count) + 1)
    out = tmp_path / "out.csv"
    out.write_bytes(b"".join(lines))
    reason = check_word_count_csv(str(out), expected)
    assert reason.startswith("line 6 differs")
    assert f"{int(count) + 1}" in reason and f"{int(count)}" in reason


def test_csv_check_catches_order_header_and_missing_rows(tmp_path):
    expected = _corpus_expected(tmp_path)
    lines = expected.splitlines(keepends=True)
    out = tmp_path / "out.csv"
    out.write_bytes(b"".join([lines[0], lines[2], lines[1], *lines[3:]]))
    assert "line 2 differs" in check_word_count_csv(str(out), expected)
    out.write_bytes(b"word,count\n" + b"".join(lines[1:]))
    assert "line 1 differs" in check_word_count_csv(str(out), expected)
    out.write_bytes(b"".join(lines[:-1]))
    reason = check_word_count_csv(str(out), expected)
    assert f"line {len(lines)} differs" in reason and "<end of file>" in reason


def test_a_corrupted_output_counts_as_a_failed_job(tmp_path):
    """Runner tallies a job whose output fails its check as failed (the
    run's `failed` and error_rate), and still returns its time."""
    from worker import Corpus, Runner

    root = gen.prepare("corpus_zipf", 6, str(tmp_path / "data"), SMALL["corpus_zipf"])

    class Corrupting(Corpus):
        def run(self, spark, out, tracer=None):
            rows = self.expected.splitlines(keepends=True)
            word, count = rows[1].rstrip(b"\n").split(b",")
            rows[1] = b"%s,%d\n" % (word, int(count) * 2)
            with open(out, "wb") as fh:
                fh.write(b"".join(rows))

    work = tmp_path / "work"
    work.mkdir()
    runner = Runner(None, Corrupting(root, {}), str(work))
    assert runner.job() is not None
    assert runner.attempted == 1 and len(runner.failures) == 1
    assert runner.failures[0].startswith("line 2 differs")
    assert list(work.iterdir()) == []


def _truth_clustering(truth: dict) -> dict[int, int]:
    cluster = {d: d for d in range(truth["docs"])}
    for g in truth["groups"]:
        for d in g:
            cluster[d] = min(g)
    return cluster


def test_cluster_check_accepts_the_planted_clustering_and_catches_errors(tmp_path):
    root = gen.prepare("near_dup_docs", 2, str(tmp_path), SMALL["near_dup_docs"])
    with open(os.path.join(root, "truth.json")) as fh:
        truth = json.load(fh)
    groups, n = truth["groups"], truth["docs"]
    good = _truth_clustering(truth)
    assert planted_recall(good, groups) == 1.0
    assert check_clusters(list(good), list(good.values()), groups, n) is None

    merged = dict(good)  # two planted groups in one cluster
    low = min(min(groups[0]), min(groups[1]))
    for d in groups[0] + groups[1]:
        merged[d] = low
    assert "spans" in check_clusters(list(merged), list(merged.values()), groups, n)

    split = dict(good)  # every copy split from its base: recall 0
    for g in groups:
        for d in g:
            split[d] = d
    assert "recall" in check_clusters(list(split), list(split.values()), groups, n)

    ids = list(good)[:-1]  # a document missing
    assert "rows" in check_clusters(ids, [good[d] for d in ids], groups, n)


def test_benchmark_json_matches_what_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(gen.GENERATORS)
    assert bench["paths"] == [os.path.basename(HERE)]


def test_run_refuses_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_zipf", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


# --- Spark-backed tests -------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from mpi_word_count_spark.session import get_spark

    session = get_spark(master="local[2]", shuffle_partitions=4, driver_memory="1g",
                        extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield session
    session.stop()


def test_word_count_output_passes_the_check(spark, tmp_path):
    from mpi_word_count_spark.operators.wordcount import word_count_dir
    from mpi_word_count_spark.sinks import write_word_count_csv

    root = gen.prepare("corpus_zipf", 11, str(tmp_path / "data"), SMALL["corpus_zipf"])
    out = str(tmp_path / "out.csv")
    write_word_count_csv(word_count_dir(spark, os.path.join(root, "input")), out)
    with open(os.path.join(root, "expected.csv"), "rb") as fh:
        assert check_word_count_csv(out, fh.read()) is None


def test_dedup_clusters_agrees_with_its_duckdb_oracle(spark, tmp_path):
    """Spark's dedup_clusters equals registry.oracle_sql()'s DuckDB
    answer on a small near_dup_docs instance, and passes the check."""
    import duckdb

    from mpi_word_count_spark.operators import release_caches
    from mpi_word_count_spark.registry import oracle_sql, queries

    root = gen.prepare("near_dup_docs", 4, str(tmp_path), SMALL["near_dup_docs"])
    sf_dir = os.path.join(root, "input")
    got = queries()["dedup_clusters"](spark, sf_dir).toPandas()
    release_caches()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = con.execute(oracle_sql()["dedup_clusters"]).df()
    rows = sorted(zip(got.doc_id.astype(int), got.cluster_id.astype(int)))
    assert rows == sorted(zip(want.doc_id.astype(int), want.cluster_id.astype(int)))
    with open(os.path.join(root, "truth.json")) as fh:
        truth = json.load(fh)
    ids, clusters = zip(*rows)
    assert check_clusters(ids, clusters, truth["groups"], truth["docs"]) is None
