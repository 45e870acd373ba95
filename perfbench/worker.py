"""One fresh driver process of a benchmark run.

    python3 perfbench/worker.py --workload W --data DIR --seconds S \
        --trace 0|1 --work DIR --result R.json

`run.py` starts it with the pinned settings in the environment and the
repository root on PYTHONPATH; it writes its raw samples to --result.

Untraced (--trace 0): set up, run the first job, then run jobs in a
closed loop (one client) for S seconds, checking every output.
Traced (--trace 1): per iteration, run the workload's rung ladder (each
rung a longer prefix of the pipeline, executed by a noop write in its
own job group), then the real job with spans, then the real job
without them; per-layer numbers are rung differences, span totals and
status-store totals per job group.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time
from contextlib import nullcontext

from checks import check_clusters, check_word_count_csv, planted_recall, read_clusters
from tracing import StatusStore, Tracer, band_join_rows, wrapped_widen

HERE = os.path.dirname(os.path.abspath(__file__))


def _span(tracer, name):
    return tracer.span(name) if tracer else nullcontext()


def start_spark(settings: dict, tracer=None):
    """get_spark with the pinned settings, timed until the first trivial
    job returns (the benchmark's setup_s)."""
    from mpi_word_count_spark.session import get_spark

    conf = {**settings["spark_conf"], "spark.driver.extraJavaOptions": settings["driver_jvm_options"]}
    start = time.perf_counter()
    with _span(tracer, "session.get_spark"):
        spark = get_spark(extra_conf=conf)
    spark.range(1).count()
    return spark, time.perf_counter() - start


class Corpus:
    """corpus_zipf: word_count_dir → write_word_count_csv."""

    final_layer = "sinks"

    def __init__(self, data_dir: str, truth: dict):
        self.input = os.path.join(data_dir, "input")
        with open(os.path.join(data_dir, "expected.csv"), "rb") as fh:
            self.expected = fh.read()

    def run(self, spark, out: str, tracer=None) -> None:
        from mpi_word_count_spark.operators.wordcount import word_count_dir
        from mpi_word_count_spark.sinks import write_word_count_csv

        with _span(tracer, "wordcount.build"):
            df = word_count_dir(spark, self.input)
        with _span(tracer, "sinks.write_word_count_csv"):
            write_word_count_csv(df, out)

    def check(self, out: str) -> str | None:
        return check_word_count_csv(out, self.expected)

    def rungs(self, spark):
        from mpi_word_count_spark.operators import widen
        from mpi_word_count_spark.operators.wordcount import word_count_df
        from mpi_word_count_spark.tokenizer import tokenize

        def read():
            return spark.read.text(self.input)

        return [
            ("sources", read),
            ("operators.widen", lambda: widen(read())),
            ("tokenizer", lambda: tokenize(widen(read()), col="value")),
            ("wordcount.agg", lambda: word_count_df(read(), col="value", ordered=False)),
            ("wordcount.sort", lambda: word_count_df(read(), col="value", ordered=True)),
        ]


class NearDup:
    """near_dup_docs: the registered dedup_clusters query → parquet."""

    final_layer = "queries"

    def __init__(self, data_dir: str, truth: dict):
        from mpi_word_count_spark.registry import queries

        self.sf_dir = os.path.join(data_dir, "input")
        self.groups = truth["groups"]
        self.docs = truth["docs"]
        self.query = queries()["dedup_clusters"]
        self.recalls: list[float] = []

    def run(self, spark, out: str, tracer=None) -> None:
        with _span(tracer, "queries.build"):
            df = self.query(spark, self.sf_dir)
        with _span(tracer, "queries.write"):
            df.write.mode("overwrite").parquet(out)

    def check(self, out: str) -> str | None:
        doc_ids, cluster_ids = read_clusters(out)
        self.recalls.append(planted_recall(dict(zip(doc_ids, cluster_ids)), self.groups))
        return check_clusters(doc_ids, cluster_ids, self.groups, self.docs)

    def rungs(self, spark):
        from mpi_word_count_spark.operators.dedup import (
            dup_clusters,
            minhash_lsh_pairs,
            minhash_signatures,
        )
        from mpi_word_count_spark.queries.dedup_queries import JACCARD_THRESHOLD
        from mpi_word_count_spark.tables import table

        def docs():
            return table(spark, "documents", self.sf_dir)

        def pairs():
            return minhash_lsh_pairs(docs(), threshold=JACCARD_THRESHOLD)

        return [
            ("sources", lambda: docs().select("doc_id", "text")),
            ("dedup.signatures", lambda: minhash_signatures(docs())),
            ("dedup.lsh_pairs", pairs),
            ("dedup.clusters", lambda: dup_clusters(docs(), pairs())),
        ]


WORKLOADS = {"corpus_zipf": Corpus, "near_dup_docs": NearDup}


class Runner:
    """Runs, checks and cleans up real jobs, keeping the tallies."""

    def __init__(self, spark, workload, work: str, measure_heap: bool = False):
        self.spark = spark
        self.workload = workload
        self.work = work
        self.measure_heap = measure_heap
        self.attempted = 0
        self.failures: list[str] = []
        self.heap_live_mb: list[float] = []

    def job(self, tracer=None) -> float | None:
        """One real job; its seconds (build call until output written),
        or None when it raised. A raise or a failed check is recorded
        in `failures`. With `measure_heap`, the live heap is sampled
        after the output is written and before the caches are released."""
        from mpi_word_count_spark.operators import release_caches

        out = os.path.join(self.work, f"out-{self.attempted}")
        self.attempted += 1
        reason = elapsed = None
        try:
            start = time.perf_counter()
            self.workload.run(self.spark, out, tracer)
            elapsed = time.perf_counter() - start
            if self.measure_heap:
                self.heap_live_mb.append(_heap_live_mb(self.spark))
            with _span(tracer, "operators.release") as rec:
                released = release_caches()
            if rec is not None:
                rec["released"] = released
            reason = self.workload.check(out)
        except Exception as exc:  # a failed job is a result, not a crash
            reason = f"{type(exc).__name__}: {exc}"
        finally:
            if os.path.isdir(out):
                shutil.rmtree(out)
            elif os.path.exists(out):
                os.remove(out)
        if reason is not None:
            self.failures.append(reason)
        return elapsed


def _rss_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _jvm_pid(spark) -> int:
    """The driver JVM's pid: the gateway process pyspark launched (the
    launcher scripts exec java), or its java child if it did not."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as fh:
        if fh.read().strip() == "java":
            return pid
    with open(f"/proc/{pid}/task/{pid}/children") as fh:
        return int(fh.read().split()[0])


def _heap_live_mb(spark) -> float:
    """The driver JVM's heap in use right after a full collection
    (System.gc()), in MB: the data still reachable at that moment."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def untraced(spark, workload, work: str, seconds: float, min_jobs: int) -> dict:
    runner = Runner(spark, workload, work, measure_heap=True)
    first = runner.job()
    times = []
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or runner.attempted <= min_jobs:
        elapsed = runner.job()
        if elapsed is not None:
            times.append(elapsed)
    return {
        "first_job_s": first,
        "job_s": times,
        "peak_rss_mb": _rss_mb("self") + _rss_mb(_jvm_pid(spark)),
        "heap_live_mb": runner.heap_live_mb,
        "attempted": runner.attempted,
        "failures": runner.failures,
    }


def traced(spark, workload, work: str, seconds: float, tracer: Tracer) -> dict:
    from pyspark.sql import functions as F

    from mpi_word_count_spark.sinks import observed_write
    from mpi_word_count_spark.operators import release_caches

    sc = spark.sparkContext
    status = StatusStore(spark)
    runner = Runner(spark, workload, work)
    runner.job()  # warm-up, like the untraced run's first job
    rung_s: dict[str, list[float]] = {}
    rung_rows: dict[str, list[int]] = {}
    band_rows: list[int] = []
    jobs: dict[str, list[float]] = {"traced": [], "untraced": []}
    per_job: dict[str, list[float]] = {}
    iterations = 0
    start = time.perf_counter()
    # two iterations give each median a pair of samples; on a slow host,
    # one has to do so that the run still ends within its time limit
    while (time.perf_counter() - start < seconds
           or (iterations < 2 and time.perf_counter() - start < 2 * seconds)):
        for layer, build in workload.rungs(spark):
            sc.setJobGroup(f"{layer}#{iterations}", layer)
            t0 = time.perf_counter()
            df = build()
            rows = observed_write(df, {"rows": F.count(F.lit(1))})["rows"]
            rung_s.setdefault(layer, []).append(time.perf_counter() - t0)
            rung_rows.setdefault(layer, []).append(rows)
            if layer == "dedup.lsh_pairs":
                band_rows.append(band_join_rows(df) or 0)
            release_caches()
        sc._jsc.clearJobGroup()
        # alternate the order so neither side always runs on a warmer JVM
        for kind in (("traced", "untraced") if iterations % 2 == 0 else ("untraced", "traced")):
            if kind == "traced":
                sc.setJobGroup(f"{workload.final_layer}#{iterations}", workload.final_layer)
                mark = len(tracer.spans)
                with wrapped_widen(tracer), tracer.span("job"):
                    elapsed = runner.job(tracer)
                sc._jsc.clearJobGroup()
                for name in ("operators.widen", "wordcount.build", "queries.build",
                             "queries.write", "operators.release"):
                    per_job.setdefault(name + "_s", []).append(tracer.total(name, mark))
                per_job.setdefault("operators.widen_calls", []).append(
                    tracer.count("operators.widen", mark))
                per_job.setdefault("operators.released", []).append(
                    sum(s.get("released", 0) for s in tracer.spans[mark:]))
            else:
                elapsed = runner.job()
            if elapsed is not None:
                jobs[kind].append(elapsed)
        status.collect()
        iterations += 1
    return {
        "iterations": iterations,
        "rung_s": rung_s,
        "rung_rows": rung_rows,
        "band_join_rows": band_rows,
        "jobs": jobs,
        "per_job": per_job,
        "groups": {g: dict(v) for g, v in status.groups.items()},
        "attempted": runner.attempted,
        "failures": runner.failures,
        "get_spark_s": tracer.total("session.get_spark"),
        "planted_recall": getattr(workload, "recalls", []),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", help="where a traced run writes its spans")
    args = ap.parse_args()

    with open(os.path.join(HERE, "settings.json")) as fh:
        settings = json.load(fh)
    run_id = f"{os.path.basename(args.data)}-{os.getpid()}"
    tracer = Tracer(run_id) if args.trace else None
    spark, setup_s = start_spark(settings, tracer)
    result = {"setup_s": setup_s}
    try:
        with open(os.path.join(args.data, "truth.json")) as fh:
            truth = json.load(fh)
        workload = WORKLOADS[args.workload](args.data, truth)
        result["input_bytes"] = truth["input_bytes"]
        if tracer:
            result.update(traced(spark, workload, args.work, args.seconds, tracer))
            tracer.dump(args.spans)
        else:
            result.update(untraced(spark, workload, args.work, args.seconds,
                                   settings["min_jobs"]))
    finally:
        spark.stop()
    with open(args.result, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
