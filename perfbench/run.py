"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_zipf --seed 1 --seconds 20 --trace 0

Generates (or reuses) the workload's inputs for --seed under
`.perfbench/data/`, then runs the workload in fresh driver processes
(`worker.py`) with the pinned settings of `settings.json`. Prints one
line per metric, then as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}`.
--trace 0 reports the end-to-end metrics; --trace 1 runs the traced
worker and reports the per-layer metrics. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
WORKER_TIMEOUT_S = 170  # the whole run must end within 180 s
KEEP_INPUTS = 6  # cached (workload, seed, size) input sets kept on disk

END_TO_END = {
    "setup_s": "s",
    "first_job_s": "s",
    "job_s_p50": "s",
    "throughput_mb_s": "MB/s",
    "peak_rss_mb": "MB",
    "heap_live_mb": "MB",
}

# Rung ladders, in execution order; the last entry is the real job.
LADDERS = {
    "corpus_zipf": ["sources", "operators.widen", "tokenizer", "wordcount.agg",
                    "wordcount.sort", "sinks"],
    "near_dup_docs": ["sources", "dedup.signatures", "dedup.lsh_pairs",
                      "dedup.clusters", "queries"],
}
LAYERS = list(dict.fromkeys(LADDERS["corpus_zipf"] + LADDERS["near_dup_docs"]))
STATUS_FIELDS = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_read_bytes": "bytes",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "operators.widen_calls": "count",
    "operators.widen_s": "s",
    "operators.widen_shuffle_write_bytes": "bytes",
    "tokenizer.tokenize_s": "s",
    "tokenizer.tokens": "count",
    "wordcount.build_s": "s",
    "wordcount.agg_s": "s",
    "wordcount.shuffle_write_bytes": "bytes",
    "wordcount.spill_bytes": "bytes",
    "wordcount.distinct_words": "count",
    "wordcount.sort_s": "s",
    "sinks.csv_write_s": "s",
    "sinks.output_bytes": "bytes",
    "sinks.write_tasks": "count",
    "queries.build_s": "s",
    "queries.write_s": "s",
    "dedup.signatures_s": "s",
    "dedup.lsh_pairs_s": "s",
    "dedup.clusters_s": "s",
    "dedup.verified_pairs": "count",
    "dedup.cc_jobs": "count",
    "dedup.pairs_per_candidate": "ratio",
    "dedup.planted_recall": "ratio",
    "operators.release_s": "s",
    "operators.released": "count",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
    **{f"{layer}.{f}": unit for layer in LAYERS for f, unit in STATUS_FIELDS.items()},
}


def _evict_old_inputs(cache: str, keep: str) -> None:
    """Keep the KEEP_INPUTS most recently used input sets."""
    os.utime(keep)
    entries = sorted((os.path.join(cache, e) for e in os.listdir(cache)),
                     key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_INPUTS:]:
        shutil.rmtree(old)


def _wait_group(pgid: int, deadline: float) -> None:
    """Wait until every process of the group has ended; kill the rest
    at the deadline."""
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            os.killpg(pgid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def call_worker(args: list[str], env: dict, cwd: str, deadline: float) -> dict:
    """Run worker.py in its own process group (it and its JVM), wait for
    all of it to end, and return the result it wrote."""
    result = os.path.join(cwd, "result.json")
    log = os.path.join(cwd, "worker.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args, "--result", result],
            env=env, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except BaseException:  # timeout or a signal: stop the worker and its JVM
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            _wait_group(proc.pid, time.monotonic() + 10)
            raise
        _wait_group(proc.pid, time.monotonic() + 10)
    if code != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker exited with {code}:\n{tail}")
    with open(result) as fh:
        data = json.load(fh)
    os.remove(result)
    return data


def end_to_end(r: dict) -> dict:
    jobs = r["job_s"]
    if r["first_job_s"] is None or not jobs:
        raise RuntimeError(f"no job completed: {r['failures'][:3]}")
    return {
        "setup_s": r["setup_s"],
        "first_job_s": r["first_job_s"],
        "job_s_p50": statistics.median(jobs),
        "throughput_mb_s": r["input_bytes"] / 1e6 * len(jobs) / sum(jobs),
        "peak_rss_mb": r["peak_rss_mb"],
        "heap_live_mb": statistics.median(r["heap_live_mb"]),
    }


def per_layer(workload: str, r: dict) -> dict:
    """Per-layer metrics from a traced worker's raw samples. A layer a
    workload does not run reports 0."""
    ladder = LADDERS[workload]
    med = statistics.median
    rung = {k: med(v) for k, v in r["rung_s"].items()}
    rows = {k: med(v) for k, v in r["rung_rows"].items()}
    traced, untraced = med(r["jobs"]["traced"]), med(r["jobs"]["untraced"])
    # the last rung is the untraced real job, so the layer times add up
    # to it and the tracing overhead is counted once, in trace.overhead_s
    rung[ladder[-1]] = untraced
    # status-store totals per layer, averaged over iterations
    groups: dict[str, dict[str, float]] = {}
    for name, tot in r["groups"].items():
        acc = groups.setdefault(name.split("#")[0], {})
        for f, v in tot.items():
            acc[f] = acc.get(f, 0.0) + v / r["iterations"]

    def g(layer: str, field: str) -> float:
        return groups.get(layer, {}).get(field, 0.0)

    def marginal(layer: str, field: str) -> float:
        """The layer's own share: its rung minus the rung before it."""
        if layer not in ladder:
            return 0.0
        i = ladder.index(layer)
        prev = g(ladder[i - 1], field) if i else 0.0
        return g(layer, field) - prev

    def layer_s(layer: str) -> float:
        if layer not in ladder:
            return 0.0
        i = ladder.index(layer)
        return rung[layer] - (rung[ladder[i - 1]] if i else 0.0)

    per_job = {k: med(v) for k, v in r["per_job"].items()}
    band = med(r["band_join_rows"]) if r["band_join_rows"] else 0
    out = {
        "session.get_spark_s": r["get_spark_s"],
        "sources.scan_s": layer_s("sources"),
        "sources.input_bytes": g("sources", "input_bytes"),
        "operators.widen_calls": per_job["operators.widen_calls"],
        "operators.widen_s": per_job["operators.widen_s"],
        "operators.widen_shuffle_write_bytes": marginal("operators.widen", "shuffle_write_bytes"),
        "tokenizer.tokenize_s": layer_s("tokenizer"),
        "tokenizer.tokens": rows.get("tokenizer", 0),
        "wordcount.build_s": per_job["wordcount.build_s"],
        "wordcount.agg_s": layer_s("wordcount.agg"),
        "wordcount.shuffle_write_bytes": marginal("wordcount.agg", "shuffle_write_bytes"),
        "wordcount.spill_bytes": marginal("wordcount.agg", "spill_bytes"),
        "wordcount.distinct_words": rows.get("wordcount.agg", 0),
        "wordcount.sort_s": layer_s("wordcount.sort"),
        "sinks.csv_write_s": layer_s("sinks"),
        "sinks.output_bytes": g("sinks", "output_bytes"),
        "sinks.write_tasks": g("sinks", "write_tasks"),
        "queries.build_s": per_job["queries.build_s"],
        "queries.write_s": per_job["queries.write_s"],
        "dedup.signatures_s": layer_s("dedup.signatures"),
        "dedup.lsh_pairs_s": layer_s("dedup.lsh_pairs"),
        "dedup.clusters_s": layer_s("dedup.clusters"),
        "dedup.verified_pairs": rows.get("dedup.lsh_pairs", 0),
        "dedup.cc_jobs": marginal("dedup.clusters", "jobs"),
        "dedup.pairs_per_candidate": rows.get("dedup.lsh_pairs", 0) / band if band else 0.0,
        "dedup.planted_recall": med(r["planted_recall"]) if r["planted_recall"] else 0.0,
        "operators.release_s": per_job["operators.release_s"],
        "operators.released": per_job["operators.released"],
        "trace.overhead_s": traced - untraced,
        "trace.overhead_share": (traced - untraced) / untraced,
    }
    for layer in LAYERS:
        for f in STATUS_FIELDS:
            out[f"{layer}.{f}"] = marginal(layer, f)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "mpi_word_count_spark", "__init__.py")):
        print(f"error: the mpi_word_count_spark package is not beside {HERE}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + WORKER_TIMEOUT_S
    with open(os.path.join(HERE, "settings.json")) as fh:
        settings = json.load(fh)

    cache = os.path.join(SCRATCH, "data")
    data = gen.prepare(args.workload, args.seed, cache)
    _evict_old_inputs(cache, data)

    run_dir = os.path.join(SCRATCH, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (HERE, ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(settings["cores"]),
        SPARK_GRAFT_DRIVER_MEM=settings["driver_memory"],
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # every JVM (launcher and driver): scratch files in the run's tmp,
        # no /tmp/hsperfdata_* file
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    work = ["--workload", args.workload, "--data", data, "--work", run_dir,
            "--seconds", str(args.seconds)]
    try:
        if args.trace:
            spans = os.path.join(SCRATCH, "traces", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            r = call_worker(work + ["--trace", "1", "--spans", spans], env, run_dir, deadline)
            metrics, units = per_layer(args.workload, r), PER_LAYER
        else:
            r = call_worker(work + ["--trace", "0"], env, run_dir, deadline)
            metrics, units = end_to_end(r), END_TO_END
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = len(r["failures"])
    for name, value in metrics.items():
        print(f"{name:40s} {value:16.6f} {units[name]}")
    print(f"{'error_rate':40s} {failed / r['attempted']:16.6f} ratio"
          f"  ({failed} of {r['attempted']} jobs failed)")
    for reason in r["failures"][:5]:
        print(f"  failed: {reason}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": r["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
