"""Outside-in tracing for the benchmark's traced runs.

Everything here observes the package from the benchmark's side of its
public functions: spans are recorded around calls the benchmark makes
(plus a wrapper the traced run installs on ``operators.widen``), stage
metrics come from Spark's status store keyed by the job group the
benchmark set, and the band-join row count comes from the executed
physical plan. Nothing is imported into, or changed in, the package
outside a traced run.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written out once by ``dump``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "run": self.run_id,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str, since: int = 0) -> float:
        """Summed duration of spans called `name` recorded at or after
        span index `since`."""
        return sum(s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name)

    def count(self, name: str, since: int = 0) -> int:
        return sum(1 for s in self.spans[since:] if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


@contextmanager
def wrapped_widen(tracer: Tracer):
    """Replace ``operators.widen`` with a span-recording wrapper for the
    duration of the block. Package callers import it at call time
    (``from mpi_word_count_spark.operators import widen``), so the
    wrapper sees every call made while it is installed."""
    from mpi_word_count_spark import operators

    original = operators.widen

    def widen(*args, **kwargs):
        with tracer.span("operators.widen"):
            return original(*args, **kwargs)

    operators.widen = widen
    try:
        yield
    finally:
        operators.widen = original


# Stage fields summed per job group: (metric suffix, StageData getter, scale).
_STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("input_bytes", "inputBytes", 1),
    ("output_bytes", "outputBytes", 1),
)


class StatusStore:
    """Per-job-group totals read from ``sc._jsc.sc().statusStore()``
    (works with ``spark.ui.enabled=false``). Call ``collect`` after
    each batch of jobs: it folds in every finished job whose group it
    has not seen yet, so the store's retention limit never drops one."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._seen: set[int] = set()
        self.groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def collect(self) -> None:
        stages = {}
        # stageList(statuses, details, withSummaries, quantiles, taskStatus)
        for sd in _seq(self._store.stageList(None, False, False, self._no_quantiles, None)):
            if sd.status().toString() != "SKIPPED":
                stages.setdefault(sd.stageId(), []).append(sd)
        for job in _seq(self._store.jobsList(None)):
            jid = job.jobId()
            group = job.jobGroup()
            if jid in self._seen or group.isEmpty() or job.status().toString() == "RUNNING":
                continue
            self._seen.add(jid)
            tot = self.groups[group.get()]
            tot["jobs"] += 1
            for stage_id in _seq(job.stageIds()):
                for sd in stages.pop(stage_id, []):
                    tot["stages"] += 1
                    tot["tasks"] += sd.numTasks()
                    tot["failed_tasks"] += sd.numFailedTasks()
                    if sd.outputRecords() > 0:
                        tot["write_tasks"] += sd.numTasks()
                    for name, getter, scale in _STAGE_FIELDS:
                        tot[name] += getattr(sd, getter)() * scale


def _seq(seq) -> list:
    """A Scala Seq or java.util.List reached through py4j, as a list."""
    if hasattr(seq, "apply"):
        return [seq.apply(i) for i in range(seq.size())]
    return list(seq)


def _children(node) -> list:
    """Physical-plan children, looking through AQE wrappers, query
    stages and in-memory (cached) relations to the plan that ran."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    return _seq(node.children())


def band_join_rows(df) -> int | None:
    """Output rows of the LSH band self-join (the join on `band` and
    `key`) inside `df`'s executed plan, or None when no such join with
    a populated row metric can be reached."""
    stack = [df._jdf.queryExecution().executedPlan()]
    best = None
    while stack:
        node = stack.pop()
        if "Join" in node.nodeName():
            text = node.verboseStringWithOperatorId()
            metric = node.metrics().get("numOutputRows")
            if "band" in text and "key" in text and metric.isDefined():
                rows = metric.get().value()
                best = rows if best is None else max(best, rows)
        stack.extend(_children(node))
    return best
