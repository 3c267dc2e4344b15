"""Op latencies, layer-call timings, spans and Spark counters.

Untraced runs record only what the end-to-end metrics need: each op's
latency and each layer call's duration. A traced run also keeps spans
(workload -> op -> layer call, plus the Spark jobs and stages each op
ran, read back from the status store) and sums the status-store
counters of every op right after it finishes. Time spent on that
bookkeeping is accumulated in ``hook_s`` so the run can report its own
overhead.
"""

from __future__ import annotations

import itertools
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

#: status-store field -> (counter name, scale to the reported unit)
STAGE_FIELDS = (
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("inputBytes", "input_bytes", 1),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("jvmGcTime", "gc_s", 1e-3),
    ("numFailedTasks", "failed_tasks", 1),
)


class Recorder:
    def __init__(self, spark, trace: bool, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.cores = cores
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.calls: dict[str, list[float]] = defaultdict(list)
        self.spark_totals: Counter = Counter()
        self.spans: list[dict] = []
        self.hook_s = 0.0
        self._ids = itertools.count()
        self._stack: list[dict] = []
        self._seen_jobs: set[int] = set()
        self._store = self.sc._jsc.sc().statusStore() if trace else None

    def reset(self) -> None:
        """Forget the timings and counters gathered so far (set-up,
        checks and warm-up); spans are kept."""
        self.lat.clear()
        self.calls.clear()
        self.spark_totals.clear()
        self.hook_s = 0.0

    # -- spans ---------------------------------------------------------

    def _open(self, name: str, kind: str) -> dict | None:
        if not self.trace:
            return None
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else None,
            "name": name,
            "kind": kind,
            "start": time.time(),
            "end": None,
        }
        if kind == "op":
            span["op"] = span["id"]
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: dict | None) -> None:
        if span is not None:
            span["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def phase(self, name: str):
        """A top-level span (the workload, set-up, checks)."""
        span = self._open(name, "phase")
        try:
            yield
        finally:
            self._close(span)

    @contextmanager
    def op(self, kind: str, name: str, job_group: str | None = None):
        """One closed-loop operation. Its latency goes to ``lat[kind]``;
        in a traced run the Spark jobs it ran (its own job group, or the
        new jobs of ``job_group`` for work done on another thread, such
        as a streaming query's) are summed into ``spark_totals``."""
        span = self._open(name, "op")
        group = job_group
        if self.trace and job_group is None:
            group = f"op-{span['id']}"
            self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.lat[kind].append(wall)
            self._close(span)
            if self.trace:
                h0 = time.perf_counter()
                self._collect(group, wall, span)
                self.hook_s += time.perf_counter() - h0

    @contextmanager
    def layer(self, name: str):
        """One call into a repo module's public function."""
        span = self._open(name, "layer")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.calls[name].append(time.perf_counter() - t0)
            self._close(span)

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    # -- status store --------------------------------------------------

    def _collect(self, group: str, wall: float, op_span: dict) -> None:
        new = [j for j in self.group_jobs(group) if j not in self._seen_jobs]
        self._seen_jobs.update(new)
        tot = Counter()
        for job_id in new:
            job = self._store.job(job_id)
            tot["jobs"] += 1
            jspan = self._child(op_span, f"job {job_id}", "spark.job", job)
            ids = job.stageIds()
            for i in range(ids.size()):
                stage = self._store.lastStageAttempt(ids.apply(i))
                if stage.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += stage.numCompleteTasks() + stage.numFailedTasks()
                for field, name, scale in STAGE_FIELDS:
                    tot[name] += getattr(stage, field)() * scale
                self._child(jspan, f"stage {ids.apply(i)}", "spark.stage", stage)
        tot["idle_core_s"] = max(0.0, wall - tot["executor_run_s"] / self.cores)
        self.spark_totals.update(tot)

    def _child(self, parent: dict, name: str, kind: str, data) -> dict:
        def ms(opt):
            return opt.get().getTime() / 1e3 if opt.isDefined() else None

        span = {
            "id": next(self._ids),
            "parent": parent["id"],
            "op": parent["op"],
            "name": name,
            "kind": kind,
            "start": ms(data.submissionTime()),
            "end": ms(data.completionTime()),
        }
        self.spans.append(span)
        return span

    def add_span(self, parent_op: dict | None, name: str, kind: str, start: float, end: float) -> None:
        """A span measured elsewhere (a streaming progress event)."""
        if self.trace:
            self.spans.append({
                "id": next(self._ids),
                "parent": parent_op["id"] if parent_op else None,
                "op": parent_op["op"] if parent_op else None,
                "name": name, "kind": kind, "start": start, "end": end,
            })

    def last_op_span(self) -> dict | None:
        ops = [s for s in self.spans if s["kind"] == "op"]
        return ops[-1] if ops else None


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name prefix (the layer): a span's duration
    minus the part of it its children cover, summed per layer."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: Counter = Counter()
    for s in spans:
        if s["start"] is None or s["end"] is None:
            continue
        covered, cur_end = 0.0, s["start"]
        kids = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children[s["id"]]
            if c["start"] is not None and c["end"] is not None
        )
        for a, b in kids:
            a = max(a, cur_end)
            if b > a:
                covered += b - a
                cur_end = b
        layer = s["name"].split(".")[0] if s["kind"] == "layer" else s["kind"]
        out[layer] += max(0.0, (s["end"] - s["start"]) - covered)
    return dict(out)
