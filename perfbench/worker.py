"""One benchmark run inside a fresh process (started by run.py).

Generates the inputs, starts the Spark session, sets the workload up
SETUP_REPS times (once when traced), runs the checks that belong before the loop, an
untimed warm-up, the timed loop and the remaining checks, and writes the
result as JSON to ``--out``. A traced run also times the standalone
layer builders, runs short ``tsdb-mixed`` (when it is not the workload)
and ``doc-stream`` probes for the db and streaming layers, and writes
its spans next to the result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUP_REPS = 3
HEAP = "2g"
YOUNG = "256m"
PROBE_SECONDS = 3.0


def start_session(run_dir: str, trace: bool):
    from chronobase_spark import get_spark

    # read by get_spark as the -Xmx: the engine's default is sized for a
    # 32-core host; the sweep used nearly all of a 1 GB heap
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # Steadier memory without pre-touching the heap: a heap committed
        # up front (-Xms, so G1 never decides when to grow it; a page
        # still counts only once touched), a fixed young generation (G1
        # would resize it by pause times), and 4 MB regions so that
        # Spark's buffers of 0.5-2 MB are not humongous objects, each
        # placed in fresh regions that then stay resident.
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -Xmn{YOUNG} -XX:G1HeapRegionSize=4m "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # the status store keeps 1,000 jobs by default; a traced run reads
        # back the jobs of every op
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    return get_spark(app_name="chronospark-perfbench", master=f"local[{CORES}]",
                     shuffle_partitions=CORES, extra_conf=conf)


def median_ms(xs) -> float:
    return 1e3 * statistics.median(xs)


def db_metrics(wl) -> dict:
    c, d = wl.rec.calls, wl.details()
    return {
        "db.insert_ms": median_ms(c["db.insert"]),
        "db.flush_ms": median_ms(c["db.flush"]),
        "db.query_ms": median_ms(c["db.query"]),
        "db.compact_s": statistics.median(c["db.compact"]),
        "db.cleanup_ms": median_ms(c["db.cleanup"]),
        "db.stats_ms": median_ms(c["db.get_stats"]),
        "db.buffered_rows": d["buffered_rows"],
        "db.files_per_partition": d["files_per_partition"],
        "db.write_amp": d["write_amp"],
        "sources.files_written": d["files_written"],
        "sources.bytes_written": d["bytes_written"],
    }


def probe(ctx, cls, warm: bool = True):
    """Run a short traced instance of another workload, for the per-layer
    metrics of a layer the main workload does not call."""
    from recorder import Recorder

    sub = SimpleNamespace(**vars(ctx))
    sub.rec = Recorder(ctx.spark, True, CORES)
    sub.run_dir = os.path.join(ctx.run_dir, f"probe-{cls.name}")
    os.makedirs(sub.run_dir)
    wl = cls(sub)
    wl.prepare()
    wl.setup()
    if warm:
        wl.warmup()
    sub.rec.reset()
    wl.run(PROBE_SECONDS)
    wl.check()
    if wl.failed:
        raise RuntimeError(f"{cls.name} probe failed: {wl.problems}")
    return wl


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    import layers
    from recorder import Recorder, self_times
    from workloads import WORKLOADS, DocStream, TsdbMixed

    trace = bool(args.trace)
    ctx = SimpleNamespace(seed=args.seed, run_dir=args.run_dir, spark=None, rec=None)
    wl = WORKLOADS[args.workload](ctx)
    phase_s: dict[str, float] = {}

    @contextmanager
    def phase(name: str):
        t = time.perf_counter()
        with ctx.rec.phase(name) if ctx.rec else nullcontext():
            yield
        phase_s[name] = phase_s.get(name, 0.0) + time.perf_counter() - t

    with phase("prepare"):
        wl.prepare()
    with phase("session"):
        ctx.spark = start_session(args.run_dir, trace)
    ctx.rec = rec = Recorder(ctx.spark, trace, CORES)
    setups = []
    for _ in range(1 if trace else SETUP_REPS):  # setup_s is not traced
        with phase("setup"):
            wl.setup()
        setups.append(phase_s["setup"] - sum(setups))
    with phase("check"):
        if wl.check_first:
            wl.check()
    with phase("warm-up"):
        wl.warmup()
    rec.reset()
    with phase("run"):
        wl.run(args.seconds)
    with phase("check"):
        if not wl.check_first:
            wl.check()

    ops = [x for xs in rec.lat.values() for x in xs]
    out = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "problems": wl.problems,
        "cpus": CORES,
        "pid": os.getpid(),
        "details": wl.details(),
        "setup_reps_s": setups,
        "op_ms": {k: [round(1e3 * x, 1) for x in xs] for k, xs in rec.lat.items()},
    }
    if not trace:
        out["metrics"] = {
            "setup_s": phase_s["session"] + statistics.median(setups),
            "query_p50_ms": median_ms(wl.query_latencies()),
            # the median over cycles or passes: one that a burst of
            # host load slowed does not move it
            "ops_per_s": statistics.median(n / s for n, s in wl.windows),
        }
    else:
        m = {"session.start_s": phase_s["session"], "cpus": CORES,
             "fail_ratio": wl.failed / max(wl.attempted, 1),
             "trace.overhead_ratio": rec.hook_s / sum(ops)}
        m.update({f"spark.{k}": rec.spark_totals[k] for k in (
            "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "idle_core_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
            "gc_s", "failed_tasks")})
        with phase("layers"):
            m.update(layers.measure(ctx.spark, rec, args.run_dir))
        with phase("db probe"):
            # without the warm-up cycle: the traced run must end in time,
            # and the session is warm from the workload
            db_wl = wl if isinstance(wl, TsdbMixed) else probe(ctx, TsdbMixed, warm=False)
            m.update(db_metrics(db_wl))
        with phase("stream probe"):
            st_wl = probe(ctx, DocStream)
            m.update(st_wl.stream_metrics())
        out["metrics"] = m
        probes = {w.name: w.rec.spans for w in (db_wl, st_wl) if w is not wl}
        with open(args.out.replace(".json", ".spans.json"), "w") as fh:
            json.dump({"self_s": self_times(rec.spans), "spans": rec.spans,
                       "probe_spans": probes}, fh)
    out["phase_s"] = phase_s
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    ctx.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
