"""Benchmark entry point: run one workload with one seed in a fresh
process and print its result as the last line of standard output.

    python3 perfbench/run.py --workload tsdb-mixed --seed 1 --seconds 10 --trace 0

The workload runs in a child process (the Python driver, its JVM and
the JVM's Python workers); this parent samples the memory (PSS) of
that whole process tree from /proc, stops every process of the tree
once the child is done, and prints one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics. The full result (and, when traced,
the spans) is kept under ``.perfbench_work/results``. Exit status: 0
when every output checked out, 1 on a wrong output, 2 when the run
could not complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TIMEOUT_S = 170  # with stop_groups' 2 x 4 s, the command ends within 180 s


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, process group) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), int(fields[2]))
    return out


def _pss(pid: int) -> int:
    """Proportional set size in bytes: shared pages are split among the
    processes that map them, so a forked helper that briefly shares the
    JVM's pages is not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree(root: int) -> tuple[int, set[int]]:
    """Memory (PSS) of ``root`` and all its descendants, and the process
    groups they belong to (PySpark's worker daemon starts a group of its
    own)."""
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, groups, todo = 0, set(), [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            total += _pss(pid)
            groups.add(procs[pid][1])
        todo.extend(kids.get(pid, ()))
    return total, groups


def stop_groups(pgids: set[int]) -> None:
    """Stop every process left in these process groups and wait until
    all of them have exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pgid in pgids:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 4
        while time.time() < deadline:
            if not any(g in pgids for _, g in _procs().values()):
                return
            time.sleep(0.1)


def _terminate(signum, frame):
    raise SystemExit(2)  # runs the finally below, which stops the child


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    if not os.path.isdir(os.path.join(ROOT, "chronobase_spark")):
        print(f"no chronobase_spark package under {ROOT}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(WORK, f"run-{tag}-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    env = dict(
        os.environ,
        TZ="UTC",
        TMPDIR=os.path.join(run_dir, "tmp"),
        # no JVM (the launcher's included) keeps a perf-data file in /tmp
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        PYTHONHASHSEED="0",
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--run-dir", run_dir, "--out", out]
    log = os.path.join(results, f"{tag}.log")
    peak, groups = 0, set()
    with open(log, "w") as logfh:
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=logfh,
                                 stderr=subprocess.STDOUT, start_new_session=True)
        groups.add(child.pid)
        deadline = time.time() + TIMEOUT_S
        try:
            while child.poll() is None and time.time() < deadline:
                rss, pgids = tree(child.pid)
                peak = max(peak, rss)
                groups |= pgids
                try:
                    child.wait(timeout=1.0)
                except subprocess.TimeoutExpired:
                    pass
        finally:
            stop_groups(groups)
            child.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
    if child.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.readlines()[-40:]
        print(f"{tag} did not complete (exit {child.returncode}); log {log}:",
              "".join(tail), sep="\n", file=sys.stderr)
        return 2

    with open(out) as fh:
        result = json.load(fh)
    metrics = result["metrics"]
    if not args.trace:
        metrics["peak_rss_mb"] = peak / 2**20
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != set(units):
        print(f"{tag}: metrics {sorted(set(metrics) ^ set(units))} do not match "
              "BENCHMARK.json", file=sys.stderr)
        return 2
    line = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    for p in result["problems"]:
        print(f"check failed: {p}", file=sys.stderr)
    print(json.dumps(line))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
