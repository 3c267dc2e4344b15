"""The workloads. Each is a closed loop: one client issues its next call
only when the previous one has returned. ``DocStream`` runs only as the
streaming probe of a traced run.

A workload object is driven in five steps: ``prepare`` (generate inputs,
no Spark), ``setup`` (engine-side set-up, repeated by the caller),
``run`` (the measured loop), ``check`` (output checks, outside the timed
region) and ``details`` (workload-specific figures for the result file).
Every check that fails adds to ``failed``; an op that raises counts as
failed too and the loop goes on.
"""

from __future__ import annotations

import datetime as dt
import itertools
import math
import os
import statistics
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

import gen
from chronobase_spark import catalog
from chronobase_spark import queries as registry
from chronobase_spark.db import ChronoSpark
from chronobase_spark.dedup import minhash
from chronobase_spark.streaming import docs as docstream

#: Scale of the sweep's corpus: the per-job fixed cost dominates these
#: queries at any scale, and sf0.01 fits several passes into a run.
SWEEP_SF = 0.01
DOC_TABLES = {"documents", "embeddings"}

#: Fixed sweep set, drawn by a rule from BENCH_FULL.json (per-query
#: seconds at sf0.1): the 108 registry queries that read neither
#: documents nor embeddings and have DuckDB oracle SQL, sorted by that
#: time and cut into 12 equal strata; each stratum gives its middle
#: query. The 12 match the 108 in median (0.317 vs 0.312 s) and quartiles
#: (0.186/0.573 vs 0.193/0.572 s). A full pass over the 108 takes about
#: 40 s at 4 cores, longer than a run may last; the seed permutes the
#: order of each pass.
ANALYTICS = (
    "key_lookup", "part_feature_scalars", "intersect_all_users", "customers_with_orders",
    "user_event_paths", "moving_value_sum", "user_sessions_native", "value_percentiles",
    "cusum_fixed_ref", "downsample_ltob", "large_order_customers", "local_supplier_revenue",
)


class Tables:
    """Records which corpus tables ``catalog.table`` serves, so a sweep
    can check that each query belongs to its class, and times each call
    as a ``catalog`` layer call."""

    def __init__(self, rec):
        self.rec = rec
        self.seen: set[str] = set()
        self._orig = catalog.table

    def __enter__(self):
        def table(spark, sf_dir, name):
            self.seen.add(name)
            with self.rec.layer("catalog.table"):
                return self._orig(spark, sf_dir, name)

        catalog.table = table
        return self

    def __exit__(self, *exc):
        catalog.table = self._orig


def _canon(x):
    """Canonical value for result comparison (the differential harness'
    rules: floats by repr, NULL and NaN alike, timestamps in ISO)."""
    if x is None:
        return "NULL"
    if isinstance(x, (float, np.floating)):
        return "NULL" if math.isnan(x) else repr(float(x))
    if isinstance(x, (np.integer,)):
        return str(int(x))
    if isinstance(x, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(v) for v in x) + "]"
    if hasattr(x, "isoformat"):
        try:
            if x != x:  # NaT
                return "NULL"
        except (TypeError, ValueError):
            pass
        return x.isoformat()
    return str(x)


def same_result(spark_pdf, oracle_pdf) -> bool:
    """Equal column names, and equal rows as multisets."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return False
    cols = sorted(spark_pdf.columns)

    def rows(pdf):
        return sorted(tuple(_canon(v) for v in r) for r in pdf[cols].itertuples(index=False))

    return rows(spark_pdf) == rows(oracle_pdf)


class Workload:
    name = ""

    #: run the output checks before the timed loop instead of after it
    check_first = False

    def __init__(self, ctx):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        #: (ops, seconds) of each cycle or pass of the timed loop
        self.windows: list[tuple[int, float]] = []

    @property
    def spark(self):
        return self.ctx.spark

    @property
    def rec(self):
        return self.ctx.rec

    def warmup(self) -> None:
        """Untimed work between set-up and the timed loop."""

    def query_latencies(self) -> list[float]:
        """The latencies ``query_p50_ms`` is the median of."""
        return [x for xs in self.rec.lat.values() for x in xs]

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)

    def path(self, *parts) -> str:
        return os.path.join(self.ctx.run_dir, *parts)


# ---------------------------------------------------------------------------


class Sweep(Workload):
    """One seeded-order pass after another over a fixed set of registry
    queries, each to a noop sink, the cache cleared between queries."""

    name = "analytics-sweep"
    check_first = True

    def __init__(self, ctx):
        super().__init__(ctx)
        self.names = ANALYTICS

    def prepare(self) -> None:
        self.sf_dir = gen.write_corpus(self.path("corpus"), SWEEP_SF)

    def setup(self) -> None:
        self.reg = registry.queries()
        missing = [n for n in self.names if n not in self.reg]
        if missing:
            raise KeyError(f"sweep queries not registered: {missing}")
        for t in catalog.TABLES:
            catalog.table(self.spark, self.sf_dir, t).schema

    def check(self) -> None:
        """One untimed pass that compares every query with its DuckDB
        oracle; it also warms the session before the timed passes."""
        import duckdb

        oracle = registry.oracle_sql()
        con = duckdb.connect()
        for t in catalog.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        for name in self.order(-1):
            self.attempted += 1
            try:
                with Tables(self.rec) as tables:
                    pdf = self.reg[name](self.spark, self.sf_dir).toPandas()
                if tables.seen & DOC_TABLES or not tables.seen:
                    raise ValueError(f"{name} reads {sorted(tables.seen)}: wrong sweep")
                if not same_result(pdf, con.execute(oracle[name]).df()):
                    self.fail(f"{name}: result differs from the DuckDB oracle")
            except Exception:
                self.fail(f"{name}: {traceback.format_exc(limit=2)}")
            self.spark.catalog.clearCache()
        con.close()

    def order(self, k: int) -> list[str]:
        rng = np.random.default_rng([self.ctx.seed, k + 1])
        return [self.names[i] for i in rng.permutation(len(self.names))]

    def _pass(self, k: int) -> None:
        t0 = time.perf_counter()
        for name in self.order(k):
            self.attempted += 1
            try:
                with self.rec.op(name, name):
                    self.reg[name](self.spark, self.sf_dir).write.format(
                        "noop").mode("overwrite").save()
            except Exception:
                self.fail(f"{name}: {traceback.format_exc(limit=2)}")
            self.spark.catalog.clearCache()
        self.windows.append((len(self.names), time.perf_counter() - t0))

    def warmup(self) -> None:
        """One untimed pass: the checks collect each query to the driver,
        the timed passes write it to a noop sink."""
        self._pass(0)
        self.windows.clear()

    def run(self, seconds: float) -> None:
        start = time.perf_counter()
        for k in itertools.count(1):
            self._pass(k)
            if time.perf_counter() - start >= seconds:
                break

    def details(self) -> dict:
        return {"sweep_s": statistics.median(s for _, s in self.windows),
                "passes": len(self.windows)}


# ---------------------------------------------------------------------------


class TsdbMixed(Workload):
    """Writes, reads and maintenance through the ChronoSpark facade on one
    table with a primary key and a TTL. Each op's answer is logged as it
    returns and checked against the truth model after the loop."""

    name = "tsdb-mixed"
    PRELOAD_ROWS = 24 * 6 * gen.TsdbGen.BATCH  # one TTL window at the write rate

    def prepare(self) -> None:
        self.gen = gen.TsdbGen(self.ctx.seed, self.PRELOAD_ROWS)
        self.truth = gen.TsdbTruth()
        rows = self.gen.preload()
        self.truth.rows.extend(rows)  # insert_df has no TTL gate
        self.preload = self.path("preload.parquet")
        pq.write_table(gen.rows_table(rows), self.preload)
        self._reset_io()
        self.log: list[tuple[gen.Op, object, bool]] = []  # (op, answer, timed)
        self.db = None
        self.reps = 0

    def setup(self) -> None:
        if self.db is not None:
            self.db.close()
        self.data_dir = self.path(f"tsdb{self.reps}")
        self.reps += 1
        self.db = ChronoSpark(self.spark, self.data_dir)
        self.db.create_table("events", ttl_seconds=gen.TSDB_TTL_S, primary_keys=["event_id"])
        with self.rec.layer("db.insert_df"):
            self.db.insert_df("events", self.spark.read.parquet(self.preload))
        self._files = _parquet_files(self.data_dir)

    def _io(self) -> None:
        """Files and bytes the last op wrote (sources.writers output)."""
        if self.rec.trace:
            now = _parquet_files(self.data_dir)
            new = {p: s for p, s in now.items() if p not in self._files}
            self.files_written += len(new)
            self.written_bytes += sum(new.values())
            self._files = now

    def warmup(self) -> None:
        """One untimed cycle, so the timed loop starts on a warm session."""
        for op in self.gen.cycle():
            self.attempted += 1
            self._do(op, timed=False)

    def query_latencies(self) -> list[float]:
        return self.rec.lat["narrow"] + self.rec.lat["wide"]

    def _reset_io(self) -> None:
        self.written_bytes = self.files_written = 0
        self.buffered: list[int] = []

    def run(self, seconds: float) -> None:
        # write amplification and buffer figures cover the timed loop only
        self._reset_io()
        self._files = _parquet_files(self.data_dir)
        start = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            ops = self.gen.cycle()
            for op in ops:
                self.attempted += 1
                try:
                    self._do(op, timed=True)
                except Exception:
                    self.fail(f"{op.kind}: {traceback.format_exc(limit=2)}")
            self.windows.append((len(ops), time.perf_counter() - t0))
            if time.perf_counter() - start >= seconds:
                break

    def _do(self, op: gen.Op, timed: bool) -> None:
        db, rec = self.db, self.rec
        with rec.op(op.kind, op.kind):
            if op.kind == "write":
                with rec.layer("db.insert"):
                    got = db.insert("events", op.rows, now=op.now)
                self.buffered.append(db.get_table("events")["buffered_rows"])
                with rec.layer("db.flush"):
                    db.flush("events")
            elif op.kind in ("narrow", "wide"):
                with rec.layer("db.query"):
                    got = db.query("events", op.start, op.end, limit=op.limit,
                                   ascending=False if op.limit else None).collect()
            elif op.kind == "stats":
                with rec.layer("db.get_stats"):
                    got = db.get_stats("events")["total_disk_rows"]
            elif op.kind == "compact":
                with rec.layer("db.compact"):
                    got = db.compact("events")
            else:
                with rec.layer("db.cleanup"):
                    got = db.cleanup("events", now=op.now)
        self._io()
        self.log.append((op, got, timed))

    def _replay(self) -> None:
        """Apply the logged ops to the truth model in order and compare
        each answer with it."""
        truth = self.truth
        self.inserted_bytes = 0
        for op, got, timed in self.log:
            if op.kind == "write":
                before = len(truth.rows)
                want = truth.insert(op.rows, op.now)
                if timed:
                    self.inserted_bytes += sum(_user_bytes(r) for r in truth.rows[before:])
                if got != want:
                    self.fail(f"insert at {op.now} accepted {got}, expected {want}")
            elif op.kind == "narrow":
                want = truth.query(op.start, op.end)
                if sorted(tuple(r) for r in got) != sorted(
                        tuple(r[c] for c in gen.TsdbTruth.COLS) for r in want):
                    self.fail(f"narrow read {op.start}..{op.end}: {len(got)} rows, "
                              f"want {len(want)}")
            elif op.kind == "wide":
                if [(r["ts"], r["event_id"]) for r in got] != truth.ordered(
                        op.start, op.end, op.limit):
                    self.fail(f"wide read {op.start}..{op.end} differs")
            elif op.kind in ("stats", "compact"):
                if got != len(truth.rows):
                    self.fail(f"{op.kind} at {op.now} counted {got} rows, want {len(truth.rows)}")
            else:
                want = truth.cleanup(op.now)
                if sorted(got) != want:
                    self.fail(f"cleanup at {op.now} dropped {sorted(got)}, want {want}")

    def check(self) -> None:
        """Check every logged answer, then reopen the data directory in a
        fresh facade: every acknowledged write must be there, with TTL
        and primary-key semantics applied."""
        self._replay()
        self.attempted += 1
        self.db.close()
        db = ChronoSpark(self.spark, self.data_dir)
        try:
            self.stats = db.get_stats("events")
            bad = self.stats["total_disk_rows"] != len(self.truth.rows)
            rng = np.random.default_rng([self.ctx.seed, 3])
            lo = min(r["ts"] for r in self.truth.rows)
            hi = max(r["ts"] for r in self.truth.rows)
            for _ in range(4):
                a = lo + (hi - lo) * float(rng.random())
                b = a + dt.timedelta(hours=float(rng.uniform(1, 12)))
                got = sorted(tuple(r) for r in db.query("events", a, b).collect())
                want = sorted(tuple(r[c] for c in gen.TsdbTruth.COLS)
                              for r in self.truth.query(a, b))
                bad |= got != want
            if bad:
                self.fail("reopened data directory differs from the truth model")
        finally:
            db.close()

    def details(self) -> dict:
        lat = self.rec.lat
        parts = {os.path.dirname(p) for p in _parquet_files(self.data_dir)}
        total = sum(sum(xs) for xs in lat.values())
        return {
            "write_p50_ms": 1e3 * statistics.median(lat["write"]),
            "op_time_share": {k: sum(xs) / total for k, xs in lat.items()},
            "bytes_per_user_byte": self.stats["disk_bytes"] / sum(
                _user_bytes(r) for r in self.truth.rows),
            "files_per_partition": self.stats["disk_files"] / max(len(parts), 1),
            "write_amp": self.written_bytes / self.inserted_bytes,
            "files_written": self.files_written,
            "bytes_written": self.written_bytes,
            "buffered_rows": statistics.median(self.buffered) if self.buffered else 0,
        }


def _user_bytes(r: dict) -> int:
    """Bytes of one row as the user hands it over: four 8-byte fields
    and two strings."""
    return 32 + len(r["event_type"]) + len(r["props"])


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        if os.path.basename(d).startswith("."):
            continue
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


# ---------------------------------------------------------------------------


class DocStream(Workload):
    """Document files dropped one at a time into a file-source stream:
    read_document_stream(max_files=1) -> document_intake ->
    minhash_admit_stage against a frozen corpus model; the client waits
    for processAllAvailable after each drop. Set up once: it runs as the
    streaming probe of a traced run, not as a timed workload."""

    name = "doc-stream"
    CORPUS_DOCS = 1_000
    DOCS_PER_FILE = 25
    MAX_FILES = 20

    def prepare(self) -> None:
        g = gen.DocStreamGen(self.ctx.seed, self.CORPUS_DOCS, self.DOCS_PER_FILE)
        self.plan = g.plan(self.MAX_FILES)
        self.corpus = self.path("stream_corpus.parquet")
        pq.write_table(self.plan.corpus, self.corpus)
        os.makedirs(self.path("staged"))
        self.staged = []
        for i, t in enumerate(self.plan.files + [self.plan.flush]):
            p = self.path("staged", f"part-{i:05d}.parquet")
            pq.write_table(t, p)
            self.staged.append(p)
        self.dropped = 0
        self.progress: list[dict] = []
        self.arrivals: list[tuple[float, float]] = []

    def setup(self) -> None:
        self.src, self.sink = self.path("src"), self.path("sink")
        os.makedirs(self.src)
        with self.rec.layer("dedup.minhash_band_model"):
            self.bands, self.shingles = minhash.minhash_band_model(
                self.spark.read.parquet(self.corpus))
            self.bands.count()
            self.shingles.count()
        with self.rec.layer("streaming.start"):
            admitted = docstream.minhash_admit_stage(
                docstream.document_intake(
                    docstream.read_document_stream(self.spark, self.src, max_files=1)),
                self.bands, self.shingles, watermark=None, window="10 minutes")
            self.query = (
                admitted.writeStream.format("parquet")
                .option("path", self.sink)
                .option("checkpointLocation", self.path("ckpt"))
                .outputMode("append")
                .start()
            )
        self.group = str(self.query.runId)

    def _drop(self, i: int) -> None:
        # rename is atomic, so the source never lists a half-written file
        os.rename(self.staged[i], os.path.join(self.src, os.path.basename(self.staged[i])))

    def warmup(self) -> None:
        self.attempted += 1
        self._drop(0)
        self.query.processAllAvailable()
        self.dropped = 1

    def run(self, seconds: float) -> None:
        start = time.perf_counter()
        for i in range(self.dropped, len(self.plan.files)):
            self.attempted += 1
            t0 = time.time()
            try:
                with self.rec.op("arrival", f"arrival {i}", job_group=self.group):
                    self._drop(i)
                    self.query.processAllAvailable()
            except Exception:
                self.fail(f"arrival {i}: {traceback.format_exc(limit=2)}")
            self.dropped = i + 1
            self.arrivals.append((t0, time.time()))
            if self.rec.trace:
                self._take_progress()
            if time.perf_counter() - start >= seconds:
                break

    def _take_progress(self) -> None:
        seen = {p["batchId"] for p in self.progress}
        for p in self.query.recentProgress:
            if p.batchId not in seen:
                self.progress.append({
                    "batchId": p.batchId,
                    "start": _epoch(p.timestamp),
                    "durationMs": dict(p.durationMs),
                    "stateRows": sum(s.numRowsTotal for s in p.stateOperators),
                    "stateBytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                })
        op = self.rec.last_op_span()
        for p in self.progress:
            if op is not None and "traced" not in p:
                p["traced"] = True
                end = p["start"] + p["durationMs"].get("triggerExecution", 0) / 1e3
                self.rec.add_span(op, f"trigger {p['batchId']}", "streaming.trigger",
                                  p["start"], end)

    def check(self) -> None:
        """Drain with a far-future row, then compare every verdict with
        the batch twin: minhash_md5_pairs over corpus + admitted arrivals,
        restricted to (arrival, corpus) pairs."""
        self.attempted += 1
        ids = [set(t.column("doc_id").to_pylist()) for t in self.plan.files[: self.dropped]]
        expect_ids = set().union(*ids) & self.plan.survivors
        self._drop(len(self.plan.files))  # the flush file
        got = {}
        deadline = time.time() + 60
        while time.time() < deadline:
            self.query.processAllAvailable()
            if os.path.isdir(self.sink):
                got = {r["doc_id"]: (r["dup_of_corpus"], r["canonical_id"])
                       for r in self.spark.read.parquet(self.sink).collect()}
            if len(got) >= len(expect_ids):
                break
            time.sleep(0.2)
        self.query.stop()
        self.bands.unpersist()
        self.shingles.unpersist()
        if set(got) != expect_ids:
            self.fail(f"verdicts for {len(got)} arrivals, expected {len(expect_ids)}")
            return
        texts = {}
        for t in self.plan.files[: self.dropped]:
            texts.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        admitted = self.spark.createDataFrame(
            [(d, texts[d]) for d in sorted(expect_ids)], "doc_id long, text string")
        corpus = self.spark.read.parquet(self.corpus).select("doc_id", "text")
        corpus_ids = set(self.plan.corpus.column("doc_id").to_pylist())
        partners: dict[int, set[int]] = {d: set() for d in expect_ids}
        for r in minhash.minhash_md5_pairs(corpus.unionByName(admitted)).collect():
            a, b = r["doc_a"], r["doc_b"]
            if a in expect_ids and b in corpus_ids:
                partners[a].add(b)
            if b in expect_ids and a in corpus_ids:
                partners[b].add(a)
        wrong = [d for d in expect_ids if got[d] != (
            (True, min(partners[d])) if partners[d] else (False, None))]
        for d in wrong[:5]:
            self.fail(f"doc {d}: verdict {got[d]}, batch twin partners {sorted(partners[d])[:3]}")
        self.failed += max(0, len(wrong) - 5)
        self.n_admitted = len(expect_ids)

    def stream_metrics(self) -> dict:
        """streaming.* per-layer metrics from the progress events of the
        triggers that ran inside arrival intervals."""
        mine = [p for p in self.progress
                if any(a <= p["start"] <= b for a, b in self.arrivals)]
        if not mine:
            return {}

        def med(key):
            return statistics.median(p["durationMs"].get(key, 0) for p in mine)

        trig = sum(p["durationMs"].get("triggerExecution", 0) for p in mine) / 1e3
        wall = sum(self.rec.lat["arrival"])
        return {
            "streaming.triggers_per_arrival": len(mine) / len(self.arrivals),
            "streaming.trigger_ms": med("triggerExecution"),
            "streaming.add_batch_ms": med("addBatch"),
            "streaming.query_planning_ms": med("queryPlanning"),
            "streaming.wal_commit_ms": med("walCommit"),
            "streaming.commit_offsets_ms": med("commitOffsets"),
            "streaming.poll_gap_ms": 1e3 * (wall - trig) / len(self.arrivals),
            "streaming.state_rows": max(p["stateRows"] for p in mine),
            "streaming.state_memory_bytes": max(p["stateBytes"] for p in mine),
            "streaming.admitted_ratio": self.n_admitted / (self.dropped * self.DOCS_PER_FILE),
        }


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


WORKLOADS = {"analytics-sweep": Sweep, "tsdb-mixed": TsdbMixed}
