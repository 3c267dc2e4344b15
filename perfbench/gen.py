"""Seeded input generators for the benchmark.

Everything here is plain NumPy/PyArrow: no Spark, so inputs exist
before the engine starts and the same seed always yields byte-identical
files. Each generator that feeds a stateful workload also returns a
truth model the workload checks the engine's answers against.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The test corpus vocabulary (TESTDATA.md tables): 30 words, two of
# them stopwords of functions.text.STOPWORDS.
VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
STOPWORDS = frozenset(("the", "a", "an", "and", "or", "of", "to", "in", "is", "it"))
CONTENT = [w for w in VOCAB if w not in STOPWORDS]
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("widget", "bolt", "gear", "ring", "rod", "plate", "gizmo", "anvil")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

#: The corpus of the sweeps is fixed; the workload seed only orders it.
CORPUS_SEED = 42


def _write(table: pa.Table, path: str) -> None:
    # One row group per file, like the test corpus: the engine's
    # catalog.spread exists for exactly this unsplittable layout.
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _days(start: str, rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _text(rng: np.random.Generator, n_tokens: int, words=VOCAB) -> str:
    return " ".join(rng.choice(words, n_tokens))


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """``documents``: 10-100 token texts over the corpus vocabulary;
    about one doc in twenty is a near-copy of an earlier one (the
    source text plus one or two ``dup`` tokens), as in the test
    corpus."""
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    langs = rng.choice([x for x, _ in LANGS], n_docs, p=[p for _, p in LANGS])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_corpus(out_dir: str, sf: float, seed: int = CORPUS_SEED) -> str:
    """Write the ten corpus tables (catalog.TABLES) at scale ``sf`` with
    the test corpus' schemas and value domains (TESTDATA.md). Returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": list(REGIONS)}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(n_supp, -999.99, 9999.99),
    }), f"{out_dir}/supplier.parquet")
    keys = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": money(n_ord, 900.0, 500_000.0),
        "o_orderdate": pa.array(_days("1995-01-01", rng, n_ord, 2404), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }), f"{out_dir}/orders.parquet")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_li),
        "l_linestatus": rng.choice(("F", "O"), n_li),
        "l_shipdate": pa.array(_days("1995-01-02", rng, n_li, 2498), pa.timestamp("us")),
    }), f"{out_dir}/lineitem.parquet")
    gaps = rng.exponential(1.0, n_ev)
    ts = np.datetime64("2024-01-01", "us") + (
        np.cumsum(gaps) / gaps.sum() * 30 * 86_400e6
    ).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 10), n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")
    _write(documents_table(rng, n_docs), f"{out_dir}/documents.parquet")
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    # a few near-identical vectors, so near-pair queries return rows
    near = rng.choice(n_emb, n_emb // 50, replace=False)
    vecs[near] = vecs[(near + 1) % n_emb] + 0.01 * rng.standard_normal(
        (len(near), 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }), f"{out_dir}/embeddings.parquet")
    return out_dir


# ---------------------------------------------------------------------------
# tsdb-mixed: an op script through the ChronoSpark facade + its truth model
# ---------------------------------------------------------------------------

# The reference's background tickers (db.go:195-249) and their defaults
# (config.go:84-85,100; BASELINE.md) set the maintenance cadence: a
# flush every 10 minutes, a merge (compact) and a TTL cleanup every hour.
# Its demo table keeps 24 h of data (cmd/dbserver/main.go:57).
FLUSH_EVERY = dt.timedelta(minutes=10)
MAINTAIN_EVERY = dt.timedelta(hours=1)
TSDB_TTL_S = 24 * 3_600
#: two hours before midnight: the warm-up cycle ends at 23:00 and the
#: first timed cycle's cleanup, at midnight, drops the oldest day partition
TSDB_T0 = dt.datetime(2024, 3, 1, 22)
TSDB_USERS = 2_000


@dataclass
class Op:
    kind: str  # write | narrow | wide | stats | compact | cleanup
    now: dt.datetime
    rows: list[dict] = field(default_factory=list)
    start: dt.datetime | None = None
    end: dt.datetime | None = None
    limit: int | None = None


class TsdbGen:
    """Seeded ``events`` traffic: Zipf-skewed user ids, times within the
    last flush interval, a few late rows (some past the TTL, which
    ``insert`` must drop), and re-writes of existing keys (primary key
    ``event_id``, last write wins).

    The clock moves one flush interval per write. The reference defines
    no read rate; this generator's choice is a dashboard that reads the
    newest data once per flush (a narrow read after each write) and,
    with the hourly maintenance, takes one wide newest-first read over
    the TTL window and one ``get_stats``. One *cycle* is one clock hour:
    six (write, narrow read) pairs, then cleanup, compact, wide read and
    get_stats."""

    BATCH = 200  # rows per flush interval
    WIDE_LIMIT = 100

    def __init__(self, seed: int, preload_rows: int):
        self.rng = np.random.default_rng([seed, 1])
        self.now = TSDB_T0
        self.next_id = 0
        self.preload_rows = preload_rows
        self.written: list[dict] = []  # every row ever offered

    def _row(self, ts: dt.datetime, event_id: int | None = None) -> dict:
        rng = self.rng
        if event_id is None:
            event_id, self.next_id = self.next_id, self.next_id + 1
        user = min(int(rng.zipf(1.3)) - 1, TSDB_USERS - 1)
        return {
            "event_id": event_id,
            "ts": ts.replace(microsecond=int(rng.integers(0, 1_000)) * 1_000),
            "user_id": user,
            "event_type": EVENT_TYPES[int(rng.integers(0, 5))],
            "value": float(round(rng.exponential(50.0) + 0.01, 2)),
            "props": f'{{"k": {int(rng.integers(0, 100))}}}',
        }

    def preload(self) -> list[dict]:
        """Rows spread over the TTL window before ``T0``."""
        offs = np.sort(self.rng.uniform(0, TSDB_TTL_S, self.preload_rows))
        rows = [self._row(TSDB_T0 - dt.timedelta(seconds=TSDB_TTL_S - o)) for o in offs]
        self.written.extend(rows)
        return rows

    def _batch(self) -> list[dict]:
        rng, rows = self.rng, []
        flush_s = FLUSH_EVERY.total_seconds()
        for _ in range(self.BATCH):
            if rng.random() < 0.03:  # late: up to two TTLs back
                back = rng.uniform(0, 2 * TSDB_TTL_S)
            else:  # on time: within the last flush interval
                back = rng.uniform(0, flush_s)
            ts = self.now - dt.timedelta(seconds=float(back))
            if rng.random() < 0.02 and self.written:  # re-write of a key
                old = self.written[int(rng.integers(0, len(self.written)))]
                rows.append(self._row(ts, old["event_id"]))
            else:
                rows.append(self._row(ts))
        self.written.extend(rows)
        return rows

    def _narrow(self) -> Op:
        """The last hour's data, seen from a little in the past."""
        end = self.now - dt.timedelta(seconds=float(self.rng.exponential(3_600)))
        return Op("narrow", self.now, start=end - dt.timedelta(hours=1), end=end)

    def _hourly(self) -> list[Op]:
        at = self.now
        wide = Op("wide", at, start=at - dt.timedelta(seconds=TSDB_TTL_S), end=at,
                  limit=self.WIDE_LIMIT)
        return [Op("cleanup", at), Op("compact", at), wide, Op("stats", at)]

    def cycle(self) -> list[Op]:
        ops: list[Op] = []
        for _ in range(MAINTAIN_EVERY // FLUSH_EVERY):
            self.now += FLUSH_EVERY
            ops += [Op("write", self.now, rows=self._batch()), self._narrow()]
        return ops + self._hourly()


class TsdbTruth:
    """What the facade must return: rows accepted at insert (TTL gate
    against the insert clock), minus partitions ``cleanup`` dropped,
    deduplicated on ``event_id`` by latest ``ts`` with the remaining
    columns descending as tie-break (``ChronoSpark._enforce_primary_keys``)."""

    COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")

    def __init__(self):
        self.rows: list[dict] = []

    def insert(self, rows: list[dict], now: dt.datetime) -> int:
        ok = [r for r in rows if (now - r["ts"]).total_seconds() <= TSDB_TTL_S]
        self.rows.extend(ok)
        return len(ok)

    def cleanup(self, now: dt.datetime) -> list[str]:
        """Drop the day partitions older than the TTL cutoff's day;
        returns their dates, as ``cleanup`` reports them."""
        cutoff = (now - dt.timedelta(seconds=TSDB_TTL_S)).date()
        dropped = sorted({r["ts"].date().isoformat() for r in self.rows if r["ts"].date() < cutoff})
        self.rows = [r for r in self.rows if r["ts"].date() >= cutoff]
        return dropped

    @staticmethod
    def _key(r: dict) -> tuple:
        return (r["ts"], r["user_id"], r["event_type"], r["value"], r["props"])

    def query(self, start: dt.datetime, end: dt.datetime) -> list[dict]:
        best: dict[int, dict] = {}
        for r in self.rows:
            if start <= r["ts"] <= end:
                cur = best.get(r["event_id"])
                if cur is None or self._key(r) > self._key(cur):
                    best[r["event_id"]] = r
        return list(best.values())

    def ordered(self, start, end, limit: int) -> list[tuple]:
        rows = sorted(self.query(start, end), key=lambda r: (r["ts"], r["event_id"]))
        return [(r["ts"], r["event_id"]) for r in rows[::-1][:limit]]


def rows_table(rows: list[dict]) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array([r["event_id"] for r in rows], pa.int64()),
            "ts": pa.array([r["ts"] for r in rows], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([r["user_id"] for r in rows], pa.int64()),
            "event_type": pa.array([r["event_type"] for r in rows], pa.string()),
            "value": pa.array([r["value"] for r in rows], pa.float64()),
            "props": pa.array([r["props"] for r in rows], pa.string()),
        }
    )


# ---------------------------------------------------------------------------
# doc-stream: arrival files against a frozen corpus + the expected intake
# ---------------------------------------------------------------------------

STREAM_T0 = dt.datetime(2024, 6, 1)
MIN_TOKENS, MAX_STOP = 25, 0.12  # streaming.docs.document_intake defaults
TEMPLATE_LEN = 40


def _quality_text(rng: np.random.Generator, n: int) -> str:
    """A text that passes the intake quality gate: >= MIN_TOKENS tokens
    and a stopword share of at most one in twelve."""
    words = list(rng.choice(CONTENT, n))
    for i in rng.choice(n, n // 12, replace=False):
        words[i] = "the" if rng.random() < 0.5 else "a"
    return " ".join(words)


def passes_gate(text: str | None) -> bool:
    toks = (text or "").split()
    stop = sum(t in STOPWORDS for t in toks) / max(len(toks), 1)
    return len(toks) >= MIN_TOKENS and round(stop, 6) <= MAX_STOP


@dataclass
class StreamPlan:
    corpus: pa.Table
    files: list[pa.Table]
    flush: pa.Table
    kinds: dict[int, str]  # arrival doc_id -> generator label
    survivors: set[int]  # arrivals that must get an admission verdict


class DocStreamGen:
    """Frozen corpus + seeded arrival files. Arrival kinds: fresh,
    near-duplicate of a corpus doc, exact duplicate (of a corpus doc or
    of an earlier arrival), low quality, and template spam that shares a
    long prefix with template docs planted in the corpus (hot bands).
    Every file's ``ingest_ts`` is later than the previous file's."""

    MIX = (("fresh", 0.45), ("near", 0.2), ("exact", 0.1), ("low", 0.15), ("template", 0.1))

    def __init__(self, seed: int, corpus_docs: int, docs_per_file: int):
        self.rng = np.random.default_rng([seed, 2])
        self.docs_per_file = docs_per_file
        crng = np.random.default_rng(CORPUS_SEED)
        self.template = " ".join(crng.choice(CONTENT, TEMPLATE_LEN))
        base = documents_table(crng, corpus_docs)
        texts = base.column("text").to_pylist()
        for i in range(0, corpus_docs, 50):  # planted template docs
            texts[i] = self.template + " " + _quality_text(crng, 8)
        self.corpus = base.set_column(1, "text", pa.array(texts, pa.string()))
        self.corpus_texts = texts
        self.next_id = 1_000_000
        self.seen: list[str] = []

    def _arrival(self, kind: str) -> str:
        rng = self.rng
        if kind == "near":
            pool = [t for t in self.corpus_texts[:500] if passes_gate(t)]
            src = pool[int(rng.integers(0, len(pool)))].split()
            for i in rng.choice(len(src), max(1, len(src) // 25), replace=False):
                src[i] = str(rng.choice(CONTENT))
            return " ".join(src)
        if kind == "exact":
            pool = self.seen if self.seen and rng.random() < 0.5 else self.corpus_texts
            return pool[int(rng.integers(0, len(pool)))]
        if kind == "low":
            if rng.random() < 0.5:
                return _text(rng, int(rng.integers(3, MIN_TOKENS)))
            return " ".join(rng.choice(["the", "a", "data", "query"], 40))
        if kind == "template":
            return self.template + " " + _quality_text(rng, int(rng.integers(5, 12)))
        return _quality_text(rng, int(rng.integers(MIN_TOKENS, 90)))

    def plan(self, n_files: int) -> StreamPlan:
        rng = self.rng
        names, probs = zip(*self.MIX)
        files, kinds = [], {}
        survivors: set[int] = set()
        fingerprints: set[str] = set()
        for f in range(n_files):
            ids, texts = [], []
            for _ in range(self.docs_per_file):
                kind = str(rng.choice(names, p=probs))
                text = self._arrival(kind)
                doc_id, self.next_id = self.next_id, self.next_id + 1
                ids.append(doc_id)
                texts.append(text)
                kinds[doc_id] = kind
                # content_dedup keeps the first arrival of each normalized
                # text (generated texts are already normalized)
                if passes_gate(text) and text not in fingerprints:
                    fingerprints.add(text)
                    survivors.add(doc_id)
            self.seen.extend(texts)  # exact duplicates repeat earlier files only
            ts = STREAM_T0 + dt.timedelta(seconds=30 * (f + 1))
            files.append(self._file(ids, texts, ts))
        flush_text = " ".join(f"flushtok{i}" for i in range(MIN_TOKENS + 2))
        flush = self._file([999_999_999], [flush_text], STREAM_T0 + dt.timedelta(days=30))
        return StreamPlan(self.corpus, files, flush, kinds, survivors)

    @staticmethod
    def _file(ids: list[int], texts: list[str], ts: dt.datetime) -> pa.Table:
        langs = ["en"] * len(ids)
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(["stream"] * len(ids), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            # a UTC instant: the TimestampType the stream schema declares
            "ingest_ts": pa.array([ts] * len(ids), pa.timestamp("us", tz="UTC")),
        })
