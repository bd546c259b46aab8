"""Batch workloads: contract query builders called one after another, each
result returned through ``toPandas()``.

Every call is timed from the builder call to the returned pandas frame.
Spark's cache is cleared after each call, as ``bench.py`` does. The result
is checked against its DuckDB oracle fingerprint after the clock stops.
"""

from __future__ import annotations

import random
import time

import harness
from oracle import Fingerprinter

#: batch_floor: queries that finished in under 0.5 s in the repo's sf0.1
#: sweep (BENCHFULL_r10), one or two per family, spread over that set's
#: latency range. Fixed per-call cost dominates each of them.
FLOOR_QUERIES = (
    "topk_events_by_value",
    "doc_train_test_split",
    "dp_noisy_event_counts",
    "welch_ttest_purchase_vs_click",
    "mode_event_type_per_user",
    "lineitem_numeric_corr",
    "media_mpa_decode",
    "q1_pricing_summary",
    "doc_compression_ratio",
    "hourly_profile",
)

#: batch_heavy: one query per kind of heavy work, where the per-call floor
#: is a small share of the call.
HEAVY_QUERIES = (
    "part_copurchase_pagerank",  # driver-side iterative fold
    "part_related_ppr",  # a shuffle per round
    "part_copurchase_triangles",  # broadcast-heavy plan
    "hard_negative_pairs",  # executor CPU
    "media_png_decode",  # Python-worker boundary
    "build_training_sequences",  # large collect
)

#: Passes run during set-up: the first compiles each query's code, the
#: next ones let the JVM's JIT settle, which takes a few passes. After 3
#: the measured passes still get about 9 % faster over a 20 s window, but
#: each further pass adds 3-4 s to every run's set-up (README.md, Sizing).
WARMUP_PASSES = 3

#: Rows-only queries (no DuckDB oracle): the expected row count instead.
ROWS_ONLY_SQL = {
    "doc_compression_ratio": "SELECT count(*) FROM documents",
}

WORKLOADS = {
    "batch_floor": {"queries": FLOOR_QUERIES, "sf": 0.1},
    "batch_heavy": {"queries": HEAVY_QUERIES, "sf": 0.01},
}


class Call:
    """One timed builder + toPandas call."""

    __slots__ = (
        "name", "idx", "pass_no", "t0", "t_built", "t_done", "rows", "ok",
        "error", "phases", "pinned", "check_s",
    )

    def __init__(self, name: str, idx: int, pass_no: int):
        self.name, self.idx, self.pass_no = name, idx, pass_no
        self.t0 = self.t_built = self.t_done = 0.0
        self.rows = 0
        self.ok = False
        self.error = None
        self.phases: dict[str, float] = {}
        self.pinned = 0
        self.check_s = 0.0  # time spent on the correctness check

    @property
    def latency(self) -> float:
        return self.t_done - self.t0

    @property
    def build_s(self) -> float:
        return self.t_built - self.t0

    def record(self) -> dict:
        return {
            "q": self.name, "idx": self.idx, "pass": self.pass_no,
            "latency_s": round(self.latency, 6), "build_s": round(self.build_s, 6),
            "rows": self.rows, "ok": self.ok, "error": self.error,
            "phases_ms": self.phases, "pinned_rdds": self.pinned,
        }


def query_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) from the QueryExecution tracker."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class BatchRunner:
    def __init__(self, spark, sf_dir: str, queries, expected: dict, trace: bool):
        from bigdata_weather_system_spark import contract

        self.spark = spark
        self.sf_dir = sf_dir
        self.queries = list(queries)
        self.builders = contract.QUERIES
        self.expected = expected
        self.trace = trace
        self.fp = Fingerprinter()
        self._idx = 0

    def call(self, name: str, pass_no: int) -> Call:
        c = Call(name, self._idx, pass_no)
        self._idx += 1
        sc = self.spark.sparkContext
        pdf = df = None
        try:
            if self.trace:
                sc.setJobGroup(f"b{c.idx}:build", name)
            c.t0 = time.time()
            df = self.builders[name](self.spark, self.sf_dir)
            c.t_built = time.time()
            if self.trace:
                sc.setJobGroup(f"b{c.idx}:exec", name)
            pdf = df.toPandas()
            c.t_done = time.time()
        except Exception as exc:  # noqa: BLE001 — a failing query is counted, never dropped
            c.t_done = time.time()
            c.t_built = c.t_built or c.t_done
            c.error = f"{type(exc).__name__}: {str(exc)[:300]}"
        if self.trace:
            if df is not None and pdf is not None:
                c.phases = query_phases(df)
            c.pinned = sc._jsc.getPersistentRDDs().size()
            sc.setJobGroup("idle", "between calls")
        self.spark.catalog.clearCache()
        if pdf is not None:
            c.rows = len(pdf)
            t = time.perf_counter()
            c.ok, c.error = self.check(name, df, pdf)
            c.check_s = time.perf_counter() - t
        return c

    def check(self, name: str, df, pdf) -> tuple[bool, str | None]:
        """Compare one result with its expectation (outside the timing)."""
        want = self.expected.get(name)
        if want is None:
            return False, "no expectation"
        if name in ROWS_ONLY_SQL:
            ok = len(pdf) == want
            return ok, None if ok else f"rows {len(pdf)} != expected {want}"
        if str(want).startswith("error"):
            return False, f"oracle failed: {want}"
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        got = self.fp.of_frame(pdf, types)
        ok = got == want
        return ok, None if ok else f"fingerprint {got} != oracle {want}"

    def run_pass(self, pass_no: int, order) -> list[Call]:
        return [self.call(name, pass_no) for name in order]


def pass_orders(queries, seed: int):
    """Endless per-pass query orders, shuffled by ``seed``."""
    rng = random.Random(seed)
    while True:
        order = list(queries)
        rng.shuffle(order)
        yield order


def measure(runner: BatchRunner, seed: int, seconds: float):
    """Run whole passes until ``seconds`` have elapsed. Returns the calls
    and each pass's wall time, less the time spent checking results."""
    orders = pass_orders(runner.queries, seed)
    calls, pass_s = [], []
    clock = harness.Clock(seconds)
    while not clock.expired():
        t = time.perf_counter()
        done = runner.run_pass(len(pass_s), next(orders))
        pass_s.append(time.perf_counter() - t - sum(c.check_s for c in done))
        calls += done
    return calls, pass_s
