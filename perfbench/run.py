"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_floor --seed 1 --seconds 20 --trace 0

Workloads: ``batch_floor``, ``batch_heavy``, ``serve_ingest`` (see README.md).
With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run. The line
before it is a detail record (run configuration, error rate, per-route or
per-query breakdown, correctness gates). Exit status 0 only when a result
was printed.
"""

from __future__ import annotations

import argparse
import glob
import itertools
import json
import os
import sys
import threading
import time

import harness

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p80_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

SERVICE_ROUTES = {
    "list_latest": "list",
    "get_location": "location",
    "get_weather_days": "days",
    "get_weather_average_day": "average_day",
    "get_recent_history_with_step": "recent_with_step",
    "predict_weather": "predict",
}

PER_LAYER = {
    "session.start_s": "s",
    "contract.build_s": "s",
    "contract.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.task_deserialize_s": "s",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "exec.gc_s": "s",
    "exec.peak_mem_mb": "MB",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "spill.disk_bytes": "bytes",
    "python.run_s": "s",
    "python.start_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "collect.s": "s",
    "collect.rows": "count",
    "cache.pinned_rdds": "count",
    "stream.batch_s": "s",
    "stream.add_batch_s": "s",
    "stream.get_batch_s": "s",
    "stream.planning_s": "s",
    "stream.commit_s": "s",
    "stream.rows_per_s": "1/s",
    "stream.batches": "count",
    "stream.freshness_p50_s": "s",
    "stream.freshness_p90_s": "s",
    "sink.files": "count",
    **{f"service.{r}_s": "s" for r in SERVICE_ROUTES.values()},
    "service.jobs_per_req": "count",
    "http.overhead_s": "s",
    "host.steal_s": "s",
    "trace.overhead_pct": "%",
}

WORKLOADS = ("batch_floor", "batch_heavy", "serve_ingest")
SMOKE_SF = 0.001
SMOKE_LOCATIONS = 20


# --------------------------------------------------------------------------
# inputs (built once per checkout, reused by every run)
# --------------------------------------------------------------------------

def ensure_tables(sf: float) -> str:
    import datagen

    out = os.path.join(harness.BUILD_DIR, "data", f"sf{sf}")
    marker = os.path.join(out, "_COMPLETE")
    if not os.path.exists(marker):
        datagen.write_tables(out, sf)
        with open(marker, "w") as f:
            f.write(json.dumps(datagen.row_counts(sf)))
    return out


def ensure_expected(sf_dir: str, names) -> dict:
    """Name → expected fingerprint (DuckDB oracle) or row count (rows-only),
    cached per SQL text so a changed oracle is re-run."""
    import hashlib

    import batch
    import datagen
    import oracle
    from bigdata_weather_system_spark import contract

    path = os.path.join(sf_dir, "_expected.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    sqls = {n: batch.ROWS_ONLY_SQL.get(n) or contract.ORACLES.get(n) for n in names}
    keys = {
        n: f"{n}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        for n, sql in sqls.items() if sql
    }
    todo = {n: sqls[n] for n, k in keys.items() if k not in cache}
    if todo:
        got = oracle.expectations(sf_dir, todo, set(batch.ROWS_ONLY_SQL), datagen.TABLES)
        cache.update({keys[n]: v for n, v in got.items()})
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    return {n: cache[k] for n, k in keys.items()}


# --------------------------------------------------------------------------
# session lifetime
# --------------------------------------------------------------------------

def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — make sure it is gone
            proc.kill()
            proc.wait(timeout=10)
    me = os.getpid()
    deadline = time.time() + 15
    while time.time() < deadline:
        others = [p for p in harness.descendants(me) if p != me]
        if not others:
            return
        time.sleep(0.1)
    for p in harness.descendants(me):
        if p != me:
            try:
                os.kill(p, 9)
            except OSError:
                pass


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

def run_batch(workload: str, seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    import batch
    import layers as tr
    from bigdata_weather_system_spark.sources.tables import load_table
    import datagen

    spec = dict(batch.WORKLOADS[workload])
    if smoke:
        spec["sf"] = SMOKE_SF
    sf_dir = ensure_tables(spec["sf"])
    expected = ensure_expected(sf_dir, spec["queries"])
    log_dir = os.path.join(harness.BUILD_DIR, "eventlog") if trace else None

    with harness.RssSampler() as rss:
        t_setup = time.perf_counter()
        spark = harness.start_spark(f"perfbench-{workload}", log_dir)
        session_s = time.perf_counter() - t_setup
        try:
            config = harness.run_config(spark, workload, seed, spec["sf"])
            for t in datagen.TABLES:
                load_table(spark, sf_dir, t).count()
            tables_s = time.perf_counter() - t_setup - session_s
            runner = batch.BatchRunner(spark, sf_dir, spec["queries"], expected, trace)
            warm = []
            for order in itertools.islice(
                batch.pass_orders(spec["queries"], seed + 1), batch.WARMUP_PASSES
            ):
                warm += runner.run_pass(-1, order)
            setup_s = time.perf_counter() - t_setup
            steal0 = harness.steal_seconds()
            t0 = time.perf_counter()
            calls, pass_s = batch.measure(runner, seed, seconds)
            window = time.perf_counter() - t0
            steal = harness.steal_seconds() - steal0
            app_id = spark.sparkContext.applicationId
        finally:
            stop_spark(spark)

    every = warm + calls
    lat = [c.latency for c in calls]
    metrics = {
        "setup_s": setup_s,
        "latency_p50_s": harness.median(lat),
        "latency_p80_s": harness.quantile(lat, 0.8),
        "ops_per_s": len(lat) / sum(pass_s),
        "peak_rss_mb": rss.peak_mb,
    }
    failures = [c.record() for c in every if not c.ok]
    detail = {
        "config": config,
        "passes": len(pass_s),
        "pass_s": [round(p, 4) for p in pass_s],
        "calls": len(calls),
        "warmup_calls": len(warm),
        "setup_parts_s": {
            "session": round(session_s, 4),
            "tables": round(tables_s, 4),
            "warmup_pass": round(setup_s - session_s - tables_s, 4),
        },
        "failures": failures,
        "per_query_p50_s": {
            q: round(harness.median([c.latency for c in calls if c.name == q]), 4)
            for q in spec["queries"]
        },
        "calls_trace": [c.record() for c in every],
    }
    layers = None
    if trace:
        groups = tr.read_event_log(log_dir, app_id)
        n = max(len(pass_s), 1)
        build = tr.combine(groups, [f"b{c.idx}:build" for c in calls])
        engine = tr.combine(
            groups, [f"b{c.idx}:{p}" for c in calls for p in ("build", "exec")]
        )
        collect_s = 0.0
        for c in calls:
            g = groups.get(f"b{c.idx}:exec")
            end = g.last_job_end_ms / 1e3 if g and g.jobs else c.t_built
            collect_s += max(c.t_done - end, 0.0)
        layers = {
            "session.start_s": session_s,
            "contract.build_s": sum(c.build_s for c in calls) / n,
            "contract.build_jobs": build.jobs / n,
            "catalyst.analysis_ms": sum(c.phases.get("analysis", 0) for c in calls) / n,
            "catalyst.optimization_ms": sum(c.phases.get("optimization", 0) for c in calls) / n,
            "catalyst.planning_ms": sum(c.phases.get("planning", 0) for c in calls) / n,
            **tr.engine_layers(engine, n),
            "collect.s": collect_s / n,
            "collect.rows": sum(c.rows for c in calls) / n,
            "cache.pinned_rdds": sum(c.pinned for c in calls) / n,
            "host.steal_s": steal,
        }
    detail["host_steal_s"] = steal
    detail["window_s"] = round(window, 4)
    detail["host_steal_share"] = harness.steal_share(steal, window)
    return {
        "metrics": metrics,
        "layers": layers,
        "attempted": len(every),
        "failed": len(failures),
        "correct": not failures,
        "detail": detail,
    }


class TimedService:
    """Timing proxy around ``WeatherService``: one job group per call, wall
    time per method (traced run only)."""

    def __init__(self, service, spark):
        self._service = service
        self._sc = spark.sparkContext
        self.calls: list[tuple[str, float, str]] = []  # (method, seconds, group)
        self._ids = itertools.count(1)  # handler threads share it; next() is atomic

    def __getattr__(self, name):
        target = getattr(self._service, name)
        if name not in SERVICE_ROUTES:
            return target

        def timed(*args, **kwargs):
            group = f"r{next(self._ids)}:{name}"
            self._sc.setJobGroup(group, name)
            t = time.perf_counter()
            try:
                return target(*args, **kwargs)
            finally:
                self.calls.append((name, time.perf_counter() - t, group))

        return timed


def _patch_collect(sink: list):
    """Record Catalyst phases of every ``DataFrame.collect`` (traced run)."""
    import batch
    from pyspark.sql.classic.dataframe import DataFrame

    original = DataFrame.collect

    def collect(self):
        rows = original(self)
        try:
            sink.append(batch.query_phases(self))
        except Exception:  # noqa: BLE001 — tracing must not fail a request
            pass
        return rows

    DataFrame.collect = collect
    return lambda: setattr(DataFrame, "collect", original)


def run_serve(seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    import serve
    import layers as tr

    log_dir = os.path.join(harness.BUILD_DIR, "eventlog") if trace else None
    phases: list[dict] = []
    unpatch = _patch_collect(phases) if trace else (lambda: None)
    proxy = None

    def wrap(service):
        nonlocal proxy
        proxy = TimedService(service, spark)
        return proxy

    with harness.RssSampler() as rss:
        t_setup = time.perf_counter()
        spark = harness.start_spark("perfbench-serve_ingest", log_dir)
        session_s = time.perf_counter() - t_setup
        setup = None
        try:
            config = harness.run_config(spark, "serve_ingest", seed, None)
            setup = serve.ServeSetup(
                spark, seed, wrap if trace else None,
                n_locations=SMOKE_LOCATIONS if smoke else serve.N_LOCATIONS,
            )
            setup_s = time.perf_counter() - t_setup
            first_batch = setup.query.lastProgress["batchId"]
            n_phases = len(phases)
            n_warm = len(proxy.calls) if proxy else 0

            stop = threading.Event()
            gen = threading.Thread(
                target=setup.gen.run_schedule, args=(stop, serve.CYCLE_PERIOD_S)
            )
            live_from = setup.gen.cycles
            steal0 = harness.steal_seconds()
            t0 = time.perf_counter()
            gen.start()
            try:
                reqs = serve.run_clients(
                    setup.port, seed, seconds, setup.gen.locations
                )
            finally:
                stop.set()
                gen.join()
            window = time.perf_counter() - t0
            steal = harness.steal_seconds() - steal0
            n_service = len(proxy.calls) if proxy else 0
            window_phases = phases[n_phases:]
            pinned = spark.sparkContext._jsc.getPersistentRDDs().size()

            setup.query.processAllAvailable()
            progress = [p for p in setup.query.recentProgress if p["batchId"] > first_batch]
            gates = serve.gate_checks(setup.port, setup.gen, seed, spark, setup.sink)
            setup.close()
            live = {
                n: t for n, t in setup.gen.created.items()
                if int(n.split("-")[1].split(".")[0]) >= live_from
            }
            fresh = serve.freshness(setup.ckpt, live)
            sink_files = sum(
                1 for f in os.listdir(setup.sink) if f.endswith(".parquet")
            )
            app_id = spark.sparkContext.applicationId
        finally:
            unpatch()
            if setup is not None:
                setup.close()
            stop_spark(spark)
            if setup is not None:
                setup.remove()

    lat = [r.latency for r in reqs]
    reqs_all = setup.warmup + reqs
    failures = [
        {"route": r.route, "path": r.path, "expect": r.expect, "status": r.status,
         "error": r.error}
        for r in reqs_all if not r.ok
    ]
    failed_gates = [g for g in gates if not g[1]]
    metrics = {
        "setup_s": setup_s,
        "latency_p50_s": harness.median(lat),
        "latency_p80_s": harness.quantile(lat, 0.8),
        "ops_per_s": len(reqs) / window,
        "peak_rss_mb": rss.peak_mb,
    }
    by_route = {}
    for r in reqs:
        by_route.setdefault(r.route, []).append(r.latency)
    detail = {
        "config": config,
        "requests": len(reqs),
        "window_s": round(window, 4),
        "files_live": len(live),
        "files_with_freshness": len(fresh),
        "freshness_p50_s": harness.median(fresh) if fresh else None,
        "freshness_p90_s": harness.quantile(fresh, 0.9) if fresh else None,
        "generator_max_late_s": round(setup.gen.late_s, 4),
        "sink_files": sink_files,
        "micro_batches": len(progress),
        "rows_generated": setup.gen.rows,
        "gates": [{"check": c, "ok": ok, "detail": d} for c, ok, d in gates],
        "failures": failures[:50],
        "per_route_p50_s": {k: round(harness.median(v), 4) for k, v in by_route.items()},
        "requests_trace": [
            [round(r.t0 - t0, 3), r.route, round(r.latency, 4), r.status] for r in reqs
        ],
        "host_steal_s": steal,
        "host_steal_share": harness.steal_share(steal, window),
    }
    layers = None
    if trace:
        groups = tr.read_event_log(log_dir, app_id)
        window_calls = proxy.calls[n_warm:n_service]
        n = max(len(window_calls), 1)
        engine = tr.combine(groups, [g for _, _, g in window_calls])
        hitting = [r for r in reqs if r.hits_service]
        service_s = sum(s for _, s, _ in window_calls)
        layers = {
            "session.start_s": session_s,
            "catalyst.analysis_ms": sum(p.get("analysis", 0) for p in window_phases) / n,
            "catalyst.optimization_ms": sum(p.get("optimization", 0) for p in window_phases) / n,
            "catalyst.planning_ms": sum(p.get("planning", 0) for p in window_phases) / n,
            **tr.engine_layers(engine, n),
            "cache.pinned_rdds": pinned,
            **tr.stream_layers(progress),
            "stream.freshness_p50_s": harness.median(fresh) if fresh else 0.0,
            "stream.freshness_p90_s": harness.quantile(fresh, 0.9) if fresh else 0.0,
            "sink.files": sink_files,
            **{
                f"service.{route}_s": harness.median(
                    [s for m, s, _ in window_calls if m == method]
                )
                for method, route in SERVICE_ROUTES.items()
            },
            "service.jobs_per_req": engine.jobs / n,
            "http.overhead_s": max(sum(r.latency for r in hitting) - service_s, 0.0)
            / max(len(hitting), 1),
            "host.steal_s": steal,
        }
    return {
        "metrics": metrics,
        "layers": layers,
        "attempted": len(reqs_all) + len(gates),
        "failed": len(failures) + len(failed_gates),
        "correct": not failures and not failed_gates,
        "detail": detail,
    }


# --------------------------------------------------------------------------
# entry point
# --------------------------------------------------------------------------

def _results_path(workload: str, trace: bool, seed: int) -> str:
    d = os.path.join(harness.BUILD_DIR, "results")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{workload}-{'trace' if trace else 'e2e'}-seed{seed}.json")


def _trace_overhead(config: dict, latency_p50: float) -> float:
    """Traced latency p50 against the median of the untraced runs of the
    same workload, configuration and package sources in this checkout, in
    percent (0 when there are none)."""
    d = os.path.join(harness.BUILD_DIR, "results")
    base = []
    for path in glob.glob(os.path.join(d, f"{config['workload']}-e2e-seed*.json")):
        with open(path) as f:
            prev = json.load(f)
        if all(
            prev["config"].get(k) == config.get(k)
            for k in (*harness.COMPARABLE_KEYS, "source_sha") if k != "trace"
        ):
            base.append(prev["metrics"]["latency_p50_s"])
    if not base:
        return 0.0
    ref = harness.median(base)
    return 100.0 * (latency_p50 - ref) / ref if ref else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke", action="store_true",
        help=f"tiny inputs for the self-test (sf{SMOKE_SF}, {SMOKE_LOCATIONS} locations)",
    )
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    try:
        harness.check_program()
    except harness.BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    sys.path.insert(0, harness.ROOT)
    harness.prepare_environment()
    trace = bool(args.trace)

    if args.workload == "serve_ingest":
        res = run_serve(args.seed, args.seconds, trace, args.smoke)
    else:
        res = run_batch(args.workload, args.seed, args.seconds, trace, args.smoke)

    res["detail"]["config"].update(
        {"seconds": args.seconds, "trace": args.trace, "smoke": args.smoke}
    )
    if trace:
        res["layers"]["trace.overhead_pct"] = _trace_overhead(
            res["detail"]["config"], res["metrics"]["latency_p50_s"]
        )
    error_rate = res["failed"] / max(res["attempted"], 1)
    record = {
        "config": res["detail"]["config"],
        "metrics": res["metrics"],
        "layers": res["layers"],
        "error_rate": error_rate,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "detail": {k: v for k, v in res["detail"].items() if k != "config"},
    }
    with open(_results_path(args.workload, trace, args.seed), "w") as f:
        json.dump(record, f, indent=1, default=str)

    names = PER_LAYER if trace else END_TO_END
    values = res["layers"] if trace else res["metrics"]
    out = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {
            n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()
        },
    }
    summary = {
        "workload": args.workload,
        "error_rate": error_rate,
        "config": record["config"],
        "end_to_end": res["metrics"],
        "detail": {
            k: v for k, v in record["detail"].items()
            if k not in ("calls_trace", "requests_trace")
        },
    }
    print(json.dumps(summary, default=str))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
