"""Fast self-test of the benchmark (a few minutes).

    python3 perfbench/selftest.py

- Runs every workload on tiny inputs (``--smoke``: batch tables at sf0.001,
  serve_ingest with 20 locations) and asserts that the last line names
  every metric of ``BENCHMARK.json`` with its unit, untraced and traced.
- Corrupts one expected fingerprint and asserts that the next run reports
  the failure in ``failed`` / ``error_rate``.
- Serves a stub service that knows no location over the real HTTP layer and
  asserts that the client-side status gate counts every request expecting
  200 as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import batch
import harness

RUN = os.path.join(harness.BENCH_DIR, "run.py")


def run(workload: str, trace: int, seed: int = 7, seconds: int = 2) -> tuple[dict, dict]:
    """One smoke run; returns (detail line, result line)."""
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--smoke"],
        cwd=harness.ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} rc={proc.returncode}\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_shape(result: dict, wanted: list[dict], label: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, label
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, label
    got = result["metrics"]
    names = {m["name"] for m in wanted}
    assert set(got) == names, f"{label}: metrics {sorted(set(got) ^ names)} differ"
    for m in wanted:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{label}: {m['name']} unit {v['unit']}"
        assert isinstance(v["value"], float), f"{label}: {m['name']} not a number"


def check_status_gate() -> None:
    """A service that finds nothing: the gate must flag every 200-expecting
    request, over real HTTP."""
    sys.path.insert(0, harness.ROOT)
    import serve
    from bigdata_weather_system_spark.service import http_app

    lists = ("list_latest", "get_weather_days", "get_recent_history_with_step")

    class Empty:
        def __getattr__(self, name):
            return lambda *a, **k: [] if name in lists else None

    httpd = http_app.serve(Empty(), host="127.0.0.1", port=0)
    try:
        mix = serve.RequestMix(3, serve.location_names(20))
        reqs = [serve.issue(httpd.server_address[1], mix.next()) for _ in range(40)]
    finally:
        httpd.shutdown()
        httpd.server_close()
    wrong = [r for r in reqs if r.expect == 200 and r.route in ("location", "days", "average_day")]
    assert wrong, "request mix produced no lookups"
    assert all(not r.ok for r in wrong), "status gate accepted a wrong status"


def main() -> int:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]] + ["batch_heavy"]

    check_status_gate()
    print("ok  status gate flags wrong statuses", flush=True)

    for w in dict.fromkeys(workloads):
        for trace in (0, 1):
            detail, res = run(w, trace)
            label = f"{w} trace={trace}"
            check_shape(res, spec["per_layer" if trace else "end_to_end"], label)
            assert res["correct"] and res["failed"] == 0, f"{label}: {detail}"
            print(f"ok  {label}: {res['attempted']} operations, all metrics named", flush=True)

    # a corrupted expectation must surface as a failed operation
    path = os.path.join(harness.BUILD_DIR, "data", "sf0.001", "_expected.json")
    with open(path) as f:
        saved = f.read()
    cache = json.loads(saved)
    key = next(
        k for k, v in cache.items()
        if k.split(":")[0] in batch.FLOOR_QUERIES and k.split(":")[0] not in batch.ROWS_ONLY_SQL
    )
    cache[key] = "0:corrupted"
    with open(path, "w") as f:
        json.dump(cache, f)
    try:
        detail, res = run("batch_floor", 0)
    finally:
        with open(path, "w") as f:
            f.write(saved)
    assert res["failed"] >= 1 and not res["correct"], res
    assert detail["error_rate"] > 0, detail["error_rate"]
    print(f"ok  corrupted fingerprint of {key.split(':')[0]} raised error_rate "
          f"to {detail['error_rate']:.3f}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
