"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds result records as ``run.py`` writes them
(``perfbench/.build/results/<workload>-<e2e|trace>-seed<N>.json``). For
every workload present on both sides it prints each end-to-end metric's
median and quartiles, the change of the median, and the verdict against the
bound in ``BENCHMARK.json``.

Results are compared only when their run configuration agrees (cores, host,
scale, Spark/Java/Python versions, shuffle partitions, AQE, driver memory,
run length, tracing); otherwise the pair is refused with exit status 2.

Every run counts. A run during which the hypervisor stole more than
``STEAL_FLAG`` of the host's CPU time is listed as contaminated, so that it
can be rerun; it is not dropped.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

import harness

STEAL_FLAG = 0.03


def load(dir_: str) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(dir_, "*-e2e-seed*.json"))):
        with open(path) as f:
            rec = json.load(f)
        out.setdefault(rec["config"]["workload"], []).append(rec)
    return out


def config_mismatch(records: list[dict]) -> dict[str, set]:
    """Comparable keys whose values differ across ``records``."""
    bad = {}
    for key in harness.COMPARABLE_KEYS:
        vals = {json.dumps(r["config"].get(key)) for r in records}
        if len(vals) > 1:
            bad[key] = vals
    return bad


def contaminated(records: list[dict]) -> list[int]:
    """Seeds of the runs whose host steal share exceeds ``STEAL_FLAG``."""
    return [
        r["config"]["seed"] for r in records
        if r["detail"].get("host_steal_share", 0.0) > STEAL_FLAG
    ]


def summary(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    base, new = load(argv[0]), load(argv[1])
    status = 0
    for workload in sorted(set(base) & set(new)):
        bad = config_mismatch(base[workload] + new[workload])
        if bad:
            print(f"{workload}: REFUSED, configurations differ: {bad}")
            status = 2
            continue
        print(f"{workload}: {len(base[workload])} base runs, {len(new[workload])} new runs")
        for side, recs in (("base", base[workload]), ("new", new[workload])):
            seeds = contaminated(recs)
            if seeds:
                print(f"  {side}: host steal over {100 * STEAL_FLAG:.0f}% in seeds {seeds}; rerun them")
        for name, m in spec.items():
            b = [r["metrics"][name] for r in base[workload]]
            n = [r["metrics"][name] for r in new[workload]]
            (bq1, bm, bq3), (nq1, nm, nq3) = summary(b), summary(n)
            worse = (nm - bm) / bm if m["better"] == "lower" else (bm - nm) / bm
            verdict = "REGRESSION" if worse > m["bound"] else "ok"
            if verdict != "ok" and status == 0:
                status = 1
            print(
                f"  {name:16s} base {bm:.4g} [{bq1:.4g}, {bq3:.4g}]  "
                f"new {nm:.4g} [{nq1:.4g}, {nq3:.4g}]  worse by {100 * worse:+.1f}% "
                f"(bound {100 * m['bound']:.0f}%)  {verdict}"
            )
    return status


if __name__ == "__main__":
    sys.exit(main())
