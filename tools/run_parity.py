"""Per-round machine-readable parity artifact (VERDICT r2, Next #2).

Runs EVERY registered contract query — the driver's CORRECTNESS gate
samples ~50 of them — and writes ``PARITY_r{N}.json`` at the repo root
with one row per query in the driver's own shape:

    {"rows_match", "schema_match", "hash_match",
     "spark_rows", "oracle_rows", "err"}

Oracle-backed queries are compared strictly (raw-``repr`` values, columns
sorted by name — the same normalization as tests/test_oracle_parity.py and
the driver's value hash). Rows-only queries (no SQL-expressible oracle)
run and record ``err: "no_oracle"`` plus their row count, mirroring how
the driver reports them.

Usage:
    python tools/run_parity.py [--round N] [--sf-dir DIR]

Defaults: round from $SPARK_GRAFT_ROUND or the largest existing
PARITY_r*.json + 1 (first run: 3); sf-dir from $SPARK_GRAFT_PARITY_SF_DIR
or /root/testdata/sf0.01 (the driver's gate scale).
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import re
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_weather_system_spark import contract  # noqa: E402
from bigdata_weather_system_spark.schemas import TESTDATA_TABLES  # noqa: E402
from bigdata_weather_system_spark.session import get_spark  # noqa: E402
from tools.source_digest import source_digest  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def normalize(rows, cols):
    """Driver-equivalent canon: columns sorted by name, raw repr values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                vals.append("nan" if math.isnan(v) else repr(v))
            elif isinstance(v, (list, tuple)):
                vals.append(repr(list(v)))
            else:
                vals.append(repr(v))
        out.append(tuple(vals))
    out.sort()
    return out


def default_round() -> int:
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env and env.isdigit():
        return int(env)
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "PARITY_r*.json"))
        if (m := re.search(r"PARITY_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, default=default_round())
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get(
            "SPARK_GRAFT_PARITY_SF_DIR", "/root/testdata/sf0.01"
        ),
    )
    args = ap.parse_args()

    spark = get_spark(app_name="bdws-parity")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(args.sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    results: dict[str, dict] = {}
    t_start = time.time()
    for name in sorted(contract.QUERIES):
        row: dict = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sdf = contract.QUERIES[name](spark, args.sf_dir)
            scols = [c.lower() for c in sdf.columns]
            srows = [tuple(r) for r in sdf.collect()]
            row["spark_rows"] = len(srows)
            # per-query operator caches must not accumulate over the
            # 400+-query sweep (lazy-return operators cannot unpersist)
            spark.catalog.clearCache()
        except Exception as e:  # noqa: BLE001
            row["err"] = f"spark:{type(e).__name__}: {e}"[:300]
            results[name] = row
            print(json.dumps({"q": name, "status": "ERR"}), flush=True)
            continue
        oracle = contract.ORACLES.get(name)
        if oracle is None:
            row["err"] = "no_oracle"
            results[name] = row
            print(
                json.dumps(
                    {"q": name, "status": "rows_only", "rows": len(srows)}
                ),
                flush=True,
            )
            continue
        try:
            res = con.execute(oracle)
            dcols = [d[0].lower() for d in res.description]
            drows = res.fetchall()
            row["oracle_rows"] = len(drows)
        except Exception as e:  # noqa: BLE001
            row["err"] = f"oracle:{type(e).__name__}: {e}"[:300]
            results[name] = row
            print(json.dumps({"q": name, "status": "ERR"}), flush=True)
            continue
        row["rows_match"] = len(srows) == len(drows)
        row["schema_match"] = sorted(scols) == sorted(dcols)
        if row["rows_match"] and row["schema_match"]:
            row["hash_match"] = normalize(srows, scols) == normalize(
                drows, dcols
            )
        results[name] = row
        status = "pass" if row["hash_match"] else "FAIL"
        print(json.dumps({"q": name, "status": status}), flush=True)

    n_oracle = sum(1 for r in results.values() if r["err"] != "no_oracle")
    n_pass = sum(1 for r in results.values() if r["hash_match"])
    try:
        import subprocess

        _head = (
            subprocess.run(
                ["git", "-C", REPO, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip()
            or None
        )
    except Exception:
        _head = None
    summary = {
        "round": args.round,
        # generating commit (provenance) and package source digest
        # (freshness, enforced by tests/test_doc_drift.py)
        "commit": _head,
        "source_sha": source_digest(REPO),
        "sf_dir": args.sf_dir,
        "n_queries": len(results),
        "n_oracle_checked": n_oracle,
        "n_hash_pass": n_pass,
        "n_rows_only": sum(
            1 for r in results.values() if r["err"] == "no_oracle"
        ),
        "n_fail": n_oracle - n_pass,
        "wall_sec": round(time.time() - t_start, 1),
    }
    out_path = os.path.join(REPO, f"PARITY_r{args.round}.json")
    with open(out_path, "w") as f:
        json.dump({"summary": summary, "queries": results}, f, indent=1)
    print(json.dumps(summary), flush=True)
    spark.stop()
    return 0 if summary["n_fail"] == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
