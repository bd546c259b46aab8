"""Doc-drift guards (round-2 verdict, Next #8): the human-readable counts
in COVERAGE.md must match the live registry, so docs and code cannot
diverge as rounds add queries."""

from __future__ import annotations

import os
import re

from bigdata_weather_system_spark import contract

import pytest

# Driver-window verification tier: this module is part of `-m smoke`
# (contract/parity/freshness/plan gates, target < 5 min) so a complete
# tests_ok artifact exists even when the full suite does not fit the
# driver's execution window.
pytestmark = pytest.mark.smoke


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_coverage_md_registry_counts_match_live_registry():
    with open(os.path.join(REPO, "COVERAGE.md")) as f:
        text = f.read()
    m = re.search(
        r"Registry size: \*\*(\d+) queries, (\d+) with full DuckDB value\s*\n?oracles\*\*",
        text,
    )
    assert m, "COVERAGE.md lost its machine-checked registry-size line"
    n_queries, n_oracles = int(m.group(1)), int(m.group(2))
    assert n_queries == len(contract.QUERIES), (
        f"COVERAGE.md says {n_queries} queries, registry has "
        f"{len(contract.QUERIES)} — update the line"
    )
    assert n_oracles == len(contract.ORACLES), (
        f"COVERAGE.md says {n_oracles} oracles, registry has "
        f"{len(contract.ORACLES)} — update the line"
    )
    m2 = re.search(r"the (\d+) rows-only entries", text)
    assert m2 and int(m2.group(1)) == len(contract.QUERIES) - len(
        contract.ORACLES
    )


def test_every_oracle_belongs_to_a_registered_query():
    dangling = set(contract.ORACLES) - set(contract.QUERIES)
    assert not dangling, f"oracles without queries: {sorted(dangling)}"


def test_bench_queries_are_registered():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    missing = [q for q in bench.BENCH_QUERIES if q not in contract.QUERIES]
    assert not missing, f"bench names unregistered queries: {missing}"


def test_newest_parity_artifact_matches_registry_size():
    """Round-close self-enforcement (VERDICT r5, Next #5): the newest
    committed PARITY_r{N}.json must cover the LIVE registry — adding
    queries without re-running tools/run_parity.py (or the one-command
    tools/round_close.py) fails here instead of leaving the round to
    end without full-check evidence."""
    import glob
    import json

    files = {
        int(m.group(1)): p
        for p in glob.glob(os.path.join(REPO, "PARITY_r*.json"))
        if (m := re.search(r"PARITY_r(\d+)\.json$", p))
    }
    assert files, "no PARITY_r*.json — run tools/round_close.py"
    with open(files[max(files)]) as f:
        summary = json.load(f)["summary"]
    assert summary["n_queries"] == len(contract.QUERIES), (
        f"PARITY_r{max(files)} covers {summary['n_queries']} queries, "
        f"registry has {len(contract.QUERIES)} — stale; run "
        "tools/round_close.py"
    )
    assert summary["n_fail"] == 0


def test_plan_audit_matches_registry_size_and_is_clean():
    """Round-7 self-enforcement (VERDICT r6, What's-wrong #1): the
    committed PLAN_AUDIT.md must have been generated over the LIVE
    registry — round 6 shipped an audit covering 427/432 because five
    late queries were never plan-audited. The artifact's header carries
    both the query count and the flag count; adding a query without
    re-running tools/plan_doctor.py fails here."""
    with open(os.path.join(REPO, "PLAN_AUDIT.md")) as f:
        text = f.read()
    m = re.search(r"over (\d+) queries", text)
    assert m, "PLAN_AUDIT.md lost its machine-checked header"
    assert int(m.group(1)) == len(contract.QUERIES), (
        f"PLAN_AUDIT.md audited {m.group(1)} queries, registry has "
        f"{len(contract.QUERIES)} — stale; run tools/plan_doctor.py"
    )
    m2 = re.search(r"\*\*Result: (\d+) flagged / (\d+) queries\.\*\*", text)
    assert m2, "PLAN_AUDIT.md lost its result line"
    assert int(m2.group(2)) == len(contract.QUERIES)
    assert int(m2.group(1)) == 0, (
        f"PLAN_AUDIT.md records {m2.group(1)} flagged plans — fix or "
        "allowlist with a reason in tools/plan_doctor.py"
    )


def test_committed_close_regressions_are_triaged():
    """Round-7 What's-wrong #1: the close artifact was refreshed after
    its SCALING.md triage was written, and four of its six flags shipped
    untriaged. Gate: every query named in the NEWEST committed
    BENCHFULL_r*.json's ``regressions`` must appear in SCALING.md (the
    ``regressions_retime_required`` split is exempt — those entries are
    self-annotating host-noise suspects)."""
    import glob
    import json

    files = {
        int(m.group(1)): p
        for p in glob.glob(os.path.join(REPO, "BENCHFULL_r*.json"))
        if (m := re.search(r"BENCHFULL_r(\d+)\.json$", p))
    }
    if not files:
        return
    with open(files[max(files)]) as f:
        payload = json.load(f)
    flags = list(payload.get("regressions") or {})
    if not flags:
        return
    with open(os.path.join(REPO, "SCALING.md")) as f:
        scaling = f.read()
    missing = [n for n in flags if n not in scaling]
    assert not missing, (
        f"BENCHFULL_r{max(files)} regressions with no SCALING.md "
        f"adjudication: {missing} — triage before closing (real / "
        "host-noise with isolated re-time / intentional)"
    )


def _source_digest() -> str:
    """Digest of the package source under test (tools/source_digest.py,
    the recipe both artifact generators stamp)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "source_digest", os.path.join(REPO, "tools", "source_digest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.source_digest(REPO)


def test_parity_artifact_not_older_than_source():
    """The newest parity artifact must have been generated from exactly
    this package source: ``summary.source_sha`` (stamped by
    tools/run_parity.py) must equal the digest of the tree under test.
    ``summary.commit`` stays as provenance only."""
    import glob
    import json

    files = {
        int(m.group(1)): p
        for p in glob.glob(os.path.join(REPO, "PARITY_r*.json"))
        if (m := re.search(r"PARITY_r(\d+)\.json$", p))
    }
    assert files
    newest_round = max(files)
    with open(files[newest_round]) as f:
        stamp = json.load(f)["summary"].get("source_sha")
    live = _source_digest()
    assert stamp == live, (
        f"PARITY_r{newest_round} source stamp {stamp} != live package "
        f"digest {live} — stale or unstamped; re-run tools/run_parity.py "
        "(or tools/round_close.py)"
    )


def test_plan_audit_not_older_than_source():
    """Same freshness gate for PLAN_AUDIT.md (stamped 'package source
    sha256 <digest>' by tools/plan_doctor.py)."""
    with open(os.path.join(REPO, "PLAN_AUDIT.md")) as f:
        m = re.search(r"package source sha256 ([0-9a-f]{16})", f.read())
    live = _source_digest()
    assert m and m.group(1) == live, (
        f"PLAN_AUDIT.md source stamp {m.group(1) if m else None} != live "
        f"package digest {live} — stale or unstamped; re-run "
        "tools/plan_doctor.py"
    )
