#!/usr/bin/env python
"""Headline benchmark — driver contract.

Runs the bench-flagged queries from the declared surface at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing methodology: each query is materialized with a count-style
collect (``df.collect()`` for bounded results — every headline query
returns a small/top-k result set, so collect is cheap and measures
the full plan). One warmup query is run first so JVM/codegen startup
is not attributed to q1; each query then runs TWICE and reports the
minimum — the second pass reuses compiled codegen, so the min reflects
steady-state plan cost rather than one-time Janino compilation or host
noise (measured ±30% wall variance on shared hosts).
"""

from __future__ import annotations

import argparse
import json
import os
import time

from meteo_etl_spark.plans import queries as _q
from meteo_etl_spark.session import get_spark


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--names",
        nargs="*",
        help="restrict the roster to these query names (targeted re-reads; "
        "registered non-roster names are accepted — side-effecting ones "
        "time scratch I/O, a warning says so; unregistered names fail)",
    )
    cli = ap.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # scale factor from the dir name (sf0.1 -> 0.1); fall back to 0.1
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1

    spark = get_spark("meteo-etl-spark-bench")

    # Roster = the bench-flagged subset of the registry. Side-effecting
    # queries are deliberately NOT flagged (jdbc_roundtrip_agg,
    # jdbc_upsert_agg, q15_atomic_merge): each run writes scratch I/O
    # (an embedded Derby database / an atomic table landing), so their
    # wall time measures disk+DDL churn, not plan cost, and repeated
    # timed runs would measure different states. Their read-side plan
    # shapes are already on the roster via q15_last_write_wins (merge
    # read-back) and the scan/agg queries; the write paths are timed
    # e2e in their pytest suites instead.
    if cli.names:
        allq = _q.all_queries()
        unknown = sorted(set(cli.names) - set(allq))
        if unknown:
            ap.error(
                f"unknown query names: {', '.join(unknown)} — not in the "
                "registry (see plans/queries.all_queries())"
            )
        side_effecting = [n for n in cli.names if not allq[n].bench]
        if side_effecting:
            import sys

            print(
                "warning: non-bench (side-effecting or excluded) names "
                f"requested: {', '.join(side_effecting)} — their walls "
                "measure scratch I/O, not plan cost",
                file=sys.stderr,
            )
        bench_specs = {n: allq[n] for n in cli.names}
    else:
        bench_specs = {n: s for n, s in _q.all_queries().items() if s.bench}

    # Warmup: run the cheapest query once to absorb JVM/codegen startup.
    warm = bench_specs.get("q7_grouped_count") or next(iter(bench_specs.values()))
    warm.fn(spark, sf_dir).collect()

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, spec in bench_specs.items():
        best = float("inf")
        try:
            for _ in range(2):
                # Cache-cold every iteration: queries that cache an
                # intermediate (minhash, corpus_clean) would otherwise get
                # a free second run via CacheManager plan-matching. Codegen
                # stays warm — that's the steady-state being measured.
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).collect()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 4)
        except Exception as exc:  # one broken query must not null the round
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    total = round(sum(timings.values()), 4)
    # The driver tail-captures only the LAST 2000 chars of stdout, so
    # the final line must stay tiny FOREVER, independent of roster
    # growth. r12 embedded certified_runs in the headline; r13 still
    # embedded the 72-entry per-query dict (~3.4 KB) — both rounds
    # landed parsed:null (r13 verdict 'what's wrong' #1). Layout now:
    #   line 1 (optional): {"certified_runs": ...}   noise-floor context
    #   line 2:            {"queries": ..., "errors": ...}  full detail
    #   line 3 (LAST):     compact headline, pinned <= 1500 chars by
    #                      tests/test_contract.py::test_bench_emits_contract_json
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    ev = os.path.join(repo_dir, "bench_evidence", "CERTIFIED_RUNS.json")
    try:
        with open(ev) as f:
            certified = json.load(f)
        print(json.dumps({"certified_runs": certified}))
    except (OSError, ValueError):
        pass
    detail: dict = {"queries": timings}
    if errors:
        detail["errors"] = errors
    print(json.dumps(detail))
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "queries_path": "(stdout line above)",
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
