"""Measure every oracle-backed registry query once, to choose the
``query_surface`` set by a stated rule (see NOTES.md).

    python3 perfbench/survey_queries.py --seed 1 [--repeats 3]

On the same generated tables and Spark settings as ``query_surface``, each
of the registry's oracle-backed ``q<N>_*``/``tpch_*`` queries (the read-only
ones) runs once to warm up and then ``--repeats`` times, is checked against
its DuckDB oracle, and is classified from its optimized logical plan. The
output is a Markdown table (warm median time, share of a pass, joins by
type, windows, aggregates, class) and the set the rule in ``pick`` takes
from it.
"""

from __future__ import annotations

import argparse
import os
import re
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

#: a join node of the optimized logical plan and its type
_JOIN = re.compile(r"\bJoin (Inner|LeftOuter|RightOuter|FullOuter|LeftSemi|LeftAnti|Cross|ExistenceJoin)")


def plan_shape(df) -> dict[str, int]:
    """Operator counts read from the optimized logical plan."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    joins = _JOIN.findall(text)
    return {
        "joins": len(joins),
        "semi_anti": sum(j in ("LeftSemi", "LeftAnti", "ExistenceJoin") for j in joins),
        "windows": len(re.findall(r"\bWindow \[", text)),
        "aggregates": len(re.findall(r"\bAggregate \[", text)),
    }


def candidates(specs) -> list[str]:
    """The registry's oracle-backed ``q<N>_*``/``tpch_*`` queries that only
    read (``q15_atomic_merge`` writes an atomic table)."""
    return sorted(
        n for n, s in specs.items()
        if re.match(r"(q\d+_|tpch_)", n) and s.oracle and n != "q15_atomic_merge"
    )


def op_class(shape: dict[str, int]) -> str:
    """A query's operator class from its plan shape, first match wins."""
    if shape["windows"]:
        return "window"
    if shape["semi_anti"]:
        return "semi/anti join"
    if shape["joins"] >= 3:
        return "multi-way join"
    if shape["joins"]:
        return "join"
    return "scan/aggregate"


def pick(rows: list[dict]) -> list[str]:
    """The rule: from each operator class, the fastest, the median (lower
    middle) and the slowest query by warm time, so every class and the
    spread of times within it are timed (``survey_queries.py`` measures
    the rows)."""
    out = []
    for cls in sorted({r["class"] for r in rows}):
        ranked = sorted((r for r in rows if r["class"] == cls), key=lambda r: (r["s"], r["name"]))
        for r in (ranked[0], ranked[(len(ranked) - 1) // 2], ranked[-1]):
            if r["name"] not in out:
                out.append(r["name"])
    return out


def main() -> int:
    import duckdb
    import numpy as np

    from perfbench import gen, harness, query_surface

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    scratch = harness.Scratch(os.path.join(HERE, ".runs"))
    spark = None
    try:
        spark = harness.start_spark(scratch)
        from meteo_etl_spark.plans import queries
        from tests.oracle import compare

        sf_dir = scratch.path("sf")
        tables = gen.star_schema(np.random.default_rng(args.seed), query_surface.SF)
        gen.write_star_schema(tables, sf_dir)
        con = duckdb.connect()
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
        specs = queries.all_queries()
        rows = []
        for name in candidates(specs):
            spec = specs[name]
            df = spec.fn(spark, sf_dir)
            compare(query_surface.Collected(df.toPandas()), con.execute(spec.oracle).df(), name=name)
            times = []
            for _ in range(args.repeats):
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).toPandas()
                times.append(time.perf_counter() - t0)
            shape = plan_shape(df)
            rows.append({"name": name, "s": statistics.median(times), **shape,
                         "class": op_class(shape)})
            print(f"{name:36s} {rows[-1]['s']:.3f} s {shape}", file=sys.stderr, flush=True)
        con.close()
    finally:
        if spark is not None:
            harness.stop_spark(spark, None)
        scratch.close()

    total = sum(r["s"] for r in rows)
    picked = set(pick(rows))
    print(f"{len(rows)} queries, one warm pass {total:.2f} s; rule takes {len(picked)} "
          f"({sum(r['s'] for r in rows if r['name'] in picked) / total:.0%} of pass time); "
          f"same set as query_surface.QUERIES: {picked == set(query_surface.QUERIES)}\n")
    print("| query | class | s | share | joins | semi/anti | windows | aggregates | taken |")
    print("|---|---|---|---|---|---|---|---|---|")
    for r in sorted(rows, key=lambda r: (r["class"], -r["s"])):
        print(f"| `{r['name']}` | {r['class']} | {r['s']:.3f} | {r['s'] / total:.3f} | {r['joins']} "
              f"| {r['semi_anti']} | {r['windows']} | {r['aggregates']} | {'x' if r['name'] in picked else ''} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
