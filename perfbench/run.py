"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload fetch_publish --seed 1 --seconds 10 --trace 0

Builds the workload's inputs from ``--seed``, times a closed loop of ops
(one client, ``local[<cores>]``) sized to take ``--seconds``, checks every
op against an oracle that does not use the engine, and prints one JSON
object as the last line of stdout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` wraps the layers' public functions in spans,
alternates traced and untraced ops, and reports the per-layer metrics.
Everything the run writes stays under ``perfbench/.runs``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

#: workload name -> (module, class). Each class also carries
#: ``setup_repeats`` (data set-ups per run; ``setup_s`` takes their median)
#: and ``nominal_op_s`` and ``pass_len`` (ops per pass), which size a run
#: from ``--seconds``.
WORKLOADS = {
    "fetch_publish": ("perfbench.fetch_publish", "FetchPublish"),
    "query_surface": ("perfbench.query_surface", "QuerySurface"),
    "dashboard": ("perfbench.dashboard", "Dashboard"),
}


def run(args) -> dict:
    import importlib

    from perfbench import harness
    from perfbench.tracing import Tracer

    import meteo_etl_spark  # noqa: F401 — fail fast outside a checkout

    scratch = harness.Scratch(os.path.join(HERE, ".runs"))
    spark = procs = wl = None
    try:
        spark = harness.start_spark(scratch)
        session_start_s = time.perf_counter() - T_PROCESS
        procs = harness.ProcTree()
        tracer = Tracer()
        module, name = WORKLOADS[args.workload]
        cls = getattr(importlib.import_module(module), name)
        extra = {"repeat": 2} if args.trace and args.workload == "query_surface" else {}
        wl = cls(spark, scratch, args.seed, tracer, **extra)
        setups = []
        for _ in range(wl.setup_repeats):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        loop = harness.Loop(spark, procs)
        t0 = time.perf_counter()
        for _kind, op, check in wl.warmup():
            loop.run_op("warmup", op, check)
        warmup_s = time.perf_counter() - t0
        setup_s = session_start_s + statistics.median(setups) + warmup_s

        # Fixed work per run: --seconds over the workload's nominal op time
        # (measured on 4 cores at this commit), to the nearest whole pass.
        # Every run then times the same ops, however fast they turn out.
        passes = max(1, round(args.seconds / (wl.nominal_op_s * wl.pass_len)))
        wl.reset_layer_counts()
        steal0 = harness.cpu_steal_share()
        gc0 = harness.gc_s(spark)
        for i in range(passes * wl.pass_len):
            kind, op, check = wl.next_op()
            traced = bool(args.trace) and (i // 2 + i + args.seed) % 2 == 0
            if traced:
                tracer.install()
            try:
                rec = loop.run_op(kind, op, check, traced=traced, tracer=tracer)
            finally:
                if traced:
                    tracer.uninstall()
            if not rec.ok:
                print(f"FAILED op {rec.op_id} {kind}: {rec.error}", file=sys.stderr)
        steal1 = harness.cpu_steal_share()
        gc1 = harness.gc_s(spark)
        rss = procs.peak_rss_by_pid()
        heap_mb = harness.retained_heap_mb(spark)
        time.sleep(0.5)  # let the listener bus deliver the last job events
        facts = {
            "session_start_s": session_start_s,
            "setups": setups,
            "warmup_s": warmup_s,
            "setup_s": setup_s,
            "peak_rss_mb": sum(rss.values()),
            "jvm_rss_mb": rss.get(procs.jvm, 0.0),
            "workers": len(rss) - 1,
            "heap_mb": heap_mb,
            # the JVM heap the program still holds, plus its Python workers
            "retained_mb": heap_mb + sum(rss.values()) - rss.get(procs.jvm, 0.0),
            "gc_s": gc1 - gc0,
            "steal": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        }
        return _report(args, wl, loop, tracer, facts)
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            harness.stop_spark(spark, procs)
        scratch.close()


def _report(args, wl, loop, tracer, kw: dict) -> dict:
    from perfbench import harness

    all_recs = loop.records
    recs = [r for r in all_recs if r.kind != "warmup"]
    plain = [r for r in recs if not r.traced]
    traced = [r for r in recs if r.traced]
    walls = [r.wall_s for r in plain]
    ok = sum(r.ok for r in plain)
    tail_s, tail_pct = harness.tail(walls)
    failed = sum(not r.ok for r in all_recs)
    lines = [
        f"workload={args.workload} seed={args.seed} trace={args.trace} cores={harness.cores()}",
        f"set-up: session {kw['session_start_s']:.3f} s, data "
        + ", ".join(f"{s:.3f}" for s in kw["setups"])
        + f" s, warm-up {kw['warmup_s']:.3f} s",
        f"timed ops: {len(plain)} untraced, {len(traced)} traced; "
        f"op_tail_s is p{tail_pct:.1f} of {len(walls)} samples",
        f"machine CPU stolen by the hypervisor while timing: {100 * kw['steal']:.1f}%",
        f"memory: peak RSS {kw['peak_rss_mb']:.1f} MB = JVM {kw['jvm_rss_mb']:.1f} MB + "
        f"{kw['workers']} Python processes; JVM heap after a full GC {kw['heap_mb']:.1f} MB; "
        f"GC while timing {kw['gc_s']:.3f} s",
    ]
    lines.append("op walls: " + " ".join(f"{r.wall_s:.3f}" for r in recs))
    kinds: dict[str, list[float]] = {}
    for r in plain:
        kinds.setdefault(r.kind, []).append(r.wall_s)
    if len(kinds) > 1:
        for kind, ws in sorted(kinds.items(), key=lambda kv: -statistics.median(kv[1])):
            lines.append(f"op {kind:44s} n={len(ws):3d} p50 {statistics.median(ws):.4f} s")
    for key, vals in getattr(wl, "setup_detail", {}).items():
        lines.append(f"set-up {key}: " + ", ".join(f"{v:.3f}" for v in vals))
    metrics: dict[str, dict] = {}

    def put(name, value, unit):
        metrics[name] = {"value": value, "unit": unit}

    if not args.trace:
        put("setup_s", kw["setup_s"], "s")
        put("ops_per_s", ok / sum(walls), "1/s")
        put("op_p50_s", statistics.median(walls), "s")
        put("op_tail_s", tail_s, "s")
        put("ok_share", ok / len(plain), "ratio")
        put("retained_mb", kw["retained_mb"], "MB")
    else:
        _trace_metrics(args, wl, loop, recs, tracer, kw, put, lines)
    for line in lines:
        print(line)
    return {
        "correct": failed == 0,
        "attempted": len(all_recs),
        "failed": failed,
        "metrics": metrics,
    }


#: inclusive time of these spans, as a share of traced op wall time. A
#: share, not seconds, so a layer idle in one workload reads 0 without
#: being a time; the printed table has the seconds per call.
NAMED_SPANS = (
    "sources.extract",
    "sources.bronze_write",
    "sources.testdata_load",
    "pipeline.run_etl",
    "pipeline.control_insert",
    "pipeline.control_update",
    "pipeline.control_read",
    "operators.merge",
    "streaming.publish",
)
#: count-type layer metrics; a workload that lacks the layer reports 0.
LAYER_COUNTS = {
    "sources.extract_retries": "ratio",
    "pipeline.control_rows_rewritten_per_update": "rows",
    "pipeline.control_bytes_written_per_op": "B",
    "pipeline.control_files": "count",
}


def _trace_metrics(args, wl, loop, recs, tracer, kw, put, lines):
    from perfbench import harness
    from perfbench.query_surface import QUERIES
    from perfbench.tracing import LAYERS as layers

    plain = [r for r in recs if not r.traced]
    traced = [r for r in recs if r.traced]
    counts = [loop.jobs.counts(f"op-{r.op_id}") for r in recs]
    put("session.start_s", kw["session_start_s"], "s")
    put("session.peak_rss_mb", kw["peak_rss_mb"], "MB")
    for k, what in enumerate(("jobs", "stages", "tasks")):
        put(f"session.spark_{what}_per_op", sum(c[k] for c in counts) / len(recs), "count")
    cpu, busy = sum(r.cpu_s for r in plain), sum(r.wall_s for r in plain)
    put("session.cpu_s_per_op", cpu / len(plain), "s")
    put("session.cpu_util", cpu / (busy * harness.cores()), "ratio")

    ops = tracer.summary()
    wall = sum(o["wall"] for o in ops.values())
    self_s = {layer: sum(o["layers"].get(layer, 0.0) for o in ops.values()) for layer in layers}
    for layer in layers:
        put(f"{layer}.self_share", self_s[layer] / wall, "ratio")
    unspanned = sum(o["unspanned"] for o in ops.values())
    put("trace.unspanned_share", unspanned / wall, "ratio")
    put("trace.unspanned_s_per_op", unspanned / len(ops), "s")
    p50_plain = statistics.median(r.wall_s for r in plain)
    p50_traced = statistics.median(r.wall_s for r in traced)
    # Consecutive ops form pairs, one traced and one not, and which goes
    # first flips every pair; the mean paired difference cancels the
    # first-run penalty (a query's second run in a pair is faster) and drift.
    pairs = [recs[k : k + 2] for k in range(0, len(recs) - 1, 2)]
    diffs = [
        (a.wall_s - b.wall_s) if a.traced else (b.wall_s - a.wall_s)
        for a, b in pairs
        if a.traced != b.traced
    ]
    put("trace.overhead_s_per_op", statistics.fmean(diffs), "s")
    put("trace.spans_per_op", (len(tracer.spans) - len(ops)) / len(ops), "count")

    calls: dict[str, list[float]] = {}
    for o in ops.values():
        for name, (k, t) in o["calls"].items():
            c = calls.setdefault(name, [0, 0.0])
            c[0] += k
            c[1] += t
    named = [*NAMED_SPANS, *(f"plans.queries.{q}" for q in QUERIES), *getattr(wl, "extra_spans", ())]
    for name in named:
        put(f"{name}_share", calls.get(name, [0, 0.0])[1] / wall, "ratio")
    layer_counts = {k: (0.0, unit) for k, unit in LAYER_COUNTS.items()}
    for name, (value, unit) in {**layer_counts, **wl.layer_metrics()}.items():
        put(name, value, unit)

    lines.append(
        f"traced op p50 {p50_traced:.4f} s, untraced {p50_plain:.4f} s; "
        f"paired overhead {statistics.fmean(diffs):+.4f} s over {len(diffs)} pairs"
    )
    lines.append(f"{'span':48s} {'calls/op':>9s} {'s/call':>9s} {'share':>7s}")
    for name, (k, t) in sorted(calls.items(), key=lambda kv: -kv[1][1]):
        lines.append(f"{name:48s} {k / len(ops):9.2f} {t / k:9.4f} {t / wall:7.3f}")
    for layer in layers:
        lines.append(f"self time {layer:38s} {self_s[layer] / len(ops):9.4f} s/op {self_s[layer] / wall:7.3f}")
    lines.append(f"self time {'(un-spanned)':38s} {unspanned / len(ops):9.4f} s/op {unspanned / wall:7.3f}")
    os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
    out = os.path.join(HERE, ".runs", f"trace-{args.workload}-seed{args.seed}.json")
    tracer.dump(out)
    lines.append(f"spans written to {os.path.relpath(out, os.path.dirname(HERE))}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 — any failure: no result line, non-zero exit
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
