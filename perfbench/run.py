"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md):
  refresh_serve      SimpleFIN ingest -> build -> train -> predict -> build,
                     then one HTTP client, 85% reads / 15% override writes
  analytics_queries  the registered query families over generated tables

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end set, with
``--trace 1`` the per-layer set. The full run record (provenance,
every span with its Spark counters, self time per span, tracing
overhead, CPU steal) is written to ``.perfbench_work/records/``.
A failed correctness check makes the run exit 1.
"""

from __future__ import annotations

import time

STARTED = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

import common  # noqa: E402
from spans import COUNTERS, Tracer  # noqa: E402

WORKLOADS = ["refresh_serve", "analytics_queries"]
# per-layer counters, reported per pass and per operation
PER_LAYER = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
             ("exec_run_s", "s"), ("exec_cpu_s", "s"), ("exec_offcpu_s", "s"),
             ("shuffle_mb", "MB")]


def end_to_end(res: dict) -> dict:
    return {
        "setup_s": (res["setup_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "pass_s": (common.median(res["pass_walls"]), "s"),
        "op_ms": (1e3 * sum(res["op_walls"]) / max(1, len(res["op_walls"])), "ms"),
        "disk_mb": (res["disk_mb"], "MB"),
    }


def per_layer(res: dict) -> dict:
    """Spark counters of the top-level spans of each group, per pass and
    per operation."""
    out = {}
    for group, (names, n) in res["groups"].items():
        top = [s for s in res["spans"] if s["parent"] is None and s["name"] in names]
        for counter, unit in PER_LAYER:
            out[f"{group}.{counter}"] = (sum(s[counter] for s in top) / max(1, n), unit)
    out["trace_overhead_s"] = (res["trace_overhead_s"], "s")
    return out


def self_times(spans: list[dict]) -> dict:
    out: dict[str, dict] = {}
    for s in spans:
        agg = out.setdefault(s["name"], {"count": 0, "self_s": 0.0, "wall_s": 0.0})
        agg["count"] += 1
        agg["self_s"] += s["self_s"]
        agg["wall_s"] += s["wall_s"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(common.PACKAGE):
        print(f"perfbench: engine package {common.PACKAGE} not found; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    work = os.path.join(common.WORK_ROOT, f"{args.workload}-{os.getpid()}")
    settings = common.configure_env(work)
    import wl_analytics
    import wl_refresh_serve

    module = {"refresh_serve": wl_refresh_serve,
              "analytics_queries": wl_analytics}[args.workload]
    steal0 = common.steal_s()
    try:
        res = module.run(args, work, STARTED,
                         lambda spark: Tracer(spark, enabled=bool(args.trace)))
    finally:
        common.clean(work)
    steal = common.steal_s() - steal0

    e2e = end_to_end(res)
    layers = per_layer(res) if args.trace else {}
    correct = not res["errors"] and res["failed"] == 0
    record = common.run_record(args, settings, {
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "errors": res["errors"][:50],
        "host_steal_s": steal,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "per_layer": {k: v for k, (v, _) in layers.items()},
        "setup": res["setup"],
        "pass_walls_s": res["pass_walls"],
        "op_walls_s": res["op_walls"],
        "op_p50_ms": 1e3 * common.median(res["op_walls"]) if res["op_walls"] else None,
        "layers": res["layers"],
        "self_time_by_span": self_times(res["spans"]),
        "trace_overhead_s": res["trace_overhead_s"],
        "detail": res["detail"],
        "spans": [{k: s[k] for k in ("id", "name", "start", "end", "parent", "req",
                                     "self_s", *COUNTERS) if k in s} for s in res["spans"]],
    })
    if args.trace:
        record["trace_overhead_e2e"] = common.trace_overhead(record)
    path = common.write_record(record)
    for err in res["errors"][:20]:
        print(f"perfbench: CHECK FAILED: {err}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={res['attempted']} failed={res['failed']} steal={steal:.2f}s "
          f"record={os.path.relpath(path, common.ROOT)}", file=sys.stderr)
    metrics = layers if args.trace else e2e
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
