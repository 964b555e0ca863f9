"""refresh_serve: the nightly refresh, then the UI serving its output.

The pass is ``PipelineRun(..., fetch_window=..., full_refresh=True).run()``
(SimpleFIN ingest -> build -> train -> predict -> build) on the
generated warehouse. Its phase methods are timed, and in the traced run
spanned, by wrapping them on the instance, so ``run()`` itself decides
what runs. The refreshed warehouse is then served over HTTP to the load
generator of ``wl_serving`` in its own process; one operation there is
one request.

Refresh and serving share one workload (and one Spark session) because
each needs the same generated warehouse and a built one: a run that
served a warehouse of its own would pay for the data set-up and a
``build()`` again.
"""

from __future__ import annotations

import os
import time
import traceback

import common
import finance_gen as G
import wl_serving
from spans import rollup
from wl_serving import SCALE

# PipelineRun method -> span name; the second and later transform
# calls are the post-predict rebuild.
SPANS = {"ingest": ["sources.ingest"], "transform": ["plans.build_pre", "plans.build_post"],
         "train": ["ml.train"], "predict": ["ml.predict"]}


def instrument(pr, tracer, op_walls: list, tag: str) -> None:
    """Time (and span) every phase method ``run()`` calls on ``pr``."""
    calls = dict.fromkeys(SPANS, 0)

    def wrap(method: str):
        orig = getattr(pr, method)

        def timed():
            names = SPANS[method]
            name = names[min(calls[method], len(names) - 1)]
            calls[method] += 1
            t = time.perf_counter()
            with tracer.span(name, req=tag):
                orig()
            op_walls.append(time.perf_counter() - t)
        return timed

    for method in SPANS:
        setattr(pr, method, wrap(method))


def check(pr, expected: dict) -> list[str]:
    """Correctness of one refresh against the generator's counts."""
    errors = []
    build = pr.results.get("build", {})
    for model, n in expected.items():
        if model != "predicted" and build.get(model) != n:
            errors.append(f"{model}: built {build.get(model)} rows, expected {n}")
    if pr.results.get("train") != "trained":
        errors.append(f"model not trained: {pr.results.get('train')!r}")
    if pr.results.get("predict") != expected["predicted"]:
        errors.append(f"predicted {pr.results.get('predict')!r} rows, expected "
                      f"{expected['predicted']} (uncategorized rows with an amount)")
    return errors


def run(args, work: str, started: float, tracer_factory) -> dict:
    from doin_fine_ance__spark.orchestration import PipelineRun

    spark = common.start_spark(work, args.trace)
    session_s = time.perf_counter() - started
    t = time.perf_counter()
    inputs = G.make_inputs(args.seed, SCALE)
    root = os.path.join(work, "warehouse")
    G.write_inputs(spark, inputs, root)
    data_s = time.perf_counter() - t
    expected = G.expected_counts(inputs, ingested=True)
    setup_s = time.perf_counter() - started  # process start to the refresh

    tracer = tracer_factory(spark)
    phase_walls = []
    pr = PipelineRun(spark, root, fetch_window=inputs.fetch_window,
                     model_dir=os.path.join(root, "models"), full_refresh=True, now=G.NOW)
    instrument(pr, tracer, phase_walls, "refresh")
    t = time.perf_counter()
    try:
        pr.run()
        errors = check(pr, expected)
    except Exception:  # noqa: BLE001 - reported as a failed operation
        errors = [traceback.format_exc()]
    refresh_s = time.perf_counter() - t
    warehouse_mb = common.disk_mb(root)

    served = wl_serving.serve(spark, root, args.seed, args.seconds, tracer) if not errors else \
        {"warm": [], "results": [], "pass_walls": []}
    rss = common.peak_rss_mb([os.getpid(), common.jvm_pid(spark)])
    spans = tracer.collect() if tracer.enabled else []
    common.stop_spark(spark)

    warm, results = served["warm"], served["results"]
    errors += [r["error"] for r in warm + results if r["error"]]
    reads = [r["latency_s"] for r in results if r["kind"] != "write"]
    writes = [r["latency_s"] for r in results if r["kind"] == "write"]

    def pct(xs, q):
        return 1e3 * common.quantile(xs, q) if xs else None

    phases = [n for names in SPANS.values() for n in names]
    return {
        "attempted": 1 + len(warm) + len(results),
        "failed": len(errors),
        "errors": errors,
        "setup_s": setup_s,
        "setup": {"session_s": session_s, "data_s": data_s},
        "peak_rss_mb": rss,
        "pass_walls": [refresh_s],
        "op_walls": [r["latency_s"] for r in results],
        "disk_mb": common.disk_mb(root),
        "spans": spans,
        "trace_overhead_s": tracer.overhead_s,
        # per-layer groups: top-level span names and what they are divided by
        "groups": {"pass": (phases, 1),
                   "op": (["serving.read.route", "serving.write.route"], len(results))},
        "layers": ({**{n: rollup(spans, n) for n in phases},
                    **wl_serving.layer_detail(spans, results)} if spans else {}),
        "detail": {
            "expected_counts": expected, "pipeline_s": refresh_s,
            "phase_walls_s": phase_walls, "warehouse_mb": warehouse_mb,
            "serve_pass_walls_s": served["pass_walls"],
            "requests": len(results), "reads": len(reads), "writes": len(writes),
            "read_p50_ms": pct(reads, 0.5), "read_p95_ms": pct(reads, 0.95),
            "write_p50_ms": pct(writes, 0.5), "write_p80_ms": pct(writes, 0.8),
            "serve_rps": len(results) / sum(served["pass_walls"]) if results else None,
        },
    }
