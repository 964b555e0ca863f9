"""analytics_queries: registered queries over generated tables, noop sink.

Before timing, every query runs once, untimed, and is checked against
its DuckDB oracle with the repository's own canonicalization
(``tests/oracle.py``); that warm-up also compiles the code paths and
fills the file-listing caches the timed passes then find warm, as an
analyst re-running queries does. Timed passes run every query, in an order
chosen by the seed, until the time is up.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import common
import tpch_gen
from spans import rollup

# This benchmark's own copy of the query list, picked from measured
# per-query cost: every bench.py headline query (less the four codec
# rows) was timed at this benchmark's scale (min of 3 runs after an
# oracle-checked warm-up, 4 CPUs); each family contributes the query at
# its median cost, and the join, anti-join and pagination shapes that no
# median pick covers are added. A pass costs about 5 s, an eighth of the
# full headline pass (38 s). (family, query) — the family names the span.
QUERIES = [
    # family medians (family size, median wall at sf 0.002)
    ("tpch", "q13_customer_order_distribution"),  # 16, 0.41 s
    ("finance", "f15_json_extraction"),  # 18, 0.21 s
    ("dedup", "d_span_scrub"),  # 14, 0.79 s
    ("text", "t_winnowing_fingerprints"),  # 14, 0.38 s
    ("stream_graph", "st_interval_join"),  # 4, 0.28 s
    ("media", "mm_audio_features"),  # 3, 0.73 s
    # shapes: multi-way joins, mapping join, anti-join, pagination
    ("tpch", "q3_top_unshipped_orders"),  # 3-way join + top-k, 0.72 s
    ("tpch", "q5_region_revenue_rollup"),  # 6-way join, 0.61 s
    ("finance", "j1_mapping_join_disjunctive"),  # 0.33 s
    ("finance", "p3_uncategorized_anti_join"),  # 0.27 s
    ("finance", "o1_pagination_offset"),  # operators.pagination, 0.14 s
]
FAMILIES = sorted({f for f, _ in QUERIES})
SF = 0.002


def query_order(seed: int) -> list[tuple[str, str]]:
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    return order


def run(args, work: str, started: float, tracer_factory) -> dict:
    sys.path.insert(0, os.path.join(common.ROOT, "tests"))
    from oracle import compare_query

    from doin_fine_ance__spark.queries import load_registry

    registry, oracles = load_registry()
    spark = common.start_spark(work, args.trace)
    session_s = time.perf_counter() - started
    data = os.path.join(work, "tables")
    t = time.perf_counter()
    tpch_gen.write_tables(args.seed, SF, data)
    data_s = time.perf_counter() - t
    order = query_order(args.seed)

    def check(name: str) -> str | None:
        try:
            ok, detail = compare_query(spark, name, data, registry, oracles)
        except Exception:  # noqa: BLE001 - reported as a failed check
            ok, detail = False, traceback.format_exc()
        return None if ok else f"{name}: oracle mismatch: {detail}"

    # Untimed warm-up, checked against the oracle; the queries run
    # concurrently (one thread per CPU) because the first run of each is
    # dominated by code generation and class loading.
    t = time.perf_counter()
    with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        errors = [e for e in pool.map(check, [n for _, n in order]) if e]
    attempted, failed = len(order), len(errors)
    warmup_s = time.perf_counter() - t
    setup_s = time.perf_counter() - started  # process start to the first timed query

    tracer = tracer_factory(spark)
    pass_walls, shuffle, op_walls, per_query = [], [], [], {}
    t_measure = time.perf_counter()
    while not pass_walls or time.perf_counter() - t_measure < args.seconds:
        mb = common.shuffle_write_mb(spark)
        t_pass = time.perf_counter()
        for family, name in order:
            attempted += 1
            t = time.perf_counter()
            try:
                with tracer.span(f"queries.{family}", req=name):
                    with tracer.span(f"queries.{family}.plan", req=name):
                        df = registry[name](spark, data)
                    with tracer.span(f"queries.{family}.exec", req=name):
                        df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - reported as a failed operation
                failed += 1
                errors.append(f"{name}: {traceback.format_exc()}")
            wall = time.perf_counter() - t
            op_walls.append(wall)
            per_query.setdefault(name, []).append(wall)
        pass_walls.append(time.perf_counter() - t_pass)
        shuffle.append(common.shuffle_write_mb(spark) - mb)

    fams = [f"queries.{f}" for f in FAMILIES]
    rss = common.peak_rss_mb([os.getpid(), common.jvm_pid(spark)])
    spans = tracer.collect() if tracer.enabled else []
    common.stop_spark(spark)
    layers = {}
    for fam in FAMILIES if spans else []:
        layers[f"queries.{fam}"] = {
            **rollup(spans, f"queries.{fam}"),
            "plan_s": rollup(spans, f"queries.{fam}.plan")["wall_s"],
            "exec_s": rollup(spans, f"queries.{fam}.exec")["wall_s"],
        }
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "setup_s": setup_s,
        "setup": {"session_s": session_s, "data_s": data_s, "warmup_s": warmup_s},
        "peak_rss_mb": rss,
        "pass_walls": pass_walls,
        "op_walls": op_walls,
        "disk_mb": common.median(shuffle),
        "spans": spans,
        "trace_overhead_s": tracer.overhead_s,
        # per-layer groups: top-level span names and what they are divided by
        "groups": {"pass": (fams, len(pass_walls)), "op": (fams, len(op_walls))},
        "layers": layers,
        "detail": {
            "order": [n for _, n in order],
            "shuffle_write_mb": shuffle,
            "queries_total_s": [sum(p) for p in zip(*per_query.values())],
            "query_walls_s": per_query,
        },
    }
