"""The read/override UI path over HTTP: server side and load generator.

The workload process serves the refreshed warehouse; this file, run as
a script, is the load generator in its own process: one closed-loop
client over one seeded request sequence, 85% reads (list pages,
description search, get-by-id, ``/api/validated``, category lists) and
15% override writes (categorize, validate and notes PUT, 10-id bulk
validate). Every write
invalidates the server's cached overlay. One pass is the whole
sequence; after one untimed request of each kind, timed passes repeat
until the time is up.

One client, not three: with concurrent clients, reads of
``public.user_categories`` (overlay rebuild, ``/api/validated``, the
categorize pre-read) race the rename-swap of a concurrent
``merge_keyed`` write and fail with ``FileNotFoundException``, an engine
defect left standing for its own fix; ``N_CLIENTS = 3`` reproduces it.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import subprocess
import sys
import threading
import time
from urllib.parse import urlencode

import common
import finance_gen as G
from spans import rollup

# Share of the full-size inputs (60k landed rows, 4k historic, 1k
# validated overrides, 10k fetched rows). At this size most of a
# refresh is the fixed cost of its ~300 Spark jobs.
SCALE = 0.02
N_CLIENTS = 1
PASS_REQUESTS = 20
# Requests of each kind per 20: 85% reads, 15% override writes.
MIX = {"list": 7, "search": 2, "get": 4, "validated": 2, "catlist": 2,
       "categorize": 1, "put": 1, "bulk": 1}
SORTS = ["transacted_date", "prediction_confidence"]
VIEW_MODES = [None, None, "unvalidated_predicted", "unvalidated_unpredicted", "validated"]
SEARCH_TERMS = ["STARBUCKS", "safeway", "uber", "AIRLINES", "fee", "netflix", "#0001"]


def overlay_ids(inputs: G.FinanceInputs) -> list[str]:
    """Ids served by the overlay after the refresh (uncategorized staged
    rows, fetched ones included), oldest first."""
    staged = G.staged_simplefin([r for _, rows in inputs.batches for r in rows]
                                + G.fetched_rows(inputs))
    validated = {u[0] for u in inputs.user_categories if u[4]}
    return [tid for tid, r in sorted(staged.items(), key=lambda kv: (kv[1][9], kv[0]))
            if tid not in validated]


def make_requests(seed: int, inputs: G.FinanceInputs, n: int) -> list[dict]:
    """The seeded request sequence of one pass of ``n`` requests (a
    multiple of ``sum(MIX.values())``). The mix of kinds is fixed, so
    passes of different seeds cost alike; the seed draws the order and
    each request's parameters. Write targets come from disjoint id pools,
    so a GET right after a categorize must see the category it wrote."""
    rng = random.Random(seed * 7919 + 17)
    ids = overlay_ids(inputs)
    pool = list(ids)
    rng.shuffle(pool)
    third = len(pool) // 3
    cat_pool, put_pool, bulk_pool = pool[:third], pool[third:2 * third], pool[2 * third:]
    cats = [c for c, _, _ in G.CATEGORIES]
    reps, rem = divmod(n, sum(MIX.values()))
    if rem:
        raise ValueError(f"{n} requests is not a multiple of {sum(MIX.values())}")
    kinds = [k for k, c in MIX.items() for _ in range(c * reps)]
    rng.shuffle(kinds)

    def recent_id() -> str:  # skewed toward the newest transactions
        return ids[int(len(ids) * (1 - rng.random() ** 3)) - 1]

    reqs = []
    for i, kind in enumerate(kinds):
        if kind == "list":
            limit = rng.choice([50, 100])
            q = {"limit": limit, "offset": limit * min(int(rng.expovariate(1.0)), 9),
                 "sort_by": rng.choice(SORTS), "sort_order": rng.choice(["asc", "desc"])}
            mode = rng.choice(VIEW_MODES)
            if mode:
                q["view_mode"] = mode
            reqs.append({"kind": "list", "method": "GET", "path": "/api/transactions",
                         "query": q, "unfiltered": mode is None})
        elif kind == "search":
            reqs.append({"kind": "list", "method": "GET", "path": "/api/transactions",
                         "query": {"search": rng.choice(SEARCH_TERMS), "limit": 50},
                         "unfiltered": False})
        elif kind == "get":
            tid = recent_id()
            reqs.append({"kind": "get", "method": "GET", "id": tid,
                         "path": f"/api/transactions/{tid}", "query": {}})
        elif kind == "validated":
            reqs.append({"kind": "validated", "method": "GET", "path": "/api/validated",
                         "query": {"limit": 50, "offset": 50 * min(int(rng.expovariate(1.5)), 3)}})
        elif kind == "catlist":
            path = rng.choice(["/api/transactions/categories/list",
                               "/api/validated/categories/list", "/api/categories"])
            reqs.append({"kind": "catlist", "method": "GET", "path": path, "query": {}})
        elif kind == "categorize":
            tid, cat = cat_pool[i % len(cat_pool)], rng.choice(cats)
            reqs.append({"kind": "write", "method": "POST", "verify": (tid, cat),
                         "path": f"/api/transactions/{tid}/categorize", "query": {},
                         "body": {"master_category": cat, "notes": f"pass note {i}"}})
        elif kind == "put":  # validate or notes, one PUT slot
            tid = put_pool[i % len(put_pool)]
            if rng.random() < 0.6:
                reqs.append({"kind": "write", "method": "PUT", "query": {},
                             "path": f"/api/transactions/{tid}/validate",
                             "body": {"validated": rng.random() < 0.7}})
            else:
                reqs.append({"kind": "write", "method": "PUT", "query": {},
                             "path": f"/api/transactions/{tid}/notes",
                             "body": {"notes": f"checked {i}"}})
        else:  # bulk
            batch = rng.sample(bulk_pool, 10)
            reqs.append({"kind": "write", "method": "POST", "query": {},
                         "path": "/api/transactions/bulk-validate",
                         "body": {"assignments": [
                             {"transaction_id": t, "master_category": rng.choice(cats)}
                             for t in batch]}})
        reqs[-1]["mix"] = kind
    return reqs


def check_response(req: dict, status: int, body, expected_total: int) -> str | None:
    """None when the response has the expected status and shape."""
    if status != 200:
        return f"HTTP {status}: {body}"
    kind = req["kind"]
    if kind in ("list", "validated"):
        if not (isinstance(body, dict) and isinstance(body.get("total_count"), int)
                and isinstance(body.get("transactions"), list)):
            return "page without total_count/transactions"
        if len(body["transactions"]) > int(req["query"].get("limit", 100)):
            return "page longer than its limit"
        if any("transaction_id" not in row for row in body["transactions"]):
            return "row without transaction_id"
        if req.get("unfiltered") and body["total_count"] != expected_total:
            return f"total_count {body['total_count']} != overlay rows {expected_total}"
    elif kind == "get":
        if not isinstance(body, dict) or body.get("transaction_id") != req["id"]:
            return "get-by-id returned another row"
    elif kind == "catlist":
        if not isinstance(body, list) or not all(isinstance(c, str) for c in body):
            return "category list is not a list of names"
    elif kind == "write":
        if not isinstance(body, dict) or body.get("status") != "success":
            return f"write not acknowledged: {body}"
    return None


def _call(port: int, method: str, path: str, query: dict, body) -> tuple[int, object]:
    url = path + ("?" + urlencode(query) if query else "")
    data = json.dumps(body).encode() if body is not None else None
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(method, url, body=data,
                     headers={"Content-Type": "application/json"} if data else {})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")
    finally:
        conn.close()


def run_pass(port: int, reqs: list[dict], tag: str, expected_total: int) -> list[dict]:
    """Serve ``reqs`` with N_CLIENTS closed-loop clients; one result per
    request (plus one per read-your-writes GET)."""
    results: list[dict] = []
    lock = threading.Lock()
    cursor = iter(range(len(reqs)))

    def client():
        while True:
            with lock:
                i = next(cursor, None)
            if i is None:
                return
            req = reqs[i]
            steps = [(req, None)]
            if "verify" in req:
                tid, cat = req["verify"]
                steps.append(({"kind": "get", "method": "GET", "id": tid, "query": {},
                               "path": f"/api/transactions/{tid}"}, cat))
            for k, (step, want_cat) in enumerate(steps):
                req_id = f"{tag}-{i}-{k}"
                t = time.perf_counter()
                try:
                    status, body = _call(port, step["method"], step["path"],
                                         {**step["query"], "__req": req_id}, step.get("body"))
                    error = check_response(step, status, body, expected_total)
                    if error is None and want_cat is not None \
                            and body.get("master_category") != want_cat:
                        error = (f"read-your-writes: {step['id']} shows "
                                 f"{body.get('master_category')!r}, wrote {want_cat!r}")
                except Exception as e:  # noqa: BLE001
                    error = f"{type(e).__name__}: {e}"
                with lock:
                    results.append({"req": req_id, "kind": step["kind"],
                                    "latency_s": time.perf_counter() - t,
                                    "error": error and f"{step['method']} {step['path']}: {error}"})

    threads = [threading.Thread(target=client) for _ in range(N_CLIENTS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return results


def layer_detail(spans: list[dict], results: list[dict]) -> dict:
    """The serving layer metrics named by the benchmark's docs."""
    def p50_ms(xs):
        return 1e3 * common.median(xs) if xs else None

    out = {}
    routes = {}
    for kind in ("read", "write"):
        rs = [s for s in spans if s["name"] == f"serving.{kind}.route"]
        routes.update({s["req"]: s["wall_s"] for s in rs})
        out[f"serving.{kind}.route_ms_p50"] = p50_ms([s["wall_s"] for s in rs])
        out[f"serving.{kind}.jobs_per_req"] = (sum(s["jobs"] for s in rs) / len(rs)
                                               if rs else None)
    out["http.overhead_ms_p50"] = p50_ms([r["latency_s"] - routes[r["req"]]
                                          for r in results if r["req"] in routes])
    ov = [s for s in spans if s["name"] == "serving.overlay"]
    builds = [s for s in ov if not s["hit"]]
    out["serving.overlay.builds"] = len(builds)
    out["serving.overlay.hit_rate"] = (len(ov) - len(builds)) / len(ov) if ov else None
    out["serving.overlay.build_ms_p50"] = p50_ms([s["wall_s"] for s in builds])
    mk = [s for s in spans if s["name"] == "operators.merge_keyed"]
    out["operators.merge_keyed.calls"] = len(mk)
    out["operators.merge_keyed.ms_p50"] = p50_ms([s["wall_s"] for s in mk])
    for name in ("serving.read.route", "serving.write.route", "serving.overlay",
                 "operators.merge_keyed"):
        out[name] = rollup(spans, name)
    return out


def instrument(app, tracer) -> None:
    """Wrap the app instance and the keyed-merge operator in spans; the
    engine itself is unchanged."""
    import doin_fine_ance__spark.operators.upsert as upsert

    route, overlay, merge_keyed = app.route, app.overlay, upsert.merge_keyed
    last = [None]

    def traced_route(method, path, query, body):
        kind = "read" if method == "GET" else "write"
        req = (query.get("__req") or [None])[0]
        with tracer.span(f"serving.{kind}.route", req=req, path=path):
            return route(method, path, query, body)

    def traced_overlay():
        with tracer.span("serving.overlay") as span:
            df = overlay()
            if span is not None:
                span["hit"] = df is last[0]
            last[0] = df
            return df

    def traced_merge(*args, **kwargs):
        with tracer.span("operators.merge_keyed"):
            return merge_keyed(*args, **kwargs)

    app.route, app.overlay, upsert.merge_keyed = traced_route, traced_overlay, traced_merge


def serve(spark, root: str, seed: int, seconds: float, tracer) -> dict:
    """Serve the warehouse at ``root`` with ``make_server(ServingApp)``
    on a localhost port while the load generator (this file, run as a
    script) sends its requests from its own process. Spans, when the
    tracer is on, cover the timed passes only."""
    from doin_fine_ance__spark.serving.http_api import ServingApp, make_server

    app = ServingApp(spark, root)
    if tracer.enabled:
        instrument(app, tracer)
    server = make_server(app)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    trace, tracer.enabled = tracer.enabled, False
    client = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--port", str(server.server_address[1]),
         "--seed", str(seed), "--seconds", str(seconds)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        if client.stdout.readline().strip() == "warm":
            tracer.enabled = trace
            client.stdin.write("go\n")
            client.stdin.flush()
        out = client.stdout.readline()
        if client.wait(timeout=120) != 0 or not out:
            raise RuntimeError(f"load generator exited with {client.returncode}")
    finally:
        if client.poll() is None:
            client.kill()
            client.wait()
        server.shutdown()
        thread.join()
        server.server_close()
    return json.loads(out)


def main() -> None:
    """Load generator: one untimed request of each kind, then timed
    passes of the seeded sequence until ``--seconds`` have passed.

    Protocol with the serving process, one line each way:
      -> "warm"                                  after the untimed requests
      <- "go"
      -> {"warm", "results", "pass_walls"}       then exit
    """
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    inputs = G.make_inputs(args.seed, SCALE)
    expected_total = G.expected_counts(inputs, ingested=True)["fct_trxns_with_predictions"]
    reqs = make_requests(args.seed, inputs, PASS_REQUESTS)

    # A UI server is long-running: its code paths are compiled before a
    # user's requests arrive.
    first = {r["mix"]: r for r in reversed(reqs)}
    warm = run_pass(args.port, [first[k] for k in MIX], "warm", expected_total)
    print("warm", flush=True)
    sys.stdin.readline()
    results, pass_walls = [], []
    t_measure = time.perf_counter()
    while not pass_walls or time.perf_counter() - t_measure < args.seconds:
        t = time.perf_counter()
        results += run_pass(args.port, reqs, f"p{len(pass_walls)}", expected_total)
        pass_walls.append(time.perf_counter() - t)
    print(json.dumps({"warm": warm, "results": results, "pass_walls": pass_walls}), flush=True)


if __name__ == "__main__":
    main()
