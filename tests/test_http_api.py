"""HTTP serving adapter: real requests over a socket into the serving
layer (reference twin: ui/backend/api/transactions.py routes)."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

import pytest

from doin_fine_ance__spark.plans.build import Warehouse, build
from doin_fine_ance__spark.serving.http_api import ServingApp, make_server
from doin_fine_ance__spark.sources import fixtures as FX


@pytest.fixture(scope="module")
def base_url(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("warehouse"))
    FX.write_warehouse_inputs(spark, root)
    build(Warehouse(spark, root), full_refresh=True)
    server = make_server(ServingApp(spark, root))
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def _get(url):
    with urllib.request.urlopen(url) as r:
        return json.loads(r.read())


def _send(url, payload, method="POST"):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method=method,
    )
    with urllib.request.urlopen(req) as r:
        return json.loads(r.read())


def test_list_transactions_paging_and_sort(base_url):
    page = _get(f"{base_url}/api/transactions?limit=5&sort_by=transacted_date&sort_order=desc")
    assert page["total_count"] > 5
    assert len(page["transactions"]) == 5
    dates = [t["transacted_date"] for t in page["transactions"]]
    assert dates == sorted(dates, reverse=True)
    page2 = _get(f"{base_url}/api/transactions?limit=5&offset=5&sort_by=transacted_date")
    ids = {t["transaction_id"] for t in page["transactions"]}
    assert ids.isdisjoint(t["transaction_id"] for t in page2["transactions"])


@pytest.mark.parametrize("route", ["/api/transactions", "/api/validated"])
@pytest.mark.parametrize("query", ["limit=ten", "offset=1.5", "limit=-1", "offset=-5"])
def test_bad_page_params_are_400(base_url, route, query):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base_url}{route}?{query}")
    assert e.value.code == 400
    assert "must be" in json.loads(e.value.read())["error"]


def test_search_filters_description(base_url):
    page = _get(f"{base_url}/api/transactions?search=coffee")
    assert page["total_count"] >= 1
    for t in page["transactions"]:
        assert "coffee" in t["description"].lower()


def test_get_single_and_404(base_url):
    some = _get(f"{base_url}/api/transactions?limit=1")["transactions"][0]
    got = _get(f"{base_url}/api/transactions/{some['transaction_id']}")
    assert got["transaction_id"] == some["transaction_id"]
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base_url}/api/transactions/NO-SUCH-TXN")
    assert e.value.code == 404


def test_categorize_roundtrip_read_your_writes(base_url):
    txn = _get(f"{base_url}/api/transactions?limit=1")["transactions"][0]
    tid = txn["transaction_id"]
    resp = _send(
        f"{base_url}/api/transactions/{tid}/categorize",
        {"master_category": "Groceries", "notes": "via http"},
    )
    assert resp["status"] == "success"
    got = _get(f"{base_url}/api/transactions/{tid}")
    assert got["master_category"] == "Groceries"
    assert got["notes"] == "via http"
    assert got["validated"] is True


def test_categorize_requires_category(base_url):
    txn = _get(f"{base_url}/api/transactions?limit=1")["transactions"][0]
    with pytest.raises(urllib.error.HTTPError) as e:
        _send(f"{base_url}/api/transactions/{txn['transaction_id']}/categorize", {})
    assert e.value.code == 400


def test_validate_and_notes_put_routes(base_url):
    txns = _get(f"{base_url}/api/transactions?limit=3")["transactions"]
    tid = txns[1]["transaction_id"]
    _send(f"{base_url}/api/transactions/{tid}/validate", {"validated": True}, "PUT")
    assert _get(f"{base_url}/api/transactions/{tid}")["validated"] is True
    _send(f"{base_url}/api/transactions/{tid}/notes", {"notes": "checked"}, "PUT")
    got = _get(f"{base_url}/api/transactions/{tid}")
    assert got["notes"] == "checked"
    assert got["validated"] is True  # note update preserved the flag


def test_bulk_validate(base_url):
    txns = _get(f"{base_url}/api/transactions?limit=8&offset=4")["transactions"]
    payload = {
        "assignments": [
            {"transaction_id": t["transaction_id"], "master_category": "Dining"}
            for t in txns[:3]
        ]
    }
    resp = _send(f"{base_url}/api/transactions/bulk-validate", payload)
    assert resp == {"status": "success", "updated": 3}
    for t in txns[:3]:
        got = _get(f"{base_url}/api/transactions/{t['transaction_id']}")
        assert got["master_category"] == "Dining" and got["validated"] is True


def test_categories_and_health_routes(base_url):
    cats = _get(f"{base_url}/api/categories")
    assert isinstance(cats, list) and "Groceries" in cats
    health = _get(f"{base_url}/api/control-center/connection-health")
    assert isinstance(health, list) and len(health) > 0
    assert {"account_id", "institution_name"} <= set(health[0].keys())


def test_unknown_route_404(base_url):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base_url}/api/nope")
    assert e.value.code == 404


def test_validated_routes(base_url):
    page = _get(f"{base_url}/api/validated?limit=10")
    assert page["total_count"] >= len(page["transactions"]) > 0
    assert {"transaction_id", "master_category", "amount"} <= set(
        page["transactions"][0].keys()
    )
    cat = page["transactions"][0]["master_category"]
    filt = _get(f"{base_url}/api/validated?category={cat}")
    assert all(t["master_category"] == cat for t in filt["transactions"])
    cats = _get(f"{base_url}/api/validated/categories/list")
    assert cat in cats


def test_model_metrics_routes(base_url):
    # fixture build trains-or-skips, so the registry exists with an
    # is_latest row; history reflects whatever the registry holds
    status = _get(f"{base_url}/api/model-metrics/training-status")
    assert "status" in status
    hist = _get(f"{base_url}/api/model-metrics/metrics/history")
    assert isinstance(hist["history"], list)
    if status["status"] != "never_trained":
        assert status["model_version"] is not None
        assert len(hist["history"]) >= 1
        assert {"model_version", "accuracy", "is_latest"} <= set(hist["history"][0])
