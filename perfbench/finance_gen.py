"""Seeded finance-warehouse generator for the pipeline and serving workloads.

``make_inputs(seed, scale)`` builds, in plain Python, every input the
medallion build reads:

- ``public.simplefin``: earlier import batches in the extractor's own
  row layout (``rows_from_accounts_payload``), landed batch by batch
  with ``append_to_landing``. The batches plant import-batch duplicate
  ids, reconnection duplicates across account ids (the new account's
  name carries a ``(1234)`` mask suffix), legitimate same-day
  duplicates within one account, case-insensitive exclusion hits, NULL
  amounts and a NULL institution;
- ``public.historic_transactions`` with exact-duplicate rows, NULL
  amounts and a NULL date;
- the three dbt seeds, one account name mapped both generically and by
  account id;
- ``public.user_categories``: validated, unvalidated and orphan
  overrides;
- ``analytics.predicted_transactions``: stale plus fresh predictions
  and UNCERTAIN rows, so serving needs no training;
- a fake SimpleFIN ``fetch_window`` over the five 45-day request
  windows; half of the rows it serves are ids already landed.

``expected_counts`` re-derives the per-model row counts of ``build()``
from the generated rows with an independent pure-Python model of the
staging rules. It is the pipeline's correctness check.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
from dataclasses import dataclass, field
from decimal import Decimal

# The pipeline's clock: every run fetches and stamps relative to it.
NOW = dt.datetime(2024, 7, 1, 6, 0, 0)
LOOKBACK_START = NOW - dt.timedelta(days=200)

# Full-size row counts; ``scale`` multiplies them.
N_LANDING = 60_000
N_HISTORIC = 4_000
N_VALIDATED = 1_000
N_FETCH = 10_000
N_BATCHES = 5

EXCLUSION_PATTERNS = ["%Transfer%", "%AUTOPAY PAYMENT%", "%Payment Thank You%"]
EXCLUDED_DESCRIPTIONS = [
    "Online Transfer to Savings",
    "online transfer from checking",
    "AUTOPAY PAYMENT - THANK YOU",
    "Credit Card PAYMENT THANK YOU",
]

# (category, description stems, sign) — descriptions carry a store
# number so two base rows never share a logical key by accident.
CATEGORIES = [
    ("Groceries", ["SAFEWAY STORE", "TRADER JOES", "WHOLE FOODS MARKET"], -1),
    ("Gas", ["SHELL GAS STATION", "CHEVRON FUEL"], -1),
    ("Restaurants", ["STARBUCKS COFFEE", "CHIPOTLE ONLINE", "PIZZA PLACE"], -1),
    ("Transportation", ["UBER TRIP", "BART CLIPPER", "CITY PARKING"], -1),
    ("Shopping", ["AMAZON MKTPLACE", "TARGET", "ETSY SHOP"], -1),
    ("Travel", ["UNITED AIRLINES", "HOTEL RESORT", "AIRBNB STAY"], -1),
    ("Fees & Charges", ["ANNUAL MEMBERSHIP FEE", "LATE FEE"], -1),
    ("Income", ["PAYROLL DEPOSIT", "INTEREST PAYMENT"], 1),
    ("Entertainment", ["NETFLIX.COM", "SPOTIFY USA"], -1),
    ("Utilities", ["PG&E UTILITY BILL", "COMCAST CABLE"], -1),
]

# (account_id, name, institution, domain). ACT-SAV2 is the reconnected
# ACT-SAV; ACT-E shares the name "Checking" but has its own mapping row;
# ACT-BRK has a NULL institution.
ACCOUNTS = [
    ("ACT-CHK", "Checking", "Example Bank", "www.example-bank.com"),
    ("ACT-E", "Checking", "Example Bank", "www.example-bank.com"),
    ("ACT-SAV", "Savings Account", "Example Bank", "www.example-bank.com"),
    ("ACT-CC", "Credit Card", "Example Card Co", "www.example-card.com"),
    ("ACT-BRK", "Brokerage", None, None),
]
RECONNECTED = ("ACT-SAV2", "Savings Account (1234)", "Example Bank", "www.example-bank.com")

SEED_MAPPING_SIMPLEFIN = [
    ("Checking", None, "Everyday Checking"),
    ("Checking", "ACT-E", "Student Checking"),
    ("Savings Account", "", "Rainy Day Savings"),
    ("Credit Card", None, "Blue Cash Preferred"),
]
SEED_MAPPING_HISTORIC = [
    ("Old Checking", None, "Legacy Checking", "Sam"),
    ("Shared Account", "Checking", "Joint Checking", "Sam"),
    ("Shared Account", "Savings", "Joint Savings", "Alex"),
]
HISTORIC_ACCOUNTS = [
    ("Old Checking", None),
    ("Shared Account", "Checking"),
    ("Shared Account", "Savings"),
    ("Unknown Account", None),
]


@dataclass
class FinanceInputs:
    # landing batches: (import_timestamp, [RAW_SIMPLEFIN tuples])
    batches: list = field(default_factory=list)
    historic: list = field(default_factory=list)
    user_categories: list = field(default_factory=list)
    predictions: list = field(default_factory=list)
    # account_id -> [transaction payload dicts] served by fetch_window
    fetch_accounts: dict = field(default_factory=dict)

    def fetch_window(self, start: dt.datetime, end: dt.datetime) -> dict:
        """Fake SimpleFIN /accounts: every served transaction posted in
        [start, end), plus the first few of the next window (the
        extractor dedups those in flight)."""
        lo = int(start.replace(tzinfo=dt.timezone.utc).timestamp())
        hi = int(end.replace(tzinfo=dt.timezone.utc).timestamp())
        overlap = hi + 2 * 86400
        accounts = []
        for aid, name, inst, domain in [*ACCOUNTS, RECONNECTED]:
            txns = [t for t in self.fetch_accounts.get(aid, []) if lo <= t["posted"] < overlap]
            if txns:
                accounts.append({"id": aid, "name": name,
                                 "org": {"domain": domain, "name": inst},
                                 "transactions": txns})
        return {"accounts": accounts}


def _epoch(day: dt.date, hour: int) -> int:
    return int(dt.datetime(day.year, day.month, day.day, hour,
                           tzinfo=dt.timezone.utc).timestamp())


def _payload_rows(accounts: dict, import_ts: dt.datetime) -> list[tuple]:
    """RAW_SIMPLEFIN rows exactly as the extractor flattens them."""
    from doin_fine_ance__spark.sources.simplefin import rows_from_accounts_payload

    payload = {"accounts": [
        {"id": aid, "name": name, "org": {"domain": domain, "name": inst},
         "transactions": txns}
        for (aid, name, inst, domain), txns in accounts.items() if txns
    ]}
    return rows_from_accounts_payload(payload, import_ts, set())


def make_inputs(seed: int, scale: float) -> FinanceInputs:
    rng = random.Random(seed)
    out = FinanceInputs()
    n_land = max(200, int(N_LANDING * scale))
    n_hist = max(120, int(N_HISTORIC * scale))
    n_valid = max(40, int(N_VALIDATED * scale))
    n_fetch = max(60, int(N_FETCH * scale))
    acct = {a[0]: a for a in [*ACCOUNTS, RECONNECTED]}
    first_day = dt.date(2023, 6, 1)
    span_days = (NOW.date() - first_day).days - 1
    serial = iter(range(10**9))

    def txn(tid: str, day: dt.date, desc: str | None = None) -> dict:
        _, stems, sign = CATEGORIES[rng.randrange(len(CATEGORIES))]
        if desc is None:
            desc = f"{rng.choice(stems)} #{next(serial):06d}"
        amount = f"{sign * rng.randint(100, 250_000) / 100:.2f}"
        t = _epoch(day, rng.randrange(24))
        return {"id": tid, "posted": t, "transacted_at": t, "amount": amount,
                "description": desc, "pending": False, "extra": None}

    # -- base rows, one batch each ---------------------------------------
    imports = [dt.datetime(2024, 6, 1 + 5 * k, 6, 0, 0) for k in range(N_BATCHES)]
    per_batch: list[dict] = [{a: [] for a in acct.values()} for _ in range(N_BATCHES)]
    base: list[tuple[str, int, dict]] = []  # (account_id, batch, txn)
    for i in range(n_land):
        aid = rng.choices([a[0] for a in ACCOUNTS], weights=[5, 1, 2, 4, 1])[0]
        day = first_day + dt.timedelta(days=rng.randrange(span_days))
        t = txn(f"SF-{seed}-{i:07d}", day)
        if aid == "ACT-BRK" and rng.random() < 0.3:
            t["amount"] = None  # NULL amount (training/predict filter)
        b = rng.randrange(N_BATCHES)
        per_batch[b][acct[aid]].append(t)
        base.append((aid, b, t))

    def later_batch(b: int) -> int | None:
        return rng.randrange(b + 1, N_BATCHES) if b + 1 < N_BATCHES else None

    extra = iter(range(10**9))
    for aid, b, t in base:
        r = rng.random()
        if r < 0.04:  # the same id re-imported by a later batch
            lb = later_batch(b)
            if lb is not None:
                per_batch[lb][acct[aid]].append(dict(t))
        elif r < 0.07 and aid == "ACT-SAV":  # reconnection duplicate
            lb = later_batch(b)
            if lb is not None:
                dup = dict(t, id=f"SF-{seed}-R{next(extra):06d}")
                per_batch[lb][acct["ACT-SAV2"]].append(dup)
        elif r < 0.09:  # legitimate same-day twin in the same account
            twin = dict(t, id=f"SF-{seed}-T{next(extra):06d}")
            per_batch[b][acct[aid]].append(twin)
    for k in range(max(8, n_land // 100)):  # exclusion hits
        aid = rng.choice(["ACT-CHK", "ACT-CC"])
        day = first_day + dt.timedelta(days=rng.randrange(span_days))
        t = txn(f"SF-{seed}-X{k:06d}", day, desc=rng.choice(EXCLUDED_DESCRIPTIONS))
        per_batch[rng.randrange(N_BATCHES)][acct[aid]].append(t)
    out.batches = [(imports[b], _payload_rows(per_batch[b], imports[b]))
                   for b in range(N_BATCHES)]

    # -- fetch: half re-served landed ids, half new ----------------------
    landed_recent = [(aid, t) for aid, b, t in base
                     if t["posted"] >= _epoch(LOOKBACK_START.date(), 23)]
    rng.shuffle(landed_recent)
    fetch: dict[str, list] = {}
    for aid, t in landed_recent[: n_fetch // 2]:
        fetch.setdefault(aid, []).append(dict(t))
    lookback_days = (NOW.date() - LOOKBACK_START.date()).days - 1
    for k in range(n_fetch - n_fetch // 2):
        aid = rng.choices([a[0] for a in ACCOUNTS], weights=[5, 1, 2, 4, 1])[0]
        day = LOOKBACK_START.date() + dt.timedelta(days=1 + rng.randrange(lookback_days))
        fetch.setdefault(aid, []).append(txn(f"SF-{seed}-N{k:06d}", day))
    out.fetch_accounts = fetch

    # -- historic CSV rows ------------------------------------------------
    hist = []
    for i in range(n_hist):
        cat, stems, sign = CATEGORIES[rng.randrange(len(CATEGORIES))]
        name, detail = rng.choice(HISTORIC_ACCOUNTS)
        day = dt.date(2021, 1, 1) + dt.timedelta(days=rng.randrange(800))
        amount = Decimal(sign * rng.randint(100, 250_000)).scaleb(-2)
        if rng.random() < 0.02:
            amount = None
        categorized = rng.random() < 0.9
        row = (
            None if rng.random() < 0.005 else day.isoformat(),
            f"{rng.choice(stems)} #{next(serial):06d}",
            amount, name, cat if categorized else None, detail,
            cat if categorized else None,
            "" if rng.random() < 0.05 else f"{(day.month % 12) + 1:02d}/15/{day.year}",
        )
        hist.append(row)
        if rng.random() < 0.03:  # exact duplicate row
            hist.append(row)
    out.historic = hist

    # -- overrides and predictions over the landed, staged rows ----------
    staged_ids = sorted(staged_simplefin([r for _, rows in out.batches for r in rows]))
    ts = dt.datetime(2024, 6, 20, 12, 0, 0)
    picks = rng.sample(staged_ids, min(len(staged_ids), n_valid + n_valid // 4))
    users = []
    for j, tid in enumerate(picks):
        cat = CATEGORIES[rng.randrange(len(CATEGORIES))][0]
        validated = j < n_valid
        users.append((tid, cat, None, "bench note" if j % 7 == 0 else None,
                      validated, j % 11 == 0, "bench", ts))
    for k in range(max(3, n_valid // 50)):  # orphans: ids that never landed
        users.append((f"SF-ORPHAN-{k}", "Miscellaneous", None, "orphan", True, False,
                      "bench", ts))
    out.user_categories = users

    t1, t2 = dt.datetime(2024, 6, 18, 8, 0, 0), dt.datetime(2024, 6, 19, 8, 0, 0)
    preds = []
    for tid in staged_ids:
        if rng.random() < 0.3:
            continue
        cat = CATEGORIES[rng.randrange(len(CATEGORIES))][0]
        conf = rng.randint(50, 999_999)
        if conf < 400_000:
            cat = "UNCERTAIN"
        if rng.random() < 0.25:  # a stale version the fresh one replaces
            preds.append((tid, cat, Decimal(rng.randint(1, 999_999)).scaleb(-6),
                          "20240618_080000", t1))
        preds.append((tid, cat, Decimal(conf).scaleb(-6), "20240619_080000", t2))
    out.predictions = preds
    return out


# -- independent model of the staging rules ---------------------------------


def _like(pattern: str):
    rx = "".join(".*" if c == "%" else "." if c == "_" else re.escape(c)
                 for c in pattern.lower())
    return re.compile(rx, re.S)


_EXCL = [_like(p) for p in EXCLUSION_PATTERNS]
_MASK = re.compile(r"\s*\([0-9]+\)\s*$")


def staged_simplefin(rows: list[tuple]) -> dict[str, tuple]:
    """RAW_SIMPLEFIN rows -> {transaction_id: row} surviving
    ``stg_simplefin``: exclusions, latest import per id, then the
    reconnection dedup (per logical key keep the account whose rows
    were imported last; ties go to the smaller account id)."""
    latest: dict[str, tuple] = {}
    for r in rows:
        desc = r[10]
        if desc is not None and any(p.fullmatch(desc.lower()) for p in _EXCL):
            continue
        if r[0] not in latest or r[12] > latest[r[0]][12]:
            latest[r[0]] = r

    def key(r):
        name = None if r[2] is None else _MASK.sub("", r[2].strip())
        tdate = None if r[9] is None else r[9][:10]
        return (r[4], name, tdate, r[5], r[10])

    group_last: dict[tuple, str] = {}
    for r in latest.values():
        g = (key(r), r[1])
        group_last[g] = max(group_last.get(g, ""), r[12])
    winner: dict[tuple, tuple] = {}
    for k, aid in sorted(group_last, key=lambda g: g[1] or ""):
        if k not in winner or group_last[(k, aid)] > group_last[winner[k]]:
            winner[k] = (k, aid)
    return {tid: r for tid, r in latest.items() if winner[key(r)] == (key(r), r[1])}


def fetched_rows(inputs: FinanceInputs) -> list[tuple]:
    """The rows ``extract_simplefin`` lands on the pipeline's ingest."""
    from doin_fine_ance__spark.sources.simplefin import (
        request_windows,
        rows_from_accounts_payload,
    )

    seen: set[str] = set()
    rows: list[tuple] = []
    for start, end in request_windows(NOW):
        rows.extend(rows_from_accounts_payload(inputs.fetch_window(start, end), NOW, seen))
    return [r for r in rows if not r[11]]


def expected_counts(inputs: FinanceInputs, ingested: bool) -> dict[str, int]:
    """Row count per model after ``build()``; ``ingested`` adds the rows
    the pipeline's fetch lands. ``predicted`` is the number of rows the
    classifier scores (uncategorized rows with an amount)."""
    landing = [r for _, rows in inputs.batches for r in rows]
    if ingested:
        landing += fetched_rows(inputs)
    staged = staged_simplefin(landing)
    categorized = sum(1 for h in inputs.historic if h[6] is not None)
    hist_uncat = [h for h in inputs.historic if h[6] is None]
    validated = {u[0] for u in inputs.user_categories if u[4]}
    n_validated = sum(1 for u in inputs.user_categories if u[4])
    uncat_sf = [r for tid, r in staged.items() if tid not in validated]
    uncategorized = len(uncat_sf) + len(hist_uncat)
    return {
        "stg_simplefin": len(staged),
        "stg_historic_trxns": len(inputs.historic),
        "int_trxns": len(staged) + len(inputs.historic),
        "int_trxns_features": len(staged) + len(inputs.historic),
        "fct_trxns_categorized": categorized,
        "stg_user_validated_categories": n_validated,
        "fct_validated_trxns": categorized + n_validated,
        "fct_trxns_uncategorized": uncategorized,
        "fct_trxns_with_predictions": uncategorized,
        "predicted": sum(1 for r in uncat_sf if r[5] is not None)
        + sum(1 for h in hist_uncat if h[2] is not None),
    }


def _arrow_schema(struct):
    """pyarrow twin of a Spark StructType (the types the inputs use)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    def conv(t):
        if isinstance(t, T.DecimalType):
            return pa.decimal128(t.precision, t.scale)
        if isinstance(t, T.TimestampType):
            return pa.timestamp("us", tz="UTC")
        return {T.StringType: pa.string(), T.LongType: pa.int64(),
                T.BooleanType: pa.bool_()}[type(t)]

    return pa.schema([pa.field(f.name, conv(f.dataType), f.nullable) for f in struct.fields])


def write_inputs(spark, inputs: FinanceInputs, root: str) -> None:
    """Land every generated input under a warehouse root: the import
    batches through the extractor's ``append_to_landing``, the other
    tables as single parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from doin_fine_ance__spark import schemas
    from doin_fine_ance__spark.sources.simplefin import append_to_landing

    landing = os.path.join(root, "public", "simplefin")
    for _, rows in inputs.batches:
        append_to_landing(spark.createDataFrame(rows, schema=schemas.RAW_SIMPLEFIN), landing)
    utc = dt.timezone.utc
    tables = [
        ("public/historic_transactions", inputs.historic, schemas.RAW_HISTORIC),
        ("public/seed_account_mapping_simplefin", SEED_MAPPING_SIMPLEFIN,
         schemas.SEED_ACCOUNT_MAPPING_SIMPLEFIN),
        ("public/seed_account_mapping_historic", SEED_MAPPING_HISTORIC,
         schemas.SEED_ACCOUNT_MAPPING_HISTORIC),
        ("public/seed_transaction_exclusions", [(p,) for p in EXCLUSION_PATTERNS],
         schemas.SEED_TRANSACTION_EXCLUSIONS),
        ("public/user_categories", inputs.user_categories, schemas.USER_CATEGORIES),
        ("analytics/predicted_transactions", inputs.predictions, schemas.PREDICTIONS),
    ]
    for rel, rows, struct in tables:
        schema = _arrow_schema(struct)
        cols = [[v.replace(tzinfo=utc) if isinstance(v, dt.datetime) else v for v in col]
                for col in zip(*rows)]
        os.makedirs(os.path.join(root, rel), exist_ok=True)
        pq.write_table(pa.Table.from_arrays(cols, schema=schema),
                       os.path.join(root, rel, "part-00000.parquet"))
