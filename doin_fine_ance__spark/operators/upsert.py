"""Keyed upsert/merge machinery on plain Parquet.

The reference upserts three ways (SURVEY §2.1/§2.10): DELETE-then-
append for predictions (classifier_predict.py:149-170), single-row
MERGE-style writes for user overrides (transaction_service.py:78-126),
and insert-only incremental append (fct_validated_trxns.sql). Without
Delta jars in this environment, MERGE is emulated as
anti-join + union + atomic directory swap — the classic pure-Parquet
CDC pattern. The write is staged to a temp dir and renamed so readers
never see a half-written table. For PROVABLE snapshot isolation (a
reader pinned to a version while a writer commits, incl. filesystems
without atomic directory rename), layer `operators/snapshot.py`'s
versioned manifest on top — it takes this module's table_write_lock,
so the two compose.

Scale note: upsert rewrites the whole table. The tables it serves
(user overrides, predictions) are small next to the facts; a large
date-partitioned table would restrict the rewrite to the partitions
holding matched keys (dynamic partition overwrite).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted a read-modify-write on a locked table."""


@contextlib.contextmanager
def table_write_lock(path: str, timeout: float = 0.0, poll: float = 0.05):
    """Single-writer mutual exclusion for one parquet table path.

    The reference gets this guarantee from Postgres transactions
    (ui/backend/services/transaction_service.py:78-126); plain-parquet
    stage-and-swap is atomic per rename but NOT per read-modify-write —
    two simultaneous ``merge_keyed`` runs could each read the old
    table and the second swap would silently drop the first's rows.
    This lock makes the second writer fail loudly instead.

    Mechanism: ``os.mkdir`` of ``<path>__lock`` (atomic on POSIX
    local/NFS filesystems — the warehouse layout this repo targets in
    the sandbox). An ``owner`` file inside records pid + epoch for
    diagnostics. With ``timeout`` > 0 the acquire polls before giving
    up. On object stores without atomic mkdir (S3) you'd use a table
    format's transaction log instead (Delta/Iceberg subsume this
    whole module).
    """
    lock_dir = f"{path}__lock"
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    deadline = time.monotonic() + timeout
    while True:
        try:
            os.mkdir(lock_dir)
            break
        except FileExistsError:
            if time.monotonic() >= deadline:
                owner = "?"
                with contextlib.suppress(OSError):
                    with open(os.path.join(lock_dir, "owner")) as f:
                        owner = f.read().strip()
                raise ConcurrentWriteError(
                    f"table {path} is locked by another writer (owner: {owner}); "
                    f"retry after it finishes or remove the stale {lock_dir}"
                ) from None
            time.sleep(poll)
    try:
        with open(os.path.join(lock_dir, "owner"), "w") as f:
            f.write(f"pid={os.getpid()} epoch={time.time():.3f}")
        yield
    finally:
        shutil.rmtree(lock_dir, ignore_errors=True)


def _overwrite_swap(df: DataFrame, path: str) -> None:
    """Stage-and-swap write; caller must hold the table lock."""
    staging = f"{path}__stage_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(staging)
    backup = f"{path}__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(staging, path)
    if os.path.exists(backup):
        shutil.rmtree(backup)


def atomic_overwrite(df: DataFrame, path: str, timeout: float = 0.0) -> None:
    """Write df as parquet to `path` via stage-and-swap (no torn reads).

    Raises :class:`ConcurrentWriteError` if another writer holds the
    table lock (after ``timeout`` seconds of polling).
    """
    with table_write_lock(path, timeout=timeout):
        _overwrite_swap(df, path)


def merge_keyed(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    timeout: float = 0.0,
) -> None:
    """Upsert `updates` into the parquet table at `path` on `key`.

    Equivalent of the reference's DELETE WHERE id = ANY(...) + append
    (classifier_predict.py:149-170): one row per key survives, updates
    win.

    The whole read-merge-swap holds the table lock: two concurrent
    merges would otherwise both read the pre-merge table and the
    loser's rows would vanish. The second writer raises
    :class:`ConcurrentWriteError` (after ``timeout`` s of polling).
    """
    with table_write_lock(path, timeout=timeout):
        if not os.path.exists(path):
            updates.write.mode("overwrite").parquet(path)
            return
        current = spark.read.parquet(path)
        kept = current.join(updates.select(key), key, "left_anti")
        _overwrite_swap(kept.unionByName(updates.select(*current.columns)), path)


def insert_only_append(
    spark: SparkSession, path: str, incoming: DataFrame, key: str,
    timeout: float = 0.0,
) -> None:
    """Append only rows whose key is absent (fct_validated_trxns I1).

    Existing rows are never modified — the reference's documented
    insert-only incremental semantics. The existing-key read and the
    append hold the table lock (a concurrent appender could otherwise
    insert the same key twice past the anti-join).
    """
    with table_write_lock(path, timeout=timeout):
        if not os.path.exists(path):
            incoming.write.mode("overwrite").parquet(path)
            return
        existing_ids = spark.read.parquet(path).select(key).filter(
            F.col(key).isNotNull()
        )
        fresh = incoming.join(existing_ids, key, "left_anti")
        fresh.write.mode("append").parquet(path)
