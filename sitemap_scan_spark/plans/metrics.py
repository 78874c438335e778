"""Run metrics over the round manifests — the ``runs`` table analog
(SURVEY §2.7 A1/A2/A5; reference: per-day ExecutionStats + SiteRunRecord,
src/scheduler/dispatcher.ts:112-130, src/runtime/run-store.ts:16-42).

Manifests are tiny JSON files; these helpers read them driver-side and can
also materialize them as a DataFrame for SQL over run history.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .checkpoint import RoundStore


_RUNS_SCHEMA = (
    "round int, parent_round int, committed_at double, n_taken int, "
    "n_fetched int, n_miss int, n_redirect int, n_blocked int, "
    "n_new int, secs double, urls_per_sec double"
)


def runs_df(spark: SparkSession, store: RoundStore) -> DataFrame:
    """One row per committed round: counters + timing (the runs ledger).
    Built on the driver as an Arrow table, so Spark plans it as a
    ``LocalRelation``: evaluating it runs no Python task."""
    rows = []
    for rnd in store.committed_rounds():
        m = store.read_manifest(rnd)
        c = m["counters"]
        rows.append(
            (
                rnd,
                m.get("parent_round"),
                float(m["committed_at"]),
                int(c.get("n_taken", 0)),
                int(c.get("n_fetched", 0)),
                int(c.get("n_miss", 0)),
                int(c.get("n_redirect", 0)),
                int(c.get("n_blocked", 0)),
                int(c.get("n_new", 0)),
                float(c.get("secs", 0.0)),
                float(c.get("urls_per_sec", 0.0)),
            )
        )
    names = [c.split()[0] for c in _RUNS_SCHEMA.split(", ")]
    columns = zip(*rows) if rows else [[] for _ in names]
    return spark.createDataFrame(
        pa.table({n: list(c) for n, c in zip(names, columns)}), _RUNS_SCHEMA
    )


def summarize(store: RoundStore) -> dict:
    """A1/A2: totals + averages across all committed rounds (driver-side —
    manifests are tiny)."""
    totals = {
        "rounds": 0,
        "n_taken": 0,
        "n_fetched": 0,
        "n_miss": 0,
        "n_redirect": 0,
        "n_blocked": 0,
        "n_new": 0,
        "secs": 0.0,
    }
    for rnd in store.committed_rounds():
        c = store.read_manifest(rnd)["counters"]
        if "n_taken" not in c:
            continue  # round 0 (discovery) has no fetch counters
        totals["rounds"] += 1
        for k in ("n_taken", "n_fetched", "n_miss", "n_redirect", "n_blocked", "n_new"):
            totals[k] += int(c.get(k, 0))
        totals["secs"] += float(c.get("secs", 0.0))
    totals["urls_per_sec"] = round(
        totals["n_taken"] / totals["secs"], 1
    ) if totals["secs"] else 0.0
    totals["success_rate"] = round(
        totals["n_fetched"] / totals["n_taken"], 4
    ) if totals["n_taken"] else None
    return totals
