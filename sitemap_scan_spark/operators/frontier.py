"""Frontier politeness dequeue — the north-star operator (SURVEY §2.6 W1/P7).

Re-expresses the reference's batch slicing (``allUrls.slice(offset,
offset+batchSize)``, /root/reference/src/backup/fetcher.ts:185) and
concurrency clamp (:1098-1099) as a deterministic, parallelism-independent
window dequeue:

  total order  (priority DESC, depth ASC, discovered_round ASC, url_canon ASC)
  per-host     row_number() over that order ≤ budget(host)
  budget(host) = max(1, base // crawl_delay)   (politeness)
  global cap   orderBy(key).limit(round_size)  (TakeOrdered — no full sort)
  rank         row_number() over the ≤ round_size capped rows

Hot-host skew: the per-host filter carries the literal ``base_budget`` as a
redundant conjunct, so Catalyst plans a map-side ``WindowGroupLimit
Partial`` before the per-host shuffle. Each map partition forwards at most
``base_budget`` rows per host, so a host owning half the frontier shuffles
at most P × base_budget rows, not its whole pending set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def include_filter(
    df: DataFrame, patterns: list[str], col: str = "url_canon"
) -> DataFrame:
    """P2 (``filterUrlsByPattern``, src/backup/sitemap.ts:186-197): keep URLs
    matching ANY pattern; ``*`` is a glob wildcard (→ ``.*``), everything
    else regex-escaped like the reference's passthrough. One alternation
    rlike — a single JVM regex pass."""
    if not patterns:
        return df
    import re as _re

    parts = []
    for p in patterns:
        parts.append(".*".join(_re.escape(seg) for seg in p.split("*")))
    return df.filter(F.col(col).rlike("(?i)(" + "|".join(parts) + ")"))


def parallel_global_rank(
    df: DataFrame,
    order_cols: list[Column],
    rank_name: str = "rank",
    start: int = 1,
) -> tuple[DataFrame, DataFrame, int]:
    """Global contiguous rank WITHOUT a single-partition merge (the naive
    ``Window.orderBy(global)`` funnels every row through ONE task):

    1. range-repartition on the order key (parallel total sort),
    2. per-range-bucket row_number (parallel windows),
    3. global rank = local rank + broadcast cumulative bucket offsets
       (one tiny count job) — contiguous, deterministic, never serial.

    Returns (ranked_df, persisted_handle, total_rows); the caller unpersists
    the handle after materializing. It ranks EVERY row (the revisit
    ``seq``); a rank capped at k is a top-k instead (see :func:`dequeue`).

    (A collect-free variant — offsets computed in-query via a broadcast
    join — was measured SLOWER on the crawl path: every action consuming
    the ranked frame re-materializes the offset subplan's broadcast, and
    those launches cost more than the one collect they replace.)"""
    spark = df.sparkSession
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    bucketed = df.repartitionByRange(n_buckets, *order_cols).withColumn(
        "_bucket", F.spark_partition_id()
    )
    bucketed = bucketed.persist()
    sizes = {
        r._bucket: r["count"]
        for r in bucketed.groupBy("_bucket").count().collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(sizes):
        offsets[b] = acc
        acc += sizes[b]
    offset_expr = (
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
            ),
            F.col("_bucket"),
        )
        if offsets
        else F.lit(0)
    )
    w_local = Window.partitionBy("_bucket").orderBy(*order_cols)
    ranked = bucketed.withColumn(
        rank_name,
        (F.row_number().over(w_local) + offset_expr + F.lit(start - 1)).cast("int"),
    ).drop("_bucket")
    return ranked, bucketed, acc


def with_revisit_seq(
    snapshot: DataFrame, col: str = "url_canon"
) -> tuple[DataFrame, int]:
    """Assign the persisted 0-based ``seq`` ONCE at snapshot build (parallel
    global rank — never a single-task window). Persist/write the result and
    every subsequent :func:`revisit_batch` over it is a pure range filter.
    Returns (snapshot_with_seq, total_rows)."""
    ranked, handle, total = parallel_global_rank(
        snapshot, [F.col(col).asc()], rank_name="seq", start=0
    )
    ranked._ssc_persisted = handle
    return ranked, total


def revisit_batch(
    snapshot: DataFrame,
    cursor: int,
    batch_size: int,
    col: str = "url_canon",
    total: int | None = None,
) -> tuple[DataFrame, int, int]:
    """W9 (``getSitemapListenerBatch``, fetcher.ts:507-559): rolling
    wrap-around recheck over the sorted canonical snapshot —
    rows [cursor, cursor+batch) mod total, new cursor wraps to 0.

    Returns (batch_df, new_cursor, total). If the snapshot carries a
    persisted ``seq`` column (from :func:`with_revisit_seq`, assigned once
    at snapshot build) the batch is a PURE RANGE FILTER — no shuffle, no
    window; pass ``total`` too and the call plans zero extra jobs. Without
    ``seq`` the rank is computed on the fly with the parallel global rank —
    never a single-partition ``Window.orderBy``; the on-the-fly rank's
    cached intermediate is unpersisted here after the batch localizes
    (callers wanting the cache to live across calls must pre-compute seq
    via :func:`with_revisit_seq` and manage the handle themselves)."""
    on_the_fly: DataFrame | None = None
    if "seq" not in snapshot.columns:
        snapshot, total = with_revisit_seq(snapshot, col)
        on_the_fly = snapshot._ssc_persisted
    if total is None:
        total = snapshot.count()
    if total == 0:
        if on_the_fly is not None:
            on_the_fly.unpersist()
        return snapshot.drop("seq"), 0, 0
    cursor = cursor % total
    end = cursor + batch_size
    if end <= total:
        batch = snapshot.filter((F.col("seq") >= cursor) & (F.col("seq") < end))
        new_cursor = end % total
    else:  # wrap
        batch = snapshot.filter(
            (F.col("seq") >= cursor) | (F.col("seq") < end - total)
        )
        new_cursor = end - total
    if on_the_fly is not None:
        # materialize the (batch-sized, executor-resident) result NOW so the
        # unpersist below can't trigger a recompute when the caller consumes
        # it; the checkpoint RDD is GC-cleaned once the batch is dropped
        batch = batch.drop("seq").localCheckpoint(eager=True)
        on_the_fly.unpersist()
        return batch, new_cursor, total
    return batch.drop("seq"), new_cursor, total


def order_key() -> list[Column]:
    return [
        F.col("priority").desc(),
        F.col("depth").asc(),
        F.col("discovered_round").asc(),
        F.col("url_canon").asc(),
    ]


def host_budget_col(base_budget: int, period: int | None = None) -> Column:
    """Wall-clock politeness budget (CRAWL_SPEC Round 3b): in one round of
    ``period`` seconds a host with ``crawl_delay`` d absorbs floor(period/d)
    fetches, at least 1 (hosts with d > period are gated out ENTIRELY by the
    next_eligible_round skip before dequeue — see CrawlEngine), at most
    ``base_budget``. null/0 delay → base. period=None → base_budget, which
    reproduces the classic ``base // delay`` for delay ≤ base."""
    t = period or base_budget
    return F.when(
        F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0),
        F.greatest(
            F.lit(1),
            F.least(F.lit(base_budget), F.floor(F.lit(t) / F.col("crawl_delay"))),
        ),
    ).otherwise(F.lit(base_budget)).cast("int")


def dequeue(
    eligible: DataFrame | list[DataFrame],
    base_budget: int,
    round_size: int,
    period: int | None = None,
) -> DataFrame:
    """Select this round's fetch set with a 1-based global ``rank``.

    ``eligible`` needs (url_canon, host, depth, priority, discovered_round,
    crawl_delay); a LIST of DataFrames (disjoint parts of the same pending
    set — the engine's partitioned base + round-sized tail) is unioned
    first. Returns the same columns + rank, ≤ round_size rows, PERSISTED:
    the caller consumes it from several actions (the fetch join's broadcast
    key side, the write job) and unpersists it afterwards.

    One plan at every scale: per-host ``row_number`` (the literal
    ``base_budget`` conjunct lets InferWindowGroupLimit prune map-side
    before the per-host shuffle), then ``orderBy(order_key()).limit``
    (TakeOrderedAndProject: P × round_size rows merged, never a global
    sort), then a ``row_number`` over those ≤ round_size rows."""
    parts = list(eligible) if isinstance(eligible, (list, tuple)) else [eligible]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    w_host = Window.partitionBy("host").orderBy(*order_key())
    survivors = (
        df.withColumn("_budget", host_budget_col(base_budget, period))
        .withColumn("_r", F.row_number().over(w_host))
        .filter((F.col("_r") <= F.lit(base_budget)) & (F.col("_r") <= F.col("_budget")))
        .drop("_r", "_budget")
    )
    top = survivors.orderBy(*order_key()).limit(round_size)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order_key())).cast("int")
    ).persist()
