"""Structured Streaming analogs of the reference's batch-with-checkpoint loop.

The reference "streams" via cron ticks + KV cursors (SURVEY §2.9 T1-T7:
5-minute micro-batches, resumable offsets, TTL'd notification dedup,
listener-mode incremental discovery). The Spark-native re-expressions:

- T1 micro-batch trigger  → ``readStream`` file source + availableNow /
  ProcessingTime trigger;
- T2 resumable cursor     → the streaming checkpointLocation (offsets +
  state survive restarts; exactly-once sink via foreachBatch idempotence);
- T4 listener mode (CDC)  → a stream of discovered URLs deduplicated with
  ``dropDuplicatesWithinWatermark`` — the URL-seen set with TTL'd state so
  it doesn't grow unboundedly;
- D8/T7 alert throttle    → the same watermarked dedup keyed on signature;
- A1 counters             → windowed event-time aggregation with watermark.

These run on the same delta directories the batch engine writes — each
committed round appends ``rounds/round_NNNN/{fetch_log,frontier_inserts}/
*.parquet``, and each such delta is a natural file-source micro-batch.
(``url_seen`` itself is DERIVED from those two deltas at read time — there
is no url_seen table to stream; stream the inserts delta instead.)

``streaming_crawl`` is the streaming-native round driver: a rate-source
tick stream drives one crawl round per micro-batch through foreachBatch —
the reference's cron tick → performSiteBackup loop (src/index.ts cron +
fetcher.ts:101-294) — and provably yields the identical crawl state as the
batch ``CrawlEngine.run`` loop (tests/test_streaming.py).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# schema of the frontier_inserts delta (plans/rounds.py FRONTIER_SCHEMA)
INSERTS_SCHEMA = (
    "url_canon string, host string, depth int, priority double, "
    "discovered_round int, status string, crawl_delay int"
)


def discovered_urls_stream(
    spark: SparkSession,
    delta_glob: str,
    schema: str = INSERTS_SCHEMA,
) -> DataFrame:
    """File-source stream over the engine's per-round ``frontier_inserts``
    deltas (the listener-mode CDC analog, fetcher.ts:482-505): point
    ``delta_glob`` at ``{workdir}/rounds/round_*/frontier_inserts`` and each
    committed round's newly-discovered URLs arrive as a micro-batch. The
    same shape works for ``fetch_log`` deltas with the fetch_log schema."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(delta_glob)
    )


def streaming_crawl(
    engine,
    seeds: DataFrame,
    max_rounds: int | None = None,
    checkpoint_dir: str | None = None,
) -> list[dict]:
    """T1/T4 streaming-native round driver: a rate tick source triggers ONE
    crawl round per micro-batch via ``foreachBatch`` — the Structured
    Streaming re-expression of the reference's cron-tick loop. Durable
    round state and resume live in the engine's RoundStore exactly as in
    batch mode (T2): killing the query and calling streaming_crawl again
    resumes at the first uncommitted round, and the resulting crawl state
    (order, url_seen, deltas) is bit-identical to ``CrawlEngine.run``.

    The query self-stops when the frontier drains or ``max_rounds`` commits
    exist. Returns the per-round stats it drove (like ``run``)."""
    max_rounds = max_rounds or engine.cfg.max_rounds
    if engine.store.latest_round() is None:
        engine.init_frontier(seeds)

    stats: list[dict] = []
    done = threading.Event()
    failure: list[BaseException] = []

    def drive_one_round(batch_df: DataFrame, batch_id: int) -> None:
        # the tick rows themselves carry no data — each micro-batch advances
        # the crawl by exactly one round, sequentially by construction
        # (foreachBatch invocations never overlap within a query)
        try:
            latest = engine.store.latest_round()
            rnd = latest + 1
            prev = engine.store.read_manifest(latest)["counters"]["n_pending_after"]
            if rnd > max_rounds or prev <= 0:
                done.set()
                return
            stats.append(engine.run_round(rnd))
        except BaseException as e:  # surface errors instead of hanging
            failure.append(e)
            done.set()
            raise

    ticks = (
        engine.spark.readStream.format("rate")
        .option("rowsPerSecond", 10)
        .load()
    )
    writer = ticks.writeStream.foreachBatch(drive_one_round).trigger(
        processingTime="0 seconds"
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        while not done.wait(0.1):
            if not q.isActive:
                break
    finally:
        q.stop()
        q.awaitTermination()
    if failure:
        raise failure[0]
    return stats


def dedup_with_ttl(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str,
    ttl: str = "15 minutes",
) -> DataFrame:
    """D8/T7: suppress duplicate keys within a TTL window —
    ``dropDuplicatesWithinWatermark`` keeps state only for the watermark
    horizon, the streaming analog of the reference's 15-min KV TTL
    (slack/notifier.ts:16,611-642)."""
    return events.withWatermark(ts_col, ttl).dropDuplicatesWithinWatermark(key_cols)


def windowed_counters(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    late: str = "30 minutes",
) -> DataFrame:
    """A1/A2 as an event-time windowed aggregation with late-data watermark."""
    return (
        events.withWatermark(ts_col, late)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("value") > 150, 1).otherwise(0)).alias("n_big"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col(key_col),
            "n",
            "n_big",
        )
    )


def change_notification_sink(
    state_dir: str,
    out_dir: str,
    deliver=None,
):
    """K7 webhook/Slack notify (notifier.ts:63-71 + index.ts:90-95) as a
    ``foreachBatch`` sink over fetch_log deltas: per micro-batch, each URL's
    normalized content hash is compared against the persisted last-seen hash
    (``state_dir``); genuine changes emit one notification row
    (url_canon, round, old_hash, new_hash) appended to ``out_dir`` and —
    optionally — handed to ``deliver(dict)`` one by one (the webhook
    transport hook). Delivery runs EXECUTOR-side via foreachPartition —
    the changed set is never materialized on the driver, so a change wave
    (site-wide redesign) scales out instead of OOMing the driver; pass a
    picklable callable.

    First sight of a URL records state but does NOT notify (the reference
    alerts on CHANGE, not discovery). The state table is a url→hash dim
    rewritten latest-wins per batch — the Iceberg/Delta MERGE analog;
    upstream TTL throttling composes via :func:`dedup_with_ttl`."""
    import os
    import shutil

    from ..functions.normalize import normalized_hash

    if deliver is not None:
        # Delivery contract (at-least-once): a task retry or speculative
        # attempt RE-DELIVERS the rows its partition already posted, so
        # receivers must dedupe on (url_canon, round, new_hash). deliver
        # runs in a pickled copy on the worker: a closure that mutates
        # driver state (e.g. list.append) pickles fine, but it only
        # mutates the worker's copy, so deliver must hand its rows to
        # something outside the process (a webhook, a file, a queue).
        # The check below catches only callables cloudpickle cannot ship,
        # at sink construction rather than at the first change-bearing
        # batch.
        from pyspark import cloudpickle

        try:
            cloudpickle.dumps(deliver)
        except Exception as e:
            raise TypeError(
                f"deliver must be picklable (it runs executor-side): {e}"
            ) from e

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hashed = (
            batch_df.filter(F.col("status") == "fetched")
            .select(
                "url_canon",
                "round",
                normalized_hash(F.col("text_extracted")).alias("new_hash"),
            )
            # latest round wins within one batch (multi-delta micro-batch)
            .groupBy("url_canon")
            .agg(
                F.max_by("new_hash", "round").alias("new_hash"),
                F.max("round").alias("round"),
            )
        )
        have_state = os.path.exists(os.path.join(state_dir, "_SUCCESS"))
        prev = spark.read.parquet(state_dir) if have_state else None
        if prev is not None:
            joined = hashed.join(
                prev.select("url_canon", F.col("new_hash").alias("old_hash")),
                "url_canon",
                "left",
            )
            changes = joined.filter(
                F.col("old_hash").isNotNull()
                & (F.col("old_hash") != F.col("new_hash"))
            ).select("url_canon", "round", "old_hash", "new_hash")
            changes.write.mode("append").parquet(out_dir)
            if deliver is not None:
                # EXECUTOR-side delivery: a site-wide redesign can make the
                # changed set round-sized-times-pages — collecting it to
                # the driver would O(changes) the one process that must
                # never OOM. deliver ships in the task closure (picklable,
                # validated at sink construction above) and each partition
                # posts its own rows; at-least-once, see construction note.
                def _deliver_partition(rows) -> None:
                    for r in rows:
                        deliver(r.asDict())

                changes.foreachPartition(_deliver_partition)
            new_state = (
                prev.unionByName(hashed.select("url_canon", "new_hash", "round"))
                .groupBy("url_canon")
                .agg(
                    F.max_by("new_hash", "round").alias("new_hash"),
                    F.max("round").alias("round"),
                )
            )
        else:
            new_state = hashed.select("url_canon", "new_hash", "round")
        nxt = state_dir + "__next"
        new_state.write.mode("overwrite").parquet(nxt)
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        os.rename(nxt, state_dir)

    return sink


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
    output_mode: str = "append",
) -> None:
    """Drain everything currently available (the cron-tick analog: one
    bounded micro-batch run that commits offsets and exits), writing
    parquet via an idempotent foreachBatch sink."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        stream_df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .foreachBatch(sink)
        .start()
    )
    q.awaitTermination()
