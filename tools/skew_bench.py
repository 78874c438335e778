"""Hot-host skew evidence for the FETCH JOIN: a 50%-skew *taken* set
(round-3 VERDICT item 8) on the scale corpus, where ONE host owns ~half of
all URLs. The engine broadcasts the round-sized taken side and streams the
pages scan past it, so output partitioning follows the (uniform) scan
splits, not hosts — a skewed taken set must cost the same as a uniform one
and leave no straggler partition. Reported: skew/uniform wall ratio +
max/median output-partition balance.

The taken set is ``--budget`` × 64 rows. Appends the numbers to
BENCH/BASELINE.md.

Usage: python tools/skew_bench.py [--cores 16] [--budget 500]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS = os.environ.get("SPARK_GRAFT_SCALE_CORPUS", "/tmp/ssc_scale_corpus")


def main() -> None:
    cores, budget = 16, 500
    for i, a in enumerate(sys.argv):
        if a == "--cores" and i + 1 < len(sys.argv):
            cores = int(sys.argv[i + 1])
        if a == "--budget" and i + 1 < len(sys.argv):
            budget = int(sys.argv[i + 1])

    from pyspark.sql import functions as F

    from sitemap_scan_spark.functions.canonicalize import canonicalize_udf
    from sitemap_scan_spark.session import get_spark

    s = get_spark(f"skew{cores}", master=f"local[{cores}]", shuffle_partitions=cores)
    s.sparkContext.setLogLevel("ERROR")
    frontier = (
        s.read.parquet(os.path.join(CORPUS, "pages.parquet"))
        .select(canonicalize_udf("url").alias("url_canon"))
        .filter(F.col("url_canon").isNotNull())
        .select(
            "url_canon",
            F.regexp_extract("url_canon", r"^https?://([^/:?#]+)", 1).alias("host"),
        )
    )
    frontier = frontier.localCheckpoint(eager=True)
    hot = frontier.groupBy("host").count().orderBy(F.col("count").desc()).first()
    print(f"hottest host {hot.host} = {hot['count']} rows")

    # ---- fetch join under a 50%-skew taken set -----------------------------
    pages = (
        s.read.parquet(os.path.join(CORPUS, "pages.parquet"))
        .select(canonicalize_udf("url").alias("url_canon"), "html")
        .filter(F.col("url_canon").isNotNull())
    )
    take_n = budget * 64
    hot_rows = frontier.filter(F.col("host") == hot.host).limit(take_n // 2)
    cold_uniform = frontier.filter(F.col("host") != hot.host)
    skew_taken = hot_rows.unionByName(
        cold_uniform.limit(take_n - take_n // 2)
    ).select("url_canon").localCheckpoint(eager=True)
    uniform_taken = (
        cold_uniform.limit(take_n).select("url_canon").localCheckpoint(eager=True)
    )

    def fetch_join(taken):
        # the engine's fetch-join shape (rounds.py: broadcast inner) + a
        # content-dependent agg so the html column is actually decoded
        joined = pages.join(F.broadcast(taken), "url_canon", "inner")
        balance = (
            joined.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count("*").alias("rows"))
            .collect()
        )
        sizes = sorted(r.rows for r in balance)
        t0 = time.time()
        joined.agg(F.sum(F.length("html"))).collect()
        dt = round(time.time() - t0, 2)
        med = sizes[len(sizes) // 2] if sizes else 0
        return dt, round(max(sizes) / max(med, 1), 2) if sizes else 0.0

    t_uni, bal_uni = fetch_join(uniform_taken)
    t_skew, bal_skew = fetch_join(skew_taken)
    fj = {
        "taken_rows": take_n,
        "uniform_secs": t_uni,
        "skew_secs": t_skew,
        "skew_over_uniform": round(t_skew / max(t_uni, 1e-9), 2),
        "partition_max_over_median_uniform": bal_uni,
        "partition_max_over_median_skew": bal_skew,
    }
    print(json.dumps(fj))
    with open(os.path.join("BENCH", "BASELINE.md"), "a") as f:
        f.write(
            f"\n### Fetch join under 50%-skew taken set "
            f"({time.strftime('%Y-%m-%d %H:%M')}, {take_n} taken rows, cores {cores})\n\n"
            f"| uniform taken | 50%-hot-host taken | skew/uniform | "
            f"partition max/median (uniform) | (skew) |\n"
            f"|---|---|---|---|---|\n"
            f"| {t_uni}s | {t_skew}s | {fj['skew_over_uniform']}× "
            f"| {bal_uni} | {bal_skew} |\n"
        )
    s.stop()


if __name__ == "__main__":
    main()
