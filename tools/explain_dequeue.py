"""Dump EXPLAIN FORMATTED of one engine round's two frontier operators to
plans/r08/.

Builds a CrawlEngine on a small generated corpus with the wide_fresh
benchmark's budget and round size, runs discovery and round 1, and
explains what round 2 runs against the engine's one frontier cache (the
url_canon-partitioned base persisted after discovery, plus round 1 as its
tail):

- ``dequeue.txt``: the dequeue over the pending parts, with the round's
  budget, round size and period. The dequeue result is persisted, so the
  plan is taken from an uncached copy of the same query.
- ``seen_anti.txt``: the URL-seen anti-join of round 1's candidate links
  against the base's keys and then the tail's insert keys, as the session
  plans it.
- ``seen_anti_shuffled.txt``: the same anti-join with broadcast joins off,
  the plan a frontier above ``spark.sql.autoBroadcastJoinThreshold`` gets.

Usage: python tools/explain_dequeue.py
Plan capture only — no timing.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
OUT = os.path.join(ROOT, "plans", "r08")


def _write(df, name: str) -> None:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(os.path.join(OUT, name), "w") as f:
        f.write(plan)
    print(f"wrote plans/r08/{name}")


def main() -> None:
    from sim.genpages import generate
    from sitemap_scan_spark.config import CrawlConfig
    from sitemap_scan_spark.operators.frontier import dequeue
    from sitemap_scan_spark.plans.rounds import CrawlEngine
    from sitemap_scan_spark.session import get_spark

    spark = get_spark("explain-dequeue", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="explain_dequeue_")
    os.makedirs(OUT, exist_ok=True)
    try:
        generate(f"{work}/corpus", n_hosts=20, mean_pages=40, n_seeds=3, seed=7)
        cfg = CrawlConfig(base_host_budget=100, round_size=2500)
        eng = CrawlEngine(
            spark, spark.read.parquet(f"{work}/corpus/pages.parquet"), cfg, f"{work}/wd"
        )
        eng.init_frontier(spark.read.parquet(f"{work}/corpus/seeds.parquet"))
        eng.run_round(1)

        dq = dequeue(
            eng._pending_parts(1), cfg.base_host_budget, cfg.round_size, cfg.round_period()
        )
        dq.unpersist()
        _write(dq.select("*"), "dequeue.txt")

        cands = eng._candidates(eng.store.read_table(spark, 1, "fetch_log"))
        _write(eng._anti_seen(cands, 1), "seen_anti.txt")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        _write(eng._anti_seen(cands, 1), "seen_anti_shuffled.txt")
        eng.close()
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
