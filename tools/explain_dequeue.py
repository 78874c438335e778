"""Dump EXPLAIN FORMATTED of one engine round's dequeue to plans/r07/.

Builds a CrawlEngine on a small generated corpus with the wide_fresh
benchmark's budget and round size, runs discovery, and explains the
dequeue that round 1 runs: the engine's pending base+tail parts through
``dequeue`` with the round's budget, round size and period. The dequeue
result is persisted, so the plan is taken from an uncached copy of the
same query.

Usage: python tools/explain_dequeue.py <suffix>
Writes plans/r07/dequeue_<suffix>.txt. Plan capture only — no timing.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "after"

    from sim.genpages import generate
    from sitemap_scan_spark.config import CrawlConfig
    from sitemap_scan_spark.operators.frontier import dequeue
    from sitemap_scan_spark.plans.rounds import CrawlEngine
    from sitemap_scan_spark.session import get_spark

    spark = get_spark("explain-dequeue", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="explain_dequeue_")
    try:
        generate(f"{work}/corpus", n_hosts=20, mean_pages=40, n_seeds=3, seed=7)
        cfg = CrawlConfig(base_host_budget=100, round_size=2500)
        eng = CrawlEngine(
            spark, spark.read.parquet(f"{work}/corpus/pages.parquet"), cfg, f"{work}/wd"
        )
        eng.init_frontier(spark.read.parquet(f"{work}/corpus/seeds.parquet"))
        base, tail = eng._pending_parts(0)
        parts = [base] + ([tail] if tail is not None else [])
        dq = dequeue(parts, cfg.base_host_budget, cfg.round_size, cfg.round_period())
        dq.unpersist()
        uncached = dq.select("*")
        plan = uncached._sc._jvm.PythonSQLUtils.explainString(
            uncached._jdf.queryExecution(), "formatted"
        )
        outdir = os.path.join(ROOT, "plans", "r07")
        os.makedirs(outdir, exist_ok=True)
        name = f"dequeue_{suffix}.txt"
        with open(os.path.join(outdir, name), "w") as f:
            f.write(plan)
        print(f"wrote plans/r07/{name}")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
