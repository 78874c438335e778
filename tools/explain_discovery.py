"""Dump EXPLAIN FORMATTED of the discovery and round plans that run Python.

Builds a CrawlEngine on a small generated corpus (20 hosts, all seeded,
seed 7, with sitemap indexes and a sitemap cycle), runs discovery and
round 1, and writes to ``OUT_DIR``:

- ``construct_<tag>.txt``: the ``pages_canon`` write (canonicalize, keep
  one row per canonical URL);
- ``inserts_<tag>.txt``: round 1's ``frontier_inserts`` write (resolve and
  canonicalize the links and redirects, dedup, anti-join, robots gate);
- ``expand_level1_<tag>.txt``: level 1 of the init_frontier sitemap
  expansion — its capped-batch checkpoint, then its parse checkpoint.

Plans are taken as the engine hands the frames to Spark, before they run.
``tag`` names the tree the plans come from (``before``/``after``), so the
same script, run from two checkouts, writes a comparable pair.

Usage: python tools/explain_discovery.py OUT_DIR TAG
Plan capture only — no timing.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main(out: str, tag: str) -> None:
    from pyspark.sql.readwriter import DataFrameWriter

    from sim.genpages import generate
    from sitemap_scan_spark.config import CrawlConfig
    from sitemap_scan_spark.plans.rounds import CrawlEngine
    from sitemap_scan_spark.session import get_spark

    spark = get_spark("explain-discovery", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    DataFrame = type(spark.range(1))  # the session's concrete frame class
    work = tempfile.mkdtemp(prefix="explain_discovery_")
    os.makedirs(out, exist_ok=True)
    writes: dict[str, str] = {}
    checkpoints: list[str] = []
    parquet, checkpoint = DataFrameWriter.parquet, DataFrame.localCheckpoint

    def parquet_spy(self, path, *args, **kwargs):
        writes.setdefault(os.path.relpath(path, work), _explain(self._df))
        return parquet(self, path, *args, **kwargs)

    def checkpoint_spy(self, *args, **kwargs):
        checkpoints.append(_explain(self))
        return checkpoint(self, *args, **kwargs)

    DataFrameWriter.parquet = parquet_spy
    DataFrame.localCheckpoint = checkpoint_spy
    try:
        generate(f"{work}/corpus", n_hosts=20, mean_pages=40, n_seeds=20, seed=7)
        cfg = CrawlConfig(base_host_budget=100, round_size=2500)
        eng = CrawlEngine(
            spark, spark.read.parquet(f"{work}/corpus/pages.parquet"), cfg, f"{work}/wd"
        )
        eng.init_frontier(spark.read.parquet(f"{work}/corpus/seeds.parquet"))
        expand = checkpoints[2:4]  # level 0: batch, parse; level 1: batch, parse
        eng.run_round(1)
        eng.close()
    finally:
        DataFrameWriter.parquet, DataFrame.localCheckpoint = parquet, checkpoint
        shutil.rmtree(work, ignore_errors=True)
    files = {
        "construct": writes["wd/pages_canon"],
        "inserts": writes["wd/rounds/round_0001/frontier_inserts"],
        "expand_level1": "\n".join(
            f"==== level 1, {what} checkpoint ====\n{plan}"
            for what, plan in zip(("capped batch", "parse"), expand)
        ),
    }
    for name, plan in files.items():
        with open(os.path.join(out, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {os.path.join(out, f'{name}_{tag}.txt')}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__.split("Usage: ")[1].split("\n")[0])
    main(sys.argv[1], sys.argv[2])
