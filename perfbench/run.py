"""Crawl-engine benchmark: one workload, one process, one JSON line.

    python3 perfbench/run.py --workload wide_fresh --seed 1 --seconds 40 --trace 0

Run it from the root of a checkout. Set-up generates the workload's inputs
from ``--seed``, starts Spark on ``local[<cores>]`` and computes the
sequential oracle's crawl on the same inputs. Each measured pass then
drives one crawl through ``CrawlEngine``'s public API (see workloads.py)
in a fresh workdir and checks every output against the oracle, the
generator's expected text and the engine's own invariants (checks.py).

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, medians
over the passes. ``--trace 1`` runs the same passes with spans and the
Spark event log on, adds a few direct calls into single layers, and prints
the per-layer metrics; the spans go to ``perfbench/_out/``.

Everything the run writes lives under ``perfbench/_work/`` and is removed
at the end.
"""

from __future__ import annotations

import time

T_MAIN = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# a nominal pass length on a 4-core box; --seconds buys this many seconds
# per pass, so the pass count depends on the arguments alone
PASS_SECONDS = 40
DRIVER_MEMORY = "2g"


def process_start() -> float:
    """Wall-clock time at which this process started."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return T_MAIN


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=PASS_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def program_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, *p))
        for p in (
            ("BENCHMARK.json",),
            ("sitemap_scan_spark", "plans", "rounds.py"),
            ("sim", "oracle.py"),
        )
    )


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


class Run:
    """State shared by set-up, the passes and the traced layer calls."""

    def __init__(self, args: argparse.Namespace, work: str):
        from spans import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.tracer = Tracer(bool(args.trace))
        self.setup: dict[str, float] = {}
        self.calls = 0
        self.spark = None

    # ------------------------------------------------------------ set-up
    def start(self, t_proc: float) -> None:
        from concurrent.futures import ThreadPoolExecutor

        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        for d in (tmp, local):
            os.makedirs(d)
        # keep every temp file of the driver, the JVM and the Python
        # workers inside the checkout
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        # every JVM of the launch (the launcher's too); no hsperfdata in /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        sys.path.insert(0, ROOT)
        from sitemap_scan_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        self.cores = len(os.sched_getaffinity(0))
        # the inputs and the oracle are pure Python; they run while the JVM
        # starts and the workers warm up, which mostly wait on other processes
        with ThreadPoolExecutor(max_workers=1) as pool:
            truth = pool.submit(self.make_inputs)
            t = time.time()
            self.spark = get_spark("perfbench", master=f"local[{self.cores}]", extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.setup["jvm_s"] = time.time() - t
            t = time.time()
            self.warm_up()
            self.setup["warmup_s"] = time.time() - t
            truth.result()
        self.pages = self.spark.read.parquet(os.path.join(self.inputs, "pages.parquet"))
        self.seeds = self.spark.read.parquet(os.path.join(self.inputs, "seeds.parquet"))
        self.setup["setup_s"] = time.time() - t_proc

    def make_inputs(self) -> None:
        """Generate the inputs, then compute the oracle's crawl on them."""
        import pandas as pd

        import gen
        from sim.oracle import OracleCrawler
        from sitemap_scan_spark.config import CrawlConfig

        t = time.time()
        self.inputs = os.path.join(self.work, "inputs")
        shape = self.wl.shape(self.args.scale)
        self.counters = gen.generate(self.inputs, shape, self.args.seed)
        self.delays = gen.crawl_delays(shape, self.args.seed)
        self.setup["inputs_s"] = time.time() - t

        t = time.time()
        self.cfg = CrawlConfig(**self.wl.config_kwargs(self.args.scale))
        pages = pd.read_parquet(os.path.join(self.inputs, "pages.parquet"))
        seeds = pd.read_parquet(os.path.join(self.inputs, "seeds.parquet"))
        self.oracle = OracleCrawler(pages, self.cfg).crawl(seeds)
        self.expected_text = dict(
            pd.read_parquet(os.path.join(self.inputs, "expected_text.parquet")).itertuples(
                index=False
            )
        )
        self.seed_hosts = sorted({u.split("/")[2] for u in seeds["seed_url"]})
        self.setup["oracle_s"] = time.time() - t

    def warm_up(self) -> None:
        """Start the Python worker pool with one Arrow-batched job, so the
        first pass does not pay for it. It touches no engine code."""
        df = self.spark.range(0, 1 << 12, numPartitions=self.cores).selectExpr(
            "cast(id as string) AS s"
        )
        df.mapInPandas(lambda batches: batches, df.schema).count()

    # ------------------------------------------------------------ one pass
    def call(self, name: str, fn, **attrs):
        """Time one engine call (and record its span when tracing)."""
        self.calls += 1
        with self.tracer.span(name, **attrs):
            t = time.time()
            out = fn()
            return out, time.time() - t

    def crawl_pass(self, index: int) -> dict:
        from sitemap_scan_spark.plans.rounds import CrawlEngine

        wl, spark, cfg = self.wl, self.spark, self.cfg
        wd = os.path.join(self.work, f"crawl-{index}")
        round_secs: list[float] = []
        taken = 0

        def rounds(eng, first: int, last: int, resumed: bool) -> None:
            nonlocal taken
            for r in range(first, last + 1):
                stats, s = self.call(
                    "round", lambda: eng.run_round(r), round=r, resumed=resumed,
                    compacting=r % cfg.frontier_compact_every == 0,
                )
                round_secs.append(s)
                taken += stats["n_taken"]
                if r < wl.rounds and stats["n_pending_after"] <= 0:
                    raise RuntimeError(f"{wl.name}: frontier drained in round {r}")

        with self.tracer.span("pass", index=index):
            t0 = time.time()
            with self.tracer.span("discovery"):
                fresh, _ = self.call(
                    "construct", lambda: CrawlEngine(spark, self.pages, cfg, wd)
                )
                self.call("init_frontier", lambda: fresh.init_frontier(self.seeds))
            discovery_s = time.time() - t0
            rounds(fresh, 1, wl.fresh_rounds, False)
            t_resume = time.time()
            with self.tracer.span("resume"):
                eng, _ = self.call(
                    "resume_construct", lambda: CrawlEngine(spark, self.pages, cfg, wd)
                )
                rounds(eng, wl.fresh_rounds + 1, wl.rounds, True)
            resume_s = time.time() - t_resume
            crawl_s = time.time() - t0
            polls = [self.poll(eng) for _ in range(wl.polls)]
        self.check(eng, polls[-1]["out"])
        store_bytes, _ = dir_bytes(wd)
        self.last_engine, self.last_workdir = eng, wd
        return {
            "crawl_s": crawl_s,
            "discovery_s": discovery_s,
            "urls_per_s": taken / sum(round_secs),
            "resume_s": resume_s,
            "poll_s": statistics.median(p["s"] for p in polls),
            "store_mb": store_bytes / 1e6,
        }

    def poll(self, eng) -> dict:
        """One poll of the read API, as a user's progress page makes it."""
        from sitemap_scan_spark.plans.metrics import runs_df

        latest = self.wl.rounds
        t = time.time()
        with self.tracer.span("poll"):
            out = {
                "progress": self.call("progress", eng.progress)[0],
                "overview": self.call("overview", lambda: eng.overview().collect())[0],
                "n_seen": self.call("url_seen", lambda: eng.url_seen().count())[0],
                "order": self.call("crawl_order", lambda: eng.crawl_order().collect())[0],
                "n_frontier": self.call(
                    "frontier_at", lambda: eng.frontier_at(latest).count()
                )[0],
                "n_runs": self.call(
                    "runs_df", lambda: runs_df(self.spark, eng.store).count()
                )[0],
                "refresh": self.call("refresh_discovery", eng.refresh_discovery)[0],
            }
        return {"s": time.time() - t, "out": out}

    # ------------------------------------------------------------ checks
    def check(self, eng, out: dict) -> None:
        """Every check of checks.py on this pass's outputs (untimed)."""
        import checks
        from pyspark.sql import functions as F

        wl, cfg = self.wl, self.cfg
        order = [(r["round"], r["rank"], r["url_canon"]) for r in out["order"]]
        want = self.oracle.crawl_order
        checks.crawl_order(order, want)
        checks.resumed_rounds(order, want, range(wl.fresh_rounds + 1, wl.rounds + 1))
        seen = [tuple(r) for r in eng.url_seen().select("url_canon", "first_seen_round", "last_status").collect()]
        checks.url_seen(seen, self.oracle.url_seen)
        fetched = [
            tuple(r)
            for r in eng.fetch_log()
            .filter(F.col("status") == "fetched")
            .select("url_canon", "text_extracted")
            .collect()
        ]
        checks.text(fetched, self.expected_text)
        counters = [eng.store.read_manifest(r)["counters"] for r in range(1, wl.rounds + 1)]
        checks.round_counters(counters)
        checks.ranks(order, {c["round"]: c["n_taken"] for c in counters})
        checks.host_budget(order, self.delays, cfg.base_host_budget, cfg.round_period())
        frontier_pending = (
            eng.frontier_at(wl.rounds).filter(F.col("status") == "pending").count()
        )
        checks.pending(counters[-1]["n_pending_after"], frontier_pending)
        checks.totals(
            sum(r["n_urls"] for r in out["overview"]),
            out["n_frontier"],
            out["n_seen"],
            frontier_pending,
        )
        checks.refresh_unchanged(out["refresh"])

    # ------------------------------------------------------------ tracing
    def layer_calls(self) -> dict:
        """Direct, traced calls into single layers on the last pass's state."""
        from pyspark.sql import functions as F

        from sitemap_scan_spark.functions.canonicalize import (
            canonicalize_udf,
            with_resolved_canonical,
        )
        from sitemap_scan_spark.functions.extract import extract_links_col, extract_text_col
        from sitemap_scan_spark.operators.urlseen import exact_anti_join
        from sitemap_scan_spark.sources.sitemap import expand_sitemaps

        spark, eng, out = self.spark, self.last_engine, {}
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731

        roots = [f"https://{h}/sitemap.xml" for h in self.seed_hosts]
        out["locs"], _ = self.call(
            "expand_sitemaps",
            lambda: expand_sitemaps(spark, eng.pages_canon, roots, self.cfg).count(),
        )
        _, s = self.call("canonicalize", lambda: noop(self.pages.select(canonicalize_udf("url"))))
        out["canon_rows_per_s"] = self.counters["rows"] / s

        # round 1's fetched HTML, and the (base, href) pairs it links to
        html = (
            eng.store.read_table(spark, 1, "fetch_log")
            .filter(F.col("status") == "fetched")
            .select("url_canon")
            .join(eng.pages_canon.select("url_canon", "html"), "url_canon")
            .localCheckpoint(eager=True)
        )
        n_html = html.count()
        _, s = self.call(
            "extract",
            lambda: noop(html.select(extract_text_col("html"), extract_links_col("html"))),
        )
        out["extract_rows_per_s"] = n_html / s
        pairs = html.select(
            F.col("url_canon").alias("base"), F.explode(extract_links_col("html")).alias("href")
        ).localCheckpoint(eager=True)
        n_pairs = pairs.count()
        _, s = self.call(
            "resolve", lambda: noop(with_resolved_canonical(pairs, "base", "href"))
        )
        out["resolve_rows_per_s"] = n_pairs / s
        cands = (
            with_resolved_canonical(pairs, "base", "href")
            .select("url_canon")
            .distinct()
            .localCheckpoint(eager=True)
        )
        seen = eng.frontier_at(0).select("url_canon").localCheckpoint(eager=True)
        n_new, _ = self.call("anti_join", lambda: exact_anti_join(cands, seen).count())
        out["new_per_candidate"] = n_new / cands.count()
        self.call("read_deltas", lambda: eng.store.read_deltas(spark, "fetch_log").count())
        for df in (html, pairs, cands, seen):
            df.unpersist()
        return out

    def cache_state(self) -> dict:
        """Cached blocks left in the block manager after the passes."""
        jsc = self.spark.sparkContext._jsc
        infos = list(jsc.sc().getRDDStorageInfo())
        return {
            "cache_mb": sum(i.memSize() + i.diskSize() for i in infos) / 1e6,
            "cached_rdds": jsc.getPersistentRDDs().size(),
        }

    def per_layer(self, layer: dict) -> dict:
        """Per-layer metrics from the spans, the event log and the workdir."""
        from spans import read_event_log

        tr = self.tracer
        tr.attribute(read_event_log(self.event_dir))
        med = statistics.median

        def secs(name: str, **attrs) -> float:
            return med(s.seconds for s in tr.named(name, **attrs))

        def count(name: str, key: str, **attrs) -> float:
            return med(s.counts[key] for s in tr.named(name, **attrs))

        plain = {"compacting": False}
        compact = {"compacting": True}
        resumed_first = {"round": self.wl.fresh_rounds + 1}
        per_round = [
            dir_bytes(os.path.join(self.last_workdir, "rounds", f"round_{r:04d}"))
            for r in range(1, self.wl.rounds + 1)
        ]
        out = {
            "construct_s": secs("construct"),
            "construct_jobs": count("construct", "jobs"),
            "init_frontier_s": secs("init_frontier"),
            "init_frontier_jobs": count("init_frontier", "jobs"),
            "round_s": secs("round", **plain),
            "round_jobs": count("round", "jobs", **plain),
            "round_stages": count("round", "stages", **plain),
            "round_tasks": count("round", "tasks", **plain),
            "round_cpu_s": count("round", "cpu_s", **plain),
            "round_shuffle_mb": count("round", "shuffle_write_mb", **plain),
            "compact_round_s": secs("round", **compact),
            "compact_round_jobs": count("round", "jobs", **compact),
            "resume_first_round_s": secs("round", **resumed_first),
            "expand_s": secs("expand_sitemaps"),
            "expand_jobs": count("expand_sitemaps", "jobs"),
            "anti_join_s": secs("anti_join"),
            "bytes_written_per_round": med(b for b, _ in per_round) / 1e6,
            "files_per_round": med(f for _, f in per_round),
            "read_deltas_s": secs("read_deltas"),
            "frontier_at_s": secs("frontier_at"),
            "runs_df_s": secs("runs_df"),
            "progress_s": secs("progress"),
            "overview_s": secs("overview"),
            "url_seen_s": secs("url_seen"),
            "crawl_order_s": secs("crawl_order"),
            "refresh_discovery_s": secs("refresh_discovery"),
        }
        out.update(layer)
        out.update({k: self.setup[k] for k in ("jvm_s", "inputs_s", "oracle_s", "warmup_s")})
        return out

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python workers)
        to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str]) -> int:
    t_proc = process_start()
    if not program_present():
        print("perfbench: run it from the root of a checkout of the crawl engine", file=sys.stderr)
        return 2
    args = parse_args(argv)
    import checks

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)
    passes: list[dict] = []
    correct = True
    try:
        try:
            run.start(t_proc)
            for i in range(max(1, args.seconds // PASS_SECONDS)):
                passes.append(run.crawl_pass(i))
            if args.trace:
                layer = {**run.cache_state(), **run.layer_calls()}
        except checks.CheckFailed as e:
            print(f"perfbench: check failed: {e}", file=sys.stderr)
            correct = False
        finally:
            run.stop()
        print(f"perfbench: set-up {run.setup}, passes {passes}", file=sys.stderr)
        if not correct:
            values = {}
        elif args.trace:
            values = run.per_layer(layer)  # the event log is complete once Spark stopped
            os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
            run.tracer.dump(os.path.join(HERE, "_out", f"trace-{args.workload}-{args.seed}.json"))
        else:
            values = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
            values["setup_s"] = run.setup["setup_s"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not correct:
        print(json.dumps({"correct": False, "attempted": run.calls, "failed": 0, "metrics": {}}))
        return 1
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    print(json.dumps({"correct": True, "attempted": run.calls, "failed": 0, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
