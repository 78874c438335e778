"""End-to-end parity: distributed engine == sequential oracle (CRAWL_SPEC.md).

Asserts on the tiny corpus (50 hosts / ~5k pages, seed=42):
- exact crawl order (round, rank, url_canon),
- exact final URL-seen set (url_canon, first_seen_round, last_status),
- byte-identical extracted text per fetched URL vs the pages.text ground
  truth AND vs the oracle,
- checkpoint/resume: killing after round k and resuming yields the identical
  final state (reference analog: batch_progress resume, fetcher.ts:256-340).
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

from sim.genpages import generate
from sim.oracle import run_oracle
from sitemap_scan_spark.config import CrawlConfig
from sitemap_scan_spark.plans.rounds import CrawlEngine

CORPUS = "/tmp/ssc_corpus_tiny"
CFG = CrawlConfig(base_host_budget=8, round_size=400, max_depth=5, max_rounds=8)


@pytest.fixture(scope="module")
def corpus_dir() -> str:
    if not os.path.exists(os.path.join(CORPUS, "pages.parquet")):
        generate(CORPUS, n_hosts=50, mean_pages=100, n_seeds=5, seed=42)
    return CORPUS


@pytest.fixture(scope="module")
def oracle(corpus_dir):
    return run_oracle(corpus_dir, CFG)


@pytest.fixture(scope="module")
def engine(spark, corpus_dir):
    workdir = "/tmp/ssc_engine_tiny"
    shutil.rmtree(workdir, ignore_errors=True)
    eng = CrawlEngine(
        spark,
        spark.read.parquet(os.path.join(corpus_dir, "pages.parquet")),
        CFG,
        workdir,
    )
    eng.run(spark.read.parquet(os.path.join(corpus_dir, "seeds.parquet")))
    return eng


def test_crawl_order_exact(engine, oracle):
    got = (
        engine.crawl_order()
        .toPandas()
        .sort_values(["round", "rank"])
        .reset_index(drop=True)
    )
    want = oracle.order_df().sort_values(["round", "rank"]).reset_index(drop=True)
    assert len(got) == len(want), (len(got), len(want))
    pd.testing.assert_frame_equal(
        got.astype({"round": "int64", "rank": "int64"}), want.astype({"round": "int64", "rank": "int64"})
    )


def test_url_seen_exact(engine, oracle):
    got = (
        engine.url_seen()
        .toPandas()
        .sort_values("url_canon")
        .reset_index(drop=True)[["url_canon", "first_seen_round", "last_status"]]
    )
    want = oracle.seen_df().sort_values("url_canon").reset_index(drop=True)
    assert len(got) == len(want), (len(got), len(want))
    pd.testing.assert_frame_equal(
        got.astype({"first_seen_round": "int64"}),
        want.astype({"first_seen_round": "int64"}),
    )


def test_text_byte_identical(engine, oracle, spark, corpus_dir):
    # engine-extracted text == ground-truth pages.text (same url_canon)
    from pyspark.sql import functions as F

    from sitemap_scan_spark.functions.canonicalize import canonicalize_udf

    fetched = engine.fetch_log().filter(F.col("status") == "fetched")
    pages = (
        spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
        .withColumn("url_canon", canonicalize_udf("url"))
        .select("url_canon", "text")
    )
    joined = fetched.join(pages, "url_canon", "inner")
    n_total = joined.count()
    n_equal = joined.filter(F.col("text_extracted") == F.col("text")).count()
    assert n_total == fetched.count() > 0
    assert n_equal == n_total

    # and equals the oracle's per-URL text
    want = {u: t for (_r, u, s, t) in oracle.fetch_log if s == "fetched"}
    got = {
        r.url_canon: r.text_extracted
        for r in fetched.select("url_canon", "text_extracted").collect()
    }
    assert got == want


def test_resume_identical(spark, corpus_dir, oracle):
    """Run rounds 1..3, 'kill', resume to completion → identical outputs."""
    workdir = "/tmp/ssc_engine_resume"
    shutil.rmtree(workdir, ignore_errors=True)
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    seeds = spark.read.parquet(os.path.join(corpus_dir, "seeds.parquet"))

    eng1 = CrawlEngine(spark, pages, CFG, workdir)
    eng1.run(seeds, max_rounds=3)
    assert eng1.store.latest_round() == 3

    # simulate a partially-written (uncommitted) round 4 left by a kill
    partial = os.path.join(workdir, "rounds", "round_0004")
    os.makedirs(os.path.join(partial, "frontier"), exist_ok=True)

    eng2 = CrawlEngine(spark, pages, CFG, workdir)
    assert eng2.store.latest_round() == 3  # partial round invisible
    eng2.run(seeds)

    got = (
        eng2.crawl_order()
        .toPandas()
        .sort_values(["round", "rank"])
        .reset_index(drop=True)
    )
    want = oracle.order_df().sort_values(["round", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"round": "int64", "rank": "int64"}),
        want.astype({"round": "int64", "rank": "int64"}),
    )


def test_resume_after_mid_compaction_kill(spark, corpus_dir, oracle):
    """Round-4 VERDICT task 3: the riskiest kill window is MID-COMPACTION —
    the frontier snapshot parquet is on disk but the manifest is not, and
    the in-memory seen-base refold / pending rebase may be half done. Kill
    at BOTH edges of that window (right after the snapshot write; right
    before the manifest commit, i.e. after the refold+rebase), resume with
    a fresh engine, and require the bit-identical final crawl order —
    proving manifest-last covers the compaction path, not just the
    round-boundary kills test_resume_identical exercises."""
    import dataclasses

    from sitemap_scan_spark.plans.checkpoint import RoundStore

    cfg = dataclasses.replace(CFG, frontier_compact_every=2)
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    seeds = spark.read.parquet(os.path.join(corpus_dir, "seeds.parquet"))
    crash_round = 4  # a compaction round (2,4,6,8 with compact_every=2)

    class KillAfterSnapshotWrite(RoundStore):
        """Dies the instant the compaction snapshot parquet is fully
        written — before the seen/pending caches refold from it."""

        def write_table(self, spark_, rnd, name, df):
            out = super().write_table(spark_, rnd, name, df)
            if name == "frontier" and rnd == crash_round:
                raise RuntimeError("killed: snapshot written, manifest absent")
            return out

    class KillBeforeManifestCommit(RoundStore):
        """Dies after the ENTIRE compaction block (snapshot + refold +
        rebase) — the last instant before the round becomes visible."""

        def commit_manifest(self, rnd, counters):
            if rnd == crash_round:
                raise RuntimeError("killed: compaction done, manifest absent")
            return super().commit_manifest(rnd, counters)

    for tag, store_cls in (
        ("postwrite", KillAfterSnapshotWrite),
        ("precommit", KillBeforeManifestCommit),
    ):
        workdir = f"/tmp/ssc_engine_midcompact_{tag}"
        shutil.rmtree(workdir, ignore_errors=True)
        eng1 = CrawlEngine(spark, pages, cfg, workdir)
        eng1.store = store_cls(eng1.store.root)
        with pytest.raises(RuntimeError, match="killed"):
            eng1.run(seeds)
        # the partial compaction round is on disk but invisible
        assert eng1.store.latest_round() == crash_round - 1
        partial = os.path.join(workdir, "rounds", f"round_{crash_round:04d}")
        assert os.path.exists(os.path.join(partial, "fetch_log"))
        assert not os.path.exists(os.path.join(partial, "_manifest.json"))

        eng2 = CrawlEngine(spark, pages, cfg, workdir)  # fresh process
        assert eng2.store.latest_round() == crash_round - 1
        eng2.run(seeds)
        got = (
            eng2.crawl_order()
            .toPandas()
            .sort_values(["round", "rank"])
            .reset_index(drop=True)
        )
        want = oracle.order_df().sort_values(["round", "rank"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            got.astype({"round": "int64", "rank": "int64"}),
            want.astype({"round": "int64", "rank": "int64"}),
        )
        shutil.rmtree(workdir, ignore_errors=True)


def test_manifest_lineage(engine):
    m = engine.store.read_manifest(1)
    assert m["round"] == 1 and m["parent_round"] == 0
    assert m["counters"]["n_taken"] > 0
    # rounds commit DELTAS (full frontier snapshots only every
    # cfg.frontier_compact_every rounds — round 1 has none)
    for t in ("frontier_inserts", "fetch_log"):
        assert m["lineage"][t]["n_files"] >= 1
        assert all(p["rows"] >= 0 for p in m["lineage"][t]["partitions"])
    # crawl_order is a projection of fetch_log, not a separate table
    assert "crawl_order" not in m["lineage"]
    assert "frontier" not in m["lineage"]
    assert m["counters"]["frontier_size"] > 0


def test_frontier_delta_commits_match_snapshots(spark, corpus_dir):
    """The latest-wins reconstructed frontier view (delta commits, K=3) is
    row-identical to the snapshot-every-round engine (K=1) at EVERY round,
    and the crawl outputs are identical."""
    import dataclasses

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    seeds = spark.read.parquet(os.path.join(corpus_dir, "seeds.parquet"))
    engines = {}
    for k in (1, 3):
        wd = f"/tmp/ssc_engine_compact_k{k}"
        shutil.rmtree(wd, ignore_errors=True)
        cfg = dataclasses.replace(CFG, frontier_compact_every=k, max_rounds=5)
        eng = CrawlEngine(spark, pages, cfg, wd)
        eng.run(seeds)
        engines[k] = eng
    e1, e3 = engines[1], engines[3]
    assert e1.store.committed_rounds() == e3.store.committed_rounds()
    for rnd in e1.store.committed_rounds():
        a = sorted(map(tuple, e1.frontier_at(rnd).collect()))
        b = sorted(map(tuple, e3.frontier_at(rnd).collect()))
        assert a == b, f"frontier view diverges at round {rnd}"
        # manifest-tracked size == actual view size (no drift)
        assert len(a) == e3.store.read_manifest(rnd)["counters"]["frontier_size"]
    assert sorted(map(tuple, e1.crawl_order().collect())) == sorted(
        map(tuple, e3.crawl_order().collect())
    )
    assert sorted(map(tuple, e1.url_seen().collect())) == sorted(
        map(tuple, e3.url_seen().collect())
    )


def test_alternate_seed_parity(spark):
    """Parity must hold on a structurally different corpus (different seed:
    different cycle layout, link graph, robots mix)."""
    corpus = "/tmp/ssc_corpus_alt"
    if not os.path.exists(os.path.join(corpus, "pages.parquet")):
        generate(corpus, n_hosts=25, mean_pages=60, n_seeds=4, seed=1337)
    cfg = CrawlConfig(base_host_budget=6, round_size=150, max_depth=4, max_rounds=5)
    want = run_oracle(corpus, cfg)

    workdir = "/tmp/ssc_engine_alt"
    shutil.rmtree(workdir, ignore_errors=True)
    eng = CrawlEngine(
        spark, spark.read.parquet(os.path.join(corpus, "pages.parquet")), cfg, workdir
    )
    eng.run(spark.read.parquet(os.path.join(corpus, "seeds.parquet")))

    got = (
        eng.crawl_order().toPandas().sort_values(["round", "rank"]).reset_index(drop=True)
    )
    w = want.order_df().sort_values(["round", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"round": "int64", "rank": "int64"}),
        w.astype({"round": "int64", "rank": "int64"}),
    )
    gs = (
        eng.url_seen().toPandas().sort_values("url_canon").reset_index(drop=True)[
            ["url_canon", "first_seen_round", "last_status"]
        ]
    )
    ws = want.seen_df().sort_values("url_canon").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        gs.astype({"first_seen_round": "int64"}), ws.astype({"first_seen_round": "int64"})
    )


def test_overview(engine):
    ov = engine.overview().toPandas()
    assert len(ov) > 0
    assert (ov.n_urls == ov.n_pending + ov.n_fetched + ov.n_miss + ov.n_redirect + ov.n_blocked).all()
    assert ov.n_fetched.sum() > 0
