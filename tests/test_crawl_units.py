"""Unit tests for crawl-engine operators (SURVEY §2 / reference spec tests).

Mirrors the reference behavioral tests (src/backup/fetcher.spec.ts):
cycle termination, listener-style incremental discovery (anti-join), robots
parsing, politeness budgets, the dequeue's plan and split-input equivalence,
and the engine's failure and pre-first-round paths.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sitemap_scan_spark.config import CrawlConfig
from sitemap_scan_spark.functions.canonicalize import canonicalize_udf
from sitemap_scan_spark.operators.frontier import dequeue
from sitemap_scan_spark.sources.robots import parse_robots_one, robots_gate
from sitemap_scan_spark.sources.sitemap import expand_sitemaps, parse_sitemap_one


class TestRobots:
    TXT = """# comment
User-agent: Googlebot
Disallow: /google-only/

User-agent: *
Disallow: /private/
Disallow: /tmp/
Crawl-delay: 2.5

Sitemap: https://x.test/sm.xml
Sitemap: https://x.test/sm2.xml
"""

    def test_parse(self):
        r = parse_robots_one(self.TXT)
        assert r.disallow == ["/private/", "/tmp/"]  # star group only
        assert r.crawl_delay == 2
        assert r.sitemaps == ["https://x.test/sm.xml", "https://x.test/sm2.xml"]
        assert r.allows("/public/a") and not r.allows("/private/x")

    def test_empty_and_malformed(self):
        assert parse_robots_one("").disallow == []
        r = parse_robots_one("User-agent: *\nDisallow:\nCrawl-delay: abc")
        assert r.disallow == [] and r.crawl_delay is None

    def test_robots_dim_https_only_port_stripped_unique(self, spark, tmp_path):
        """The rules dim is keyed by port-stripped host with exactly one row
        per host: https wins over http (CRAWL_SPEC Discovery 2 — rules come
        from https://{host}/robots.txt), ported robots rows key to the same
        host the gate extracts, and the gate's left join never fans out."""
        from sitemap_scan_spark.plans.rounds import CrawlEngine

        rows = [
            ("http://a.test/robots.txt", "1", "User-agent: *\nDisallow: /http-only/", "en"),
            ("https://a.test/robots.txt", "1", "User-agent: *\nDisallow: /secret/\nCrawl-delay: 4", "en"),
            ("https://b.test:8080/robots.txt", "1", "User-agent: *\nDisallow: /blocked/", "en"),
        ]
        pages = spark.createDataFrame(
            rows, "url string, warc_ts string, html string, lang string"
        )
        eng = CrawlEngine(spark, pages, CrawlConfig(), str(tmp_path / "wd"))
        dim = {r.host: r for r in eng.robots_dim.collect()}
        assert set(dim) == {"a.test", "b.test"}
        assert dim["a.test"].disallow == ["/secret/"]  # https row won
        assert dim["a.test"].crawl_delay == 4
        assert dim["b.test"].disallow == ["/blocked/"]  # port stripped

        cands = spark.createDataFrame(
            [
                ("https://a.test/secret/x", 1, 0.5),
                ("https://a.test/http-only/x", 1, 0.5),
                ("https://b.test:8080/blocked/x", 1, 0.5),
            ],
            "url_canon string, depth int, priority double",
        )
        gated = eng._gate_inserts(cands, rnd=1).collect()
        assert len(gated) == 3  # one dim row per host → no join fan-out
        st = {r.url_canon: r.status for r in gated}
        assert st["https://a.test/secret/x"] == "robots_blocked"
        assert st["https://a.test/http-only/x"] == "pending"  # http rules ignored
        assert st["https://b.test:8080/blocked/x"] == "robots_blocked"

    def test_gate_jvm_side(self, spark):
        frontier = spark.createDataFrame(
            [
                ("https://a.test/private/x", "a.test"),
                ("https://a.test/ok", "a.test"),
                ("https://b.test/private/x", "b.test"),  # no rules → allowed
            ],
            "url_canon string, host string",
        )
        rules = spark.createDataFrame(
            [("a.test", ["/private/"], None)],
            "host string, disallow array<string>, crawl_delay int",
        )
        got = {r.url_canon: r.blocked for r in robots_gate(frontier, rules).collect()}
        assert got["https://a.test/private/x"] is True
        assert got["https://a.test/ok"] is False
        assert got["https://b.test/private/x"] is False


class TestSitemapParse:
    def test_urlset_with_priority(self):
        xml = (
            "<urlset><url><loc>https://a/1</loc><priority>0.8</priority></url>"
            "<url><loc>https://a/2</loc></url></urlset>"
        )
        kind, entries = parse_sitemap_one(xml)
        assert kind == "urlset"
        assert entries == [("https://a/1", 0.8), ("https://a/2", 0.5)]

    def test_index(self):
        xml = "<sitemapindex><sitemap><loc>https://a/s1.xml</loc></sitemap></sitemapindex>"
        kind, entries = parse_sitemap_one(xml)
        assert kind == "index" and entries[0][0] == "https://a/s1.xml"

    def test_garbage(self):
        assert parse_sitemap_one("<html>not a sitemap</html>")[0] == "other"

    @staticmethod
    def _cycle_pages(spark):
        rows = [
            ("https://c.test/sitemap.xml", "<sitemapindex><sitemap><loc>https://c.test/a.xml</loc></sitemap></sitemapindex>"),
            ("https://c.test/a.xml", "<sitemapindex><sitemap><loc>https://c.test/b.xml</loc></sitemap></sitemapindex>"),
            ("https://c.test/b.xml", "<sitemapindex><sitemap><loc>https://c.test/a.xml</loc></sitemap>"
             "<sitemap><loc>https://c.test/c.xml</loc></sitemap></sitemapindex>"),
            ("https://c.test/c.xml", "<urlset><url><loc>https://c.test/p1</loc></url></urlset>"),
        ]
        return spark.createDataFrame(
            [(u, x.encode()) for u, x in rows], "url_canon string, html binary"
        )

    def test_cycle_terminates(self, spark):
        """Mirrors fetcher.spec.ts:65-99 — A→B→A must terminate."""
        locs = expand_sitemaps(
            spark, self._cycle_pages(spark), ["https://c.test/sitemap.xml"], CrawlConfig()
        ).collect()
        assert [r.url_canon for r in locs] == ["https://c.test/p1"]

    def test_visited_cap(self, spark):
        """≤ max_visited sitemaps per host (fetcher.ts:82)."""
        rows = [
            (
                "https://d.test/sitemap.xml",
                "<sitemapindex>"
                + "".join(
                    f"<sitemap><loc>https://d.test/s{i}.xml</loc></sitemap>"
                    for i in range(10)
                )
                + "</sitemapindex>",
            )
        ] + [
            (
                f"https://d.test/s{i}.xml",
                f"<urlset><url><loc>https://d.test/p{i}</loc></url></urlset>",
            )
            for i in range(10)
        ]
        pages = spark.createDataFrame(
            [(u, x.encode()) for u, x in rows], "url_canon string, html binary"
        )
        cfg = CrawlConfig(sitemap_max_visited=4)  # root + 3 children
        locs = expand_sitemaps(spark, pages, ["https://d.test/sitemap.xml"], cfg)
        assert locs.count() == 3

    def test_body_prefilter_keeps_what_the_parser_parses(self, spark):
        """The JVM-side root-tag prefilter keeps exactly the bodies the
        Python parser calls a urlset or an index: ASCII whitespace and case
        folding on both sides, undecodable bytes replaced on both sides."""
        from sitemap_scan_spark.sources.sitemap import _SITEMAP_BODY_RLIKE

        bodies = [
            b"<urlset><url><loc>https://a/1</loc></url></urlset>",
            b"<?xml version='1.0'?>\n< URLSET\txmlns='x'>",
            b"<\x0bSitemapIndex\r\n>",
            b"\xff\xfe<urlset>",
            b"<urlset/>",
            b"<urlsets>",
            b"<\xc2\xa0urlset>",  # no-break space is not ASCII whitespace
            "<urlſet>".encode(),  # long s folds to s only under Unicode rules
            b"<html><p>urlset sitemapindex</p></html>",
            b"",
        ]
        pages = spark.createDataFrame(
            [(str(i), b) for i, b in enumerate(bodies)], "url_canon string, html binary"
        )
        kept = {
            int(r.url_canon)
            for r in pages.filter(
                F.col("html").cast("string").rlike(_SITEMAP_BODY_RLIKE)
            ).collect()
        }
        parsed = {
            i
            for i, b in enumerate(bodies)
            if parse_sitemap_one(b.decode("utf-8", "replace"))[0] != "other"
        }
        assert kept == parsed == {0, 1, 2, 3}

    def test_missing_children_count_toward_cap(self, spark):
        """A listed child sitemap is visited — and counts toward the
        per-host cap — even when pages holds no body for it, as in the
        oracle, which marks a sitemap visited before it looks the body up."""
        from sim.oracle import OracleCrawler

        root = "https://m.test/sitemap.xml"
        rows = [
            (
                root,
                "<sitemapindex>"
                + "".join(
                    f"<sitemap><loc>https://m.test/s{i}.xml</loc></sitemap>"
                    for i in range(10)
                )
                + "</sitemapindex>",
            )
        ] + [  # only the odd children exist
            (
                f"https://m.test/s{i}.xml",
                f"<urlset><url><loc>https://m.test/p{i}</loc></url></urlset>",
            )
            for i in range(1, 10, 2)
        ]
        pages = spark.createDataFrame(
            [(u, x.encode()) for u, x in rows], "url_canon string, html binary"
        )
        cfg = CrawlConfig(sitemap_max_visited=4)  # root + s0, s1, s2
        got = {
            r.url_canon: r.priority
            for r in expand_sitemaps(spark, pages, [root], cfg).collect()
        }
        oracle = OracleCrawler(
            pd.DataFrame({"url": [u for u, _ in rows], "html": [x for _, x in rows]}),
            cfg,
        )
        assert got == oracle._expand_sitemaps([root]) == {"https://m.test/p1": 0.5}

    def test_non_xml_sitemap_matches_oracle(self, spark, tmp_path):
        """A sitemap is what its root tag says it is, whatever its URL
        (CRAWL_SPEC Discovery 3): a robots-declared index at a non-.xml URL,
        listing a non-.xml urlset, discovers /p2, which no page links to."""
        import os

        from sim.oracle import OracleCrawler
        from sitemap_scan_spark.plans.rounds import CrawlEngine

        rows = [
            ("https://n.test/robots.txt", "User-agent: *\nSitemap: https://n.test/sitemap_index"),
            (
                "https://n.test/sitemap_index",
                "<sitemapindex><sitemap><loc>https://n.test/list</loc></sitemap></sitemapindex>",
            ),
            (
                "https://n.test/list",
                "<urlset><url><loc>https://n.test/p1</loc><priority>0.9</priority></url>"
                "<url><loc>https://n.test/p2</loc></url></urlset>",
            ),
            ("https://n.test/", '<html><a href="/p1">one</a></html>'),
            ("https://n.test/p1", "<html>one</html>"),
            ("https://n.test/p2", "<html>two</html>"),
        ]
        pdf = pd.DataFrame(
            {
                "url": [u for u, _ in rows],
                "warc_ts": pd.to_datetime(["2026-01-01"] * len(rows))
                .tz_localize("UTC")
                .astype("datetime64[us, UTC]"),
                "html": [x.encode() for _, x in rows],
                "lang": ["en"] * len(rows),
            }
        )
        seeds = pd.DataFrame({"seed_url": ["https://n.test/"], "priority": [0.8]})
        corpus = str(tmp_path / "corpus")
        os.makedirs(corpus)
        pdf.to_parquet(f"{corpus}/pages.parquet", index=False)
        seeds.to_parquet(f"{corpus}/seeds.parquet", index=False)
        cfg = CrawlConfig(base_host_budget=10, round_size=100, max_rounds=3)

        eng = CrawlEngine(
            spark, spark.read.parquet(f"{corpus}/pages.parquet"), cfg, str(tmp_path / "wd")
        )
        eng.init_frontier(spark.read.parquet(f"{corpus}/seeds.parquet"))
        got = {r.url_canon: r.priority for r in eng.frontier_at(0).collect()}

        oracle = OracleCrawler(pdf, cfg)
        want = oracle._expand_sitemaps(oracle._robots("n.test").sitemaps)
        want["https://n.test/"] = 0.8
        assert got == want
        assert set(got) == {"https://n.test/", "https://n.test/p1", "https://n.test/p2"}
        eng.close()

    def test_expand_job_count(self, spark):
        """Spark jobs launched by one expansion (and the collect of its
        result) of the cycle corpus: four BFS levels, each one checkpointed
        capped batch and one checkpointed parse, with no empty fifth level
        and no emptiness probe. The visited and level unions stay at
        spark.sql.shuffle.partitions, so no stage runs more tasks than a
        shuffle (the unions used to grow by every level's partitions)."""
        sc = spark.sparkContext
        sc.setJobGroup("expand_job_count", "expand_sitemaps")
        try:
            locs = expand_sitemaps(
                spark, self._cycle_pages(spark), ["https://c.test/sitemap.xml"], CrawlConfig()
            ).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert [r.url_canon for r in locs] == ["https://c.test/p1"]
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup("expand_job_count")
        assert len(jobs) <= 31
        tasks = [
            tracker.getStageInfo(stage).numTasks
            for job in jobs
            for stage in tracker.getJobInfo(job).stageIds
            if tracker.getStageInfo(stage) is not None
        ]
        assert tasks and max(tasks) <= int(spark.conf.get("spark.sql.shuffle.partitions"))

    def test_sitemap_subset_released_when_parse_raises(self, spark, monkeypatch):
        """The cached sitemap subset leaves Spark's CacheManager even when a
        level fails: a default priority that cannot convert to double makes
        the parse of c.xml (a urlset loc without <priority>) raise."""
        pages = self._cycle_pages(spark)
        persisted = []
        persist = type(pages).persist

        def spy(self, *args, **kwargs):
            persisted.append(self)
            return persist(self, *args, **kwargs)

        monkeypatch.setattr(type(pages), "persist", spy)
        with pytest.raises(Exception, match="not a number"):
            expand_sitemaps(
                spark,
                pages,
                ["https://c.test/sitemap.xml"],
                CrawlConfig(sitemap_default_priority="not a number"),
            )
        cache = spark._jsparkSession.sharedState().cacheManager()
        assert persisted
        assert all(cache.lookupCachedData(df._jdf).isEmpty() for df in persisted)


class TestDequeue:
    def _frontier(self, spark, n_hot=500, n_cold=20):
        rows = []
        for i in range(n_hot):
            rows.append((f"https://hot.test/p{i:04d}", "hot.test", 1, 0.5, 0, None))
        for i in range(n_cold):
            rows.append((f"https://cold.test/p{i:04d}", "cold.test", 1, 0.9, 0, 5))
        return spark.createDataFrame(
            rows,
            "url_canon string, host string, depth int, priority double, "
            "discovered_round int, crawl_delay int",
        )

    def test_budget_and_order(self, spark):
        f = self._frontier(spark)
        taken = dequeue(f, base_budget=10, round_size=1000).collect()
        by_host = {}
        for r in taken:
            by_host.setdefault(r.host, []).append(r)
        assert len(by_host["hot.test"]) == 10
        # crawl_delay 5 → budget max(1, 10//5) = 2
        assert len(by_host["cold.test"]) == 2
        # global rank follows (priority desc, ...): cold (0.9) before hot (0.5)
        ranks = {r.url_canon: r.rank for r in taken}
        assert ranks["https://cold.test/p0000"] == 1
        assert ranks["https://hot.test/p0000"] == 3

    def test_round_size_cap(self, spark):
        f = self._frontier(spark, n_hot=300, n_cold=5)
        taken = dequeue(f, base_budget=1000, round_size=50)
        assert taken.count() == 50
        ranks = sorted(r.rank for r in taken.collect())
        assert ranks == list(range(1, 51))

    def test_parts_dequeue_equals_union_dequeue(self, spark):
        """Split-input dequeue (partitioned base + tail, the engine's
        O(round) cache layout) must produce bit-identical output to a
        single-part dequeue of the union."""
        f = self._frontier(spark, n_hot=2000, n_cold=30)
        base_rows = f.filter(~F.col("url_canon").rlike("p00[0-4]"))
        tail = f.filter(F.col("url_canon").rlike("p00[0-4]"))
        base = base_rows.repartition(8, "url_canon").persist()
        base.count()
        got = dequeue([base, tail], 25, 500).select("url_canon", "rank")
        want = dequeue(f, 25, 500).select("url_canon", "rank")
        assert sorted(got.collect()) == sorted(want.collect())
        base.unpersist()

    def test_base_tail_plan_is_group_limit_then_top_k(self, spark):
        """The per-round dequeue plan on the engine's input (the pending
        rows of a url_canon-partitioned persisted frontier base, and the
        tail's pending inserts, each minus the keys the tail's rounds
        fetched): a map-side ``WindowGroupLimit Partial`` before the
        per-host Exchange, a ``TakeOrderedAndProject`` cap, and no
        single-partition Exchange — no task ever sees every survivor."""
        from sitemap_scan_spark.operators.urlseen import exact_anti_join

        f = self._frontier(spark, n_hot=3000, n_cold=50).withColumn(
            "status",
            F.when(F.col("url_canon").endswith("7"), "fetched").otherwise("pending"),
        )
        base = f.repartition(8, "url_canon").persist()
        base.count()
        inserts = f.filter(F.col("url_canon").rlike("p000[0-4]")).withColumn(
            "url_canon", F.concat("url_canon", F.lit("/t"))
        )
        taken = f.unionByName(inserts).filter(
            F.col("url_canon").rlike("p00[0-3]|p0000/t")
        )
        pending = F.col("status") == "pending"
        parts = [
            exact_anti_join(base.filter(pending), taken),
            exact_anti_join(inserts.filter(pending), taken),
        ]
        dq = dequeue(parts, base_budget=10, round_size=8)
        got = sorted((r.rank, r.url_canon) for r in dq.collect())
        dq.unpersist()
        # the plan of the same query uncached (a persisted frame's own plan
        # prints as an InMemoryTableScan)
        plan = dq.select("*")._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "SinglePartition" not in plan
        partial = plan.index("Partial")
        assert "WindowGroupLimit" in plan[plan.rfind("\n", 0, partial) : partial]
        # the partial limit runs below (i.e. before) the per-host shuffle
        assert plan.index("Exchange hashpartitioning(host") < partial
        want = dequeue(
            exact_anti_join(f.unionByName(inserts).filter(pending), taken), 10, 8
        )
        assert got == sorted((r.rank, r.url_canon) for r in want.collect())
        assert [rank for rank, _ in got] == list(range(1, 9))
        assert "https://hot.test/p0000/t" not in {u for _, u in got}
        want.unpersist()
        base.unpersist()


class TestWallClockPoliteness:
    """CRAWL_SPEC Round 3a: a crawl_delay > round_period host is dequeued
    only every ceil(delay/period) rounds — and the distributed engine matches
    the sequential oracle exactly on such a corpus."""

    def _corpus(self, path, slow_paths=("a", "b", "c"), slow="slow.test"):
        import os

        import pandas as pd

        os.makedirs(path, exist_ok=True)
        rows = [
            (f"https://{slow}/robots.txt", "User-agent: *\nCrawl-delay: 25"),
            (
                f"https://{slow}/sitemap.xml",
                "<urlset>"
                + "".join(
                    f"<url><loc>https://{slow}/{p}</loc></url>"
                    for p in slow_paths
                )
                + "</urlset>",
            ),
            ("https://fast.test/sitemap.xml",
             "<urlset><url><loc>https://fast.test/x</loc></url>"
             "<url><loc>https://fast.test/y</loc></url></urlset>"),
        ]
        for u in (f"https://{slow}/",
                  *(f"https://{slow}/{p}" for p in slow_paths),
                  "https://fast.test/", "https://fast.test/x",
                  "https://fast.test/y"):
            rows.append((u, f"<html><body><p>page {u}</p></body></html>"))
        pdf = pd.DataFrame(
            {
                "url": [r[0] for r in rows],
                "warc_ts": pd.to_datetime(["2026-01-01"] * len(rows))
                .tz_localize("UTC")
                .astype("datetime64[us, UTC]"),
                "html": [r[1].encode() for r in rows],
                "lang": ["en"] * len(rows),
            }
        )
        pdf.to_parquet(os.path.join(path, "pages.parquet"), index=False)
        pd.DataFrame(
            {
                "seed_url": [f"https://{slow}/", "https://fast.test/"],
                "priority": [0.8, 0.8],
            }
        ).to_parquet(os.path.join(path, "seeds.parquet"), index=False)

    def test_delay_host_skips_rounds_and_matches_oracle(self, spark, tmp_path):
        import pandas as pd

        from sim.oracle import OracleCrawler
        from sitemap_scan_spark.plans.rounds import CrawlEngine

        corpus = str(tmp_path / "corpus")
        self._corpus(corpus)
        # period = base_host_budget = 10; delay 25 → one fetch every
        # ceil(25/10) = 3 rounds: slow.test dequeued in rounds 1, 4, 7, 10
        cfg = CrawlConfig(base_host_budget=10, round_size=100, max_rounds=12)
        eng = CrawlEngine(
            spark,
            spark.read.parquet(f"{corpus}/pages.parquet"),
            cfg,
            str(tmp_path / "wd"),
        )
        eng.run(spark.read.parquet(f"{corpus}/seeds.parquet"))
        order = [
            (r.round, r.rank, r.url_canon) for r in eng.crawl_order().collect()
        ]
        slow_rounds = sorted(
            {rnd for rnd, _rk, u in order if u.startswith("https://slow")}
        )
        assert slow_rounds == [1, 4, 7, 10]
        # one slow fetch per eligible round, never more
        from collections import Counter

        per_round = Counter(
            rnd for rnd, _rk, u in order if u.startswith("https://slow")
        )
        assert set(per_round.values()) == {1}
        # fast host unaffected: fully crawled in round 1 + link round(s)
        fast_rounds = sorted(
            {rnd for rnd, _rk, u in order if u.startswith("https://fast")}
        )
        assert fast_rounds[0] == 1

        # exact parity with the sequential oracle under the same semantics
        oracle = OracleCrawler(pd.read_parquet(f"{corpus}/pages.parquet"), cfg)
        res = oracle.crawl(pd.read_parquet(f"{corpus}/seeds.parquet"))
        assert sorted(order) == sorted(res.crawl_order)
        got_seen = sorted(
            (r.url_canon, r.first_seen_round, r.last_status)
            for r in eng.url_seen().collect()
        )
        want_seen = sorted(
            (u, r, s) for u, (r, s) in res.url_seen.items()
        )
        assert got_seen == want_seen

    def test_sleep_gate_keeps_group_limit_plan(
        self, spark, tmp_path, monkeypatch
    ):
        """A round with a sleeping host gates it with a narrow NOT IN filter
        on host: the round's dequeue plan builds no broadcast and scans no
        driver-built relation, and the map-side ``WindowGroupLimit
        Partial`` still runs below the per-host Exchange. Compacting every
        round leaves the persisted base as the round's only pending part,
        so any broadcast in the plan would be the gate's."""
        from sitemap_scan_spark.plans import rounds

        corpus = str(tmp_path / "corpus")
        self._corpus(corpus)
        cfg = CrawlConfig(
            base_host_budget=10,
            round_size=100,
            max_rounds=2,
            frontier_compact_every=1,
        )
        plans = []
        real_dequeue = rounds.dequeue

        def planned_dequeue(*args, **kwargs):
            dq = real_dequeue(*args, **kwargs)
            # the plan of the query itself, not of its (unmaterialized) cache
            dq.unpersist()
            plans.append(dq.select("*")._jdf.queryExecution().executedPlan().toString())
            return dq.persist()

        monkeypatch.setattr(rounds, "dequeue", planned_dequeue)
        eng = rounds.CrawlEngine(
            spark,
            spark.read.parquet(f"{corpus}/pages.parquet"),
            cfg,
            str(tmp_path / "wd"),
        )
        eng.run(spark.read.parquet(f"{corpus}/seeds.parquet"))
        assert len(plans) == 2
        # round 2: slow.test, fetched in round 1, sleeps until round 4
        plan = plans[1]
        assert "BroadcastExchange" not in plan
        assert "Scan ExistingRDD" not in plan
        assert "slow.test" in plan  # the gate's literal
        partial = plan.index("Partial")
        assert "WindowGroupLimit" in plan[plan.rfind("\n", 0, partial) : partial]
        assert plan.index("Exchange hashpartitioning(host") < partial
        assert not any(
            r.url_canon.startswith("https://slow")
            for r in eng.crawl_order().filter("round = 2").collect()
        )

    def test_sleep_gate_builds_in_one_call_at_10k_hosts(self, spark):
        """The gate over 10k sleeping hosts is one SQL string: it builds in
        well under a second (isin() made one py4j call per host, 4.5 s at
        10k) and keeps exactly the rows whose host is awake."""
        import time

        from sitemap_scan_spark.functions.sqlexpr import string_in

        hosts = [f"h{i}.test" for i in range(10_000)]
        t = time.perf_counter()
        awake = ~string_in("host", sorted(hosts))
        built = time.perf_counter() - t
        assert built < 0.5, built
        df = spark.createDataFrame(
            pd.DataFrame({"host": ["h7.test", "awake.test", "h9999.test", "h10000.test"]})
        )
        assert sorted(r.host for r in df.filter(awake).collect()) == [
            "awake.test",
            "h10000.test",
        ]

    def test_quoted_host_gated_like_oracle(self, spark, tmp_path):
        """A crawled host name may hold a quote and a backslash; the gate's
        SQL literal escapes both, so the sleeping host a'b\\c.test is gated
        exactly as the oracle gates it (dequeued in rounds 1 and 4 only)."""
        from sim.oracle import OracleCrawler
        from sitemap_scan_spark.plans.rounds import CrawlEngine

        slow = "a'b\\c.test"
        corpus = str(tmp_path / "corpus")
        self._corpus(corpus, slow=slow)
        cfg = CrawlConfig(base_host_budget=10, round_size=100, max_rounds=5)
        eng = CrawlEngine(
            spark, spark.read.parquet(f"{corpus}/pages.parquet"), cfg, str(tmp_path / "wd")
        )
        eng.run(spark.read.parquet(f"{corpus}/seeds.parquet"))
        order = sorted(tuple(r) for r in eng.crawl_order().collect())
        res = OracleCrawler(pd.read_parquet(f"{corpus}/pages.parquet"), cfg).crawl(
            pd.read_parquet(f"{corpus}/seeds.parquet")
        )
        assert order == sorted(res.crawl_order)
        assert sorted({rnd for rnd, _, u in order if u.startswith(f"https://{slow}/")}) == [1, 4]
        eng.close()

    def test_sleep_survives_discovery_refresh(self, spark, tmp_path):
        """Regression (round-3 ADVICE): discovery_refresh commits a round
        WITHOUT a host_state table; the next crawl round must walk back to
        the last round that has one, or hosts mid-sleep become dequeueable
        immediately (silent politeness violation)."""
        import pandas as pd

        from sitemap_scan_spark.plans.rounds import CrawlEngine

        corpus = str(tmp_path / "c1")
        self._corpus(corpus)
        cfg = CrawlConfig(base_host_budget=10, round_size=100, max_rounds=12)
        eng = CrawlEngine(
            spark,
            spark.read.parquet(f"{corpus}/pages.parquet"),
            cfg,
            str(tmp_path / "wd"),
        )
        # delay 25 / period 10: slow.test fetched round 1, then 4 (sleeps
        # 2,3), with next_eligible_round = 7 stamped at round 4
        eng.run(spark.read.parquet(f"{corpus}/seeds.parquet"), max_rounds=4)

        # sitemap gains a genuinely new loc → refresh commits round 5
        # (no host_state table on that round)
        corpus2 = str(tmp_path / "c2")
        self._corpus(corpus2, slow_paths=("a", "b", "c", "brandnew"))
        eng2 = CrawlEngine(
            spark,
            spark.read.parquet(f"{corpus2}/pages.parquet"),
            cfg,
            str(tmp_path / "wd"),
            refresh_pages=True,
        )
        r = eng2.refresh_discovery()
        assert r["re_expanded"] == 1 and r["n_new"] == 1
        refresh_round = eng2.store.latest_round()
        assert refresh_round == 5
        assert not eng2.store.has_table(refresh_round, "host_state")

        # resume: rounds 6,7,8 — slow.test must stay asleep through round 6
        # (next_eligible_round=7 from round 4's host_state), not wake early
        eng2.run(spark.read.parquet(f"{corpus2}/seeds.parquet"), max_rounds=8)
        slow_rounds = sorted(
            {
                r.round
                for r in eng2.crawl_order().collect()
                if r.url_canon.startswith("https://slow")
            }
        )
        assert slow_rounds == [1, 4, 7]


class TestCanonicalizeUdfNulls:
    def test_invalid_inputs_dropped(self, spark):
        df = spark.createDataFrame(
            [("https://ok.test/a",), ("::bad::",), (None,), ("mailto:x@y",)], ["u"]
        ).select(canonicalize_udf("u").alias("c"))
        vals = [r.c for r in df.collect()]
        assert sorted(v for v in vals if v) == ["https://ok.test/a"]


def _cache_engine(spark, tmp_path):
    """An engine on a 10-host generated corpus whose crawl spans several
    compaction cycles (compact every 3 rounds), plus its seeds."""
    from sim.genpages import generate
    from sitemap_scan_spark.plans.rounds import CrawlEngine

    corpus = str(tmp_path / "corpus")
    if not (tmp_path / "corpus").exists():
        generate(corpus, n_hosts=10, mean_pages=30, n_seeds=3, seed=11)
    cfg = CrawlConfig(
        base_host_budget=4, round_size=60, max_rounds=8,
        frontier_compact_every=3,
    )
    eng = CrawlEngine(
        spark, spark.read.parquet(f"{corpus}/pages.parquet"), cfg,
        str(tmp_path / "wd"),
    )
    return eng, spark.read.parquet(f"{corpus}/seeds.parquet")


class TestPendingCacheLineage:
    def test_pending_lineage_bounded_by_compaction(self, spark, tmp_path):
        """ADVICE round-3 (unbounded cache lineage): the dequeue input's
        plan must not grow with the crawl. The joins in it depend only on
        the round's position in the compaction cycle — none right after a
        compaction (empty tail), one anti-join per part otherwise — so
        round 4 looks like round 1, round 5 like round 2, … (an advance
        chain growing with every round risked O(R²) Catalyst analysis and
        a driver StackOverflowError)."""
        eng, seeds = _cache_engine(spark, tmp_path)
        eng.init_frontier(seeds)

        def joins_in_dequeue_input(rnd):
            return sum(
                p._jdf.queryExecution().optimizedPlan().toString().count("Join")
                for p in eng._pending_parts(rnd)
            )

        depths = {}
        for rnd in range(1, 9):
            if eng.run(seeds, max_rounds=rnd) == []:
                break
            depths[rnd] = joins_in_dequeue_input(rnd)
        k = eng.cfg.frontier_compact_every
        assert len(depths) > k + 1, depths  # the crawl spans a compaction
        by_pos: dict[int, set[int]] = {}
        for rnd, d in depths.items():
            by_pos.setdefault(rnd % k, set()).add(d)
        for pos, ds in by_pos.items():
            assert len(ds) == 1, (pos, depths)
        assert by_pos[0] == {0}, depths
        assert all(ds == {2} for pos, ds in by_pos.items() if pos != 0), depths


class TestFrontierCache:
    def test_one_persisted_frontier_after_resume_and_compaction(self, spark, tmp_path):
        """A resumed engine's first round and a compacting round each leave
        the engine holding exactly two persisted frames: the robots dim and
        ONE frontier cache (no separate pending and seen caches)."""
        from pyspark.sql import DataFrame
        from pyspark.storagelevel import StorageLevel

        first, seeds = _cache_engine(spark, tmp_path)
        first.run(seeds, max_rounds=1)
        first.close()

        eng, seeds = _cache_engine(spark, tmp_path)

        def persisted():
            return {
                name
                for name, v in vars(eng).items()
                if isinstance(v, DataFrame) and v.storageLevel != StorageLevel.NONE
            }

        assert len(eng.run(seeds, max_rounds=2)) == 1  # resumed at round 2
        assert persisted() == {"robots_dim", "_frontier"}
        assert eng._tail_rounds == [2]
        assert len(eng.run(seeds, max_rounds=3)) == 1  # 3 % compact_every == 0
        assert persisted() == {"robots_dim", "_frontier"}
        assert eng._frontier_round == 3 and eng._tail_rounds == []
        eng.close()


class TestFailurePathRobustness:
    """Unhappy, early and final paths of the engine: the dequeue's
    persisted fetch set is released when the round fails, the read API
    answers before the first round commits, and close() releases what the
    engine persists."""

    def _corpus(self, path):
        import os

        import pandas as pd

        os.makedirs(path, exist_ok=True)
        rows = [
            ("https://h.test/robots.txt", "User-agent: *\nDisallow: /b"),
            (
                "https://h.test/sitemap.xml",
                "<urlset><url><loc>https://h.test/a</loc></url>"
                "<url><loc>https://h.test/b</loc></url></urlset>",
            ),
            ("https://h.test/a",
             '<html><a href="/c1">x</a><a href="/c2">y</a></html>'),
            ("https://h.test/b", '<html><a href="/c3">z</a></html>'),
            ("https://h.test/c1", "<html>leaf</html>"),
            ("https://h.test/c2", "<html>leaf</html>"),
            ("https://h.test/c3", "<html>leaf</html>"),
        ]
        pdf = pd.DataFrame(
            {
                "url": [r[0] for r in rows],
                "warc_ts": pd.to_datetime(["2026-01-01"] * len(rows))
                .tz_localize("UTC")
                .astype("datetime64[us, UTC]"),
                "html": [r[1].encode() for r in rows],
                "lang": ["en"] * len(rows),
            }
        )
        pdf.to_parquet(os.path.join(path, "pages.parquet"), index=False)
        pd.DataFrame(
            {"seed_url": ["https://h.test/a"], "priority": [0.8]}
        ).to_parquet(os.path.join(path, "seeds.parquet"), index=False)

    def _engine(self, spark, tmp_path):
        from sitemap_scan_spark.plans.rounds import CrawlEngine

        corpus = str(tmp_path / "corpus")
        self._corpus(corpus)
        cfg = CrawlConfig(base_host_budget=10, round_size=100, max_rounds=3)
        eng = CrawlEngine(
            spark,
            spark.read.parquet(f"{corpus}/pages.parquet"),
            cfg,
            str(tmp_path / "wd"),
        )
        eng.init_frontier(spark.read.parquet(f"{corpus}/seeds.parquet"))
        return eng

    def test_dequeue_released_when_fetch_log_write_raises(self, spark, tmp_path):
        """The fetch_log write fails after its job ran (the persisted
        dequeue result is materialized by then): the round must propagate
        the error and leave no persisted RDD behind beyond the engine's one
        frontier cache."""
        from sitemap_scan_spark.plans.checkpoint import RoundStore

        eng = self._engine(spark, tmp_path)
        jsc = spark.sparkContext._jsc

        class FailAfterFetchLog(RoundStore):
            def write_table(self, spark_, rnd, name, df):
                out = super().write_table(spark_, rnd, name, df)
                if name == "fetch_log":
                    raise RuntimeError("fetch_log write failed")
                return out

        eng.store = FailAfterFetchLog(eng.store.root)
        before = set(jsc.getPersistentRDDs().keySet())
        with pytest.raises(RuntimeError, match="fetch_log write failed"):
            eng.run_round(1)
        leaked = set(jsc.getPersistentRDDs().keySet()) - before
        assert eng._frontier is not None  # the round got past the dequeue
        assert len(leaked) == 1, leaked  # the frontier cache only

    def test_read_api_before_first_round(self, spark, tmp_path):
        """Right after init_frontier: crawl_order() and fetch_log() are
        empty frames with their usual columns, and url_seen() holds round
        0's robots_blocked rows."""
        eng = self._engine(spark, tmp_path)
        order = eng.crawl_order()
        assert order.columns == ["round", "rank", "url_canon"]
        assert order.count() == 0
        log = eng.fetch_log()
        assert log.columns == ["round", "url_canon", "status", "text_extracted"]
        assert log.count() == 0
        seen = [tuple(r) for r in eng.url_seen().collect()]
        assert seen == [("https://h.test/b", 0, "robots_blocked")]

    def test_close_releases_persisted_frames(self, spark, tmp_path):
        """After close() the robots dim and the frontier cache report
        storage level NONE."""
        from pyspark.storagelevel import StorageLevel

        eng = self._engine(spark, tmp_path)
        eng.run_round(1)
        frames = [eng.robots_dim, eng._frontier]
        assert all(f.storageLevel != StorageLevel.NONE for f in frames)
        eng.close()
        assert [f.storageLevel for f in frames] == [StorageLevel.NONE] * 2


def _python_nodes(plan: str) -> int:
    """ArrowEvalPython + MapInPandas nodes of a physical plan string,
    leaving out the plans of cached relations it scans (a cached frame's
    Python ran when it was cached, not in this query)."""
    n, cached_at = 0, None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-|"))
        if cached_at is not None and depth > cached_at:
            continue
        cached_at = depth if "InMemoryRelation" in line else None
        n += ("ArrowEvalPython" in line) + ("MapInPandas" in line)
    return n


class TestNoIdlePython:
    """Python workers only ever see rows: frames built on the driver enter
    Spark as Arrow LocalRelations, and each pandas UDF runs once per row."""

    def test_no_list_built_frame_in_a_crawl(self, spark, tmp_path, monkeypatch):
        """A list passed to createDataFrame becomes a PythonRDD, so every
        evaluation of the frame runs a Python task per partition. Through
        construction, discovery, the read API before round 1, two rounds, a
        resume into a compacting round, runs_df and refresh_discovery, every
        createDataFrame call receives a pandas or Arrow table."""
        import pyarrow as pa
        from pyspark.sql import SparkSession

        from sitemap_scan_spark.plans.metrics import runs_df

        received = []
        create = SparkSession.createDataFrame

        def spy(self, data, *args, **kwargs):
            received.append(type(data).__name__)
            assert isinstance(data, (pd.DataFrame, pa.Table)), type(data)
            return create(self, data, *args, **kwargs)

        monkeypatch.setattr(SparkSession, "createDataFrame", spy)
        eng, seeds = _cache_engine(spark, tmp_path)
        eng.init_frontier(seeds)
        assert eng.crawl_order().count() == 0 and eng.fetch_log().count() == 0
        assert eng.url_seen().count() >= 0 and eng.overview().collect()
        assert [s["round"] for s in eng.run(seeds, max_rounds=2)] == [1, 2]
        eng.close()
        resumed, seeds = _cache_engine(spark, tmp_path)
        assert [s["round"] for s in resumed.run(seeds, max_rounds=3)] == [3]
        assert resumed._frontier_round == 3  # the compaction rebased the cache
        assert [r["round"] for r in runs_df(spark, resumed.store).collect()] == [0, 1, 2, 3]
        assert resumed.refresh_discovery()["re_expanded"] == 0
        resumed.close()
        assert received  # the spy saw the driver-built frames

    def test_one_python_pass_per_row(self, spark, tmp_path, monkeypatch):
        """The construct write, the round-0 frontier write (the seeds plan)
        and round 1's inserts write plan one ArrowEvalPython per
        canonicalized input: a filter on a UDF's output pushed below its
        projection would plan a second one. Both UDFs stay deterministic."""
        from pyspark.sql.readwriter import DataFrameWriter

        from sitemap_scan_spark.functions.canonicalize import (
            canonicalize_udf,
            resolve_canonicalize_udf,
        )

        plans = {}
        parquet = DataFrameWriter.parquet

        def spy(self, path, *args, **kwargs):
            key = "/".join(path.rstrip("/").split("/")[-2:])
            plans[key] = self._df._jdf.queryExecution().executedPlan().toString()
            return parquet(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", spy)
        eng, seeds = _cache_engine(spark, tmp_path)
        eng.run(seeds, max_rounds=1)
        eng.close()
        construct = plans["wd/pages_canon"]
        seeds_plan = plans["round_0000/frontier"]
        inserts = plans["round_0001/frontier_inserts"]
        assert _python_nodes(construct) == 1
        assert "canonicalize_udf" in construct
        assert _python_nodes(seeds_plan) == 1
        assert "canonicalize_udf(seed_url" in seeds_plan
        # one pass on each branch of the links ∪ redirects union
        assert inserts.count("resolve_canonicalize_udf") == 2
        assert _python_nodes(inserts) == 2
        assert canonicalize_udf.deterministic and resolve_canonicalize_udf.deterministic
