"""Tests: change detection (diffing), scheduler, maintenance, structure
metrics, include filter, rolling recheck cursor, engine progress/reset."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from sitemap_scan_spark.operators.frontier import include_filter, revisit_batch
from sitemap_scan_spark.plans.scheduler import Job, JobQueue, due_sites, matches_cron


@pytest.fixture(scope="module")
def fetch_log(spark):
    rows = [
        # url, round, status, text
        ("https://a/1", 1, "fetched", "hello world stable content here"),
        ("https://a/1", 2, "fetched", "hello world stable content here"),
        ("https://a/1", 3, "fetched", "hello world CHANGED content here indeed"),
        ("https://a/2", 1, "fetched", "page two version one"),
        ("https://a/2", 3, "fetched", "page two version two plus extra"),
        ("https://a/3", 2, "miss", None),
        # date-churn only → normalized-equal (no change)
        ("https://a/4", 1, "fetched", "updated 2024-01-01 body"),
        ("https://a/4", 2, "fetched", "updated 2025-12-31 body"),
    ]
    return spark.createDataFrame(
        rows, "url_canon string, round int, status string, text_extracted string"
    )


class TestDiffing:
    def test_round_pair_diff(self, fetch_log):
        from sitemap_scan_spark.plans.diffing import round_pair_diff

        d = {r.url_canon: r for r in round_pair_diff(fetch_log, 1, 2).collect()}
        assert d["https://a/1"].changed is False
        assert d["https://a/4"].changed is False  # date churn normalized away
        assert "https://a/2" not in d  # not fetched in round 2

    def test_history_lag_flags(self, fetch_log):
        from sitemap_scan_spark.plans.diffing import url_history_flags

        h = {
            (r.url_canon, r.round): r.has_changes
            for r in url_history_flags(fetch_log).collect()
        }
        assert h[("https://a/1", 1)] is False  # first observation
        assert h[("https://a/1", 2)] is False
        assert h[("https://a/1", 3)] is True
        assert h[("https://a/2", 3)] is True

    def test_change_magnitude(self, fetch_log, spark):
        from sitemap_scan_spark.plans.diffing import (
            round_pair_diff,
            with_change_magnitude,
        )

        d = with_change_magnitude(round_pair_diff(fetch_log, 1, 3))
        r = {x.url_canon: x for x in d.collect()}["https://a/1"]
        # prev: "hello world stable content here"
        # curr: "hello world CHANGED content here indeed"
        # common prefix "hello world " (12) + common suffix... compute like ref
        prev = "hello world stable content here"
        curr = "hello world CHANGED content here indeed"
        n = min(len(prev), len(curr))
        i = 0
        while i < n and prev[i] == curr[i]:
            i += 1
        j = 0
        while j < n - i and prev[-1 - j] == curr[-1 - j]:
            j += 1
        assert r.added_chars == len(curr) - i - j
        assert r.removed_chars == len(prev) - i - j

    def test_line_word_diffs(self, spark):
        from sitemap_scan_spark.plans.diffing import line_set_counts, word_diff_sample

        df = spark.createDataFrame(
            [("a\nb\nc", "b\nc\nd\ne", "alpha beta gamma", "beta gamma delta")],
            "la string, lb string, wa string, wb string",
        )
        al, rl = line_set_counts(F.col("la"), F.col("lb"))
        wa, wr = word_diff_sample(F.col("wa"), F.col("wb"))
        row = df.select(al, rl, wa, wr).collect()[0]
        assert row.added_lines == 2 and row.removed_lines == 1
        assert row.words_added == ["delta"] and row.words_removed == ["alpha"]

    def test_summary_and_limit(self, fetch_log):
        from sitemap_scan_spark.plans.diffing import (
            limit_changes,
            round_pair_diff,
            summarize_changes,
        )

        d = round_pair_diff(fetch_log, 1, 3)
        s = summarize_changes(d).collect()[0]
        assert s.n_changed == 2
        assert s.largest_change_url in ("https://a/1", "https://a/2")
        assert limit_changes(d, cap=50).count() == 2


class TestRenderedDiff:
    """F20 (comparer.ts:221-256 + generator.ts:220-246 semantics)."""

    def test_render_semantics(self):
        from sitemap_scan_spark.plans.diffing import render_diff_one

        # modify / add / remove / context rows
        got = render_diff_one("a\nb\nc", "a\nB\nc\nd")
        assert got == "  a\n- b\n+ B\n  c\n+ d"
        got = render_diff_one("a\nb", "a")
        assert got == "  a\n- b"
        # equal inputs → all context
        assert render_diff_one("x\ny", "x\ny") == "  x\n  y"

    def test_truncation_limits(self):
        from sitemap_scan_spark.plans.diffing import render_diff_one

        t1 = "\n".join(f"l{i}" for i in range(30))
        t2 = "\n".join(f"L{i}" for i in range(30))
        got = render_diff_one(t1, t2)
        lines = got.split("\n")
        # 10 changes → 20 -/+ rows, '(truncated)' marker beyond slice(0,20)
        assert len(lines) == 20
        assert lines[0] == "- l0" and lines[1] == "+ L0"
        assert sum(1 for x in lines if x.startswith("-")) == 10
        # marker visible when the 10-change body fits inside 20 rows
        # (one modify = 2 rows + 9 one-sided adds = 11 rows + marker)
        got2 = render_diff_one(
            "a", "A\n" + "\n".join(f"add{i}" for i in range(9)) + "\nmore"
        )
        assert got2.split("\n")[-1] == "... (truncated)"
        assert len(got2.split("\n")) == 12

    def test_progressive_partial_flag(self):
        from sitemap_scan_spark.plans.diffing import render_progressive_diff_one

        d, partial = render_progressive_diff_one("x" * 60_000, "x" * 60_000)
        assert partial is True and d == "  " + "x" * 50_000
        d2, partial2 = render_progressive_diff_one("a", "b", chunk_size=100)
        assert partial2 is False and d2 == "- a\n+ b"
        # chunk boundary: texts EQUAL within the chunk but differing beyond
        # it render as a pure context row with is_partial=True (the caller
        # fetches the next chunk to see the change — generator.ts:220-246)
        d3, partial3 = render_progressive_diff_one(
            "p" * 100 + "TAIL_A", "p" * 100 + "TAIL_B", chunk_size=100
        )
        assert partial3 is True and d3 == "  " + "p" * 100

    def test_with_progressive_diff_df(self, spark):
        from sitemap_scan_spark.plans.diffing import with_progressive_diff

        df = spark.createDataFrame(
            [
                ("same", "same"),
                ("pref" + "x" * 10 + "A", "pref" + "x" * 10 + "B"),
                ("short1", "short2"),
            ],
            "text_1 string, text_2 string",
        )
        rows = with_progressive_diff(df, chunk_size=14).orderBy("text_1").collect()
        by = {r.text_1: (r.diff, r.is_partial) for r in rows}
        assert by["same"] == ("  same", False)
        assert by["prefxxxxxxxxxxA"] == ("  " + "pref" + "x" * 10, True)
        assert by["short1"] == ("- short1\n+ short2", False)

    def test_with_rendered_diff_df(self, fetch_log, spark):
        from sitemap_scan_spark.plans.diffing import (
            round_pair_diff,
            with_rendered_diff,
        )

        diff = round_pair_diff(fetch_log, 2, 3).filter("changed")
        out = with_rendered_diff(diff)
        rows = out.select("url_canon", "diff").collect()
        assert rows and all(r.diff and ("+" in r.diff or "-" in r.diff) for r in rows)


class TestSortAttributes:
    def test_order_only_churn_hashes_equal(self, spark):
        from sitemap_scan_spark.functions.normalize import (
            normalize_content,
            sort_attributes_one,
        )

        a = '<div class="x" id="y" data-k="1"><img src="s" alt="t"/></div>'
        b = '<div id="y" data-k="1" class="x"><img alt="t" src="s"/></div>'
        assert sort_attributes_one(a) == sort_attributes_one(b)
        # value text preserved verbatim
        assert 'class="x"' in sort_attributes_one(a)
        df = spark.createDataFrame([(a, b)], "ta string, tb string")
        r = df.select(
            (
                F.sha2(normalize_content("ta", sort_attrs=True), 256)
                == F.sha2(normalize_content("tb", sort_attrs=True), 256)
            ).alias("eq"),
            (
                F.sha2(normalize_content("ta"), 256)
                == F.sha2(normalize_content("tb"), 256)
            ).alias("eq_plain"),
        ).first()
        assert r.eq is True  # F10 on: order-only churn normalizes equal
        assert r.eq_plain is False  # documented deviation when off

    def test_malformed_and_bare_attrs(self):
        from sitemap_scan_spark.functions.normalize import sort_attributes_one

        assert sort_attributes_one("<p>") == "<p>"
        assert sort_attributes_one("no tags") == "no tags"
        got = sort_attributes_one("<input disabled type='x'>")
        assert got == "<input disabled type='x'>"

    def test_unquoted_slash_values(self):
        """Regression (round-3 ADVICE): unquoted values containing '/' must
        be kept verbatim — and distinct hrefs must stay distinct."""
        from sitemap_scan_spark.functions.normalize import sort_attributes_one

        assert (
            sort_attributes_one("<a href=/path/x b=1>") == "<a b=1 href=/path/x>"
        )
        a = sort_attributes_one("<a href=/a/b>")
        b = sort_attributes_one("<a href=/b/a>")
        assert a != b and a == "<a href=/a/b>" and b == "<a href=/b/a>"
        # self-close slash split from the value, not eaten into it
        assert sort_attributes_one("<img b=2 src=/x/y/>") == "<img b=2 src=/x/y/>"

    def test_untokenizable_tag_passes_through(self):
        from sitemap_scan_spark.functions.normalize import sort_attributes_one

        # '=' with no attr name ahead of it — tokenizer can't consume fully,
        # so the tag must come back byte-identical
        weird = '<a ="orphan" href="/x">'
        assert sort_attributes_one(weird) == weird


class TestScheduler:
    def test_cron_match(self):
        now = datetime(2026, 8, 16, 10, 30, tzinfo=timezone.utc)  # Sunday
        assert matches_cron("*/5 * * * *", now)
        assert matches_cron("30 10 * * *", now)
        assert not matches_cron("31 10 * * *", now)
        assert matches_cron("* * 16 8 *", now)
        assert matches_cron("* * * * 0", now)  # Sunday = 0
        assert not matches_cron("* * * * 1", now)
        assert not matches_cron("bad cron", now)
        assert not matches_cron("* * * *", now)  # 4 fields

    def test_due_sites_filters_jvm_side(self, spark):
        """J5: due_sites keeps every column of the sites whose schedule
        fires now and drops the rest (an invalid or missing schedule never
        fires), as a filter over the sites frame itself (no frame rebuilt
        from driver rows); with nothing due it is empty with the same
        schema."""
        import pandas as pd

        sites = spark.createDataFrame(
            pd.DataFrame(
                {
                    "site_id": ["a", "b", "c", "d", "e", "f"],
                    "schedule": ["*/5 * * * *", "31 10 * * *", "30 10 * * *",
                                 "bad cron", "*/5 * * * *", None],
                    "priority": [1, 2, 3, 4, 5, 6],
                }
            )
        )
        now = datetime(2026, 8, 16, 10, 30, tzinfo=timezone.utc)
        due = due_sites(sites, now)
        assert due.schema == sites.schema
        assert sorted(tuple(r) for r in due.collect()) == [
            ("a", "*/5 * * * *", 1),
            ("c", "30 10 * * *", 3),
            ("e", "*/5 * * * *", 5),
        ]
        plan = due._jdf.queryExecution().analyzed().toString()
        assert plan.startswith("Filter ") and "LocalRelation" in plan
        later = datetime(2026, 8, 16, 10, 31, tzinfo=timezone.utc)
        assert [r.site_id for r in due_sites(sites, later).collect()] == ["b"]
        never = due_sites(sites, datetime(2026, 8, 16, 10, 32, tzinfo=timezone.utc))
        assert never.schema == sites.schema and never.count() == 0

    def test_queue_order_and_requeue(self):
        q = JobQueue()
        t = datetime(2026, 1, 1, tzinfo=timezone.utc)
        q.upsert(Job("b", priority=2, next_run=t))
        q.upsert(Job("a", priority=1, next_run=t))
        assert [j.site_id for j in q.upcoming(2)] == ["a", "b"]
        due = q.pop_due(t)
        assert len(due) == 2
        rq = q.requeue_failed(due[0], t)
        assert rq.attempts == 1 and rq.priority == due[0].priority + 1
        assert q.upcoming(1)[0].next_run > t


class TestMaintenance:
    def test_expire_and_reset(self, spark, tmp_path):
        from sitemap_scan_spark.plans.checkpoint import RoundStore
        from sitemap_scan_spark.plans.maintenance import expire_rounds, reset

        store = RoundStore(str(tmp_path / "rounds"))
        df = spark.createDataFrame([("https://a/1",)], "url_canon string")
        for r in range(0, 4):
            store.begin_round(r)
            store.write_table(spark, r, "frontier", df)
            store.commit_manifest(r, {"round": r})
        expired = expire_rounds(store, keep_last=1)
        assert expired == [1, 2]  # keeps round 0 (init) and 3 (latest)
        assert store.committed_rounds() == [0, 1, 2, 3]  # manifests remain
        assert store.read_table(spark, 3, "frontier").count() == 1
        reset(store)
        assert store.committed_rounds() == []

    def test_expire_keeps_base_snapshot(self, spark, tmp_path):
        """Regression (round-3 ADVICE): with compact_every>1 the newest
        round may carry NO frontier snapshot — the newest snapshot round
        (the reconstruction base) must survive expiry even when it falls
        inside the keep_last horizon, or frontier_at() silently re-bases on
        an older snapshot whose follow-up deltas are already gone."""
        from sitemap_scan_spark.plans.checkpoint import RoundStore
        from sitemap_scan_spark.plans.maintenance import expire_rounds

        store = RoundStore(str(tmp_path / "rounds"))
        df = spark.createDataFrame([("https://a/1",)], "url_canon string")
        for r in range(0, 11):
            store.begin_round(r)
            if r in (0, 8):  # compaction rounds: full snapshot
                store.write_table(spark, r, "frontier", df)
            store.write_table(spark, r, "frontier_inserts", df)
            store.commit_manifest(r, {"round": r})
        expired = expire_rounds(store, keep_last=2)
        # Base snapshot round 8 and every round after it must survive.
        assert expired == [1, 2, 3, 4, 5, 6, 7]
        assert store.has_table(8, "frontier")
        for r in (8, 9, 10):
            assert store.has_table(r, "frontier_inserts")

    def test_delete_host(self, spark, tmp_path):
        from sitemap_scan_spark.plans.checkpoint import RoundStore
        from sitemap_scan_spark.plans.maintenance import delete_host

        store = RoundStore(str(tmp_path / "rounds"))
        df = spark.createDataFrame(
            [("https://a.test/1",), ("https://b.test/1",), ("https://a.test/2",)],
            "url_canon string",
        )
        store.begin_round(0)
        store.write_table(spark, 0, "frontier", df)
        store.commit_manifest(0, {})
        removed = delete_host(spark, store, "a.test")
        assert removed == {"round_0000/frontier": 2}
        left = [r.url_canon for r in store.read_table(spark, 0, "frontier").collect()]
        assert left == ["https://b.test/1"]


    def test_single_path_read_infers_when_footer_lacks_column(self, spark, tmp_path):
        """A declared-schema read null-fills columns its files lack, so a
        one-path read of an older round whose files predate a cached column
        must infer the schema from the footer instead."""
        import os

        from sitemap_scan_spark.plans.checkpoint import RoundStore

        store = RoundStore(str(tmp_path / "rounds"))
        spark.createDataFrame([("https://a/1",)], "url_canon string").write.parquet(
            os.path.join(store._dir(0), "frontier")
        )
        store.write_table(
            spark,
            1,
            "frontier",
            spark.createDataFrame([("https://a/2", "pending")], "url_canon string, status string"),
        )
        old = store.read_table(spark, 0, "frontier")
        assert old.columns == ["url_canon"]
        assert [tuple(r) for r in old.collect()] == [("https://a/1",)]


class TestStructure:
    def test_counts_and_extracts(self, spark):
        from sitemap_scan_spark.functions.structure import (
            extract_h1s,
            extract_meta,
            extract_title,
            style_counts,
            tag_counts,
        )

        html = (
            "<html><head><title>My Title</title>"
            '<meta name="author" content="Jess">'
            '<meta content="desc here" name="description">'
            "<style>.a{}</style></head>"
            '<body><div style="x:1"><h1>A</h1><h1>B</h1><p>t</p></div></body></html>'
        ).encode()
        df = spark.createDataFrame([(html,)], "html binary")
        row = df.select(
            extract_title("html").alias("title"),
            extract_h1s("html").alias("h1s"),
            extract_meta("html", "author").alias("author"),
            extract_meta("html", "description").alias("desc"),
            *tag_counts("html", ["div", "h1", "p", "img"]),
            *style_counts("html"),
        ).collect()[0]
        assert row.title == "My Title"
        assert row.h1s == ["A", "B"]
        assert row.author == "Jess" and row.desc == "desc here"
        assert (row.n_div, row.n_h1, row.n_p, row.n_img) == (1, 2, 1, 0)
        assert row.n_style_blocks == 1 and row.n_inline_styles == 1


class TestFrontierExtras:
    def test_include_filter_glob(self, spark):
        df = spark.createDataFrame(
            [("https://a/blog/x",), ("https://a/shop/y",), ("https://a/blog.html",)],
            "url_canon string",
        )
        got = {r.url_canon for r in include_filter(df, ["*/blog/*"]).collect()}
        assert got == {"https://a/blog/x"}

    def test_revisit_batch_wraps(self, spark):
        snap = spark.createDataFrame(
            [(f"https://a/{i:02d}",) for i in range(10)], "url_canon string"
        )
        b1, cur, total = revisit_batch(snap, 0, 4)
        assert total == 10 and cur == 4
        assert sorted(r.url_canon for r in b1.collect()) == [
            f"https://a/{i:02d}" for i in range(4)
        ]
        b3, cur3, _ = revisit_batch(snap, 8, 4)  # wraps 8,9,0,1
        assert cur3 == 2
        assert sorted(r.url_canon for r in b3.collect()) == [
            "https://a/00",
            "https://a/01",
            "https://a/08",
            "https://a/09",
        ]

    def test_revisit_persisted_seq_pure_range_filter(self, spark):
        """The scale path: assign seq once with with_revisit_seq, then every
        batch is a range filter over it — identical output to the on-the-fly
        path, and the plan contains no window/exchange at batch time."""
        from sitemap_scan_spark.operators.frontier import with_revisit_seq

        snap = spark.createDataFrame(
            [(f"https://a/{i:02d}",) for i in range(10)], "url_canon string"
        )
        seq_snap, total = with_revisit_seq(snap)
        seq_snap = seq_snap.localCheckpoint(eager=True)  # "persisted" column
        assert total == 10
        for cursor, size in [(0, 4), (8, 4), (3, 10), (0, 12)]:
            fast, fc, ft = revisit_batch(seq_snap, cursor, size, total=total)
            slow, sc, st = revisit_batch(snap, cursor, size)
            assert (fc, ft) == (sc, st)
            assert sorted(r.url_canon for r in fast.collect()) == sorted(
                r.url_canon for r in slow.collect()
            )
        plan = revisit_batch(seq_snap, 2, 4, total=total)[0]._jdf.queryExecution(
        ).executedPlan().toString()
        assert "Exchange" not in plan and "Window" not in plan


class TestEngineApi:
    def test_progress_and_reset(self, spark, tmp_path):
        from sim.genpages import generate
        from sitemap_scan_spark.config import CrawlConfig
        from sitemap_scan_spark.plans.rounds import CrawlEngine

        corpus = str(tmp_path / "corpus")
        generate(corpus, n_hosts=6, mean_pages=12, n_seeds=2, seed=9)
        pages = spark.read.parquet(f"{corpus}/pages.parquet")
        seeds = spark.read.parquet(f"{corpus}/seeds.parquet")
        eng = CrawlEngine(
            spark, pages, CrawlConfig(base_host_budget=3, round_size=50, max_rounds=2),
            str(tmp_path / "wd"),
        )
        assert eng.progress()["status"] == "not_started"
        eng.run(seeds)
        p = eng.progress()
        assert p["round"] == 2 and p["counters"]["n_taken"] > 0
        # the counter path must agree with the frontier scan it replaced
        # (round-3 VERDICT task 4); every writer records the counter, so a
        # counter-less manifest is a foreign store and fails loudly
        scanned = (
            eng.frontier_at(2).filter("status = 'pending'").count()
        )
        assert p["pending"] == scanned
        import json
        import os

        mpath = os.path.join(eng.store._dir(2), "_manifest.json")
        with open(mpath) as f:
            manifest = json.load(f)
        del manifest["counters"]["n_pending_after"]
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        with pytest.raises(KeyError, match="n_pending_after"):
            eng.progress()
        eng.reset()
        assert eng.progress()["status"] == "not_started"


class TestMetrics:
    def test_runs_df_and_summary(self, spark, tmp_path):
        from sim.genpages import generate
        from sitemap_scan_spark.config import CrawlConfig
        from sitemap_scan_spark.plans.metrics import runs_df, summarize
        from sitemap_scan_spark.plans.rounds import CrawlEngine

        corpus = str(tmp_path / "c")
        generate(corpus, n_hosts=6, mean_pages=12, n_seeds=2, seed=3)
        eng = CrawlEngine(
            spark,
            spark.read.parquet(f"{corpus}/pages.parquet"),
            CrawlConfig(base_host_budget=4, round_size=60, max_rounds=2),
            str(tmp_path / "wd"),
        )
        eng.run(spark.read.parquet(f"{corpus}/seeds.parquet"))
        df = runs_df(spark, eng.store)
        assert df.count() == 3  # round 0 + 2 crawl rounds
        s = summarize(eng.store)
        assert s["rounds"] == 2 and s["n_taken"] > 0
        assert s["n_taken"] == s["n_fetched"] + s["n_miss"] + s["n_redirect"]
        assert 0 < s["success_rate"] <= 1
