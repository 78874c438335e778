"""Semantic-hash no-rescan (T3/T5/S9) — mirrors the reference behavior test
'lastmod-only churn causes no rescan' (src/backup/fetcher.spec.ts:170-225)
and listener-mode incremental discovery (fetcher.ts:482-505)."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

from sitemap_scan_spark.config import CrawlConfig
from sitemap_scan_spark.plans.rounds import CrawlEngine

BASE = "/tmp/ssc_refresh_test"
CFG = CrawlConfig(base_host_budget=50, round_size=500, max_rounds=3)


def _corpus(path: str, lastmod: str, extra_loc: bool = False, blocked_loc: bool = False):
    from sitemap_scan_spark.functions.extract import extract_text_one

    os.makedirs(path, exist_ok=True)
    h = "rf.test"
    locs = [f"https://{h}/", f"https://{h}/a.html", f"https://{h}/b.html"]
    if extra_loc:
        locs.append(f"https://{h}/brand-new.html")
    if blocked_loc:
        locs.append(f"https://{h}/blocked-new.html")
    urlset = (
        "<urlset>"
        + "".join(
            f"<url><loc>{u}</loc><lastmod>{lastmod}</lastmod></url>" for u in locs
        )
        + "</urlset>"
    )
    rows = [(f"https://{h}/sitemap.xml", urlset)]
    if blocked_loc:
        rows.append(
            (f"https://{h}/robots.txt", "User-agent: *\nDisallow: /blocked-new")
        )
    for u in locs:
        rows.append((u, f"<html><body><p>page {u}</p></body></html>"))
    pdf = pd.DataFrame(
        {
            "url": [r[0] for r in rows],
            "warc_ts": pd.to_datetime(["2026-01-01"] * len(rows))
            .tz_localize("UTC")
            .astype("datetime64[us, UTC]"),
            "html": [r[1].encode() for r in rows],
            "text": [extract_text_one(r[1]) for r in rows],
            "lang": ["en"] * len(rows),
        }
    )
    pdf.to_parquet(os.path.join(path, "pages.parquet"), index=False)
    pd.DataFrame({"seed_url": [f"https://{h}/"], "priority": [0.8]}).to_parquet(
        os.path.join(path, "seeds.parquet"), index=False
    )


def test_lastmod_churn_skips_and_new_loc_discovered(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    wd = f"{BASE}/wd"
    _corpus(f"{BASE}/c1", "2026-01-01")
    pages1 = spark.read.parquet(f"{BASE}/c1/pages.parquet")
    seeds = spark.read.parquet(f"{BASE}/c1/seeds.parquet")
    eng = CrawlEngine(spark, pages1, CFG, wd)
    eng.run(seeds)
    latest_before = eng.store.latest_round()

    # epoch 2: ONLY <lastmod> changed — semantic hash identical → skip
    _corpus(f"{BASE}/c2", "2026-02-02")
    pages2 = spark.read.parquet(f"{BASE}/c2/pages.parquet")
    eng2 = CrawlEngine(spark, pages2, CFG, wd, refresh_pages=True)
    r = eng2.refresh_discovery()
    assert r["re_expanded"] == 0 and r["lastmod_only"] == 1 and r["n_new"] == 0
    assert eng2.store.latest_round() == latest_before  # no new round

    # epoch 3: identical content → content-hash short-circuit
    eng2b = CrawlEngine(spark, pages2, CFG, wd, refresh_pages=True)
    r2 = eng2b.refresh_discovery()
    assert r2["skipped"] == 1 and r2["re_expanded"] == 0

    # epoch 4: two genuinely new locs appear (one robots-blocked) →
    # re-expand, enqueue the allowed one, record the blocked one as seen
    _corpus(f"{BASE}/c3", "2026-03-03", extra_loc=True, blocked_loc=True)
    pages3 = spark.read.parquet(f"{BASE}/c3/pages.parquet")
    eng3 = CrawlEngine(spark, pages3, CFG, wd, refresh_pages=True)
    r3 = eng3.refresh_discovery()
    assert r3["re_expanded"] == 1 and r3["n_new"] == 2
    new_round = eng3.store.latest_round()
    assert new_round == latest_before + 1
    frontier = eng3.store.read_table(spark, new_round, "frontier")
    by_status = {
        x.url_canon: x.status
        for x in frontier.filter(f"discovered_round = {new_round}").collect()
    }
    # inserts are stamped with the round they were committed in
    assert by_status == {
        "https://rf.test/brand-new.html": "pending",
        "https://rf.test/blocked-new.html": "robots_blocked",
    }
    # the blocked insert must NOT inflate the pending counter: prev run
    # drained to 0 pending, so after the refresh exactly 1 is pending
    man = eng3.store.read_manifest(new_round)["counters"]
    assert man["n_blocked"] == 1
    assert man["n_pending_after"] == 1
    # the frontier size advances arithmetically, like run_round's
    assert man["frontier_size"] == frontier.count()
    # url_seen = dequeued ∪ robots_blocked: the blocked insert is seen at
    # the round it was COMMITTED in (new_round, not latest); the pending one
    # is not seen until dequeued
    seen = {
        r.url_canon: r.first_seen_round
        for r in eng3.url_seen().collect()
        if "new.html" in r.url_canon
    }
    assert seen == {"https://rf.test/blocked-new.html": new_round}

    # and the crawl resumes over just the new URL, then terminates
    stats = eng3.run(seeds, max_rounds=new_round + 1)
    assert stats and stats[-1]["n_taken"] == 1
    seen_after = {
        r.url_canon: r.first_seen_round
        for r in eng3.url_seen().collect()
        if "new.html" in r.url_canon
    }
    assert seen_after == {
        "https://rf.test/blocked-new.html": new_round,
        "https://rf.test/brand-new.html": new_round + 1,
    }


def test_root_hashes_distributed_body_heavy(spark, tmp_path):
    """root_sitemap_hashes must hash bodies IN EXECUTORS (round-3 VERDICT
    task 2): many roots with fat bodies, only (url, hash, hash) triples on
    the driver. Cross-checked against driver-side recomputation."""
    import hashlib

    from sitemap_scan_spark.functions.canonicalize import canonicalize_one
    from sitemap_scan_spark.sources.sitemap import parse_sitemap_one, root_sitemap_hashes

    n_roots, n_locs = 40, 400  # ~30 KB per body
    rows, want = [], {}
    for i in range(n_roots):
        h = f"bh{i}.test"
        root = f"https://{h}/sitemap.xml"
        body = (
            "<urlset>"
            + "".join(
                f"<url><loc>https://{h}/deep/path/page-{j:05d}.html</loc>"
                f"<lastmod>2026-01-{(j % 28) + 1:02d}</lastmod></url>"
                for j in range(n_locs)
            )
            + "</urlset>"
        )
        rows.append((root, body.encode()))
        _kind, entries = parse_sitemap_one(body, 0.5)
        locs = sorted(
            {c for c in (canonicalize_one(u) for u, _ in entries) if c}
        )
        want[root] = {
            "content_hash": hashlib.sha256(body.encode()).hexdigest(),
            "semantic_hash": hashlib.sha256("\n".join(locs).encode()).hexdigest(),
        }

    import pandas as pd

    pdf = pd.DataFrame(
        {
            "url": [r[0] for r in rows],
            "warc_ts": pd.to_datetime(["2026-01-01"] * len(rows))
            .tz_localize("UTC")
            .astype("datetime64[us, UTC]"),
            "html": [r[1] for r in rows],
            "text": [""] * len(rows),
            "lang": ["en"] * len(rows),
        }
    )
    corpus = str(tmp_path / "bh")
    os.makedirs(corpus, exist_ok=True)
    pdf.to_parquet(os.path.join(corpus, "pages.parquet"), index=False)
    pages = spark.read.parquet(os.path.join(corpus, "pages.parquet"))
    eng = CrawlEngine(spark, pages, CFG, str(tmp_path / "wd"))
    got = root_sitemap_hashes(eng.pages_canon, sorted(want), CFG.sitemap_default_priority)
    assert got == want
