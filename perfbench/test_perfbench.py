"""Tests of the benchmark itself.

    python3 -m pytest perfbench/ -q -p no:cacheprovider

The check tests corrupt one output at a time (a swapped rank, an extra URL
from a host over budget, a changed byte of text, a dropped seen URL, ...)
and show that the matching check fails. The smoke tests run every workload
end to end at tiny scale, one Spark process each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


@pytest.fixture(scope="module", params=sorted(WORKLOADS))
def tiny(request, tmp_path_factory):
    """Tiny inputs of one workload, their oracle crawl and the truth sides."""
    from sim.oracle import OracleCrawler
    from sitemap_scan_spark.config import CrawlConfig

    wl = WORKLOADS[request.param]
    d = str(tmp_path_factory.mktemp(wl.name))
    gen.generate(d, wl.shape("tiny"), seed=3)
    pages = pd.read_parquet(os.path.join(d, "pages.parquet"))
    seeds = pd.read_parquet(os.path.join(d, "seeds.parquet"))
    cfg = CrawlConfig(**wl.config_kwargs("tiny"))
    res = OracleCrawler(pages, cfg).crawl(seeds)
    expected = dict(pd.read_parquet(os.path.join(d, "expected_text.parquet")).itertuples(index=False))
    return {
        "wl": wl,
        "dir": d,
        "cfg": cfg,
        "pages": pages,
        "oracle": res,
        "expected": expected,
        "delays": gen.crawl_delays(wl.shape("tiny"), 3),
    }


# --------------------------------------------------------------- generator
def test_expected_text_matches_extractor(tiny):
    """The generator's text, built from the words it placed, is what the
    engine's scalar extractor yields on the same HTML."""
    from sitemap_scan_spark.functions.canonicalize import canonicalize_one
    from sitemap_scan_spark.functions.extract import extract_text_one

    n = 0
    for url, html in zip(tiny["pages"]["url"], tiny["pages"]["html"]):
        want = tiny["expected"].get(canonicalize_one(url))
        if want is not None:
            assert extract_text_one(html.decode()) == want, url
            n += 1
    assert n == len(tiny["expected"]) > 0


def test_same_seed_same_inputs_and_sizes_fixed(tmp_path):
    shape = WORKLOADS["skew_deep"].shape("tiny")
    a, b, c = (str(tmp_path / x) for x in "abc")
    ca, cb, cc = gen.generate(a, shape, 5), gen.generate(b, shape, 5), gen.generate(c, shape, 6)
    for name in ("pages.parquet", "seeds.parquet", "expected_text.parquet"):
        pd.testing.assert_frame_equal(
            pd.read_parquet(os.path.join(a, name)), pd.read_parquet(os.path.join(b, name))
        )
    assert ca == cb
    assert {k: ca[k] for k in ("pages", "robots", "hosts", "seeds")} == {
        k: cc[k] for k in ("pages", "robots", "hosts", "seeds")
    }
    assert pd.read_parquet(os.path.join(a, "pages.parquet")).html.tolist() != pd.read_parquet(
        os.path.join(c, "pages.parquet")
    ).html.tolist()


# --------------------------------------------------------------- checks
def _outputs(t):
    """The outputs a correct engine would produce: the oracle's."""
    order = list(t["oracle"].crawl_order)
    seen = [(u, r, s) for u, (r, s) in t["oracle"].url_seen.items()]
    fetched = [(u, txt) for _, u, status, txt in t["oracle"].fetch_log if status == "fetched"]
    return order, seen, fetched


def test_checks_pass_on_oracle_outputs(tiny):
    order, seen, fetched = _outputs(tiny)
    wl, cfg = tiny["wl"], tiny["cfg"]
    checks.crawl_order(order, tiny["oracle"].crawl_order)
    checks.resumed_rounds(order, tiny["oracle"].crawl_order, range(wl.fresh_rounds + 1, wl.rounds + 1))
    checks.url_seen(seen, tiny["oracle"].url_seen)
    checks.text(fetched, tiny["expected"])
    checks.ranks(order, Counter(r for r, _, _ in order))
    checks.host_budget(order, tiny["delays"], cfg.base_host_budget, cfg.round_period())


def test_swapped_rank_fails(tiny):
    order, _, _ = _outputs(tiny)
    bad = list(order)
    (r0, k0, u0), (r1, k1, u1) = bad[0], bad[1]
    assert r0 == r1
    bad[0], bad[1] = (r0, k0, u1), (r1, k1, u0)
    with pytest.raises(checks.CheckFailed, match="crawl_order"):
        checks.crawl_order(bad, tiny["oracle"].crawl_order)


def test_extra_url_over_host_budget_fails(tiny):
    order, _, _ = _outputs(tiny)
    cfg = tiny["cfg"]
    per = Counter((r, u.split("/")[2]) for r, _, u in order)
    (rnd, host), _ = per.most_common(1)[0]
    cap = max(1, min(cfg.base_host_budget, cfg.round_period() // tiny["delays"].get(host, 1)))
    n_round = sum(1 for r, _, _ in order if r == rnd)
    extra = [(rnd, n_round + i + 1, f"https://{host}/extra{i}.html") for i in range(cap)]
    with pytest.raises(checks.CheckFailed, match="host_budget"):
        checks.host_budget(order + extra, tiny["delays"], cfg.base_host_budget, cfg.round_period())
    with pytest.raises(checks.CheckFailed, match="crawl_order"):
        checks.crawl_order(order + extra, tiny["oracle"].crawl_order)


def test_changed_text_byte_fails(tiny):
    _, _, fetched = _outputs(tiny)
    url, txt = fetched[len(fetched) // 2]
    bad = [(u, t if u != url else txt[:5] + chr(ord(txt[5]) ^ 1) + txt[6:]) for u, t in fetched]
    with pytest.raises(checks.CheckFailed, match="text"):
        checks.text(bad, tiny["expected"])


def test_dropped_seen_url_fails(tiny):
    _, seen, _ = _outputs(tiny)
    with pytest.raises(checks.CheckFailed, match="url_seen"):
        checks.url_seen(seen[1:], tiny["oracle"].url_seen)
    with pytest.raises(checks.CheckFailed, match="totals"):
        checks.totals(100, 100, len(seen) - 1, 100 - len(seen))


def test_resumed_round_change_fails(tiny):
    order, _, _ = _outputs(tiny)
    wl = tiny["wl"]
    last = [i for i, row in enumerate(order) if row[0] == wl.rounds][0]
    bad = list(order)
    r, k, u = bad[last]
    bad[last] = (r, k, u + "x")
    with pytest.raises(checks.CheckFailed, match="resumed_rounds"):
        checks.resumed_rounds(bad, tiny["oracle"].crawl_order, range(wl.fresh_rounds + 1, wl.rounds + 1))


def test_rank_gap_and_double_dequeue_fail():
    order = [(1, 1, "https://a.test/"), (1, 2, "https://b.test/"), (2, 1, "https://a.test/")]
    with pytest.raises(checks.CheckFailed, match="ranks"):
        checks.ranks(order, {1: 3, 2: 1})
    with pytest.raises(checks.CheckFailed, match="dequeued 2 times"):
        checks.ranks(order, {1: 2, 2: 1})


def test_counter_and_pending_mismatches_fail():
    ok = {"round": 1, "n_taken": 5, "n_fetched": 3, "n_miss": 1, "n_redirect": 1}
    checks.round_counters([ok])
    with pytest.raises(checks.CheckFailed, match="round_counters"):
        checks.round_counters([{**ok, "n_miss": 0}])
    checks.pending(7, 7)
    with pytest.raises(checks.CheckFailed, match="pending"):
        checks.pending(7, 8)
    with pytest.raises(checks.CheckFailed, match="totals"):
        checks.totals(10, 11, 4, 7)
    with pytest.raises(checks.CheckFailed, match="refresh_unchanged"):
        checks.refresh_unchanged({"re_expanded": 1, "n_new": 0})


# --------------------------------------------------------------- end to end
def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_tiny(workload, trace):
    p = _run(["--workload", workload, "--seed", "2", "--seconds", "1",
              "--trace", str(trace), "--scale", "tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = spec["per_layer" if trace else "end_to_end"]
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] > 0
    assert list(out["metrics"]) == [m["name"] for m in want]
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
    p = _run(["--workload", "wide_fresh", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
