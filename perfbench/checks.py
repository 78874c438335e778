"""Output checks run on every measured pass.

Each check takes plain Python data that the pass collected from the
engine's public API and raises :class:`CheckFailed` on the first
violation. The truth side comes from ``sim/oracle.py`` (crawl order,
URL-seen set) and from the input generator (expected text, crawl delays).
"""

from __future__ import annotations

from collections import Counter


class CheckFailed(AssertionError):
    pass


def _fail(name: str, msg: str) -> None:
    raise CheckFailed(f"{name}: {msg}")


def crawl_order(got: list[tuple[int, int, str]], want: list[tuple[int, int, str]]) -> None:
    """(round, rank, url_canon) equal the oracle's, row for row."""
    got, want = sorted(got), sorted(want)
    if len(got) != len(want):
        _fail("crawl_order", f"{len(got)} rows, oracle has {len(want)}")
    for g, w in zip(got, want):
        if g != w:
            _fail("crawl_order", f"got {g}, oracle has {w}")


def resumed_rounds(
    got: list[tuple[int, int, str]], want: list[tuple[int, int, str]], rounds: range
) -> None:
    """The rounds the resumed engine ran equal the oracle's same rounds."""
    pick = lambda rows: sorted(r for r in rows if r[0] in rounds)  # noqa: E731
    g, w = pick(got), pick(want)
    if not w:
        _fail("resumed_rounds", f"oracle dequeued nothing in rounds {list(rounds)}")
    if g != w:
        _fail("resumed_rounds", f"rounds {list(rounds)} differ from the oracle's")


def url_seen(got: list[tuple[str, int, str]], want: dict[str, tuple[int, str]]) -> None:
    """(url_canon, first_seen_round, last_status) equal the oracle's set."""
    g = Counter(got)
    dup = [k for k, n in g.items() if n > 1]
    if dup:
        _fail("url_seen", f"row repeated: {dup[0]}")
    w = {(u, r, s) for u, (r, s) in want.items()}
    if set(g) != w:
        missing, extra = sorted(w - set(g)), sorted(set(g) - w)
        _fail("url_seen", f"missing {missing[:1]} ({len(missing)}), extra {extra[:1]} ({len(extra)})")


def text(fetched: list[tuple[str, str | None]], expected: dict[str, str]) -> None:
    """text_extracted of every fetched URL equals the generator's text."""
    if not fetched:
        _fail("text", "no fetched page")
    for url, got in fetched:
        want = expected.get(url)
        if want is None:
            _fail("text", f"fetched {url}, which is no HTML page of the inputs")
        if got != want:
            _fail("text", f"{url}: text differs from the generator's")


def round_counters(counters: list[dict]) -> None:
    """n_taken = n_fetched + n_miss + n_redirect in every round."""
    for c in counters:
        if c["n_taken"] != c["n_fetched"] + c["n_miss"] + c["n_redirect"]:
            _fail("round_counters", f"round {c['round']}: {c}")


def ranks(order: list[tuple[int, int, str]], n_taken: dict[int, int]) -> None:
    """Ranks run densely 1..n_taken in each round; no URL is dequeued twice."""
    by_round: dict[int, list[int]] = {}
    for rnd, rank, _ in order:
        by_round.setdefault(rnd, []).append(rank)
    for rnd, n in n_taken.items():
        if sorted(by_round.get(rnd, [])) != list(range(1, n + 1)):
            _fail("ranks", f"round {rnd}: ranks are not 1..{n}")
    urls = Counter(u for _, _, u in order)
    twice = [u for u, n in urls.items() if n > 1]
    if twice:
        _fail("ranks", f"{twice[0]} dequeued {urls[twice[0]]} times")


def host_budget(
    order: list[tuple[int, int, str]], delays: dict[str, int], base: int, period: int
) -> None:
    """Per (round, host): dequeued <= max(1, min(base, period // delay))."""
    per = Counter((rnd, url.split("/")[2]) for rnd, _, url in order)
    for (rnd, host), n in per.items():
        d = delays.get(host)
        cap = max(1, min(base, period // d)) if d else base
        if n > cap:
            _fail("host_budget", f"round {rnd}: {n} URLs of {host}, budget {cap}")


def pending(manifest_pending: int, frontier_pending: int) -> None:
    """The manifest's n_pending_after equals a recount of the frontier."""
    if manifest_pending != frontier_pending:
        _fail("pending", f"manifest says {manifest_pending}, frontier has {frontier_pending}")


def totals(overview_urls: int, frontier_rows: int, seen_rows: int, frontier_pending: int) -> None:
    """Σ overview n_urls = frontier rows = url_seen rows + pending rows."""
    if overview_urls != frontier_rows:
        _fail("totals", f"overview counts {overview_urls} URLs, frontier has {frontier_rows}")
    if seen_rows + frontier_pending != frontier_rows:
        _fail(
            "totals",
            f"seen {seen_rows} + pending {frontier_pending} != frontier {frontier_rows}",
        )


def refresh_unchanged(result: dict) -> None:
    """refresh_discovery() on unchanged sitemaps re-expands nothing."""
    if result.get("re_expanded") or result.get("n_new"):
        _fail("refresh_unchanged", f"unchanged sitemaps re-expanded: {result}")
