"""Seeded input generator for the crawl-engine benchmark.

Writes the crawl engine's input tables into one directory:

- ``pages.parquet``: ``(url string, warc_ts timestamp, html binary,
  text string, lang string)``, one row per served document (robots.txt,
  sitemap or sitemap index, HTML page, meta-refresh redirect page);
- ``seeds.parquet``: ``(seed_url string, priority double)``;
- ``expected_text.parquet``: ``(url_canon string, text string)`` for every
  HTML page: the text that extraction must yield, built from the words the
  generator placed, never by running an extractor.

It imports nothing from the crawl engine, so a change to the engine cannot
change the inputs or the expected text.

The page shapes follow the repository's synthetic corpus: robots.txt with
``Disallow`` and ``Crawl-delay``; flat urlsets for small hosts and sitemap
indexes for large ones, plus an index cycle on host 0; meta-refresh
redirects; dangling, uppercase-host, fragment and i18n links; pages served
under an uppercase-host URL; an optional hot host.

Sizes do not depend on the seed: every host has the same number of pages
(the hot host a fixed multiple), robots.txt presence is fixed per host, and
host 0 (the sitemap cycle) and the hot host are always seeds. The seed
picks words, link targets, which paths are private or i18n, which hosts
carry a crawl delay and which other hosts are seeds.

Usage: ``python3 perfbench/gen.py OUT_DIR WORKLOAD SEED [SCALE]``
"""

from __future__ import annotations

import os
import random
import sys
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import pandas as pd

WORDS = (
    "amber basin cedar delta ember fjord grove harbor island juniper kelp "
    "lagoon meadow nectar orchard prairie quarry river summit tundra upland "
    "valley willow yarrow zephyr beacon canyon dune estuary glacier"
).split()
I18N = ("fr", "es", "de", "it", "pt", "zh", "ja", "ko", "ar", "ru")
BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)
SITEMAP_CHUNK = 20  # locs per child sitemap of an index


@dataclass(frozen=True)
class Shape:
    n_hosts: int
    pages_per_host: int
    n_seeds: int  # 0 = seed every host
    hot_pages: int = 0  # pages of the hot host (host 1); 0 = no hot host


def host_name(i: int) -> str:
    return f"host{i:04d}.test"


def has_robots(i: int) -> bool:
    return i % 5 != 4  # every fifth host serves no robots.txt (allow all)


def crawl_delays(shape: Shape, seed: int) -> dict[str, int]:
    """host -> Crawl-delay seconds of its robots.txt, for the hosts that
    declare one: a fixed count per seed, never the hot host (host 1), so
    the seed does not change how fast the hot host drains."""
    rng = random.Random(f"{seed}|delays")
    picked = rng.sample(range(2, shape.n_hosts), shape.n_hosts // 6)
    return {host_name(i): 2 + 2 * (i % 2) for i in sorted(picked) if has_robots(i)}


def _words(rng: random.Random, n: int) -> list[str]:
    return [rng.choice(WORDS) for _ in range(n)]


def _paths(rng: random.Random, n: int) -> list[str]:
    """'/' plus n-1 paths; 6 % private (robots-disallowed), 10 % i18n."""
    out = ["/"]
    for j in range(1, n):
        r = rng.random()
        if r < 0.06:
            out.append(f"/private0/secret{j}.html")
        elif r < 0.16:
            out.append(f"/{rng.choice(I18N)}/page{j}.html")
        else:
            out.append(f"/page{j}.html")
    return out


def _page(rng: random.Random, title: str, hrefs: list[str], lang: str) -> tuple[str, str]:
    """(html, expected text) of one HTML page.

    Extraction drops <script>/<style> blocks and ``<!--...-->`` comments,
    turns every tag into a space and collapses whitespace. A comment that
    contains ``>`` is not a comment match: its head up to that ``>`` reads
    as one tag, so the rest of it stays in the text.
    """
    anchors = [_words(rng, 2) for _ in hrefs]
    p1 = _words(rng, rng.randint(20, 120))
    p2 = _words(rng, rng.randint(10, 60))
    comment = _words(rng, 4)
    broken_comment = rng.random() < 0.1
    links = "".join(
        f'<a href="{h}">{" ".join(a)}</a> ' for h, a in zip(hrefs, anchors)
    )
    html = (
        f'<html lang="{lang}"><head><title>{title}</title>'
        f"<script>var x = {rng.randint(0, 9)}; // <p>{' '.join(_words(rng, 3))}</p>\n"
        f"console.log('{' '.join(_words(rng, 2))}');</script>"
        f"<style>.c{rng.randint(0, 99)} {{ color: #{rng.randint(0, 0xFFFFFF):06x}; }}</style>"
        f"</head><body><!-- {' '.join(comment)}{' keeps > tail' if broken_comment else ''} -->"
        f"<h1>{title}</h1><p>{' '.join(p1)}</p>"
        f"<div>{links}</div>"
        f"<p>{' '.join(p2)}</p></body></html>"
    )
    tokens = [title] + (["tail", "-->"] if broken_comment else []) + [title] + p1
    for a in anchors:
        tokens.extend(a)
    tokens.extend(p2)
    return html, " ".join(tokens)


def _redirect(target: str) -> str:
    return (
        f'<html><head><meta http-equiv="refresh" content="0; url={target}">'
        f"</head><body>Moved</body></html>"
    )


def _urlset(entries: list[tuple[str, float, str]]) -> tuple[str, str]:
    body = "".join(
        f"<url><loc>{u}</loc><lastmod>{lm}</lastmod><priority>{p:.1f}</priority></url>"
        for u, p, lm in entries
    )
    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        f"{body}</urlset>"
    )
    return xml, " ".join(f"{u} {lm} {p:.1f}" for u, p, lm in entries)


def _sitemapindex(children: list[str]) -> tuple[str, str]:
    body = "".join(f"<sitemap><loc>{c}</loc></sitemap>" for c in children)
    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        f"{body}</sitemapindex>"
    )
    return xml, " ".join(children)


def generate(out_dir: str, shape: Shape, seed: int) -> dict[str, int]:
    """Write the three tables into ``out_dir``; return row counters."""
    os.makedirs(out_dir, exist_ok=True)
    hosts = [host_name(i) for i in range(shape.n_hosts)]
    n_pages = [
        shape.hot_pages if shape.hot_pages and i == 1 else shape.pages_per_host
        for i in range(shape.n_hosts)
    ]
    paths = [
        _paths(random.Random(f"{seed}|paths|{i}"), n) for i, n in enumerate(n_pages)
    ]
    delays = crawl_delays(shape, seed)

    rows: list[tuple[str, datetime, bytes, str, str]] = []
    expected: list[tuple[str, str]] = []
    counters = {"pages": 0, "robots": 0, "sitemaps": 0, "redirects": 0}

    for hi, h in enumerate(hosts):
        rng = random.Random(f"{seed}|host|{hi}")

        def add(url: str, body: str, text: str, lang: str = "en") -> None:
            ts = BASE_TS + timedelta(seconds=rng.randint(0, 30 * 86400))
            rows.append((url, ts, body.encode("utf-8"), text, lang))

        public = [p for p in paths[hi] if not p.startswith("/private")]

        if has_robots(hi):
            lines = ["User-agent: *", "Disallow: /private0/"]
            if hi % 3 == 0:
                lines.append("Disallow: /tmp/")
            if h in delays:
                lines.append(f"Crawl-delay: {delays[h]}")
            lines.append(f"Sitemap: https://{h}/sitemap.xml")
            add(f"https://{h}/robots.txt", "\n".join(lines), " ".join(lines))
            counters["robots"] += 1

        lastmod = f"2026-01-{rng.randint(1, 28):02d}"
        entries = [
            (f"https://{h}{p}", rng.choice([0.3, 0.5, 0.8, 1.0]), lastmod)
            for p in public
            if rng.random() < 0.7
        ]
        if hi == 0:
            # index -> a, b; b is an index pointing back at a (the cycle) and on to c
            half = len(entries) // 2
            sm = lambda n: f"https://{h}/sitemap-{n}.xml"  # noqa: E731
            add(f"https://{h}/sitemap.xml", *_sitemapindex([sm("a"), sm("b")]))
            add(sm("a"), *_urlset(entries[:half]))
            add(sm("b"), *_sitemapindex([sm("a"), sm("c")]))
            add(sm("c"), *_urlset(entries[half:]))
            counters["sitemaps"] += 4
        elif len(entries) > SITEMAP_CHUNK:
            chunks = [
                entries[i : i + SITEMAP_CHUNK]
                for i in range(0, len(entries), SITEMAP_CHUNK)
            ]
            children = [f"https://{h}/sitemap-{ci}.xml" for ci in range(len(chunks))]
            add(f"https://{h}/sitemap.xml", *_sitemapindex(children))
            for c_url, chunk in zip(children, chunks):
                add(c_url, *_urlset(chunk))
            counters["sitemaps"] += 1 + len(chunks)
        else:
            add(f"https://{h}/sitemap.xml", *_urlset(entries))
            counters["sitemaps"] += 1

        for p in paths[hi]:
            url = f"https://{h}{p}"
            seg = p.split("/")[1] if p.count("/") > 1 else ""
            lang = seg if seg in I18N else "en"
            if p != "/" and rng.random() < 0.03:
                add(url, _redirect(f"https://{h}{rng.choice(public)}"), "Moved", lang)
                counters["redirects"] += 1
                counters["pages"] += 1
                continue
            hrefs: list[str] = []
            for _ in range(rng.randint(3, 12)):
                r = rng.random()
                if r < 0.20:
                    oi = rng.randrange(shape.n_hosts)
                    href = f"https://{hosts[oi]}{rng.choice(paths[oi])}"
                    if rng.random() < 0.1:
                        href = href.replace(hosts[oi], hosts[oi].upper())
                elif r < 0.25:
                    href = f"/missing{rng.randint(0, 999)}.html"  # dangling
                else:
                    tp = rng.choice(public)
                    href = tp if rng.random() < 0.5 else tp.lstrip("/") or "."
                    if rng.random() < 0.15:
                        href += f"#frag{rng.randint(0, 9)}"
                hrefs.append(href)
            html, text = _page(rng, f"{h}{p}", hrefs, lang)
            # a few pages are served under an uppercase-host URL; the engine
            # must canonicalize pages.url to find them
            served = url if rng.random() > 0.02 else url.replace(h, h.upper())
            add(served, html, text, lang)
            expected.append((url, text))
            counters["pages"] += 1

    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    # microsecond timestamps: Spark cannot read parquet TIMESTAMP(NANOS)
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us, UTC]")
    pdf.to_parquet(os.path.join(out_dir, "pages.parquet"), index=False, row_group_size=8192)
    pd.DataFrame(expected, columns=["url_canon", "text"]).to_parquet(
        os.path.join(out_dir, "expected_text.parquet"), index=False
    )

    srng = random.Random(f"{seed}|seeds")
    if shape.n_seeds <= 0 or shape.n_seeds >= shape.n_hosts:
        seed_ids = list(range(shape.n_hosts))
    else:
        # host 0 (the sitemap cycle) and the hot host are always seeds, so
        # the seed changes neither discovery's depth nor the hot host's share
        fixed = [0, 1] if shape.hot_pages else [0]
        others = srng.sample(range(len(fixed), shape.n_hosts), shape.n_seeds - len(fixed))
        seed_ids = sorted(fixed + others)
    pd.DataFrame(
        {
            "seed_url": [f"https://{hosts[i]}/" for i in seed_ids],
            "priority": [round(0.5 + 0.1 * (k % 5), 1) for k in range(len(seed_ids))],
        }
    ).to_parquet(os.path.join(out_dir, "seeds.parquet"), index=False)
    counters.update(hosts=shape.n_hosts, rows=len(rows), seeds=len(seed_ids))
    return counters


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WORKLOADS  # noqa: E402

    out, name, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    scale = sys.argv[4] if len(sys.argv) > 4 else "full"
    print(generate(out, WORKLOADS[name].shape(scale), seed))
