"""Sitemap / sitemap-index parsing and recursive expansion.

Re-expresses the reference's ``parseSitemap`` recursion
(/root/reference/src/backup/fetcher.ts:916-993: depth ≤ 10, ≤ 500 sitemaps
visited, cycle set on canonicalized URLs) and its loc/urlset parsing
(src/backup/sitemap.ts:55-155, fetcher.ts:882-899) as a breadth-first
driver loop where each LEVEL is one distributed job over all hosts at once.

A sitemap is a body with a ``<sitemapindex>`` or ``<urlset>`` root tag
(CRAWL_SPEC Discovery 3), whatever its URL: the pages scan is prefiltered
once, JVM-side, by the parser's own root-tag patterns (what it drops, the
parser would call ``other``). Each level checkpoints its capped batch,
broadcast-joins it to that cached subset and runs one ``mapInPandas`` that
decodes, parses and canonicalizes ``(kind, url_canon, priority)`` rows; the
checkpointed rows feed both the urlset output and the index children.
Both checkpoint jobs observe the count the loop needs (batch size, index
children), so no job runs only to decide whether to go on. Python runs only
where rows are: the root list enters Spark as an Arrow ``LocalRelation``
and no frame in the loop is built from a driver list.
Parsing is regex-based like the reference's (no XML dependency here).
"""

from __future__ import annotations

import hashlib
import re
from functools import reduce
from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.canonicalize import canonicalize_one, canonicalize_series, host_of_col
from ..functions.sqlexpr import string_in

# root tags; ASCII-only \s and case folding, so the JVM prefilter below
# (java.util.regex, whose default \s and (?i) are ASCII) means the same
_ROOT_URLSET = r"<\s*urlset[\s>]"
_ROOT_INDEX = r"<\s*sitemapindex[\s>]"
_RE_ROOT_URLSET = re.compile(_ROOT_URLSET, re.I | re.A)
_RE_ROOT_INDEX = re.compile(_ROOT_INDEX, re.I | re.A)
_SITEMAP_BODY_RLIKE = f"(?i){_ROOT_INDEX}|{_ROOT_URLSET}"
_RE_URL_BLOCK = re.compile(r"<url\b.*?</url>", re.S | re.I)
_RE_SMAP_BLOCK = re.compile(r"<sitemap\b.*?</sitemap>", re.S | re.I)
_RE_LOC = re.compile(r"<loc>\s*(.*?)\s*</loc>", re.S | re.I)
_RE_PRIORITY = re.compile(r"<priority>\s*(.*?)\s*</priority>", re.S | re.I)


def parse_sitemap_one(
    xml: str, default_priority: float = 0.5
) -> tuple[str, list[tuple[str, float]]]:
    """→ (kind, entries). kind ∈ {'index','urlset','other'};
    entries = [(loc, priority)] for urlset, [(child_loc, nan)] for index."""
    if _RE_ROOT_INDEX.search(xml):
        locs = []
        for block in _RE_SMAP_BLOCK.findall(xml):
            m = _RE_LOC.search(block)
            if m and m.group(1):
                locs.append((m.group(1), float("nan")))
        return "index", locs
    if _RE_ROOT_URLSET.search(xml):
        out = []
        for block in _RE_URL_BLOCK.findall(xml):
            m = _RE_LOC.search(block)
            if not m or not m.group(1):
                continue
            pm = _RE_PRIORITY.search(block)
            try:
                pr = float(pm.group(1)) if pm else default_priority
            except ValueError:
                pr = default_priority
            out.append((m.group(1), pr))
        return "urlset", out
    return "other", []


def canonical_roots(root_sitemaps: list[str]) -> list[str]:
    """Sorted distinct canonical forms of the root sitemap URLs."""
    return sorted({u for u in (canonicalize_one(r) for r in root_sitemaps) if u})


def _parse_bodies(
    html: pd.Series, default_priority: float
) -> tuple[list[str], pd.DataFrame]:
    """Decode and parse a batch of sitemap bodies → (the decoded bodies,
    their entries as ``(doc, kind, url_canon, priority)`` rows), where
    ``doc`` is the body's position in the batch and every loc is
    canonicalized in one vectorized pass; invalid locs are dropped."""
    bodies = [
        b.decode("utf-8", "replace") if isinstance(b, (bytes, bytearray)) else (b or "")
        for b in html
    ]
    rows = []
    for i, body in enumerate(bodies):
        kind, found = parse_sitemap_one(body, default_priority)
        rows.extend((i, kind, loc, pr) for loc, pr in found)
    entries = pd.DataFrame(rows, columns=["doc", "kind", "url_canon", "priority"])
    entries["url_canon"] = canonicalize_series(entries["url_canon"])
    return bodies, entries[entries["url_canon"].notna()]


def _sha256(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def root_sitemap_hashes(
    pages_canon: DataFrame, roots: list[str], default_priority: float
) -> dict[str, dict]:
    """Per root sitemap URL: content hash + semantic hash (F21 — sha256
    of the sorted distinct canonical loc set, fetcher.ts:901-914) of the
    CURRENT body in pages. One mapInPandas job over the roots' pages;
    only the (url, hash, hash) TRIPLES reach the driver — never the bodies
    (root sitemaps run to tens of MB each, so collecting bodies would OOM
    the driver at ~10^4 discovery roots)."""

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bodies, entries = _parse_bodies(pdf["html"], default_priority)
            locs = entries.groupby("doc")["url_canon"].unique()
            pdf["content_hash"] = [_sha256(b) for b in bodies]
            pdf["semantic_hash"] = [
                _sha256("\n".join(sorted(locs.get(i, [])))) for i in range(len(bodies))
            ]
            yield pdf[["url_canon", "content_hash", "semantic_hash"]]

    rows = (
        pages_canon.filter(string_in("url_canon", roots))
        .select("url_canon", "html")
        .mapInPandas(
            hash_batches,
            "url_canon string, content_hash string, semantic_hash string",
        )
        .collect()
    )
    return {
        r.url_canon: {"content_hash": r.content_hash, "semantic_hash": r.semantic_hash}
        for r in rows
    }


def expand_sitemaps(
    spark: SparkSession,
    pages_canon: DataFrame,
    root_sitemaps: list[str],
    cfg: CrawlConfig,
) -> DataFrame:
    """Breadth-first sitemap expansion over ALL hosts at once.

    pages_canon: pages with a ``url_canon`` column (pre-canonicalized scan).
    Returns (url_canon, priority) of every urlset loc discovered, already
    canonicalized but NOT yet exclude-filtered, deduplicated keeping the max
    priority (D7 + D1 semantics). The result reads only checkpointed level
    rows, so it is returned lazily.

    Cycle/depth guards as in the reference: global visited set (anti-join),
    depth ≤ cfg.sitemap_max_depth, ≤ cfg.sitemap_max_visited sitemaps per
    host (enforced per level, deterministic by url_canon order). A listed
    sitemap counts as visited whether or not pages holds its body.

    Each level is two checkpoint jobs, and each observes the count that
    decides whether the loop goes on: the capped batch's size, and the
    number of index children its parse found. The loop stops after a level
    with no index children, so no level runs to find nothing. The roots
    enter Spark as an Arrow ``LocalRelation`` and every union is of
    checkpointed frames, coalesced to ``spark.sql.shuffle.partitions``:
    no stage of the expansion runs a Python task without data or more tasks
    than a shuffle.
    """
    default_priority = cfg.sitemap_default_priority
    roots = canonical_roots(root_sitemaps)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def union(frames: list[DataFrame]) -> DataFrame:
        return reduce(DataFrame.unionByName, frames).coalesce(n_parts)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _parse_bodies(pdf["html"], default_priority)[1].drop(columns="doc")

    # one pass over the corpus to isolate sitemap bodies; every recursion
    # level then joins against this small cached subset instead of
    # rescanning 100 TB of pages per level
    sm_pages = (
        pages_canon.filter(F.col("html").cast("string").rlike(_SITEMAP_BODY_RLIKE))
        .select("url_canon", "html")
        .persist()
    )
    to_visit = spark.createDataFrame(
        pa.table({"url_canon": pa.array(roots, pa.string())})
    )
    batches: list[DataFrame] = []  # the visited set, one checkpoint per level
    levels: list[DataFrame] = []  # the urlset rows, one checkpoint per level
    try:
        for _depth in range(cfg.sitemap_max_depth):
            # per-host visited cap (reference: ≤500 per site, fetcher.ts:82) —
            # DISTRIBUTED: rank the level's candidates per host by url_canon
            # and keep rank + already-visited-count ≤ cap. Equivalent to the
            # scalar walk in url_canon order (the cap is per host, so global
            # vs per-host ordering is indistinguishable), with no driver-side
            # collect — millions of sitemaps per level never leave the
            # executors.
            rn = F.row_number().over(Window.partitionBy("host").orderBy("url_canon"))
            ranked = to_visit.withColumn("host", host_of_col("url_canon")).withColumn(
                "_rn", rn
            )
            n_seen = F.lit(0)
            if batches:
                counts = union(batches).groupBy("host").agg(F.count("*").alias("n_seen"))
                ranked = ranked.join(counts, "host", "left")
                n_seen = F.coalesce(F.col("n_seen"), n_seen)
            obs_batch = Observation()
            batch = (
                ranked.filter(F.col("_rn") + n_seen <= cfg.sitemap_max_visited)
                .select("url_canon", "host")
                .observe(obs_batch, F.count(F.lit(1)).alias("n"))
                # materialized once: the level's parse, the next level's
                # anti-join and the visited union all read it
                .localCheckpoint(eager=True)
            )
            if not obs_batch.get["n"]:
                break
            batches.append(batch)
            obs_rows = Observation()
            rows = (
                F.broadcast(batch.select("url_canon"))
                .join(sm_pages, "url_canon")
                .mapInPandas(parse, "kind string, url_canon string, priority double")
                .observe(
                    obs_rows,
                    F.sum((F.col("kind") == "index").cast("long")).alias("n_index"),
                )
                .localCheckpoint(eager=True)
            )
            levels.append(
                rows.filter(F.col("kind") == "urlset").select("url_canon", "priority")
            )
            if not obs_rows.get["n_index"]:
                break
            to_visit = (
                rows.filter(F.col("kind") == "index")
                .select("url_canon")
                .distinct()
                .join(union(batches).select("url_canon"), "url_canon", "left_anti")
            )
    finally:
        sm_pages.unpersist()
    if not levels:
        return spark.createDataFrame(
            pa.table({"url_canon": [], "priority": []}), "url_canon string, priority double"
        )
    return union(levels).groupBy("url_canon").agg(F.max("priority").alias("priority"))
