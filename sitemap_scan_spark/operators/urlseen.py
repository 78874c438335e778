"""URL-seen dedup: an exact left-anti join against the seen keys.

The reference's incremental-discovery core is a set-membership filter
(``canonicalNow.filter(url => !previousSnapshot.has(url))``,
/root/reference/src/backup/fetcher.ts:497-505). Distributed, it is a
``left_anti`` join on ``url_canon`` (SURVEY §2.4 D3). The engine joins
the keys of its one frontier cache, persisted and hash-partitioned on
``url_canon`` (``CrawlEngine._anti_seen``), so above the broadcast
threshold the join plans no Exchange on the seen side: only the
round-sized candidate set shuffles. A membership prefilter
could at best drop some of those candidate rows, and measured slower than
the join it would skip (BENCH/BASELINE.md, bloom A/B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def exact_anti_join(candidates: DataFrame, seen: DataFrame, col: str = "url_canon") -> DataFrame:
    """candidates ∖ seen on ``col`` — a plain ``left_anti`` join."""
    return candidates.join(seen.select(col), col, "left_anti")
