"""Crawl configuration shared by the Spark engine and the sequential oracle.

Defaults mirror the reference's knobs: the 11 default i18n exclude patterns
(/root/reference/src/backup/fetcher.ts:809-821), sitemap recursion guards
depth ≤ 10 / ≤ 500 visited (fetcher.ts:81-82), batch-size analog
(fetcher.ts:72-77 → round_size), per-host politeness (concurrency clamp
fetcher.ts:1098-1099 → base_host_budget).
"""

from __future__ import annotations

from dataclasses import dataclass, field

# fetcher.ts:810-821 — applied case-insensitively.
DEFAULT_EXCLUDE_PATTERNS: list[str] = [
    "^.*/fr/.*$",
    "^.*/en/.*$",
    "^.*/es/.*$",
    "^.*/de/.*$",
    "^.*/it/.*$",
    "^.*/pt/.*$",
    "^.*/zh/.*$",
    "^.*/ja/.*$",
    "^.*/ko/.*$",
    "^.*/ar/.*$",
    "^.*/ru/.*$",
]


@dataclass(frozen=True)
class CrawlConfig:
    base_host_budget: int = 10
    round_size: int = 10_000
    max_depth: int = 6
    max_rounds: int = 20
    link_priority: float = 0.5
    sitemap_default_priority: float = 0.5
    exclude_patterns: tuple[str, ...] = tuple(DEFAULT_EXCLUDE_PATTERNS)
    sitemap_max_depth: int = 10
    sitemap_max_visited: int = 500
    # wall-clock politeness: one round represents this many seconds (the
    # reference's cron tick). crawl_delay ≤ T → floor(T/delay) fetches per
    # round (capped at base_host_budget); crawl_delay > T → the host sleeps
    # ceil(delay/T)-1 rounds between single fetches (next_eligible_round).
    # None → base_host_budget, which makes the ≤T budgets identical to the
    # classic base//delay division.
    round_period_secs: int | None = None
    # write a FULL frontier snapshot every K rounds; in between, rounds
    # commit only deltas (frontier_inserts + fetch_log) and readers
    # reconstruct a latest-wins view — per-round bytes written scale with
    # the ROUND, not the frontier (at 10^10 rows a per-round snapshot is
    # ~1.2 TB of parquet). 1 = snapshot every round (the old behavior).
    frontier_compact_every: int = 8

    def round_period(self) -> int:
        return self.round_period_secs or self.base_host_budget
