"""The benchmark's workloads: input shape, crawl config and pass layout.

Every pass is one crawl's life as its user drives it, in one process with
one client (a closed loop: each call starts after the previous one ends):

1. discovery: a fresh ``CrawlEngine`` on an empty workdir, then
   ``init_frontier``;
2. ``fresh_rounds`` rounds on that engine;
3. resume, as at the next cron tick: a second ``CrawlEngine`` on the same
   workdir runs ``resumed_rounds`` more rounds; the last one compacts;
4. ``polls`` polls of the read API on the finished state.
"""

from __future__ import annotations

from dataclasses import dataclass

from gen import Shape


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    # scale name -> (input shape, round_size)
    sizes: dict
    base_host_budget: int
    fresh_rounds: int
    resumed_rounds: int
    polls: int

    @property
    def rounds(self) -> int:
        return self.fresh_rounds + self.resumed_rounds

    def shape(self, scale: str) -> Shape:
        return self.sizes[scale][0]

    def config_kwargs(self, scale: str) -> dict:
        """CrawlConfig fields this workload sets; everything else is the
        engine's default. The last round compacts the frontier."""
        return {
            "base_host_budget": self.base_host_budget,
            "round_size": self.sizes[scale][1],
            "max_rounds": self.rounds,
            "frontier_compact_every": self.rounds,
        }


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="wide_fresh",
            why=(
                "100 hosts, all seeded, no hot host: sitemap expansion and "
                "per-URL parse, canonicalize and anti-join work dominate"
            ),
            sizes={
                "full": (Shape(n_hosts=100, pages_per_host=60, n_seeds=0), 2500),
                "tiny": (Shape(n_hosts=12, pages_per_host=20, n_seeds=0), 100),
            },
            base_host_budget=100,
            fresh_rounds=1,
            resumed_rounds=1,
            polls=2,
        ),
        Workload(
            name="skew_deep",
            why=(
                "one hot host owns half the pages, 24 seeds, budget 20: "
                "per-round fixed cost, skewed dequeue, resume and compaction"
            ),
            sizes={
                "full": (
                    Shape(n_hosts=60, pages_per_host=40, n_seeds=24, hot_pages=2400),
                    300,
                ),
                "tiny": (
                    Shape(n_hosts=10, pages_per_host=10, n_seeds=4, hot_pages=100),
                    40,
                ),
            },
            base_host_budget=20,
            fresh_rounds=1,
            resumed_rounds=2,
            polls=2,
        ),
    )
}
