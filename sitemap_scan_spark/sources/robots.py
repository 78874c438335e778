"""robots.txt parsing + gate.

The reference has no robots handling (it crawls its own configured sites);
the north rule adds it as a first-class politeness input. Scalar parser is
the single source of truth (oracle + engine); the engine applies the gate as
a broadcast join of the tiny per-host rules dim against the frontier —
idiomatic Spark for a small dimension (hosts ≪ URLs).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class RobotsRules:
    disallow: list[str] = field(default_factory=list)
    crawl_delay: int | None = None
    sitemaps: list[str] = field(default_factory=list)

    def allows(self, path: str) -> bool:
        return not any(d and path.startswith(d) for d in self.disallow)


def parse_robots_one(text: str) -> RobotsRules:
    """Parse a robots.txt body; only the ``User-agent: *`` group's Disallow
    and Crawl-delay apply; ``Sitemap:`` lines are global per the protocol."""
    rules = RobotsRules()
    current_ua: str | None = None
    star_applies = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        m = re.match(r"(?i)^([a-z-]+)\s*:\s*(.*)$", line)
        if not m:
            continue
        key, val = m.group(1).lower(), m.group(2).strip()
        if key == "user-agent":
            current_ua = val
            star_applies = val == "*"
        elif key == "sitemap":
            if val:
                rules.sitemaps.append(val)
        elif star_applies and current_ua == "*":
            if key == "disallow" and val:
                rules.disallow.append(val)
            elif key == "crawl-delay":
                try:
                    rules.crawl_delay = max(1, int(float(val)))
                except ValueError:
                    pass
    return rules


def robots_gate(frontier: DataFrame, rules: DataFrame) -> DataFrame:
    """Append ``blocked: boolean`` to a frontier DF having (url_canon, host).

    Broadcast join (rules dim is per-host, tiny next to the frontier) and a
    JVM-side ``exists(disallow, d -> startswith(path, d))`` — no Python.
    """
    path = F.regexp_replace(F.col("url_canon"), r"^https?://[^/]+", "")
    blocked = F.when(
        F.col("disallow").isNull(), F.lit(False)
    ).otherwise(
        F.exists(F.col("disallow"), lambda d: path.startswith(d))
    )
    return (
        frontier.join(F.broadcast(rules), "host", "left")
        .withColumn("blocked", blocked)
        .drop("disallow")
    )
