"""Driver-side value lists as ONE SQL expression.

``Column.isin(values)`` wraps each value in its own ``lit`` — one py4j call
per value, so a 10k-host list costs seconds of driver time before Spark
plans anything. :func:`string_in` renders the list as one escaped SQL
string instead (one ``F.expr`` call); the optimizer turns it into the same
``In``/``InSet`` predicate.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def string_in(col: str, values: Iterable[str]) -> Column:
    """``col IN (values…)`` built from one SQL string; ``false`` when
    ``values`` is empty (SQL has no empty IN list). Each value becomes a
    single-quoted literal with backslash and quote escaped, so values taken
    from crawled data (hosts, URLs) cannot end their literal early."""
    lits = ", ".join(
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in values
    )
    return F.expr(f"`{col}` IN ({lits})") if lits else F.lit(False)
