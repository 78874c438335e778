"""Scheduling: cron matching, priority job queue, retry requeue w/ decay.

Driver-side (the dims are tiny — sites, not URLs), mirroring:

- F19 cron match (``matchesCronExpression``, scheduler/cron.ts:1-30):
  5-field UTC cron supporting ``*``, ``*/n`` and exact values;
- J5  due-site semi-join (index.ts:42);
- W1/W2 priority queue order + upcoming top-k (scheduler/queue.ts:24,71-73);
- T6  failed-job requeue with delay + priority decay
  (queue.ts:95-103, dispatcher.ts:52-67).
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame

from ..functions.sqlexpr import string_in


def _field_matches(field: str, value: int) -> bool:
    if field == "*":
        return True
    if field.startswith("*/"):
        try:
            step = int(field[2:])
        except ValueError:
            return False
        return step > 0 and value % step == 0
    try:
        return int(field) == value
    except ValueError:
        return False


def matches_cron(expr: str, now: datetime) -> bool:
    """F19: minute hour day-of-month month day-of-week, UTC; invalid → False."""
    parts = expr.split()
    if len(parts) != 5:
        return False
    now = now.astimezone(timezone.utc)
    dow = (now.weekday() + 1) % 7  # cron DOW 0-6 = Sun-Sat; weekday() 0 = Mon
    values = [now.minute, now.hour, now.day, now.month, dow]
    return all(_field_matches(f, v) for f, v in zip(parts, values))


def due_sites(sites: DataFrame, now: datetime) -> DataFrame:
    """J5: the sites dim's rows whose schedule fires now (index.ts:40-45).
    Only the distinct schedules reach the driver, where the cron match
    runs; the rows are filtered JVM-side by the due schedules, so the
    result is ``sites`` under one filter, never rebuilt from driver rows.
    A site without a schedule never fires."""
    schedules = [r[0] for r in sites.select("schedule").distinct().collect()]
    due = sorted(s for s in schedules if s is not None and matches_cron(s, now))
    return sites.filter(string_in("schedule", due))


@dataclass(frozen=True)
class Job:
    site_id: str
    priority: int
    next_run: datetime
    attempts: int = 0


class JobQueue:
    """W1/W2/T6: priority-ordered job queue with retry decay. Small and
    driver-side (sites ≪ URLs); the frontier is the URL-level analog."""

    def __init__(self) -> None:
        self._jobs: list[Job] = []

    def upsert(self, job: Job) -> None:
        self._jobs = [j for j in self._jobs if j.site_id != job.site_id]
        self._jobs.append(job)
        # kept sorted on every upsert (queue.ts:24)
        self._jobs.sort(key=lambda j: (j.priority, j.next_run, j.site_id))

    def upcoming(self, k: int = 10) -> list[Job]:
        return sorted(self._jobs, key=lambda j: (j.next_run, j.site_id))[:k]

    def pop_due(self, now: datetime) -> list[Job]:
        due = [j for j in self._jobs if j.next_run <= now]
        self._jobs = [j for j in self._jobs if j.next_run > now]
        return due

    def requeue_failed(self, job: Job, now: datetime) -> Job:
        """T6: retry in 30 min (then 60), priority decremented
        (queue.ts:95-103)."""
        delay = timedelta(minutes=30 if job.attempts == 0 else 60)
        nj = replace(
            job,
            attempts=job.attempts + 1,
            priority=job.priority + 1,  # larger = lower urgency (asc sort)
            next_run=now + delay,
        )
        self.upsert(nj)
        return nj
