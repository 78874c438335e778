"""Round checkpointing with per-partition lineage — the Iceberg-snapshot
analog of the reference's KV resume state (``batch_progress:*``,
``run_*``, ``sitemap_listener_cursor:*`` — SURVEY §2.9 T2/T4;
/root/reference/src/backup/fetcher.ts:256-340).

Layout::

    {root}/round_0007/
        frontier/            FULL frontier snapshot (compaction rounds only)
        fetch_log/           this round's dequeue positions + fetch results
                             (rank/host/crawl_delay ride along — crawl_order
                             is a projection, not a table)
        frontier_inserts/    this round's newly-inserted URLs (delta)
        host_state/          wall-clock politeness dim: sleeping host →
                             next_eligible_round, pyarrow-written, at most
                             round_size × ceil(max_delay / period) rows
        (url_seen is DERIVED at read time from fetch_log +
         frontier_inserts deltas — no dedicated table is written)
        _manifest.json       committed LAST — counters, row counts,
                             per-partition file lineage, parent round

A round is visible iff its manifest exists, so a killed run leaves at most
one invisible partial directory; resume = load the highest committed round's
frontier and continue (SURVEY §7.3 risk 4: commit manifest last). On a real
cluster the same layout lands on object storage / an Iceberg catalog —
snapshot-append tables with the manifest as the atomic commit.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

_ROUND_RE = re.compile(r"^round_(\d{4})$")


class RoundStore:
    def __init__(self, root: str):
        self.root = root
        # table-name → schema of the last write this process made: reads of
        # a table we wrote ourselves skip schema inference (a 1-task
        # footer-read job per read — pure per-round fixed cost). Resume in
        # a fresh process falls back to inference once per table.
        self._schemas: dict = {}
        os.makedirs(root, exist_ok=True)

    def _dir(self, rnd: int) -> str:
        return os.path.join(self.root, f"round_{rnd:04d}")

    def committed_rounds(self) -> list[int]:
        out = []
        for name in os.listdir(self.root):
            m = _ROUND_RE.match(name)
            if m and os.path.exists(os.path.join(self.root, name, "_manifest.json")):
                out.append(int(m.group(1)))
        return sorted(out)

    def latest_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def begin_round(self, rnd: int) -> None:
        """Clear partial leftovers from a killed run (no manifest = invisible)."""
        d = self._dir(rnd)
        if os.path.exists(d) and not os.path.exists(os.path.join(d, "_manifest.json")):
            shutil.rmtree(d)

    def write_table(self, spark: SparkSession, rnd: int, name: str, df: DataFrame) -> DataFrame:
        """Write one table of an in-progress round and return it re-read —
        the write-first pattern: materialize once, reuse from disk (cheaper
        and more memory-safe than caching wide rows on the heap). The
        re-read declares the schema we just wrote, so it plans ZERO jobs —
        schema inference would launch a 1-task footer-read job per
        write_table call, a pure per-round fixed cost."""
        path = os.path.join(self._dir(rnd), name)
        df.write.mode("overwrite").parquet(path)
        self._schemas[name] = df.schema
        return spark.read.schema(df.schema).parquet(path)

    def table_lineage(self, rnd: int, name: str) -> dict:
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        path = os.path.join(self._dir(rnd), name)
        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        # footer reads are tiny but latency-bound (one fs round trip per
        # partition file); serial reads make the manifest commit a
        # parallelism-independent per-round cost — overlap them
        with ThreadPoolExecutor(max_workers=min(16, max(1, len(files)))) as ex:
            rows = list(
                ex.map(
                    lambda f: pq.read_metadata(os.path.join(path, f)).num_rows, files
                )
            )
        return {
            "n_files": len(files),
            "partitions": [
                {"file": f, "rows": n} for f, n in zip(files, rows)
            ],
        }

    def commit_manifest(self, rnd: int, counters: dict) -> dict:
        """Write the manifest LAST — the atomic commit marker for a round
        whose tables were streamed out with write_table()."""
        d = self._dir(rnd)
        lineage = {
            name: self.table_lineage(rnd, name)
            for name in sorted(os.listdir(d))
            if os.path.isdir(os.path.join(d, name))
        }
        manifest = {
            "round": rnd,
            "parent_round": rnd - 1 if rnd > 0 else None,
            "committed_at": time.time(),
            "counters": counters,
            "lineage": lineage,
        }
        tmp = os.path.join(d, "_manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.rename(tmp, os.path.join(d, "_manifest.json"))
        return manifest

    def read_manifest(self, rnd: int) -> dict:
        with open(os.path.join(self._dir(rnd), "_manifest.json")) as f:
            return json.load(f)

    def has_table(self, rnd: int, name: str) -> bool:
        return os.path.exists(os.path.join(self._dir(rnd), name, "_SUCCESS"))

    def write_local_table(self, rnd: int, name: str, table) -> None:
        """Write a small table (e.g. the sleeping-hosts politeness dim,
        bounded by the hosts fetched in its last few rounds) straight from
        the driver via pyarrow: zero Spark jobs, same on-disk layout
        (a directory of .parquet files) as write_table, so has_table /
        table_lineage / manifest commits treat it identically."""
        import shutil as _shutil

        import pyarrow.parquet as pq

        path = os.path.join(self._dir(rnd), name)
        if os.path.exists(path):
            _shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"))
        # the commit marker Spark writes — has_table() keys on it
        open(os.path.join(path, "_SUCCESS"), "w").close()

    def read_local_table(self, rnd: int, name: str, columns: list | None = None):
        """pyarrow read of a table dir (driver-side, zero Spark jobs) —
        concatenates the .parquet files, skipping Spark's _SUCCESS markers.
        Pass ``columns`` to prune at read time (parquet is columnar — the
        unread columns' pages are never touched)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self._dir(rnd), name)
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        )
        return pa.concat_tables(
            [pq.read_table(f, columns=columns) for f in files]
        )

    def read_table(self, spark: SparkSession, rnd: int, name: str) -> DataFrame:
        return self.read_paths(spark, name, [os.path.join(self._dir(rnd), name)])

    def read_paths(self, spark: SparkSession, name: str, paths: list) -> DataFrame:
        """Read parquet dirs of table ``name``, skipping schema inference
        when this process wrote the table before (see _schemas).

        Every declared-schema read first checks the parquet footers of the
        oldest and the newest path (driver-side metadata reads, no Spark
        job) against the cached schema: a declared-schema read silently
        null-fills missing columns, so a read of rounds written by another
        code version must fall back to inference instead of fabricating
        nulls. ``paths`` are in round order."""
        reader = spark.read
        schema = self._schemas.get(name)
        if schema is not None and not all(
            self._footer_matches(p, schema) for p in {paths[0], paths[-1]}
        ):
            schema = None
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(*paths)
        if schema is None:
            self._schemas[name] = df.schema  # (re-)infer once, then cached
        return df

    @staticmethod
    def _footer_matches(path: str, schema) -> bool:
        """True iff the first parquet file under ``path`` has exactly the
        cached column names (order-insensitive; types are left to the
        parquet reader, which errors loudly on real type conflicts)."""
        import pyarrow.parquet as pq

        try:
            files = sorted(
                f for f in os.listdir(path) if f.endswith(".parquet")
            )
            if not files:
                return True
            names = set(
                pq.read_schema(os.path.join(path, files[0])).names
            )
        except Exception:
            # pyarrow raises ArrowInvalid (not OSError) on corrupt footers —
            # any unreadable-here case defers to the Spark read to surface it
            return True
        return names == {f.name for f in schema.fields}

    def read_deltas(self, spark: SparkSession, name: str) -> DataFrame | None:
        """Union a delta table (fetch_log / frontier_inserts) across all
        committed rounds."""
        paths = [
            os.path.join(self._dir(r), name)
            for r in self.committed_rounds()
            if os.path.exists(os.path.join(self._dir(r), name))
        ]
        if not paths:
            return None
        return self.read_paths(spark, name, paths)
