"""The crawl engine: discover → per-round dequeue→fetch→parse→dedup loop.

Distributed implementation of CRAWL_SPEC.md (the reference's
``performSiteBackup`` lifecycle, SURVEY §3.1, /root/reference/src/backup/
fetcher.ts:101-294) where every round is a short chain of DataFrame writes:

    pending ─sleeping-hosts gate (wall-clock politeness dim)─► eligible
            ─per-host window (map-side group limit) + top-k cap─► taken
            ─broadcast fetch join vs pages─► fetched/miss/redirect
            ─JVM regex parse (text/links/redirect)─► fetch_log delta
            ─vectorized resolve+canonicalize → exclude rlike → dedup─►
            ─exact anti-join vs the seen keys → robots gate─► inserts
            ─deltas (+ a snapshot every K rounds) via RoundStore─► next round

Scale notes (10^10 frontier, 100 TB pages):
- WRITE-FIRST: each stage materializes its delta once and re-reads it (no
  heap-resident checkpoints, lineage truncated every round); round counters
  ride the writes as ``Observation`` metrics, not extra jobs;
- the fetch join broadcasts ``taken`` (≤ round_size) against the pages scan;
  with an Iceberg pages table, bloom-filter column metrics on url prune
  almost all files — locally it's one scan per round;
- robots rules are a per-host dim — broadcast, never shuffled;
- parse/extract/dedup keys are JVM whole-stage codegen; Python appears only
  in Arrow-vectorized canonicalization — never per-row.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.canonicalize import host_of_col, with_canonical, with_resolved_canonical
from ..functions.extract import (
    extract_links_col,
    extract_redirect_col,
    extract_text_col,
)
from ..functions.sqlexpr import string_in
from ..operators.frontier import dequeue
from ..operators.urlseen import exact_anti_join
from ..sources.robots import parse_robots_one
from ..sources.sitemap import canonical_roots, expand_sitemaps, root_sitemap_hashes
from .checkpoint import RoundStore

FRONTIER_SCHEMA = (
    "url_canon string, host string, depth int, priority double, "
    "discovered_round int, status string, crawl_delay int"
)


def _observe_inserts(rows: DataFrame, obs: Observation) -> DataFrame:
    """``rows`` (gated frontier rows) with their count (``n_new``) and
    robots-blocked count (``n_blocked``) observed into ``obs`` by the job
    that writes them — no extra pass."""
    return rows.observe(
        obs,
        F.count(F.lit(1)).alias("n_new"),
        F.sum((F.col("status") == "robots_blocked").cast("long")).alias("n_blocked"),
    )


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        cfg: CrawlConfig,
        workdir: str,
        refresh_pages: bool = False,
    ):
        self.spark = spark
        self.cfg = cfg
        self.workdir = workdir
        self.store = RoundStore(os.path.join(workdir, "rounds"))
        # ONE persisted frontier cache (SCALE_DESIGN.md "Frontier base +
        # tail"). The BASE is frontier_at(b) — every row and status,
        # hash-partitioned on url_canon — where b is the last cold rebuild
        # or compaction round; the TAIL is the list of rounds committed
        # since b, whose round-sized deltas are re-read from disk. Each
        # round derives both of its frontier inputs from the two:
        #  - pending (the dequeue input): the base's pending rows ∪ the
        #    tail's pending inserts, each part minus the tail's fetch_log
        #    keys (:meth:`_pending_parts`);
        #  - seen (the anti-join side): the base's keys, then the tail's
        #    insert keys (:meth:`_anti_seen`).
        # Between compactions nothing is re-persisted and no job runs to
        # advance the cache; a compaction rebases it from the new disk
        # snapshot, so the tail stays < frontier_compact_every rounds and
        # the plans built on the cache do not grow with the crawl.
        self._frontier: DataFrame | None = None
        self._frontier_round: int | None = None
        self._tail_rounds: list[int] = []
        if refresh_pages:
            # the pages table changed underneath (new crawl epoch) —
            # rebuild the canonicalized materialization
            import shutil

            shutil.rmtree(os.path.join(workdir, "pages_canon"), ignore_errors=True)
        self._prepare_pages(pages)

    # ------------------------------------------------------------------ setup
    def _prepare_pages(self, pages: DataFrame) -> None:
        """One-time canonicalized scan of the pages table, persisted to the
        workdir (the 100 TB analog: a canonical-url-keyed Iceberg copy or a
        materialized view — paid once, reused every round). Duplicate
        canonical URLs keep the (max warc_ts, max url) row, deterministically."""
        path = os.path.join(self.workdir, "pages_canon")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            w = Window.partitionBy("url_canon").orderBy(
                F.col("warc_ts").desc(), F.col("url").desc()
            )
            (
                with_canonical(pages, "url")
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
                .select("url_canon", "url", "warc_ts", "html", "lang")
                .write.mode("overwrite")
                .parquet(path)
            )
        self.pages_canon = self.spark.read.parquet(path)
        # persist the per-host rules dim: it is broadcast into the insert
        # gate EVERY round, and without the persist each broadcast rebuild
        # re-ran the robots mapInPandas parse over the pages scan (~0.35 s
        # of per-round fixed cost; the dim is one row per robots host —
        # cache-resident by construction)
        self.robots_dim = self._build_robots_dim().persist()
        self._any_delayed: bool | None = None  # lazily probed once

    def _wallclock_politeness_on(self) -> bool:
        """True iff some host's crawl_delay exceeds the round period — only
        then is the per-round host_state dim read and written (no upkeep
        per round otherwise). Probed once per engine instance."""
        if self._any_delayed is None:
            self._any_delayed = not self.robots_dim.filter(
                F.col("crawl_delay") > self.cfg.round_period()
            ).isEmpty()
        return self._any_delayed

    def _host_state(self, rnd: int) -> dict[str, int]:
        """The wall-clock politeness dim as of round ``rnd``:
        {host: next_eligible_round} for hosts still sleeping off a
        crawl_delay > round_period; {} when no round has one. It lives on
        disk only and is read with pyarrow (zero Spark jobs). Its size is
        bounded by round_size × ceil(max_crawl_delay / round_period): a
        sleeping host was fetched in one of the last ceil(d/T) rounds, and
        each round fetches at most round_size URLs.

        Walks BACK to the most recent committed round <= rnd that carries
        the table: discovery_refresh commits a round without host_state,
        and a crawl round resuming after it must not forget hosts mid-sleep
        (next_eligible_round is an absolute round number, exactly like the
        oracle's run-scoped ``next_eligible`` dict, so the comparison stays
        correct across intervening refresh rounds)."""
        for r in range(rnd, -1, -1):
            if self.store.has_table(r, "host_state"):
                t = self.store.read_local_table(r, "host_state")
                return dict(
                    zip(
                        t.column("host").to_pylist(),
                        t.column("next_eligible_round").to_pylist(),
                    )
                )
        return {}

    def _build_robots_dim(self) -> DataFrame:
        """Parse robots.txt rows into the per-host rules dim
        (host, disallow array, crawl_delay, sitemaps array).

        DISTRIBUTED: parsing runs in ``mapInPandas`` over the robots subset —
        at corpus scale hosts number in the millions, so nothing proportional
        to host count ever reaches the driver (the dim stays a DataFrame;
        the gate join broadcasts it only while it is actually small).

        Spec-faithful keying (CRAWL_SPEC Discovery 2): rules come from
        ``https://{host}/robots.txt``; host is extracted with the same
        port-stripping regex as ``_gate_inserts`` so ported hosts match their
        rules, and the dim is deduplicated to ONE row per host (the portless
        https row wins) so the gate's left join can never fan out inserts."""
        robots = self.pages_canon.filter(
            F.col("url_canon").rlike(r"^https://[^/?#]+/robots\.txt$")
        ).select("url_canon", "html")

        def parse_batches(batches):
            import pandas as pd

            from ..functions.canonicalize import host_of_one

            for pdf in batches:
                hosts, dis, cds, sms = [], [], [], []
                for u, h in zip(pdf["url_canon"], pdf["html"]):
                    text = (
                        h.decode("utf-8", "replace")
                        if isinstance(h, (bytes, bytearray))
                        else (h or "")
                    )
                    rules = parse_robots_one(text)
                    hosts.append(host_of_one(u))
                    dis.append(rules.disallow)
                    cds.append(rules.crawl_delay)
                    sms.append(rules.sitemaps)
                yield pd.DataFrame(
                    {
                        "host": hosts,
                        "url_canon": pdf["url_canon"],
                        "disallow": dis,
                        "crawl_delay": cds,
                        "sitemaps": sms,
                    }
                )

        parsed = robots.mapInPandas(
            parse_batches,
            "host string, url_canon string, disallow array<string>, "
            "crawl_delay int, sitemaps array<string>",
        )
        portless = F.col("url_canon") == F.concat(
            F.lit("https://"), F.col("host"), F.lit("/robots.txt")
        )
        rn = F.row_number().over(
            Window.partitionBy("host").orderBy(portless.desc(), "url_canon")
        )
        return (
            parsed.withColumn("_rn", rn)
            .filter(F.col("_rn") == 1)
            .select("host", "disallow", "crawl_delay", "sitemaps")
        )

    def _gate_inserts(self, cands: DataFrame, rnd: int) -> DataFrame:
        """Robots gate AT INSERT (CRAWL_SPEC Discovery 4 / Round 5): join the
        per-host rules dim (broadcast — only the small insert set is gated,
        never the full pending frontier), mark disallowed rows
        ``robots_blocked``, attach the host's crawl_delay to allowed rows.

        ``cands`` needs (url_canon, depth, priority); returns full frontier
        rows (status + crawl_delay + discovered_round)."""
        from ..sources.robots import robots_gate

        with_host = cands.withColumn("host", host_of_col("url_canon"))
        gated = robots_gate(
            with_host, self.robots_dim.select("host", "disallow", "crawl_delay")
        )
        return gated.select(
            "url_canon",
            "host",
            "depth",
            "priority",
            F.lit(rnd).alias("discovered_round"),
            F.when(F.col("blocked"), "robots_blocked").otherwise("pending").alias("status"),
            F.col("crawl_delay"),
        )

    def _exclude_filter(self, df: DataFrame, col: str = "url_canon") -> DataFrame:
        """P1 default i18n excludes as ONE alternation rlike (single regex
        pass, JVM-side; fetcher.ts:809-840)."""
        if not self.cfg.exclude_patterns:
            return df
        alternation = "(?i)(" + "|".join(self.cfg.exclude_patterns) + ")"
        return df.filter(~F.col(col).rlike(alternation))

    # ------------------------------------------------------------- discovery
    def init_frontier(self, seeds: DataFrame) -> dict:
        """Round 0: seeds + robots-declared sitemap expansion (CRAWL_SPEC
        'Discovery'). Commits the round-0 frontier snapshot."""
        cfg = self.cfg
        seed_canon = (
            with_canonical(seeds, "seed_url")
            .groupBy("url_canon")
            .agg(F.max("priority").cast("double").alias("priority"))
        )
        # one driver collect: each seed host's robots-declared sitemaps, or
        # the conventional /sitemap.xml when robots.txt declares none
        hosts = (
            seed_canon.select(host_of_col("url_canon").alias("host"))
            .distinct()
            .join(self.robots_dim.select("host", "sitemaps"), "host", "left")
            .collect()
        )
        roots = [
            u
            for r in sorted(hosts, key=lambda r: r.host)
            for u in (r.sitemaps or [f"https://{r.host}/sitemap.xml"])
        ]
        locs = expand_sitemaps(self.spark, self.pages_canon, roots, cfg)

        seeds_f = seed_canon.select("url_canon", F.lit(0).alias("depth"), "priority")
        locs_f = locs.select("url_canon", F.lit(1).alias("depth"), "priority")
        frontier = self._gate_inserts(
            self._exclude_filter(seeds_f.unionByName(locs_f))
            .groupBy("url_canon")
            .agg(F.max("priority").alias("priority"), F.min("depth").alias("depth"))
            .select("url_canon", "depth", "priority"),
            rnd=0,
        )
        # committed like every crawl round: the counters ride the snapshot
        # write as observed metrics, the manifest lands last
        obs = Observation()
        self.store.begin_round(0)
        self.store.write_table(
            self.spark,
            0,
            "frontier",
            _observe_inserts(frontier, obs),
        )
        n = int(obs.get["n_new"] or 0)
        n_blocked = int(obs.get["n_blocked"] or 0)
        self.store.commit_manifest(
            0,
            {
                "frontier_size": n,
                "n_blocked": n_blocked,
                "n_pending_after": n - n_blocked,
            },
        )
        # record discovery watermarks (root list + content/semantic hashes)
        # for refresh_discovery()'s no-rescan logic (T3/T5)
        canon_roots = canonical_roots(roots)
        self._save_discovery_state(
            {
                "roots": canon_roots,
                "root_hashes": root_sitemap_hashes(
                    self.pages_canon, canon_roots, cfg.sitemap_default_priority
                ),
            }
        )
        return {"frontier_size": n}

    def frontier_at(self, rnd: int) -> DataFrame:
        """The frontier STATE as of round ``rnd``.

        Rounds commit deltas, not snapshots (SCALE_DESIGN.md: a per-round
        full rewrite is O(frontier) — ~1.2 TB/round at 10^10 rows; the delta
        commit is O(round)). A full snapshot exists every
        ``cfg.frontier_compact_every`` rounds (plus round 0 and refresh
        rounds); in between the view is reconstructed latest-wins:

            base snapshot (newest ≤ rnd)
            ∪ frontier_inserts deltas (base, rnd]
            ← status updates from fetch_log deltas (base, rnd]

        A url_canon is dequeued at most once, so the per-URL update is
        unique; max(round) keeps the semantics safe if that ever changes."""
        store = self.store
        if store.has_table(rnd, "frontier"):
            return store.read_table(self.spark, rnd, "frontier")
        bases = [
            r for r in store.committed_rounds()
            if r <= rnd and store.has_table(r, "frontier")
        ]
        if not bases:
            raise RuntimeError(f"no frontier snapshot at or before round {rnd}")
        base = bases[-1]
        rows = store.read_table(self.spark, base, "frontier")
        upd_parts = []
        for r in range(base + 1, rnd + 1):
            if store.has_table(r, "frontier_inserts"):
                rows = rows.unionByName(
                    store.read_table(self.spark, r, "frontier_inserts")
                )
            if store.has_table(r, "fetch_log"):
                upd_parts.append(
                    store.read_table(self.spark, r, "fetch_log").select(
                        "url_canon", F.col("status").alias("_new_status"), "round"
                    )
                )
        if upd_parts:
            upd = upd_parts[0]
            for p in upd_parts[1:]:
                upd = upd.unionByName(p)
            latest_w = Window.partitionBy("url_canon").orderBy(F.col("round").desc())
            upd = (
                upd.withColumn("_rn", F.row_number().over(latest_w))
                .filter(F.col("_rn") == 1)
                .select("url_canon", "_new_status")
            )
            rows = (
                rows.join(upd, "url_canon", "left")
                .withColumn("status", F.coalesce("_new_status", "status"))
                .drop("_new_status")
            )
        return rows

    def _frontier_base(self, rnd: int) -> DataFrame:
        """The persisted frontier base; with the tail (``_tail_rounds``) it
        describes the frontier as of round ``rnd``.

        Rebuilt only when it does not line up with ``rnd`` — process start,
        after a refresh round, after a round that failed once it had joined
        the tail or begun its rebase — from one latest-wins view of
        frontier_at(rnd). Compaction rounds rebase it from their own
        snapshot (:meth:`_rebase`)."""
        through = self._tail_rounds[-1] if self._tail_rounds else self._frontier_round
        if self._frontier is None or through != rnd:
            self._rebase(self.frontier_at(rnd), rnd)
        return self._frontier

    def _rebase(self, frontier: DataFrame, rnd: int) -> None:
        """Persist ``frontier`` (frontier_at(rnd), read from DISK) as the
        base, hash-partitioned on url_canon, and clear the tail. The old
        base is dropped BEFORE the new one materializes, so the frontier is
        never memory-resident twice (the transient doubling OOMed a
        16-thread local JVM at 6.4M pending rows on an 8g heap)."""
        self._drop_frontier()
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        base = frontier.repartition(n, "url_canon").persist()
        base.count()
        self._frontier, self._frontier_round = base, rnd

    def _drop_frontier(self) -> None:
        if self._frontier is not None:
            self._frontier.unpersist()
        self._frontier, self._frontier_round, self._tail_rounds = None, None, []

    def _tail(self, name: str) -> DataFrame | None:
        """Table ``name`` of every tail round as one multi-path scan (≤
        compact_every round-sized deltas), or None on an empty tail."""
        if not self._tail_rounds:
            return None
        paths = [os.path.join(self.store._dir(r), name) for r in self._tail_rounds]
        return self.store.read_paths(self.spark, name, paths)

    def _pending_parts(self, rnd: int) -> list[DataFrame]:
        """The PENDING frontier rows as of round ``rnd`` — the dequeue
        input — as disjoint parts: the base's pending rows and the tail's
        pending inserts, each minus the keys the tail's rounds fetched.

        The parts are anti-joined separately rather than unioned first: a
        join keyed on url_canon leaves the base part hash-partitioned on
        url_canon (only the round-sized key side moves), so the dequeue's
        map-side per-host group limit prunes it in place before the
        per-host shuffle (plan-asserted in tests)."""
        pending = F.col("status") == "pending"
        base = self._frontier_base(rnd).filter(pending)
        inserts = self._tail("frontier_inserts")
        if inserts is None:
            return [base]
        taken = self._tail("fetch_log")
        return [
            exact_anti_join(base, taken),
            exact_anti_join(inserts.filter(pending), taken),
        ]

    def _anti_seen(self, df: DataFrame, rnd: int) -> DataFrame:
        """df ∖ seen(rnd), over the base/tail split: df ∖ (A ∪ B) =
        (df ∖ A) ∖ B. A is the base's keys — seen is append-only, so every
        base row, whatever its status, is a seen key — and a shuffled join
        reuses the base's url_canon partitioning, so only df moves (below
        the broadcast threshold Spark broadcasts A instead; plans/r08/). B
        is the tail's insert keys, round-sized."""
        out = exact_anti_join(df, self._frontier_base(rnd))
        inserts = self._tail("frontier_inserts")
        return out if inserts is None else exact_anti_join(out, inserts)

    # ---------------------------------------------------------- re-discovery
    def _discovery_state_path(self) -> str:
        return os.path.join(self.workdir, "discovery_state.json")

    def _save_discovery_state(self, state: dict) -> None:
        import json

        tmp = self._discovery_state_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1)
        os.rename(tmp, self._discovery_state_path())

    def _load_discovery_state(self) -> dict:
        import json

        p = self._discovery_state_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {}

    def refresh_discovery(self) -> dict:
        """T3/T5/S9 analog of the reference's no-rescan logic
        (fetcher.ts:995-1090): re-hash each root sitemap's body; unchanged →
        skip; content changed but semantic hash (loc set) unchanged —
        ``<lastmod>``-only churn — → skip but refresh the stored content
        hash; semantically changed → re-expand that root and insert the
        genuinely new URLs as pending (listener-mode incremental discovery,
        fetcher.ts:482-505). Requires a committed crawl state."""
        latest = self.store.latest_round()
        if latest is None:
            raise RuntimeError("refresh_discovery needs an initialized crawl")
        state = self._load_discovery_state()
        roots = sorted(state.get("roots", []))
        stored = state.get("root_hashes", {})
        current = root_sitemap_hashes(
            self.pages_canon, roots, self.cfg.sitemap_default_priority
        )

        changed_roots = []
        skipped, lastmod_only = [], []
        for root in roots:
            cur = current.get(root)
            old = stored.get(root)
            if cur is None or (old and cur["content_hash"] == old["content_hash"]):
                skipped.append(root)
                continue
            if old and cur["semantic_hash"] == old["semantic_hash"]:
                lastmod_only.append(root)  # volatile <lastmod>, stable locs
                continue
            changed_roots.append(root)

        n_new = 0
        if changed_roots:
            locs = expand_sitemaps(self.spark, self.pages_canon, changed_roots, self.cfg)
            frontier = self.frontier_at(latest)
            cands = self._exclude_filter(
                locs.select("url_canon", F.lit(1).alias("depth"), "priority")
            )
            fresh = exact_anti_join(cands, frontier.select("url_canon"))
            # commit as a fresh round so resume semantics stay append-only;
            # inserts are stamped with the round they are COMMITTED in, so
            # first_seen_round and the dequeue tie-break (discovered_round
            # asc) rank them after genuine round-`latest` inserts
            new_round = latest + 1
            new_rows = self._gate_inserts(
                fresh.select("url_canon", "depth", "priority"), new_round
            )
            # counters ride the inserts write as observed metrics, and the
            # frontier size advances arithmetically, as in run_round;
            # blocked inserts are seen-but-never-pending, so they must not
            # inflate the pending counter run() terminates on
            obs = Observation()
            self.store.begin_round(new_round)
            new_rows = self.store.write_table(
                self.spark,
                new_round,
                "frontier_inserts",
                _observe_inserts(new_rows, obs),
            )
            merged = frontier.unionByName(new_rows)
            self.store.write_table(self.spark, new_round, "frontier", merged)
            n_new = int(obs.get["n_new"] or 0)
            n_blocked_new = int(obs.get["n_blocked"] or 0)
            prev = self.store.read_manifest(latest)["counters"]
            self.store.commit_manifest(
                new_round,
                {
                    "round": new_round,
                    "kind": "discovery_refresh",
                    "n_taken": 0,
                    "n_new": n_new,
                    "n_blocked": n_blocked_new,
                    "n_pending_after": prev["n_pending_after"] + n_new - n_blocked_new,
                    "frontier_size": prev["frontier_size"] + n_new,
                },
            )

        state["root_hashes"] = {**stored, **current}
        self._save_discovery_state(state)
        return {
            "skipped": len(skipped),
            "lastmod_only": len(lastmod_only),
            "re_expanded": len(changed_roots),
            "n_new": n_new,
        }

    # ----------------------------------------------------------------- round
    def _fetch(self, rnd: int, dq: DataFrame) -> tuple[DataFrame, dict]:
        """Fetch + parse the dequeued rows and write them as round ``rnd``'s
        fetch_log delta. Returns (the re-read delta, its observed counters)."""
        taken = dq.select(
            F.lit(rnd).alias("round"),
            "rank",
            "url_canon",
            "host",
            "depth",
            "priority",
            "crawl_delay",
        )

        # 4. fetch simulation. A plain left join would shuffle the whole
        # pages table (a left-outer can't use the big side as broadcast
        # build), so: broadcast-hash inner join (pages scan streams past the
        # tiny taken set, no shuffle) + small left join to recover misses.
        # On Iceberg, url bloom metadata prunes the scan itself.
        hits = self.pages_canon.select("url_canon", "html").join(
            F.broadcast(taken.select("url_canon")), "url_canon", "inner"
        )
        # parse entirely JVM-side (extract_text_col/extract_links_col are
        # whole-stage-codegen regex twins of the pandas extractors — in
        # local mode a pandas-UDF here would oversubscribe every core with
        # a python worker; byte-identity is covered by the parity suite).
        # The extraction runs HERE, in the pages-scan stage, so the second
        # join moves (and at round scale broadcasts) only the extracted
        # columns — never the raw html payload (guide §2.3/§8: decide and
        # move the heavy bytes once; previously the hit rows' html was
        # carried through the taken⋈hits join and parsed there).
        redirect = extract_redirect_col("html")
        parsed = hits.select(
            "url_canon",
            F.when(F.col("html").isNotNull(), extract_links_col("html")).alias(
                "links"
            ),
            redirect.alias("redirect_to"),
            F.when(
                F.col("html").isNotNull() & redirect.isNull(),
                extract_text_col("html"),
            ).alias("text_extracted"),
            F.col("html").isNotNull().alias("_hit"),
        )
        fetched = taken.join(parsed, "url_canon", "left")
        enriched = fetched.withColumn(
            "status",
            F.when(F.col("_hit").isNull() | ~F.col("_hit"), "miss")
            .when(F.col("redirect_to").isNotNull(), "redirect")
            .otherwise("fetched"),
        ).drop("_hit")
        # round counters ride the WRITE job as observed metrics — zero extra
        # passes (at 10^8-URL cluster rounds a per-round status-column rescan
        # is real money; Observation aggregates map-side during the write)
        obs_fetch = Observation()
        to_write = enriched.select(
            "round",
            "rank",
            "url_canon",
            "host",
            "depth",
            "priority",
            "crawl_delay",
            "status",
            "text_extracted",
            "links",
            "redirect_to",
        ).observe(
            obs_fetch,
            F.count(F.lit(1)).alias("n_taken"),
            F.sum((F.col("status") == "fetched").cast("long")).alias("n_fetched"),
            F.sum((F.col("status") == "miss").cast("long")).alias("n_miss"),
            F.sum((F.col("status") == "redirect").cast("long")).alias("n_redirect"),
        )
        fetch_log = self.store.write_table(self.spark, rnd, "fetch_log", to_write)
        return fetch_log, obs_fetch.get  # populated by the write job

    def _candidates(self, fetch_log: DataFrame) -> DataFrame:
        """The candidate links of a fetch_log delta: the links of fetched
        rows and the targets of redirects, resolved and canonicalized in
        one Arrow-vectorized pass, excluded, deduplicated per round (max
        priority, min depth) and cut at max_depth."""
        cfg = self.cfg
        links = fetch_log.filter(F.col("status") == "fetched").select(
            F.col("url_canon").alias("base"),
            F.explode("links").alias("raw"),
            (F.col("depth") + 1).alias("cand_depth"),
            F.lit(cfg.link_priority).alias("cand_priority"),
        )
        redirects = fetch_log.filter(F.col("status") == "redirect").select(
            F.col("url_canon").alias("base"),
            F.col("redirect_to").alias("raw"),
            (F.col("depth") + 1).alias("cand_depth"),
            F.col("priority").alias("cand_priority"),
        )
        cands = with_resolved_canonical(
            links.unionByName(redirects), "base", "raw", "url_canon"
        ).select("url_canon", "cand_depth", "cand_priority")
        return (
            self._exclude_filter(cands)
            .groupBy("url_canon")
            .agg(
                F.max("cand_priority").alias("priority"),
                F.min("cand_depth").alias("depth"),
            )
            .filter(F.col("depth") <= cfg.max_depth)
        )

    def run_round(self, rnd: int) -> dict:
        """One crawl round, WRITE-FIRST: each stage materializes its delta to
        the round directory once and continues from the re-read — no
        heap-resident checkpoints, counters observed on the writes. The
        manifest commit (last) makes the round visible."""
        cfg = self.cfg
        t0 = time.time()
        store = self.store
        store.begin_round(rnd)
        # 1. robots gating happened at insert (status + crawl_delay live in
        # the frontier row), so every pending row is eligible by construction
        # — except hosts sleeping off a crawl_delay > round_period (CRAWL_SPEC
        # Round 3a: wall-clock politeness), gated by the tiny host_state dim
        eligible_parts = self._pending_parts(rnd - 1)
        period = cfg.round_period()
        wallclock = self._wallclock_politeness_on()
        sleeping_now: dict[str, int] = {}
        if wallclock:
            sleeping_now = {
                h: nr for h, nr in self._host_state(rnd - 1).items() if nr > rnd
            }
        if sleeping_now:
            # a narrow NOT IN filter (no job, no exchange): the base part
            # keeps its url_canon partitioning into the dequeue's map-side
            # group limit. One SQL string, not isin(): one py4j call for the
            # whole sleeping set instead of one per host
            awake = ~string_in("host", sorted(sleeping_now))
            eligible_parts = [p.filter(awake) for p in eligible_parts]

        # 2-3. politeness dequeue: per-host window (map-side group limit
        # before the per-host shuffle) + top-k cap. The ≤ round_size taken
        # rows stay persisted until the fetch_log write has consumed them
        # (the fetch join reads them twice), and are released on every exit
        # path. The crawl order is persisted as columns OF the fetch_log
        # delta (one write per round for dequeue+fetch instead of two — the
        # rank/host/delay columns are round-sized, and manifest-last keeps
        # the commit atomic either way).
        prev_counters = store.read_manifest(rnd - 1)["counters"]
        prev_pending = prev_counters["n_pending_after"]
        dq = dequeue(eligible_parts, cfg.base_host_budget, cfg.round_size, period)
        try:
            fetch_log, fetch_counts = self._fetch(rnd, dq)
        finally:
            dq.unpersist()
        if wallclock:
            # hosts hit this round with delay > period sleep ceil(d/T)-1
            # rounds; carry forward still-sleeping hosts, newest round wins.
            # Computed DRIVER-side from the just-written fetch_log delta:
            # a column-pruned pyarrow read of (host, crawl_delay) — the
            # delta is round-sized and local — so the upkeep launches no
            # Spark job.
            import math

            import pyarrow as pa

            fl = store.read_local_table(
                rnd, "fetch_log", columns=["host", "crawl_delay"]
            )
            hit: dict[str, int] = {}
            for h, d in zip(
                fl.column("host").to_pylist(), fl.column("crawl_delay").to_pylist()
            ):
                if d is not None and d > period:
                    hit[h] = min(hit.get(h, d), d)
            new_state = dict(sleeping_now)  # hosts still mid-sleep
            for h, d in hit.items():
                nr = rnd + math.ceil(d / period)
                new_state[h] = max(new_state.get(h, 0), nr)
            store.write_local_table(
                rnd,
                "host_state",
                pa.table(
                    {
                        "host": pa.array(sorted(new_state), type=pa.string()),
                        "next_eligible_round": pa.array(
                            [new_state[h] for h in sorted(new_state)],
                            type=pa.int32(),
                        ),
                    }
                ),
            )

        # 5/6. candidate links (_candidates), exact anti-join vs the whole
        # frontier → this round's inserts
        cands = self._candidates(fetch_log)
        # frontier size and pending are tracked arithmetically in the
        # manifest (no frontier scan). Every writer in this repo records them
        # (init_frontier, refresh_discovery, run_round), so a missing key
        # means a foreign/corrupt store — fail loudly rather than quietly
        # re-counting.
        frontier_size = prev_counters["frontier_size"]
        fresh = self._anti_seen(cands, rnd - 1)
        # robots gate AT INSERT — only the (small) fresh set is joined
        # against the rules dim; blocked rows enter the frontier terminally
        obs_ins = Observation()
        store.write_table(
            self.spark,
            rnd,
            "frontier_inserts",
            _observe_inserts(
                self._gate_inserts(fresh.select("url_canon", "depth", "priority"), rnd),
                obs_ins,
            ),
        )
        ins_counts = obs_ins.get

        # (url_seen is DERIVED from fetch_log + frontier_inserts at read
        # time — see url_seen(); no separate per-round write)

        # 7. frontier commit: the round's deltas (fetch_log status updates +
        # frontier_inserts) ARE the commit — per-round bytes written scale
        # with the round, not the frontier — and the round joins the cache's
        # tail. Every cfg.frontier_compact_every rounds the latest-wins view
        # is compacted into a full snapshot so reconstruction depth stays
        # bounded (and old deltas become expirable), and the frontier cache
        # is rebased from it: the one O(frontier) shuffle in the cycle,
        # amortized over k rounds.
        if rnd % max(1, cfg.frontier_compact_every) == 0:
            snapshot = store.write_table(
                self.spark, rnd, "frontier", self.frontier_at(rnd)
            )
            self._rebase(snapshot, rnd)
        else:
            self._tail_rounds.append(rnd)

        # counters were observed during the two writes above — no rescans
        counters = {
            "round": rnd,
            "n_blocked": int(ins_counts["n_blocked"] or 0),
            "n_taken": int(fetch_counts["n_taken"] or 0),
            "n_fetched": int(fetch_counts["n_fetched"] or 0),
            "n_miss": int(fetch_counts["n_miss"] or 0),
            "n_redirect": int(fetch_counts["n_redirect"] or 0),
            "n_new": int(ins_counts["n_new"] or 0),
        }
        counters["frontier_size"] = frontier_size + counters["n_new"]
        # pending is tracked arithmetically so run() never rescans the
        # frontier just to decide termination (prev_pending read above)
        counters["n_pending_after"] = (
            prev_pending - counters["n_taken"] - counters["n_blocked"] + counters["n_new"]
        )
        counters["secs"] = round(time.time() - t0, 3)
        counters["urls_per_sec"] = round(
            counters["n_taken"] / max(counters["secs"], 1e-9), 1
        )
        store.commit_manifest(rnd, counters)
        return counters

    # ------------------------------------------------------------------- run
    def run(self, seeds: DataFrame, max_rounds: int | None = None) -> list[dict]:
        """Full crawl (or resume: skips discovery + committed rounds)."""
        max_rounds = max_rounds or self.cfg.max_rounds
        latest = self.store.latest_round()
        stats: list[dict] = []
        if latest is None:
            self.init_frontier(seeds)
            latest = 0
        for rnd in range(latest + 1, max_rounds + 1):
            if self.store.read_manifest(rnd - 1)["counters"]["n_pending_after"] <= 0:
                break
            stats.append(self.run_round(rnd))
        return stats

    # ------------------------------------------------------------------- api
    def progress(self) -> dict:
        """3.2 analog of POST /api/backup/progress (index.ts:330-335):
        latest committed round's counters + totals."""
        latest = self.store.latest_round()
        if latest is None:
            return {"round": None, "status": "not_started"}
        m = self.store.read_manifest(latest)
        # every writer records n_pending_after, so an API call costs a
        # manifest read, not an O(frontier) reconstruction
        pending = m["counters"]["n_pending_after"]
        return {
            "round": latest,
            "counters": m["counters"],
            "pending": pending,
            "has_more": pending > 0,
        }

    def reset(self) -> None:
        """3.2 analog of POST /api/backup/reset (fetcher.ts:729-745)."""
        from .maintenance import reset as _reset

        _reset(self.store)
        self._drop_frontier()

    def close(self) -> None:
        """Release what the engine persists: the frontier cache and the
        robots dim. Call it when the engine is done; a later round rebuilds
        the frontier cache, but the robots dim is then recomputed on each
        use. Spark keys cached frames by plan, so engines on the same
        workdir share these entries: closing one releases them for all."""
        self._drop_frontier()
        self.robots_dim.unpersist()

    def overview(self) -> DataFrame:
        """3.3 analog of GET /api/sites/overview (index.ts:399-425): one row
        per host — frontier status breakdown + first/last activity — a
        left-join enrich over the latest frontier snapshot."""
        latest = self.store.latest_round()
        if latest is None:
            raise RuntimeError("overview needs an initialized crawl")
        frontier = self.frontier_at(latest)
        return (
            frontier.groupBy("host")
            .agg(
                F.count("*").alias("n_urls"),
                F.sum(F.when(F.col("status") == "pending", 1).otherwise(0)).alias("n_pending"),
                F.sum(F.when(F.col("status") == "fetched", 1).otherwise(0)).alias("n_fetched"),
                F.sum(F.when(F.col("status") == "miss", 1).otherwise(0)).alias("n_miss"),
                F.sum(F.when(F.col("status") == "redirect", 1).otherwise(0)).alias("n_redirect"),
                F.sum(F.when(F.col("status") == "robots_blocked", 1).otherwise(0)).alias("n_blocked"),
                F.min("discovered_round").alias("first_discovered_round"),
                F.max("discovered_round").alias("last_discovered_round"),
            )
            .orderBy("host")
        )

    # --------------------------------------------------------------- outputs
    def _fetch_logs(self) -> DataFrame:
        """Every committed round's fetch_log delta — an empty frame with the
        columns the read API projects before the first round commits."""
        df = self.store.read_deltas(self.spark, "fetch_log")
        if df is None:
            import pyarrow as pa

            # an Arrow LocalRelation: no Python task when it is evaluated
            cols = ("round", "rank", "url_canon", "status", "text_extracted")
            return self.spark.createDataFrame(
                pa.table({c: [] for c in cols}),
                "round int, rank int, url_canon string, status string, "
                "text_extracted string",
            )
        return df

    def crawl_order(self) -> DataFrame:
        """Dequeue positions — a projection of the fetch_log deltas (the
        rank/host columns ride in fetch_log; no separate table)."""
        return (
            self._fetch_logs()
            .select("round", "rank", "url_canon")
            .orderBy("round", "rank")
        )

    def url_seen(self) -> DataFrame:
        """Derived from the per-round deltas (no dedicated table): dequeued
        URLs from fetch_log, robots-blocked URLs from their insert delta
        (round 0's inserts ARE its frontier snapshot). A URL appears in
        exactly one source by construction."""
        seen = self._fetch_logs().select(
            "url_canon",
            F.col("round").alias("first_seen_round"),
            F.col("status").alias("last_status"),
        )
        blocked0 = (
            self.store.read_table(self.spark, 0, "frontier")
            .filter(F.col("status") == "robots_blocked")
            .select(
                "url_canon",
                F.lit(0).alias("first_seen_round"),
                F.lit("robots_blocked").alias("last_status"),
            )
        )
        seen = seen.unionByName(blocked0)
        inserts = self.store.read_deltas(self.spark, "frontier_inserts")
        if inserts is not None:
            seen = seen.unionByName(
                inserts.filter(F.col("status") == "robots_blocked").select(
                    "url_canon",
                    F.col("discovered_round").alias("first_seen_round"),
                    F.lit("robots_blocked").alias("last_status"),
                )
            )
        return seen

    def fetch_log(self) -> DataFrame:
        return self._fetch_logs().select("round", "url_canon", "status", "text_extracted")
