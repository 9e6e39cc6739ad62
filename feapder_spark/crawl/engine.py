"""The crawl engine — iterative DataFrame jobs over snapshot tables.

One driver loop collapses the reference's three spider lifecycles
(AirSpider/Spider/BatchSpider, SURVEY §3) into one iteration of named
phases (CrawlEngine._iterate), repeated while the frontier has due rows:

    _lease           politeness-gated top-k of the frontier      (S2/O1/O2)
    _fetch_outcome   fused mapInPandas fetch+parse, one rollup   (S7, P5-P9)
    _claim_links     anti-join(candidate links, seen)            (F1/J1/F7)
    _route_failures  retry, or park in the failed table
    _items           item export, deduped on the item fingerprint
    _commit          seen+docs+items+failed+frontier+order as one
                     checkpointed snapshot group                 (B1/B2/K1-K6)
    _maintain        fold the re-read append logs, compact on tombstones

Delivery semantics mirror the reference: at-least-once with
claim-on-enqueue dedup (request_buffer.py:42-50), priority-ascending lease
order with lexicographic fingerprint ties (redisdb.py:308-361), retry≤10
routing to a failed table (parser_control.py:298-342), item export
transactional with the fingerprint commit (item_buffer.py:351-358), and
resume-from-checkpoint that skips re-seeding when the frontier is non-empty
(scheduler.py:197-201).

Scale notes (the 100 TB story):
- take-batch is TakeOrderedAndProject (per-partition top-k), never a global
  sort; the frontier scan prunes on status/priority columns.
- the seen set is either the exact fingerprint table (anti-join, shuffle
  bounded by candidate count — fingerprints are 16 B) or the bucketed Bloom
  blobs (operators/seen_set.py): partition-pruned read of the touched
  buckets only + dynamic-partition-overwrite commit of the same.
- the frontier is a BANDED delta log: adds are append-only and
  hive-partitioned on the lease band (= priority, with per-band row counts
  in manifest meta); a lease appends tombstones keyed by (fingerprint,
  retry_times, added_iteration) into the same bands, and the visible set is
  adds ⟕anti tombstones — per-iteration write bytes are O(batch), and the
  per-iteration lease READ opens only the lowest bands covering batch_size
  visible rows (_lease_band_keys; the reference zset lease bound,
  redisdb.py:472-523), never the whole frontier.  Compaction folds
  tombstones back in when they exceed the visible size.  The anti-join
  BROADCASTS the tombstone side while the driver-tracked delta-log row
  count is under cfg.tombs_broadcast_max_rows — the adds side then reads
  shuffle-free for the whole between-compactions window at default cadence
  (measured −100% shuffle bytes at a 1M-tombstone delta log, BASELINE §5).
  On Iceberg both tables would additionally bucket by fingerprint so the
  beyond-the-bound join is co-partitioned (storage-partitioned join); with
  the broadcast bound + compaction cadence that residual shuffle is the
  documented fallback, not the steady state.
- each iteration's lineage is cut by persisted micro-batch frames; state
  never accumulates in driver memory (no collect of data rows anywhere).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from feapder_spark.crawl import frontier as FR
from feapder_spark.crawl import robots as RB
from feapder_spark.crawl.politeness import BUCKETS_DDL, TokenBuckets
from feapder_spark.crawl import semantics as S
from feapder_spark.crawl.fetcher import (
    fetch_parse_batch,
    route_failures_hooked,
    with_user_agent,
)
from feapder_spark.crawl.parser import (
    FUSED_LINKS_DDL,
    canonicalize_udf,
    docs_from_fused,
    link_candidates_fused,
)
from feapder_spark.crawl.items import item_fp_col as _items_fp_col
from feapder_spark.urlnorm import request_fingerprint
from feapder_spark.operators.seen_set import (
    BloomSeenSet,
    dedup_new,
    prune_expired,
)
from feapder_spark.store import SnapshotStore

SEEN_DDL = "fingerprint STRING, added_iteration INT, added_at TIMESTAMP"
DOCS_DDL = (
    "doc_id STRING, url STRING, "
    "spans ARRAY<STRUCT<kind: STRING, text: STRING, media_ref: STRING, offset: INT>>"
)
ITEMS_DDL = "item_fp STRING, doc_id STRING, url STRING, title STRING, n_spans INT"
# the failed park keeps the full frontier row (the reference re-puts the
# original serialized request, preserving priority, parser routing and the
# request payload — handle_failed_requests.py:29-54), not just the url
FAILED_DDL = (
    "fingerprint STRING, url STRING, url_canon STRING, host STRING, "
    "priority INT, parser_name STRING, retry_times INT, status_code INT, "
    "method STRING, payload MAP<STRING, STRING>, callback STRING, "
    "auto_request BOOLEAN"
)
ORDER_DDL = "seq LONG, iteration INT, fingerprint STRING"
METRICS_DDL = (
    "iteration INT, leased LONG, fetched_ok LONG, links_new LONG, links_dup LONG, "
    "links_dropped LONG, retried LONG, failed LONG"
)
PART_METRICS_DDL = "iteration INT, stage STRING, partition_id INT, rows LONG"
FETCH_CACHE_DDL = "fingerprint STRING, status_code INT, content STRING"
# tombstone delta log: one row per leased frontier-row version; the visible
# frontier is adds ⟕anti tombstones on exactly these three columns
TOMBS_DDL = "fingerprint STRING, retry_times INT, added_iteration INT"

# every engine table with its DDL; each checkpoint pins all of them
TABLE_DDLS = {
    "frontier": FR.FRONTIER_DDL,
    "frontier_tombs": TOMBS_DDL,
    "seen": SEEN_DDL,
    "seen_set": BloomSeenSet.BLOBS_SCHEMA,
    "docs": DOCS_DDL,
    "items": ITEMS_DDL,
    "failed": FAILED_DDL,
    "crawl_order": ORDER_DDL,
    "metrics": METRICS_DDL,
    "metrics_partitions": PART_METRICS_DDL,
    "fetch_cache": FETCH_CACHE_DDL,
    "robots": RB.ROBOTS_DDL,
    "token_buckets": BUCKETS_DDL,
}
TABLES = list(TABLE_DDLS)

# the one in-loop maintenance policy (CrawlEngine._maintain): each append
# log the loop re-reads folds past cfg.fold_min_segments segments, and
# segments of TARGET_FILE_BYTES (Iceberg's target file size) or more are
# never re-folded — seen, fetch_cache and items grow with no compaction
# reset, so uncapped folds would grow into O(table) pauses.
FOLDED_LOGS = ("frontier", "frontier_tombs", "seen", "fetch_cache", "items")
TARGET_FILE_BYTES = 256 << 20
# the only other in-loop trigger: compact the frontier delta log once its
# tombstones exceed max(this floor, the visible frontier size)
COMPACT_MIN_TOMBSTONES = 100_000

_ITEM_KEYS = ["doc_id", "n_spans", "title", "url"]  # sorted, item.py:141-153


_SCHEMAS: dict = {}


def _schema(ddl: str):
    """StructType of an engine DDL, parsed once per process (parsing needs
    an active session, so never at import time)."""
    if ddl not in _SCHEMAS:
        from pyspark.sql.types import StructType

        _SCHEMAS[ddl] = StructType.fromDDL(ddl)
    return _SCHEMAS[ddl]


def _cols(ddl: str) -> list[str]:
    """Column names of an engine DDL, in DDL order."""
    return [f.name for f in _schema(ddl).fields]


def item_fp_col() -> F.Column:
    """JVM-side item fingerprint = md5 over sorted key+str(value) pairs.
    Delegates to items.item_fp_col so NULL values hash as str(None)='None'
    (item.py:141-153) — a raw concat would yield NULL fingerprints that the
    left-anti dedup join can never match."""
    return _items_fp_col(_ITEM_KEYS)


@dataclass
class CrawlConfig:
    batch_size: int = S.DEFAULT_BATCH_SIZE
    max_retries: int = S.MAX_RETRIES
    default_parser: str = "TestParser"
    politeness: dict | None = None  # host -> per-iteration budget; "__default__" key
    link_priority: int = S.DEFAULT_PRIORITY
    # small-file fold cadence for every append log the loop RE-READS each
    # iteration (FOLDED_LOGS — Iceberg rewrite_data_files bin-pack,
    # store/snapshot.fold_segments): past this many appended segments the
    # SMALLEST fold into one — no anti-join, no tombstone reconciliation,
    # O(bytes-folded) cost, LSM-amortized — so per-iteration read cost
    # stays O(fold_min_segments) file opens while compact_frontier's
    # O(visible) rewrite stays reserved for the tombstone-ratio trigger and
    # compact_items' O(table) rewrite for out-of-band maintenance (at a
    # 10^10-row table an in-loop full rewrite is an unbounded pause).
    fold_min_segments: int = 64
    # visible-set anti-join shape (the co-partitioning seam, VERDICT r4 #5):
    # when the tombstone delta log is at most this many rows, broadcast the
    # tombstone side — the adds side then never shuffles for visibility
    # (BroadcastHashJoin LeftAnti, zero Exchange), closing the seam for the
    # whole between-compactions window at default cadence.  ~100 B/row in
    # the broadcast hash relation → 1M rows ≈ 100 MB, executor-friendly;
    # beyond it the plain shuffle join (bounded by compaction) takes over.
    tombs_broadcast_max_rows: int = 1_000_000
    # politeness-budgets broadcast bound: the gate's budgets frame is
    # force-broadcast for a pinned plan, but with respect_robots on it is
    # HOST-cardinality (a row per host ever robots-fetched) — at web scale
    # that broadcast would OOM.  The engine bounds the frame's rows driver-
    # side (robots_rows + static dict + token-bucket rows ≤ opened visible
    # count) and drops the hint above this, letting Spark plan a shuffle
    # join against the (already rank-capped) probe side.
    budgets_broadcast_max_rows: int = 1_000_000
    # ExpireFilter semantics (dedup/expirefilter.py:17-81): a claimed
    # fingerprint stops deduping after the TTL, so the URL re-crawls.
    # seen_ttl_iterations is the deterministic loop unit (mirrored by the
    # oracle); seen_ttl_seconds applies wall-clock prune_expired on read.
    # Exact seen set only — Bloom bits can't expire (the reference pairs
    # BloomFilter xor ExpireFilter the same way, dedup/__init__.py).
    seen_ttl_iterations: int | None = None
    seen_ttl_seconds: int | None = None
    # P13: deterministic user-agent rotation column on the fetch batch
    user_agent_rotation: bool = False
    # URL-seen set implementation: "exact" (fingerprint table, anti-join) or
    # "bloom" (bucketed scalable-Bloom blobs — the 10^10-frontier scale path;
    # only touched buckets move per iteration, memory ~3 bytes/URL at P=1e-5)
    seen_set: str = "exact"
    bloom_buckets: int = 64
    bloom_capacity_per_bucket: int = 1_000_000
    bloom_error_rate: float = 1e-5
    # driver-side blob-partition pruning engages above this partition count
    # (below it, scanning the whole small table beats an extra driver job)
    bloom_prune_read_min_partitions: int = 256
    # item-fingerprint bucketing: items append hive-partitioned by
    # pmod(xxhash64(item_fp), items_buckets) so the per-iteration dedup
    # anti-join reads ONLY the batch's buckets (the reference's item dedup is
    # an O(batch) Redis check, item_buffer.py:180-217 — this matches its
    # I/O bound at 10^10 items).  At scale size buckets so one bucket's
    # fingerprint column ~ a few hundred MB (10^10 items → ~4096 buckets).
    items_buckets: int = 64
    # pruned read engages above this many leaf partition dirs (below it the
    # whole-table scan beats the extra driver job computing touched buckets)
    items_prune_min_leaf_parts: int = 64
    # S8/J4: reuse previously-fetched 200 responses from the fetch_cache
    # table (request.py:498-532 response-cache semantics, TTL = table prune)
    use_fetch_cache: bool = False
    # north-star politeness: fetch+cache robots.txt per host, drop disallowed
    # candidates, derive per-iteration budgets from Crawl-delay
    respect_robots: bool = False
    robots_window_seconds: float = 10.0
    # token-bucket rate limiting (north rule): {"rate": r, "burst": b,
    # "hosts": {host: rate}} — hosts accrue r tokens/iteration up to b,
    # each leased fetch spends one, unused tokens carry over
    token_bucket: dict | None = None
    # F4: user validate hook (url, html) -> bool; False ⇒ abandon (no retry),
    # raise ⇒ retry (base_parser.py:43-57).  Must be picklable.
    validate: object = None
    # user parse hook (url_canon, html) -> (spans, links, title); defaults to
    # the reference-ordered pipeline (html.parse_document) — the parser
    # subclass contract of the reference (base_parser.py:21-123)
    parse_fn: object = None
    # multi-parser dispatch (parser_control.py:85-86, add_parser):
    # {parser_name: {"parse_fn": fn, "validate": fn, "callbacks": {...}}};
    # each request routes to the parser matching its parser_name column,
    # falling back to parse_fn/validate above.  Links emitted as
    # (url, parser_name) pairs route explicitly; bare links inherit the
    # emitting row's parser; (url, parser_or_None, callback) triples add a
    # per-request callback name.
    parsers: dict | None = None
    # per-request callback table for the default parser (request.py:248-252
    # serializes a callback NAME; parser_control.py:562-570 dispatches it) —
    # {callback_name: fn}; rows with a callback column parse with that fn
    callbacks: dict | None = None
    # failure hooks (base_parser.py:71-95): exception_request(req_dict) runs
    # on every non-200 row BEFORE retry routing and may return a replacement
    # dict (url/priority/parser_name/payload), False to abandon, or None to
    # keep the request unchanged; failed_request(req_dict) observes each
    # terminal failure and may return a replacement dict for the failed park.
    exception_request: object = None
    failed_request: object = None
    # pre-fetch request transform (download_midware, base_parser.py:32-41):
    # fn(req_dict) -> dict overriding url/method/data for the outgoing fetch;
    # request identity (fingerprint/url_canon) is unchanged, as in the
    # reference (the original request is what retries and parks)
    download_midware: object = None
    # explicit hot-domain salting: split one host over up to N executors
    host_salt_splits: int = 1
    # lifecycle callbacks (scheduler.py:460-501 spider_start/spider_end +
    # Spider begin_callback/end_callback): on_start fires at each run()
    # entry; on_end fires ONCE per crawl completion — when the loop observes
    # the frontier drained (a max_iterations cut does NOT end the crawl; the
    # resumed run that drains it fires the hook).  Driver-side, no pickling.
    on_start: object = None
    on_end: object = None


@dataclass
class IterationStats:
    iteration: int
    leased: int
    fetched_ok: int
    links_new: int
    links_dup: int
    retried: int
    failed: int
    links_dropped: int = 0  # robots-disallowed candidates (not dups)


@dataclass
class _Iteration:
    """One crawl iteration's working set, handed from phase to phase
    (CrawlEngine._iterate; _enqueue uses its claim fields).  ``release``
    unpersists every frame ``keep`` persisted — once, from a ``finally``,
    so a failed commit leaves nothing cached."""

    # lease: gate budgets (None = ungated), token buckets before/after accrual
    budgets: object = None
    bucket_state: DataFrame | None = None
    accrued: DataFrame | None = None
    batch: DataFrame | None = None
    # fetch: fetch+parse output and the stats row (links_* set at commit)
    fetched: DataFrame | None = None
    st: IterationStats | None = None
    links_total: int = 0
    cache_new: int = 0
    part_metrics: list = field(default_factory=list)
    # claim: new rows, deferred seen write, counts, TTL-shadowed rows
    new_rows: DataFrame | None = None
    seen_commit: object = lambda n_bound, iteration: None  # noqa: E731
    links_obs: Observation | None = None
    kept_obs: Observation | None = None
    stale: DataFrame | None = None
    n_stale: int = 0
    # failure routing and items
    retries: DataFrame | None = None
    failed_new: DataFrame | None = None
    items_new: DataFrame | None = None
    cached: list = field(default_factory=list)

    @property
    def parsed(self) -> DataFrame:
        return self.fetched.filter(F.col("status_code") == 200)

    def keep(self, df: DataFrame) -> DataFrame:
        self.cached.append(df.persist())
        return df

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


class CrawlEngine:
    def __init__(self, spark: SparkSession, warehouse: str, resolver, config: CrawlConfig | None = None):
        self.spark = spark
        self.store = SnapshotStore(spark, warehouse)
        self.resolver = resolver
        self.cfg = config or CrawlConfig()
        self.iteration = 0
        self.next_seq = 0
        self.frontier_size = 0  # maintained from known per-iteration deltas
        self.tombstone_rows = 0  # delta-log size; compaction resets it
        self.robots_rows = 0  # robots-table size; bounds the budgets frame
        self._obs_fallbacks = 0  # diagnostics: links_new Observation misses
        self._last_lease_bands = None  # diagnostics: bands read by last lease
        self._budgets = (
            FR.budgets_df(spark, self.cfg.politeness) if self.cfg.politeness else None
        )
        self._default_budget = (
            (self.cfg.politeness or {}).get("__default__", 1_000_000_000)
        )
        tb = self.cfg.token_bucket
        self._buckets = (
            TokenBuckets(tb["rate"], tb["burst"], tb.get("hosts")) if tb else None
        )
        # an expiring seen set: TTL re-claims can shadow still-visible rows
        self._ttl_mode = (
            self.cfg.seen_ttl_iterations is not None or self.cfg.seen_ttl_seconds is not None
        )
        if self.cfg.seen_set == "bloom" and self._ttl_mode:
            # the reference offers BloomFilter XOR ExpireFilter for the same
            # reason: bloom bits cannot expire (dedup/__init__.py)
            raise ValueError("seen-set TTL requires seen_set='exact' (Bloom bits cannot expire)")
        self._bloom = (
            BloomSeenSet(
                num_buckets=self.cfg.bloom_buckets,
                capacity_per_bucket=self.cfg.bloom_capacity_per_bucket,
                error_rate=self.cfg.bloom_error_rate,
            )
            if self.cfg.seen_set == "bloom"
            else None
        )

    # -- setup ---------------------------------------------------------------
    def t(self, name: str):
        return self.store.table(name)

    def _target(self, n_rows: int, rows_per_file: int = 100_000) -> int:
        """Write-task count for a known row count (healthy parquet files)."""
        return max(1, min(self.spark.sparkContext.defaultParallelism, n_rows // rows_per_file + 1))

    def _sized(self, df, n_rows: int, rows_per_file: int = 100_000):
        """Right-size write parallelism from a known row count: tiny frames
        become 1 task instead of <shuffle.partitions> empty files, big
        frames keep full parallelism (same rule a production writer uses
        to hit healthy parquet file sizes)."""
        return df.coalesce(self._target(n_rows, rows_per_file))

    # -- banded frontier storage ---------------------------------------------
    # The frontier adds and tombstone tables are hive-partitioned on a lease
    # BAND = the row's priority (a tombstone lands in the same band as the add
    # it cancels, so a band-subset anti-join is self-contained), with per-band
    # row counts riding each commit in manifest meta (part_rows).  The
    # per-iteration lease read then opens only the lowest-priority bands that
    # cover batch_size visible rows — the frontier analogue of the items/tasks
    # read pruning, and the match for the reference's zset lease bound of
    # O(log n + k) per take (redisdb.py:472-523): never a full scan of a
    # 10^10-row frontier to lease 10^6 rows.

    def _commit_banded(self, name: str, df: DataFrame, n_bound: int, mode: str) -> None:
        """Append (or overwrite) one frontier delta log, banded on the
        rows' priority; a tombstone row keeps only its TOMBS_DDL key."""
        banded = df.withColumn("band", F.col("priority"))
        if name == "frontier_tombs":
            banded = banded.drop("priority")
        # bands are LOW cardinality (often one), so the pre-write sizing is a
        # narrow coalesce — no shuffle, ≤ target files per band (hashing on
        # the band would collapse a one-band mega-batch into a single task)
        self.t(name).commit_append_partitioned(
            banded, "band", coalesce_to=self._target(n_bound), count_rows=True, mode=mode,
        )

    def _commit_frontier_adds(self, df: DataFrame, n_bound: int, mode: str = "append") -> None:
        self._commit_banded("frontier", df, n_bound, mode)

    def _rewrite_frontier(self, visible: DataFrame, n_bound: int) -> None:
        """adds := ``visible``, tombstones := ∅ (compaction, or truncating
        a drained frontier before re-seeding)."""
        self._commit_frontier_adds(visible, n_bound, mode="overwrite")
        self._commit_banded(
            "frontier_tombs", self.spark.createDataFrame([], TOMBS_DDL + ", priority INT"),
            0, "overwrite",
        )
        self.tombstone_rows = 0

    def _band_plan(self) -> list[tuple[str, int]] | None:
        """Ordered ``(band_key, visible_rows)`` for every band with visible
        rows, lowest priority first; None ⇒ the manifests can't bound the
        lease (legacy unbanded segments, count gaps, non-numeric keys) and
        the caller must read the whole frontier.  Pure driver-side dict math
        over manifest meta — no Spark job."""
        am = self.t("frontier").manifest()
        if am is None or am.partitions:
            return None
        adds_rows = self._band_rows(am)
        tm = self.t("frontier_tombs").manifest()
        tomb_rows = self._band_rows(tm) if tm is not None and tm.segments else {}
        if adds_rows is None or tomb_rows is None:
            return None
        try:
            ordered = sorted(adds_rows, key=int)
        except (ValueError, TypeError):
            # a non-numeric hive key (e.g. __HIVE_DEFAULT_PARTITION__ from a
            # NULL-priority row slipping past the public writers) must mean
            # "distrust the manifest, fall back to the full read" — not a
            # hard crash of every subsequent iteration
            return None
        plan: list[tuple[str, int]] = []
        for band in ordered:
            visible = adds_rows[band] - tomb_rows.get(band, 0)
            if visible < 0:
                return None  # invariant broken (double tombstone?) — distrust all
            if visible:
                plan.append((band, visible))
        return plan

    @staticmethod
    def _band_rows(m) -> dict | None:
        """Per-band row counts from a banded delta log's manifest meta;
        None when they can't be trusted (count gaps, unbanded segments)."""
        meta = m.meta or {}
        rows = meta.get("part_rows")
        if (
            rows is None
            or not meta.get("part_rows_complete", True)
            or any(s not in (m.seg_parts or {}) for s in m.segments)
        ):
            return None
        return rows

    def _lease_band_keys(self, k: int) -> list[str] | None:
        """Priority bands whose visible rows provably cover the next top-k
        lease, lowest priority first; None ⇒ read the whole frontier.
        Correctness: every row in an unread band has a strictly higher
        priority than the k-th row of the read bands, so the global top-k
        over the read subset equals the top-k over the full frontier."""
        plan = self._band_plan()
        return None if plan is None else self._cover(plan, k)[0]

    @staticmethod
    def _cover(plan: list[tuple[str, int]], k: int) -> tuple[list[str], int]:
        """The lowest bands of ``plan`` whose visible rows sum to ≥ ``k``
        (every band when they never do), and that visible-row sum."""
        keys: list[str] = []
        cum = 0
        for band, visible in plan:
            keys.append(band)
            cum += visible
            if cum >= k:
                break
        return keys, cum

    def _read_frontier_due(self, band_keys: list[str] | None = None) -> DataFrame:
        """Visible due (status=todo) rows, optionally band-restricted."""
        return self._read_frontier(band_keys).filter(F.col("status") == S.STATUS_TODO)

    def _lease_inputs(self, it: _Iteration, k: int):
        """Band-pruned lease read: open the lowest bands covering ``k``
        visible rows (_lease_band_keys).  Ungated, the top-k lease provably
        lives there.  The politeness-GATED lease (host budgets, robots
        crawl-delay, token buckets) opens bands incrementally (VERDICT r4
        #1): a gate can promote higher bands, so if it leaves fewer than k
        eligible rows, quadruple the coverage and retry, worst case
        degrading to a full read — never an unconditional O(frontier) read.

        Soundness: per-host rank order is (priority, fingerprint) and bands
        are disjoint priority ranges, so a row's host-rank — hence its
        eligibility — depends only on same-host rows in its own and LOWER
        bands, all of which are opened.  The eligible set computed over an
        opened prefix is therefore exact, and once it holds ≥ k rows the
        global top-k cannot include a row from an unopened (strictly
        higher-priority) band.  Matches the reference zset's O(log n + k)
        take bound (redisdb.py:472-523) with the gate on.

        Token buckets accrue over the OPENED subset's hosts only; state
        rows for other hosts carry forward untouched (persist-state
        semantics — min(burst, t + m·rate) composes across skipped
        iterations, so lazy catch-up accrual is exact; oracle.py mirrors).

        Reads the static budgets from ``it.budgets`` and, with token
        buckets, replaces them by the merged budgets, setting
        ``it.bucket_state`` and ``it.accrued`` (persisted through the
        record).  Returns ``(due, opened_keys, bcast_ok)`` —
        ``opened_keys`` is None on the full-read fallback; ``bcast_ok``
        says whether the budgets frame may be force-broadcast
        (_budgets_bcast_ok over the opened subset's row bound).  The total
        read across retries is ≤ 2× the final subset (geometric growth),
        and the common case (budgets gate little) is ONE probe over O(k)
        rows.
        """
        gated = it.budgets is not None or self._buckets is not None
        static_budgets = it.budgets
        if self._buckets is not None:
            it.bucket_state = self.t("token_buckets").read()

        def probe(keys, opened_rows):
            due = self._read_frontier_due(keys)
            if self._buckets is not None:
                it.accrued = it.keep(self._buckets.accrue(
                    self.spark, it.bucket_state, due.select("host"), self.iteration
                ))
                it.budgets = FR.merge_budgets(
                    static_budgets, self._default_budget, TokenBuckets.budgets(it.accrued)
                )
            return due, self._budgets_bcast_ok(opened_rows)

        plan = self._band_plan()
        if plan is None:  # the manifests can't bound the lease — read whole
            due, bcast_ok = probe(None, None)
            return due, None, bcast_ok
        total = sum(v for _, v in plan)
        cover = k
        while True:
            keys, cum = self._cover(plan, cover)
            due, bcast_ok = probe(keys, cum)
            if not gated or cum >= total:
                # ungated, or every non-empty band opened — nothing to probe
                return due, keys, bcast_ok
            n_eligible = (
                FR.eligible_under_politeness(
                    due, it.budgets, self._default_budget, self._budget_cap(), bcast_ok
                )
                .limit(k)
                .count()
            )
            if n_eligible >= k:
                return due, keys, bcast_ok
            if it.accrued is not None:
                it.accrued.unpersist()
            cover = max(cover * 4, cum + 1)

    def _init_tables(self):
        for name, ddl in TABLE_DDLS.items():
            if not self.t(name).exists():
                self.t(name).create_empty(ddl)
        self._check_bloom_modulus()

    def _check_bloom_modulus(self) -> None:
        """Bloom bucket routing is pmod(xxhash64(fp), bloom_buckets); a
        different modulus on resume would route fingerprints to blobs that
        never saw them — the whole dedup state silently voids.  The modulus
        rides every seen_set commit's meta; refuse loudly.  Checked at
        table init AND at resume() (a resumed engine never re-inits)."""
        if self._bloom is None:
            return
        m = self.t("seen_set").manifest()
        rec = (m.meta or {}).get("bucket_modulus") if m else None
        if rec is not None and int(rec) != self.cfg.bloom_buckets:
            raise ValueError(
                f"seen_set was committed with bloom_buckets={rec}; resuming "
                f"with {self.cfg.bloom_buckets} would void the dedup state — "
                "keep the original bucket count"
            )

    def seed(self, seeds: list[dict]) -> bool:
        """Seed the frontier; skipped when a frontier already exists
        (resume semantics, scheduler.py:197-201).  Returns True if seeded."""
        self._init_tables()
        if self._read_frontier().limit(1).count() > 0:
            return False
        # seeding onto a drained frontier: truncate the delta log so stale
        # tombstones (whose row-version keys restart with a fresh engine's
        # iteration counter) can never shadow the new seed rows
        if self.t("frontier_tombs").read().limit(1).count() > 0:
            self._rewrite_frontier(self.spark.createDataFrame([], FR.FRONTIER_DDL), 0)
        self.frontier_size = 0
        self._enqueue(seeds)
        return True

    def _label(self, **extra) -> dict:
        return {
            "iteration": self.iteration,
            "next_seq": self.next_seq,
            "frontier_size": self.frontier_size,
            "tombstone_rows": self.tombstone_rows,
            "robots_rows": self.robots_rows,
            **extra,
        }

    def frontier(self) -> DataFrame:
        """Public accessor for the visible frontier."""
        return self._read_frontier()

    def add_requests(self, seeds: list[dict]) -> int:
        """Mid-crawl request injection (S6 — the reference Spider's standing
        seed-table pull / TaskSpider distribute_task, spider.py start-request
        loop): claim-on-enqueue dedup against the live seen set, append the
        survivors to the frontier, checkpoint.  Returns requests added."""
        self._init_tables()
        return self._enqueue(seeds)

    def _request_candidates(self, seeds: list[dict]) -> DataFrame:
        """Frontier candidate rows for driver-side request dicts,
        robots-filtered when enabled."""
        rows = []
        for s in seeds:
            data = s.get("data")
            # body args fold into the fingerprint (request.py:465-480); the
            # str(dict) hash needs the user's insertion order, so it is
            # computed here (seed lists are driver-side already), not in JVM
            fp_pre = request_fingerprint(s["url"], data=data) if data else None
            rows.append(
                (
                    s["url"], int(s.get("priority", S.DEFAULT_PRIORITY)),
                    s.get("parser_name", self.cfg.default_parser),
                    s.get("method"), data, fp_pre, s.get("callback"),
                    bool(s.get("auto_request", True)),
                )
            )
        df = self.spark.createDataFrame(
            rows,
            "url STRING, priority INT, parser_name STRING, method STRING, "
            "payload MAP<STRING, STRING>, fp_pre STRING, callback STRING, "
            "auto_request BOOLEAN",
        )
        cands = (
            df.withColumn("url_canon", canonicalize_udf("url"))
            .withColumn("fingerprint", F.coalesce(F.col("fp_pre"), F.md5("url_canon")))
            .drop("fp_pre")
            .withColumn("host", F.lower(F.coalesce(F.parse_url("url_canon", F.lit("HOST")), F.lit(""))))
            .withColumn("retry_times", F.lit(0))
            .withColumn("added_iteration", F.lit(self.iteration))
        )
        if self.cfg.respect_robots:
            cands = self._apply_robots(cands)
        return cands

    def _enqueue(self, seeds: list[dict]) -> int:
        """Claim the requests against the seen set, append the survivors
        to the frontier and checkpoint (seed and add_requests)."""
        it = _Iteration()
        try:
            self._claim_new(it, self._request_candidates(seeds))
            n_new = it.new_rows.count()
            if n_new:
                if it.stale is not None:
                    # TTL re-claims replace their stale visible rows (oracle's
                    # dict-keyed frontier): tombstone BEFORE appending
                    it.n_stale = it.keep(it.stale).count()
                    if it.n_stale:
                        self._commit_banded("frontier_tombs", it.stale, it.n_stale, "append")
                        self.tombstone_rows += it.n_stale
                self._commit_frontier_adds(it.new_rows, n_new)
            it.seen_commit(n_new, self.iteration)  # no-op write at 0
        finally:
            it.release()
            if self._bloom is not None:
                self._bloom.release()
        self.frontier_size += n_new - it.n_stale
        self.store.checkpoint(self._label(added_requests=n_new), TABLES)
        return n_new

    def _backfill_columns(self, df: DataFrame, ddl: str) -> DataFrame:
        """Schema evolution on read (Iceberg add-column parity): columns the
        engine DDL gained after a table was committed materialize as typed
        NULLs, so a pre-upgrade store resumes cleanly instead of failing with
        unresolved-column errors on the first select (the manifests of old
        commits pin the old schema_ddl).  NULL callback means no callback;
        NULL auto_request reads as true at every consumer."""
        have = set(df.columns)
        missing = [f for f in _schema(ddl).fields if f.name not in have]
        for f in missing:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return df

    def _tombs_side(self, tombs: DataFrame) -> DataFrame:
        """Anti-join build side for the tombstone delta log: broadcast it
        while the driver-tracked tombstone count stays under
        cfg.tombs_broadcast_max_rows — the adds side then needs NO Exchange
        for visibility (the practical closure of the fingerprint
        co-partitioning seam; beyond the bound, the shuffle join is still
        capped by compaction cadence)."""
        if 0 < self.tombstone_rows <= self.cfg.tombs_broadcast_max_rows:
            return F.broadcast(tombs)
        return tombs

    def _read_frontier(self, band_keys: list[str] | None = None) -> DataFrame:
        """Visible frontier = adds ⟕anti tombstones on the row-version key.
        On Iceberg both sides bucket by fingerprint, making this a
        storage-partitioned join (no shuffle); here the tombstone side
        broadcasts below cfg.tombs_broadcast_max_rows (no shuffle either
        way on the adds side), else a plain anti-join whose shuffle is
        bounded by the delta-log size between compactions.  ``band_keys``
        restricts the read to those hive partitions on BOTH sides (the
        band-subset anti-join is self-contained: a tombstone lands in the
        same band as the add it cancels)."""
        adds, tombs = self.t("frontier"), self.t("frontier_tombs")
        if band_keys is None:
            adds, tombs = adds.read(), tombs.read()
        else:
            adds = adds.read_partition_subset(band_keys)
            tombs = tombs.read_partition_subset(band_keys)
        return self._backfill_columns(adds, FR.FRONTIER_DDL).join(
            self._tombs_side(tombs), on=_cols(TOMBS_DDL), how="left_anti",
        )

    def _apply_robots(self, cands):
        """Fetch robots.txt for not-yet-cached hosts (commit to the robots
        table), then drop disallowed candidates (crawl/robots.py)."""
        robots_t = self.t("robots")
        missing = cands.select("host").distinct().join(
            robots_t.read().select("host"), on="host", how="left_anti"
        )
        fetched = RB.fetch_robots(self.spark, missing, self.resolver, self.iteration).persist()
        n_miss = fetched.count()
        if n_miss:
            robots_t.commit(self._sized(fetched, n_miss), mode="append")
            self.robots_rows += n_miss
        fetched.unpersist()
        return RB.filter_allowed(cands, robots_t.read())

    def _iteration_budgets(self):
        """Per-iteration host budgets: robots crawl-delay budgets when
        enabled, else the static politeness dimension."""
        if self.cfg.respect_robots:
            dyn = RB.budgets_from_robots(self.t("robots").read(), self.cfg.robots_window_seconds)
            # full-outer min so the static __default__ still caps hosts that
            # only the robots dimension names (frontier.merge_budgets)
            return FR.merge_budgets(self._budgets, self._default_budget, dyn)
        return self._budgets

    def _budget_cap(self) -> int | None:
        """Driver-known upper bound on every host's EFFECTIVE budget this
        iteration, or None when no finite bound is known.

        Passed to eligible_under_politeness as the literal rank cap that
        unlocks Catalyst's WindowGroupLimit (Partial) — map-side pruning of
        a Zipf-hot host's due rows before the host-hash shuffle.  Bounds:
        with token buckets on, merged budget = min(static side,
        floor(tokens)) <= floor(burst) for every due host (accrue covers
        the whole due set); with a static politeness dict carrying
        ``__default__``, every host <= max(dict values) and the robots min
        can only lower it.  Robots-only (or a dict without ``__default__``)
        leaves unnamed hosts unbounded — no literal cap."""
        import math

        if self._buckets is not None:
            return int(math.floor(self._buckets.burst))
        pol = self.cfg.politeness
        if pol and "__default__" in pol:
            return max(int(v) for v in pol.values())
        return None

    def _budgets_bcast_ok(self, opened_rows: int | None) -> bool:
        """True when the merged budgets frame is provably small enough to
        force-broadcast.  Row bound, all driver-tracked: robots hosts
        (host-cardinality — the unbounded-at-web-scale side) + static dict
        entries + token-bucket rows (one per due host, ≤ the opened
        visible count when the band plan is known, else frontier_size)."""
        bound = len(self.cfg.politeness or {})
        if self.cfg.respect_robots:
            bound += self.robots_rows
        if self._buckets is not None:
            bound += opened_rows if opened_rows is not None else self.frontier_size
        return bound <= self.cfg.budgets_broadcast_max_rows

    def _claim_new(self, it: _Iteration, cands, add_version: int | None = None) -> None:
        """Claim-on-enqueue dedup, exact or Bloom path.

        ``add_version`` is the ``added_iteration`` value the candidate rows
        carry (defaults to the current iteration) — the TTL stale logic needs
        it to recognize row-version-key collisions.

        Sets ``it.new_rows`` (persisted), ``it.seen_commit``,
        ``it.links_obs`` and ``it.stale`` — the seen commit runs with the
        iteration's other table commits; the Observation carries
        count(new_rows) as a free by-product of whichever commit job
        materializes the frame FIRST (no dedicated count() job — one less
        fixed-cost Spark job per iteration).  Exact path: anti-join vs the
        fingerprint table (J1).  Bloom path: cogrouped check+add over the
        bucketed blobs (only touched buckets move).

        ``it.stale`` (TTL mode only, else None): with an expiring seen set
        a fingerprint can be RE-claimed while its original frontier row is
        still visible (politeness-starved, never leased) — the oracle's
        dict-keyed frontier REPLACES that row on re-claim, so the engine
        tombstones the stale visible version before appending the new one
        (otherwise the URL fetches twice and crawl_order diverges).
        """
        if add_version is None:
            add_version = self.iteration
        it.links_obs = Observation()

        def frontier_rows(claimed: DataFrame) -> DataFrame:
            return it.keep(
                claimed.withColumn("status", F.lit(S.STATUS_TODO))
                .select(*_cols(FR.FRONTIER_DDL))
                .observe(it.links_obs, F.count(F.lit(1)).alias("n_new"))
            )

        if self._bloom is None:
            seen_df = self.t("seen").read()
            if self.cfg.seen_ttl_iterations is not None:
                # ExpireFilter-on-read: expired claims no longer dedup, so
                # the URL re-crawls; rows stay (newest added_iteration wins
                # through the filter) — expirefilter.py:71-75 as a predicate
                seen_df = seen_df.filter(
                    F.col("added_iteration") > self.iteration - self.cfg.seen_ttl_iterations
                )
            if self.cfg.seen_ttl_seconds is not None:
                seen_df = prune_expired(seen_df, self.cfg.seen_ttl_seconds)
            base_new = dedup_new(cands, seen_df, order_cols=("priority", "url"))
            vis = None
            if self._ttl_mode:
                # visible-frontier snapshot, pinned pre-iteration (manifest
                # resolved at DataFrame construction) — TTL is an
                # exact-set-only mode, so this extra read rides the iteration
                # only when the user opted into expiry
                vis = self._read_frontier().select(*_cols(TOMBS_DDL), "priority")
                # a TTL re-claim whose still-visible row has the SAME
                # row-version key the new append would get ((fp, 0,
                # add_version) — two add_requests for one URL within one
                # iteration with the TTL elapsed between them) cannot be
                # tombstoned without the tombstone also shadowing the new
                # row; keep the still-pending visible row and skip the
                # re-add instead of silently losing both
                colliding = vis.filter(
                    (F.col("retry_times") == 0)
                    & (F.col("added_iteration") == add_version)
                ).select("fingerprint")
                base_new = base_new.join(colliding, on="fingerprint", how="left_anti")
            it.new_rows = new_rows = frontier_rows(base_new)
            if self._ttl_mode:
                # visible rows shadowed by a TTL re-claim (the oracle's
                # dict-keyed frontier replaces them); same-key rows were
                # already excluded from new_rows above, so every stale row
                # here tombstones distinctly
                it.stale = vis.filter(
                    (F.col("retry_times") != 0)
                    | (F.col("added_iteration") != add_version)
                ).join(new_rows.select("fingerprint"), on="fingerprint", how="left_semi")

            def commit_fn(n_bound, iteration):
                # n_bound is an upper bound (candidate link count) used only
                # to size write parallelism; the exact count arrives via obs
                if n_bound == 0:
                    return
                self.t("seen").commit(
                    self._sized(
                        new_rows.select("fingerprint")
                        .withColumn("added_iteration", F.lit(iteration))
                        .withColumn("added_at", F.current_timestamp()),
                        n_bound,
                    ),
                    mode="append",
                )

            it.seen_commit = commit_fn
            return

        # FUSED Bloom claim (one cogroup, one shuffle per side): in-batch
        # first-dedup + membership check + insert happen inside the pandas
        # group — no separate dedup_first aggregation and no results⨝firsts
        # join afterwards.  This is the small-batch fixed-cost path: one
        # Arrow hop total.
        keyed = cands.withColumn("bucket", self._bloom.bucket_col("fingerprint"))
        # driver-side partition pruning: collect the candidates' bucket ids
        # (≤ num_buckets tiny ints) and read ONLY those blob partitions — the
        # untouched ~15 MB blobs are never opened, in Python or the JVM.
        # Worth one extra driver job only when the table has enough
        # partitions to prune (same logic as a broadcast threshold): a small
        # blob table is cheaper to scan whole and let claim_new's semi-join
        # prune in-JVM.
        n_parts = len(self.t("seen_set").manifest().partitions or {})
        if n_parts > self.cfg.bloom_prune_read_min_partitions:
            touched_keys = [
                r[0] for r in keyed.select("bucket").distinct().collect()
            ]
            blobs = self.t("seen_set").read_partitions(touched_keys)
        else:
            blobs = self.t("seen_set").read()
        claimed, changed_blobs = self._bloom.claim_new(keyed, blobs)
        it.new_rows = frontier_rows(claimed)

        def commit_fn(n_bound, iteration):
            # dynamic partition overwrite of ONLY the buckets whose bits
            # changed — dup-only buckets are never rewritten (claim_new
            # elides them), so the blob write I/O of a dup-heavy iteration
            # is ~zero
            if n_bound > 0:
                self.t("seen_set").commit_partitions(
                    changed_blobs, "bucket",
                    meta={"bucket_modulus": self.cfg.bloom_buckets},
                )

        it.seen_commit = commit_fn

    def _item_bucket_col(self) -> F.Column:
        """Placement bucket for the items table — a pure function of item_fp,
        recomputed identically by writers and the pruned-read side."""
        return F.pmod(F.xxhash64("item_fp"), F.lit(self.cfg.items_buckets)).cast("int")

    def _items_meta(self) -> dict:
        """Manifest meta for an items commit: records the bucket modulus the
        segment's placement keys were computed with.  If the store ever held
        segments under a DIFFERENT modulus, a mixed flag is carried forward —
        pruned reads are then disabled (see _items_seen_side) because old
        segments' keys don't mean what the current modulus says they mean."""
        m = self.t("items").manifest()
        prev = (m.meta or {}) if m else {}
        B = self.cfg.items_buckets
        meta = {"bucket_modulus": B}
        if prev.get("bucket_modulus_mixed") or (
            m is not None and m.segments and prev.get("bucket_modulus") != B
        ):
            meta["bucket_modulus_mixed"] = True
        return meta

    def _items_pruning_safe(self) -> bool:
        """Pruned items reads are sound only when every partitioned segment
        was placed under the CURRENT modulus — otherwise read_partition_subset
        would skip files that hold matching item_fps and the dedup anti-join
        silently misses (duplicate items get re-appended)."""
        m = self.t("items").manifest()
        if m is None or not m.seg_parts:
            return True  # nothing partitioned yet — nothing to misread
        meta = m.meta or {}
        return (
            not meta.get("bucket_modulus_mixed")
            and meta.get("bucket_modulus") == self.cfg.items_buckets
        )

    def _items_seen_side(self, item_rows: DataFrame) -> DataFrame:
        """Right side of the items-dedup anti-join.  Above the leaf-dir
        threshold: collect the batch's bucket ids (≤items_buckets tiny ints,
        over the already-persisted fetched frame) and read only those buckets'
        dirs — per-iteration items I/O ∝ batch buckets, never O(table).
        Below it the whole (small) table is cheaper than the extra job."""
        items_t = self.t("items")
        if (
            self._items_pruning_safe()
            and items_t.leaf_partition_count() > self.cfg.items_prune_min_leaf_parts
        ):
            touched = [
                r[0]
                for r in item_rows.select(self._item_bucket_col().alias("b"))
                .distinct()
                .collect()
            ]
            return items_t.read_partition_subset(touched).select("item_fp")
        return items_t.read().select("item_fp")

    # -- the loop -------------------------------------------------------------
    def run(self, max_iterations: int | None = None) -> list[IterationStats]:
        if self.cfg.on_start is not None:
            self.cfg.on_start()
        stats = []
        drained = False
        while max_iterations is None or len(stats) < max_iterations:
            st = self._iterate()
            if st is None:
                drained = True
                break
            stats.append(st)
        self.flush_metrics()
        if drained and self.cfg.on_end is not None:
            # crawl completion (scheduler.py:460-501): fires only when the
            # frontier actually drained, so an interrupted run defers the
            # end hook to the resumed run that finishes the crawl
            self.cfg.on_end()
        return stats

    def resume(self) -> dict | None:
        """Roll state back to the last complete checkpoint and restore the
        loop counters; then call run()."""
        ckpt = self.store.restore_last_checkpoint()
        if ckpt:
            self.iteration = ckpt["label"]["iteration"]
            self.next_seq = ckpt["label"]["next_seq"]
            self.frontier_size = ckpt["label"].get("frontier_size", 0)
            self.tombstone_rows = ckpt["label"].get("tombstone_rows", 0)
            rr = ckpt["label"].get("robots_rows")
            if rr is None and self.cfg.respect_robots:
                # pre-round-5 checkpoint: count once rather than wrongly
                # assuming a small (broadcastable) robots table
                rr = self.t("robots").read().count()
            self.robots_rows = rr or 0
            self._check_bloom_modulus()
        return ckpt

    def _iterate(self) -> IterationStats | None:
        """One crawl iteration as its named phases, in Spark-job order: lease
        → fetch+parse and the outcome aggregate → link claim → failure
        routing → items → commit+checkpoint → maintain.  The phases hand
        their frames along in one ``_Iteration`` record, whose ``finally``
        release unpersists every frame the iteration cached."""
        it = _Iteration()
        try:
            self._lease(it)
            self._fetch_outcome(it)
            if it.st.leased == 0:
                return self._idle_tick(it.st)
            self._claim_links(it)
            self._route_failures(it)
            self._items(it)
            st = self._commit(it)
        finally:
            it.release()
            if self._bloom is not None:
                self._bloom.release()
        self._maintain()
        return st

    def _lease(self, it: _Iteration) -> None:
        """Lease phase: the politeness-gated top-k of the visible due
        frontier (band-pruned, _lease_inputs), persisted as ``it.batch``.
        The global lease-seq window (bounded, ≤k rows) is NOT applied here:
        only the crawl_order audit commit needs seq, so it runs inside that
        commit's thread, off the iteration critical path."""
        cfg = self.cfg
        it.budgets = self._iteration_budgets()
        due, self._last_lease_bands, bcast_ok = self._lease_inputs(it, cfg.batch_size)
        if it.budgets is None and 0 < self.frontier_size <= cfg.batch_size:
            # whole-frontier lease (drain phases; production mega-batches):
            # |due| <= k and no politeness gate, so the global top-k is the
            # identity on the leased SET — skip the sort+GlobalLimit funnel
            # that would drag every row through ONE task before the fetch
            # stage repartitions (the crawl_order audit still derives seq
            # from its own sort)
            batch = due
        else:
            batch = FR.take_batch(
                due, cfg.batch_size, it.budgets, self._default_budget,
                self._budget_cap(), bcast_ok,
            )
        it.batch = it.keep(batch)

    def _fetch_outcome(self, it: _Iteration) -> None:
        """Fetch phase: the fused fetch+parse of the batch (one python eval
        per task, fetcher.py rationale), persisted as ``it.fetched``, and
        ONE rollup job for its outcome counts."""
        cfg = self.cfg
        fetch_input = it.batch
        if cfg.user_agent_rotation:
            # P13: deterministic UA column (hash-rotated, JVM-side) rides the
            # batch into the fetch stage for a real HTTP pool to consume
            fetch_input = with_user_agent(fetch_input)
        if cfg.use_fetch_cache:
            cache = self.t("fetch_cache").read().select(
                "fingerprint",
                F.col("status_code").alias("cached_status"),
                F.col("content").alias("cached_content"),
            )
            fetch_input = fetch_input.join(cache, on="fingerprint", how="left")
        it.fetched = it.keep(fetch_parse_batch(
            fetch_input,
            self.resolver,
            # host-grouped partitioning only matters when per-host rate
            # limits exist; otherwise round-robin balances perfectly (no
            # host-hash skew)
            by_host=cfg.politeness is not None or cfg.respect_robots or self._buckets is not None,
            use_cache=cfg.use_fetch_cache,
            validate=cfg.validate,
            host_salt_splits=cfg.host_salt_splits,
            parse_fn=cfg.parse_fn,
            parsers=cfg.parsers,
            callbacks=cfg.callbacks,
            download_midware=cfg.download_midware,
        ))

        # ONE aggregation job covers lease count + fetch outcome + retry
        # routing + link counts — it is also the action that materializes the
        # persisted batch and fetched frames (no separate batch.count() job)
        # (must mirror frontier.route_failures exactly: abandoned ⇒ failed)
        retry_ok = F.col("retry_times") + 1 <= cfg.max_retries
        not_ok = F.col("status_code") != 200
        abandoned = F.col("status_code") == S.CODE_ABANDONED
        # ONE rollup job yields the global outcome row (stage_partition NULL)
        # AND the per-partition lineage counts — the separate per-partition
        # aggregation + metrics_partitions write job are folded away; the
        # lineage rows (≤ parallelism ints) travel in the checkpoint label
        # and materialize at flush_metrics, like the metrics table
        agg_rows = it.fetched.rollup("stage_partition").agg(
            # leased counts batch rows only — request_sync rows are executed
            # inline (never queued), so they appear in fetched but are not
            # leases (no tombstone, no crawl_order seq)
            F.sum((~F.col("inline_sync")).cast("long")).alias("leased"),
            F.sum((~not_ok).cast("long")).alias("ok"),
            F.sum((not_ok & retry_ok & ~abandoned).cast("long")).alias("retried"),
            F.sum((not_ok & (~retry_ok | abandoned)).cast("long")).alias("failed"),
            F.sum(
                F.coalesce(F.size(F.from_json("links_json", FUSED_LINKS_DDL)), F.lit(0)).cast("long")
            ).alias("links_total"),
            F.count(F.lit(1)).alias("n_rows"),
            *(
                [F.sum(F.col("content").isNotNull().cast("long")).alias("cache_new")]
                if cfg.use_fetch_cache
                else []
            ),
        ).collect()
        # an EMPTY batch yields zero rollup rows (plain agg would give one
        # all-NULL row) — the counts then stay zero for the drain check
        it.st = IterationStats(self.iteration, 0, 0, 0, 0, 0, 0)
        for r in agg_rows:
            if r["stage_partition"] is not None:
                it.part_metrics.append(
                    [self.iteration, "fetch_parse", int(r["stage_partition"]), int(r["n_rows"])]
                )
            else:
                it.st.leased = int(r["leased"] or 0)
                it.st.fetched_ok = int(r["ok"] or 0)
                it.st.retried = int(r["retried"] or 0)
                it.st.failed = int(r["failed"] or 0)
                it.links_total = int(r["links_total"] or 0)
                it.cache_new = int(r["cache_new"] or 0) if cfg.use_fetch_cache else 0

    def _idle_tick(self, st: IterationStats) -> IterationStats | None:
        """An empty lease.  None (the frontier drained) unless due rows
        exist but every host is out of tokens: then an idle-accrual tick
        advances the iteration so buckets refill (the reference's
        collector just sleeps, collector.py:57-61).  Bucket state is NOT
        committed, so elapsed-iterations accrual covers the idle gap
        (politeness.TokenBuckets.accrue)."""
        if self._buckets is None or self._buckets.rate <= 0 or self.frontier_size <= 0:
            return None
        self.iteration += 1
        self.store.checkpoint(self._label(stats=st.__dict__), TABLES)
        return st

    def _claim_links(self, it: _Iteration) -> None:
        """Link-claim phase: the parsed pages' outlinks, claim-on-enqueue
        deduped against the seen set into ``it.new_rows``; the seen write
        itself waits for the commit phase (``it.seen_commit``)."""
        cfg = self.cfg
        if it.links_total == 0:
            # zero candidate links: skip the dedup machinery entirely — no
            # seen read, no Bloom blobs read/cogroup, no seen commit (the
            # bloom path's fixed per-iteration Arrow cost drops to nothing
            # on link-less iterations)
            it.new_rows = it.keep(self.spark.createDataFrame([], FR.FRONTIER_DDL))
            return
        # TTL mode appends at version iteration+1: a link may RE-claim a
        # fingerprint leased in THIS batch (its seen claim expired), and the
        # re-add must not share the row-version key the lease tombstone just
        # wrote — iteration+1 is provably unused (no visible row can carry a
        # future iteration).  Without TTL a leased fp can never re-claim, so
        # the plain current-iteration version stays pinned.
        add_ver = self.iteration + 1 if self._ttl_mode else self.iteration
        cands = (
            link_candidates_fused(it.parsed)
            .withColumn("priority", F.lit(cfg.link_priority))
            .withColumn("retry_times", F.lit(0))
            .withColumn("parser_name", F.coalesce(F.col("parser_name"), F.lit(cfg.default_parser)))
            .withColumn("added_iteration", F.lit(add_ver))
            .withColumn("method", F.lit(None).cast("string"))
            .withColumn("payload", F.lit(None).cast("map<string,string>"))
            .withColumn("auto_request", F.coalesce(F.col("auto_request"), F.lit(True)))
        )
        if cfg.respect_robots:
            # count the robots survivors as a free by-product of the same
            # commit job, so robots-dropped links stop inflating links_dup
            it.kept_obs = Observation()
            cands = self._apply_robots(cands).observe(
                it.kept_obs, F.count(F.lit(1)).alias("n_kept")
            )
        # links_new is NOT counted here — it arrives via the Observation as a
        # by-product of the commit job that materializes new_rows (one fewer
        # driver job per iteration); until then links_total is the bound
        self._claim_new(it, cands, add_version=add_ver)
        if it.stale is not None:
            # TTL mode only: count+persist the stale visible rows a re-claim
            # shadows (bounded by the re-claimed links, usually ~0).  Rows
            # ALSO leased in this batch are excluded: the lease tombstone
            # already covers them, and a duplicate stale tombstone would
            # decrement frontier_size twice — the undercount could wrongly
            # satisfy the whole-frontier fast path and over-lease
            key = _cols(TOMBS_DDL)
            it.stale = it.keep(it.stale.join(it.batch.select(*key), on=key, how="left_anti"))
            it.n_stale = it.stale.count()

    def _route_failures(self, it: _Iteration) -> None:
        """Routing phase: non-200 rows become retries (``it.retries``, back
        to the frontier) or terminal failures (``it.failed_new``)."""
        cfg = self.cfg
        fail_src = it.fetched.filter(F.col("status_code") != 200).select(
            *_cols(FR.FRONTIER_DDL), "status_code"
        )
        if cfg.exception_request is not None or cfg.failed_request is not None:
            # user hooks may transform requests or flip routing, so the
            # route counts come from the routed frame, not the fetch agg
            routed = it.keep(route_failures_hooked(
                fail_src, cfg.max_retries, cfg.exception_request, cfg.failed_request
            ))
            counts = {r["route"]: r["n"] for r in routed.groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()}
            it.st.retried = int(counts.get(S.STATUS_TODO, 0))
            it.st.failed = int(counts.get(S.STATUS_FAILED, 0))
        else:
            routed = FR.route_failures(fail_src, cfg.max_retries)
        it.retries = routed.filter(F.col("route") == S.STATUS_TODO).select(*_cols(FR.FRONTIER_DDL))
        it.failed_new = routed.filter(F.col("route") == S.STATUS_FAILED).select(*_cols(FAILED_DDL))

    def _items(self, it: _Iteration) -> None:
        """Items phase (export-then-commit-fingerprint,
        item_buffer.py:351-358): the parsed pages' items not yet exported."""
        item_rows = it.parsed.select(
            F.col("fingerprint").alias("doc_id"),
            F.col("url_canon").alias("url"),
            "title",
            "n_spans",
        ).withColumn("item_fp", item_fp_col())
        # bucket-pruned dedup: the anti-join's right side reads ONLY the
        # batch's item_fp buckets (and only the item_fp column — parquet
        # projection pruning), so per-iteration read bytes track the batch,
        # not the accumulated items table
        it.items_new = item_rows.join(
            self._items_seen_side(item_rows), on="item_fp", how="left_anti"
        ).select(*_cols(ITEMS_DDL))

    def _commit_jobs(self, it: _Iteration) -> list:
        """The iteration's table writes, one callable per pool thread;
        empty frames skip their commit entirely."""
        # frontier delta: append the new/retry rows and tombstone the leased
        # row versions — O(batch) write bytes, never an O(frontier) rewrite
        additions = it.retries.unionByName(it.new_rows)
        tombstones = it.batch.select(*_cols(TOMBS_DDL), "priority")
        if it.n_stale:
            tombstones = tombstones.unionByName(it.stale)
        # links_new > 0 requires candidates, i.e. links_total > 0; the
        # additions commit is the job that materializes new_rows and fires
        # the links Observation.  The seen commit scans the SAME persisted
        # new_rows frame — chain it AFTER the additions commit in one pool
        # thread, so the first job materializes the cache and the second
        # reads it hot, instead of two concurrent jobs both computing the
        # multi-million-row candidate dedup before the cache exists.
        def adds_then_seen():
            if it.st.retried > 0 or it.links_total > 0:
                self._commit_frontier_adds(additions, it.st.retried + it.links_total)
            it.seen_commit(it.links_total, self.iteration)

        jobs = [
            adds_then_seen,
            lambda: self._commit_banded(
                "frontier_tombs", tombstones, it.st.leased + it.n_stale, "append"
            ),
        ]
        if it.st.fetched_ok > 0:
            jobs.append(
                # span docs are wide (~10 KB/row): size for ~200 MB files,
                # not the 100k-rows default meant for slim rows
                lambda: self.t("docs").commit(
                    self._sized(docs_from_fused(it.parsed), it.st.fetched_ok, rows_per_file=20_000),
                    mode="append",
                )
            )
            jobs.append(
                # bucket-aligned placement: shuffle_to colocates each ib
                # bucket's rows so the hive write emits ~1 file per bucket,
                # not input-partitions x buckets
                lambda: self.t("items").commit_append_partitioned(
                    it.items_new.withColumn("ib", self._item_bucket_col()),
                    "ib",
                    meta=self._items_meta(),
                    shuffle_to=self._target(it.st.fetched_ok),
                )
            )
        if it.st.failed > 0:
            jobs.append(
                lambda: self.t("failed").commit(self._sized(it.failed_new, it.st.failed), mode="append")
            )
        jobs.append(
            # the global lease-seq derivation runs here, inside the commit
            # thread (concurrent with the big docs/frontier writes).  Only
            # the lease-order columns ride into it — seq needs (priority,
            # fingerprint) alone, and the scale path materializes its input
            # (localCheckpoint), so narrowing first cuts those bytes ~30x
            lambda: self.t("crawl_order").commit(
                self._sized(
                    FR.with_lease_seq(
                        it.batch.select(*S.ORDER_COLS), self.next_seq, n_rows=it.st.leased
                    ).select(
                        "seq", F.lit(self.iteration).alias("iteration"), "fingerprint"
                    ),
                    it.st.leased,
                ),
                mode="append",
            )
        )
        if it.accrued is not None:
            leased_ph = it.batch.groupBy("host").agg(F.count("*").alias("n_leased"))
            spent = self._buckets.spend(it.accrued, leased_ph)
            # persist-state semantics: rows for hosts NOT accrued this
            # iteration (outside the opened bands, or momentarily without
            # due rows) carry forward untouched — elapsed-iterations
            # accrual catches them up exactly when next read, because
            # min(burst, t + m·rate) composes across skipped iterations
            # (oracle.py mirrors; required for the band-pruned gated lease)
            carry = it.bucket_state.join(it.accrued.select("host"), on="host", how="left_anti")
            # prune rows whose as-of value has refilled to burst — they are
            # exactly the absent-host default, so dropping them is
            # behavior-invisible and keeps the overwritten state table
            # O(still-refilling hosts), not O(every host ever crawled)
            new_state = self._buckets.prune(spent.unionByName(carry), self.iteration)
            jobs.append(
                lambda: self.t("token_buckets").commit(self._sized(new_state, 10_000), mode="overwrite")
            )
        if it.cache_new > 0:
            cache_rows = it.fetched.filter(F.col("content").isNotNull()).select(
                "fingerprint", "status_code", "content"
            )
            jobs.append(
                lambda: self.t("fetch_cache").commit(
                    self._sized(cache_rows, it.cache_new), mode="append"
                )
            )
        return jobs

    def _commit(self, it: _Iteration) -> IterationStats:
        """Commit phase.  The CHECKPOINT (not commit order) is the atomicity
        gate — restore rolls every table back to the last complete
        checkpoint, so the independent table commits run concurrently
        (Spark schedules jobs from multiple driver threads in parallel);
        the driver counters advance only once every commit succeeded."""
        jobs = self._commit_jobs(it)
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            for fut in [pool.submit(j) for j in jobs]:
                fut.result()  # propagate any commit failure before checkpointing
        # the Observation fired inside whichever commit materialized new_rows
        # (the seen commit consumes it when candidates existed); with zero
        # candidate links, links_new is definitionally zero.  When a cache
        # race swallows the metrics (both consumers read an InMemoryScan and
        # neither query surfaces the inner CollectMetrics), fall back to a
        # count over the now-hot cache — correctness never depends on obs.
        st = it.st
        if it.links_total > 0:
            try:
                st.links_new = int(it.links_obs.get["n_new"])
            except Exception:
                self._obs_fallbacks += 1
                st.links_new = it.new_rows.count()
            if it.kept_obs is not None:
                try:
                    st.links_dropped = it.links_total - int(it.kept_obs.get["n_kept"])
                except Exception:
                    self._obs_fallbacks += 1
        st.links_dup = it.links_total - st.links_dropped - st.links_new
        self.frontier_size += st.retried + st.links_new - st.leased - it.n_stale
        self.tombstone_rows += st.leased + it.n_stale
        self.iteration += 1
        self.next_seq += st.leased
        # iteration summary + per-partition lineage travel in the checkpoint
        # label (no Spark job); the metrics/metrics_partitions tables are
        # materialized from the labels at end of run()
        self.store.checkpoint(
            self._label(stats=st.__dict__, part_metrics=it.part_metrics), TABLES
        )
        return st

    def _maintain(self) -> None:
        """Maintain phase: the one in-loop maintenance policy (FOLDED_LOGS,
        COMPACT_MIN_TOMBSTONES).  A fold is a row-identical single-table
        commit, so it needs no checkpoint (a rollback across it is a no-op)
        and a crash between two folds leaves each table individually
        consistent.  docs, crawl_order and failed also grow but are not
        read in-loop: folding them, like compact_items, stays out-of-band."""
        if self.tombstone_rows >= max(COMPACT_MIN_TOMBSTONES, self.frontier_size):
            self.compact_frontier()
        for name in FOLDED_LOGS:
            self.t(name).fold_segments(
                self.cfg.fold_min_segments, max_fold_bytes=TARGET_FILE_BYTES
            )

    def expire_snapshots(self, keep_checkpoints: int = 2) -> dict:
        """Storage GC (Iceberg expire_snapshots parity): drop table versions
        and data segments outside the resume window — see
        SnapshotStore.expire_snapshots.  Run between iterations (maintenance,
        like compact_frontier)."""
        return self.store.expire_snapshots(keep_checkpoints=keep_checkpoints)

    def compact_frontier(self) -> None:
        """Fold the tombstone delta log back into the adds table: adds :=
        visible, tombstones := ∅.  The visible set is unchanged (pure
        maintenance, like Iceberg rewrite_data_files), so crawl semantics
        are unaffected; runs when tombstones outgrow the visible frontier."""
        self._rewrite_frontier(self._read_frontier(), self.frontier_size)
        self.store.checkpoint(self._label(compacted=True), TABLES)

    def compact_items(self) -> None:
        """Items-table compaction (Iceberg ``rewrite_data_files`` parity):
        fold the per-iteration append segments into ONE segment with one
        healthy file per bucket — per-bucket file counts otherwise grow
        linearly with crawl iterations.  Rows re-place under the CURRENT
        items_buckets modulus, which also heals a mixed-modulus history
        (the recovery path after _items_pruning_safe() falls back to
        unpruned reads).  Explicit maintenance, like expire_snapshots."""
        t = self.t("items")
        m = t.manifest()
        if m is None or len(m.segments or []) <= 1:
            return
        t.rewrite_data_files(
            self._item_bucket_col(),
            meta={"bucket_modulus": self.cfg.items_buckets},
            shuffle_to=min(
                self.spark.sparkContext.defaultParallelism, self.cfg.items_buckets
            ),
        )
        self.store.checkpoint(self._label(compacted_items=True), TABLES)

    def health_check(self, failed_threshold: int = 1000, min_success_rate: float = 0.5) -> list[str]:
        """Stall/alarm monitors (scheduler.py:321-405): too many failures,
        low success rate, frozen frontier.  Driver-side over the checkpoint
        labels — no Spark job."""
        alarms = []
        stats = [c["label"]["stats"] for c in self.store.list_checkpoints() if c["label"].get("stats")]
        if not stats:
            return alarms
        total_failed = sum(s["failed"] for s in stats)
        if total_failed > failed_threshold:
            alarms.append(f"failed_count {total_failed} > {failed_threshold}")
        leased = sum(s["leased"] for s in stats)
        ok = sum(s["fetched_ok"] for s in stats)
        if leased and ok / leased < min_success_rate:
            alarms.append(f"success_rate {ok / leased:.2f} < {min_success_rate}")
        # frozen-frontier window: only iterations that actually leased count —
        # token-bucket idle-accrual ticks (leased=0 while hosts refill) are
        # legitimate rate-limit waits, not stalls
        active = [s for s in stats if s["leased"] > 0]
        if len(active) >= 3 and all(
            s["fetched_ok"] == 0 and s["links_new"] == 0 for s in active[-3:]
        ):
            alarms.append("frontier frozen: 3 iterations with no progress")
        return alarms

    def reload_failed(self) -> int:
        """Re-enqueue every parked failed request with retry_times reset to
        0, skipping dedup (they are already claimed in the seen set) —
        HandleFailedRequests.reput semantics (core/handle_failed_requests.py:
        29-54; retries bypass the dedup filter, parser_control.py:347).
        Clears the failed table.  Returns the number re-enqueued."""
        failed = self._backfill_columns(self.t("failed").read(), FAILED_DDL).persist()
        n = failed.count()
        if n == 0:
            failed.unpersist()
            return 0
        # restore the original priority / parser routing / canonical form from
        # the parked row (reput of the original request, not a recompute).
        # Terminal failures were tombstoned at lease time, so the revived
        # rows are plain appends — added_iteration = the current iteration
        # keeps the row-version key unique (the original add is in the past).
        revived = (
            failed.withColumn("retry_times", F.lit(0))
            .withColumn("status", F.lit(S.STATUS_TODO))
            .withColumn("added_iteration", F.lit(self.iteration))
            .select(*_cols(FR.FRONTIER_DDL))
        )
        self.frontier_size += n
        self._commit_frontier_adds(revived, n)
        self.t("failed").commit(
            self.spark.createDataFrame([], FAILED_DDL), mode="overwrite"
        )
        self.store.checkpoint(self._label(reloaded_failed=n), TABLES)
        failed.unpersist()
        return n

    def flush_metrics(self) -> None:
        """Materialize the metrics and metrics_partitions tables from the
        checkpoint labels (overwrite — idempotent across resumes and
        crashes; zero per-iteration Spark writes for either)."""
        rows = []
        prows = []
        for ckpt in self.store.list_checkpoints():
            stx = ckpt["label"].get("stats")
            if stx:  # links_dropped is absent from older labels
                rows.append(tuple(stx.get(c, 0) for c in _cols(METRICS_DDL)))
            prows.extend(tuple(p) for p in ckpt["label"].get("part_metrics", []))
        if rows:
            self.t("metrics").commit(self.spark.createDataFrame(rows, METRICS_DDL), mode="overwrite")
        if prows:
            self.t("metrics_partitions").commit(
                self.spark.createDataFrame(prows, PART_METRICS_DDL), mode="overwrite"
            )
