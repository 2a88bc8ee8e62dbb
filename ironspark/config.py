"""EngineConfig — what a crawl does, not how the engine executes it.

Reference: ``src/config.rs:8-31`` (fields) and ``:33-59`` (defaults).
Fields set crawl semantics (retry/acceptance, politeness budgets,
dedup, recrawl, trap throttling, robots, cookies) and the thresholds
of the engine's own plan choices. Physical plans are not settable:
the seen anti-join regime is resolved per wave from the engine's
counters (``seen_broadcast_max_rows``, ``seen_flip_ratio``), and the
fetch is the corpus join when the engine gets a pages table and live
HTTP when it gets ``pages=None``; the merge-on-read frontier
compacts past a fixed segment count (``engine._FRONTIER_MAX_SEGMENTS``).
The reference's thread-pool and in-flight limits have no meaning in a
wave engine and are not carried (Spark's task scheduler bounds
concurrency; SURVEY.md §2.2, §4.1).
"""

from __future__ import annotations

from dataclasses import dataclass, field

SEEN_BACKENDS = frozenset({"exact", "bloom", "cuckoo"})


@dataclass(frozen=True)
class EngineConfig:
    # -- fetch acceptance / retry (src/config.rs:19,44) ----------------------
    max_retry_times: int = 2
    http_error_allow_codes: frozenset[int] = frozenset()

    # -- politeness (reference global quota, src/config.rs:12) ---------------
    # Seconds of simulated wall-clock each wave represents; per-host budget
    # = floor(wave_seconds / crawl_delay(host)).
    wave_seconds: float = 60.0
    default_crawl_delay: float = 1.0
    # Global per-wave cap on scheduled URLs (None = unbounded). The
    # reference's backpressure gate (2 x its in-flight limit) is
    # intentionally NOT applied by default: at cluster scale a wave
    # should saturate all executors, not mimic one process's queue.
    max_wave_size: int | None = None

    # -- frontier policy ------------------------------------------------------
    # dedup=True: new links are dropped if already seen (scale mode, the
    # north-rule Bloom/anti-join path). dedup=False: pure FIFO, duplicates
    # crawled — the reference engine itself never dedups (its scheduler is
    # a plain channel, src/scheduler/scheduler.rs:34-76).
    dedup: bool = True
    # URL-seen backend: "exact" (anti-join) | "bloom" (partitioned Bloom
    # prune + exact confirm) | "cuckoo" (deletable entries, 4 shards).
    seen_backend: str = "exact"
    # Per-SLICE capacity of the prune filter. The engine builds the
    # filter at the first "shuffle_hash" probe (the only regime that
    # reads it), as one base slice from the whole seen table; after
    # that each seen append adds one fixed-geometry delta slice
    # (broadcast once, never re-sent). Size this so a slice's bitset
    # stays broadcast-friendly (~1.2 MB per 2^20 at 1% false
    # positives). A crawl that never reaches shuffle_hash builds none.
    bloom_capacity: int = 1 << 20
    # Live slices before OR-compaction into one (stale broadcasts are
    # released on compaction) — bounds both probe cost and executor
    # memory at max_slices + 1 bitsets, from the first shuffle_hash
    # probe on.
    bloom_max_slices: int = 8
    # Thresholds of the exact-confirm anti-join regime, which the
    # engine resolves per wave from its own counters (the seen side
    # GROWS with the crawl, so the right plan changes with crawl age;
    # CrawlEngine._resolve_seen_join):
    # * "shuffle_hash" once seen rows (next_seq, exact for unique
    #   enqueued urls) exceed seen_broadcast_max_rows — the O(seen)
    #   build stays distributed and candidates shuffle once. 4M urls
    #   ≈ 250 MB of strings ≈ <1 GB hashed per executor; measured at
    #   400k pages: broadcast is 1.2-1.5x faster end-to-end at 2-8
    #   cores and the shuffle only breaks even at 32.
    # * "flip" once seen outgrows seen_flip_ratio x the wave's
    #   outlinks: broadcast the deduped candidate KEYS into a parallel
    #   scan of seen (left_semi -> the dupes), then broadcast the
    #   dupes back for the exact anti-join — serial driver cost drops
    #   from O(seen), which grows every wave and dominates the small-
    #   wave politeness tail, to O(wave).
    # * "broadcast" otherwise: one small driver build, no shuffle.
    seen_broadcast_max_rows: int = 4_000_000
    seen_flip_ratio: float = 2.0

    # -- spider admission (src/spider/manager.rs:34-36) ----------------------
    scheduler_holding_threshold: int = 50

    # -- loop termination (src/config.rs:51) ----------------------------------
    max_waves: int = 1000

    # -- continuous crawl: freshness recrawl (ours) ---------------------------
    # When set, the engine does NOT shut down at frontier-empty:
    # it ticks frontier.recrawl_due over the fetch history (order
    # table) and re-admits the due URLs straight into the frontier,
    # stalest-first under recrawl_per_host_budget — the
    # crawl→age→recrawl cycle, bounded by max_waves. Seen membership
    # is left as it is (due URLs never meet the seen anti-join). None
    # = off (single-pass crawl, the reference's behavior).
    recrawl_interval_s: float | None = None
    recrawl_per_host_budget: int = 5

    # -- spider-trap throttling (ours; pairs with url.url_templates) -----------
    # When set, each wave caps the number of scheduled URLs per
    # (host, generalized URL template) flagged as a trap — a template
    # containing a {D}/{H} placeholder that covers >= trap_min_urls of
    # the host's pending URLs and >= trap_share of its pending set
    # (calendar traps, session ids, infinite pagination). Capped rows
    # are NOT dropped: they stay pending in FIFO order and trickle out
    # at trap_template_cap per wave instead of eating the politeness
    # budget. None = off. Must be >= 1 when set (guarantees progress,
    # so a trap host drains eventually and idle shutdown still fires);
    # __post_init__ rejects smaller values.
    trap_template_cap: int | None = None
    trap_min_urls: int = 100
    trap_share: float = 0.5

    # -- per-spider lifecycle (L3 deactivation sweep, manager.rs:188-199) ------
    # True: track per-spider pending counts each wave and call close()
    # as soon as a spider has no in-flight work (two small extra jobs
    # per wave); False: close() fires once at shutdown.
    track_spiders: bool = False

    # -- robots enforcement ----------------------------------------------------
    respect_robots: bool = True

    # -- HTTP client (src/config.rs:14,38-43) -----------------------------------
    # Timeouts and UA apply to the live fetch (CrawlEngine(pages=None));
    # store_cookies replays the per-host jar on either fetch path.
    downloader_request_timeout_s: float = 3.0
    downloader_connect_timeout_s: float = 3.0
    store_cookies: bool = False
    user_agent: str = "ironspark/0.1"

    # -- checkpointing ---------------------------------------------------------
    checkpoint_every: int = 1  # waves between snapshot commits

    extra: dict = field(default_factory=dict, compare=False, hash=False)

    def __post_init__(self) -> None:
        if self.seen_backend not in SEEN_BACKENDS:
            raise ValueError(
                f"seen_backend must be one of {sorted(SEEN_BACKENDS)}, "
                f"got {self.seen_backend!r}"
            )
        if self.trap_template_cap is not None and self.trap_template_cap < 1:
            raise ValueError(
                f"trap_template_cap must be None or >= 1, "
                f"got {self.trap_template_cap}"
            )
