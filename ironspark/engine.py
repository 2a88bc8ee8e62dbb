"""CrawlEngine: the wave-loop driver (reference Engine, src/engine.rs:84-212).

The reference's five free-running threads (SpiderManager, Downloader,
PipelineManager, monitor, TUI — ``src/engine.rs:100-187``) collapse
into a synchronous loop over "waves"; concurrency lost between stages
is regained as partition parallelism inside each wave, and what is
gained is determinism (exact crawl-order replay) and snapshot
checkpointing (every wave commit is a resumable snapshot) — SURVEY.md
§3.4.

``CrawlEngine._crawl`` is that loop: ``_start`` (seed or resume), then
per wave ``_admit`` (staged seeds, freshness tick; None = idle
shutdown, monitor.rs:62-72) → ``_schedule`` → ``_fetch_parse`` →
``_items`` → ``_dedup_enqueue`` → ``_tail`` → ``_advance_frontier`` →
``_commit_wave``, each a method over one ``RunState`` (the
loop-carried state, the overlapped tail and the wave's one cache
list). State tables (frontier, seen, items, crawl order, metrics) are
materialized per wave by TableIO — parquet directories whose only
commit record is an Iceberg-shaped snapshot chain of relative-path
deltas. Reads follow the snapshot's file list; only a resume deletes
files, those the snapshot it starts from does not list.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
import time
from datetime import datetime, timezone
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ironspark.config import EngineConfig
from ironspark.fetch import fetch_from_corpus, http_fetch_stage
from ironspark.frontier import (
    _FRONTIER_COLS,
    _finish_frontier,
    enqueue_outlinks,
    prepare_candidates,
    recrawl_due,
    seeds_to_frontier,
    with_global_seq,
)
from ironspark.metrics import rollup_wave_metrics, wave_metrics_fine
from ironspark.parse import parse_responses
from ironspark.pipeline import PipelineManager
from ironspark.politeness import min_host_budget, robots_disallow_filter, select_wave
from ironspark.schemas import (
    CONSUMED_SCHEMA,
    CRAWL_ORDER_SCHEMA,
    FRONTIER_SCHEMA,
    METRICS_SCHEMA,
    SEEDS_SCHEMA,
    SEEN_SCHEMA,
    STATUS_SCHEMA,
)
from ironspark.seen import ShardedBloom, ShardedCuckoo
from ironspark.spider import Spider

# Heavy-job AQE gate: adaptive execution is worth its sequential
# re-optimization rounds (measured ~1.4s flat per action, independent of
# core count) only when the wave is big enough for runtime skew handling
# to matter. Waves with fewer pending rows run fetch+parse statically.
_AQE_MIN_PENDING = 65_536

# Corpus-scan split sizing: target file-scan tasks per core. Spark's
# default split formula (bytes/defaultParallelism, capped at 128 MB)
# yields ~1 task per core on sub-GB corpora, so one straggler split
# (mega-host pages cluster in files) idles the whole fetch stage tail.
# Measured on the fused fetch+parse wave: 65s -> 42s at 2 cores and
# 16.6s -> 13.3s at 8 from cutting splits to ~4+/core. The 128 MB clamp
# makes this a no-op at petabyte corpus sizes.
_SCAN_TASKS_PER_CORE = 4

# Merge-on-read frontier: compaction rewrites the true pending set as
# one base segment once the segment list grows past this (or tombstones
# outnumber 2x the live backlog), so every read scans a bounded list.
_FRONTIER_MAX_SEGMENTS = 8

_WAVE_TOTALS = (
    "scheduled", "fetched", "failed", "retried", "items", "outlinks", "dropped",
    "unrouted",
)

# session settings the wave loop overrides; run() restores them on exit
_RUN_CONFS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.sources.parallelPartitionDiscovery.threshold",
)

_TRACE = os.environ.get("IRONSPARK_TRACE", "") not in ("", "0")


@dataclass
class CrawlStats:
    """Reference Engine::defer summary (src/engine.rs:190-212)."""

    waves: int = 0
    scheduled: int = 0
    fetched: int = 0
    failed: int = 0
    items: int = 0
    outlinks: int = 0
    deduped: int = 0
    unrouted: int = 0  # items with no pipeline chain (M7, manager.rs:96-98)
    dropped: int = 0  # accepted responses with no registered spider
    exhausted: int = 0
    closed_spiders: int = 0
    wall_s: float = 0.0
    run_dir: str = ""
    # per-wave lineage for steady-state throughput analysis
    wave_walls: list = field(default_factory=list)  # seconds per wave
    wave_scheduled: list = field(default_factory=list)
    wave_new: list = field(default_factory=list)
    wave_outlinks: list = field(default_factory=list)
    wave_frontier_rows: list = field(default_factory=list)  # delta rows written
    wave_seen_join: list = field(default_factory=list)  # resolved regime per wave

    @property
    def urls_per_sec(self) -> float:
        # the authoritative metric: frontier URLs scheduled+deduped/sec
        return (self.scheduled + self.deduped) / self.wall_s if self.wall_s else 0.0


# engine-controlled table schemas: providing them to the reader elides
# the per-read parquet footer-inference job (measured as a swarm of
# 1-task jobs inside every wave's serial budget). `items` is
# deliberately ABSENT — user pipelines may reshape item rows.
_TABLE_SCHEMAS = {
    "frontier": FRONTIER_SCHEMA,
    "frontier_base": FRONTIER_SCHEMA,
    "seen": SEEN_SCHEMA,
    "order": CRAWL_ORDER_SCHEMA,
    "consumed": CONSUMED_SCHEMA,
    "metrics": METRICS_SCHEMA,
    "status": STATUS_SCHEMA,
}


class TableIO:
    """The engine's state store: one parquet dir per state table, and
    under ``metadata/`` an Iceberg-shaped snapshot chain, the engine's
    only commit record.

    ``commit`` appends ``snap-<id>.json``: the parent id, the engine
    summary (next wave, seq counter, frontier segments, ...) and the
    parquet files added or removed since the parent, with sizes and
    run-dir-relative paths. A snapshot's file list is the fold of its
    chain, so a commit writes O(delta) metadata (the Iceberg spec's
    manifest reuse, https://iceberg.apache.org/spec/, cut to one delta
    per commit). ``version-hint.text``, written last, is the commit
    point (the hadoop-catalog protocol).

    The file list is also the only way to find data: a TableIO keeps
    the live list — the current snapshot's files plus the ones its own
    writes added since (an overwrite drops the files it replaced) — and
    ``read`` scans listed files only, planning a scan the way Iceberg
    plans one from manifests, never from a directory listing. A file
    no snapshot lists (a crashed run's writes past its last commit, the
    replaced side of a rewrite) is never read, and ``commit`` stores
    the live list's delta against the parent. Only ``restore``, at the
    start of a resume, deletes data files: those the current snapshot
    does not list. One run writes a run dir at a time; readers such as
    the live monitor open their own TableIO. Only the writers (``write``,
    ``commit``) create dirs: opening a missing run dir to read it leaves
    no dir behind.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.meta = os.path.join(root, "metadata")
        # ((snapshot id, timestamp), folded file list) of the last
        # snapshot folded or committed: a commit reads one snapshot,
        # not the chain
        self._listed: tuple[tuple, dict] | None = None
        # the live list, loaded at first use; the I/O pool's tail and
        # sink writes register into it from their own threads
        self._live: dict[str, int] | None = None
        self._lock = threading.Lock()

    def _reader(self, name: str):
        s = _TABLE_SCHEMAS.get(name.split("/", 1)[0])
        return self.spark.read.schema(s) if s is not None else self.spark.read

    def path(self, name: str, wave: int | None = None) -> str:
        return (
            os.path.join(self.root, name)
            if wave is None
            else os.path.join(self.root, name, f"wave={wave}")
        )

    def write(
        self, df: DataFrame, name: str, wave: int | None = None, mode: str = "overwrite"
    ) -> None:
        self._write(df, self.path(name, wave), mode)

    def write_rel(self, df: DataFrame, relpath: str, mode: str = "overwrite") -> None:
        self._write(df, os.path.join(self.root, relpath), mode)

    def _write(self, df: DataFrame, path: str, mode: str) -> None:
        """Write ``df`` into the dir ``path`` and put the parquet files
        it added on the live list; an overwrite takes the files it
        replaced off. Only this dir is listed, before and after."""
        before = set() if mode == "overwrite" else _parquet_names(path)
        df.write.mode(mode).parquet(path)
        rel = os.path.relpath(path, self.root)
        added = {
            os.path.join(rel, f): os.path.getsize(os.path.join(path, f))
            for f in _parquet_names(path) - before
        }
        with self._lock:
            live = self._live_files()
            if mode == "overwrite":
                for p in _under(live, [rel]):
                    del live[p]
            live.update(added)

    def _live_files(self) -> dict[str, int]:
        """The live list (hold ``_lock``)."""
        if self._live is None:
            self._live = dict(self._files(self.snapshot()))
        return self._live

    def read(
        self,
        name: str | list[str],
        wave: int | None = None,
        snapshot_id: int | None = None,
    ) -> DataFrame | None:
        """The rows of the files listed under ``name`` — a table, or
        run-dir-relative dirs (a list reads frontier segments as one
        scan) — and ``wave``: the live list's, or snapshot
        ``snapshot_id``'s. None when nothing there is listed.

        A whole-table read takes ``wave`` from the ``wave=N`` dirs
        (order, items, seen); metrics and status hold it as a data
        column. A read of dirs carries no ``wave``: a frontier
        compaction writes the pending view back under a ``wave=N`` dir.
        """
        dirs = [name] if isinstance(name, str) else list(name)
        if wave is not None:
            dirs = [f"{d}/wave={wave}" for d in dirs]
        if snapshot_id is None:
            with self._lock:
                files = _under(self._live_files(), dirs)
        else:
            files = _under(self._files(self.snapshot(snapshot_id)), dirs)
        if not files:
            return None
        reader = self._reader(dirs[0])
        if isinstance(name, str) and "/" not in name and wave is None:
            reader = reader.option("basePath", os.path.join(self.root, name))
        return reader.parquet(*[os.path.join(self.root, p) for p in files])

    def rewrite(self, df: DataFrame, name: str) -> None:
        """Replace a whole table (seen-set invalidation). The new rows
        land beside the old files, and one snapshot lists them in place
        of the old ones (the decision point). Nothing is deleted: a
        crash before that commit leaves the new files unlisted, and the
        old ones stay on disk, unlisted, until the next resume's
        restore(), so a rollback past the rewrite still finds them."""
        with self._lock:
            old = _under(self._live_files(), [name])
        self._write(df, self.path(name, 0), "append")
        with self._lock:
            live = self._live_files()
            for p in old:
                del live[p]
        self.commit(self.manifest())

    def manifest(self) -> dict | None:
        """The engine state: the current snapshot's summary."""
        snap = self.snapshot()
        return None if snap is None else snap["summary"]

    def commit(self, manifest: dict) -> None:
        """Append a snapshot with ``manifest`` as its summary and, as
        its delta, the live list against the parent's list."""
        os.makedirs(self.meta, exist_ok=True)
        parent = self.snapshot()
        listed = self._files(parent)
        with self._lock:
            files = dict(self._live_files())
        sid = 0 if parent is None else parent["snapshot-id"] + 1
        snap = {
            "snapshot-id": sid,
            "parent-snapshot-id": None if parent is None else parent["snapshot-id"],
            "timestamp-ms": int(time.time() * 1000),
            "summary": manifest,
            "added-files": _entries(files, set(files) - set(listed)),
            "removed-files": _entries(listed, set(listed) - set(files)),
        }
        _put(os.path.join(self.meta, f"snap-{sid}.json"), json.dumps(snap))
        # version-hint LAST: readers never see a hinted-at snapshot
        # that is not fully on disk
        _put(os.path.join(self.meta, "version-hint.text"), str(sid))
        self._listed = ((sid, snap["timestamp-ms"]), files)

    def rollback(self, snapshot_id: int) -> None:
        """Make a snapshot current and delete the ones after it
        (Iceberg's rollback). Raises FileNotFoundError, changing
        nothing, when the snapshot is absent or a file it lists is gone
        (a resume from a later snapshot deleted it)."""
        snap = self.snapshot(snapshot_id)
        if snap is None:
            raise FileNotFoundError(f"no snapshot {snapshot_id} in {self.root}")
        for p in sorted(self._files(snap)):
            if not os.path.exists(os.path.join(self.root, p)):
                raise FileNotFoundError(
                    f"snapshot {snapshot_id} lists {p}, deleted by a later resume"
                )
        _put(os.path.join(self.meta, "version-hint.text"), str(snapshot_id))
        for f in os.listdir(self.meta):
            if f.startswith("snap-") and f.endswith(".json") and int(f[5:-5]) > snapshot_id:
                os.remove(os.path.join(self.meta, f))
        with self._lock:
            self._live = None

    def restore(self) -> dict:
        """Return the current snapshot's summary (the state a resume
        starts from) after the run dir's only sweep: delete every
        parquet file (with its .crc) the snapshot does not list, then
        every dir left holding no listed file — what a run wrote past
        its last commit, and either side of a rewrite the snapshot does
        not list. Reads never depend on it: they follow the list."""
        snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(f"no snapshot to resume in {self.root}")
        listed = self._files(snap)
        live = set()
        for p in listed:
            while p:
                p = os.path.dirname(p)
                live.add(p)
        for t in os.listdir(self.root):
            if t == "metadata":
                continue
            for d, _, names in os.walk(os.path.join(self.root, t), topdown=False):
                rel = os.path.relpath(d, self.root)
                if rel not in live:
                    shutil.rmtree(d)
                    continue
                for f in names:
                    if f.endswith(".parquet") and os.path.join(rel, f) not in listed:
                        os.remove(os.path.join(d, f))
                        if os.path.exists(os.path.join(d, f".{f}.crc")):
                            os.remove(os.path.join(d, f".{f}.crc"))
        with self._lock:
            self._live = dict(listed)
        return snap["summary"]

    def current_snapshot_id(self) -> int | None:
        hint = os.path.join(self.meta, "version-hint.text")
        if not os.path.exists(hint):
            return None
        with open(hint) as fh:
            return int(fh.read().strip())

    def snapshot(self, snapshot_id: int | None = None) -> dict | None:
        """A snapshot (default: the current one), None if absent."""
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        p = os.path.join(self.meta, f"snap-{sid}.json")
        if sid is None or not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def _files(self, snap: dict | None) -> dict[str, int]:
        """Relative path -> size of every data file ``snap`` lists: the
        fold of its chain's deltas. Callers must not mutate it."""
        if snap is None:
            return {}
        key = (snap["snapshot-id"], snap["timestamp-ms"])
        if self._listed is None or self._listed[0] != key:
            chain = [snap]
            while chain[-1]["parent-snapshot-id"] is not None:
                chain.append(self.snapshot(chain[-1]["parent-snapshot-id"]))
            files: dict[str, int] = {}
            for s in reversed(chain):
                for e in s["removed-files"]:
                    del files[e["file-path"]]
                for e in s["added-files"]:
                    files[e["file-path"]] = e["file-size-in-bytes"]
            self._listed = (key, files)
        return self._listed[1]

    def snapshot_table_files(
        self, name: str, snapshot_id: int | None = None
    ) -> list[str]:
        """Absolute paths of one state table's data files as a snapshot
        lists them: all a foreign reader such as DuckDB needs."""
        return [
            os.path.join(self.root, p)
            for p in _under(self._files(self.snapshot(snapshot_id)), [name])
        ]


def read_pending(io: TableIO, segments: list, consumed: list) -> DataFrame:
    """Merge-on-read pending set: the frontier segments minus the
    (seq, attempt) tombstones scheduled since the last compaction."""
    df = io.read(segments)
    if consumed:
        keys = io.read(consumed).select("seq", "attempt")
        df = df.join(keys, ["seq", "attempt"], "left_anti")
    return df


def _under(files, dirs: list[str]) -> list[str]:
    """The relative paths in ``files`` under one of the relative
    ``dirs``, sorted."""
    prefixes = tuple(d + "/" for d in dirs)
    return sorted(p for p in files if p.startswith(prefixes))


def _parquet_names(path: str) -> set[str]:
    """Names of the parquet files directly in the dir ``path``."""
    try:
        return {f for f in os.listdir(path) if f.endswith(".parquet")}
    except FileNotFoundError:
        return set()


def _entries(files: dict[str, int], paths: set) -> list[dict]:
    return [
        {"file-path": p, "file-size-in-bytes": files[p]} for p in sorted(paths)
    ]


def _put(path: str, text: str) -> None:
    """Atomic file write: a crash never leaves a torn one."""
    with open(path + ".tmp", "w") as fh:
        fh.write(text)
    os.replace(path + ".tmp", path)


@dataclass
class RunState:
    """Loop-carried state of one ``run()``, passed to every wave phase.

    Frontier state is MERGE-ON-READ (the Iceberg pattern, on TableIO):
    ``segments`` lists delta dirs (each wave appends only its retry+new
    rows), ``consumed`` the (seq, attempt) tombstone dirs of rows
    scheduled since the last compaction; pending = segments ⟕̸ consumed.

    Every DataFrame a wave persists goes into ``caches``; the tail phase
    moves the list to ``tail_release``, unpersisted once that wave's
    overlapped tail has landed (await_tail).
    """

    io: TableIO
    pool: ThreadPoolExecutor | None = None  # runs the overlapped writes
    stats: CrawlStats = field(default_factory=CrawlStats)
    staged: list = field(default_factory=list)  # seed groups not yet admitted
    aqe: bool = False  # the session had AQE on (see CrawlEngine._start)
    wave: int = 0
    next_seq: int = 0
    segments: list = field(default_factory=list)
    consumed: list = field(default_factory=list)
    consumed_rows: int = 0
    pending_count: int | None = None  # None = unknown, probe once
    # the smallest budget a host can get (politeness.min_host_budget),
    # probed once the pending count first fits the default budget
    min_budget: int | None = None
    handoff: DataFrame | None = None  # live frame of the next pending set
    writes: list = field(default_factory=list)  # this wave's sink futures
    # the PREVIOUS wave's overlapped tail (CrawlEngine._tail) and the
    # gate of its frontier-segment stage
    tail: Future | None = None
    tail_release: list = field(default_factory=list)
    frontier_done: threading.Event | None = None
    closed_spiders: set = field(default_factory=set)
    # (wave, partition) metric rows and the status histogram since the
    # last commit, buffered driver-side and appended at the next one
    metrics_buf: list = field(default_factory=list)
    status_buf: list = field(default_factory=list)
    caches: list = field(default_factory=list)
    t_start: float = field(default_factory=time.monotonic)
    t_wave: float = 0.0  # the wave's start
    t_mark: float = 0.0  # the end of its last traced phase

    def mark(self, phase: str) -> None:
        """Phase wall-clock tracing (enable with IRONSPARK_TRACE=1)."""
        if _TRACE:
            now = time.monotonic()
            print(f"[trace] wave={self.wave} {phase}: {now - self.t_mark:.2f}s", flush=True)
            self.t_mark = now

    def manifest(self, **extra) -> dict:
        """The engine summary a commit stores in its snapshot (what
        TableIO.manifest() returns and a resume starts from)."""
        return {
            "next_wave": self.wave,
            "next_seq": int(self.next_seq),
            "deduped": int(self.stats.deduped),
            "segments": self.segments,
            "consumed": self.consumed,
            "consumed_rows": self.consumed_rows,
            **extra,
        }

    def pending_view(self) -> DataFrame:
        return read_pending(self.io, self.segments, self.consumed)

    def seen(self) -> DataFrame | None:
        """The append-only seen set: the slices the live list holds."""
        return self.io.read("seen")

    def write_async(self, df: DataFrame, name: str) -> None:
        """Overlapped write of this wave's slice of a sink table."""
        self.writes.append(self.pool.submit(self.io.write, df, name, self.wave))

    def drain_writes(self) -> None:
        for fut in self.writes:
            fut.result()
        self.writes = []

    def await_frontier(self) -> None:
        if self.frontier_done is not None:
            self.frontier_done.wait()

    def await_tail(self) -> None:
        """Wait for the previous wave's tail, then release its caches."""
        if self.tail is not None:
            self.tail.result()
            self.tail = None
            for df in self.tail_release:
                df.unpersist()
            self.tail_release = []


class CrawlEngine:
    """The public engine API (reference Engine::new, src/engine.rs:39-82)."""

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        spiders: dict[int, Spider],
        config: EngineConfig | None = None,
        robots: DataFrame | None = None,
        pipelines: PipelineManager | None = None,
        redirects: DataFrame | None = None,
    ):
        self.spark = spark
        self.pages = pages
        self.spiders = spiders
        self.cfg = config or EngineConfig()
        self.robots = robots
        self.pipelines = pipelines
        self.redirects = redirects
        # middleware hooks (north rule: request/response hooks are
        # DataFrame transform stages; reference dataflow engine.rs:100-188)
        self.request_hooks: list[Callable[[DataFrame], DataFrame]] = []
        self.response_hooks: list[Callable[[DataFrame], DataFrame]] = []
        # S6 cookie store (reference src/config.rs:14, reqwest jar in
        # downloader.rs:52): per-host cookie strings harvested from
        # response set_cookie lineage, injected as a `cookie` header on
        # the next wave's requests when cfg.store_cookies. Driver-side
        # dict — the honest analog of the reference's in-process jar
        # (bounded by hosts-with-cookies; shipped per wave as a
        # broadcast join).
        self._cookie_jar: dict[str, str] = {}
        self._bloom: ShardedBloom | ShardedCuckoo | None = None
        # column-pruned corpus view; the scan carries only what the
        # fetch join needs (url, html, warc_ts) — Catalyst would prune
        # anyway, this makes it explicit and keeps text/lang out.
        # pages=None selects the live HTTP fetch (fetch.http_fetch_stage).
        self._pages_view = (
            pages.select("url", "html", "warc_ts") if pages is not None else None
        )
        # url-only corpus side for the fetch's miss anti-join: built
        # lazily ONCE and persisted hash-partitioned by url into the
        # session's shuffle partition count (explicit, so AQE never
        # coalesces it), so each wave's shuffle_hash anti-join
        # exchanges only the wave's GET keys and probes the cached
        # partitions in place — no parquet re-scan and no driver-side
        # build of every corpus url.
        self._pages_urls: DataFrame | None = None
        # wall clock for fetch_ts stamping + recrawl due checks;
        # injectable via cfg.extra["clock"] so tests can age a crawl
        self._clock: Callable[[], datetime] | None = (
            self.cfg.extra.get("clock") if self.cfg.extra else None
        )

    def _now(self) -> datetime:
        """Naive-UTC wall clock (session tz is UTC; NTZ-safe literal)."""
        dt = self._clock() if self._clock is not None else datetime.now(timezone.utc)
        if dt.tzinfo is not None:
            dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
        return dt

    def _scan_split_bytes(self) -> int | None:
        """maxPartitionBytes targeting _SCAN_TASKS_PER_CORE file-scan
        tasks per core over the fetch corpus, clamped to [4 MB, 128 MB].

        None (= leave the session default) when there is no file-backed
        corpus or sizes can't be read (non-local filesystem) — the
        128 MB clamp means a corpus big enough to be remote is also big
        enough not to need this.
        """
        if self.pages is None:
            return None
        try:
            total = 0
            for uri in self.pages.inputFiles():
                path = uri
                if path.startswith("file:"):
                    path = path[5:]
                    while path.startswith("//"):
                        path = path[1:]
                elif "://" in path:
                    return None
                total += os.path.getsize(path)
        except Exception:
            return None
        if total <= 0:
            return None
        par = max(self.spark.sparkContext.defaultParallelism, 1)
        return min(128 << 20, max(4 << 20, total // (_SCAN_TASKS_PER_CORE * par)))

    def _prepared_page_urls(self) -> DataFrame | None:
        if self._pages_urls is None and self._pages_view is not None:
            nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            self._pages_urls = (
                self._pages_view.select("url").repartition(nparts, "url").persist()
            )
        return self._pages_urls

    def register_request_hook(self, fn: Callable[[DataFrame], DataFrame]) -> None:
        self.request_hooks.append(fn)

    def register_response_hook(self, fn: Callable[[DataFrame], DataFrame]) -> None:
        self.response_hooks.append(fn)

    # -- seen-set backends ---------------------------------------------------

    def _resolve_seen_join(
        self, seen_rows: int | None, wave_outlinks: int | None = None
    ) -> str:
        """Resolve this wave's exact anti-join plan from the engine's
        own counters.

        Regime choice, ordered by crawl age: "broadcast" while the
        seen set is comparable to the wave (early waves — one small
        driver build, no shuffle of either side); "flip" once seen
        outgrows the wave (seen_flip_ratio x the wave's outlink count,
        known for free from the fused metrics pass) — two O(wave)
        broadcasts and a parallel O(seen) scan instead of an O(seen)
        driver build that would otherwise grow with crawl progress and
        floor the politeness tail's small waves; "shuffle_hash" beyond
        seen_broadcast_max_rows — O(seen) stays distributed (the
        10^10-url plan) at the cost of one candidate shuffle per wave.
        The switch reads the engine's counters — NOT AQE's estimate,
        which would silently flip strategies mid-crawl and re-plan.
        """
        if seen_rows is None or seen_rows > self.cfg.seen_broadcast_max_rows:
            return "shuffle_hash"
        if (
            wave_outlinks is not None
            and seen_rows > self.cfg.seen_flip_ratio * wave_outlinks
        ):
            return "flip"
        return "broadcast"

    def _filter_new(
        self, candidates: DataFrame, seen: DataFrame, mode: str, caches: list
    ) -> DataFrame:
        """Exact anti-join planned for the regime ``mode``
        (_resolve_seen_join); Bloom/cuckoo-pruned in the shuffle regime.
        Frames it persists go into ``caches``.

        The prune exists FOR the shuffle regime: it keeps definitely-
        new rows out of the candidate shuffle, which is the join's
        cost at 10^10 seen urls. In the broadcast regime the anti-join
        is already map-side with NO shuffle of either input, so the
        prune's tag stage (an Arrow round-trip over every candidate
        url) + persist + two-branch union is pure per-wave overhead —
        measured ~1.7s/wave flat at 400k pages — and is skipped. The
        filter is built here, once per run(), from the whole ``seen``
        table at the first shuffle_hash probe; from then on every seen
        append also adds its delta (_append_seen). A crawl that never
        leaves broadcast/flip builds no filter.

        ``tagged`` is persisted: the definite-new / maybe-seen split is a
        UNION of two filters over it, and without the cache the whole
        upstream candidate chain (dedup groupBy + Bloom UDF) executed
        once per branch inside the same job (measured ~2x the dedup
        phase).
        """
        if mode == "shuffle_hash" and self.cfg.seen_backend != "exact":
            if self._bloom is None:
                cap = self.cfg.bloom_capacity
                self._bloom = (
                    ShardedBloom(self.spark, cap, max_slices=self.cfg.bloom_max_slices)
                    if self.cfg.seen_backend == "bloom"
                    else ShardedCuckoo(self.spark, cap)
                )
                self._bloom_add(seen)
            seen = seen.hint("shuffle_hash")
            maybe_seen = self._bloom.maybe_seen_udf()
            tagged = candidates.withColumn(
                "_maybe", maybe_seen(F.col("url_canon"))
            ).persist()
            caches.append(tagged)
            definite_new = tagged.filter(~F.col("_maybe")).drop("_maybe")
            confirm = (
                tagged.filter(F.col("_maybe"))
                .drop("_maybe")
                .join(seen, "url_canon", "left_anti")
            )
            return definite_new.unionByName(confirm)
        if mode == "flip":
            # candidates is persisted so the dedup groupBy above it
            # runs once: the dupes broadcast materializes the cache,
            # the anti probe then reads it. Both broadcasts are
            # O(wave); the O(seen) side is only ever SCANNED, in
            # parallel — nothing about this plan grows a serial cost
            # with crawl progress.
            cand = candidates.persist()
            caches.append(cand)
            dupes = seen.join(
                F.broadcast(cand.select("url_canon")),
                "url_canon",
                "left_semi",
            )
            return cand.join(
                F.broadcast(dupes.select("url_canon")),
                "url_canon",
                "left_anti",
            )
        seen = (
            F.broadcast(seen)
            if mode == "broadcast"
            else seen.hint("shuffle_hash")
        )
        return candidates.join(seen, "url_canon", "left_anti")

    def _bloom_add(self, new_urls: DataFrame) -> None:
        """Add urls just recorded as seen to the prune filter; a no-op
        while no filter exists (_filter_new builds it). bloom: ONE
        delta slice, O(new) distributed build, one fixed-size broadcast
        (ShardedBloom). cuckoo: executor-built fingerprint tables in
        hash-routed shards — the DELETABLE variant for re-crawl
        invalidation (see invalidate_seen)."""
        urls = new_urls.select("url_canon")
        if isinstance(self._bloom, ShardedBloom):
            self._bloom.add_delta(urls, "url_canon")
        elif self._bloom is not None:
            self._bloom.add_df(urls, "url_canon")

    def _append_seen(self, io: TableIO, urls: DataFrame, wave: int) -> None:
        """Record urls in the wave's seen slice, then in the prune filter."""
        io.write(urls, "seen", wave, mode="append")
        self._bloom_add(urls)

    def invalidate_seen(self, run_dir: str, urls: list[str]) -> int:
        """Re-crawl invalidation: remove urls from the seen set so they
        can be enqueued again (the reference has no analog — its seen
        set is the example spider's process-lifetime HashSet; this is
        the north rule's 'cuckoo fallback for deletable entries').

        Exactness: the seen TABLE is compacted minus the urls (one
        rewrite, committed as a snapshot). Prune state: cuckoo shards
        delete the fingerprints (prune stays tight); a Bloom prune
        cannot unset bits, so it goes stale-SAFE — a deleted url stays
        "maybe seen" and is re-admitted by the exact confirm join,
        costing one join row, never correctness. Returns the number of
        seen rows removed.
        """
        io = TableIO(self.spark, run_dir)
        seen = io.read("seen")
        if seen is None or not urls:
            return 0
        url_df = F.broadcast(
            self.spark.createDataFrame([(u,) for u in urls], "url_canon string")
        )
        removed = seen.join(url_df, "url_canon", "left_semi").count()
        if removed:
            kept = seen.join(url_df, "url_canon", "left_anti")
            io.rewrite(kept, "seen")  # swapped by one snapshot commit
        if isinstance(self._bloom, ShardedCuckoo):
            zeroed = self._bloom.delete_urls(urls)
            if zeroed:
                # collision repair: a delete can zero a (fp, bucket)
                # shared with a SURVIVING url (cuckoo false negative —
                # would break exact dedup); re-insert such survivors
                # from the rewritten seen table (seen.py docstring).
                # Gated on entries ACTUALLY zeroed, not seen-table rows:
                # an invalidated url absent from seen can still
                # (shard, fp, bucket)-collide with a surviving url
                self._bloom.resync_after_delete(io.read("seen"))
        return removed

    # -- run ------------------------------------------------------------------

    def run(
        self,
        seeds=None,
        run_dir: str | None = None,
        resume: bool = False,
        staged_seeds: list | None = None,
    ) -> CrawlStats:
        """Run the crawl to frontier-empty (or max_waves).

        seeds: DataFrame/list seeded at wave 0. staged_seeds: optional
        list of further seed DataFrames ("pending spiders", reference
        src/spider/manager.rs:239-279) — one group is activated per
        wave, but only while the frontier holds no more than
        cfg.scheduler_holding_threshold pending requests (admission
        control F4, SCHEDULER_HOLDING_THRESOLD src/spider/manager.rs:34-36).

        The session settings the wave loop overrides (AQE, scan split
        size) are restored and the I/O pool is shut down on every exit,
        including a crawl that raises.
        """
        conf = self.spark.conf
        saved = {k: conf.get(k, None) for k in _RUN_CONFS}
        # runs the wave's overlapped sink writes and durable tail
        io_pool = ThreadPoolExecutor(max_workers=3)
        try:
            return self._crawl(
                self._start(io_pool, seeds, run_dir, resume, staged_seeds)
            )
        finally:
            io_pool.shutdown(wait=True, cancel_futures=True)
            for k, v in saved.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)

    def _crawl(self, st: RunState) -> CrawlStats:
        """The wave loop behind run(): one method call per phase."""
        while st.wave < self.cfg.max_waves:
            pending = self._admit(st)
            if pending is None:
                break  # idle shutdown
            st.t_wave = st.t_mark = time.monotonic()
            selected, scheduled = self._schedule(st, pending)
            parse_out, mrows, ps_bounds = self._fetch_parse(st, scheduled)
            n = {k: sum(r[k] for r in mrows) for k in _WAVE_TOTALS}
            self._items(st, parse_out)
            new_front, n_new = self._dedup_enqueue(
                st, parse_out, n["outlinks"], ps_bounds
            )
            front_next = self._tail(
                st, scheduled, parse_out, new_front, n["retried"], n_new
            )
            self._advance_frontier(
                st, selected, front_next, n["scheduled"], n["retried"], n_new
            )
            self._commit_wave(st, mrows, n, n_new)
        self._shutdown(st)
        return st.stats

    # -- wave phases ------------------------------------------------------

    def _start(
        self,
        io_pool: ThreadPoolExecutor,
        seeds,
        run_dir: str | None,
        resume: bool,
        staged_seeds: list | None,
    ) -> RunState:
        """Start/resume phase: restore the current snapshot, or seed and
        commit wave 0."""
        run_dir = run_dir or tempfile.mkdtemp(prefix="ironspark_")
        if not resume and os.path.isdir(run_dir):
            shutil.rmtree(run_dir)
        io = TableIO(self.spark, run_dir)
        # one filter per run(): an earlier run's filter misses this run's seeds
        if self._bloom is not None:
            self._bloom.unpersist_all()
        self._bloom = None
        # Selective AQE: adaptive execution turns EVERY action into a
        # chain of sequential stage-jobs with a driver re-optimization
        # between each. For the one heavy job per wave (fetch + Arrow
        # parse) that is what we want at scale — runtime skew-join
        # splitting and partition coalescing. For the wave's many tiny
        # bookkeeping actions (seq counts, sink writes, probes) the
        # re-optimization rounds ARE the cost: measured ~1.4s for a
        # count whose task time is ~50ms, flat across core counts —
        # i.e. pure driver-serial floor, the 2v8 scaling drag
        # (BENCH.md round-4). So AQE is OFF as the wave-loop steady
        # state and flipped on only around the heavy collect.
        st = RunState(
            io,
            io_pool,
            CrawlStats(run_dir=run_dir),
            staged_seeds or [],
            aqe=str(self.spark.conf.get("spark.sql.adaptive.enabled", "false"))
            .lower() == "true",
        )
        # Corpus-scan split sizing (_SCAN_TASKS_PER_CORE): on small
        # corpora Spark's default split math gives ~1 scan task per
        # core, so the fetch+parse stage runs at the speed of its
        # slowest split. Size splits for >=k tasks/core; the 128 MB
        # cap keeps this inert at real corpus scale. Restored by run().
        mpb = self._scan_split_bytes()
        if mpb is not None:
            self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(mpb))
        # TableIO's reads name every file: past this many paths Spark
        # would run a job that only re-stats them (measured 0.84 s for
        # 33 files on 4 cores, 0.19 s without). Restored by run().
        self.spark.conf.set(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
        )

        if resume:
            man = io.restore()
            st.wave = man["next_wave"]
            st.next_seq = man["next_seq"]
            st.segments = man["segments"]
            st.consumed = man["consumed"]
            st.consumed_rows = man["consumed_rows"]
            st.stats.deduped = man["deduped"]
        else:
            if isinstance(seeds, (list, tuple)):
                import pandas as pd

                seeds = self.spark.createDataFrame(
                    pd.DataFrame(seeds, columns=["spider_id", "url", "seed_rank"]),
                    SEEDS_SCHEMA,
                )
            # duplicate seeds consume seq numbers (spec seed loop,
            # tests/reference_executor.py): advance by the full numbered
            # count, never max(seq) over surviving rows — if the LAST
            # seed in order is a duplicate, max() would re-issue its seq
            # to the first outlink and diverge from reference ordering.
            front0, st.next_seq = self._seed_frontier(st, seeds)
            io.write(front0, "frontier", 0)
            front0 = io.read("frontier", 0)
            io.write(front0.select("url_canon"), "seen", 0)
            st.segments = ["frontier/wave=0"]
            self._commit(st)
        if st.aqe:  # wave-loop steady state (run() restores it)
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        return st

    def _seed_frontier(self, st: RunState, seeds: DataFrame) -> tuple[DataFrame, int]:
        """Seed rows -> (robots-filtered frontier rows, seq numbers used)."""
        front, n = seeds_to_frontier(
            seeds, dedup=self.cfg.dedup, base_seq=st.next_seq, caches=st.caches
        )
        return robots_disallow_filter(front, self._active_robots), n

    @property
    def _active_robots(self) -> DataFrame | None:
        """The robots table the crawl obeys (None with respect_robots off)."""
        return self.robots if self.cfg.respect_robots else None

    def _admit(self, st: RunState) -> DataFrame | None:
        """Admit phase: staged seeds, then at frontier-empty the freshness
        tick; returns the wave's pending frame, or None = idle shutdown
        (reference monitor.rs:62-68 also requires no pending spiders)."""
        cfg = self.cfg
        while True:
            if st.handoff is not None:
                # fast-path handoff: last wave's delta IS the whole
                # pending set and its cached frame is live — plan the
                # wave against it; the parquet read-back (and the wait
                # for the overlapped segment write) disappears from the
                # critical path
                pending, st.handoff = st.handoff, None
            else:
                st.await_frontier()  # segment listed before the read
                pending = st.pending_view()
            if st.pending_count is None:
                st.pending_count = pending.count()

            # spider admission (F4/L2): activate one pending seed group
            # per wave while the frontier holds <= threshold requests
            # (reference try_activate_pending_spider,
            # src/spider/manager.rs:239-279, threshold :34-36)
            if st.staged and st.pending_count <= cfg.scheduler_holding_threshold:
                st.await_frontier()  # injection appends to segments[-1]
                inj, n_grp = self._seed_frontier(st, st.staged.pop(0))
                if cfg.dedup:
                    st.await_tail()
                    regime = self._resolve_seen_join(st.next_seq)
                    inj = self._filter_new(inj, st.seen(), regime, st.caches)
                inj = inj.persist()
                n_inj = inj.count()
                if n_inj:
                    st.io.write_rel(inj, st.segments[-1], mode="append")
                    pending = st.pending_view()
                    if cfg.dedup:
                        self._append_seen(st.io, inj.select("url_canon"), st.wave)
                inj.unpersist()
                # every numbered seed consumes a seq — including ones
                # dropped as duplicates or already-seen (spec seed loop
                # advances the counter before its dedup check)
                st.next_seq += n_grp
                st.pending_count += n_inj

            if st.pending_count != 0:
                return pending
            if st.staged:
                continue  # same-wave re-tick: activate the next group
            if cfg.recrawl_interval_s is None or not self._admit_recrawls(st):
                return None

    def _admit_recrawls(self, st: RunState) -> bool:
        """Frontier-empty freshness tick — the crawl→age→recrawl
        composition of a CONTINUOUS crawl (the reference crawls once
        and stops). True when due urls re-entered the frontier (bounded
        overall by max_waves); False = nothing due, idle shutdown
        proceeds.

        Reads the fetch history (order sink: one row per scheduled
        fetch with host + fetch_ts), selects due URLs stalest-first
        under cfg.recrawl_per_host_budget (frontier.recrawl_due — the
        same per-host politeness shape as first-visit scheduling), and
        appends them to the live frontier segment with fresh seq
        numbers in global stalest-first order. The due rows go straight
        into the frontier and never meet the seen anti-join, so seen
        membership needs no invalidation: a due url is normally still
        seen, and only the ones that are not (removed earlier through
        invalidate_seen) are appended to seen and to the prune filter,
        so later-discovered duplicates still dedup.

        Scale shape: the due set is budget-bounded (hosts ×
        recrawl_per_host_budget); selection, owner re-join, seq
        assignment and the seen anti-join all stay distributed and
        nothing is collected. The history scan is one hash-agg per
        tick, and ticks only fire at frontier-empty, never per wave.
        """
        cfg = self.cfg
        st.await_tail()
        st.await_frontier()
        history = st.io.read("order")
        if history is None:
            return False
        hist = history.filter(F.col("fetch_ts").isNotNull())
        due = recrawl_due(
            hist.select(
                F.col("url_canon").alias("url"),
                "host",
                F.col("fetch_ts").alias("ts"),
            ),
            self._now(),
            cfg.recrawl_interval_s,
            cfg.recrawl_per_host_budget,
        )
        # re-home each due url to the spider that fetched it last
        # (deterministic tie-break on seq within the same wave stamp)
        owner = hist.groupBy(F.col("url_canon").alias("url")).agg(
            F.max_by(
                "spider_id", F.struct("fetch_ts", "seq")
            ).alias("spider_id")
        )
        f, n = with_global_seq(
            due.join(owner, "url", "left").select(
                F.col("url").alias("url_canon"),
                F.col("url"),
                "host",
                "spider_id",
                (-F.col("age_seconds")).alias("_neg_age"),
            ),
            ["_neg_age", "url"],
            st.next_seq,
            caches=st.caches,
        )
        if n == 0:
            return False
        inj = _finish_frontier(f.drop("_neg_age")).persist()
        st.io.write_rel(inj, st.segments[-1], mode="append")
        if cfg.dedup:
            # persisted: a filter add would otherwise re-run the O(seen) join
            unseen = inj.select("url_canon").join(
                st.seen(), "url_canon", "left_anti"
            ).persist()
            self._append_seen(st.io, unseen, st.wave)
            unseen.unpersist()
        inj.unpersist()
        st.next_seq += n
        st.pending_count = None
        return True

    def _schedule(
        self, st: RunState, pending: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """Schedule phase (F3/F7): politeness window-rank + global cap ->
        (selected: persisted, pre-hook; scheduled: after the request
        hooks and the cookie jar), plus the crawl-order write."""
        # select_wave skips its over-budget probe when the pending count
        # fits the smallest host budget. With robots obeyed that budget
        # costs a job, so it is probed once per run, and not before the
        # count fits the default budget, which is never smaller.
        if st.min_budget is None and st.pending_count <= min_host_budget(
            None, self.cfg
        ):
            st.min_budget = min_host_budget(self._active_robots, self.cfg)
        selected = select_wave(
            pending, self._active_robots, self.cfg, st.pending_count, st.min_budget
        )
        # Re-balance after politeness: the window rank leaves the
        # batch hash-partitioned by HOST, so a mega-domain (80% of
        # URLs) lands in ONE partition and the whole fetch+parse
        # stage inherits that skew (one straggler task does 80% of
        # the work — measured). A cheap shuffle of the body-free
        # scheduled rows by url_canon restores uniform parallelism
        # for everything downstream. Persisted PRE-hook: the same
        # cached rows feed the fetch (post-hook), the order table,
        # the retry rejoin, and the consumed-keys tombstones.
        nparts = max(self.spark.sparkContext.defaultParallelism, 1)
        selected = (
            selected.repartition(nparts, "url_canon")
            .withColumn("partition_id", F.spark_partition_id())
            .persist()
        )
        st.caches.append(selected)
        scheduled = selected
        for hook in self.request_hooks:
            scheduled = hook(scheduled)
        if self.cfg.store_cookies and self._cookie_jar:
            # jar applies after middleware, like the reference's
            # HTTP-client-level jar; an existing `cookie` header is
            # replaced, other headers pass through untouched
            jar = F.broadcast(
                self.spark.createDataFrame(
                    sorted(self._cookie_jar.items()),
                    "host string, _cookie string",
                )
            )
            no_cookie = F.map_filter(
                F.coalesce(
                    F.col("headers"),
                    F.create_map().cast("map<string,string>"),
                ),
                lambda k, _: k != "cookie",
            )
            scheduled = (
                scheduled.join(jar, "host", "left")
                .withColumn(
                    "headers",
                    F.when(
                        F.col("_cookie").isNotNull(),
                        F.map_concat(
                            no_cookie,
                            F.create_map(F.lit("cookie"), F.col("_cookie")),
                        ),
                    ).otherwise(F.col("headers")),
                )
                .drop("_cookie")
            )
        # order/items are INDEPENDENT sinks: written on the I/O pool so
        # they overlap the wave's compute (the driver-serial turnaround
        # between actions was measured as the 2v8 scaling drag once
        # parse got fast — docs/SCALE.md #17). The futures are drained
        # before the wave's commit (_commit_wave), and the caches they
        # read are released only after the wave's tail lands.
        # wave is the PARTITION DIRECTORY (order/wave=N), not a data
        # column. host + spider_id + fetch_ts make this sink the fetch
        # HISTORY the continuous-crawl freshness tick reads
        # (recrawl_due); the per-wave timestamp literal costs one plan
        # compile per wave (~ms), accepted for a clock-injectable,
        # deterministic history.
        st.write_async(
            scheduled.select("seq", "url_canon", "host", "spider_id").withColumn(
                "fetch_ts", F.lit(self._now()).cast("timestamp")
            ),
            "order",
        )
        st.mark("schedule+order")
        return selected, scheduled

    def _fetch_parse(
        self, st: RunState, scheduled: DataFrame
    ) -> tuple[DataFrame, list, tuple]:
        """Fetch + parse + metrics phase (S3/D1-D5, P1-P9) -> (parse_out,
        metric rows, (min, max) parent_seq of the outlinks).

        The corpus join output (html bytes included) is consumed by
        EXACTLY ONE Arrow pass — acceptance, retry lineage, parsing,
        and outlink canonicalization all happen inside it (see
        parse.py). Nothing holding binary columns is ever persisted:
        the InMemoryRelation -> Arrow path measured ~10x slower than
        the live join.
        """
        t0 = time.monotonic()
        if self.pages is None:
            # live pooled-HTTP fetch (fetch.http_fetch_stage): same
            # column contract, no pages table needed
            responses = http_fetch_stage(scheduled, self.cfg)
        else:
            responses = fetch_from_corpus(
                scheduled, self._pages_view, self.redirects,
                corpus_urls=self._prepared_page_urls(),
            )
        for hook in self.response_hooks:
            responses = hook(responses)
        parse_out = parse_responses(responses, self.spiders, self.cfg).persist()
        st.caches.append(parse_out)

        # metrics first: the ONE aggregation pass materializes
        # parse_out (the wave's heavy job) and yields every counter
        # the rest of the wave needs. ONE collect serves both the
        # per-partition metrics rows and the M2 status histogram
        # (monitor Status Codes pane, tui.rs:103-117): the agg runs at
        # (partition, status) grain and rolls up driver-side — one
        # fewer job in the wave's serial budget
        # (metrics.wave_metrics_fine docstring).
        # heavy-job AQE only when the wave is big enough for
        # runtime skew handling to repay the re-optimization
        # rounds (_AQE_MIN_PENDING; small waves measured ~1.4s
        # flat per AQE'd action, pure serial floor)
        big_wave = st.aqe and (st.pending_count or 0) >= _AQE_MIN_PENDING
        if big_wave:
            self.spark.conf.set("spark.sql.adaptive.enabled", "true")
        fine = wave_metrics_fine(
            parse_out, None if self.pipelines is None else self.pipelines.unrouted()
        ).collect()
        if big_wave:  # back to tiny bookkeeping actions
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        t_fp_ms = (time.monotonic() - t0) * 1000  # fetch+parse wall
        mrows, status_counts, ps_bounds = rollup_wave_metrics(fine, st.wave, t_fp_ms)
        st.status_buf.extend(
            {"wave": st.wave, "resp_status": s, "count": c}
            for s, c in sorted(status_counts.items())
        )
        st.mark("fetch+parse+metrics")
        return parse_out, mrows, ps_bounds

    def _items(self, st: RunState, parse_out: DataFrame) -> None:
        """Items phase (I1-I5, S4): items -> pipelines -> sink. The
        unrouted items (M7, manager.rs:96-98) were counted by the
        metrics pass (wave_metrics_fine)."""
        if self.cfg.store_cookies:
            self._harvest_cookies(parse_out)
        items = (
            parse_out.filter(F.col("kind") == "item")
            .select(
                "item_type", "spider_id", "src_url", "title", "author",
                "number", "text",
            )
        )
        if self.pipelines is not None:
            items = self.pipelines.process(items)[0]
        st.write_async(items, "items")
        st.mark("items")

    def _dedup_enqueue(
        self, st: RunState, parse_out: DataFrame, n_outlinks: int, ps_bounds: tuple
    ) -> tuple[DataFrame, int]:
        """Dedup + enqueue phase: outlinks (canonicalized in-pass) ->
        self-dedup -> seen anti-join (its regime goes to stats) -> seq
        extension. Returns (new frontier rows, their count)."""
        candidates = prepare_candidates(
            parse_out.filter(F.col("kind") == "request").select(
                "spider_id", "parent_seq", "link_index", "out_url",
                "url_canon", "host",
            ),
            dedup=self.cfg.dedup,
        )
        candidates = robots_disallow_filter(candidates, self._active_robots)
        regime = None
        if self.cfg.dedup:
            # first point this wave that needs the seen set: await
            # the overlapped seen write, whose files it then lists
            st.await_tail()
            st.mark("await-seen")
            # next_seq == unique urls enqueued so far == seen rows
            regime = self._resolve_seen_join(st.next_seq, n_outlinks)
            candidates = self._filter_new(candidates, st.seen(), regime, st.caches)
        # the regime transition log the scaling artifact discloses
        st.stats.wave_seen_join.append(regime)
        new_front, n_new = enqueue_outlinks(
            candidates, st.next_seq, bounds=ps_bounds, caches=st.caches
        )
        st.mark("enqueue(seq-jobs)")
        return new_front, n_new

    def _tail(
        self,
        st: RunState,
        scheduled: DataFrame,
        parse_out: DataFrame,
        new_front: DataFrame,
        n_retried: int,
        n_new: int,
    ) -> DataFrame:
        """Tail phase: submit the durable write of the wave's frontier
        delta (retry + new rows); returns the delta frame.

        The ENTIRE durable tail — frontier segment write, seen delta
        write, and the delta's bloom/cuckoo slice once a shuffle_hash
        probe has built the filter — is ONE chained task on the I/O
        pool (_write_tail): it overlaps the next wave's schedule +
        fetch + parse. frontier_done gates readers of the segment
        (pending_view/admission/compaction): it is set once the
        segment's files are on the live list. await_tail() gates
        seen-set consumers and releases this wave's caches.
        """
        # retry rows: rejoin the small retryable key set against the
        # cached scheduled frontier (never against the corpus).
        if n_retried > 0:
            retry_keys = parse_out.filter(
                (F.col("kind") == "resp") & F.col("retryable")
            ).select(F.col("parent_seq").alias("seq"))
            retry = (
                scheduled.join(F.broadcast(retry_keys), "seq")
                .select(*_FRONTIER_COLS)
                .withColumn("attempt", F.col("attempt") + 1)
            )
        else:
            retry = new_front.limit(0)
        # localCheckpoint (non-eager), NOT plain persist: persist
        # caches DATA but keeps the full logical plan, and the
        # handoff (_advance_frontier) would nest every previous wave's
        # plan into the next one (select_wave references pending
        # several times, so the tree grows ~4x per wave — measured as
        # a planning-time explosion by wave 3). The checkpoint
        # truncates lineage to a LogicalRDD scan, materialized for
        # free by the tail task's frontier write. On a cluster the
        # blocks are unreplicated — executor loss fails the wave —
        # but the parquet segment the tail wrote is the durable
        # copy, and a resume from the snapshot replays cleanly.
        front_next = retry.unionByName(new_front).localCheckpoint(eager=False)
        st.await_tail()  # no-op unless dedup=False skipped the await
        st.frontier_done = threading.Event()
        st.tail = st.pool.submit(
            self._write_tail, st.io, st.wave, front_next, st.frontier_done,
            bool(self.cfg.dedup and n_new),
        )
        # the tail reads this wave's caches: they are released once it
        # lands. front_next opens the next wave's list — that wave's
        # handoff plan may read it as `pending`.
        st.tail_release, st.caches = st.caches, [front_next]
        st.mark("tail(submit)")
        return front_next

    def _write_tail(
        self, io: TableIO, wave: int, front: DataFrame, done: threading.Event, seen: bool
    ) -> None:
        """The overlapped durable tail of one wave (an I/O pool task)."""
        try:
            io.write(front, "frontier", wave + 1)  # lists the segment
        finally:
            done.set()  # never leave a reader blocked
        if seen:
            # new rows are exactly the attempt==0 rows (retries have
            # attempt >= 1); literal-free filter
            new = front.filter(F.col("attempt") == 0).select("url_canon")
            self._append_seen(io, new, wave + 1)

    def _advance_frontier(
        self,
        st: RunState,
        selected: DataFrame,
        front_next: DataFrame,
        n_sched: int,
        n_retried: int,
        n_new: int,
    ) -> None:
        """Frontier advance phase: fast-path reset, or tombstones + compaction.

        DELTA-ONLY frontier write: only retry+new rows land in the
        wave's segment — the deferred backlog is never rewritten
        (merge-on-read; per-wave write volume is O(wave), see
        stats.wave_frontier_rows). Fast path: n_sched equal to
        pending_count means politeness scheduled everything and no
        hook dropped rows, so this delta IS the whole pending set and
        the segment/consumed state resets for free.
        """
        pending_next = st.pending_count - n_sched + n_retried + n_new
        if n_sched == st.pending_count:
            st.segments = [f"frontier/wave={st.wave + 1}"]
            st.consumed = []
            st.consumed_rows = 0
            # DataFrame handoff: the new segment IS the whole next
            # pending set, and front_next is its live cached frame —
            # the next wave plans against it directly instead of
            # waiting for the parquet read-back. Only on the plain
            # path (no staged seeds/hooks mutating pending outside
            # the frame). front_next is localCheckpoint-ed, so its
            # plan is one LogicalRDD scan however long the chain.
            if not st.staged and not self.request_hooks:
                st.handoff = front_next
        else:
            st.segments = st.segments + [f"frontier/wave={st.wave + 1}"]
            # tombstones: the PRE-hook scheduled keys leave pending
            # (a hook-dropped request is consumed, never retried).
            # Overlapped like the other independent sinks; the next
            # pending_view read happens after the wave-end drain.
            st.write_async(selected.select("seq", "attempt"), "consumed")
            st.consumed = st.consumed + [f"consumed/wave={st.wave}"]
            st.consumed_rows += n_sched
            if (
                len(st.segments) > _FRONTIER_MAX_SEGMENTS
                or st.consumed_rows > 2 * max(pending_next, 1)
            ):
                # amortized compaction (Iceberg rewrite-data-files
                # analog): materialize the true pending set as ONE
                # base segment, drop the tombstones. O(backlog), but
                # triggered only when tombstones dominate or the
                # segment list grows — O(1) amortized per row.
                # pending_view reads the consumed tombstones written
                # above and the segment dir the tail is writing.
                st.drain_writes()
                st.await_frontier()
                base_rel = f"frontier_base/wave={st.wave + 1}"
                st.io.write_rel(st.pending_view(), base_rel)
                st.segments = [base_rel]
                st.consumed = []
                st.consumed_rows = 0
        st.mark("dedup+seq+frontier")
        st.next_seq += n_new
        # a request hook may have dropped scheduled rows AFTER
        # select_wave counted them against pending; the arithmetic
        # would overcount pending forever (blocking idle shutdown +
        # staged-seed admission), so re-probe the materialized frontier
        # next wave instead
        st.pending_count = None if self.request_hooks else pending_next

    def _commit_wave(self, st: RunState, mrows: list, n: dict, n_new: int) -> None:
        """Commit phase: fold the wave's metric rows (totals ``n``) into
        stats, close idle spiders, drain the sink writes, advance the
        wave, and commit every checkpoint_every waves."""
        cfg, stats = self.cfg, st.stats
        n_dedup = max(n["outlinks"] - n_new, 0)
        mrows[-1]["deduped"] = n_dedup  # the wave's partition_id -1 row
        st.metrics_buf.extend(mrows)
        stats.scheduled += n["scheduled"]
        stats.fetched += n["fetched"]
        stats.failed += n["failed"]
        stats.items += n["items"]
        stats.outlinks += n["outlinks"]
        stats.deduped += n_dedup
        stats.unrouted += n["unrouted"]
        stats.dropped += n["dropped"]
        stats.exhausted += n["failed"] - n["retried"]
        if cfg.track_spiders:
            # L3 deactivation sweep (reference
            # src/spider/manager.rs:188-199, 340-369). pending_view
            # reads this wave's consumed tombstones AND the new
            # frontier segment: drain the overlapped writes and the
            # tail's frontier stage first
            st.drain_writes()
            st.await_frontier()
            pending = {
                int(r["spider_id"]): r["cnt"]
                for r in st.pending_view().groupBy("spider_id").agg(
                    F.count("*").alias("cnt")
                ).collect()
            }
            for sid, sp in self.spiders.items():
                if sid not in st.closed_spiders and pending.get(sid, 0) == 0:
                    sp.close()
                    st.closed_spiders.add(sid)
            stats.closed_spiders = len(st.closed_spiders)

        stats.wave_walls.append(time.monotonic() - st.t_wave)
        stats.wave_scheduled.append(n["scheduled"])
        stats.wave_new.append(n_new)
        stats.wave_outlinks.append(n["outlinks"])
        # lineage evidence that frontier writes are O(wave), not
        # O(backlog): rows written to the wave's delta segment
        stats.wave_frontier_rows.append(n["retried"] + n_new)

        # drain overlapped sink writes BEFORE any commit (a snapshot
        # lists the files the writes registered). This wave's caches
        # are NOT released here — the tail task still reads them;
        # await_tail() releases them when it lands.
        st.drain_writes()
        st.wave += 1
        stats.waves = st.wave
        if st.wave % cfg.checkpoint_every == 0:
            self._commit(st)

    def _commit(self, st: RunState, **extra) -> None:
        """Commit point: a snapshot advancing next_wave lists the wave's
        seen slice (await the tail); the buffered metrics land with it."""
        st.await_tail()
        self._flush_metrics(st)
        st.io.commit(st.manifest(**extra))

    def _shutdown(self, st: RunState) -> None:
        """Release the last caches, close spiders and pipelines, commit."""
        st.await_tail()  # terminal wave's overlapped tail, if any
        for df in st.caches:
            df.unpersist()  # last handoff frame, terminal-wave injections
        for sid, sp in self.spiders.items():
            if not self.cfg.track_spiders or sid not in st.closed_spiders:
                sp.close()  # forced close at shutdown (manager.rs:208-237)
        if self.pipelines is not None:
            # I5 drain + close: pipelines close after spiders, once the
            # final wave's items are written (manager.rs:105-150)
            self.pipelines.close_all()
        self._commit(st, done=True)
        st.stats.wall_s = time.monotonic() - st.t_start

    def _harvest_cookies(self, parse_out: DataFrame) -> list:
        """Fold Set-Cookie lineage into the per-host jar (S6 harvest,
        reference engine.rs cookie store). The reduction happens
        EXECUTOR-side — the driver receives O(distinct hosts), not
        O(cookie-bearing responses): per host, the lexicographically
        largest set_cookie value wins (deterministic; NOT crawl order —
        the same tie-break the previous sorted()-loop applied).
        Returns the collected rows (one per distinct cookie host)."""
        jar_rows = (
            parse_out.filter(
                (F.col("kind") == "resp") & F.col("set_cookie").isNotNull()
            )
            .groupBy("host")
            .agg(F.max("set_cookie").alias("set_cookie"))
            .collect()
        )
        for r in jar_rows:
            self._cookie_jar[r["host"]] = r["set_cookie"]
        return jar_rows

    def _flush_metrics(self, st: RunState) -> None:
        """Append the metric and status rows buffered since the last
        commit, one file per table (none without new rows), into the
        table dir itself: a ``wave=N`` slice would let partition
        inference override the ``wave`` column of rows from the other
        waves a flush holds when checkpoint_every > 1. Through TableIO,
        so the commit lists them and monitor.render_run reads them."""
        import pandas as pd

        for name, schema, buf in (
            ("metrics", METRICS_SCHEMA, st.metrics_buf),
            ("status", STATUS_SCHEMA, st.status_buf),
        ):
            if buf:
                pdf = pd.DataFrame(buf)[[f.name for f in schema.fields]]
                df = self.spark.createDataFrame(pdf, schema)
                st.io.write(df.coalesce(1), name, mode="append")
                buf.clear()

    # -- result accessors ------------------------------------------------------

    # each reads the current snapshot's rows (None: table not listed)

    def items_df(self, run_dir: str) -> DataFrame | None:
        return TableIO(self.spark, run_dir).read("items")

    def crawl_order_df(self, run_dir: str) -> DataFrame | None:
        return TableIO(self.spark, run_dir).read("order")

    def metrics_df(self, run_dir: str) -> DataFrame | None:
        return TableIO(self.spark, run_dir).read("metrics")

    def seen_df(self, run_dir: str) -> DataFrame | None:
        return TableIO(self.spark, run_dir).read("seen")
