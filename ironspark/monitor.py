"""Live monitor: the reference TUI's dashboard as text panes (M-series).

The reference renders four stat widgets on a ratatui loop
(``src/monitor/tui.rs:61-153``): SpiderManager, Scheduler, Downloader,
PipelineManager, each just the stats struct's ``Display`` text
(``src/spider/stat.rs:15-41``, ``src/scheduler/stat.rs:7-11``,
``src/downloader/stat.rs:68-110``, ``src/pipeline/stat.rs:27-45``).
Here the same panes render from the engine's metrics table + CrawlStats
— callable mid-run (metrics flush at checkpoints) or after. No raw-mode
terminal dependency; the monitor is a pure formatter, so it also drops
straight into notebooks and logs. Idle-shutdown detection itself lives
in the engine loop (monitor.rs:62-72 -> engine.py frontier-empty
probe).
"""

from __future__ import annotations

from ironspark.utils import human_bytes, human_duration, human_number


def _pane(title: str, body: str, width: int = 44) -> list[str]:
    lines = [f"+-- {title} ".ljust(width - 1, "-") + "+"]
    for ln in body.splitlines():
        lines.append("| " + ln[: width - 4].ljust(width - 4) + " |")
    lines.append("+" + "-" * (width - 2) + "+")
    return lines


def spider_pane(total: int, pending: int, active: int, closed: int,
                dropped: int, partitions: int) -> str:
    """SpiderManagerStats::Display (src/spider/stat.rs:15-41); the
    reference's 'Parse threads' becomes partition parallelism."""
    t = max(total, 1)
    return (
        f"Total Spiders       : {total:>5}\n"
        f"Pending             : {pending:>5} ({pending / t * 100:>5.2f}%)\n"
        f"Active              : {active:>5} ({active / t * 100:>5.2f}%)\n"
        f"Closed              : {closed:>5} ({closed / t * 100:>5.2f}%)\n"
        f"Dropped Responses   : {dropped:>5}\n"
        f"Parse partitions    : {partitions:>5}"
    )


def scheduler_pane(pending_count: int) -> str:
    """SchedulerStats::Display (src/scheduler/stat.rs:7-11)."""
    return f"Queue Items: {human_number(pending_count)}"


def downloader_pane(
    scheduled: int, fetched: int, failed: int, peak_wave: int,
    bytes_req: int, bytes_resp: int, status_counts: dict[int, int],
    error_counts: dict[str, int], avg_ms: float,
) -> str:
    """DownloaderStats::Display (src/downloader/stat.rs:68-110); the
    batch engine has no in-flight gauge, so Active/Waiting show the
    current wave's batch and Peak the largest wave."""
    out = [
        f"Active: 0, Waiting: 0, Peak: {peak_wave}",
        f"Total Requests: {human_number(scheduled)}, "
        f"Responses: {human_number(fetched)}, "
        f"Exceptions: {human_number(failed)}",
        f"Data: {human_bytes(bytes_req)} sent, "
        f"{human_bytes(bytes_resp)} received",
        f"Response Time: avg={avg_ms:.1f}ms (per-wave fetch+parse)",
    ]
    if status_counts:
        out.append("Status Codes:")
        out += [
            f"  {code}: {human_number(cnt)}"
            for code, cnt in sorted(status_counts.items())
        ]
    if error_counts:
        out.append("Exceptions:")
        out += [
            f"  {exc}: {human_number(cnt)}"
            for exc, cnt in sorted(error_counts.items())
        ]
    return "\n".join(out)


def pipeline_pane(processing: int, processed: int, dropped: int,
                  unrouted: int) -> str:
    """PipelineManagerStats::Display (src/pipeline/stat.rs:27-45)."""
    return (
        f"Processing: {human_number(processing)}\n"
        f"Processed : {human_number(processed)}\n"
        f"Dropped   : {human_number(dropped)}\n"
        f"Un-routed : {human_number(unrouted)}"
    )


def render_dashboard(stats, pending_count: int = 0,
                     status_counts: dict | None = None,
                     error_counts: dict | None = None,
                     n_spiders: int | None = None) -> str:
    """The four-pane dashboard from a CrawlStats (+ optional histograms
    from the metrics/status tables)."""
    closed = stats.closed_spiders
    total = n_spiders if n_spiders is not None else max(closed, 1)
    avg_wave_ms = (
        sum(stats.wave_walls) / len(stats.wave_walls) * 1000
        if stats.wave_walls else 0.0
    )
    panes = [
        spider_pane(total, 0, total - closed, closed, stats.dropped,
                    len(stats.wave_scheduled)),
        scheduler_pane(pending_count),
        downloader_pane(
            stats.scheduled, stats.fetched, stats.failed,
            max(stats.wave_scheduled, default=0),
            0, 0, status_counts or {}, error_counts or {}, avg_wave_ms,
        ),
        pipeline_pane(0, stats.items, 0, stats.unrouted),
    ]
    header = (
        f"Spider Dashboard - {human_duration(stats.wall_s)} - "
        f"{human_number(stats.urls_per_sec)} urls/s"
    ).center(44)
    out = [header]
    titles = ["Spider Manager Stats", "Scheduler Stats",
              "Downloader Stats", "Pipeline Manager Stats"]
    for title, p in zip(titles, panes):  # zip: content-equal panes keep
        out += _pane(title, p)           # their own titles
    return "\n".join(out)


def render_run(spark, run_dir: str) -> str:
    """Dashboard for a (possibly still running) crawl directory: reads
    the current snapshot's summary and its metrics, status and pending
    frontier rows — the live-monitor entry point."""
    from ironspark.engine import CrawlStats, TableIO, read_pending

    io = TableIO(spark, run_dir)
    man = io.manifest() or {}
    stats = CrawlStats(run_dir=run_dir)
    status_counts: dict[int, int] = {}
    s = io.read("status")
    if s is not None:
        # per-wave HTTP status histogram flushed by the engine (M2)
        s = s.toPandas()
        status_counts = {
            int(k): int(v)
            for k, v in s.groupby("resp_status")["count"].sum().items()
        }
    m = io.read("metrics")
    if m is not None:
        m = m.toPandas()
        agg = m[m["partition_id"] >= 0]
        stats.scheduled = int(agg["scheduled"].sum())
        stats.fetched = int(agg["fetched"].sum())
        stats.failed = int(agg["failed"].sum())
        stats.items = int(agg["items"].sum())
        stats.outlinks = int(agg["outlinks"].sum())
        stats.dropped = int(agg["dropped"].sum())
        stats.unrouted = int(m["unrouted"].fillna(0).sum())
        stats.deduped = int(m["deduped"].fillna(0).sum())
        stats.waves = int(m["wave"].max()) + 1 if len(m) else 0
        stats.wave_scheduled = [
            int(x) for x in agg.groupby("wave")["scheduled"].sum()
        ]
        stats.wave_walls = [
            w / 1000.0
            for w in agg.groupby("wave")["t_fetch_ms"].first().tolist()
        ]
        stats.wall_s = sum(stats.wave_walls) or 1.0
    segs = man.get("segments")
    pending = read_pending(io, segs, man.get("consumed") or []).count() if segs else 0
    return render_dashboard(stats, pending_count=pending,
                            status_counts=status_counts)


def watch(spark, run_dir: str, interval_s: float = 2.0,
          iterations: int | None = None, out=None) -> int:
    """`watch`-style live refresh: re-render the dashboard from the
    flushed metrics/status tables every ``interval_s`` until the run's
    manifest says done (or ``iterations`` renders, for tests/CI). The
    reference's ratatui draw loop (src/monitor/tui.rs:61-78) reduced to
    a pure poll-and-print of what the current snapshot lists; a render
    that fails prints a message instead. Returns renders done."""
    import sys
    import time as _time

    from ironspark.engine import TableIO

    out = out or sys.stdout
    n = 0
    while iterations is None or n < iterations:
        try:
            txt = render_run(spark, run_dir)
        except Exception as e:  # noqa: BLE001 — e.g. a file a resume swept
            txt = f"(run dir not readable yet: {e})"
        print(f"\033[2J\033[H{txt}" if out is sys.stdout else txt, file=out)
        n += 1
        man = TableIO(spark, run_dir).manifest() or {}
        if man.get("done"):
            break
        if iterations is None or n < iterations:
            _time.sleep(interval_s)
    return n
