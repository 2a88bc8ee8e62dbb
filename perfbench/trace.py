"""Traced run: spans at the engine's layer boundaries, the engine's own
``[trace]`` phase lines, and Spark's per-stage executor metrics.

Everything is measured from outside the program:

* spans wrap the module-global functions and methods the engine calls
  (patched from this file, never edited in ``ironspark``); each span
  also names the Spark jobs it submits, through the job description;
* ``IRONSPARK_TRACE=1`` makes the engine print ``[trace] wave=N
  <phase>: <s>`` after each wave phase — the lines are parsed as they
  arrive, which gives each phase a wall-clock window;
* Spark's status REST API (UI on, served on localhost) gives every
  job's and stage's submission time, executor time and bytes.

``select_wave``, ``fetch_from_corpus``, ``parse_responses`` and
``prepare_candidates`` only build plans; their cost is paid by the job
that later executes the plan. That cost is attributed through the
stages of the jobs submitted inside the phase window that runs it (for
``select_wave``, the jobs of the span writing the wave's order table),
not through the plan-building span's own (millisecond) length. Executor-side
parse time comes from ``CountingLinkSpider`` accumulators, because
workers import ``ironspark`` afresh and never see driver-side patches.
"""

from __future__ import annotations

import io
import json
import os
import re
import statistics
import sys
import threading
import time
import urllib.request
from datetime import datetime, timezone

import pandas as pd
import pyarrow.parquet as pq

from ironspark import engine as _engine
from ironspark import fetch as _fetch
from ironspark import frontier as _frontier
from ironspark import parse as _parse
from ironspark import politeness as _politeness
from ironspark.engine import CrawlEngine, TableIO
from ironspark.extract import decode_strict, harvest_links
from ironspark.pipeline import PipelineManager
from ironspark.scan import scan_page
from ironspark.seen import ShardedBloom, ShardedCuckoo
from ironspark.url import canonicalize_series

from perfbench import workloads as wl
from perfbench.spider import CountingLinkSpider

TRACE_SPARK_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000",
    "spark.sql.ui.retainedExecutions": "100",
}

# (module objects holding the name, span name); the engine imports these
# functions into its own namespace, so both bindings are patched
_FUNCTIONS = [
    ((_politeness, _engine), "select_wave", "politeness.select_wave"),
    ((_fetch, _engine), "fetch_from_corpus", "fetch.fetch_from_corpus"),
    ((_parse, _engine), "parse_responses", "parse.parse_responses"),
    ((_frontier, _engine), "prepare_candidates", "frontier.prepare_candidates"),
    ((_frontier, _engine), "enqueue_outlinks", "frontier.enqueue_outlinks"),
    ((_frontier, _engine), "with_global_seq", "frontier.with_global_seq"),
    ((_frontier, _engine), "seeds_to_frontier", "frontier.seeds_to_frontier"),
    ((_frontier, _engine), "recrawl_due", "frontier.recrawl_due"),
]
_METHODS = [
    (CrawlEngine, "run", "engine.run"),
    (CrawlEngine, "invalidate_seen", "seen.invalidate_seen"),
    (TableIO, "write", "engine.tableio.write"),
    (TableIO, "write_rel", "engine.tableio.write_rel"),
    (TableIO, "commit", "engine.tableio.commit"),
    (TableIO, "rewrite", "engine.tableio.rewrite"),
    (ShardedBloom, "add_delta", "seen.prune_build"),
    (ShardedCuckoo, "add_df", "seen.prune_build"),
    (PipelineManager, "process", "pipeline.process"),
]
_TRACE_LINE = re.compile(r"\[trace\] wave=(\d+) (\S+): ([\d.]+)s")


def _parquet_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return (
        datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class _LineSink(io.TextIOBase):
    """stdout replacement: engine ``[trace]`` lines are parsed and
    stamped on arrival (and echoed to stderr); other text passes on."""

    def __init__(self, out, on_phase):
        self.out, self.on_phase, self.buf = out, on_phase, ""

    def write(self, s: str) -> int:
        self.buf += s
        while "\n" in self.buf:
            line, self.buf = self.buf.split("\n", 1)
            if line.startswith("[trace]"):
                m = _TRACE_LINE.match(line)
                if m:
                    self.on_phase(int(m[1]), m[2], float(m[3]), time.time())
                sys.stderr.write(line + "\n")
            else:
                self.out.write(line + "\n")
        return len(s)

    def flush(self) -> None:
        self.out.flush()


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.untraced = None  # Cycle run with span recording off
        self.spans: list[dict] = []
        self.phases: list[dict] = []  # wave phase windows, epoch seconds
        self.wave = -1  # select_wave calls so far: the span's wave id
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []
        self._stdout = sys.stdout
        sys.stdout = _LineSink(self._stdout, self._on_phase)
        for owners, attr, name in _FUNCTIONS:
            for mod in owners:
                self._patch(mod, attr, name)
        for cls, attr, name in _METHODS:
            self._patch(cls, attr, name)
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.api = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

    # -- spans ------------------------------------------------------------

    def _on_phase(self, wave: int, phase: str, dur: float, t_end: float) -> None:
        if self.enabled:
            self.phases.append(
                {"wave": wave, "phase": phase, "start": t_end - dur, "end": t_end}
            )

    def _patch(self, owner, attr: str, name: str) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            return tracer._span(name, orig, args, kwargs)

        wrapped.__wrapped__ = orig
        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig))

    def _span(self, name, fn, args, kwargs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if name.startswith("engine.tableio.write"):
            # table name (+ wave) as the span suffix, e.g. write:items
            name = f"{name}:{args[2] if len(args) > 2 else ''}".split("/")[0]
        if name == "politeness.select_wave":
            self.wave += 1
        span = {
            "name": name,
            "wave": self.wave,
            "parent": stack[-1]["name"] if stack else None,
            "thread": threading.get_ident(),
            "start": time.time(),
        }
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(name)
        target = self._io_target(name, args)
        before = _parquet_stats(target) if target else None
        stack.append(span)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            span["end"] = time.time()
            self.sc.setJobDescription(prev_desc)
            if target:
                after = _parquet_stats(target)
                span["files"] = after[0] - before[0]
                span["bytes"] = after[1] - before[1]
                if name == "engine.tableio.rewrite":
                    span["bytes"] = after[1]
            with self._lock:
                self.spans.append(span)

    @staticmethod
    def _io_target(name: str, args) -> str | None:
        if not name.startswith(("engine.tableio.write", "engine.tableio.rewrite")):
            return None
        io_, df_name = args[0], args[2]
        if name == "engine.tableio.rewrite":
            return os.path.join(io_.root, df_name)
        if name.startswith("engine.tableio.write_rel"):
            return os.path.join(io_.root, df_name)
        wave = args[3] if len(args) > 3 else None
        return io_.path(df_name, wave)

    def close(self) -> None:
        self.enabled = False
        sys.stdout = self._stdout
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)

    # -- one traced cycle -------------------------------------------------

    def run_cycle(self, w, pages, seeds, ref, run_dir):
        spider = CountingLinkSpider(self.sc)
        marks = {"crawl_start": time.time()}

        def after_crawl(c):
            marks["crawl_end"] = time.time()
            marks["parse"] = spider.totals()
            marks["parquet_files"] = _parquet_stats(run_dir)[0]
            base = os.path.join(run_dir, "frontier_base")
            marks["compactions"] = len(os.listdir(base)) if os.path.isdir(base) else 0
            items = CrawlEngine(self.spark, None, {}).items_df(run_dir)
            marks["items_out"] = items.count() if items is not None else 0

        n_spans, n_phases = len(self.spans), len(self.phases)
        c = wl.run_cycle(
            self.spark, w, pages, seeds, ref, run_dir,
            spider_factory=lambda: spider, after_crawl=after_crawl,
        )
        c.trace = {
            "workload": w,
            "ref": ref,
            "marks": marks,
            "spans": self.spans[n_spans:],
            "phases": self.phases[n_phases:],
        }
        return c

    # -- Spark status REST API --------------------------------------------

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.api}/{path}", timeout=60) as r:
            return json.load(r)

    def jobs_and_stages(self) -> tuple[list, dict]:
        """All retained jobs and stages, once the UI listener has caught
        up with the last job (it consumes events asynchronously)."""
        n_done, prev = 0, -1
        for _ in range(60):
            jobs = self._get("jobs")
            n_done = sum(j["status"] != "RUNNING" for j in jobs)
            if n_done == prev and n_done == len(jobs):
                break
            prev = n_done
            time.sleep(0.5)
        stages = {}
        for st in self._get("stages"):
            if st["status"] == "COMPLETE":
                stages[st["stageId"]] = st
        return jobs, stages

    # -- per-layer metrics ------------------------------------------------

    def layer_metrics(self, cycles, pages_dir: str, dump_path: str) -> dict:
        """Median over the traced cycles of every per-layer metric, as
        {name: (value, unit)}; spans, phases and metrics go to dump_path."""
        jobs, stages = self.jobs_and_stages()
        per = [self._cycle_metrics(c, jobs, stages) for c in cycles]
        out = {}
        for name in per[0]:
            vals = [p[name][0] for p in per]
            out[name] = (statistics.median(vals), per[0][name][1])
        if self.untraced is not None:
            base = self.untraced.crawl_s
            traced = statistics.median(c.crawl_s for c in cycles)
            out["trace.crawl_s_untraced"] = (base, "s")
            out["trace.crawl_s_traced"] = (traced, "s")
            out["trace.overhead_pct"] = (100.0 * (traced / base - 1.0), "%")
        out.update(self._isolated(pages_dir))
        job_rows = [
            {
                "job": j["jobId"],
                "span": j.get("description"),
                "submitted": _rest_time(j.get("submissionTime")),
                "executor_s": sum(
                    stages[i]["executorRunTime"] for i in j["stageIds"] if i in stages
                ) / 1000.0,
            }
            for j in jobs
        ]
        with open(dump_path, "w") as fh:
            json.dump(
                {
                    "spans": [s for c in cycles for s in c.trace["spans"]],
                    "phases": [p for c in cycles for p in c.trace["phases"]],
                    "jobs": job_rows,
                    "metrics": {k: v[0] for k, v in out.items()},
                },
                fh,
            )
        return out

    def _cycle_metrics(self, c, jobs, stages) -> dict:
        tr = c.trace
        m = tr["marks"]
        t0, t1 = m["crawl_start"], m["crawl_end"]
        w = tr["workload"]
        crawl = c.crawl_stats
        waves = len(c.wave_walls)
        phases = [p for p in tr["phases"] if t0 <= p["start"] and p["end"] <= t1]
        spans = tr["spans"]
        crawl_spans = [s for s in spans if t0 <= s["start"] <= t1]

        def phase_s(name):
            return sum(p["end"] - p["start"] for p in phases if p["phase"] == name)

        def span_s(group, prefix):
            return sum(s["end"] - s["start"] for s in group if s["name"].startswith(prefix))

        # jobs submitted during the timed crawl, and the phase each falls in
        crawl_jobs = []
        for j in jobs:
            ts = _rest_time(j.get("submissionTime"))
            if ts is not None and t0 <= ts <= t1:
                ph = next(
                    (p["phase"] for p in phases if p["start"] <= ts <= p["end"]), None
                )
                crawl_jobs.append((j, ph))

        def stage_sum(phase, key, span=None):
            """Sum of ``key`` over the stages of the crawl's jobs submitted
            in ``phase``'s window, or (``span``) inside that span."""
            tot = 0
            for j, ph in crawl_jobs:
                if (j.get("description") == span) if span else ph == phase:
                    tot += sum(stages[i][key] for i in j["stageIds"] if i in stages)
            return tot

        # serial time: wave wall not covered by any running stage
        busy = sorted(
            (_rest_time(st.get("submissionTime")), _rest_time(st.get("completionTime")))
            for st in stages.values()
            if st.get("submissionTime") and st.get("completionTime")
        )
        serial = 0.0
        wave_windows = {}
        for p in phases:
            a, b = wave_windows.get(p["wave"], (p["start"], p["end"]))
            wave_windows[p["wave"]] = (min(a, p["start"]), max(b, p["end"]))
        for a, b in wave_windows.values():
            covered, cur = 0.0, a
            for s0, s1 in busy:
                if s1 <= cur or s0 >= b:
                    continue
                lo = max(s0, cur)
                hi = min(s1, b)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            serial += (b - a) - covered

        sched = [x for s in crawl for x in s.wave_scheduled]
        rows = [x for s in crawl for x in s.wave_frontier_rows]
        pending, nxt = [], 0
        for sc_, fr in zip(reversed(sched), reversed(rows)):
            nxt = nxt + sc_ - fr
            pending.append(nxt)
        outl = [x for s in crawl for x in s.wave_outlinks]
        new = [x for s in crawl for x in s.wave_new]
        regimes = [x for s in crawl for x in s.wave_seen_join]
        hosts_per_wave: dict = {}
        for _seq, wave, url in tr["ref"].order:
            key = (wave, url.split("/")[2])
            hosts_per_wave[key] = hosts_per_wave.get(key, 0) + 1
        hot = sum(n >= w.host_budget for n in hosts_per_wave.values())

        par = m["parse"]
        parse_busy = par["busy_s"]
        fetched = sum(s.fetched for s in crawl)
        scheduled = sum(s.scheduled for s in crawl)
        failed = sum(s.failed for s in crawl)
        exhausted = sum(s.exhausted for s in crawl)
        fp_exec = stage_sum("fetch+parse+metrics", "executorRunTime") / 1000.0
        return {
            "engine.waves": (waves, "count"),
            "engine.jobs_per_wave": (len(crawl_jobs) / waves, "count"),
            "engine.serial_s_per_wave": (serial / waves, "s"),
            "engine.tail_wait_s": (phase_s("await-seen"), "s"),
            "engine.tableio.write_s": (span_s(crawl_spans, "engine.tableio.write"), "s"),
            "engine.tableio.bytes_written": (
                sum(s.get("bytes", 0) for s in crawl_spans
                    if s["name"].startswith("engine.tableio.write")), "B"),
            "engine.tableio.files_written": (m["parquet_files"], "count"),
            "engine.commit_s": (span_s(crawl_spans, "engine.tableio.commit"), "s"),
            "politeness.select_s": (phase_s("schedule+order"), "s"),
            # select_wave only plans; its window rank and repartition run
            # in the job that writes the wave's order table
            "politeness.select_stage_s": (
                stage_sum(None, "executorRunTime", span="engine.tableio.write:order")
                / 1000.0, "s"),
            "politeness.hot_hosts": (hot / waves, "count"),
            "politeness.scheduled_ratio": (sum(sched) / max(sum(pending), 1), "ratio"),
            "frontier.enqueue_s": (phase_s("enqueue(seq-jobs)"), "s"),
            "frontier.seq_jobs": (
                sum(s["name"] == "frontier.with_global_seq" for s in crawl_spans), "count"),
            "frontier.rows_written": (sum(rows), "count"),
            "frontier.compactions": (m["compactions"], "count"),
            "fetch.stage_s": (max(fp_exec - parse_busy, 0.0), "s"),
            "fetch.scan_bytes": (stage_sum("fetch+parse+metrics", "inputBytes"), "B"),
            "fetch.hit_ratio": (fetched / max(scheduled, 1), "ratio"),
            "fetch.retries": (failed - exhausted, "count"),
            "parse.busy_s": (parse_busy, "s"),
            "parse.pages": (par["pages"], "count"),
            "parse.mb": (par["body_bytes"] / 1e6, "MB"),
            "parse.us_per_kb": (
                1e6 * parse_busy / max(par["body_bytes"] / 1024.0, 1e-9), "us/KB"),
            "parse.outlinks_per_page": (par["outlinks"] / max(par["pages"], 1), "count"),
            "seen.dedup_ratio": (
                (sum(outl) - sum(new)) / max(sum(outl), 1), "ratio"),
            "seen.join_regime.broadcast_waves": (regimes.count("broadcast"), "count"),
            "seen.join_regime.flip_waves": (regimes.count("flip"), "count"),
            "seen.join_regime.shuffle_hash_waves": (regimes.count("shuffle_hash"), "count"),
            "seen.probe_stage_s": (
                stage_sum("enqueue(seq-jobs)", "executorRunTime") / 1000.0, "s"),
            "seen.prune_build_s": (span_s(spans, "seen.prune_build"), "s"),
            "seen.invalidate_s": (span_s(spans, "seen.invalidate_seen"), "s"),
            "seen.rewrite_bytes": (
                sum(s.get("bytes", 0) for s in spans
                    if s["name"] == "engine.tableio.rewrite"), "B"),
            "recrawl_urls_per_s": (c.refetched / c.recrawl_s, "1/s"),
            "pipeline.items_in": (sum(s.items for s in crawl), "count"),
            "pipeline.items_out": (m["items_out"], "count"),
            "pipeline.unrouted": (sum(s.unrouted for s in crawl), "count"),
            "pipeline.write_s": (span_s(crawl_spans, "engine.tableio.write:items"), "s"),
        }

    @staticmethod
    def _isolated(pages_dir: str) -> dict:
        """scan_page and canonicalize_series timed alone, driver-side, on
        a sample of the workload's pages and their outlinks."""
        t = pq.read_table(pages_dir, columns=["url", "html"]).slice(0, 200)
        pages = [
            (u, decode_strict(h)) for u, h in
            zip(t.column("url").to_pylist(), t.column("html").to_pylist())
        ]
        pages = [(u, h) for u, h in pages if h is not None]
        links = pd.Series([x for u, h in pages for x in harvest_links(h, u)])
        scan, canon = [], []
        for _ in range(5):
            t0 = time.perf_counter()
            for _, h in pages:
                scan_page(h)
            t1 = time.perf_counter()
            canonicalize_series(links)
            t2 = time.perf_counter()
            scan.append(1e6 * (t1 - t0) / len(pages))
            canon.append(1e6 * (t2 - t1) / max(len(links), 1))
        return {
            "scan.us_per_page": (statistics.median(scan), "us"),
            "url.canon_us_per_url": (statistics.median(canon), "us"),
        }
