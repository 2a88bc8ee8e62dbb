#!/usr/bin/env python3
"""Crawl benchmark: seeded workloads through the public CrawlEngine API.

    python3 perfbench/run.py --workload broad_bfs --seed 1 --seconds 10 --trace 0

Run from the repository root. One process drives Spark local[<cores>]
(shuffle partitions = cores, process pinned to those cores). Per run:
set up (session, corpus open, warm-up crawl), then run timed cycles of
the workload (crawl, restore) until ``--seconds`` have passed, checking
every cycle's output against ``tests/reference_executor.py``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload, plus a freshness tick per cycle, with span recording and
Spark stage metrics and reports the per-layer metrics.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time


def _process_age_s() -> float:
    """Seconds since this process was exec'd (interpreter start included)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)


T_PROC0 = time.monotonic() - _process_age_s()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

END_TO_END_UNITS = {
    "setup_s": "s",
    "crawl_s": "s",
    "urls_per_s": "1/s",
    "wave_p50_s": "s",
    "wave_p90_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "state_bytes_per_page": "B",
    "resume_s": "s",
}


def _prepare_env(cores: int) -> None:
    """Everything the JVM and Python workers inherit: the repo on the
    workers' import path (a run from another cwd otherwise fails with
    ModuleNotFoundError in workers) and temp space inside the
    checkout."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # keeps spark-submit's launcher JVM from writing a perf-data file to
    # the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("IRONSPARK_DRIVER_MEM", "1g")
    os.sched_setaffinity(0, set(sorted(os.sched_getaffinity(0))[:cores]))


def spark_session(cores: int, extra: dict | None = None):
    from ironspark.session import get_spark

    tmp = os.path.join(CACHE, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
    }
    conf.update(extra or {})
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    p = int(100 * (n - 10) / n)
    return p, statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def summarize(samples: dict[str, list[float]], units: dict[str, str]) -> None:
    print(f"{'metric':34s} {'unit':6s} {'median':>12s} {'tail':>20s} {'n':>4s}")
    for name, vals in samples.items():
        if not vals:
            continue
        tail = tail_percentile(vals)
        tail_s = f"p{tail[0]}={tail[1]:.4g}" if tail else "-"
        print(
            f"{name:34s} {units.get(name, ''):6s} "
            f"{statistics.median(vals):12.5g} {tail_s:>20s} {len(vals):4d}"
        )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "ironspark")):
        print(f"perfbench: no ironspark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    _prepare_env(cores)
    if args.trace:
        # the engine reads this once, at import
        os.environ["IRONSPARK_TRACE"] = "1"

    from perfbench import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    w = wl.WORKLOADS[args.workload]

    tracer = None
    extra_conf = {}
    if args.trace:
        from perfbench.trace import TRACE_SPARK_CONF, Tracer

        extra_conf = TRACE_SPARK_CONF
    spark = spark_session(cores, extra_conf)
    try:
        if args.trace:
            tracer = Tracer(spark)
        # corpus build and reference run are never part of setup_s
        t = time.monotonic()
        pages_dir = wl.corpus_dir(spark, w, args.seed, CACHE)
        warm_dir = wl.corpus_dir(spark, wl.warmup_workload(w), 0, CACHE)
        seeds = wl.seed_rows(w, args.seed)
        ref = wl.reference(w, pages_dir, seeds)
        untimed = time.monotonic() - t
        run_dir = os.path.join(CACHE, f"run_{w.name}_{os.getpid()}")
        wl.warmup(spark, w, warm_dir, run_dir)
        pages = spark.read.parquet(pages_dir)
        setup_s = time.monotonic() - T_PROC0 - untimed
        print(f"perfbench: setup {setup_s:.2f}s (corpus and reference "
              f"{untimed:.2f}s not counted)", file=sys.stderr)

        cycles, failed = [], 0

        def checked(run):
            """Run one cycle; one that raises or fails a check counts in
            ``failed`` and the run goes on."""
            nonlocal failed
            try:
                c = run()
            except Exception as e:  # noqa: BLE001
                print(f"perfbench: cycle raised {e!r}", file=sys.stderr)
                c = None
            if c is None or c.errors:
                failed += 1
                if c is not None:
                    print(f"perfbench: output check failed: {c.errors}", file=sys.stderr)
            return c

        if tracer is not None:
            tracer.enabled = True
        deadline = time.monotonic() + args.seconds
        t_start = time.monotonic()
        while True:
            cycles.append(checked(
                (lambda: tracer.run_cycle(w, pages, seeds, ref, run_dir))
                if tracer is not None
                else (lambda: wl.run_cycle(
                    spark, w, pages, seeds, ref, run_dir, upto="restore"))
            ))
            # another cycle only if it fits: a run never overshoots its
            # --seconds by more than its first cycle
            t_cycle = time.monotonic() - t_start
            t_start = time.monotonic()
            if t_start + t_cycle > deadline:
                break
        good = [c for c in cycles if c is not None and not c.errors]
        if tracer is not None:
            # then one crawl with span recording off, after the traced
            # cycles so it is not the one nearest the warm-up: the
            # tracing-overhead base
            tracer.enabled = False
            tracer.untraced = checked(lambda: wl.run_cycle(
                spark, w, pages, seeds, ref, run_dir, upto="crawl"))
            cycles.append(tracer.untraced)
        attempted = len(cycles)
        print(f"perfbench: {args.workload} seed={args.seed} cycles={attempted} "
              f"failed={failed} fail_ratio={failed / attempted:.3f}")

        if tracer is not None:
            layer = tracer.layer_metrics(
                good, pages_dir,
                os.path.join(CACHE, f"trace_{w.name}_s{args.seed}.json"),
            ) if good else {}
            summarize({k: [v] for k, (v, _) in layer.items()},
                      {k: u for k, (_, u) in layer.items()})
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        else:
            samples: dict[str, list[float]] = {"setup_s": [setup_s]}
            for c in good:
                for k, v in c.metrics().items():
                    samples.setdefault(k, []).append(v)
            walls = [x for c in good for x in c.wave_walls]
            samples["wave_s"] = walls
            summarize(samples, dict(END_TO_END_UNITS, wave_s="s"))
            med = {k: statistics.median(v) for k, v in samples.items() if v}
            if walls:
                med["wave_p50_s"] = statistics.median(walls)
                med["wave_p90_s"] = statistics.quantiles(
                    walls, n=10, method="inclusive")[8]
            metrics = {
                k: {"value": med[k], "unit": u}
                for k, u in END_TO_END_UNITS.items() if k in med
            }
        shutil.rmtree(run_dir, ignore_errors=True)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if tracer is not None:
            tracer.close()
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for the Python workers
    (children of the JVM's daemon) to exit."""
    from pyspark import SparkContext

    from perfbench.procstat import tree_pids

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
