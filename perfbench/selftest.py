#!/usr/bin/env python3
"""Toy-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs one checked cycle of every workload on a few hundred pages, then
shows the output checker rejects a crawl whose order was permuted.
Exits 0 when every cycle passes its checks and the permutation is
caught.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402


def main() -> int:
    cores = len(os.sched_getaffinity(0))
    run._prepare_env(cores)
    from perfbench import workloads as wl

    spark = run.spark_session(cores)
    ok = True
    try:
        for name, w in wl.TOY.items():
            pages_dir = wl.corpus_dir(spark, w, 1, run.CACHE)
            seeds = wl.seed_rows(w, 1)
            ref = wl.reference(w, pages_dir, seeds)
            run_dir = os.path.join(run.CACHE, f"selftest_{name}")
            c = wl.run_cycle(spark, w, spark.read.parquet(pages_dir), seeds, ref, run_dir)
            print(f"{name}: {len(ref.order)} fetches in {len(c.wave_walls)} waves, "
                  f"{c.refetched} re-fetched, errors={c.errors}")
            ok &= not c.errors

            # swap the urls of the first two fetches: same seq numbers,
            # same seen set, wrong order
            order = list(ref.order)
            (s0, w0, u0), (s1, w1, u1) = order[0], order[1]
            order[0], order[1] = (s0, w0, u1), (s1, w1, u0)
            bad = wl.check_crawl(order, list(ref.seen), ref.items, ref)
            print(f"{name}: permuted order -> {bad}")
            ok &= any("crawl order" in b for b in bad)
    finally:
        run.stop_spark(spark)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
