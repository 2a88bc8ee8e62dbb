"""select_wave's skip of the over-budget-host probe: when the exact
pending count is at most the smallest budget any host can get, every
pending row is scheduled without the budget join, the probe and the
rank windows. The skip must return the rows the full plan returns, and
must not fire once one host can be over its budget."""

import pytest

from ironspark.config import EngineConfig
from ironspark.politeness import min_host_budget, select_wave
from ironspark.schemas import FRONTIER_SCHEMA, ROBOTS_SCHEMA


def _pending(spark, per_host: dict[str, int]):
    rows = [
        (f"http://{host}/p/{i}", f"http://{host}/p/{i}", host, 1, 0, 0, "GET",
         None, None, None, None)
        for host, n in per_host.items()
        for i in range(n)
    ]
    rows = [r[:4] + (seq,) + r[5:] for seq, r in enumerate(rows)]
    return spark.createDataFrame(rows, FRONTIER_SCHEMA), len(rows)


def _robots(spark, delays: dict[str, float]):
    rows = [(h, d, [], []) for h, d in delays.items()]
    return spark.createDataFrame(rows, ROBOTS_SCHEMA)


def _rows(df) -> list[tuple]:
    return sorted(
        (r["seq"], r["url_canon"], r["host"])
        for r in df.select("seq", "url_canon", "host").collect()
    )


def _uses_probe(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Window" in plan or "BroadcastExchange" in plan


def _both(spark, pending, n, robots, cfg):
    """(rows without the skip, rows when the caller passes the count
    and the budget floor, whether that second plan probed)."""
    full = select_wave(pending, robots, cfg)
    fast = select_wave(pending, robots, cfg, n, min_host_budget(robots, cfg))
    return _rows(full), _rows(fast), _uses_probe(fast)


def test_skip_when_pending_fits_every_budget(spark):
    cfg = EngineConfig(wave_seconds=6.0, default_crawl_delay=1.0)
    pending, n = _pending(spark, {"a.com": 3, "b.com": 2, "c.com": 1})
    assert n == min_host_budget(None, cfg) == 6
    full, fast, probed = _both(spark, pending, n, None, cfg)
    assert fast == full and len(full) == n
    assert not probed and _uses_probe(select_wave(pending, None, cfg))
    # the global cap still applies after the skip
    capped = EngineConfig(wave_seconds=6.0, max_wave_size=4)
    assert _rows(select_wave(pending, None, capped, n, 6)) == full[:4]


def test_no_skip_with_one_host_over_budget(spark):
    cfg = EngineConfig(wave_seconds=4.0, default_crawl_delay=1.0)
    pending, n = _pending(spark, {"a.com": 6, "b.com": 1})
    full, fast, probed = _both(spark, pending, n, None, cfg)
    assert probed and fast == full
    # a.com keeps its 4 lowest seqs, b.com its one row
    assert [s for s, _, _ in full] == [0, 1, 2, 3, 6]


def test_no_skip_when_robots_delay_lowers_a_budget(spark):
    """The default budget (10) covers the 6 pending rows, but b.com's
    robots crawl_delay gives it a budget of 1."""
    cfg = EngineConfig(wave_seconds=10.0, default_crawl_delay=1.0)
    pending, n = _pending(spark, {"a.com": 3, "b.com": 3})
    robots = _robots(spark, {"a.com": 0.5, "b.com": 8.0})
    assert min_host_budget(None, cfg) == 10
    assert min_host_budget(robots, cfg) == 1 < n
    full, fast, probed = _both(spark, pending, n, robots, cfg)
    assert probed and fast == full
    assert [s for s, _, _ in full] == [0, 1, 2, 3]
    # with b.com's delay no larger than the default, the skip fires
    lax = _robots(spark, {"a.com": 0.5, "b.com": 1.0})
    full, fast, probed = _both(spark, pending, n, lax, cfg)
    assert not probed and fast == full and len(full) == n


@pytest.mark.parametrize("delay", [0.0, -1.0, float("nan")])
def test_budget_floor_unknown_for_odd_delays(spark, delay):
    """A crawl_delay that is not positive does not shrink the budget
    with the delay (or makes with_budget raise): no count fits."""
    cfg = EngineConfig(wave_seconds=10.0)
    assert min_host_budget(_robots(spark, {"a.com": delay}), cfg) == 0
