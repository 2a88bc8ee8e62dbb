"""Per-host politeness scheduler: salted window-rank priority queue.

Reference counterparts: the FIFO dequeue + backpressure gate
(``src/downloader/downloader.rs:99-137``), the global governor rate
limiter (``src/config.rs:12``, ``downloader.rs:45-48,165-168``), and the
bounded-waiting factor (``downloader.rs:23,64``). In batch form each
wave represents ``wave_seconds`` of wall-clock; a host with robots
crawl_delay d may be fetched floor(wave_seconds/d) times per wave.

Skew (the mega-domain problem) is handled two-phase, per the north
rule: phase 1 ranks within (host, salt) — the mega-host's millions of
pending rows are ranked in ``_SALT_BUCKETS`` parallel groups and
cut to ``budget`` each, bounding any single window partition; phase 2
ranks the ≤ buckets×budget survivors exactly per host and applies the
true budget. The final output is byte-identical to a naive global
per-host rank (phase 1 can only drop rows that phase 2 would drop).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ironspark.config import EngineConfig

# salt sub-keys per host for the phase-1 rank (module docstring)
_SALT_BUCKETS = 8


def with_budget(
    pending: DataFrame, robots: DataFrame | None, cfg: EngineConfig
) -> DataFrame:
    """Join per-host crawl_delay (broadcast — robots is a small dim) and
    derive the integer per-wave budget."""
    if robots is not None:
        pending = pending.join(
            F.broadcast(robots.select("host", "crawl_delay")), "host", "left"
        )
    else:
        pending = pending.withColumn("crawl_delay", F.lit(None).cast("double"))
    return pending.withColumn(
        "budget",
        F.greatest(
            F.lit(1),
            F.floor(
                F.lit(cfg.wave_seconds)
                / F.coalesce(F.col("crawl_delay"), F.lit(cfg.default_crawl_delay))
            ),
        ).cast("int"),
    )


def min_host_budget(robots: DataFrame | None, cfg: EngineConfig) -> int:
    """The smallest budget with_budget can give any host: that of the
    largest crawl_delay, the robots table's or the default (one Spark
    job with a robots table, none without). 0 when a crawl_delay is not
    positive or the budget is not a finite int, the inputs on which
    with_budget's arithmetic does not shrink with the delay or raises."""
    delays = [cfg.default_crawl_delay]
    if robots is not None:
        lo, hi = robots.agg(F.min("crawl_delay"), F.max("crawl_delay")).first()
        if lo is not None:
            delays += [lo, hi]
    if not all(d > 0 for d in delays):  # NaN too
        return 0
    try:
        budget = max(1, math.floor(cfg.wave_seconds / max(delays)))
    except (ArithmeticError, ValueError):  # an infinite or NaN quotient
        return 0
    return budget if budget < 2**31 else 0


def robots_disallow_filter(pending: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Drop URLs blocked by their host's robots rules.

    RFC 9309 §2.2.2 precedence: the MOST SPECIFIC (longest-pattern)
    matching rule decides, and on a disallow/allow tie of equal length
    the allow wins — so ``Disallow: /private/`` + ``Allow:
    /private/pub/`` blocks ``/private/x`` but admits
    ``/private/pub/y``. Wildcard rules per RFC 9309 §2.2.3 (``*`` =
    any octets, trailing ``$`` = end anchor) are compiled ONCE per
    rule to Java regex on the broadcast rules dim
    (``robots.compile_rule_regex``); plain prefixes keep the cheaper
    ``startswith`` branch, so a typical robots table with few wildcard
    rules pays near-zero regex cost. All JVM-side: one broadcast join
    + two array folds inside codegen, no shuffle. Robots tables
    without an ``allow`` column (pre-RFC fixtures) are treated as
    allow-nothing-special, i.e. the legacy prefix filter.
    """
    if robots is None:
        return pending
    from ironspark.robots import compile_rule_regex

    rb = robots
    if "allow" not in rb.columns:
        rb = rb.withColumn("allow", F.array().cast("array<string>"))
    rules = rb.select("host", "disallow", "allow").filter(
        (F.size("disallow") > 0) | (F.size("allow") > 0)
    )
    # Compile each rule to struct<pat, re> on the SMALL rules dim —
    # re is NULL for plain prefixes. Done before the broadcast so the
    # regex strings ship pre-built to every task.
    compiled = lambda col: F.transform(  # noqa: E731
        F.coalesce(F.col(col), F.array().cast("array<string>")),
        lambda p: F.struct(
            p.alias("pat"), compile_rule_regex(p).alias("re")
        ),
    )
    rules = rules.select(
        "host", compiled("disallow").alias("disallow"),
        compiled("allow").alias("allow"),
    )
    joined = pending.join(F.broadcast(rules), "host", "left")
    # Match target is everything after the authority: path plus
    # "?query" when present (RFC 9309 §2.2.2 matches the full
    # path-with-query — de-facto rules like ``/*?sessionid=`` rely on
    # it). A missing path normalizes to "/".
    qry = F.parse_url(F.col("url"), F.lit("QUERY"))
    path = F.concat(
        F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/")),
        F.when(qry.isNotNull(), F.concat(F.lit("?"), qry)).otherwise(F.lit("")),
    )

    def longest_match(col: str):
        # specificity (pattern length, RFC 9309 §2.2.2 / Google
        # parser) of the most specific matching rule; -1 if none
        empty = F.array().cast("array<struct<pat:string,re:string>>")
        return F.aggregate(
            F.coalesce(F.col(col), empty),
            F.lit(-1),
            lambda acc, r: F.greatest(
                acc,
                F.when(
                    F.when(r["re"].isNull(), path.startswith(r["pat"]))
                    .otherwise(F.regexp_like(path, r["re"])),
                    F.length(r["pat"]),
                ).otherwise(F.lit(-1)),
            ),
        )

    blocked = longest_match("disallow") > longest_match("allow")
    return joined.filter(~blocked).drop("disallow", "allow")


def throttle_traps(pending: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Spider-trap throttle (pairs with url.url_templates): cap the rows
    a flagged (host, template) group may offer this wave to
    cfg.trap_template_cap, lowest seq first. A trap is a generalized
    template ({D}/{H} placeholder) covering >= trap_min_urls pending
    URLs and >= trap_share of its host's pending set — the signature of
    calendar traps, session ids and infinite pagination. Throttled rows
    are not dropped; like every row select_wave does not schedule they
    stay pending, so the group trickles out cap-per-wave (cap >= 1
    guarantees progress and eventual idle shutdown).

    Scale: one (host, template) hash-agg over the frontier + a
    broadcast of the (small by construction) trap set; the cap rank
    runs ONLY over flagged rows, two-phase salted exactly like the
    politeness rank because a trap group is by definition huge.
    """
    from ironspark.url import template_expr

    t = pending.withColumn("_tmpl", template_expr(F.col("url_canon")))
    counts = t.groupBy("host", "_tmpl").agg(F.count("*").alias("_tn"))
    hosts = counts.groupBy("host").agg(F.sum("_tn").alias("_hn"))
    traps = (
        counts.join(hosts, "host")
        .filter(
            F.col("_tmpl").contains("{")
            & (F.col("_tn") >= cfg.trap_min_urls)
            & (F.col("_tn") / F.col("_hn") >= cfg.trap_share)
        )
        .select("host", "_tmpl")
    )
    flagged = t.join(F.broadcast(traps), ["host", "_tmpl"], "left_semi")
    clean = t.join(
        F.broadcast(traps), ["host", "_tmpl"], "left_anti"
    ).drop("_tmpl")
    cap = cfg.trap_template_cap
    salt = F.pmod(F.xxhash64("url_canon"), F.lit(_SALT_BUCKETS))
    w1 = Window.partitionBy("host", "_tmpl", salt).orderBy("seq")
    p1 = flagged.withColumn("_r1", F.row_number().over(w1)).filter(
        F.col("_r1") <= cap
    )
    w2 = Window.partitionBy("host", "_tmpl").orderBy("seq")
    kept = (
        p1.withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= cap)
        .drop("_r1", "_r2", "_tmpl")
    )
    return clean.unionByName(kept)


def select_wave(
    pending: DataFrame,
    robots: DataFrame | None,
    cfg: EngineConfig,
    pending_count: int | None = None,
    min_budget: int | None = None,
) -> DataFrame:
    """The rows of ``pending`` scheduled this wave.

    Per-host lowest-seq rows within budget (two-phase salted rank),
    optionally capped globally by cfg.max_wave_size in seq order (the
    reference's global quota / backpressure analog); when
    cfg.trap_template_cap is set, trap-flagged (host, template) groups
    are first capped by throttle_traps. Every other row stays pending:
    the engine tombstones only the scheduled (seq, attempt) keys.

    ``pending_count`` is the exact row count of ``pending`` and
    ``min_budget`` the smallest budget any host can get
    (min_host_budget), when the caller knows them. A count at most that
    budget leaves no host over budget, so every pending row is
    scheduled without the budget join, the over-budget probe (a
    broadcast job of its own) and the rank windows.
    """
    if cfg.trap_template_cap is not None:
        pending = throttle_traps(pending, cfg)
    if pending_count is None or min_budget is None or pending_count > min_budget:
        pending = _within_budget(pending, robots, cfg)
    if cfg.max_wave_size is not None:
        return pending.orderBy("seq").limit(cfg.max_wave_size)
    return pending


def _within_budget(
    pending: DataFrame, robots: DataFrame | None, cfg: EngineConfig
) -> DataFrame:
    """Each host's lowest-seq rows within its budget."""
    p = with_budget(pending, robots, cfg)

    # fast path: hosts with pending <= budget schedule everything and
    # SKIP the rank windows entirely — at steady state in a broad crawl
    # that is almost every host, so the sort runs only over the few
    # over-budget (hot) hosts. One cheap hash-agg + two broadcast joins
    # buy the elision of two window sorts over the whole frontier.
    over_hosts = (
        p.groupBy("host", "budget")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > F.col("budget"))
        .select("host")
    )
    under = p.join(F.broadcast(over_hosts), "host", "left_anti")
    hot = p.join(F.broadcast(over_hosts), "host", "left_semi")

    # phase 1: salted partial rank — bounds the biggest window partition
    salt = F.pmod(F.xxhash64("url_canon"), F.lit(_SALT_BUCKETS))
    w1 = Window.partitionBy("host", salt).orderBy("seq")
    p1 = hot.withColumn("_r1", F.row_number().over(w1)).filter(
        F.col("_r1") <= F.col("budget")
    )

    # phase 2: exact per-host rank over ≤ buckets×budget survivors
    w2 = Window.partitionBy("host").orderBy("seq")
    p2 = (
        p1.withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= F.col("budget"))
        .drop("_r1", "_r2")
    )

    return under.unionByName(p2).drop("budget", "crawl_delay")
