"""Parse stage: ONE vectorized Arrow pass per wave.

Reference: responses parsed on a rayon pool by their owning spider
(``src/spider/manager.rs:156-186``); SpiderResult routing splits
requests from items (``:283-307``); acceptance + retry policy lives in
the downloader (``src/downloader/downloader.rs:210-247``).

Design for scale: the corpus join's output (with html bytes) is
consumed by EXACTLY ONE ``mapInPandas`` pass per wave. The pass:

* applies the acceptance rule (status < 400 OR in allow codes) and
  emits one kind="resp" lineage row per response (status, accepted,
  retryable, wire bytes, partition id) — metrics and the retry path
  are later derived from these rows without re-running the join;
* dispatches accepted responses to their owning spider's
  ``parse_batch`` (grouped by spider_id within each Arrow batch);
* canonicalizes emitted outlinks (url_canon + host) IN THE SAME
  Python worker — no second Arrow round-trip, and crucially no
  mapInPandas over a Spark InMemoryRelation (the columnar-cache →
  Arrow path measured ~10x slower than recomputation).
"""

from __future__ import annotations

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame

from ironspark.config import EngineConfig
from ironspark.schemas import PARSE_OUT_SCHEMA
from ironspark.url import canonicalize_series, host_series

# slim Arrow input: url_canon is NOT shipped (nothing in the pass reads
# it — outlink canonicalization recomputes from out_url, and the resp
# lineage keys on seq). Every string dropped here is corpus-sized
# Arrow traffic per wave.
_PARSE_IN_COLS = [
    "url", "host", "spider_id", "seq", "resp_status",
    "body_bytes", "attempt", "bytes_req", "bytes_resp", "set_cookie",
]
_OUT_COLS = [f.name for f in PARSE_OUT_SCHEMA.fields]


def parse_responses(
    responses: DataFrame, spiders: dict[int, object], cfg: EngineConfig | None = None
) -> DataFrame:
    """response rows -> PARSE_OUT rows (resp ∪ items ∪ requests)."""
    cfg = cfg or EngineConfig()
    allow = frozenset(cfg.http_error_allow_codes)
    max_retry = cfg.max_retry_times
    registered = frozenset(int(k) for k in spiders)

    def run(batches):
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        for pdf in batches:
            if not len(pdf):
                continue
            status = pdf["resp_status"].astype("int64")
            ok = status < 400
            if allow:
                ok = ok | status.isin(list(allow))

            resp = pd.DataFrame(
                {
                    "kind": "resp",
                    "partition_id": pid,
                    "spider_id": pdf["spider_id"].values,
                    "parent_seq": pdf["seq"].values,
                    "resp_status": status.values,
                    "accepted": ok.values,
                    # unregistered spider -> the accepted response is
                    # dropped below; surface that as lineage (metric)
                    "routed": pdf["spider_id"].astype("int64").isin(registered).values,
                    "retryable": (~ok & (pdf["attempt"].astype("int64") < max_retry)).values,
                    "bytes_req": pdf["bytes_req"].values,
                    "bytes_resp": pdf["bytes_resp"].values,
                    # hash-only lineage: resp rows key on parent_seq;
                    # src_url has no resp-side consumer and host is
                    # needed only where a cookie was actually set —
                    # dropping the strings shrinks the persisted
                    # parse_out and its Arrow transfer by two
                    # corpus-sized string columns per wave
                    "src_url": None,
                    "host": pdf["host"].where(
                        pdf["set_cookie"].notna(), None
                    ).values,
                    "set_cookie": pdf["set_cookie"].values,
                }
            )
            for c in _OUT_COLS:
                if c not in resp.columns:
                    resp[c] = None
            yield resp[_OUT_COLS]

            acc = pdf[ok.values]
            if not len(acc):
                continue
            acc = acc.rename(columns={"body_bytes": "body"})
            for sid, grp in acc.groupby("spider_id", sort=True):
                spider = spiders.get(int(sid))
                if spider is None:  # dropped; counted via routed=False lineage
                    continue
                out = spider.parse_batch(grp)
                if not len(out):
                    continue
                out = out.copy()
                out["partition_id"] = pid
                is_req = out["kind"] == "request"
                out["url_canon"] = None
                out["host"] = None
                if is_req.any():
                    urls = out.loc[is_req, "out_url"]
                    out.loc[is_req, "url_canon"] = canonicalize_series(urls)
                    out.loc[is_req, "host"] = host_series(urls)
                for c in _OUT_COLS:
                    if c not in out.columns:
                        out[c] = None
                yield out[_OUT_COLS]

    return responses.select(*_PARSE_IN_COLS).mapInPandas(run, PARSE_OUT_SCHEMA)
