"""LinkSpider that counts its own parse work in Spark accumulators.

Executors import ``ironspark`` afresh, so wrapping parse functions in
the driver measures nothing. This subclass is pickled into the parse
pass instead: every ``parse_batch`` call adds its wall time, page
count, body bytes and emitted outlinks to accumulators that Spark sums
back into the driver when each task succeeds. Used only by the traced
run; the timed run uses the plain ``LinkSpider``.
"""

from __future__ import annotations

import time

import pandas as pd

from ironspark.spider import LinkSpider


class CountingLinkSpider(LinkSpider):
    def __init__(self, sc):
        super().__init__()
        self.busy_s = sc.accumulator(0.0)
        self.pages = sc.accumulator(0)
        self.body_bytes = sc.accumulator(0)
        self.outlinks = sc.accumulator(0)

    def parse_batch(self, pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.perf_counter()
        out = super().parse_batch(pdf)
        self.busy_s.add(time.perf_counter() - t0)
        self.pages.add(len(pdf))
        self.body_bytes.add(int(pdf["body"].map(len).sum()))
        self.outlinks.add(int((out["kind"] == "request").sum()) if len(out) else 0)
        return out

    def totals(self) -> dict:
        return {
            "busy_s": self.busy_s.value,
            "pages": self.pages.value,
            "body_bytes": self.body_bytes.value,
            "outlinks": self.outlinks.value,
        }
