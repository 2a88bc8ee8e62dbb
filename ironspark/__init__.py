"""ironspark — a PySpark-native distributed crawl engine.

A from-scratch reimplementation of the capabilities of the reference
crawl framework ``vanviethieuanh/iron-spider`` (Rust, studied read-only
at /root/reference — behavior only, no code copied), re-expressed as an
idiomatic Spark DataFrame program:

* URL frontier = a parquet-backed DataFrame with a deterministic
  FIFO ``seq`` column (reference: ``src/scheduler/scheduler.rs:34-76``).
* URL-seen set = exact anti-join correctness path + partitioned Bloom
  filter scale path (reference example's discovered set,
  ``examples/basic_spider.rs:29,75-89``).
* Politeness scheduler = salted repartition-by-host + window-rank
  priority queue honoring robots crawl-delay (reference rate limiter,
  ``src/downloader/downloader.rs:45-48,165-168``).
* Fetch = equi-join of the scheduled frontier against a Common-Crawl
  style pages corpus (deterministic stand-in for live HTTP,
  ``src/downloader/downloader.rs:152-226``).
* Parse/extract = vectorized Arrow pandas UDFs (``mapInPandas``)
  reproducing the reference spider's extraction byte-for-byte
  (``examples/basic_spider.rs:39-66``).
* Item pipelines = priority-ordered DataFrame transform chains
  (``src/pipeline/manager.rs:51-99``).
"""

from ironspark.config import EngineConfig
from ironspark.spider import Spider, ArticleSpider, LinkSpider

__all__ = ["EngineConfig", "Spider", "ArticleSpider", "LinkSpider"]
__version__ = "0.1.0"
