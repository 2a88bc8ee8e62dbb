"""`__spark_entry__.entry`: the flagship crawl returns every chain article
and leaves no run dir behind."""

import glob
import os
import tempfile

from ironspark.corpus import build_chain_corpus


def _entry_dirs():
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "ironspark_entry_*")))


def test_entry_returns_every_chain_article(spark):
    import __spark_entry__

    before = _entry_dirs()
    items = __spark_entry__.entry(spark).toPandas()
    assert _entry_dirs() == before
    truth = build_chain_corpus(2, 4).set_index("url")["text"]
    chain = items[items["src_url"].isin(truth.index)]
    # 2 chains x 4 articles, each extracted exactly once
    assert sorted(chain["src_url"]) == sorted(truth.index)
    for url, text in zip(chain["src_url"], chain["text"]):
        assert text == truth[url], url
