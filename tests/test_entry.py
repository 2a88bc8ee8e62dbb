"""`__spark_entry__.entry`: the flagship crawl returns every chain article."""

from ironspark.corpus import build_chain_corpus


def test_entry_returns_every_chain_article(spark):
    import __spark_entry__

    items = __spark_entry__.entry(spark).toPandas()
    truth = build_chain_corpus(2, 4).set_index("url")["text"]
    chain = items[items["src_url"].isin(truth.index)]
    # 2 chains x 4 articles, each extracted exactly once
    assert sorted(chain["src_url"]) == sorted(truth.index)
    for url, text in zip(chain["src_url"], chain["text"]):
        assert text == truth[url], url
