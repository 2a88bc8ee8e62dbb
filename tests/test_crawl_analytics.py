"""URL-template mining (url.url_templates), round 6."""

import pandas as pd

from ironspark.url import url_templates


def test_url_templates_trap_detection(spark):
    urls = (
        # session-id trap host: every URL unique, one {H} template
        [f"https://trap.example.com/s/{i:08x}{i:08x}" for i in range(20)]
        # paginated host: numeric ids collapse to one {D} template,
        # but split across two sections so each holds exactly 50% —
        # below the 0.6 threshold used here (the flag is >= trap_share)
        + [f"https://ok.example.com/news/item{i}" for i in range(12)]
        + [f"https://ok.example.com/blog/item{i}" for i in range(12)]
        # static host: no placeholder -> never a trap even at share 1.0
        + ["https://static.example.com/about"] * 15
    )
    df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    out = url_templates(df, min_urls=10, trap_share=0.6).toPandas()
    rows = {
        (r.host, r.template): r for r in out.itertuples(index=False)
    }
    trap = rows[("trap.example.com", "/s/{H}")]
    assert trap.n_urls == 20 and trap.url_share == 1.0 and trap.is_trap
    news = rows[("ok.example.com", "/news/item{D}")]
    assert news.n_urls == 12 and not news.is_trap  # 0.5 < 0.6 -> ok
    assert news.url_share == 0.5
    static = rows[("static.example.com", "/about")]
    assert static.url_share == 1.0 and not static.is_trap  # no placeholder


def test_url_templates_hex_before_digits(spark):
    # a 32-hex session token must become {H}, not {D}-fragments; short
    # hex-ish words ('item', 'beef' < 8 chars) must survive
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [
                    "https://a.com/x/0123456789abcdef0123456789abcdef",
                    "https://a.com/beef/item42",
                ]
            }
        )
    )
    out = url_templates(df, min_urls=1, trap_share=0.9).toPandas()
    assert set(out.template) == {"/x/{H}", "/beef/item{D}"}
