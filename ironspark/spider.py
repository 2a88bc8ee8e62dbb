"""Spider API surface (SURVEY.md §2.9; reference src/spider/spider.rs:47-54).

A Spider declares a vectorized parse function (seeds go to
``CrawlEngine.run``). The parse contract mirrors the reference's
``parse(Response) -> SpiderResult`` (requests and/or items and/or none,
``src/spider/spider.rs:37-45``) but operates on Arrow record batches:
the engine calls ``parse_batch`` with a pandas DataFrame of responses
and expects PARSE_OUT_SCHEMA rows of kind "request" (outlinks) and
"item".
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd

from ironspark.extract import _resolve_links, decode_strict, parse_response
from ironspark.scan import scan_page


@dataclass
class Spider:
    """Base spider: subclass or pass functions."""

    name: str = "spider"

    def parse_batch(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """Responses batch -> PARSE_OUT rows. Override per spider.

        Input columns: url, url_canon, spider_id, seq (parent seq),
        status, body (bytes), wave. Output columns must match
        schemas.PARSE_OUT_SCHEMA.
        """
        raise NotImplementedError

    def close(self) -> None:  # reference close hook (spider.rs:51-53)
        pass


class ArticleSpider(Spider):
    """The reference ExampleSpider re-expressed (basic_spider.rs:39-150).

    Extracts (title, author, number) from <article> pages and follows
    ./article/{n-1} chains down to 1.
    """

    ITEM_TYPE = "article"

    def __init__(self, name: str = "example_spider"):
        super().__init__(name=name)

    def parse_batch(self, pdf: pd.DataFrame) -> pd.DataFrame:
        out: dict[str, list] = {
            "kind": [], "spider_id": [], "parent_seq": [], "link_index": [],
            "out_url": [], "item_type": [], "title": [], "author": [],
            "number": [], "src_url": [], "text": [],
        }

        def emit(kind, spider_id, parent_seq, link_index=None, out_url=None,
                 title=None, author=None, number=None, src_url=None, text=None):
            out["kind"].append(kind)
            out["spider_id"].append(spider_id)
            out["parent_seq"].append(parent_seq)
            out["link_index"].append(link_index)
            out["out_url"].append(out_url)
            out["item_type"].append(self.ITEM_TYPE if kind == "item" else None)
            out["title"].append(title)
            out["author"].append(author)
            out["number"].append(number)
            out["src_url"].append(src_url)
            out["text"].append(text)

        for url, spider_id, seq, body in zip(
            pdf["url"], pdf["spider_id"], pdf["seq"], pdf["body"]
        ):
            item, links, discovered, text = parse_response(url, body)
            if item is not None:
                title, author, number = item
                emit("item", spider_id, seq, title=title, author=author,
                     number=number, src_url=url, text=text)
            for i, link in enumerate(links):
                emit("request", spider_id, seq, link_index=i, out_url=link,
                     src_url=url)
        return pd.DataFrame(out)


class LinkSpider(Spider):
    """Generic web-graph spider: extract article item + follow ALL
    <a href> outlinks (the scale-path workload; SURVEY.md §2.4 P6
    "general link extraction = href harvest → explode")."""

    ITEM_TYPE = "page"

    def __init__(self, name: str = "link_spider"):
        super().__init__(name=name)

    def parse_batch(self, pdf: pd.DataFrame) -> pd.DataFrame:
        out: dict[str, list] = {
            "kind": [], "spider_id": [], "parent_seq": [], "link_index": [],
            "out_url": [], "item_type": [], "title": [], "author": [],
            "number": [], "src_url": [], "text": [],
        }
        for url, spider_id, seq, body in zip(
            pdf["url"], pdf["spider_id"], pdf["seq"], pdf["body"]
        ):
            html = decode_strict(body)
            if html is None:
                continue
            # ONE scanner pass yields article text, author, and hrefs
            # (was three html.parser tree builds per page — the crawl's
            # dominant Python CPU, see ironspark/scan.py docstring)
            article_text, author_text, hrefs = scan_page(html)
            if article_text is not None and author_text is not None:
                article_text = article_text.strip()
                author_text = author_text.strip()
                title = article_text.replace(author_text, "").strip()
                out["kind"].append("item")
                out["spider_id"].append(spider_id)
                out["parent_seq"].append(seq)
                out["link_index"].append(None)
                out["out_url"].append(None)
                out["item_type"].append(self.ITEM_TYPE)
                out["title"].append(title)
                out["author"].append(author_text)
                out["number"].append(None)
                out["src_url"].append(url)
                out["text"].append(article_text)
            for i, link in enumerate(_resolve_links(hrefs, url)):
                out["kind"].append("request")
                out["spider_id"].append(spider_id)
                out["parent_seq"].append(seq)
                out["link_index"].append(i)
                out["out_url"].append(link)
                out["item_type"].append(None)
                out["title"].append(None)
                out["author"].append(None)
                out["number"].append(None)
                out["src_url"].append(url)
                out["text"].append(None)
        return pd.DataFrame(out)
