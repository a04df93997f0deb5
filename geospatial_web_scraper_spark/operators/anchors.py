"""Anchor-text aggregation — the incoming-link-text index.

The text inside ``<a>`` tags pointing AT a page is the classic external
description signal: search engines rank with it, and LLM corpus builds
use aggregated anchor text as weak labels / queries for retrieval
training (MS MARCO-style) and as document context. The reference's
kernel extracts hrefs only (internal/crawler/crawler.go:97-131 keeps link
URLs, drops their text — SURVEY §8 X1); this operator is the
beyond-the-reference analytic that keeps the text and inverts the edge:
for every TARGET url, what does the web call it?

Dataflow is pure whole-stage codegen: one regexp pass over the stored
page bytes yields aligned href/text arrays (two ``regexp_extract_all``
calls over the same pattern — identical match sets, so positions line
up), one ``posexplode``, a scheme-aware resolution CASE, and ONE
map-side-combining groupBy on (target, text). The HTML bytes never
shuffle — only (url, short-text) pairs cross the exchange, which is what
makes this viable at 100 TB.

Resolution contract: absolute ``http(s)://`` hrefs pass through;
root-relative ``/...`` hrefs resolve against the source page's host;
everything else (mailto:, tel:, protocol-relative, path-relative,
fragments) is dropped — full RFC 3986 resolution lives in the kernel's
crawl path (J3); this analytic covers the two forms that dominate real
archives and keeps the whole pass SQL-mirrorable (the
``anchor_text_index`` catalog query is value-checked by a formula
oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.urls import url_host

__all__ = ["ANCHOR_RE", "anchor_pairs", "anchor_text_index"]

#: the anchor shape this pass recognizes: double-quoted href as the first
#: attribute, text content without child elements. Java∩RE2 portable.
ANCHOR_RE = '<a href="([^"]*)">([^<]*)</a>'


def anchor_pairs(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """→ ``(src_url, pos, href, target_url, anchor_text)``: every resolvable
    anchor in document order. ``target_url`` is the resolved form (see the
    module resolution contract); non-resolvable schemes are dropped."""
    html = F.decode(F.col(html_col), "UTF-8")
    hrefs = F.regexp_extract_all(html, F.lit(ANCHOR_RE), F.lit(1))
    texts = F.regexp_extract_all(html, F.lit(ANCHOR_RE), F.lit(2))
    d = pages.select(
        F.col(url_col).alias("src_url"),
        url_host(F.col(url_col)).alias("_host"),
        F.posexplode(F.arrays_zip(hrefs.alias("h"), texts.alias("t"))).alias(
            "pos", "_z"
        ),
    )
    href = F.col("_z.h")
    target = (
        F.when(href.startswith("http://") | href.startswith("https://"), href)
        .when(
            # root-relative only: protocol-relative '//host/…' is NOT a
            # path on the source host (it needs the source SCHEME, a form
            # this analytic deliberately drops — see module contract)
            href.startswith("/") & ~href.startswith("//"),
            F.concat(F.lit("https://"), F.col("_host"), href),
        )
    )
    return d.select(
        "src_url",
        "pos",
        href.alias("href"),
        target.alias("target_url"),
        F.col("_z.t").alias("anchor_text"),
    ).where(F.col("target_url").isNotNull())


def anchor_text_index(pairs: DataFrame) -> DataFrame:
    """→ ``(url, anchor_text, n_refs)``: how often each distinct anchor
    text points at each target. ONE count groupBy (map-side combine folds
    the heavy boilerplate texts — 'home', 'next' — before the shuffle);
    feed the result to BM25/embedding training or join it onto the
    frontier as an external-description column."""
    return pairs.groupBy(
        F.col("target_url").alias("url"), "anchor_text"
    ).agg(F.count("*").alias("n_refs"))
