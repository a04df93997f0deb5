"""HTML extraction as Arrow-batched passes (the only Python on the hot path,
batched through Arrow — never row-at-a-time serde).

Every row-emitting pass goes through one helper, :func:`_map_rows`: a
single ``mapInArrow`` that reads each input column once per batch and
builds one output ``RecordBatch`` from what a per-row function returns.

* :func:`extract_links_flat` is X1 (reference ``crawler.go:97-131``): one
  page row in, one flat ``(carried…, link_url, link_pos, link_is_geo)`` row
  per link out, in document order;
* :func:`extract_round_outputs` is the engine's fused per-round pass
  (downloads, links and optional metadata from one scan);
* :func:`extract_meta_with_feeds` is C10, metadata with the offline
  RSS/Atom fold.

``extract_meta_udf`` is X2 (reference ``metadata.go:40-220``): returns the
title/description/keywords struct whose ``description`` is the
byte-identical extracted text per url.

All of them delegate per-document work to the shared pure-Python kernel
(:mod:`..kernel`), which the single-threaded oracle also uses — Spark adds
the distribution, Arrow the batching; the semantics live in one place.
"""

from __future__ import annotations

from urllib.parse import urljoin

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..kernel import extract_links, extract_metadata, extract_metadata_with_feeds

META_TYPE = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("keywords", T.ArrayType(T.StringType())),
    ]
)


def _map_rows(df, schema: T.StructType, row_fn):
    """One Arrow pass over ``df``: ``row_fn(*row)`` is called with each
    input row's values (in ``df.columns`` order) and returns zero or more
    output tuples laid out as ``schema``. Each input column is converted to
    Python once per batch, and each batch yields one ``RecordBatch``."""
    arrow_schema = to_arrow_schema(schema)
    empty = [()] * len(arrow_schema)

    def gen(batches):
        for batch in batches:
            cols = [c.to_pylist() for c in batch.columns]
            rows = [out for row in zip(*cols) for out in row_fn(*row)]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vals, type=field.type)
                    for vals, field in zip(list(zip(*rows)) or empty, arrow_schema)
                ],
                schema=arrow_schema,
            )

    return df.mapInArrow(gen, schema)


def _link_rows(html, url, head: tuple, tail: tuple = ()):
    """The link-row emitter: ``(*head, link_url, link_pos, link_is_geo,
    *tail)`` per link of the page, in document order."""
    if html is None or url is None:
        return ()
    return [(*head, l["url"], l["pos"], l["is_geo"], *tail)
            for l in extract_links(html, url)]


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_xml_links_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    """S6 (metadata.go:180-212): hrefs of ``<link type~=xml>`` elements —
    collected, NOT fetched (the reference's secondary RSS fetch is a network
    side-effect outside the no-network correctness contract)."""
    out = []
    for h, u in zip(html, base_url):
        if h is None or u is None:
            out.append([])
            continue
        out.append(extract_metadata(bytes(h), u)["xml_links"])
    return pd.Series(out, dtype=object)


@F.pandas_udf(META_TYPE)
def extract_meta_udf(html: pd.Series, base_url: pd.Series) -> pd.DataFrame:
    titles, descs, kws = [], [], []
    for h, u in zip(html, base_url):
        if h is None or u is None:
            titles.append(None)
            descs.append(None)
            kws.append(None)
            continue
        md = extract_metadata(bytes(h), u)
        titles.append(md["title"])
        descs.append(md["description"])
        kws.append(md["keywords"])
    return pd.DataFrame({"title": titles, "description": descs, "keywords": kws})


FEED_HREF_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("_xpos", T.IntegerType()),
        T.StructField("_feed_url", T.StringType()),
    ]
)

FEED_META_TYPE = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
    ]
)


def extract_meta_with_feeds(pages, feeds):
    """C10 — metadata extraction INCLUDING the secondary RSS/Atom harvest
    (``metadata.go:180-212``), with the 5s-timeout HTTP GET modeled as a
    join against an offline ``feeds(url, xml)`` table; ``pages`` carries
    ``url`` and ``html``.

    Distributed shape (the 100 TB plan): the xml hrefs are emitted off the
    pages (tiny rows — no HTML) already resolved, equi-joined against the
    feeds table (broadcast: one feed per HOST, so |feeds| ≪ |pages|), and
    grouped back per page in document order; then ONE Arrow pass over the
    pages re-runs the metadata walk and folds the joined feed bodies
    through the raw string builders (kernel.extract_metadata_with_feeds —
    shared with the oracle). HTML bytes never shuffle: the join and groupBy
    move only (url, pos, feed url, xml) rows, and the final pass inherits the pages
    scan's partitioning via a frontier-style broadcast join of the small
    grouped side."""

    def href_rows(url, html):
        if html is None or url is None:
            return ()
        out = []
        for pos, href in enumerate(extract_metadata(html, url)["xml_links"]):
            try:
                feed_url = urljoin(url, href)  # Go base.Parse(href)
            except ValueError:
                feed_url = None  # unresolvable: joins no feed
            out.append((url, pos, feed_url))
        return out

    hrefs = _map_rows(pages.select("url", "html"), FEED_HREF_SCHEMA, href_rows)
    joined = hrefs.join(
        F.broadcast(
            feeds.select(F.col("url").alias("_feed_url"), F.col("xml").alias("_xml"))
        ),
        "_feed_url",
        "left",
    )
    grouped = joined.groupBy("url").agg(
        F.array_sort(
            F.collect_list(F.struct("_xpos", "_feed_url", "_xml"))
        ).alias("_feeds")
    )
    withf = pages.select("url", "html").join(F.broadcast(grouped), "url", "left")

    def meta_rows(url, html, joined_feeds):
        if html is None or url is None:
            return ()
        lookup = {
            f["_feed_url"]: f["_xml"]
            for f in joined_feeds or ()
            if f["_xml"] is not None
        }
        md = extract_metadata_with_feeds(html, url, lookup.get)
        return ((url, md["title"], md["description"]),)

    return _map_rows(withf.select("url", "html", "_feeds"), FEED_META_TYPE,
                     meta_rows)


def extract_links_flat(
    df, carry_cols: list[str], html_col: str = "html", url_col: str = "url"
):
    """Hot-path X1: one Arrow pass emitting already-exploded FLAT rows
    (carried columns + link_url, link_pos, link_is_geo); pages with no
    links (or a NULL html/url) emit nothing.

    Flat string/int Arrow columns skip the nested ``array<struct>``
    conversion on both sides of the Arrow boundary, and no explode is
    needed. Same kernel, same semantics as the engine's ``kind=1`` rows
    (one emitter, asserted by the engine trace-parity tests)."""
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [in_fields[c] for c in carry_cols]
        + [
            T.StructField("link_url", T.StringType()),
            T.StructField("link_pos", T.IntegerType()),
            T.StructField("link_is_geo", T.BooleanType()),
        ]
    )
    cols = list(dict.fromkeys([html_col, url_col, *carry_cols]))
    carry_idx = [cols.index(c) for c in carry_cols]

    def row(*vals):
        return _link_rows(vals[0], vals[1], tuple(vals[i] for i in carry_idx))

    return _map_rows(df.select(*cols), out_schema, row)


ROUND_OUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("kind", T.IntegerType()),  # 0 = download, 1 = link, 2 = meta
        T.StructField("link_url", T.StringType()),
        T.StructField("link_pos", T.IntegerType()),
        T.StructField("link_is_geo", T.BooleanType()),
        T.StructField("title", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("body", T.BinaryType()),
    ]
)


def extract_round_outputs(fetched, geo_mime_types, max_depth: int,
                          collect_text: bool = False,
                          carry_download_bytes: bool = False):
    """Fused per-round fetch classification + link extraction in ONE pass
    over the fetched pages (columns: url, seq, depth, status, content_type,
    html).

    Replaces two separate jobs — the downloads branch and the extraction
    branch — each of which re-scanned the pages source. At 100 TB the pages
    scan is the dominant IO, so one pass per round is the difference between
    reading the fetched slice once or twice; locally it removes ~half the
    round's fixed job overhead, which is what the 2→8-core scaling
    efficiency is most sensitive to.

    With ``collect_text=True`` metadata extraction (X2) is folded into the
    SAME pass as ``kind=2`` rows — one scan per round in every engine
    configuration except the offline-feeds variant (C10), which joins the
    xml_docs table and keeps its own pass. The fused pass does ship HTML
    through the Arrow worker for rows that only become kind=0 download
    rows (the pre-fusion downloads branch was column-pruned off html) —
    that small Arrow transfer buys removing whole extra source scans,
    which wins everywhere the download fraction is not dominant.

    Row routing (same filters the engine previously applied branch-wise):
    status==200 & geo MIME → one ``kind=0`` download row; status==200 &
    non-geo & html present → one ``kind=2`` meta row when collect_text
    (no depth gate — mirrors the engine's meta branch) and, when
    depth+1 < max_depth, ``kind=1`` link rows in document order;
    everything else (404s, fetch leaves) emits nothing.

    With ``carry_download_bytes=True`` each ``kind=0`` row also carries the
    fetched body in the ``body`` binary column — the K1/K2/K3 file sink's
    actual payload (reference ``crawler.go:194-229`` ``io.Copy``s the
    response body to ``downloadDir/basename``). Off by default: the bytes
    then ride the round's localCheckpoint, which is exactly what a crawl
    that only needs the manifest should not pay for."""
    no_link = (None, None, None)  # link_url, link_pos, link_is_geo
    no_meta = (None, None, None)  # title, text, body

    def row(url, seq, depth, status, content_type, html):
        if status != 200:
            return ()
        if content_type in geo_mime_types:
            body = html if carry_download_bytes else None
            return ((url, seq, depth, 0, *no_link, None, None, body),)
        if html is None:
            return ()
        out = []
        if collect_text:
            md = extract_metadata(html, url)
            out.append((url, seq, depth, 2, *no_link,
                        md["title"], md["description"], None))
        if depth + 1 < max_depth:
            out += _link_rows(html, url, (url, seq, depth, 1), no_meta)
        return out

    cols = ["url", "seq", "depth", "status", "content_type", "html"]
    return _map_rows(fetched.select(*cols), ROUND_OUT_SCHEMA, row)
