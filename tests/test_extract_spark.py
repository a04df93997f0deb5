"""Adversarial pages through the Spark extraction passes, not only the
kernel: every Arrow pass in ``operators/extract.py`` must equal the
pure-Python kernel applied row by row — null, empty, truncated,
non-UTF-8 and multi-MB html, non-200 fetches, geo downloads with and
without bytes, and the depth gate."""

import pytest

from geospatial_web_scraper_spark.constants import GEO_MIME_TYPES, MAX_DEPTH
from geospatial_web_scraper_spark.kernel import (
    extract_links,
    extract_metadata,
    extract_metadata_with_feeds,
)
from geospatial_web_scraper_spark.operators.extract import (
    ROUND_OUT_SCHEMA,
    extract_links_flat,
    extract_meta_with_feeds,
    extract_round_outputs,
)

BASE = "https://adv.example.org"
GEO_CT = sorted(GEO_MIME_TYPES)[0]
FEED_URL = f"{BASE}/feed.xml"
FEED_XML = (
    '<?xml version="1.0"?><feed><title>Adv feed</title>'
    "<description>Adv feed body</description></feed>"
)

_PAGE = (
    b"<html><head><title>T</title>"
    b'<link type="application/rss+xml" href="/feed.xml">'
    b'<link type="application/atom+xml" href="http://[::1">'
    b'<meta name="keywords" content="a,b"></head><body>'
    b'<p>Hello <a href="/d/x.tif">tif</a> <a href="rel.html">rel</a></p>'
    b'<div class="nav-menu"><a href="/hidden.html">no</a></div>'
    b'<a href="mailto:a@b.c">m</a><li>item</li></body></html>'
)
# > 2 MB: a script body full of fake anchors (skipped as CDATA) and 20k
# real links outside text blocks, so the metadata walk stays linear
_HUGE = (
    b"<html><head><script>"
    + b"var x = '<a href=/no.html>';" * 60_000
    + b"</script></head><body>"
    + b"".join(
        b'<div><a href="/p/%d.html">n</a> <a href="/g/%d.zip">z</a></div>'
        % (i, i)
        for i in range(10_000)
    )
    + b"<p>tail text</p></body></html>"
)

# (name, status, content_type, html, depth)
CASES = [
    ("ok", 200, "text/html", _PAGE, 0),
    ("null", 200, "text/html", None, 0),
    ("empty", 200, "text/html", b"", 0),
    ("truncated", 200, "text/html",
     b'<html><body><p>cut <a href="/a.html">a</a><a href="/b.shp', 1),
    ("unclosed", 200, "text/html", b"<div><p><a href='/c.kml'>c<a href=/d", 0),
    ("non_utf8", 200, "text/html",
     b'<p>\xff\xfe caf\xe9 <a href="/\xe9t\xe9.geojson">\x80</a></p>', 0),
    ("huge", 200, "text/html", _HUGE, 1),
    ("not_found", 404, "text/html", _PAGE, 0),
    ("server_err", 500, "text/html", _PAGE, 0),
    ("null_status", None, "text/html", _PAGE, 0),
    ("geo_bytes", 200, GEO_CT, b"\x00\x01binary\xff", 0),
    ("geo_no_bytes", 200, GEO_CT, None, 2),
    ("depth_gate", 200, "text/html", _PAGE, MAX_DEPTH - 1),
    ("depth_last", 200, "text/html", _PAGE, MAX_DEPTH - 2),
    ("null_ct", 200, None, _PAGE, 0),
]


def _url(name):
    return f"{BASE}/{name}.html"


def _ms(rows):
    """Order-free comparison of row lists (Spark emits per partition)."""
    return sorted((tuple(r) for r in rows), key=repr)


@pytest.fixture(scope="module")
def fetched(spark):
    rows = [
        (_url(name), seq, depth, status, ct, html)
        for seq, (name, status, ct, html, depth) in enumerate(CASES)
    ]
    schema = (
        "url string, seq long, depth int, status int, content_type string, "
        "html binary"
    )
    return spark.createDataFrame(rows, schema).repartition(3, "seq")


def _expected_round(collect_text, carry_download_bytes):
    out = []
    for seq, (name, status, ct, html, depth) in enumerate(CASES):
        url = _url(name)
        if status != 200:
            continue
        if ct in GEO_MIME_TYPES:
            body = html if carry_download_bytes else None
            out.append((url, seq, depth, 0, None, None, None, None, None, body))
            continue
        if html is None:
            continue
        if collect_text:
            md = extract_metadata(html, url)
            out.append((url, seq, depth, 2, None, None, None,
                        md["title"], md["description"], None))
        if depth + 1 < MAX_DEPTH:
            out += [
                (url, seq, depth, 1, l["url"], l["pos"], l["is_geo"],
                 None, None, None)
                for l in extract_links(html, url)
            ]
    return out


def test_cases_exercise_every_route():
    kinds = {r[3] for r in _expected_round(True, True)}
    assert kinds == {0, 1, 2}
    assert len(extract_links(_HUGE, _url("huge"))) == 20_000
    assert len(_HUGE) > 2_000_000


@pytest.mark.parametrize("collect_text", [False, True])
@pytest.mark.parametrize("carry_download_bytes", [False, True])
def test_round_outputs_equal_kernel(spark, fetched, collect_text,
                                    carry_download_bytes):
    df = extract_round_outputs(
        fetched, GEO_MIME_TYPES, MAX_DEPTH,
        collect_text=collect_text,
        carry_download_bytes=carry_download_bytes,
    )
    assert df.schema == ROUND_OUT_SCHEMA
    got = _ms(df.collect())
    want = _ms(_expected_round(collect_text, carry_download_bytes))
    assert len(got) == len(want)
    assert got == want


def test_round_outputs_all_leaves_is_empty(spark, fetched):
    leaves = fetched.filter("status <> 200 OR status IS NULL")
    df = extract_round_outputs(leaves, GEO_MIME_TYPES, MAX_DEPTH,
                               collect_text=True, carry_download_bytes=True)
    assert leaves.count() == 3
    assert df.collect() == []


def test_links_flat_equals_kernel(spark, fetched):
    pages = fetched.unionByName(
        fetched.limit(1).selectExpr(
            "CAST(NULL AS string) AS url", "seq", "depth", "status",
            "content_type", "html",
        )
    )
    got = _ms(extract_links_flat(pages, carry_cols=["url", "seq"]).collect())
    want = _ms(
        (_url(name), seq, l["url"], l["pos"], l["is_geo"])
        for seq, (name, _s, _c, html, _d) in enumerate(CASES)
        if html is not None
        for l in extract_links(html, _url(name))
    )
    assert got == want


def test_meta_with_feeds_equals_kernel(spark, fetched):
    feeds = spark.createDataFrame(
        [(FEED_URL, FEED_XML), (f"{BASE}/other.xml", FEED_XML)],
        "url string, xml string",
    )
    got = _ms(
        extract_meta_with_feeds(fetched.select("url", "html"), feeds).collect()
    )
    lookup = {FEED_URL: FEED_XML, f"{BASE}/other.xml": FEED_XML}.get
    want = []
    for name, _s, _c, html, _d in CASES:
        if html is None:
            continue
        md = extract_metadata_with_feeds(html, _url(name), lookup)
        want.append((_url(name), md["title"], md["description"]))
    assert "Adv feed" in dict((u, t) for u, t, _ in want)[_url("ok")]
    assert got == _ms(want)
