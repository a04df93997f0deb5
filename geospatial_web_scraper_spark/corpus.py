"""Deterministic synthetic Common-Crawl-style corpus (the `pages` table).

The link graph, page text, statuses and content types are pure arithmetic
functions of the page id, so the SAME corpus exists in three forms that are
provably identical:

1. :func:`corpus_df` — built **natively in Spark** (``F.concat``/``F.when``
   over ``spark.range``; zero Python, scales to any page count and stays
   inside whole-stage codegen),
2. the Python mirror (:func:`html_of`, :func:`url_of`, …) — used by the
   single-threaded oracle,
3. :func:`sql_prelude` — a DuckDB CTE prelude reproducing ids/pages/edges/
   seeds arithmetically, which lets plain (even recursive) ANSI SQL act as
   an independent oracle for the crawl itself.

Schema (per BASELINE.json ``input_hint``)::

    url: string, warc_ts: timestamp, html: binary, text: string, lang: string
    + status: int, content_type: string   (fetch semantics, FIXTURES.md §1)

Graph spec (all mod arithmetic; N = page count):

* host(i)    = 0 if i%10 < 3 else 1 + i%9       (host0 is hot ≈30% — skew)
* url(i)     = https://host{h}.example.org/page/{i}.html
* status(i)  = 404 if i%97 == 1 else 200        (F5 filter)
* ctype(i)   = application/zip if i%41 == 2 else text/html  (F7 terminal branch)
* outdeg(i)  = 2 + i%4; plain target t(i,j) = (7i + 13j + 1) % N
* geo link iff i%3 == 0 → /data/file_{i}.{EXTS[i%5]}        (F6 signal)
* JSON-LD block iff i%17 == 4; RSS <link> iff i%29 == 6
* seeds      = first 8 ids with i%23 == 3

Decoys present in the HTML but *excluded from the formula* (extraction must
drop them): a link inside ``<div class="nav-menu">`` (boilerplate gate F8),
``mailto:``/``tel:`` anchors (F2), a malformed href when i%11 == 0 (F3), and
a duplicate of the first plain link when i%13 == 0 (first-wins dedup F1 —
the duplicate IS extracted twice, dedup collapses it downstream).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_DEFAULT = 300
N_HOSTS = 10
EXTS = ("zip", "csv", "geojson", "kml", "tif")
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z
N_SEEDS = 8

# ---------------------------------------------------------------------------
# Python mirror (oracle side)
# ---------------------------------------------------------------------------


def host_of(i: int) -> int:
    return 0 if i % 10 < 3 else 1 + (i % 9)


def url_of(i: int) -> str:
    return f"https://host{host_of(i)}.example.org/page/{i}.html"


def geo_url_of(i: int) -> str:
    return f"https://host{host_of(i)}.example.org/data/file_{i}.{EXTS[i % 5]}"


def status_of(i: int) -> int:
    return 404 if i % 97 == 1 else 200


def content_type_of(i: int) -> str:
    return "application/zip" if i % 41 == 2 else "text/html"


def outdeg(i: int) -> int:
    return 2 + (i % 4)


def target(i: int, j: int, n: int) -> int:
    return (7 * i + 13 * j + 1) % n


def title_of(i: int) -> str:
    t = f"Page {i} host {host_of(i)} Portal {i % 7}"
    if i % 17 == 4:
        t += f" LD {i}"
    return t


def text_of(i: int) -> str:
    """Golden extracted text (== extract_metadata()['description'])."""
    t = f"Catalog entry {i} for topic {i % 7}."
    if i % 17 == 4:
        t += f" Meta entry {i}."
    t += f" Dataset {i} covers region {i % 13}. Theme {i % 5} records."
    return t


def seed_ids(n: int, k: int = N_SEEDS) -> list[int]:
    return [i for i in range(n) if i % 23 == 3][:k]


def _href_of(i: int, t: int, n: int) -> str:
    # relative when same host (exercises J3 resolution), absolute otherwise
    if host_of(t) == host_of(i):
        return f"/page/{t}.html"
    return url_of(t)


def html_of(i: int, n: int, filler_paras: int = 0) -> str:
    """``filler_paras`` adds deterministic boilerplate-gated filler blocks
    (class contains 'sidebar' → skipped by BOTH extraction gates), so page
    weight approaches real Common-Crawl pages without changing extracted
    links or text — the oracles stay valid at any filler level."""
    head = [
        "<html><head>",
        f"<title>Page {i} host {host_of(i)}</title>",
        f'<meta name="description" content="Catalog entry {i} for topic {i % 7}.">',
        f'<meta property="og:title" content="Portal {i % 7}">',
        f'<meta name="keywords" content="geo, data{i % 3}">',
    ]
    if i % 17 == 4:
        head.append(
            '<script type="application/ld+json">'
            f'{{"name": "LD {i}", "description": "Meta entry {i}.", "keywords": "x{i % 2}"}}'
            "</script>"
        )
    if i % 29 == 6:
        head.append('<link type="application/rss+xml" href="/feed.xml">')
    head.append("</head><body>")
    body = [
        f'<div class="nav-menu"><a href="/page/{(i + 1) % n}.html">decoy</a></div>',
        f"<p>Dataset {i} covers region {i % 13}.</p>",
        '<a href="mailto:admin@example.org">mail</a>',
        '<a href="tel:+15550100">call</a>',
    ]
    for j in range(outdeg(i)):
        body.append(f'<a href="{_href_of(i, target(i, j, n), n)}">link {j}</a>')
    if i % 13 == 0:
        body.append(f'<a href="{_href_of(i, target(i, 0, n), n)}">dup</a>')
    if i % 11 == 0:
        body.append('<a href="http://[">bad</a>')
    if i % 3 == 0:
        body.append(f'<a href="/data/file_{i}.{EXTS[i % 5]}">download</a>')
    body += [
        f"<li>Theme {i % 5} records.</li>",
        f"<p>topic {i % 7}.</p>",
        f'<div class="sidebar"><p>sidebar junk {i}</p></div>',
    ]
    for j in range(filler_paras):
        body.append(
            f'<div class="sidebar-f{j}"><p>filler block {i} {j} '
            "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
            "eiusmod tempor incididunt ut labore et dolore magna aliqua ut "
            "enim ad minim veniam quis nostrud exercitation ullamco</p>"
            f'<a href="/page/{(i + j) % n}.html">decoy {j}</a>'
            f"<ul><li>item {i} {j} a</li><li>item {i} {j} b</li></ul></div>"
        )
    body.append("</body></html>")
    return "\n".join(head + body)


def edges_of(i: int, n: int) -> list[tuple[str, bool]]:
    """Expected extraction output for page i, in document order, duplicates
    included (mirrors what extract_links must return)."""
    out: list[tuple[str, bool]] = []
    for j in range(outdeg(i)):
        out.append((url_of(target(i, j, n)), False))
    if i % 13 == 0:
        out.append((url_of(target(i, 0, n)), False))
    if i % 3 == 0:
        out.append((geo_url_of(i), True))
    return out


def pages_dict(n: int) -> dict[str, dict]:
    """Oracle-side corpus: url → row dict (html parsed lazily by the oracle)."""
    rows = {}
    for i in range(n):
        rows[url_of(i)] = {
            "page_id": i,
            "url": url_of(i),
            "html": html_of(i, n),
            "status": status_of(i),
            "content_type": content_type_of(i),
            "host": f"host{host_of(i)}.example.org",
        }
    return rows


# ---------------------------------------------------------------------------
# Spark-native builder (engine side) — no Python UDFs, pure Catalyst exprs
# ---------------------------------------------------------------------------


def _host_col(i: Column) -> Column:
    return F.when(i % 10 < 3, F.lit(0)).otherwise(1 + (i % 9))


def _url_col(i: Column) -> Column:
    return F.concat(
        F.lit("https://host"),
        _host_col(i).cast("string"),
        F.lit(".example.org/page/"),
        i.cast("string"),
        F.lit(".html"),
    )


def _ext_col(i: Column) -> Column:
    return F.element_at(F.array(*[F.lit(e) for e in EXTS]), (i % 5 + 1).cast("int"))


def _geo_url_col(i: Column) -> Column:
    return F.concat(
        F.lit("https://host"),
        _host_col(i).cast("string"),
        F.lit(".example.org/data/file_"),
        i.cast("string"),
        F.lit("."),
        _ext_col(i),
    )


def _href_col(i: Column, t: Column) -> Column:
    rel = F.concat(F.lit("/page/"), t.cast("string"), F.lit(".html"))
    return F.when(_host_col(t) == _host_col(i), rel).otherwise(_url_col(t))


def _anchor(href: Column, label: Column | str) -> Column:
    label_col = F.lit(label) if isinstance(label, str) else label
    return F.concat(F.lit('<a href="'), href, F.lit('">'), label_col, F.lit("</a>"))


def _html_col(i: Column, n: int, filler_paras: int = 0) -> Column:
    istr = i.cast("string")
    topic = (i % 7).cast("string")
    nl = F.lit("\n")
    head = [
        F.lit("<html><head>"),
        nl,
        F.concat(
            F.lit("<title>Page "), istr, F.lit(" host "),
            _host_col(i).cast("string"), F.lit("</title>"),
        ),
        nl,
        F.concat(
            F.lit('<meta name="description" content="Catalog entry '),
            istr, F.lit(" for topic "), topic, F.lit('.">'),
        ),
        nl,
        F.concat(F.lit('<meta property="og:title" content="Portal '), topic, F.lit('">')),
        nl,
        F.concat(
            F.lit('<meta name="keywords" content="geo, data'),
            (i % 3).cast("string"), F.lit('">'),
        ),
        nl,
        F.when(
            i % 17 == 4,
            F.concat(
                F.lit('<script type="application/ld+json">{"name": "LD '),
                istr,
                F.lit('", "description": "Meta entry '),
                istr,
                F.lit('.", "keywords": "x'),
                (i % 2).cast("string"),
                F.lit('"}</script>\n'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 29 == 6, F.lit('<link type="application/rss+xml" href="/feed.xml">\n')
        ).otherwise(F.lit("")),
        F.lit("</head><body>"),
        nl,
    ]
    # plain links built natively: sequence(0, outdeg-1) → transform → array_join
    links = F.array_join(
        F.transform(
            F.sequence(F.lit(0).cast("long"), (2 + i % 4 - 1)),
            lambda j: _anchor(
                _href_col(i, (7 * i + 13 * j + 1) % n),
                F.concat(F.lit("link "), j.cast("string")),
            ),
        ),
        "\n",
    )
    body = [
        F.concat(
            F.lit('<div class="nav-menu"><a href="/page/'),
            ((i + 1) % n).cast("string"),
            F.lit('.html">decoy</a></div>'),
        ),
        nl,
        F.concat(
            F.lit("<p>Dataset "), istr, F.lit(" covers region "),
            (i % 13).cast("string"), F.lit(".</p>"),
        ),
        nl,
        F.lit('<a href="mailto:admin@example.org">mail</a>'),
        nl,
        F.lit('<a href="tel:+15550100">call</a>'),
        nl,
        links,
        nl,
        F.when(
            i % 13 == 0,
            F.concat(_anchor(_href_col(i, (7 * i + 1) % n), "dup"), nl),
        ).otherwise(F.lit("")),
        F.when(i % 11 == 0, F.lit('<a href="http://[">bad</a>\n')).otherwise(F.lit("")),
        F.when(
            i % 3 == 0,
            F.concat(
                F.lit('<a href="/data/file_'), istr, F.lit("."), _ext_col(i),
                F.lit('">download</a>\n'),
            ),
        ).otherwise(F.lit("")),
        F.concat(F.lit("<li>Theme "), (i % 5).cast("string"), F.lit(" records.</li>")),
        nl,
        F.concat(F.lit("<p>topic "), topic, F.lit(".</p>")),
        nl,
        F.concat(
            F.lit('<div class="sidebar"><p>sidebar junk '), istr, F.lit("</p></div>")
        ),
        nl,
    ]
    if filler_paras > 0:
        filler = F.array_join(
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.lit(filler_paras - 1).cast("long")),
                lambda j: F.concat(
                    F.lit('<div class="sidebar-f'), j.cast("string"),
                    F.lit('"><p>filler block '), istr, F.lit(" "), j.cast("string"),
                    F.lit(
                        " lorem ipsum dolor sit amet consectetur adipiscing elit"
                        " sed do eiusmod tempor incididunt ut labore et dolore"
                        " magna aliqua ut enim ad minim veniam quis nostrud"
                        " exercitation ullamco</p>"
                    ),
                    F.lit('<a href="/page/'), ((i + j) % n).cast("string"),
                    F.lit('.html">decoy '), j.cast("string"), F.lit("</a>"),
                    F.lit("<ul><li>item "), istr, F.lit(" "), j.cast("string"),
                    F.lit(" a</li><li>item "), istr, F.lit(" "), j.cast("string"),
                    F.lit(" b</li></ul></div>"),
                ),
            ),
            "\n",
        )
        body += [filler, nl]
    body.append(F.lit("</body></html>"))
    return F.concat(*head, *body)


def _text_col(i: Column) -> Column:
    istr = i.cast("string")
    return F.concat(
        F.lit("Catalog entry "), istr, F.lit(" for topic "), (i % 7).cast("string"),
        F.lit("."),
        F.when(i % 17 == 4, F.concat(F.lit(" Meta entry "), istr, F.lit("."))).otherwise(
            F.lit("")
        ),
        F.lit(" Dataset "), istr, F.lit(" covers region "), (i % 13).cast("string"),
        F.lit(". Theme "), (i % 5).cast("string"), F.lit(" records."),
    )


def corpus_df(
    spark: SparkSession,
    n: int = N_DEFAULT,
    partitions: int | None = None,
    filler_paras: int = 0,
) -> DataFrame:
    """The `pages` table, generated natively (whole-stage codegen, no UDFs).

    At bench scale this produces millions of rows/sec per core; at test scale
    it is byte-identical to :func:`html_of` (asserted in tests).
    """
    base = spark.range(0, n, numPartitions=partitions) if partitions else spark.range(0, n)
    i = F.col("id")
    return base.select(
        i.cast("long").alias("page_id"),
        _url_col(i).alias("url"),
        F.timestamp_seconds(F.lit(EPOCH_2024) + i).alias("warc_ts"),
        F.encode(_html_col(i, n, filler_paras), "UTF-8").alias("html"),
        _text_col(i).alias("text"),
        F.lit("en").alias("lang"),
        F.when(i % 97 == 1, F.lit(404)).otherwise(F.lit(200)).alias("status"),
        F.when(i % 41 == 2, F.lit("application/zip"))
        .otherwise(F.lit("text/html"))
        .alias("content_type"),
        F.concat(F.lit("host"), _host_col(i).cast("string"), F.lit(".example.org")).alias(
            "host"
        ),
    )


def edges_df(spark: SparkSession, n: int = N_DEFAULT) -> DataFrame:
    """The formula link graph as a DataFrame, built natively (the relational
    twin of what extract_links produces from the HTML): one row per
    (src_id, src_url, pos, dst_url, is_geo), only from fetchable pages.
    ``pos`` is the plain-link index j (geo link gets pos = outdeg)."""
    base = spark.range(0, n)
    i = F.col("id")
    fetchable = base.filter((i % 97 != 1) & (i % 41 != 2))
    plain = fetchable.select(
        i.alias("src_id"),
        _url_col(i).alias("src_url"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0).cast("long"), (2 + i % 4 - 1)),
                lambda j: _url_col((7 * i + 13 * j + 1) % n),
            )
        ).alias("pos", "dst_url"),
        F.lit(False).alias("is_geo"),
    )
    geo = fetchable.filter(i % 3 == 0).select(
        i.alias("src_id"),
        _url_col(i).alias("src_url"),
        (2 + i % 4).cast("int").alias("pos"),
        _geo_url_col(i).alias("dst_url"),
        F.lit(True).alias("is_geo"),
    )
    return plain.unionByName(geo)


def seeds_df(spark: SparkSession, n: int = N_DEFAULT, k: int = N_SEEDS) -> DataFrame:
    ids = seed_ids(n, k)
    rows = [
        (order, url_of(i), f"Seed {i} geospatial portal topic {i % 7}")
        for order, i in enumerate(ids)
    ]
    return spark.createDataFrame(rows, "seed_order int, url string, description string")


# ---------------------------------------------------------------------------
# Offline feed corpus (xml_docs) — the C10/S6 stand-in for the RSS fetch
# ---------------------------------------------------------------------------
#
# One feed per host at https://host{h}.example.org/feed.xml (every page's
# ``<link type~=xml href="/feed.xml">`` resolves there). Three deliberate
# shapes, value-checking each branch of the Go flat-unmarshal semantics
# (metadata.go:200-211, frozen in kernel.parse_xml_meta):
#
# * even h (except 8): Atom-style root with DIRECT <title>/<description>
#   children → both bind → folded into page metadata;
# * odd h: standard RSS (<rss><channel><title>…) → the flat struct binds
#   NOTHING → fold is a no-op (the reference quirk);
# * h == 8: truncated document → Unmarshal error → feed skipped.


def feed_url_of(h: int) -> str:
    return f"https://host{h}.example.org/feed.xml"


def xml_of_host(h: int) -> str:
    title = f"Feed host {h}"
    desc = f"Host {h} dataset hub"
    if h == 8:  # malformed: unclosed root
        return f'<?xml version="1.0"?><feed><title>{title}</title>'
    if h % 2 == 0:  # Atom-style: direct children of the root bind
        return (
            f'<?xml version="1.0"?><feed><title>{title}</title>'
            f"<description>{desc}</description>"
            f"<entry><title>Entry {h} (never bound)</title></entry></feed>"
        )
    # standard RSS: title/description nested under <channel> — binds nothing
    return (
        f'<?xml version="1.0"?><rss version="2.0"><channel>'
        f"<title>{title}</title><description>{desc}</description>"
        f"</channel></rss>"
    )


def xml_docs_dict() -> dict[str, str]:
    """Oracle-side feed corpus: resolved feed url → xml body."""
    return {feed_url_of(h): xml_of_host(h) for h in range(N_HOSTS)}


def xml_docs_df(spark: SparkSession) -> DataFrame:
    rows = [(u, x) for u, x in xml_docs_dict().items()]
    return spark.createDataFrame(rows, "url string, xml string")


def robots_txt_of_host(h: int) -> str:
    """Synthetic per-host robots.txt, built to exercise every branch of
    ``operators.robots.parse_robots_txt``: the ``*`` group, a mixed-case
    exact-agent line joining the same group ACROSS a blank line (the
    parser's last_was_agent survives skipped lines), trailing comments,
    an empty Disallow (allow-all, ignored), a separator-less noise line,
    Crawl-delay inside a group, an exact-match group that overrides the
    ``*`` group (RFC 9309 precedence), and a non-matching agent group.
    Exists in TWO synchronized forms (this mirror and
    :func:`robots_sql_body` — change together; byte parity pinned in
    tests/test_robots.py)."""
    lines = [
        f"# robots for host{h}",
        "User-Agent: *",
    ]
    if h % 3 == 0:
        lines.append("")
        lines.append("user-agent: GWSSBOT")
    lines.append(f"Disallow: /page/{h % 5}")
    if h % 2 == 0:
        lines.append(f"Crawl-delay: {h % 7}")
    lines.append(f"Disallow: /data/{h % 4}/  # trailing comment")
    lines.append("Disallow:")
    lines.append("noise without separator")
    lines.append("")
    if h % 4 == 1:
        lines.append("User-agent: gwssbot")
        lines.append(f"Disallow: /private/{h % 3}")
    lines.append("User-agent: otherbot")
    lines.append(f"Disallow: /other/{h}")
    return "\n".join(lines)


def robots_docs_df(spark: SparkSession) -> DataFrame:
    """(host, robots_txt) for every corpus host — the per-host robots
    cache table the scheduler's rules are parsed from."""
    rows = [
        (f"host{h}.example.org", robots_txt_of_host(h)) for h in range(N_HOSTS)
    ]
    return spark.createDataFrame(rows, "host string, robots_txt string")


def sitemap_xml_of_host(h: int) -> str:
    """Synthetic per-host sitemap XML: hosts h % 4 == 2 publish a
    sitemapindex (nested ``<sitemap><loc>`` entries, one loc padded with
    whitespace), the rest a urlset of 2 + h % 3 ``<url>`` entries with
    whitespace-padded ``<loc>`` values and lastmod noise. TWO synchronized
    forms (this mirror and :func:`sitemap_sql_bodies` — change together;
    byte parity pinned in tests/test_sitemap.py)."""
    if h % 4 == 2:
        return (
            '<?xml version="1.0"?><sitemapindex>'
            f"<sitemap><loc>https://host{h}.example.org/sitemap_a.xml</loc></sitemap>"
            f"<sitemap><loc> https://host{h}.example.org/sitemap_b.xml </loc></sitemap>"
            "</sitemapindex>"
        )
    entries = "".join(
        f"<url><loc> https://host{h}.example.org/page/{(7 * h + 11 * j) % 50}.html </loc>"
        f"<lastmod>2026-0{1 + (h + j) % 9}-01</lastmod></url>"
        for j in range(2 + h % 3)
    )
    return f'<?xml version="1.0"?><urlset>{entries}</urlset>'


def sitemap_docs_df(spark: SparkSession) -> DataFrame:
    """(host, xml) — the fetched-sitemap cache table, one row per host."""
    rows = [
        (f"host{h}.example.org", sitemap_xml_of_host(h)) for h in range(N_HOSTS)
    ]
    return spark.createDataFrame(rows, "host string, xml string")


def sitemap_sql_bodies() -> str:
    """DuckDB CTE chain rebuilding :func:`sitemap_xml_of_host` byte-for-
    byte → relation ``smbodies(h, xml)``. Inline after a WITH."""
    return f"""
smhosts AS (SELECT unnest(range({N_HOSTS}))::BIGINT AS h),
smparts AS (
  SELECT h, u.j,
         '<url><loc> https://host' || h || '.example.org/page/' ||
         ((7 * h + 11 * u.j) % 50) || '.html </loc><lastmod>2026-0' ||
         (1 + (h + u.j) % 9) || '-01</lastmod></url>' AS e
  FROM smhosts, LATERAL (SELECT unnest(range(2 + h % 3)) AS j) u),
smbodies AS (
  SELECT p.h,
         CASE WHEN p.h % 4 = 2 THEN
           '<?xml version="1.0"?><sitemapindex>' ||
           '<sitemap><loc>https://host' || p.h ||
           '.example.org/sitemap_a.xml</loc></sitemap>' ||
           '<sitemap><loc> https://host' || p.h ||
           '.example.org/sitemap_b.xml </loc></sitemap>' ||
           '</sitemapindex>'
         ELSE
           '<?xml version="1.0"?><urlset>' ||
           string_agg(p.e, '' ORDER BY p.j) || '</urlset>'
         END AS xml
  FROM smparts p GROUP BY p.h)
""".strip()


def robots_sql_body(h_expr: str = "h") -> str:
    """DuckDB expression rebuilding :func:`robots_txt_of_host` byte-for-
    byte from a host index column (concat_ws skips the NULL branches of
    the conditional lines but keeps the empty-string blank lines, exactly
    like the Python list building)."""
    h = h_expr
    return (
        "concat_ws(chr(10),\n"
        f"  '# robots for host' || {h},\n"
        "  'User-Agent: *',\n"
        f"  CASE WHEN {h} % 3 = 0 THEN '' END,\n"
        f"  CASE WHEN {h} % 3 = 0 THEN 'user-agent: GWSSBOT' END,\n"
        f"  'Disallow: /page/' || ({h} % 5),\n"
        f"  CASE WHEN {h} % 2 = 0 THEN 'Crawl-delay: ' || ({h} % 7) END,\n"
        f"  'Disallow: /data/' || ({h} % 4) || '/  # trailing comment',\n"
        "  'Disallow:',\n"
        "  'noise without separator',\n"
        "  '',\n"
        f"  CASE WHEN {h} % 4 = 1 THEN 'User-agent: gwssbot' END,\n"
        f"  CASE WHEN {h} % 4 = 1 THEN 'Disallow: /private/' || ({h} % 3) END,\n"
        "  'User-agent: otherbot',\n"
        f"  'Disallow: /other/' || {h})"
    )


# ---------------------------------------------------------------------------
# DuckDB SQL prelude (independent oracle side)
# ---------------------------------------------------------------------------


def sql_prelude(n: int = N_DEFAULT) -> str:
    """CTE prelude defining ids / hosts / urls / page attrs / edges / seeds,
    arithmetically identical to the generated corpus. Edges originate only
    from fetchable pages (status=200 AND text/html) and include the geo leaf
    links; the in-HTML decoys are (by construction) not in the formula."""
    return f"""
ids AS (SELECT i::BIGINT AS i FROM range({n}) t(i)),
pg AS (
  SELECT i,
         CASE WHEN i % 10 < 3 THEN 0 ELSE 1 + (i % 9) END AS h,
         CASE WHEN i % 97 = 1 THEN 404 ELSE 200 END AS status,
         CASE WHEN i % 41 = 2 THEN 'application/zip' ELSE 'text/html' END AS content_type
  FROM ids),
pgu AS (
  SELECT i, h, status, content_type,
         'https://host' || h || '.example.org/page/' || i || '.html' AS url
  FROM pg),
plain_edges AS (
  SELECT p.i AS src, p.url AS src_url, t.j AS pos,
         'https://host' || (CASE WHEN t.tgt % 10 < 3 THEN 0 ELSE 1 + (t.tgt % 9) END)
           || '.example.org/page/' || t.tgt || '.html' AS dst,
         FALSE AS is_geo
  FROM pgu p, LATERAL (
      SELECT u.j, ((7 * p.i + 13 * u.j + 1) % {n}) AS tgt
      FROM (SELECT unnest(range(2 + (p.i % 4))) AS j) u) t
  WHERE p.status = 200 AND p.content_type = 'text/html'),
geo_edges AS (
  SELECT i AS src, url AS src_url, (2 + (i % 4)) AS pos,
         'https://host' || h || '.example.org/data/file_' || i || '.' ||
           (['zip','csv','geojson','kml','tif'][(i % 5)::INT + 1]) AS dst,
         TRUE AS is_geo
  FROM pgu
  WHERE i % 3 = 0 AND status = 200 AND content_type = 'text/html'),
edges AS (SELECT * FROM plain_edges UNION ALL SELECT * FROM geo_edges),
seeds AS (
  SELECT row_number() OVER (ORDER BY i) - 1 AS seed_order, url
  FROM pgu WHERE i % 23 = 3 ORDER BY i LIMIT {N_SEEDS})
""".strip()
