"""Web link-graph operators over Common-Crawl-style pages: href
extraction from raw ``html`` bytes, host-level graph aggregation,
anchor-text mining, and DOM/markup statistics.

This is the webtext face of the north rule's spatial-join engine: the
same pages table whose ``text`` feeds geo-entity extraction
(operators/extract.py) carries an ``html:binary`` column whose anchor
tags induce the host graph that ranking / crawl-frontier / quality
pipelines need.  Reference parity: skyway itself has no link
extraction (it is an OSM converter); these operators are north-rule
additions in the style of its tag-selector pipelines
(`/root/reference/src/filters/mod.rs` consumes per-element tag maps
the way these consume per-page href lists).

Scale shape:
- ``extract_links`` is pure scan-stage Column work (decode + JVM
  regexp + explode) — zero shuffles, codegen throughout, linear in
  corpus bytes; at 10^12 pages it rides the same parquet scan as every
  other per-page operator.
- ``host_graph`` / ``anchor_terms`` shuffle only (host, host) /
  (host, word) pairs — the post-explode aggregate is map-side
  combined, so the shuffle is edge-vocabulary-sized, never
  corpus-sized.
- ``dom_stats`` is one map-side-combined groupBy on host.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_A_TAG = r'<a href="([^"]+)">([^<]*)</a>'
_HOST = r"^https?://([^/]+)[/$]?"


def extract_links(pages: DataFrame) -> DataFrame:
    """(src_url, src_host, link_no, href, dst_host, anchor) — one row
    per ``<a href>`` tag in ``html``, in document order.  ``html`` is
    decoded UTF-8 in the scan stage; both regexp passes (tag split,
    group extraction) stay inside whole-stage codegen."""
    tags = pages.select(
        F.col("url").alias("src_url"),
        F.regexp_extract(F.col("url"), _HOST, 1).alias("src_host"),
        F.posexplode(
            F.regexp_extract_all(F.decode(F.col("html"), "utf-8"), F.lit(_A_TAG), 0)
        ).alias("link_no", "tag"),
    )
    return tags.select(
        "src_url",
        "src_host",
        "link_no",
        F.regexp_extract(F.col("tag"), _A_TAG, 1).alias("href"),
        F.regexp_extract(F.regexp_extract(F.col("tag"), _A_TAG, 1), _HOST, 1).alias(
            "dst_host"
        ),
        F.regexp_extract(F.col("tag"), _A_TAG, 2).alias("anchor"),
    )


def host_graph(links: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links, n_pages) — the host-level edge
    list with multiplicity and distinct-source-page support.  One
    map-side-combined shuffle keyed by the host pair."""
    return links.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("src_url").alias("n_pages"),
    )


def anchor_terms(links: DataFrame, top: int = 2) -> DataFrame:
    """(dst_host, term, n, rk) — the ``top`` most frequent anchor-text
    words pointing at each host (tie-break: lexicographic term), the
    classic anchor-text signal for target-page description.  Shuffles
    (host, word) counts, then a host-partitioned window over the
    aggregate (vocabulary-sized, never corpus-sized)."""
    from pyspark.sql import Window

    words = links.select(
        "dst_host", F.explode(F.split(F.col("anchor"), " ")).alias("term")
    ).where(F.col("term") != "")
    counts = words.groupBy("dst_host", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("dst_host").orderBy(F.desc("n"), F.asc("term"))
    return counts.select(
        "dst_host", "term", "n", F.row_number().over(w).alias("rk")
    ).where(F.col("rk") <= top)


def dom_stats(pages: DataFrame) -> DataFrame:
    """(src_host, n_pages, n_tags, n_links, html_bytes, text_chars) —
    per-host markup census: total opening tags, anchor tags, raw html
    bytes and extracted-text length.  The markup-to-text ratio these
    carry is the standard boilerplate/quality feature for web corpora;
    kept as exact integer sums so downstream thresholds are
    engine-portable.  Single map-side-combined groupBy."""
    h = F.decode(F.col("html"), "utf-8")
    return (
        pages.select(
            F.regexp_extract(F.col("url"), _HOST, 1).alias("src_host"),
            F.regexp_count(h, F.lit(r"<[a-z]+")).cast("long").alias("tags"),
            F.regexp_count(h, F.lit(r"<a href")).cast("long").alias("links"),
            F.length(F.col("html")).cast("long").alias("hbytes"),
            F.length(F.col("text")).cast("long").alias("tchars"),
        )
        .groupBy("src_host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("tags").alias("n_tags"),
            F.sum("links").alias("n_links"),
            F.sum("hbytes").alias("html_bytes"),
            F.sum("tchars").alias("text_chars"),
        )
    )


def crawl_frontier(links: DataFrame, crawled_urls: DataFrame, k: int = 50) -> DataFrame:
    """Crawl-frontier scheduling: the top-``k`` uncrawled target URLs
    ranked by (distinct referring hosts DESC, total in-links DESC,
    url ASC) — the standard indegree-diversity priority for what to
    fetch next.

    Output: (href, n_hosts, n_refs) — exactly ``k`` rows (or fewer if
    the frontier is smaller); the tie-break chain ends on the unique
    url, so the cut is deterministic on any engine.

    Scale shape: one left-anti join keyed by url against the crawled
    set (AQE broadcasts whichever side is small; at web scale both
    sides co-partition on the url hash), one map-side-combined groupBy
    on the frontier url, and a TakeOrdered top-k — the full frontier is
    never globally sorted."""
    cand = links.join(
        crawled_urls.select(F.col("url").alias("href")), "href", "left_anti"
    )
    scores = cand.groupBy("href").agg(
        F.countDistinct("src_host").alias("n_hosts"),
        F.count(F.lit(1)).alias("n_refs"),
    )
    return scores.orderBy(
        F.desc("n_hosts"), F.desc("n_refs"), F.asc("href")
    ).limit(k)


def cocitation(links: DataFrame, min_count: int = 2) -> DataFrame:
    """Co-citation host similarity: hosts are similar when the same
    pages link to BOTH (Small 1973, applied to the web graph) — the
    classic related-site signal that needs no content features.

    Pipeline: per source page, the DISTINCT set of cited hosts; one
    self-equi-join on src_url emits each unordered host pair once
    (h1 < h2); a count groupBy yields the co-citation strength.

    Scale shape: the fan-out per page is C(hosts-per-page, 2) — a
    page-layout constant (pages cite a handful of hosts), NOT corpus
    size; the join is keyed by src_url so AQE handles hub pages, and
    the text/html never enters. Exact integer counts.

    Output: (host_a, host_b, n_pages) with n_pages >= min_count.
    """
    per_page = links.select("src_url", "dst_host").distinct()
    a = per_page.select("src_url", F.col("dst_host").alias("host_a"))
    b = per_page.select("src_url", F.col("dst_host").alias("host_b"))
    return (
        a.join(b, "src_url")
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .where(F.col("n_pages") >= min_count)
    )


def bibliographic_coupling(links: DataFrame, min_count: int = 2) -> DataFrame:
    """Bibliographic-coupling host similarity: hosts are similar when
    they link to the SAME targets (Kessler 1963 on the web graph) —
    the out-link dual of [[cocitation]], and the signal that works for
    NEW hosts nobody cites yet.

    Pipeline: DISTINCT (src_host, dst_host) edges; one self-equi-join
    keyed by dst_host emits each unordered citing pair once
    (a < b); a count groupBy yields the number of shared targets.

    Scale shape: fan-out per target is C(citers, 2) — quadratic in a
    target's citing-host count, so universally-cited hub targets
    (the web's "stop hosts") dominate; AQE handles the skew.
    Page text/html never enters the shuffle.

    Output: (host_a, host_b, n_shared) with n_shared >= min_count.
    """
    e = links.select("src_host", "dst_host").distinct()
    a = e.select("dst_host", F.col("src_host").alias("host_a"))
    b = e.select("dst_host", F.col("src_host").alias("host_b"))
    return (
        a.join(b, "dst_host")
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_count)
    )


def link_reciprocity(links: DataFrame) -> DataFrame:
    """Per-host link reciprocity — the share of a host's distinct
    out-neighbors that link back.  Low reciprocity on a high-out-degree
    host is the classic link-farm / SEO-spam shape (directed-graph
    reciprocity, Garlaschelli & Loffredo 2004); legitimate communities
    inter-cite.

    Pipeline: DISTINCT host edges with self-loops dropped; mutual
    edges via one left-semi join against the reversed edge list; two
    host-keyed count aggregates joined on host.

    Scale shape: everything downstream of the first DISTINCT is
    host-edge-sized (graph vocabulary, not corpus); the semi join is
    an equi-join on the reversed pair key; counts are map-side
    combined.  Exact integers; the ratio is a single division.

    Output: (host, n_out, n_mutual, reciprocity) sorted nowhere —
    callers order as needed.
    """
    e = (
        links.select("src_host", "dst_host")
        .where(F.col("src_host") != F.col("dst_host"))
        .distinct()
    )
    rev = e.select(
        F.col("dst_host").alias("src_host"), F.col("src_host").alias("dst_host")
    )
    mutual = e.join(rev, ["src_host", "dst_host"], "left_semi")
    out_deg = e.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).alias("n_out")
    )
    mut_deg = mutual.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).alias("n_mutual")
    )
    return (
        out_deg.join(mut_deg, "host", "left")
        .select(
            "host",
            "n_out",
            F.coalesce("n_mutual", F.lit(0)).alias("n_mutual"),
            (
                F.coalesce("n_mutual", F.lit(0)).cast("double")
                / F.col("n_out").cast("double")
            ).alias("reciprocity"),
        )
    )


def extract_tables(pages: DataFrame) -> DataFrame:
    """HTML table extraction — the WDC-web-tables primitive: pull
    every <table> from every page and emit one row per CELL with its
    (table, row, col) position, so downstream relational ops can treat
    the web's tables as data.

    Three-level lazy-quantifier regex descent (<table> -> <tr> ->
    <td>), each level its OWN posexplode projection (generators cannot
    nest in one expression, and separate selects keep each regex
    whole-stage-codegen'd).  Attributes on the tags are tolerated
    ([^>]*); nested tables are out of scope (documented, like every
    regex-based table corpus).

    Scale shape: pure scan-stage explodes — zero shuffles; html never
    leaves the scan (only the matched fragments survive projection).

    Output: (url, table_idx, row_idx, col_idx, cell) — 0-based indices.
    """
    h = F.decode(F.col("html"), "utf-8") if dict(pages.dtypes)["html"] == "binary" \
        else F.col("html")
    tables = pages.select(
        F.col("url"),
        F.posexplode(
            F.regexp_extract_all(h, F.lit(r"<table[^>]*>(.*?)</table>"), 1)
        ).alias("table_idx", "tbl"),
    )
    rows = tables.select(
        "url",
        "table_idx",
        F.posexplode(
            F.regexp_extract_all("tbl", F.lit(r"<tr[^>]*>(.*?)</tr>"), 1)
        ).alias("row_idx", "row"),
    )
    return rows.select(
        "url",
        "table_idx",
        "row_idx",
        F.posexplode(
            F.regexp_extract_all("row", F.lit(r"<td[^>]*>(.*?)</td>"), 1)
        ).alias("col_idx", "cell"),
    )
