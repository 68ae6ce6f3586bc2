"""URL canonicalization for web-corpus dedup (training-data prep).

Crawl corpora carry the same page under many spellings — scheme/host
case, default ports, fragments, tracking parameters, parameter order,
trailing slashes. Canonicalizing BEFORE exact/near dedup is the stage
that actually collapses them (CCNet/CommonCrawl pipelines do this
first). Everything here is pure Column expressions — string splits,
regexes, and array higher-order functions (filter + sort on query
params) — JVM-side with an exact DuckDB oracle.

Canonical form (documented spec, applied in this order):
1. fragment stripped;
2. scheme and authority lowercased (path/query case preserved);
3. ``www.`` prefix and the scheme's default port (``:80`` http,
   ``:443`` https) stripped from the host;
4. tracking params removed (``utm_*``, ``fbclid``, ``gclid``),
   remaining params SORTED (order-insensitive equality);
5. trailing ``/`` stripped from a non-root path; empty path -> ``/``.

No reference counterpart (SURVEY.md §2.4 north-rule addition; the
input_hint's `url` column is the natural key this feeds).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from skyway_spark.plans.session import local_frame

TRACKING_RE = r"^(utm_[a-z]+|fbclid|gclid)="


def host_of(url: Column) -> Column:
    """Lowercased authority without userinfo/port/www (grouping key
    for per-site statistics)."""
    rest = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    auth = F.lower(F.regexp_extract(rest, r"^([^/?#]*)", 1))
    no_user = F.regexp_replace(auth, r"^[^@]*@", "")
    no_port = F.regexp_replace(no_user, r":[0-9]+$", "")
    return F.regexp_replace(no_port, r"^www\.", "")


def canonicalize_url(url: Column) -> Column:
    u = F.regexp_replace(url, r"#.*$", "")  # 1. fragment
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    auth = F.lower(F.regexp_extract(rest, r"^([^/?#]*)", 1))  # 2.
    host = F.regexp_replace(
        F.when(scheme == "http", F.regexp_replace(auth, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, r":443$", ""))
        .otherwise(auth),
        r"^www\.",
        "",
    )  # 3.
    tail = F.regexp_replace(rest, r"^[^/?#]*", "")
    path = F.substring_index(tail, "?", 1)
    query = F.regexp_extract(tail, r"\?(.*)$", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_RE),
        )
    )  # 4.
    qstr = F.array_join(kept, "&")
    path2 = F.regexp_replace(path, r"/$", "")  # 5.
    path3 = F.when(path2 == "", "/").otherwise(path2)
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path3,
        F.when(qstr == "", "").otherwise(F.concat(F.lit("?"), qstr)),
    )


def url_host_stats(docs: DataFrame) -> DataFrame:
    """Per-host corpus stats over canonical urls: page count, distinct
    canonical urls (dup collapse visible as n_docs > n_canonical), and
    the lexicographic min canonical url as a stable exemplar."""
    canon = docs.select(
        host_of(F.col("url")).alias("host"),
        canonicalize_url(F.col("url")).alias("canon"),
    )
    return canon.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("canon").alias("n_canonical"),
        F.min("canon").alias("first_url"),
    )


def host_suffixes(host: Column) -> Column:
    """array of the host's dot-suffixes, most-specific first:
    ``a.b.example.com`` -> [a.b.example.com, b.example.com,
    example.com, com] (capped at 6 labels).  The standard
    key expansion for suffix-set membership (public-suffix lists,
    domain blocklists) — turns "host ends with .d OR equals d" into a
    plain equi-join."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    idx = F.sequence(F.least(n, F.lit(6)), F.lit(1), F.lit(-1))
    return F.transform(
        idx, lambda i: F.array_join(F.slice(labels, n - i + 1, i), ".")
    )


def filter_blocklist(docs: DataFrame, blocklist: list[str]) -> DataFrame:
    """Drop documents whose url host falls under any blocklisted
    domain SUFFIX (host == d or host ends with ``.d`` — the standard
    domain-blocklist semantics).  Returns the kept rows unchanged.

    Scale shape: the host explodes into its <= 6 dot-suffixes and the
    drop test is a broadcast LEFT ANTI equi-join against the blocklist
    — works unchanged when the blocklist is 10^6 domains (a few MB
    broadcast), where a per-domain LIKE chain or literal-array scan
    would not.  The suffix explode is a row-local array op; only
    (row-key, suffix) pairs enter the join, never the document body —
    and the anti-join keys back to the row by Spark's monotonic id,
    so callers need no unique column.
    """
    bl = local_frame(docs.sparkSession, [(d.lower(),) for d in blocklist], "sfx string")
    keyed = docs.withColumn("__rk", F.monotonically_increasing_id())
    sfx = keyed.select(
        "__rk", F.explode(host_suffixes(host_of(F.col("url")))).alias("sfx")
    )
    blocked = sfx.join(F.broadcast(bl), "sfx").select("__rk").distinct()
    return keyed.join(blocked, "__rk", "left_anti").drop("__rk")


def robots_apply(pages: DataFrame, rules: DataFrame) -> DataFrame:
    """Apply robots.txt-style path rules to URLs with longest-match
    precedence (the public robots exclusion protocol, RFC 9309 §2.2.2:
    the most specific — longest — matching rule wins; on a length tie
    the ALLOW rule wins).  ``rules``: (host, prefix, allow) where an
    empty prefix is the match-all default.  URLs on hosts with no rule
    row are implicitly allowed — crawl politeness never drops a host
    for missing robots.

    Output: (url, host, path, allowed, rule_len).

    Scale shape: robots rule tables are dimension-sized (a few rules
    per host), so the join is an explicit BROADCAST on host; the
    longest-match argmax is a per-URL max_by over the handful of
    matched rules — aggregate state O(1) per URL, corpus never
    shuffles (broadcast join + map-side-combinable groupBy keyed by
    url).  At 10^12 pages this is a pure scan + one aggregate.
    """
    host = host_of(F.col("url"))
    rest = F.regexp_replace(F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    path = F.when(rest == "", F.lit("/")).otherwise(rest)
    u = pages.select(F.col("url"), host.alias("host"), path.alias("path"))
    r = rules.select(
        F.col("host"), F.col("prefix"), F.col("allow").cast("boolean").alias("allow")
    )
    m = u.join(F.broadcast(r), "host", "left").where(
        F.col("prefix").isNull() | F.col("path").startswith(F.col("prefix"))
    )
    # verdict = max_by over (len(prefix), allow): longest rule wins,
    # allow beats disallow on a tie; unmatched hosts (null prefix)
    # carry (-1, true) so the default-allow row never outranks a rule
    key = F.struct(
        F.coalesce(F.length("prefix"), F.lit(-1)).alias("l"),
        F.coalesce(F.col("allow"), F.lit(True)).alias("a"),
    )
    return (
        m.groupBy("url", "host", "path")
        .agg(F.max(key).alias("best"))
        .select(
            "url",
            "host",
            "path",
            F.col("best.a").alias("allowed"),
            F.col("best.l").alias("rule_len"),
        )
    )


def url_templates(pages: DataFrame) -> DataFrame:
    """URL pattern mining: collapse every URL path to its TEMPLATE
    (digit runs -> ``{d}``, query/fragment stripped) and count per
    host — the crawl-side structure discovery that feeds dedup
    canonicalization rules and sitemap inference (a host whose million
    URLs are one template is a database dump, not a million pages).

    Output: (host, template, n_urls, n_distinct_urls).

    Scale shape: host/path/template are scan-stage regex Columns; the
    only shuffle is the map-side-combined groupBy on (host, template)
    — output is template-space-sized, not corpus-sized."""
    host = host_of(F.col("url"))
    rest = F.regexp_replace(F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    path = F.regexp_replace(rest, r"[?#].*$", "")
    template = F.regexp_replace(path, "[0-9]+", "{d}")
    return (
        pages.select(host.alias("host"), template.alias("template"),
                     F.col("url").alias("u"))
        .groupBy("host", "template")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("u").alias("n_distinct_urls"),
        )
    )


def crawl_budget(
    docs: DataFrame, budget: int, host_col: str = "source"
) -> DataFrame:
    """Apportion a total crawl budget across hosts proportionally to
    their observed document counts with the LARGEST-REMAINDER method
    (Hamilton apportionment): every host gets floor(budget*n/total),
    and the leftover seats go to the largest remainders (tie: host
    asc). Exactly ``budget`` fetches are allocated, all-integer — no
    float proportional shares that drift or over/under-allocate.

    Scale shape: one corpus-sized groupBy to host counts; everything
    after (total, remainder rank) runs on the HOST-sized aggregate —
    the rank is a single window over that small table, and the total
    rides a broadcast single-row crossJoin.

    Output: (host, n_docs, alloc) with SUM(alloc) == budget.

    Exact-arithmetic domain (r5 review): the proportional share is the
    int64 product ``budget * n_docs``, so budget * max-host-count must
    stay below 2^63 (e.g. a 10^9 budget is safe up to ~9.2e9 docs on
    one host).  budget == 0 allocates 0 everywhere (leftover == 0).
    """
    from pyspark.sql import Window

    counts = docs.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = counts.agg(F.sum("n_docs").cast("long").alias("total"))
    w = counts.crossJoin(F.broadcast(tot)).select(
        "host",
        "n_docs",
        F.expr(f"({budget} * n_docs) div total").alias("base"),
        F.expr(f"({budget} * n_docs) % total").alias("rem"),
    )
    leftover = F.lit(budget) - F.sum("base").over(
        Window.partitionBy()
    )
    rk = F.row_number().over(
        Window.partitionBy().orderBy(F.col("rem").desc(), F.col("host").asc())
    )
    return w.select(
        "host", "n_docs",
        (F.col("base") + F.when(rk <= leftover, 1).otherwise(0)).alias("alloc"),
    )
