"""URL canonicalization + URL-level dedup — the step a web-corpus
pipeline runs BEFORE any content dedup (RefinedWeb, Penedo et al.
2023 §3.1: exact-URL dedup of the crawl frontier; CCNet-style
pipelines do the same on the WARC index). Two crawls of the same
page differ in scheme case, WWW prefix, default ports, tracking
query parameters, parameter ORDER, trailing slashes, and fragments
— canonicalization folds those, then one hash aggregate keeps the
smallest doc_id per canonical URL.

All JVM built-ins (regexp_extract / regexp_replace / split / filter
/ sort_array / array_join) — whole-stage codegen end to end, zero
Python crossings; the dedup itself is ONE map-side-combinable
aggregate on the canonical string, so at 10^12 URLs this is a scan
plus a single key-sized exchange (the same shape as dedup_exact).

Canonical form (documented, deliberately conservative — http and
https stay DISTINCT; only provably-equivalent forms fold):
  1. scheme lowercased;
  2. hostport lowercased, one leading "www." stripped, an explicit
     default port (":80"/":443") stripped;
  3. fragment dropped;
  4. query string split on "&", empty params and tracking params
     (utm_*, ref=, fbclid=, gclid=) dropped, the survivors sorted
     bytewise and re-joined (param order is not semantic per
     RFC 3986 §3.4 for the overwhelming majority of endpoints —
     the classic crawler normalization);
  5. trailing "/" stripped from a non-root path; an empty path
     becomes "/".
Percent-encoding case-folding and dot-segment removal are out of
scope (each needs a char-level rewrite the corpus synthesized here
never produces; documented rather than half-done).

The reference engine has no URL stage (it consumes pre-fetched
bytes, /root/reference/src/api/main.py:61); this module is part of
the engine-breadth mandate (training-data pipeline operators).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "synth_urls",
    "canonicalize",
    "url_dedup",
    "host_dup_stats",
    "TRACKING_PREFIXES",
]

# dropped wholesale: analytics/campaign params that never change the
# resource (Google Analytics utm_*; bare referrer tags; the Facebook
# and Google click ids)
TRACKING_PREFIXES = ("utm_", "ref=", "fbclid=", "gclid=")

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
_QUERY_RE = r"\?([^#]*)"


def synth_urls(df: DataFrame) -> DataFrame:
    """Deterministic synthetic crawl URLs over the documents table
    (doc_id, source, lang) — the fixture generator for the URL
    family, same role as synth.py for spans and pdf_io.render_table
    for bytes. Each doc_id yields exactly one URL whose raw form
    varies scheme case, WWW, an explicit default port, path
    trailing-slash, tracking params, param order, and a fragment —
    while its CANONICAL form collapses onto (scheme parity, source,
    item bucket, id bucket), so real duplicate groups exist at every
    SF. Pure expression, zero exchanges."""
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("http")).otherwise(F.lit("HTTPS"))
    www = F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    port = F.when(
        d % 5 == 0,
        F.when(d % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
    ).otherwise(F.lit(""))
    path = F.concat(
        F.lit("/item/"),
        (d % 10).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    p_id = F.concat(F.lit("id="), (d % 5).cast("string"))
    p_utm = F.concat(F.lit("utm_source="), F.col("source"))
    qs = F.when(
        d % 3 == 0, F.concat(p_id, F.lit("&"), p_utm)
    ).otherwise(F.concat(p_utm, F.lit("&ref=home&"), p_id))
    frag = F.when(d % 7 == 0, F.lit("#sec")).otherwise(F.lit(""))
    url = F.concat(
        scheme,
        F.lit("://"),
        www,
        F.col("source"),
        F.lit(".Example.COM"),
        port,
        path,
        F.lit("?"),
        qs,
        frag,
    )
    return df.select("doc_id", url.alias("url"))


def _canon_col(url: Column) -> Column:
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    host = F.lower(F.regexp_extract(url, _HOSTPORT_RE, 1))
    host = F.regexp_replace(host, r"^www\.", "")
    # default-port stripping is SCHEME-AWARE: only the port that is
    # the scheme's own default is redundant ('https://h:80' is a
    # real, distinct resource — folding it would break the module's
    # only-provably-equivalent contract; round-5 review finding)
    host = F.when(
        scheme == F.lit("http"), F.regexp_replace(host, r":80$", "")
    ).when(
        scheme == F.lit("https"), F.regexp_replace(host, r":443$", "")
    ).otherwise(host)
    path = F.regexp_extract(url, _PATH_RE, 1)
    path = F.when(path == F.lit(""), F.lit("/")).otherwise(
        F.when(path == F.lit("/"), F.lit("/")).otherwise(
            F.regexp_replace(path, r"/$", "")
        )
    )
    qs = F.regexp_extract(url, _QUERY_RE, 1)
    keep = F.filter(
        F.split(qs, r"&"),
        lambda p: functools.reduce(
            lambda cond, prefix: cond & ~p.startswith(prefix),
            TRACKING_PREFIXES,
            p != F.lit(""),
        ),
    )
    qs_c = F.array_join(F.sort_array(keep), "&")
    # regexp_extract returns '' (not NULL) on no match: a non-URL
    # string has scheme '' and would otherwise collapse every
    # malformed row onto the single canon ':///', making unrelated
    # junk rows "duplicates" of each other — NULL marks unparseable
    return F.when(scheme == F.lit(""), F.lit(None)).otherwise(
        F.concat(
            scheme,
            F.lit("://"),
            host,
            path,
            F.when(qs_c == F.lit(""), F.lit("")).otherwise(
                F.concat(F.lit("?"), qs_c)
            ),
        )
    )


def canonicalize(df: DataFrame, url_col: str = "url") -> DataFrame:
    """doc_id, url, canon_url — the per-row canonical form (steps 1-5
    of the module contract). Scan-shaped: one projection, pushes
    through the parquet scan, no exchange."""
    return df.select(
        "doc_id", url_col, _canon_col(F.col(url_col)).alias("canon_url")
    )


def url_dedup(df: DataFrame, url_col: str = "url") -> DataFrame:
    """canon_url, n_docs, keep_doc_id — one group per canonical URL
    with its crawl multiplicity and the kept (smallest) doc_id. ONE
    hash aggregate with map-side partials on the canonical string;
    the groups-only output is what the frontier-dedup join consumes
    (anti-join new fetches against keep_doc_id, dedup_incremental
    style)."""
    return (
        canonicalize(df, url_col)
        # unparseable rows (canon NULL) are quarantine territory,
        # not dedup candidates — they must never group together
        .filter(F.col("canon_url").isNotNull())
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
        )
    )


def host_dup_stats(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-host crawl duplication share — the crawl-ops view ("which
    hosts serve the same page under many URLs") that prioritizes
    canonical-URL handling and recrawl budgets. host = the canonical
    hostport (lowercased, www/default-port stripped, same rules as
    canonicalize step 2).

    Columns: host, n_urls (crawled rows), n_canonical (distinct
    canonical URLs), dup_permille = (n_urls - n_canonical) * 1000
    DIV n_urls.

    Scale shape: ONE exact count-distinct aggregate keyed by host —
    Spark plans it as the standard two-level partial-distinct expand
    (map-side (host, canon_url) dedup first), so the exchange carries
    distinct pairs, not rows; output is host-cardinality-sized."""
    scheme = F.lower(F.regexp_extract(F.col(url_col), _SCHEME_RE, 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(F.col(url_col), _HOSTPORT_RE, 1)),
        r"^www\.",
        "",
    )
    host = F.when(
        scheme == F.lit("http"), F.regexp_replace(host, r":80$", "")
    ).when(
        scheme == F.lit("https"), F.regexp_replace(host, r":443$", "")
    ).otherwise(host)
    return (
        canonicalize(df, url_col)
        .select(host.alias("host"), "canon_url")
        .filter(F.col("canon_url").isNotNull())
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.countDistinct("canon_url").cast("long").alias("n_canonical"),
        )
        .withColumn(
            "dup_permille",
            F.expr("(n_urls - n_canonical) * 1000 DIV n_urls"),
        )
    )
