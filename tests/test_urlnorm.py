"""Exactness tests for urlnorm.canonicalize / url_dedup on hand-built
URLs (the oracle-equivalence side over synth_urls is covered by
parity_harness), plus a plan pin: canonicalize is scan-shaped with
zero exchanges."""

from __future__ import annotations

from pyspark.sql import functions as F


def _urls(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, url string")


def _canon(spark, url):
    from two_tier_document_parser_spark.urlnorm import canonicalize

    return canonicalize(_urls(spark, [(1, url)])).collect()[0].canon_url


def test_canonical_folds_equivalent_forms(spark):
    """Six raw spellings of the same resource collapse to one form."""
    from two_tier_document_parser_spark.urlnorm import canonicalize

    raws = [
        "HTTP://WWW.a.Example.COM:80/item/3/?utm_source=x&id=2",
        "http://a.example.com/item/3?id=2",
        "http://a.example.com:80/item/3?id=2&ref=home",
        "http://www.a.example.com/item/3/?id=2#frag",
        "http://A.EXAMPLE.com/item/3?fbclid=zz&id=2&gclid=yy",
        "http://a.example.com/item/3?id=2&utm_campaign=spring",
    ]
    got = {
        r.canon_url
        for r in canonicalize(
            _urls(spark, list(enumerate(raws)))
        ).collect()
    }
    assert got == {"http://a.example.com/item/3?id=2"}


def test_canonical_param_order_and_sorting(spark):
    assert (
        _canon(spark, "https://h.net/p?b=2&a=1&utm_x=9")
        == "https://h.net/p?a=1&b=2"
    )


def test_canonical_schemes_stay_distinct(spark):
    """http and https are NOT folded (documented conservative rule);
    :443 only strips when explicit, regardless of scheme."""
    assert _canon(spark, "http://h.net/p") == "http://h.net/p"
    assert _canon(spark, "https://h.net:443/p") == "https://h.net/p"
    assert _canon(spark, "HtTpS://h.net/p") == "https://h.net/p"


def test_canonical_root_path_and_empty_query(spark):
    assert _canon(spark, "http://h.net?utm_a=1") == "http://h.net/"
    assert _canon(spark, "http://h.net/") == "http://h.net/"
    assert _canon(spark, "http://h.net#top") == "http://h.net/"


def test_canonical_nondefault_port_kept(spark):
    assert _canon(spark, "http://h.net:8080/p/") == "http://h.net:8080/p"


def test_canonical_www_only_leading_once(spark):
    assert _canon(spark, "http://www.www.h.net/p") == "http://www.h.net/p"
    assert _canon(spark, "http://awww.h.net/p") == "http://awww.h.net/p"


def test_url_dedup_groups_and_keeps_min(spark):
    from two_tier_document_parser_spark.urlnorm import url_dedup

    rows = [
        (7, "http://h.net/p?id=1"),
        (3, "HTTP://WWW.h.net:80/p/?id=1&utm_s=x"),
        (9, "http://h.net/p?id=2"),
    ]
    got = {
        r.canon_url: (r.n_docs, r.keep_doc_id)
        for r in url_dedup(_urls(spark, rows)).collect()
    }
    assert got == {
        "http://h.net/p?id=1": (2, 3),
        "http://h.net/p?id=2": (1, 9),
    }


def test_canonicalize_plan_has_no_exchange(spark):
    """Scale pin: canonicalization is a pure projection — the physical
    plan over a parquet-backed table must contain no Exchange, and the
    scan must prune to exactly the two columns synth_urls touches.
    (The higher-order array filter keeps the project out of
    whole-stage codegen, but it is still a single JVM-side stage.)"""
    import os

    from two_tier_document_parser_spark.urlnorm import canonicalize, synth_urls

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = (
        canonicalize(synth_urls(docs))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan


def test_canonicalize_is_idempotent_on_corpus(spark):
    """canon(canon(url)) == canon(url) over the whole synthetic
    corpus — the canonical form is a fixed point (a frontier that
    re-enqueues canonical URLs must not re-normalize them away)."""
    import os

    from two_tier_document_parser_spark.urlnorm import (
        canonicalize,
        synth_urls,
    )

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    once = canonicalize(synth_urls(docs)).select(
        "doc_id", F.col("canon_url").alias("url")
    )
    twice = canonicalize(once)
    n_fixed = twice.filter(F.col("canon_url") == F.col("url")).count()
    assert n_fixed == twice.count()


def test_default_port_strip_is_scheme_aware(spark):
    """':80' is only redundant under http and ':443' only under
    https — 'https://h:80/x' is a REAL distinct resource and must not
    fold (round-5 review finding; the fold would silently drop a
    document at dedup)."""
    from two_tier_document_parser_spark.urlnorm import canonicalize

    rows = [
        (1, "http://h.net:80/x"),
        (2, "https://h.net:443/x"),
        (3, "https://h.net:80/x"),
        (4, "http://h.net:443/x"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r["canon_url"] for r in canonicalize(d).collect()}
    assert got[1] == "http://h.net/x"
    assert got[2] == "https://h.net/x"
    assert got[3] == "https://h.net:80/x"  # kept: not the default
    assert got[4] == "http://h.net:443/x"


def test_malformed_urls_canonicalize_to_null_not_shared_key(spark):
    """Non-URL strings must not collapse onto one shared canonical
    form (':///') — canon is NULL and url_dedup excludes them, so
    junk rows never become 'duplicates' of each other."""
    from two_tier_document_parser_spark.urlnorm import (
        canonicalize,
        url_dedup,
    )

    rows = [
        (1, "not-a-url"),
        (2, ""),
        (3, "http://ok.net/x"),
        (4, "also garbage"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r["canon_url"] for r in canonicalize(d).collect()}
    assert got[1] is None and got[2] is None and got[4] is None
    assert got[3] == "http://ok.net/x"
    groups = url_dedup(d).collect()
    assert [(g["canon_url"], g["n_docs"]) for g in groups] == [
        ("http://ok.net/x", 1)
    ]
