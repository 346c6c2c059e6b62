"""warc_io: scalar framing invariants + Spark round-trip + the bloom
decontamination scale path's one-sided-error contract."""

from __future__ import annotations

import zlib

from two_tier_document_parser_spark.warc_io import (
    _URI_PREFIX,
    _gzip_member,
    _record,
    parse_warc,
    write_warc,
)


RECS = [
    ("d1", b"<html><body><p>hello world</p></body></html>"),
    ("d2", b"<html><p>x</p></html>"),
    ("d3", b""),  # empty body is a legal response
]


def test_roundtrip_and_determinism():
    blob = write_warc(RECS)
    assert parse_warc(blob) == RECS
    assert write_warc(RECS) == blob  # byte-identical on re-serialize


def test_non_response_records_skipped():
    # the file preamble is a warcinfo record; inject a request record
    # too — neither may surface as a document
    req = _gzip_member(
        _record(
            "request",
            [("WARC-Target-URI", _URI_PREFIX + "d1")],
            b"GET / HTTP/1.1\r\n\r\n",
        )
    )
    blob = write_warc(RECS[:1]) + req + write_warc(RECS[1:2])
    assert parse_warc(blob) == RECS[:2]


def test_content_length_framing_exact():
    # a body embedding WARC-looking and blank-line bytes must not
    # confuse framing: Content-Length governs, byte-exactly
    tricky = b"<p>a</p>\r\n\r\nWARC/1.0\r\n\r\n<p>b</p>"
    blob = write_warc([("t1", tricky), ("t2", b"<i>ok</i>")])
    assert parse_warc(blob) == [("t1", tricky), ("t2", b"<i>ok</i>")]


def test_malformed_member_stops_file_keeps_prior():
    good = write_warc(RECS[:2])
    blob = good + b"\x1f\x8b\x08garbage-not-a-member" + write_warc(RECS[2:])
    # sequential framing: records before the corrupt member survive,
    # the rest of the file is dropped, nothing raises
    assert parse_warc(blob) == RECS[:2]


def test_truncated_trailing_member_dropped():
    good = write_warc(RECS[:1])
    tail = _gzip_member(b"WARC/1.0\r\nContent-Length: 5\r\n\r\nhello\r\n\r\n")
    assert parse_warc(good + tail[: len(tail) // 2]) == RECS[:1]


def test_bad_content_length_stops_file():
    bad = _gzip_member(b"WARC/1.0\r\nContent-Length: zork\r\n\r\n")
    assert parse_warc(write_warc(RECS[:1]) + bad + write_warc(RECS[1:2])) == RECS[:1]


def test_gzip_members_are_mtime_zero():
    blob = write_warc(RECS[:1])
    # gzip header: magic(2) method(1) flags(1) mtime(4 LE)
    assert blob[:2] == b"\x1f\x8b" and blob[4:8] == b"\x00\x00\x00\x00"
    # and each member decompresses independently
    do = zlib.decompressobj(16 + zlib.MAX_WBITS)
    first = do.decompress(blob)
    assert first.startswith(b"WARC/1.0\r\n")
    assert do.unused_data[:2] == b"\x1f\x8b"


def test_spark_pack_unpack_roundtrip(spark):
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.pipeline import ship_package
    from two_tier_document_parser_spark.warc_io import (
        pack_table,
        unpack_table,
    )

    ship_package(spark)
    bin_df = spark.createDataFrame(
        [(d, bytearray(p)) for d, p in RECS],
        "doc_id string, payload binary",
    )
    back = unpack_table(pack_table(bin_df))
    got = {
        r["doc_id"]: bytes(r["payload"])
        for r in back.collect()
    }
    assert got == dict(RECS)
    # framing metadata: every produced file id is derived from a real
    # doc id (one file per non-empty input batch)
    for r in pack_table(bin_df).collect():
        assert r["file_id"].startswith("warc-")


def _mini_docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def test_bloom_flags_superset_of_exact(spark):
    """One-sided error: per training doc, bloom n_hits >= exact
    n_hits and bloom-clean implies exact-clean; n_grams identical."""
    from two_tier_document_parser_spark.curation import (
        bloom_decontaminate,
        decontaminate,
    )

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(12)), "en", "s0")
        for i in range(60)
    ]
    d = _mini_docs(spark, rows)
    exact = {r["doc_id"]: r for r in decontaminate(d).collect()}
    bloom = {r["doc_id"]: r for r in bloom_decontaminate(d).collect()}
    assert set(exact) == set(bloom)
    assert any(r["n_hits"] > 0 for r in exact.values())  # non-trivial
    for k, e in exact.items():
        b = bloom[k]
        assert b["n_grams"] == e["n_grams"]
        assert b["n_hits"] >= e["n_hits"]
        if b["clean"]:
            assert e["clean"]


def test_bloom_matches_numpy_reimplementation(spark):
    """Bit positions are a pure md5 function: an independent python
    reimplementation must agree hit-for-hit (false positives too)."""
    import hashlib

    from two_tier_document_parser_spark.curation import (
        bloom_decontaminate,
    )

    rows = [
        (i, " ".join(f"t{(i * 5 + j) % 17}" for j in range(9)), "en", "s0")
        for i in range(40)
    ]
    d = _mini_docs(spark, rows)
    m = 1 << 20

    def shingles(text, n=5):
        toks = [t for t in text.split() if t]
        return [
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ]

    def is_eval(doc_id):
        return (
            hashlib.md5(f"{doc_id}:eval:42".encode()).hexdigest()[:2] < "10"
        )

    def positions(sh):
        h = int(hashlib.md5(sh.encode()).hexdigest()[:15], 16)
        return h % m, (h >> 30) % m

    bits = set()
    for i, text, _, _ in rows:
        if is_eval(i):
            for sh in shingles(text):
                bits.update(positions(sh))
    expect = {}
    for i, text, _, _ in rows:
        if is_eval(i):
            continue
        shs = shingles(text)
        if not shs:
            continue
        hits = sum(
            1
            for sh in shs
            if positions(sh)[0] in bits and positions(sh)[1] in bits
        )
        expect[i] = (len(shs), hits)
    got = {
        r["doc_id"]: (r["n_grams"], r["n_hits"])
        for r in bloom_decontaminate(d).collect()
    }
    assert got == expect


def test_warc_chain_is_map_only(spark):
    """The whole render -> WARC pack -> unpack -> DOM lift chain must
    plan with ZERO exchanges (pure mapInArrow pipeline): framing and
    parsing never shuffle; only a downstream aggregate would."""
    from two_tier_document_parser_spark.adapter import documents_to_raw
    from two_tier_document_parser_spark.html_io import (
        parse_table,
        render_table,
    )
    from two_tier_document_parser_spark.pipeline import ship_package
    from two_tier_document_parser_spark.warc_io import (
        pack_table,
        unpack_table,
    )

    ship_package(spark)
    docs = _mini_docs(
        spark, [(i, f"alpha beta {i}", "en", "s0") for i in range(20)]
    )
    out = parse_table(unpack_table(pack_table(render_table(
        documents_to_raw(docs)
    ))))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_bloom_probe_plan_has_no_single_partition(spark):
    """bloom_decontaminate's probe job: exactly the shingle window's
    doc_id exchange + the final rollup exchange, both hash — never a
    SinglePartition shape, never a join on the data-sized side."""
    from two_tier_document_parser_spark.curation import (
        bloom_decontaminate,
    )

    d = _mini_docs(
        spark,
        [
            (i, " ".join(f"w{(i * 3 + j) % 11}" for j in range(8)), "en", "s0")
            for i in range(40)
        ],
    )
    out = bloom_decontaminate(d)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    # the probe side carries no join operator at all (the bitmap is a
    # broadcast VARIABLE, not a broadcast relation)
    assert "Join" not in plan, plan


def test_binaryfile_warc_to_cascade(spark, tmp_path):
    """The job CLI's 'warc' input path: real .warc.gz files on disk,
    read via Spark's binaryFile source, through the member walker
    and DOM lift into the cascade — span text survives exactly."""
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.html_io import (
        parse_table,
        render_html,
    )
    from two_tier_document_parser_spark.pipeline import (
        extract,
        ship_package,
    )
    from two_tier_document_parser_spark.warc_io import (
        unpack_table,
        write_warc,
    )

    ship_package(spark)
    docs = [
        {
            "doc_id": f"d{i:03d}",
            "doc_class": "html",
            "n_pages": 1,
            "spans": [
                {
                    "kind": "text",
                    # natural-language shaped so the jusText-style
                    # length + stopword-density gates KEEP it (short
                    # or stopword-free fragments strip as boilerplate)
                    "text": (
                        f"item {i} is the part of the corpus and "
                        "the quick brown fox jumps over the lazy "
                        "dog in a field of green grass by the "
                        "river and the sun is warm on the water"
                    ),
                    "media_ref": None,
                    "offset": 0,
                }
            ],
        }
        for i in range(40)
    ]
    html = [(d["doc_id"], render_html(d)) for d in docs]
    for shard in range(2):
        (tmp_path / f"s{shard}.warc.gz").write_bytes(
            write_warc(html[shard * 20 : (shard + 1) * 20])
        )
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(str(tmp_path))
        .select(
            F.col("path").alias("file_id"),
            F.col("content").alias("data"),
        )
    )
    out = extract(spark, parse_table(unpack_table(files)))
    got = {
        r["doc_id"]: r["spans"][0]["text"] for r in out.collect()
    }
    assert got == {
        f"d{i:03d}": (
            f"item {i} is the part of the corpus and "
            "the quick brown fox jumps over the lazy "
            "dog in a field of green grass by the "
            "river and the sun is warm on the water"
        )
        for i in range(40)
    }


def test_plain_uncompressed_warc_stream():
    """ISO 28500 allows plain .warc files too (the job CLI globs
    them): the same records in an uncompressed stream parse
    identically, including the warcinfo skip and multi-record
    Content-Length framing."""
    blob = write_warc(RECS, compress=False)
    assert blob.startswith(b"WARC/1.0\r\n")
    assert parse_warc(blob) == RECS
    # truncation mid-record keeps prior records, never raises
    assert parse_warc(blob[: len(blob) - len(blob) // 3]) != []
