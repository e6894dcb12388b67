"""Round-20 optimization pins for the hardened payload cache
(functions/payload_cache.py): collision-resistant key (the published
md5-colliding block pair must NOT share a cache entry), byte-budget
bound, and the None-returning-decode sentinel fix."""

from __future__ import annotations

import hashlib

import pytest

from dwc_dataframe_validator_spark.functions.payload_cache import (
    _approx_bytes,
    payload_memo,
)

#: the published md5-colliding 128-byte block pair (Wang et al.) —
#: two DIFFERENT payloads with identical md5; the r19 md5-keyed cache
#: would have silently emitted the first payload's decode for both
_MD5_COLLIDE_A = bytes.fromhex(
    "d131dd02c5e6eec4693d9a0698aff95c2fcab58712467eab4004583eb8fb7f89"
    "55ad340609f4b30283e488832571415a085125e8f7cdc99fd91dbdf280373c5b"
    "d8823e3156348f5bae6dacd436c919c6dd53e2b487da03fd02396306d248cda0"
    "e99f33420f577ee8ce54b67080a80d1ec69821bcb6a8839396f9652b6ff72a70"
)
_MD5_COLLIDE_B = bytes.fromhex(
    "d131dd02c5e6eec4693d9a0698aff95c2fcab50712467eab4004583eb8fb7f89"
    "55ad340609f4b30283e4888325f1415a085125e8f7cdc99fd91dbd7280373c5b"
    "d8823e3156348f5bae6dacd436c919c6dd53e23487da03fd02396306d248cda0"
    "e99f33420f577ee8ce54b67080280d1ec69821bcb6a8839396f965ab6ff72a70"
)


def test_md5_colliding_payloads_get_distinct_entries():
    # precondition: the pair really is an md5 collision of distinct bytes
    assert _MD5_COLLIDE_A != _MD5_COLLIDE_B
    assert (
        hashlib.md5(_MD5_COLLIDE_A).digest()
        == hashlib.md5(_MD5_COLLIDE_B).digest()
    )

    calls = []

    def decode(b: bytes):
        calls.append(bytes(b))
        return hashlib.sha256(b).hexdigest()

    memo = payload_memo(decode)
    ra = memo(_MD5_COLLIDE_A)
    rb = memo(_MD5_COLLIDE_B)
    assert ra != rb  # each payload decodes to ITS OWN result
    assert ra == hashlib.sha256(_MD5_COLLIDE_A).hexdigest()
    assert rb == hashlib.sha256(_MD5_COLLIDE_B).hexdigest()
    assert len(calls) == 2
    # and the cache still dedups true re-occurrences
    assert memo(_MD5_COLLIDE_A) == ra
    assert len(calls) == 2


def test_none_returning_decode_is_cached_not_recomputed():
    calls = []

    def decode(b: bytes):
        calls.append(bytes(b))
        return None  # the honest "bad payload" tail some decoders use

    memo = payload_memo(decode)
    assert memo(b"corrupt") is None
    assert memo(b"corrupt") is None
    assert memo(b"corrupt") is None
    assert calls == [b"corrupt"]  # r19 recomputed None per row


def test_byte_budget_resets_cache():
    calls = []
    big = "x" * 1024  # ~2 KB retained per cached value

    def decode(b: bytes):
        calls.append(bytes(b))
        return big

    # budget of ~10 KB → reset after a handful of entries, long before
    # the 1024-entry count bound
    memo = payload_memo(decode, maxsize=1024, max_bytes=10 * 1024)
    payloads = [bytes([k]) * 4 for k in range(64)]
    for p in payloads:
        assert memo(p) == big
    assert calls == payloads  # all distinct: every payload decoded once
    # re-probing the full set forces recomputation of evicted entries —
    # bounded memory, never a wrong value
    for p in payloads:
        assert memo(p) == big
    assert len(calls) > len(payloads)  # some resets really happened
    assert all(c in payloads for c in calls)


def test_oversize_value_is_returned_uncached_and_keeps_entries():
    calls = []

    def decode(b: bytes):
        calls.append(bytes(b))
        return b * 4096 if b == b"big" else b

    memo = payload_memo(decode, max_bytes=1024)
    assert memo(b"a") == b"a"
    assert memo(b"big") == b"big" * 4096  # ~12 KB, over the budget
    assert memo(b"big") == b"big" * 4096  # correct again, not cached
    assert memo(b"c") == b"c"  # the next miss must not flush the cache
    assert memo(b"a") == b"a"
    assert calls == [b"a", b"big", b"big", b"c"]


def test_approx_bytes_counts_nested_tails():
    flat = _approx_bytes((b"abcd", "ef", 7, None))
    assert flat > len(b"abcd") + 2 * len("ef")
    nested = _approx_bytes([(b"abcd", "ef"), (b"abcd", "ef")])
    assert nested > 2 * _approx_bytes((b"abcd", "ef")) - 60


def test_fused_warc_text_decode_equals_composition(spark):
    """r20 crawl fusion pin: decode_warc_records_text must be
    row-identical to decode_warc_records → filter(ok) →
    decode_warc_payload_text plus the target_uri join, across
    duplicate / NULL / corrupt / gzipped / empty / non-UTF-8
    records (ok=false rows keep NULL fields)."""
    import gzip

    from pyspark.sql import functions as F

    from dwc_dataframe_validator_spark.sources import warc as W

    latin = (
        "HTTP/1.1 200 OK\r\n"
        "Content-Type: text/html; charset=ISO-8859-1\r\n\r\n"
        "<html><body><p>caf\xe9 page</p></body></html>"
    ).encode("latin-1")
    rec_a = W.build_warc_record(
        "http://x/a", latin, content_type="application/http"
    )
    rec_b = W.build_warc_record("http://x/b", b"plain body")
    corrupt = b"WARC/1.0\r\nContent-Length: zzz\r\n\r\n"
    rows = [(0, rec_a), (1, rec_a), (2, rec_b), (3, None), (4, corrupt),
            (5, gzip.compress(rec_a)), (6, b"")]
    df = spark.createDataFrame(rows, "id long, record binary")

    fused = {r["id"]: r for r in W.decode_warc_records_text(df).collect()}
    parsed = W.decode_warc_records(df).filter("ok")
    decoded = {
        r["id"]: r
        for r in W.decode_warc_payload_text(
            parsed.select("id", "payload"), id_col="id"
        ).collect()
    }
    uri = {r["id"]: r["target_uri"] for r in parsed.collect()}

    assert set(fused) == {i for i, _ in rows}
    for i, _ in rows:
        r = fused[i]
        if i in decoded:
            o = decoded[i]
            assert r["ok"] is True
            assert (
                r["target_uri"], r["encoding"], r["encoding_source"],
                r["content_encoding"], r["chunked"], r["body_decoded"],
                r["payload_text"],
            ) == (
                uri[i], o["encoding"], o["encoding_source"],
                o["content_encoding"], o["chunked"], o["body_decoded"],
                o["payload_text"],
            )
        else:
            assert r["ok"] is False
            assert r["target_uri"] is None and r["payload_text"] is None


def test_wet_main_content_carry_rides_unchanged(spark):
    """r20 carry pin: wet_main_content(carry=...) must return exactly
    the no-carry result plus the carried column (same groups — the
    carry is functionally dependent on the id), including NULL carry
    values, and the default signature must stay the historical
    shape."""
    from pyspark.sql import functions as F

    from dwc_dataframe_validator_spark.operators import web

    payload = (
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        "<html><body><div><a href='/'>Home</a> <a href='/a'>About</a>"
        " <a href='/c'>Contact</a></div><p>%s</p>"
        "<div>Copyright 2026 corpus example site All rights"
        " reserved</div></body></html>"
    )
    good = (
        "The quick brown fox and the lazy dog were seen by the river, "
        "and they would not have been there if it was not for the food "
        "that can be found by the water in these parts of the land."
    )
    rows = [
        (1, "http://a.example/x", payload % good),
        (2, None, payload % good),          # NULL carry survives
        (3, "http://c.example/z", payload % "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, payload_text string")
    plain = {
        r["doc_id"]: tuple(r)[1:]
        for r in web.wet_main_content(df.select("doc_id", "payload_text")).collect()
    }
    carried = web.wet_main_content(df, carry=("url",))
    assert carried.columns == [
        "doc_id", "url", "main_text", "n_paras_total", "n_paras_good",
        "n_chars_main",
    ]
    got = {r["doc_id"]: r for r in carried.collect()}
    urls = dict((i, u) for i, u, _ in rows)
    assert set(got) == set(plain)
    for i, r in got.items():
        assert r["url"] == urls[i]
        assert (r["main_text"], r["n_paras_total"], r["n_paras_good"],
                r["n_chars_main"]) == plain[i]


@pytest.mark.parametrize(
    "carry", [("doc_id",), ("para_text",), ("N_STOP",), ("final_class",)]
)
def test_justext_carry_rejects_colliding_names(spark, carry):
    from dwc_dataframe_validator_spark.operators import web

    df = spark.createDataFrame(
        [(1, "x", "y", "z", "w", "v")],
        "doc_id long, payload_text string, para_text string, "
        "N_STOP string, final_class string, main_text string",
    )
    with pytest.raises(ValueError, match="collide"):
        web.justext_paragraphs(df, carry=carry)
    with pytest.raises(ValueError, match="collide"):
        web.wet_main_content(df, carry=carry)


def test_wet_main_content_carry_rejects_its_output_names(spark):
    from dwc_dataframe_validator_spark.operators import web

    df = spark.createDataFrame(
        [(1, "x", "m")], "doc_id long, payload_text string, main_text string"
    )
    web.justext_paragraphs(df, carry=("main_text",))  # not a justext column
    with pytest.raises(ValueError, match="collide"):
        web.wet_main_content(df, carry=("main_text",))


def test_split_count_memo_keys_on_split_config_and_is_bounded(
    spark, tmp_path, monkeypatch
):
    from dwc_dataframe_validator_spark.operators import text

    path = str(tmp_path / "scan")
    spark.range(20000).selectExpr(
        "id", "sha2(cast(id AS string), 256) AS s"
    ).coalesce(1).write.parquet(path)

    def scan():
        # a fresh frame per probe: DataFrame.rdd is cached per object
        return spark.read.parquet(path)

    memo: dict = {}
    monkeypatch.setattr(text, "_SPLIT_COUNT_MEMO", memo)
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    try:
        text.spread_small_scan(scan(), "id")
        assert len(memo) == 1
        spark.conf.set(conf, "64k")
        text.spread_small_scan(scan(), "id")  # same files, new split size
        assert len(memo) == 2  # probed again, not served stale
        n = scan().rdd.getNumPartitions()
        assert n > 1 and sorted(memo.values()) == [1, n]

        monkeypatch.setattr(text, "_SPLIT_COUNT_MEMO_MAX", 2)
        for size in ("96k", "128k", "160k"):
            spark.conf.set(conf, size)
            text.spread_small_scan(scan(), "id")
            assert len(memo) <= 2
    finally:
        spark.conf.set(conf, old)
