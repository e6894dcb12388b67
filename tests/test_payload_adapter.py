"""The Arrow payload adapter (functions/payload_cache.py): the
``map_payloads`` contract, every public ``attach_*`` fixture builder
wired to its own ``build_*``, and a guard that keeps ``mapInPandas``
and ``payload_memo`` inside the adapter plus a short allowlist."""

from __future__ import annotations

import ast
import inspect
import pathlib

import pytest

from dwc_dataframe_validator_spark.functions.payload_cache import (
    map_payloads,
)
from dwc_dataframe_validator_spark.operators import multimodal, pdf, text
from dwc_dataframe_validator_spark.sources import tar, warc, zip as zip_src

PACKAGE = pathlib.Path(multimodal.__file__).resolve().parent.parent

#: the only functions that may call ``.mapInPandas(`` — the two
#: adapters plus the shapes that do not fit them (see CHANGES.md)
MAP_IN_PANDAS_ALLOWED = {
    ("functions/payload_cache.py", "map_payloads"),
    ("functions/payload_cache.py", "attach_blobs"),
    ("operators/similarity.py", "cosine_topk_arrow"),
    ("operators/similarity.py", "trained_cells"),
    ("operators/text.py", "token_stats_bpe"),
    ("operators/text.py", "token_stats_bpe_learned"),
    ("operators/pdf.py", "pdf_text_from_ids"),
    ("sources/zip.py", "_parse_zip_files"),
    ("sources/tar.py", "_parse_tar_files"),
    ("sources/warc.py", "_parse_warc_files"),
}
PAYLOAD_MEMO_ALLOWED = {
    ("functions/payload_cache.py", "map_payloads"),
    ("operators/pdf.py", "pdf_text_from_ids"),
}


def _frame(spark, rows, schema="id long, content binary"):
    # one partition → one task, so one payload_memo sees every row
    return spark.createDataFrame(rows, schema).coalesce(1)


def test_null_payload_emits_null_row_or_nothing(spark):
    df = _frame(spark, [(1, b"ab"), (2, None), (3, b"xyz")])
    schema = "id long, n int, ok boolean"

    def decode(b):
        return ((len(b), True),)

    got = sorted(map_payloads(df, decode, schema, (0, False)).collect())
    assert [tuple(r) for r in got] == [(1, 2, True), (2, 0, False),
                                       (3, 3, True)]
    dropped = sorted(map_payloads(df, decode, schema, None).collect())
    assert [tuple(r) for r in dropped] == [(1, 2, True), (3, 3, True)]


def test_multi_row_decode_expands_rows(spark):
    df = _frame(spark, [(7, b"abc"), (8, b""), (9, None)])

    def decode(b):
        return tuple((k, b[k:k + 1].decode()) for k in range(len(b)))

    out = map_payloads(
        df, decode, "id long, k int, ch string", (-1, None)
    ).collect()
    assert sorted(tuple(r) for r in out) == [
        (7, 0, "a"), (7, 1, "b"), (7, 2, "c"), (9, -1, None),
    ]


def test_id_keeps_its_name_and_type(spark):
    df = _frame(
        spark, [("k1", b"aa"), ("k2", None)], "key string, blob binary"
    )
    out = map_payloads(
        df, lambda b: ((len(b),),), "`key` string, n int", (None,),
        id_col="key", content_col="blob",
    )
    assert out.schema.simpleString() == "struct<key:string,n:int>"
    assert sorted(tuple(r) for r in out.collect()) == [
        ("k1", 2), ("k2", None),
    ]
    aliased = map_payloads(
        df, lambda b: ((len(b),),), "id string, n int", (None,),
        id_col="key", content_col="blob",
    )
    assert aliased.columns == ["id", "n"]


def test_one_decode_call_per_distinct_payload_per_task(spark):
    payloads = [b"a", b"b", b"a", b"a", b"c", b"b", None, b"a"]
    df = _frame(spark, list(enumerate(payloads)))
    calls = []

    def decode(b):
        # numbered per call inside the task; a repeated payload must
        # reuse the number of its first decode
        calls.append(b)
        return ((len(calls),),)

    rows = map_payloads(df, decode, "id long, call int", (0,)).collect()
    by_id = {r["id"]: r["call"] for r in rows}
    seen = {}
    for i, p in enumerate(payloads):
        if p is None:
            assert by_id[i] == 0
            continue
        assert seen.setdefault(p, by_id[i]) == by_id[i]
    assert sorted(seen.values()) == [1, 2, 3]


def test_memo_off_decodes_every_row(spark):
    payloads = [b"a", b"a", None, b"b", b"a"]
    df = _frame(spark, list(enumerate(payloads)))
    calls = []

    def decode(b):
        calls.append(b)
        return ((len(calls),),)

    rows = map_payloads(
        df, decode, "id long, call int", (0,), memo=False
    ).collect()
    assert sorted(r["call"] for r in rows) == [0, 1, 2, 3, 4]


def _attach_cases():
    cases = []
    for mod in (multimodal, pdf, text, warc, zip_src, tar):
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if not name.startswith("attach_") or fn.__module__ != mod.__name__:
                continue
            if name == "attach_text_blob":
                continue  # a Catalyst projection of a text column, no builder
            build_name = "build_" + name[len("attach_"):]
            if name == "attach_xfmt_blobs":
                build_name = "build_xfmt_blob"
            cases.append(pytest.param(fn, getattr(mod, build_name), id=name))
    return cases


@pytest.mark.parametrize("attach, build", _attach_cases())
def test_attach_builder_emits_its_own_build(spark, attach, build):
    n = 24
    ids = spark.range(n).withColumnRenamed("id", "doc_id")
    out = attach(ids)
    assert len(out.columns) == 2 and out.columns[0] == "id"
    got = {r[0]: r[1] for r in out.collect()}
    if attach.__name__ == "attach_xfmt_blobs":
        want_ids = range(2 * n)  # (2·id, 2·id+1) per input id
    else:
        want_ids = range(n)
    assert sorted(got) == list(want_ids)
    for i in want_ids:
        want = build(i)
        assert (bytes(got[i]) if isinstance(want, bytes) else got[i]) == want, i


def _calls_by_function(attr=None, name=None):
    """(relative path, top-level function) of every call to
    ``<expr>.attr(`` or ``name(`` in the package."""
    sites = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        rel = path.relative_to(PACKAGE).as_posix()
        for top in tree.body:
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                hit = (
                    attr is not None and isinstance(f, ast.Attribute)
                    and f.attr == attr
                ) or (
                    name is not None and isinstance(f, ast.Name)
                    and f.id == name
                )
                if hit:
                    sites.append((rel, getattr(top, "name", "<module>")))
    return sites


def test_map_in_pandas_only_in_adapters_and_allowlist():
    sites = _calls_by_function(attr="mapInPandas")
    stray = sorted(set(sites) - MAP_IN_PANDAS_ALLOWED)
    assert not stray, f"hand-rolled mapInPandas outside the adapter: {stray}"
    assert len(sites) == len(set(sites))  # one site per allowed function


def test_payload_memo_only_in_adapter_and_allowlist():
    sites = set(_calls_by_function(name="payload_memo"))
    stray = sorted(sites - PAYLOAD_MEMO_ALLOWED)
    assert not stray, f"payload_memo wired outside the adapter: {stray}"
