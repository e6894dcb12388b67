"""The one Arrow payload adapter: how a binary payload column crosses
the ``mapInPandas`` boundary, in both directions.

- ``map_payloads(df, decode, schema, null_row, id_col, content_col)``
  is the decode side.  ``decode(bytes)`` is a pure function of the
  payload bytes and returns a SEQUENCE OF ROW TAILS — ``(tail,)`` for a
  one-row decoder, any number of tails for a row-expanding one
  (zip/tar members, video frames, audio windows).  A tail is the output
  row minus its leading id.  Everything else belongs to the adapter:
  it selects ``id_col`` aliased to the schema's first field name (so an
  id keeps its name and type when that field is named after it), emits
  ``null_row`` for a NULL payload without calling ``decode`` (``None``
  emits no row), memoizes ``decode`` per task with ``payload_memo``
  (unless ``memo=False``), and names each output batch's columns from
  ``schema``.
- ``attach_blobs(df, build, id_col, schema)`` is the fixture side:
  ``(id, build(id))`` per input row, the two output names taken from
  ``schema``.

``payload_memo`` is the per-task decode-once-per-distinct-payload
cache behind ``map_payloads``.  Real corpora are full of byte-identical
blobs (re-uploads, mirrors, boilerplate assets — the premise of the
exact-dedup operators), so each distinct blob decodes once per task
instead of once per row.  The adapter builds the cache inside its
``run`` closure, so it is created per Spark task and dies with it:
nothing persists across queries, runs or processes.  Cached values
must be immutable row tails (tuples/bytes/str), safe to emit
repeatedly.  The key hashes the WHOLE payload, so memoizing pays only
when the decode costs more than that hash.  A decoder that reads only a
header or walks chunk headers (``decode_media_headers``,
``decode_images``, ``image_exif_meta``, ``audio_id3_meta``,
``sample_frames``, whose AVI walk and stub only slice) passes
``memo=False``: on a 256 KB payload the blake2b key costs 20-240x the
parse, so no repeat share repays it.  Its design choices:

- **Key**: ``(blake2b-128(payload), len(payload))``.  md5 collisions
  are practically constructible and these decoders run over untrusted
  corpora — two crafted payloads sharing an md5 would silently share
  one decode result.  Pinned in ``tests/test_opt_r20.py`` with the
  published md5-colliding block pair.
- **Bound**: the entry count and the cumulative APPROXIMATE bytes of
  cached values (``max_bytes``, default 48 MB; warc/tar/zip tails
  retain whole decompressed payloads).  When the next value would not
  fit, the cache resets.  A single value larger than ``max_bytes`` is
  returned uncached, so one huge tail cannot flush every other entry.
- **Miss sentinel**: a private object, not ``None`` — a decode that
  legitimately returns None is cached like any other value.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MISS = object()


def _approx_bytes(v) -> int:
    """Rough retained-size estimate for a cached row tail (primitives
    and nested tuples/lists only — the documented value contract).
    Exactness is not the point; the bound is a memory safety valve."""
    if v is None:
        return 16
    if isinstance(v, (bytes, bytearray, memoryview)):
        return len(v) + 48
    if isinstance(v, str):
        return 2 * len(v) + 56
    if isinstance(v, (tuple, list)):
        return 56 + sum(_approx_bytes(x) for x in v)
    return 32


def payload_memo(decode, maxsize: int = 1024,
                 max_bytes: int = 48 << 20):
    """Wrap a pure payload-bytes → row-tail(s) function with a cache
    keyed on ``(blake2b-128(payload), len)``, bounded both by entry
    count and by the approximate cumulative size of cached values.
    See module docstring for the contract."""
    cache: dict = {}
    held = 0

    def wrapped(payload: bytes):
        nonlocal held
        k = (
            hashlib.blake2b(payload, digest_size=16).digest(),
            len(payload),
        )
        hit = cache.get(k, _MISS)
        if hit is _MISS:
            hit = decode(payload)
            size = _approx_bytes(hit)
            if size > max_bytes:
                return hit
            if len(cache) >= maxsize or held + size > max_bytes:
                cache.clear()
                held = 0
            cache[k] = hit
            held += size
        return hit

    return wrapped


def _field_names(schema: str) -> list[str]:
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(schema).names


def map_payloads(
    df: DataFrame,
    decode,
    schema: str,
    null_row: tuple | None,
    id_col: str = "id",
    content_col: str = "content",
    *,
    memo: bool = True,
) -> DataFrame:
    """``schema`` rows from ``(id_col, content_col)``: each non-NULL
    payload yields ``(id, *tail)`` for every tail of
    ``decode(payload)``; a NULL payload yields ``(id, *null_row)``, or
    no row when ``null_row`` is None.  ``memo=False`` calls ``decode``
    once per row instead of once per distinct payload (header-only
    decoders).  Map-side Arrow batches, no shuffle.  See the module
    docstring for the contract."""
    names = _field_names(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tails = payload_memo(decode) if memo else decode
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf[names[0]], pdf[content_col]):
                if payload is None:
                    if null_row is not None:
                        rows.append((i, *null_row))
                    continue
                rows.extend((i, *t) for t in tails(bytes(payload)))
            yield pd.DataFrame(rows, columns=names)

    return df.select(
        F.col(id_col).alias(names[0]), content_col
    ).mapInPandas(run, schema)


def attach_blobs(
    df: DataFrame,
    build,
    id_col: str = "doc_id",
    schema: str = "id long, content binary",
) -> DataFrame:
    """``(id, build(id))`` per row of ``df`` — the fixture-blob side
    of the adapter; the two output column names come from
    ``schema``."""
    id_name, blob_name = _field_names(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col]
            yield pd.DataFrame(
                {id_name: ids, blob_name: [build(int(i)) for i in ids]}
            )

    return df.select(F.col(id_col).alias(id_col)).mapInPandas(run, schema)
