"""Tar-shard (WebDataset-style) source — how multimodal training
corpora actually ship.

Image-text and audio-text datasets are distributed as tar shards
whose members group into samples by basename: ``abc123.jpg`` +
``abc123.txt`` + ``abc123.json`` is ONE sample (the WebDataset
convention: the sample key is the member name up to the FIRST dot of
the basename; everything after it is the extension).  This module
reads the shards and regroups the samples.

Reference parity: none — sources extend the LLM-pipeline family
(SURVEY.md "beyond the reference" brief).

Scale design mirrors sources/warc.py: tar is NOT splittable (member
headers chain), so the unit of parallelism is the SHARD FILE —
WebDataset corpora ship thousands of ~1 GB shards, far more than any
executor count.  ``read_tar`` is ``binaryFile`` + a per-file member
walk in ``mapInPandas``; ``decode_tar_records`` is the columnar face
for a stream/exploded feed.  Parsing is stdlib ``tarfile`` (ustar /
GNU / pax long names, gzip/bzip2/xz compression auto-detected via
``r:*``) — real decode, no stubs.  A torn or corrupt member yields
one ``ok=false`` row and the walk stops (without a valid header
chain the next boundary is unknowable — the WARC rule); everything
before it is kept.  ``max_payload`` truncates member bytes at parse
time so oversized members never cross the Arrow boundary (``size``
still reports the declared size, so ``size > length(content)``
marks truncation).
"""

from __future__ import annotations

import io
import tarfile
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.payload_cache import attach_blobs, map_payloads

TAR_MEMBER_SCHEMA = (
    "path string, member_index long, member_name string, key string, "
    "ext string, size long, content binary, ok boolean"
)

#: member-size sanity bound (the image path's 16 MP guard, applied to
#: bytes): one adversarial 100 GB member must not balloon an executor
_MAX_MEMBER = 1 << 30


def wds_key_ext(name: str):
    """(sample_key, extension) per the WebDataset convention: split
    the BASENAME at its first dot — ``dir/abc.seg.jpg`` →
    (``dir/abc``, ``seg.jpg``).  No dot → empty extension."""
    dirname, _, base = name.rpartition("/")
    key_base, _, ext = base.partition(".")
    key = f"{dirname}/{key_base}" if dirname else key_base
    return key, ext


#: decompressed-shard sanity bound (executors get ~4 GiB per thread
#: at 32 threads / 128 GiB — a shard that inflates past this is
#: flagged, not materialized)
_MAX_SHARD = 4 << 30


def _plain_tar_bytes(raw: bytes):
    """Decompress a gzip/bzip2/xz shard to its plain tar bytes (with
    the ``_MAX_SHARD`` cap enforced INCREMENTALLY where the codec
    allows), or None when corrupt/over-cap.  Plain input passes
    through.  Decompressing up front (rather than tarfile's ``r:*``
    streams) lets the walker verify the spec's zero-block terminator
    uniformly — the torn-at-a-block-boundary case tarfile silently
    accepts as end-of-archive."""
    if raw[:2] == b"\x1f\x8b":
        import zlib

        # Parallel compressors (pigz, and `cat a.gz b.gz`) emit
        # CONCATENATED gzip streams; stdlib tarfile 'r:*' reads them
        # all, so stopping at the first stream's eof would truncate
        # valid shards.  Loop per stream via unused_data, keeping the
        # _MAX_SHARD cap across the whole concatenation.
        chunks, data = [], raw
        total = 0
        while data:
            try:
                d = zlib.decompressobj(16 + 15)
                out = d.decompress(data, _MAX_SHARD + 1 - total)
            except zlib.error:
                return None
            total += len(out)
            if total > _MAX_SHARD or not d.eof:
                return None
            chunks.append(out)
            data = d.unused_data
            if data and data[:2] != b"\x1f\x8b":
                return None  # trailing garbage after the last stream
        return b"".join(chunks)
    if raw[:3] == b"BZh":
        import bz2

        # pbzip2/lbzip2 emit one bzip2 stream per worker block —
        # same multi-stream loop as gzip above.
        chunks, data = [], raw
        total = 0
        while data:
            try:
                d = bz2.BZ2Decompressor()
                out = d.decompress(data, _MAX_SHARD + 1 - total)
            except (OSError, EOFError, ValueError):
                return None
            total += len(out)
            if total > _MAX_SHARD or not d.eof:
                return None
            chunks.append(out)
            data = d.unused_data
            if data and data[:3] != b"BZh":
                return None  # trailing garbage after the last stream
        return b"".join(chunks)
    if raw[:6] == b"\xfd7zXZ\x00":
        import lzma

        try:
            d = lzma.LZMADecompressor()
            out = d.decompress(raw, _MAX_SHARD + 1)
        except (lzma.LZMAError, EOFError, ValueError):
            return None
        if len(out) > _MAX_SHARD or not d.eof:
            return None
        return out
    return raw


def iter_tar_members(raw: bytes, max_payload: int | None = None):
    """Yield ``(index, name, size, content, ok)`` for every regular
    file in a (possibly gzip/bzip2/xz) tar's bytes.  Directories and
    links are skipped.  A corrupt header, torn member, over-bound
    size, or MISSING end-of-archive terminator (two zero blocks —
    without the check, a shard cut exactly at a 512-block boundary
    would silently lose every following member) yields one
    ``ok=false`` row and iteration stops — the member chain is
    broken, later offsets are unknowable."""
    plain = _plain_tar_bytes(raw)
    if plain is None:
        yield 0, None, None, None, False
        return
    try:
        tf = tarfile.open(fileobj=io.BytesIO(plain), mode="r:")
    except (tarfile.TarError, OSError, EOFError, ValueError):
        yield 0, None, None, None, False
        return
    idx = 0
    while True:
        try:
            m = tf.next()
        except (tarfile.TarError, OSError, EOFError, ValueError):
            yield idx, None, None, None, False
            return
        if m is None:
            end = tf.offset
            if (
                len(plain) < end + 1024
                or plain[end:end + 1024].count(0) != 1024
            ):
                # clean EOF without the terminator: torn at a block
                # boundary, not a complete archive
                yield idx, None, None, None, False
            return
        if not m.isfile():
            continue
        if m.size > _MAX_MEMBER:
            yield idx, m.name, m.size, None, False
            return
        try:
            fh = tf.extractfile(m)
            data = fh.read() if fh is not None else None
        except (tarfile.TarError, OSError, EOFError, ValueError):
            data = None
        if data is None or len(data) != m.size:
            # torn member (short read at a truncated shard tail)
            yield idx, m.name, m.size, data, False
            return
        if max_payload is not None:
            data = data[:max_payload]
        yield idx, m.name, m.size, data, True
        idx += 1


def _member_rows(path, raw, max_payload):
    rows = []
    for idx, name, size, content, ok in iter_tar_members(
        bytes(raw), max_payload
    ):
        key, ext = wds_key_ext(name) if name else (None, None)
        rows.append((path, idx, name, key, ext, size, content, ok))
    return rows


def read_tar(
    spark: SparkSession,
    path: str | list[str],
    max_payload: int | None = None,
) -> DataFrame:
    """Read tar shard(s) into ``TAR_MEMBER_SCHEMA`` rows — one row
    per regular-file member, with the WebDataset (key, ext) split
    precomputed.  File-parallel (``binaryFile``), Arrow-batched,
    malformed members → ``ok=false`` rows, never task failures."""
    files = spark.read.format("binaryFile").load(path)
    return _parse_tar_files(files, max_payload)


def _parse_tar_files(
    files: DataFrame, max_payload: int | None
) -> DataFrame:
    """Shared per-file walk behind ``read_tar`` (batch) and
    ``stream_tar`` (streaming) — one parser, so stream ≡ batch by
    construction."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, raw in zip(pdf["path"], pdf["content"]):
                rows.extend(_member_rows(p, raw, max_payload))
            yield pd.DataFrame(
                rows,
                columns=["path", "member_index", "member_name", "key",
                         "ext", "size", "content", "ok"],
            )

    return files.select("path", "content").mapInPandas(
        run, TAR_MEMBER_SCHEMA
    )


_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, "
    "content binary"
)


def stream_tar(
    spark: SparkSession,
    path: str,
    max_payload: int | None = None,
) -> DataFrame:
    """STREAMING face of ``read_tar``: shards LANDING in ``path``
    become a live member stream (same ``TAR_MEMBER_SCHEMA`` rows,
    same per-file Arrow walk — ``mapInPandas`` applies to streaming
    frames unchanged), the ``stream_warc`` recipe applied to
    WebDataset corpora: the file source's checkpoint tracks which
    shards are consumed, and a downstream ``foreachBatch`` sink's
    commit markers make each batch replay-safe.  The streaming
    binaryFile source requires an explicit schema (pinned to the
    format's fixed columns) and takes ONE path (directory or glob).

    Stream ≡ batch by construction (one shared walker); pinned in
    pytest by draining a landing directory and comparing to
    ``read_tar``."""
    files = spark.readStream.format("binaryFile").schema(
        _BINARYFILE_SCHEMA
    ).load(path)
    return _parse_tar_files(files, max_payload)


def decode_tar_records(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "id",
    max_payload: int | None = None,
) -> DataFrame:
    """Parse a BINARY COLUMN of tar shards — the columnar face
    (``read_tar`` is the whole-file one, same walker core), for
    shard-per-row feeds and the registry fixtures.  The id column
    keeps its name and type."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, member_index long, member_name string, "
        "key string, ext string, size long, content binary, ok boolean"
    )

    def tails(raw: bytes):
        return tuple(t[1:] for t in _member_rows(None, raw, max_payload))

    return map_payloads(
        df, tails, out_schema, (0, None, None, None, None, None, False),
        id_col, content_col,
    )


def webdataset_samples(
    df: DataFrame,
    shard_col: str = "path",
    key_col: str = "key",
) -> DataFrame:
    """Regroup member rows into WebDataset SAMPLES: one row per
    (shard, key) with ``n_parts``, the sorted extension list, and a
    deterministic ``parts_sig`` (sorted ``ext:md5(content)`` pairs,
    comma-joined) — the join/dedup handle for a grouped sample.  One
    partial-aggregation-safe groupBy on (shard, key); keys are unique
    within a shard by construction, so there is no skew to salt."""
    pair = F.concat_ws(
        ":", F.col("ext"), F.md5(F.col("content"))
    )
    return (
        df.filter("ok")
        .groupBy(F.col(shard_col).alias("shard"),
                 F.col(key_col).alias("key"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.array_join(
                F.array_sort(F.collect_list(F.col("ext"))), ","
            ).alias("exts"),
            F.array_join(
                F.array_sort(F.collect_list(pair)), ","
            ).alias("parts_sig"),
        )
    )


def _tar_fixture_memo(build):
    from ..operators.multimodal import _fixture_memo

    return _fixture_memo(
        lambda d: (d % 6, d % 13 == 0, d % 17 == 0)
    )(build)


@_tar_fixture_memo
def build_tar_blob(doc_id: int) -> bytes:
    """WebDataset shard fixture (memoized per worker on the reduced
    key, the r19 _fixture_memo pattern): class ``doc_id %% 6`` holds
    ``2 + cls %% 3`` samples, each with a ``.jpg`` and a ``.txt``
    part plus a ``.meta.json`` part on even samples (the multi-dot
    extension case); member bytes are md5-stream data keyed by
    (cls, sample, ext), so every hash is deterministic.
    ``doc_id %% 13 == 0`` ships the SAME members gzip-compressed
    (a valid variant, not a failure); ``doc_id %% 17 == 0`` truncates
    at 2/3 (torn shard → prefix members + one flagged row)."""
    import hashlib

    cls = doc_id % 6
    members = []
    for k in range(2 + cls % 3):
        for ext in (["jpg", "txt"] + (["meta.json"] if k % 2 == 0 else [])):
            seed = hashlib.md5(
                b"tar-%d-%d-%s" % (cls, k, ext.encode())
            ).digest()
            data = b"".join(
                hashlib.md5(seed + i.to_bytes(2, "big")).digest()
                for i in range(2 + k)
            )
            members.append((f"{cls:03d}/s{k}.{ext}", data))
    if doc_id % 17 == 0:
        # tear INSIDE the last member's data bytes (a fixed-fraction
        # cut can land in the trailing block padding, where every
        # member is still recoverable and the archive is legitimately
        # complete) — exercises the short-read path, prefix members
        # stay good
        last_data = len(members[-1][1])
        last_padded = (last_data + 511) // 512 * 512
        content_end = sum(
            512 + (len(d) + 511) // 512 * 512 for _, d in members
        )
        cut = content_end - last_padded + last_data // 2
        return tar_encode(members)[:cut]
    return tar_encode(members, gz=(doc_id % 13 == 0))


def attach_tar_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, content) with the WebDataset shard fixture blobs."""
    return attach_blobs(df, build_tar_blob, id_col)


def tar_encode(members: list, gz: bool = False) -> bytes:
    """Deterministic tar writer — the fixture twin of
    ``iter_tar_members``: ``members`` is a list of (name, bytes);
    mtime/uid/gid zeroed so the archive bytes depend only on the
    content.  ``gz=True`` wraps in gzip (mtime=0)."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            tf.addfile(info, io.BytesIO(data))
    raw = buf.getvalue()
    if gz:
        import gzip as _gzip

        raw = _gzip.compress(raw, mtime=0)
    return raw
