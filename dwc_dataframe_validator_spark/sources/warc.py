"""WARC (Web ARChive, ISO 28500) source — the file format the web
arrives in.

Common Crawl and every serious crawl pipeline ship WARC: a
concatenation of records, each a ``WARC/1.x`` header block
(``Name: value`` lines, CRLF-terminated, ending with a blank line)
followed by ``Content-Length`` payload bytes and a ``\\r\\n\\r\\n``
record separator.  Production archives are usually
gzip-PER-RECORD (each record its own gzip member, so members can be
decompressed independently); plain-text WARCs also exist.

Reference parity: none — sources extend the LLM-pipeline family
(SURVEY.md "beyond the reference" brief; the reference reads only
DwC-A/CSV archives).

Scale design: WARC files are NOT line-splittable, so the unit of
parallelism is the FILE (Common Crawl ships ~1 GB segments — tens of
thousands of files per dump, far more than any executor count).
``read_warc`` uses ``spark.read.format("binaryFile")`` (one row per
file, streamed through Arrow batches) and parses records per file in
``mapInPandas`` — pure byte walking, no Python-per-row UDF, no
driver-side work, and a malformed record yields an ``ok=false`` row
rather than a task failure (one bad record in a 100 TB crawl must
never kill the job).  Payload truncation is available at parse time
(``max_payload``) so the scan never materializes bodies larger than
the pipeline wants.
"""

from __future__ import annotations

import gzip
import io
import zlib
from typing import Iterator

# Optional native codecs for the br/zstd Content-Encoding tier —
# same optional-backend contract as PIL in operators/multimodal.py:
# decode with the library when importable, else the pure-Python
# tier below, else the honest ``body_decoded=false`` routing.  Never
# a hard dependency.  Since round 16 the pure zstd tier decodes the
# FULL non-dictionary format (FSE/Huffman compressed blocks, CLI-
# validated); since round 17 the pure brotli tier decodes the FULL
# RFC 7932 format (functions/brotli.py — context modeling, block
# switching, static dictionary + the 121 transforms, all validated
# against the canonical codec via Node's zlib).  The remaining
# library-only surface is dictionary-zstd frames.
try:  # pragma: no cover - environment-dependent
    import brotli as _brotli_mod
except ImportError:  # pragma: no cover
    try:
        import brotlicffi as _brotli_mod
    except ImportError:
        _brotli_mod = None
try:  # pragma: no cover - environment-dependent
    import zstandard as _zstd_mod
except ImportError:  # pragma: no cover
    _zstd_mod = None

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.payload_cache import attach_blobs, map_payloads

WARC_RECORD_SCHEMA = (
    "path string, record_index long, warc_type string, "
    "target_uri string, warc_date string, content_type string, "
    "content_length long, payload binary, ok boolean"
)

# headers the schema surfaces; everything else in the block is ignored
_H_TYPE = b"warc-type"
_H_URI = b"warc-target-uri"
_H_DATE = b"warc-date"
_H_CTYPE = b"content-type"
_H_CLEN = b"content-length"

_GZIP_MAGIC = b"\x1f\x8b"


def _parse_header_block(block: bytes) -> dict | None:
    """Parse one CRLF header block (first line ``WARC/x.y``).  Returns
    the lowercased-name header dict or None if malformed.  Folded
    continuation lines (leading space/tab — legal WARC/1.0 grammar)
    append to the previous value; other junk lines are skipped
    leniently (a stray line must not discard a record whose
    Content-Length IS present and valid)."""
    lines = block.split(b"\r\n")
    if not lines or not lines[0].startswith(b"WARC/"):
        return None
    out = {}
    last = None
    for ln in lines[1:]:
        if not ln:
            continue
        if ln[:1] in (b" ", b"\t") and last is not None:
            out[last] = out[last] + b" " + ln.strip()
            continue
        name, sep, val = ln.partition(b":")
        if not sep:
            last = None          # junk line: skip, stay lenient
            continue
        last = name.strip().lower()
        out[last] = val.strip()
    return out


#: parse_warc_member_at verdicts
_MALFORMED, _INCOMPLETE = 0, 1


def parse_warc_member_at(buf, pos: int, eof: bool):
    """Parse ONE record starting at offset ``pos`` of ``buf`` WITHOUT
    copying the remaining tail (a tail copy per record is quadratic in
    file size).  Returns ``(headers, payload, new_pos)`` on success,
    ``(None, _INCOMPLETE, pos)`` when more bytes could complete the
    record (only possible while ``eof`` is False), and ``(None,
    _MALFORMED, pos)`` on bytes no suffix can repair.  Never raises."""
    end = buf.find(b"\r\n\r\n", pos)
    if end < 0:
        return (None, _MALFORMED if eof else _INCOMPLETE, pos)
    headers = _parse_header_block(bytes(buf[pos:end]))
    if headers is None:
        return None, _MALFORMED, pos
    try:
        clen = int(headers.get(_H_CLEN, b"").decode("ascii"))
    except (ValueError, UnicodeDecodeError):
        return None, _MALFORMED, pos
    start = end + 4
    if clen < 0:
        return None, _MALFORMED, pos
    if start + clen > len(buf):
        return (None, _MALFORMED if eof else _INCOMPLETE, pos)
    payload = bytes(buf[start : start + clen])
    consumed = start + clen
    # the two CRLFs closing the record (tolerate their absence at EOF)
    if buf[consumed : consumed + 4] == b"\r\n\r\n":
        consumed += 4
    return headers, payload, consumed


def parse_warc_member(b: bytes):
    """Parse ONE record from the head of ``b`` (already decompressed).
    Returns ``(headers, payload, bytes_consumed)`` or ``(None, None,
    0)`` on malformed input.  Never raises on bad bytes."""
    headers, payload, new_pos = parse_warc_member_at(b, 0, eof=True)
    if headers is None:
        return None, None, 0
    return headers, payload, new_pos


_CHUNK = 1 << 20


def iter_warc_records(raw: bytes):
    """Yield ``(headers, payload, ok)`` for every record in a WARC
    file's bytes.  Gzip input (single-stream or per-record members) is
    decompressed INCREMENTALLY — peak memory is the compressed input
    plus one record plus one chunk, never the whole decompressed file.
    Records are walked by Content-Length at offsets (no tail copies).
    A record no further bytes can repair yields one ``(None, None,
    False)`` row and scanning stops — without a valid Content-Length
    the next boundary is unknowable."""
    if raw[:2] == _GZIP_MAGIC:
        gz = gzip.GzipFile(fileobj=io.BytesIO(raw))
        buf = bytearray()
        pos = 0
        eof = False
        while True:
            if not eof:
                try:
                    chunk = gz.read(_CHUNK)
                except OSError:
                    yield None, None, False
                    return
                if chunk:
                    buf += chunk
                else:
                    eof = True
            while pos < len(buf):
                headers, payload, new_pos = parse_warc_member_at(
                    buf, pos, eof
                )
                if headers is None:
                    if payload == _INCOMPLETE:
                        break        # need more decompressed bytes
                    yield None, None, False
                    return
                yield headers, payload, True
                pos = new_pos
            if eof:
                return
            if pos:
                del buf[:pos]        # drop consumed prefix, stay O(record)
                pos = 0
        return
    pos = 0
    while pos < len(raw):
        headers, payload, new_pos = parse_warc_member_at(raw, pos, True)
        if headers is None:
            yield None, None, False
            return
        yield headers, payload, True
        pos = new_pos


def _parse_warc_files(
    files: DataFrame,
    warc_types: tuple = ("response",),
    max_payload: int | None = None,
) -> DataFrame:
    """Shared per-file parse used by ``read_warc`` (batch) and
    ``stream_warc`` (streaming) — one parser, so stream ≡ batch by
    construction."""
    keep = None if warc_types is None else {t.lower() for t in warc_types}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                for i, (h, payload, ok) in enumerate(
                    iter_warc_records(bytes(content))
                ):
                    if not ok:
                        rows.append(
                            (p, i, None, None, None, None, None, None,
                             False)
                        )
                        continue
                    wtype = h.get(_H_TYPE, b"").decode(
                        "utf-8", "replace"
                    )
                    if keep is not None and wtype.lower() not in keep:
                        continue
                    # content_length reports the record's DECLARED
                    # payload size even when max_payload truncates the
                    # bytes we keep — truncation must not silently
                    # shrink the reported length
                    declared_len = len(payload)
                    if max_payload is not None:
                        payload = payload[: int(max_payload)]
                    rows.append(
                        (
                            p,
                            i,
                            wtype,
                            h.get(_H_URI, b"").decode("utf-8", "replace")
                            or None,
                            h.get(_H_DATE, b"").decode("utf-8", "replace")
                            or None,
                            h.get(_H_CTYPE, b"").decode(
                                "utf-8", "replace"
                            )
                            or None,
                            declared_len,
                            payload,
                            True,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "path", "record_index", "warc_type", "target_uri",
                    "warc_date", "content_type", "content_length",
                    "payload", "ok",
                ],
            )

    return files.select("path", "content").mapInPandas(
        run, WARC_RECORD_SCHEMA
    )


def read_warc(
    spark: SparkSession,
    path: str | list[str],
    warc_types: tuple = ("response",),
    max_payload: int | None = None,
) -> DataFrame:
    """Read WARC file(s) into ``WARC_RECORD_SCHEMA`` rows.

    ``warc_types`` filters records by ``WARC-Type`` (crawl pipelines
    want ``response``; pass ``None`` for everything).  ``max_payload``
    truncates payload bytes AT PARSE TIME so oversized bodies never
    cross the Arrow boundary; ``content_length`` still reports the
    record's declared (pre-truncation) payload size, so
    ``content_length > length(payload)`` marks truncated rows.  One
    row per record; a malformed record produces ``ok=false`` with NULL
    fields."""
    files = spark.read.format("binaryFile").load(path)
    return _parse_warc_files(files, warc_types, max_payload)


def decode_warc_records(
    df: DataFrame, content_col: str = "record", id_col: str = "id"
) -> DataFrame:
    """Parse a BINARY COLUMN of single WARC records — the
    record-per-row shape a Kafka/stream feed or an exploded archive
    delivers (``read_warc`` is the whole-file face; this is the
    columnar one, same parser core).  Arrow-batched ``mapInPandas``,
    one ``parse_warc_member`` call per blob; NULL or malformed blobs
    yield ``ok=false`` rows with NULL fields, never task failures.
    The id column keeps its name AND type (string keys from a Kafka
    feed work as-is — the output schema is derived, not hardcoded)."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, warc_type string, target_uri string, "
        "warc_date string, content_type string, content_length long, "
        "payload binary, ok boolean"
    )

    bad = (None, None, None, None, None, None, False)

    def tails(b: bytes):
        if b[:2] == _GZIP_MAGIC:
            try:
                b = gzip.decompress(b)
            except OSError:
                return (bad,)
        h, payload, _ = parse_warc_member(b)
        if h is None:
            return (bad,)
        dec = lambda k: (  # noqa: E731
            h.get(k, b"").decode("utf-8", "replace") or None
        )
        return ((dec(_H_TYPE), dec(_H_URI), dec(_H_DATE),
                 dec(_H_CTYPE), len(payload), payload, True),)

    return map_payloads(df, tails, out_schema, bad, id_col, content_col)


def decode_warc_records_text(
    df: DataFrame, content_col: str = "record", id_col: str = "id"
) -> DataFrame:
    """FUSED parse + charset-aware payload text decode (r20 opt,
    guide §4/§8 — the ``pdf_text_from_ids`` pattern): one
    ``mapInPandas`` emitting, per record blob,

        (id, target_uri, encoding, encoding_source, content_encoding,
         chunked, body_decoded, payload_text, ok)

    — row-identical by construction to the three-step composition
    ``decode_warc_records → filter(ok) → decode_warc_payload_text``
    plus the join back for ``target_uri`` (it calls the same
    ``parse_warc_member`` and ``decode_payload_full`` tails), but the
    multi-KB payload bytes never cross the Arrow boundary at all: the
    un-fused chain shipped them Python→JVM→Python and evaluated the
    parse mapper TWICE (once under the text decode, once under the
    uri join — mapInPandas subtrees are opaque to Spark's subplan
    reuse).  Rows whose WARC parse fails keep ``ok=false`` with NULL
    fields (never consulting the text decoder — exactly what the
    composition's ``filter("ok")`` guaranteed)."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, target_uri string, encoding string, "
        "encoding_source string, content_encoding string, "
        "chunked boolean, body_decoded boolean, payload_text string, "
        "ok boolean"
    )

    bad = (None, None, None, None, None, None, None, False)

    def tails(b: bytes):
        if b[:2] == _GZIP_MAGIC:
            try:
                b = gzip.decompress(b)
            except OSError:
                return (bad,)
        h, payload, _ = parse_warc_member(b)
        if h is None:
            return (bad,)
        uri = (
            h.get(_H_URI, b"").decode("utf-8", "replace") or None
        )
        text, enc, source, ce, chunked, decoded = (
            decode_payload_full(payload)
        )
        return ((uri, enc, source, ce, chunked, decoded, text, True),)

    return map_payloads(df, tails, out_schema, bad, id_col, content_col)


#: WHATWG-style charset label normalization (the bounded subset a
#: crawl pipeline actually meets; Encoding Standard §4.2 maps the
#: latin-1/ascii family to windows-1252 because that is what servers
#: mean when they say it).  Values are Python codec names.
_CHARSET_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "us-ascii": "windows-1252", "ascii": "windows-1252",
    "iso-8859-1": "windows-1252", "iso8859-1": "windows-1252",
    "latin-1": "windows-1252", "latin1": "windows-1252",
    "l1": "windows-1252", "cp1252": "windows-1252",
    "windows-1252": "windows-1252", "x-cp1252": "windows-1252",
    "iso-8859-2": "iso-8859-2", "latin2": "iso-8859-2",
    "iso-8859-15": "iso-8859-15", "latin9": "iso-8859-15",
    "windows-1251": "windows-1251", "cp1251": "windows-1251",
    "koi8-r": "koi8-r", "koi8": "koi8-r",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis",
    "sjis": "shift_jis", "x-sjis": "shift_jis",
    "ms_kanji": "shift_jis", "windows-31j": "shift_jis",
    "euc-jp": "euc-jp", "x-euc-jp": "euc-jp",
    "iso-2022-jp": "iso2022_jp",
    "gb2312": "gb18030", "gbk": "gb18030", "gb18030": "gb18030",
    "x-gbk": "gb18030", "chinese": "gb18030",
    "big5": "big5", "big5-hkscs": "big5hkscs",
    "euc-kr": "euc_kr", "korean": "euc_kr", "ks_c_5601-1987": "euc_kr",
    "utf-16": "utf-16", "utf-16le": "utf-16-le", "utf-16be": "utf-16-be",
}


def normalize_charset(label) -> str | None:
    """Charset label → Python codec name via the WHATWG-style alias
    table; None for unknown/unsupported labels (caller falls back to
    UTF-8 and says so in ``encoding_source``)."""
    if not label:
        return None
    if isinstance(label, bytes):
        label = label.decode("ascii", "replace")
    return _CHARSET_ALIASES.get(label.strip().strip("\"'").lower())


_META_CHARSET_RE = None  # compiled lazily (bytes pattern)


def sniff_charset(payload: bytes):
    """Resolve the text encoding of an HTTP payload the way the HTML
    standard says to (in priority order):

    1. byte-order mark (UTF-8 / UTF-16 LE / UTF-16 BE) on the BODY —
       BOM beats every declaration;
    2. the ``charset`` parameter of the HTTP ``Content-Type`` header
       (when the payload is a full head+body HTTP message);
    3. an HTML ``<meta charset=…>`` / ``http-equiv`` declaration in
       the first 1024 body bytes (the HTML5 prescan window);
    4. UTF-8 (the web default).

    Returns ``(codec_name, source, body_start)`` where source is one
    of ``'bom' | 'http' | 'meta' | 'default'`` and ``body_start`` is
    the offset of the body (0 when the payload has no HTTP head)."""
    head_end, sep = _find_head_end(payload)
    if head_end >= 0 and payload[:5] in (b"HTTP/", b"http/"):
        head = payload[:head_end]
        body_start = head_end + sep
    else:
        head = b""
        body_start = 0
    enc, source, _ = _sniff_head_body(head, payload[body_start:])
    return enc, source, body_start


def _sniff_head_body(head: bytes, body: bytes):
    """The sniff proper over an already-split (head, body) pair —
    shared by ``sniff_charset`` (raw payloads) and
    ``decode_payload_full`` (payloads whose body was dechunked /
    decompressed first, where the meta prescan must see the DECODED
    bytes)."""
    global _META_CHARSET_RE
    if _META_CHARSET_RE is None:
        import re

        _META_CHARSET_RE = re.compile(
            rb"(?is)<meta[^>]{0,256}?charset\s*=\s*[\"']?([a-z0-9._\-]+)"
        )
    window = body[:1024]
    if window[:3] == b"\xef\xbb\xbf":
        return "utf-8", "bom", 0
    if window[:2] == b"\xff\xfe":
        return "utf-16-le", "bom", 0
    if window[:2] == b"\xfe\xff":
        return "utf-16-be", "bom", 0
    ct = _http_header_value(head, b"content-type")
    if ct:
        for part in ct.split(b";"):
            k, s2, v = part.partition(b"=")
            if s2 and k.strip().lower() == b"charset":
                enc = normalize_charset(v)
                if enc:
                    return enc, "http", 0
    m = _META_CHARSET_RE.search(window)
    if m:
        enc = normalize_charset(m.group(1))
        if enc:
            return enc, "meta", 0
    return "utf-8", "default", 0


def _find_head_end(payload: bytes):
    """(head_end, separator_len) for an HTTP message: the EARLIEST of
    ``\\r\\n\\r\\n`` / ``\\n\\n`` wins, so an LF-only head whose BODY
    contains CRLF pairs (chunk framing, binary) is split at the real
    head end, not deep inside the body.  A pure-CRLF head is never
    mis-split: ``b"\\r\\n\\r\\n"`` contains no ``b"\\n\\n"``.
    (-1, 0) when no terminator exists."""
    crlf_end = payload.find(b"\r\n\r\n")
    lf_end = payload.find(b"\n\n")
    if crlf_end >= 0 and (lf_end < 0 or crlf_end <= lf_end):
        return crlf_end, 4
    return lf_end, 2


def _http_header_value(head: bytes, name: bytes):
    """Value of the (last) ``name`` header in a raw head block, or
    None.  Lines split on ``\\r?\\n`` — ``decode_http_body`` accepts
    LF-only heads (the ``\\n\\n`` branch), so the header parser must
    see the same lines the head detector saw, else a chunked or
    gzipped LF-framed response would keep its raw body while
    ``body_decoded`` stayed True (silent mojibake instead of a
    flagged row)."""
    out = None
    for ln in head.replace(b"\r\n", b"\n").split(b"\n"):
        k, s, v = ln.partition(b":")
        if s and k.strip().lower() == name:
            out = v.strip()
    return out


def _dechunk(body: bytes):
    """Reverse HTTP/1.1 ``Transfer-Encoding: chunked`` framing (RFC
    9112 §7.1): hex size line (extensions after ';' ignored), chunk
    bytes, CRLF, repeated until the 0 chunk; trailers ignored.
    Returns the reassembled bytes, or None when the framing is broken
    — the caller keeps the raw body rather than fail the row.  Line
    terminators are ``\\r?\\n``-tolerant, matching the LF-only head
    branch of ``decode_http_body`` (RFC 9112 requires CRLF; lenient
    servers/proxies emit bare LF and real parsers accept it)."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\n", pos)
        if nl < 0:
            return None
        line_end = nl - 1 if body[nl - 1:nl] == b"\r" else nl
        tok = body[pos:line_end].split(b";")[0].strip()
        try:
            n = int(tok, 16)
        except ValueError:
            return None
        pos = nl + 1
        if n == 0:
            return bytes(out)
        if pos + n > len(body):
            return None
        out += body[pos:pos + n]
        pos += n
        if body[pos:pos + 2] == b"\r\n":
            pos += 2
        elif body[pos:pos + 1] == b"\n":
            pos += 1
        else:
            return None


#: decompressed-body sanity bound (same discipline as the 16 MP image
#: guard): a 100:1 zip bomb must not balloon an executor
_MAX_BODY = 64 * 1024 * 1024


def _inflate_capped(body: bytes, wbits: int):
    """One zlib-family stream, decompressed with a HARD output cap:
    ``decompressobj.decompress(body, _MAX_BODY + 1)`` stops producing
    the moment the cap is crossed, so a high-ratio bomb never
    materializes in executor memory (the pre-r14 ``zlib.decompress``
    form inflated fully before the length check ran).  Returns the
    plain bytes, or None on corrupt/truncated/over-cap streams —
    trailing bytes after a complete stream are ignored, matching
    ``zlib.decompress``'s single-stream semantics."""
    try:
        d = zlib.decompressobj(wbits)
        out = d.decompress(body, _MAX_BODY + 1)
    except zlib.error:
        return None
    if len(out) > _MAX_BODY:
        return None  # bomb: cap crossed without inflating further
    if not d.eof:
        return None  # truncated stream (decompress() alone won't raise)
    return out


def _decompress_body(body: bytes, label: bytes):
    """Reverse ``Content-Encoding``: gzip/x-gzip (member format),
    deflate (zlib-wrapped per the RFC, with the raw-DEFLATE fallback
    real servers are infamous for), and br/zstd behind the optional-
    backend contract (library when importable, else the pure-Python
    stored-frame tier — see ``_brotli_decode``/``_zstd_decode``).
    A comma-separated CHAIN (``Content-Encoding: gzip, br`` — RFC
    9110 §8.4: codings applied in list order) is reversed
    last-to-first, each hop under the same ``_MAX_BODY`` cap.
    Returns the decompressed bytes, or None when any hop is corrupt,
    over the cap, or not decodable by the available tier (the honest
    ``body_decoded=false`` routing)."""
    for one in reversed(label.split(b",")):
        one = one.strip()
        if one in (b"", b"identity"):
            continue
        body = _decompress_one(body, one)
        if body is None:
            return None
    return body


def _decompress_one(body: bytes, label: bytes):
    if label in (b"gzip", b"x-gzip"):
        return _inflate_capped(body, 16 + 15)
    if label == b"deflate":
        out = _inflate_capped(body, 15)
        if out is None:
            out = _inflate_capped(body, -15)
        return out
    if label == b"br":
        return _brotli_decode(body)
    if label == b"zstd":
        return _zstd_decode(body)
    return None


class _BitReader:
    """LSB-first bit reader over bytes (the brotli bit order,
    RFC 7932 §2)."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read(self, n: int) -> int:
        out = 0
        for i in range(n):
            if self.pos >= len(self.data):
                raise EOFError
            out |= ((self.data[self.pos] >> self.bit) & 1) << i
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
        return out

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1


def _brotli_decode_pure(body: bytes):
    """Pure-Python brotli tier: STORED-MODE streams only — a window
    header followed by uncompressed metablocks (ISUNCOMPRESSED=1,
    RFC 7932 §9.2) and metadata skips, ending in an empty last
    metablock.  This is the framing real encoders emit for
    incompressible payloads; general compressed metablocks need the
    full RFC 7932 machinery including the 120 KB static dictionary,
    which stays behind the optional ``brotli`` library — such
    streams return None here (the honest ``body_decoded=false``
    routing).  Output is capped at ``_MAX_BODY`` before any copy."""
    br = _BitReader(body)
    out = bytearray()
    try:
        # WBITS variable-length code (RFC 7932 §9.1)
        if br.read(1):
            n = br.read(3)
            if n == 0:
                m = br.read(3)
                if m == 1:  # reserved pattern
                    return None
                # m == 0 -> WBITS 17, else WBITS 8 + m (10..15);
                # window size only bounds back-references, which
                # stored mode never makes — parse and ignore
        while True:
            islast = br.read(1)
            if islast and br.read(1):  # ISLASTEMPTY
                break
            mnib_code = br.read(2)
            if mnib_code == 3:  # MNIBBLES=0: metadata meta-block
                if islast or br.read(1):  # reserved bit must be 0
                    return None
                skip_bytes = br.read(2)
                skip_len = 0
                if skip_bytes:
                    skip_len = br.read(8 * skip_bytes) + 1
                br.align()
                if br.pos + skip_len > len(body):
                    return None
                br.pos += skip_len
                continue
            mlen = br.read(4 * (4 + mnib_code)) + 1
            if islast:
                return None  # last block with data is compressed
            if not br.read(1):  # ISUNCOMPRESSED == 0
                return None  # compressed meta-block: library tier
            if len(out) + mlen > _MAX_BODY:
                return None
            br.align()
            if br.pos + mlen > len(body):
                return None
            out += body[br.pos:br.pos + mlen]
            br.pos += mlen
    except EOFError:
        return None
    return bytes(out)


def brotli_store(raw: bytes) -> bytes:
    """STORED-mode brotli framing (RFC 7932: WBITS=16 header, then
    one uncompressed metablock per ≤64 KiB chunk, then the empty
    last metablock) — a valid stream any conformant brotli decoder
    accepts, used for the Content-Encoding fixtures so the oracle
    runs without the native codec.  The inverse of
    ``_brotli_decode_pure``."""
    bits = bytearray()
    nbit = 0

    def put(val: int, n: int) -> None:
        nonlocal nbit
        for i in range(n):
            if nbit % 8 == 0:
                bits.append(0)
            if (val >> i) & 1:
                bits[-1] |= 1 << (nbit % 8)
            nbit += 1

    out = bytearray()

    def flush() -> None:
        nonlocal nbit
        out.extend(bits)
        bits.clear()
        nbit = 0

    put(0, 1)  # WBITS = 16
    for i in range(0, len(raw), 1 << 16):
        chunk = raw[i:i + (1 << 16)]
        put(0, 1)                     # ISLAST = 0
        put(0, 2)                     # MNIBBLES code 0 -> 4 nibbles
        put(len(chunk) - 1, 16)       # MLEN - 1
        put(1, 1)                     # ISUNCOMPRESSED
        flush()                       # byte-align before literals
        out += chunk
    put(1, 1)  # ISLAST
    put(1, 1)  # ISLASTEMPTY
    flush()
    return bytes(out)


def _brotli_decode(body: bytes):
    """br Content-Encoding: native ``brotli``/``brotlicffi`` when
    importable (fed in 64 KiB slices so the ``_MAX_BODY`` cap is
    checked before a bomb fully materializes), else the FULL
    pure-Python RFC 7932 decoder (functions/brotli.py) with the
    same output cap, with the zero-dependency stored-mode walker as
    the last resort.  None = keep raw bytes, ``body_decoded``
    false."""
    if _brotli_mod is not None:  # pragma: no cover - optional codec
        try:
            d = _brotli_mod.Decompressor()
            out = bytearray()
            for i in range(0, len(body), 1 << 16):
                out += d.process(bytes(body[i:i + (1 << 16)]))
                if len(out) > _MAX_BODY:
                    return None
            if hasattr(d, "is_finished") and not d.is_finished():
                return None
            return bytes(out)
        except Exception:
            return None
    try:
        from ..functions.brotli import _BrotliError, decompress

        try:
            return decompress(bytes(body), max_out=_MAX_BODY)
        except _BrotliError:
            return None
    except Exception:  # data tables missing: stored-mode only
        return _brotli_decode_pure(body)


_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"


# ---- zstd compressed blocks (RFC 8878 §4): FSE + Huffman ------------
# Pure-Python entropy decode so ``Content-Encoding: zstd`` bodies
# decode WITHOUT the native codec — the r15 verdict's stretch item.
# Validated in pytest against the reference ``zstd`` CLI where
# present (round-trips across levels/shapes) plus corruption fuzz.


class _ZTorn(Exception):
    """Internal: corrupt/unsupported zstd structure → decode None."""


class _ZBack:
    """zstd backward bitstream: bytes written LSB-first, read from
    the END, below the 1-bit sentinel in the last byte.  Python
    bigint container — streams are budget-capped upstream."""

    __slots__ = ("v", "n")

    def __init__(self, data: bytes):
        if not data or data[-1] == 0:
            raise _ZTorn()  # sentinel must live in the last byte
        self.v = int.from_bytes(data, "little")
        self.n = self.v.bit_length() - 1  # bits below the sentinel

    def read(self, k: int) -> int:
        if k == 0:
            return 0
        if k > self.n:
            raise _ZTorn()
        self.n -= k
        return (self.v >> self.n) & ((1 << k) - 1)

    def peek_pad(self, k: int) -> int:
        """Top ``k`` bits, zero-padded when fewer remain (the Huffman
        tail convention)."""
        if self.n >= k:
            return (self.v >> (self.n - k)) & ((1 << k) - 1)
        return (self.v << (k - self.n)) & ((1 << k) - 1)

    def skip(self, k: int) -> None:
        self.n -= k
        if self.n < 0:
            raise _ZTorn()


class _ZFwd:
    """Forward LSB-first bit reader (FSE table descriptions)."""

    __slots__ = ("d", "bit")

    def __init__(self, data: bytes):
        self.d = data
        self.bit = 0

    def read(self, k: int) -> int:
        out = 0
        for i in range(k):
            p, b = divmod(self.bit, 8)
            if p >= len(self.d):
                raise _ZTorn()
            out |= ((self.d[p] >> b) & 1) << i
            self.bit += 1
        return out

    def consumed(self) -> int:
        return (self.bit + 7) // 8


def _fse_read_ncount(data: bytes, max_sym: int, max_acc: int):
    """FSE normalized counts (RFC 8878 §4.1.1): 4-bit accuracy-log
    (+5), variable-width probabilities with the shrinking-threshold
    scheme, prob 0 followed by 2-bit zero-run repeats, prob −1 =
    "less than 1" (one cell).  Returns (probs, acc_log,
    bytes_consumed); raises on corruption."""
    bits = _ZFwd(data)
    acc = bits.read(4) + 5
    if acc > max_acc:
        raise _ZTorn()
    size = 1 << acc
    remaining = size + 1
    threshold = size
    nb = acc + 1
    probs: list = []
    prev0 = False
    while remaining > 1:
        if len(probs) > max_sym:
            raise _ZTorn()
        if prev0:
            while True:
                r = bits.read(2)
                probs.extend([0] * r)
                if r != 3:
                    break
                if len(probs) > max_sym:
                    raise _ZTorn()
            prev0 = False
            continue
        hi = 2 * threshold - 1 - remaining
        count = bits.read(nb - 1)
        if count < hi:
            pass  # small value: nb-1 bits were enough
        else:
            count |= bits.read(1) << (nb - 1)
            if count >= threshold:
                count -= hi
        count -= 1  # −1 encodes "less than 1"
        remaining -= -count if count < 0 else count
        probs.append(count)
        if count == 0:
            prev0 = True
        while remaining < threshold:
            nb -= 1
            threshold >>= 1
    if remaining != 1:
        raise _ZTorn()
    return probs, acc, bits.consumed()


def _fse_build(probs: list, acc: int):
    """FSE decode table from normalized counts: −1 symbols take
    single cells from the table's END; positive ones spread with the
    (size/2 + size/8 + 3) step; per-state (symbol, nbBits, baseline)
    via the standard counter walk."""
    size = 1 << acc
    syms = [0] * size
    high = size - 1
    for s, p in enumerate(probs):
        if p == -1:
            syms[high] = s
            high -= 1
    pos = 0
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    for s, p in enumerate(probs):
        for _ in range(p if p > 0 else 0):
            syms[pos] = s
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    if pos != 0:
        raise _ZTorn()  # counts must tile the table exactly
    nxt = [1 if p == -1 else p for p in probs]
    nbbits = [0] * size
    base = [0] * size
    for i in range(size):
        s = syms[i]
        x = nxt[s]
        nxt[s] += 1
        k = acc - (x.bit_length() - 1)
        nbbits[i] = k
        base[i] = (x << k) - size
    return syms, nbbits, base, acc


def _fse_rle_table(sym: int):
    """Degenerate 1-state table for the RLE sequence mode."""
    return [sym], [0], [0], 0


def _huf_read_weights(data: bytes):
    """Huffman weights (RFC 8878 §4.2.1): header < 128 → FSE-packed
    (two interleaved states over a backward stream), else direct
    4-bit pairs.  Returns (weights_without_last, bytes_consumed)."""
    if not data:
        raise _ZTorn()
    h = data[0]
    if h >= 128:
        n = h - 127
        need = (n + 1) // 2
        if 1 + need > len(data):
            raise _ZTorn()
        w = []
        for i in range(n):
            byte = data[1 + i // 2]
            w.append((byte >> 4) if i % 2 == 0 else (byte & 0xF))
        return w, 1 + need
    if 1 + h > len(data):
        raise _ZTorn()
    sub = data[1:1 + h]
    probs, acc, used = _fse_read_ncount(sub, 255, 6)
    table = _fse_build(probs, acc)
    back = _ZBack(sub[used:])
    syms, nbb, base, _ = table
    s1 = back.read(acc)
    s2 = back.read(acc)
    w = []
    while True:
        w.append(syms[s1])
        try:
            s1 = base[s1] + back.read(nbb[s1])
        except _ZTorn:
            w.append(syms[s2])
            break
        w.append(syms[s2])
        try:
            s2 = base[s2] + back.read(nbb[s2])
        except _ZTorn:
            w.append(syms[s1])
            break
        if len(w) > 255:
            raise _ZTorn()
    if len(w) > 255:
        raise _ZTorn()
    return w, 1 + h


def _huf_build(weights: list):
    """Canonical Huffman decode table from explicit weights (the
    LAST symbol's weight is implied by power-of-2 completion):
    (cell→(symbol, nbBits), table_log)."""
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise _ZTorn()
    tl = total.bit_length()  # smallest 2^tl > total
    left = (1 << tl) - total
    if left & (left - 1):
        raise _ZTorn()  # completion must be a power of 2
    weights = weights + [left.bit_length()]
    if len(weights) > 256 or tl > 11:
        raise _ZTorn()
    cells = [None] * (1 << tl)
    pos = 0
    for w in range(1, tl + 1):
        for s, sw in enumerate(weights):
            if sw != w:
                continue
            nb = tl + 1 - w
            span = 1 << (w - 1)
            if pos + span > len(cells):
                raise _ZTorn()
            for k in range(span):
                cells[pos + k] = (s, nb)
            pos += span
    if pos != len(cells):
        raise _ZTorn()
    return cells, tl


def _huf_stream(cells, tl: int, data: bytes, out_len: int) -> bytes:
    """One backward Huffman literal stream → exactly ``out_len``
    bytes; the stream must end exactly empty."""
    back = _ZBack(data)
    out = bytearray()
    for _ in range(out_len):
        s, nb = cells[back.peek_pad(tl)]
        back.skip(nb)
        out.append(s)
    if back.n != 0:
        raise _ZTorn()
    return bytes(out)


#: sequence-code predefined distributions (RFC 8878 §4.2.2)
_ZLL_DEF = (4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
            2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
            -1, -1, -1, -1)
_ZML_DEF = (1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
            1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
            1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
            -1, -1, -1, -1, -1)
_ZOF_DEF = (1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
            1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1)
#: literals-length code → (baseline, extra bits)
_ZLL_BASE = tuple(
    [(i, 0) for i in range(16)]
    + [(16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2),
       (32, 3), (40, 3), (48, 4), (64, 6), (128, 7), (256, 8),
       (512, 9), (1024, 10), (2048, 11), (4096, 12), (8192, 13),
       (16384, 14), (32768, 15), (65536, 16)]
)
#: match-length code → (baseline, extra bits)
_ZML_BASE = tuple(
    [(i + 3, 0) for i in range(32)]
    + [(35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2),
       (51, 3), (59, 3), (67, 4), (83, 4), (99, 5), (131, 7),
       (259, 8), (515, 9), (1027, 10), (2051, 11), (4099, 12),
       (8195, 13), (16387, 14), (32771, 15), (65539, 16)]
)


def _zstd_seq_table(mode: int, data: bytes, pos: int, defaults,
                    def_acc: int, max_sym: int, max_acc: int, prev):
    """One sequence-code FSE table per its 2-bit compression mode:
    0 predefined (fixed accuracy log per code type), 1 RLE (one
    byte), 2 FSE-described, 3 repeat.  Returns (table, new_pos)."""
    if mode == 0:
        return _fse_build(list(defaults), def_acc), pos
    if mode == 1:
        if pos >= len(data):
            raise _ZTorn()
        sym = data[pos]
        if sym > max_sym:
            raise _ZTorn()
        return _fse_rle_table(sym), pos + 1
    if mode == 2:
        probs, acc, used = _fse_read_ncount(
            data[pos:], max_sym, max_acc
        )
        return _fse_build(probs, acc), pos + used
    if prev is None:
        raise _ZTorn()  # repeat with no previous table
    return prev, pos


def _zstd_compressed_block(data: bytes, ctx: dict, fout: bytearray,
                           cap: int) -> None:
    """One Compressed_Block (RFC 8878 §4.2), appended to ``fout``
    (the FRAME's output buffer — match offsets legally reach back
    into earlier blocks of the same frame).  ``ctx`` carries the
    frame-persistent state: the literals Huffman table (treeless
    reuse), the three sequence FSE tables (repeat mode) and the
    repeated-offset history."""
    if not data:
        raise _ZTorn()
    # ---- literals section
    lb = data[0]
    lit_type = lb & 3
    sf = (lb >> 2) & 3
    pos = 0
    if lit_type in (0, 1):  # Raw / RLE literals
        if sf in (0, 2):
            regen = lb >> 3
            pos = 1
        elif sf == 1:
            if len(data) < 2:
                raise _ZTorn()
            regen = (lb >> 4) | (data[1] << 4)
            pos = 2
        else:
            if len(data) < 3:
                raise _ZTorn()
            regen = (lb >> 4) | (data[1] << 4) | (data[2] << 12)
            pos = 3
        if regen > cap:
            raise _ZTorn()
        if lit_type == 0:
            if pos + regen > len(data):
                raise _ZTorn()
            literals = data[pos:pos + regen]
            pos += regen
        else:
            if pos >= len(data):
                raise _ZTorn()
            literals = data[pos:pos + 1] * regen
            pos += 1
    else:  # Compressed / Treeless
        if sf == 0:
            if len(data) < 3:
                raise _ZTorn()
            h = lb | (data[1] << 8) | (data[2] << 16)
            regen = (h >> 4) & 0x3FF
            csize = (h >> 14) & 0x3FF
            streams = 1
            pos = 3
        elif sf == 1:
            if len(data) < 3:
                raise _ZTorn()
            h = lb | (data[1] << 8) | (data[2] << 16)
            regen = (h >> 4) & 0x3FF
            csize = (h >> 14) & 0x3FF
            streams = 4
            pos = 3
        elif sf == 2:
            if len(data) < 4:
                raise _ZTorn()
            h = lb | (data[1] << 8) | (data[2] << 16) | (data[3] << 24)
            regen = (h >> 4) & 0x3FFF
            csize = (h >> 18) & 0x3FFF
            streams = 4
            pos = 4
        else:
            if len(data) < 5:
                raise _ZTorn()
            h = (lb | (data[1] << 8) | (data[2] << 16)
                 | (data[3] << 24) | (data[4] << 32))
            regen = (h >> 4) & 0x3FFFF
            csize = (h >> 22) & 0x3FFFF
            streams = 4
            pos = 5
        if regen > cap or pos + csize > len(data):
            raise _ZTorn()
        section = data[pos:pos + csize]
        pos += csize
        spos = 0
        if lit_type == 2:
            weights, used = _huf_read_weights(section)
            ctx["huff"] = _huf_build(weights)
            spos = used
        elif ctx.get("huff") is None:
            raise _ZTorn()  # treeless with no previous tree
        cells, tl = ctx["huff"]
        if streams == 1:
            literals = _huf_stream(cells, tl, section[spos:], regen)
        else:
            if spos + 6 > len(section):
                raise _ZTorn()
            s1 = int.from_bytes(section[spos:spos + 2], "little")
            s2 = int.from_bytes(section[spos + 2:spos + 4], "little")
            s3 = int.from_bytes(section[spos + 4:spos + 6], "little")
            spos += 6
            rest = section[spos:]
            if s1 + s2 + s3 > len(rest):
                raise _ZTorn()
            part = (regen + 3) // 4
            sizes = [part, part, part, regen - 3 * part]
            if sizes[3] < 0:
                raise _ZTorn()
            bounds = [0, s1, s1 + s2, s1 + s2 + s3, len(rest)]
            literals = b"".join(
                _huf_stream(
                    cells, tl, rest[bounds[i]:bounds[i + 1]], sizes[i]
                )
                for i in range(4)
            )
    # ---- sequences section
    if pos >= len(data):
        raise _ZTorn()
    b0 = data[pos]
    pos += 1
    if b0 == 0:
        nseq = 0
    elif b0 < 128:
        nseq = b0
    elif b0 < 255:
        if pos >= len(data):
            raise _ZTorn()
        nseq = ((b0 - 128) << 8) | data[pos]
        pos += 1
    else:
        if pos + 2 > len(data):
            raise _ZTorn()
        nseq = data[pos] | (data[pos + 1] << 8) | 0x7F00
        pos += 2
    if nseq == 0:
        if pos != len(data):
            raise _ZTorn()  # trailing garbage after a no-seq block
        if len(fout) + len(literals) > cap:
            raise _ZTorn()
        fout += literals
        return
    if pos >= len(data):
        raise _ZTorn()
    modes = data[pos]
    pos += 1
    if modes & 3:
        raise _ZTorn()  # reserved bits
    ll_t, pos = _zstd_seq_table(
        (modes >> 6) & 3, data, pos, _ZLL_DEF, 6, 35, 9,
        ctx.get("ll")
    )
    of_t, pos = _zstd_seq_table(
        (modes >> 4) & 3, data, pos, _ZOF_DEF, 5, 31, 8,
        ctx.get("of")
    )
    ml_t, pos = _zstd_seq_table(
        (modes >> 2) & 3, data, pos, _ZML_DEF, 6, 52, 9,
        ctx.get("ml")
    )
    ctx["ll"], ctx["of"], ctx["ml"] = ll_t, of_t, ml_t
    back = _ZBack(data[pos:])
    ll_s = back.read(ll_t[3])
    of_s = back.read(of_t[3])
    ml_s = back.read(ml_t[3])
    rep = ctx["rep"]
    lit_pos = 0
    for i in range(nseq):
        of_code = of_t[0][of_s]
        if of_code > 31:
            raise _ZTorn()
        offset_val = (1 << of_code) + back.read(of_code)
        ml_code = ml_t[0][ml_s]
        if ml_code > 52:
            raise _ZTorn()
        mlb, mle = _ZML_BASE[ml_code]
        ml = mlb + back.read(mle)
        ll_code = ll_t[0][ll_s]
        if ll_code > 35:
            raise _ZTorn()
        llb, lle = _ZLL_BASE[ll_code]
        ll = llb + back.read(lle)
        if offset_val <= 3:
            idx = offset_val - 1 + (1 if ll == 0 else 0)
            if idx == 0:
                offset = rep[0]
            elif idx == 1:
                offset = rep[1]
                rep[:] = [offset, rep[0], rep[2]]
            elif idx == 2:
                offset = rep[2]
                rep[:] = [offset, rep[0], rep[1]]
            else:
                offset = rep[0] - 1
                if offset <= 0:
                    raise _ZTorn()
                rep[:] = [offset, rep[0], rep[1]]
        else:
            offset = offset_val - 3
            rep[:] = [offset, rep[0], rep[1]]
        if lit_pos + ll > len(literals):
            raise _ZTorn()
        if len(fout) + ll + ml > cap:
            raise _ZTorn()
        fout += literals[lit_pos:lit_pos + ll]
        lit_pos += ll
        if offset > len(fout) or offset <= 0:
            raise _ZTorn()  # back-reference beyond the frame window
        start = len(fout) - offset
        for k in range(ml):  # byte-wise: overlap is the common case
            fout.append(fout[start + k])
        if i < nseq - 1:
            # RFC 8878 §4.2.2.3 update order: LL, then ML, then OF
            ll_s = ll_t[2][ll_s] + back.read(ll_t[1][ll_s])
            ml_s = ml_t[2][ml_s] + back.read(ml_t[1][ml_s])
            of_s = of_t[2][of_s] + back.read(of_t[1][of_s])
    if back.n != 0:
        raise _ZTorn()
    if len(fout) + len(literals) - lit_pos > cap:
        raise _ZTorn()
    fout += literals[lit_pos:]


def _zstd_parse_dictionary(blob: bytes):
    """RFC 8878 §5 dictionary parse → the frame-seeding state:
    ``{"id", "content", "huff", "of", "ml", "ll", "rep"}``.  A
    formatted dictionary (magic 0xEC30A437) carries a dictionary id,
    entropy tables (Huffman literals weights, then the OF/ML/LL FSE
    tables) and three initial repeat offsets ahead of its content; a
    blob WITHOUT the magic is a raw-content dictionary (window
    prefix only, default tables).  None on a torn formatted
    header."""
    raw = {"id": None, "content": bytes(blob), "huff": None,
           "of": None, "ml": None, "ll": None, "rep": [1, 4, 8]}
    if len(blob) < 8 or blob[:4] != b"\x37\xa4\x30\xec":
        return raw  # raw-content dictionary
    did = int.from_bytes(blob[4:8], "little")
    try:
        weights, used = _huf_read_weights(blob[8:])
        huff = _huf_build(weights)
        pos = 8 + used
        of_t, pos = _zstd_seq_table(2, blob, pos, _ZOF_DEF, 5, 31, 8,
                                    None)
        ml_t, pos = _zstd_seq_table(2, blob, pos, _ZML_DEF, 6, 52, 9,
                                    None)
        ll_t, pos = _zstd_seq_table(2, blob, pos, _ZLL_DEF, 6, 35, 9,
                                    None)
    except _ZTorn:
        return None
    if pos + 12 > len(blob):
        return None
    rep = [int.from_bytes(blob[pos + 4 * k:pos + 4 * k + 4], "little")
           for k in range(3)]
    content = blob[pos + 12:]
    if any(r == 0 or r > len(content) for r in rep):
        return None  # offsets must land inside the content
    return {"id": did, "content": content, "huff": huff,
            "of": of_t, "ml": ml_t, "ll": ll_t, "rep": rep}


def zstd_decompress(body: bytes, dictionary: bytes | None = None):
    """Public pure-tier entry: decode ``body`` (multi-frame ok),
    optionally against a dictionary blob (formatted or raw content).
    None on any torn structure, an unknown dictionary id, or the
    ``_MAX_BODY`` cap — the wire tier's honest-flag contract at the
    API surface."""
    zdict = None
    if dictionary is not None:
        zdict = _zstd_parse_dictionary(dictionary)
        if zdict is None:
            return None
    return _zstd_decode_pure(body, zdict)


def _zstd_decode_pure(body: bytes, zdict=None):
    """Pure-Python zstd decode (RFC 8878): frame header parse (all
    descriptor flag combinations), Raw / RLE / COMPRESSED blocks
    (FSE + Huffman entropy sections via ``_zstd_compressed_block`` —
    since round 16 the full format decodes without the native
    codec), skippable frames, multi-frame concatenation, checksum
    field consumed unverified.  Since round 17 dictionary frames
    decode when the dictionary is SUPPLIED (``zdict`` from
    ``_zstd_parse_dictionary``: entropy tables seed the frame
    context, the content prefixes the match window, the id must
    match the frame's declaration); a frame declaring a dictionary
    this call does not hold, and any corrupt structure, return None
    (the honest ``body_decoded=false`` routing).  Output capped at
    ``_MAX_BODY`` before any copy, so an RLE/match bomb never
    balloons an executor.  Validated against the reference ``zstd``
    CLI in pytest (skip-gated on its presence)."""
    out = bytearray()
    pos = 0
    n = len(body)
    while pos < n:
        magic = body[pos:pos + 4]
        if len(magic) < 4:
            return None
        if magic[1:4] == b"\x2a\x4d\x18" and 0x50 <= magic[0] <= 0x5F:
            # skippable frame: 4-byte LE size, content ignored
            if pos + 8 > n:
                return None
            size = int.from_bytes(body[pos + 4:pos + 8], "little")
            pos += 8 + size
            if pos > n:
                return None
            continue
        if magic != _ZSTD_MAGIC:
            return None
        pos += 4
        if pos >= n:
            return None
        fhd = body[pos]
        pos += 1
        if fhd & 0x08:  # reserved bit must be zero
            return None
        single_segment = (fhd >> 5) & 1
        if not single_segment:
            pos += 1  # window descriptor: bounds back-refs only
        dict_flag = fhd & 3
        did = 0
        if dict_flag:
            sz = (0, 1, 2, 4)[dict_flag]
            if pos + sz > n:
                return None
            did = int.from_bytes(body[pos:pos + sz], "little")
            pos += sz
        if did and (zdict is None or zdict["id"] != did):
            return None  # declared dictionary not supplied: honest
        fcs_flag = fhd >> 6
        fcs_size = (1 if single_segment else 0, 2, 4, 8)[fcs_flag]
        pos += fcs_size  # content size: informational for raw/RLE
        if pos > n:
            return None
        # frame-local window for match offsets; a supplied
        # dictionary seeds it (content = window prefix, excluded
        # from output) plus the entropy/repeat state
        if zdict is not None:
            fout = bytearray(zdict["content"])
            ctx: dict = {
                "rep": list(zdict["rep"]), "huff": zdict["huff"],
                "of": zdict["of"], "ml": zdict["ml"],
                "ll": zdict["ll"],
            }
        else:
            fout = bytearray()
            ctx = {"rep": [1, 4, 8]}
        prefix = len(fout)
        while True:  # block loop
            if pos + 3 > n:
                return None
            h = int.from_bytes(body[pos:pos + 3], "little")
            pos += 3
            last, btype, bsize = h & 1, (h >> 1) & 3, h >> 3
            cap = _MAX_BODY - len(out) - (len(fout) - prefix)
            if btype == 0:  # Raw_Block
                if bsize > cap or pos + bsize > n:
                    return None
                fout += body[pos:pos + bsize]
                pos += bsize
            elif btype == 1:  # RLE_Block: 1 byte repeated bsize times
                if bsize > cap or pos + 1 > n:
                    return None
                fout += body[pos:pos + 1] * bsize
                pos += 1
            elif btype == 2:  # Compressed_Block: FSE/Huffman decode
                if pos + bsize > n:
                    return None
                try:
                    _zstd_compressed_block(
                        body[pos:pos + bsize], ctx, fout,
                        len(fout) + cap,
                    )
                except _ZTorn:
                    return None
                pos += bsize
            else:  # Reserved block type
                return None
            if last:
                break
        out += fout[prefix:] if prefix else fout
        if (fhd >> 2) & 1:  # content checksum: consumed, unverified
            pos += 4
            if pos > n:
                return None
    return bytes(out)


def zstd_frame_store(raw: bytes) -> bytes:
    """Store-mode zstd framing (RFC 8878: magic, single-segment
    frame header with 4-byte content size, Raw blocks per ≤64 KiB
    chunk) — a valid frame any conformant zstd decoder accepts, used
    for the Content-Encoding fixtures so the oracle runs without the
    native codec.  The inverse of ``_zstd_decode_pure``."""
    out = bytearray(_ZSTD_MAGIC)
    out.append(0xA0)  # FCS 4-byte | single-segment | no checksum/dict
    out += len(raw).to_bytes(4, "little")
    chunks = [raw[i:i + (1 << 16)] for i in range(0, len(raw), 1 << 16)]
    if not chunks:
        chunks = [b""]
    for i, chunk in enumerate(chunks):
        last = 1 if i == len(chunks) - 1 else 0
        out += ((len(chunk) << 3) | last).to_bytes(3, "little")
        out += chunk
    return bytes(out)


def zstd_frame_rle(byte: int, count: int) -> bytes:
    """One zstd frame whose content is ``count`` repeats of ``byte``,
    carried as a single RLE block — fixture coverage for the RLE
    branch of ``_zstd_decode_pure``."""
    out = bytearray(_ZSTD_MAGIC)
    out.append(0xA0)
    out += count.to_bytes(4, "little")
    out += ((count << 3) | (1 << 1) | 1).to_bytes(3, "little")
    out.append(byte)
    return bytes(out)


def _zstd_decode(body: bytes):
    """zstd Content-Encoding: native ``zstandard`` when importable
    (streamed read with the ``_MAX_BODY`` cap), else the pure
    raw/RLE-frame tier.  None = keep raw bytes, ``body_decoded``
    false."""
    if _zstd_mod is not None:  # pragma: no cover - optional codec
        try:
            reader = _zstd_mod.ZstdDecompressor().stream_reader(
                io.BytesIO(body)
            )
            out = reader.read(_MAX_BODY + 1)
            if len(out) > _MAX_BODY:
                return None
            return out
        except Exception:
            return None
    return _zstd_decode_pure(body)


def decode_http_body(payload: bytes):
    """HTTP wire decode AHEAD of the charset sniff — the two layers a
    real crawl payload wraps its HTML in: ``Transfer-Encoding:
    chunked`` framing first (it wraps the compressed bytes on the
    wire), then ``Content-Encoding`` decompression.  Returns
    ``(head, body, content_encoding, chunked, body_decoded)`` —
    ``body_decoded`` False when a declared encoding could not be
    reversed (corrupt stream, unsupported codec like br/zstd, broken
    chunk framing); the RAW bytes are kept so downstream stages can
    still count/route the row instead of dropping it."""
    head_end, sep = _find_head_end(payload)
    if head_end >= 0 and payload[:5] in (b"HTTP/", b"http/"):
        head = payload[:head_end]
        body = payload[head_end + sep:]
    else:
        return b"", payload, None, False, True
    te = _http_header_value(head, b"transfer-encoding")
    ce = _http_header_value(head, b"content-encoding")
    chunked = te is not None and b"chunked" in te.lower()
    decoded = True
    if chunked:
        dechunked = _dechunk(body)
        if dechunked is None:
            decoded = False
        else:
            body = dechunked
    ce_label = ce.lower() if ce else None
    if decoded and ce_label and ce_label != b"identity":
        plain = _decompress_body(body, ce_label)
        if plain is None or len(plain) > _MAX_BODY:
            decoded = False
        else:
            body = plain
    return (
        head, body,
        ce_label.decode("ascii", "replace") if ce_label else None,
        chunked, decoded,
    )


def decode_payload(payload: bytes):
    """Charset-aware payload → text: HTTP wire decode first
    (``decode_http_body``: dechunk + decompress), then the charset
    sniff over the head and the DECODED body, then decode — the head
    (always ASCII-compatible on the wire) as latin-1 and the body with
    the sniffed codec, ``errors='replace'``.  A UTF-8 BOM is stripped;
    UTF-16 BOMs are consumed by the codec.  Returns ``(text, encoding,
    source)`` — text keeps the ``head + CRLFCRLF + body`` shape so
    ``wet_extract``/``http_*`` compose unchanged.
    ``decode_payload_full`` adds the wire-decode metadata."""
    return decode_payload_full(payload)[:3]


def decode_payload_full(payload: bytes):
    """(text, encoding, encoding_source, content_encoding, chunked,
    body_decoded) — see ``decode_payload``."""
    head, body, ce, chunked, decoded = decode_http_body(payload)
    enc, source, _bs = _sniff_head_body(head, body)
    b = body
    if enc == "utf-8" and b[:3] == b"\xef\xbb\xbf":
        b = b[3:]
    text = b.decode(enc, "replace")
    if text[:1] == "﻿":
        text = text[1:]  # UTF-16 codecs decode their BOM to U+FEFF
    if head:
        text = head.decode("latin-1") + "\r\n\r\n" + text
    return text, enc, source, ce, chunked, decoded


def decode_warc_payload_text(
    df: DataFrame, payload_col: str = "payload", id_col: str = "id"
) -> DataFrame:
    """Charset-aware text decode of a BINARY payload column —
    the step between ``read_warc``/``decode_warc_records`` and
    ``wet_extract`` that a blind ``CAST(payload AS STRING)`` (always
    UTF-8) gets wrong on the latin-1/Shift-JIS/GBK tail of any real
    crawl: those pages decode to mojibake (U+FFFD runs), poisoning
    every downstream text gate.  The HTTP wire layers come off first
    (``decode_http_body``: chunked de-framing, gzip/deflate
    decompression — undecodable bodies keep their raw bytes and read
    ``body_decoded=false``).  Returns ``(id, encoding,
    encoding_source, content_encoding, chunked, body_decoded,
    payload_text)`` — all surfaced as columns so gates can filter or
    stratify on them.  Arrow-batched ``mapInPandas``, map-side, no
    shuffle; NULL payloads stay NULL with NULL encoding."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, encoding string, encoding_source string, "
        "content_encoding string, chunked boolean, body_decoded boolean, "
        "payload_text string"
    )

    def tails(b: bytes):
        text, enc, source, ce, chunked, decoded = decode_payload_full(b)
        return ((enc, source, ce, chunked, decoded, text),)

    return map_payloads(
        df, tails, out_schema, (None,) * 6, id_col, payload_col
    )


def build_warc_record(
    uri: str,
    payload: bytes,
    warc_type: str = "response",
    date: str = "2026-01-01T00:00:00Z",
    content_type: str = "text/plain",
) -> bytes:
    """Serialize one plain (uncompressed) WARC record — the writer
    half used by tests and the round-trip oracle; gzip-per-record
    writing is ``gzip.compress`` of this."""
    head = (
        b"WARC/1.0\r\n"
        + f"WARC-Type: {warc_type}\r\n".encode()
        + f"WARC-Target-URI: {uri}\r\n".encode()
        + f"WARC-Date: {date}\r\n".encode()
        + f"Content-Type: {content_type}\r\n".encode()
        + f"Content-Length: {len(payload)}\r\n".encode()
    )
    return head + b"\r\n" + payload + b"\r\n\r\n"


#: charset fixture classes: (codec, declaration channel, body text) —
#: every declaration channel and the BOM-beats-header rule covered
_CHARSET_FIXTURES = (
    ("utf-8", "http", "Résumé naïve — déjà vu."),
    ("windows-1252", "http-latin1", "café münchen ¡hola señor!"),
    ("shift_jis", "meta-equiv", "こんにちは世界。東京タワー。"),
    ("utf-8", "bom-lying-header", "BOM wins: àéîõü."),
    ("utf-8", "none", "Ünïcödé by default."),
    ("windows-1252", "meta", "“smart” quotes – and €uro."),
    ("euc-jp", "http", "日本語のテキストです。"),
    ("utf-16-le", "bom", "UTF-16 bödy tëxt."),
)


def _builder_memo(key_expr):
    """Per-worker fixture-builder memoization on the brute-force-
    verified reduced key (r19 opt round; same contract as
    operators/multimodal._fixture_memo — byte-identical blobs,
    bench rows measure the operators instead of fixture encoding)."""
    def deco(build):
        from ..operators.multimodal import _fixture_memo

        return _fixture_memo(key_expr)(build)
    return deco


@_builder_memo(lambda d: (d % 8, d % 11 == 0))
def build_charset_http_blob(doc_id: int) -> bytes:
    """HTTP-response bytes for the charset-decode fixtures: class
    ``doc_id %% 8`` picks (codec, declaration channel, text) from
    ``_CHARSET_FIXTURES`` — HTTP header charset, meta charset,
    http-equiv, UTF-8/UTF-16 BOMs (including a BOM that overrides a
    LYING header), and the undeclared-UTF-8 default.  ``doc_id %% 11
    == 0`` plants a headless raw-text payload (no HTTP message —
    body_start 0, default encoding, wet_extract yields NULL text)."""
    if doc_id % 11 == 0:
        return "headless raw text №{}".format(doc_id % 8).encode("utf-8")
    codec, chan, text = _CHARSET_FIXTURES[doc_id % 8]
    meta = ""
    ctype = "text/html"
    if chan == "http":
        ctype = "text/html; charset=%s" % (
            "EUC-JP" if codec == "euc-jp" else "UTF-8"
        )
    elif chan == "http-latin1":
        ctype = "text/html; charset=ISO-8859-1"
    elif chan == "meta-equiv":
        meta = (
            '<meta http-equiv="Content-Type" '
            'content="text/html; charset=Shift_JIS">'
        )
    elif chan == "meta":
        meta = '<meta charset="windows-1252">'
    elif chan == "bom-lying-header":
        ctype = "text/html; charset=shift_jis"  # BOM must override
    html = "<html><head>%s</head><body><p>%s</p></body></html>" % (meta, text)
    if codec == "utf-16-le":
        body = b"\xff\xfe" + html.encode("utf-16-le")
    elif chan in ("bom-lying-header",):
        body = b"\xef\xbb\xbf" + html.encode("utf-8")
    else:
        body = html.encode(codec)
    head = (
        "HTTP/1.1 200 OK\r\nContent-Type: %s\r\nContent-Length: %d\r\n"
        % (ctype, len(body))
    ).encode("ascii")
    return head + b"\r\n" + body


@_builder_memo(lambda d: (d % 8, d % 11 == 0))
def build_encoded_http_blob(doc_id: int) -> bytes:
    """HTTP-response bytes for the wire-decode fixtures: class
    ``doc_id %% 8`` — 0 identity, 1 gzip, 2 zlib-wrapped deflate,
    3 RAW deflate (the famous server misfeature), 4 chunked,
    5 chunked-wrapping-gzip (the real-wire layering order),
    6 gzip + a latin-1 charset header (wire decode composing with the
    charset tier), 7 a ``br`` label over junk bytes (the honest
    undecodable tier — kept raw, ``body_decoded=false``).
    ``doc_id %% 11 == 0`` plants a CORRUPT gzip stream instead."""
    cls = doc_id % 8
    text = "The café on route no. %d stayed open." % cls
    html = "<html><head></head><body><p>%s</p></body></html>" % text
    raw = html.encode("utf-8")
    headers = [("Content-Type", "text/html")]
    if doc_id % 11 == 0:
        body = b"\x1f\x8bcorrupt-gzip-stream"
        headers.append(("Content-Encoding", "gzip"))
    elif cls == 1:
        body = gzip.compress(raw, mtime=0)
        headers.append(("Content-Encoding", "gzip"))
    elif cls == 2:
        body = zlib.compress(raw)
        headers.append(("Content-Encoding", "deflate"))
    elif cls == 3:
        co = zlib.compressobj(wbits=-15)
        body = co.compress(raw) + co.flush()
        headers.append(("Content-Encoding", "deflate"))
    elif cls == 4:
        body = _chunk_encode(raw)
        headers.append(("Transfer-Encoding", "chunked"))
    elif cls == 5:
        body = _chunk_encode(gzip.compress(raw, mtime=0))
        headers.append(("Transfer-Encoding", "chunked"))
        headers.append(("Content-Encoding", "gzip"))
    elif cls == 6:
        body = gzip.compress(html.encode("latin-1"), mtime=0)
        headers = [("Content-Type", "text/html; charset=ISO-8859-1"),
                   ("Content-Encoding", "gzip")]
    elif cls == 7:
        body = b"\x1b\x8f\x42not-actually-brotli"
        headers.append(("Content-Encoding", "br"))
    else:
        body = raw
    head = "HTTP/1.1 200 OK\r\n" + "".join(
        "%s: %s\r\n" % kv for kv in headers
    )
    return head.encode("ascii") + b"\r\n" + body


def _chunk_encode(b: bytes, size: int = 24) -> bytes:
    """Forward chunked framing for the fixtures (RFC 9112 §7.1)."""
    out = bytearray()
    for i in range(0, len(b), size):
        c = b[i:i + size]
        out += format(len(c), "x").encode() + b"\r\n" + c + b"\r\n"
    return bytes(out) + b"0\r\n\r\n"


def _chunk_encode_lf(b: bytes, size: int = 24) -> bytes:
    """Chunked framing with bare-LF line terminators — the lenient
    framing real proxies emit that RFC 9112 forbids; fixture coverage
    for ``_dechunk``'s ``\\r?\\n`` tolerance."""
    out = bytearray()
    for i in range(0, len(b), size):
        c = b[i:i + size]
        out += format(len(c), "x").encode() + b"\n" + c + b"\n"
    return bytes(out) + b"0\n\n"


#: REAL compressed-block zstd frames for fixture classes 10/11 —
#: produced ONCE by the reference ``zstd -19`` CLI and pinned as
#: bytes (a pure-Python zstd ENCODER is out of scope; the decoder is
#: CLI-validated in pytest).  Class 10 wraps
#: "<html>…The café on route no. 10 stayed open.…" (one sequence
#: section); class 11 a 30-section 20 KB page (4-stream Huffman +
#: FSE-described tables + repeat offsets).  The oracle builder
#: asserts both decode to their class HTML at import.
_ZSTD_FIXTURE_10 = (
    "28b52ffd046855020082c40f14d03dd0009a414a66a49631b2637482c01d22"
    "4a0bbd58542170bbc0a0b9fb453e4b842bc6826feb51fedbf64b6b2a675d91"
    "76dc13bd09dca8b8e25e2c2a0e020074d58034142530d20145"
)
_ZSTD_FIXTURE_11 = (
    "28b52ffd0468350900c2cd2618706f0e90a0d43fbe251e00067bbc644b29a5"
    "34d3f3ffbf1243e3504a106466666666feffff1f3ed7bc9a8f020168ec8116"
    "ea8813eb86fddeef58fbcdf06da62ee77b77d9941bbed7d82d6c5d3edc5d6d"
    "98cacfb76c0eaa3e862ebbafbce9d46d6e5eff07b71f5cd7da9cdc5fa89b7f"
    "8b555358ac3d91812806c4a488d85445127430244e53942207228648182e04"
    "320261408aa80843e3508a106ea821a8bc3fc3768015a4a4a0720c12d0178a"
    "f0ffffef0fee0daf74a5ade44aaae44aa8944aaad454ea4fb6127f8a95f693"
    "aba49f42a5fca495f05350e93e994af6290f95ea9359a24fa304a5a5744a51"
    "6a4a53022551ba10206d8a55a27e3c019f9d4e24aca310b2338f2ed615b9c7"
    "b88a38c75fcb7c24dc22155eb22a12ec2bc6c6bfd200fd01888205bc"
)

#: the class-11 page the pinned frame must regenerate (class 10's is
#: the template html with cls=10)
_ZSTD_FIXTURE_11_HTML = (
    "<html><head></head><body>" + "".join(
        "<p>Compressed corpus page. %s section %d.</p>" % (
            " ".join(
                "token%d value%d" % (k, k * k % 97) for k in range(40)
            ), s,
        )
        for s in range(30)
    ) + "</body></html>"
).encode("utf-8")


#: REAL q11 brotli of a 5.6 KB fixture page (reference-codec
#: produced, pinned bytes) — dictionary words, transforms and
#: context modeling all on the decode path
_BR_FIXTURE_12 = (
    "1bf015208c935cfd79919e2cd58724c4b766a39c191b10dc162bff0165231b92"
    "04b90397af3c48b204a35a946902961e91d3ddf26be7360a1a44144d5fa24987"
    "45cc9bbefcbd71acb0bc3db02efbccdbfce382ea5438aa5ea8b6f7d6b293f919"
    "d3dcad5ae91f38abea9418b739c6ff1b638041861826c362d80c0fc3cb7020e8"
    "b308822008822008822008822008821042082184104208218410428820820822"
    "882082082288f48e65bf110f"
)


@_builder_memo(lambda d: (d % 14, d % 11 == 0))
def build_content_encoding_blob(doc_id: int) -> bytes:
    """HTTP-response bytes for the br/zstd Content-Encoding fixtures:
    class ``doc_id %% 10`` — 0 brotli stored-mode, 1 zstd raw-block
    frame, 2 zstd RLE frame + raw frame (multi-frame concatenation),
    3 zstd skippable frame then a raw frame, 4 chunked wrapping zstd
    (the real-wire layering order), 5 brotli stored + a latin-1
    charset header (wire decode composing with the charset tier),
    6 a STORE frame mislabeled Compressed_Block (the raw HTML bytes
    are not a valid entropy section — the real decoder flags it
    corrupt, ``body_decoded=false``), 7 a ``br`` label over junk
    bytes (the brotli library tier), 8 an LF-only head with
    LF-framed chunked gzip (the lenient framing the r13 ADVICE found
    silently mis-handled), 9 a CHAINED ``Content-Encoding: gzip,
    br`` (RFC 9110 §8.4 list order: gzip applied first, so the wire
    carries br(gzip(html)) and decode reverses last-to-first),
    10 a REAL compressed-block zstd frame (reference-CLI-produced,
    pinned bytes — one Huffman/FSE sequence section, decoded by the
    round-16 pure entropy tier), 11 a REAL level-19 multi-section
    frame (4-stream Huffman literals, FSE-described tables, repeat
    offsets) over a 20 KB page, 12 a REAL q11 brotli stream
    (reference-codec-produced, pinned bytes — static dictionary,
    transforms and context modeling through the round-17 pure RFC
    7932 tier), 13 the brotli encoder twin's LZ mode over the class
    page (self-produced compressed metablocks, same pure tier).
    ``doc_id %% 11 == 0`` plants a TRUNCATED zstd frame instead."""
    cls = doc_id % 14
    text = "The café on route no. %d stayed open." % cls
    html = "<html><head></head><body><p>%s</p></body></html>" % text
    raw = html.encode("utf-8")
    headers = [("Content-Type", "text/html")]
    lf_head = False
    if doc_id % 11 == 0:
        body = zstd_frame_store(raw)[: 12 + len(raw) // 2]
        headers.append(("Content-Encoding", "zstd"))
    elif cls == 0:
        body = brotli_store(raw)
        headers.append(("Content-Encoding", "br"))
    elif cls == 1:
        body = zstd_frame_store(raw)
        headers.append(("Content-Encoding", "zstd"))
    elif cls == 2:
        body = zstd_frame_rle(0x20, 50) + zstd_frame_store(raw)
        headers.append(("Content-Encoding", "zstd"))
    elif cls == 3:
        skippable = (
            b"\x53\x2a\x4d\x18" + (7).to_bytes(4, "little") + b"padding"
        )
        body = skippable + zstd_frame_store(raw)
        headers.append(("Content-Encoding", "zstd"))
    elif cls == 4:
        body = _chunk_encode(zstd_frame_store(raw))
        headers.append(("Transfer-Encoding", "chunked"))
        headers.append(("Content-Encoding", "zstd"))
    elif cls == 5:
        body = brotli_store(html.encode("latin-1"))
        headers = [("Content-Type", "text/html; charset=ISO-8859-1"),
                   ("Content-Encoding", "br")]
    elif cls == 6:
        frame = bytearray(zstd_frame_store(raw))
        frame[9] = (frame[9] & ~0x06) | (2 << 1)  # Compressed_Block
        body = bytes(frame)
        headers.append(("Content-Encoding", "zstd"))
    elif cls == 7:
        body = b"\x1b\x8f\x42not-actually-brotli"
        headers.append(("Content-Encoding", "br"))
    elif cls == 8:
        body = _chunk_encode_lf(gzip.compress(raw, mtime=0))
        headers.append(("Transfer-Encoding", "chunked"))
        headers.append(("Content-Encoding", "gzip"))
        lf_head = True
    elif cls == 10:
        body = bytes.fromhex(_ZSTD_FIXTURE_10)
        headers.append(("Content-Encoding", "zstd"))
    elif cls == 11:
        body = bytes.fromhex(_ZSTD_FIXTURE_11)
        headers.append(("Content-Encoding", "zstd"))
    elif cls == 12:
        body = bytes.fromhex(_BR_FIXTURE_12)
        headers.append(("Content-Encoding", "br"))
    elif cls == 13:
        from ..functions.brotli import compress as _br_compress

        body = _br_compress(raw, "lz")
        headers.append(("Content-Encoding", "br"))
    else:
        body = brotli_store(gzip.compress(raw, mtime=0))
        headers.append(("Content-Encoding", "gzip, br"))
    eol = "\n" if lf_head else "\r\n"
    head = "HTTP/1.1 200 OK" + eol + "".join(
        "%s: %s%s" % (k, v, eol) for k, v in headers
    )
    return head.encode("ascii") + eol.encode("ascii") + body


def attach_content_encoding_blob(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, payload) with the br/zstd fixture blobs per id."""
    return attach_blobs(
        df, build_content_encoding_blob, id_col, "id long, payload binary"
    )


def attach_encoded_http_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload) with the wire-decode fixture blobs per id."""
    return attach_blobs(
        df, build_encoded_http_blob, id_col, "id long, payload binary"
    )


def attach_charset_http_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload) with the charset-decode fixture blobs per id."""
    return attach_blobs(
        df, build_charset_http_blob, id_col, "id long, payload binary"
    )


_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, "
    "content binary"
)


def stream_warc(
    spark: SparkSession,
    path: str,
    warc_types: tuple = ("response",),
    max_payload: int | None = None,
) -> DataFrame:
    """STREAMING face of ``read_warc``: WARC files LANDING in ``path``
    become a live record stream (same ``WARC_RECORD_SCHEMA`` rows,
    same per-file Arrow parse — ``mapInPandas`` applies to streaming
    frames unchanged).  Feed it straight into
    ``streaming.ingest.corpus_ingest_sink`` for continuous
    crawl→corpus construction; the file source's checkpoint tracks
    which archives are consumed, and the sink's commit markers make
    each batch replay-safe.  The streaming binaryFile source requires
    an explicit schema — pinned here to the format's fixed columns.

    Unlike the batch face, the STREAMING file source takes ONE path
    (a directory or glob) — a list raises in
    ``DataStreamReader.load``; attach one sink per landing directory.

    Stream ≡ batch by construction (one shared parser); pinned in
    pytest by draining a directory and comparing to ``read_warc``."""
    files = spark.readStream.format("binaryFile").schema(
        _BINARYFILE_SCHEMA
    ).load(path)
    return _parse_warc_files(files, warc_types, max_payload)


# ---- dictionary-zstd fixtures (round 17) -----------------------------
#: reference-CLI-trained dictionary (zstd --train over 60 synthetic
#: docs), zlib-packed; plus four level-19 frames compressed AGAINST
#: it — the storage-side dictionary tier (the wire never signals a
#: dictionary, so this surface is the zstd_decompress API, not
#: Content-Encoding)
_ZSTD_DICT_FIXTURE_ZLIB = (
    "78da8d58bd8e1c45101e30082796204302a30d2c11b2bfb77792e9c40ec81c98"
    "80c441efce6876c5dedeec69ce124fc00310201202e407b088b16409c9b1433f"
    "00ce8811213b5dd55df555f702277b6e6fb6ebbfeaebaf7bf96cfce74f1fbc78"
    "f4f9872f2fefccc6b7c2bff6fdbfc7bf3ffaaaf9adfef587bfbe79f3d6fff8fd"
    "93cf9e7ef7e6ed479f3caeaa4fefdd9bfefcfaf6d74fabeabdea65f56ef5e079"
    "75e7ee9387bf3cfbf8f1abea56a57ffeb85b999f77aa41acaa6e1fffbbfbf5d5"
    "7ab4adbf9c2fdde166bbfeb6dbf8517fedb7fbedbe1db5fef2d28f564deff923"
    "3dd757fbbed9f7a37ed38ceac68ffc6e90eab65db3dbee1bb5fefe1747edc9c4"
    "74e10609bf8bf275b3eb955cb08f228b0b179c19aca675646e505590984e1dbb"
    "cf5fb3cf24449f6bdf6310c12d0a197d0ba18487897190e8581305357c4dcf61"
    "3d3a359f71e424a0121afe0eb64c1813c77e9b9c4bf03a008a34283b34caebf0"
    "48e5945729ca41a22d156b310e791cd4c60c253de40365882c8b572bfd3a4914"
    "0a359938f26e233949e98c8228329b924897d69ac7511425ce1c3ba23c4e4ea5"
    "0ff67d28555098ea0d2da31a82d507978727150b5415dae1dc91e260976a40dd"
    "105e14aa31597257c7f683c4922f26571347ee4a0c6a9aa5ed200eca6e6c70a3"
    "90f51d8dc21448cfe779a1d08eb23347c6ead4c15cfb463e0c8b8dc941ecd222"
    "4b2ab79998a5d333ce1d994a2c3d161c8101f02998f8da9491a2513175f92b95"
    "529236bda33bacb375c45068f4748712d2ee54a66c594329080f206605339412"
    "887c159789f293e87d4688d45a1c38d9828cdddb94229d61550b725126e9b836"
    "852bc1c578cd605c102418d7595b34167f8b8df5959d7ad5bc7a30c48115e980"
    "e627c4a52680bea279500818bf3811c6394f571c50dc14617b418f3b29c4bf9b"
    "9871a6ea463a4a1a0495ae0d03380dc98b3917b900ab65f063d86fbda8c749d1"
    "35d07b9cdfa98e30f36c9c3a67d85fe5502fcd2e2dafc0afd7bb16017a1a0056"
    "da26d03bcd93d05ee7f5e0d682fa7976a6339e324c8c6232662b39e3aa02e42a"
    "4f60bb87de6d8dfbaac78c8db1e3c22428cc768709fb8dc9ebafa1ad4c50763a"
    "69020b2859022741947663c73d12960205a281d59bb9d91531acd8489d208750"
    "9d9c8aa912f46ae645b850c1d93967ee20ad689996d7212807ca333961a4d6f1"
    "73460e719af3e88d0ee2eac3b27c0bd5100bc488fe405c55c37592c9367987f2"
    "0be3d59809e0366b9e546fbd29e9c433a15529cc101fc663d59803875953c0fb"
    "56ad567e610c7ccee274aad4662714e931c532376d4637c0873cbbb54156553d"
    "33e791915f035ffa5f9c3c035a3c476527aed69fc0eec9dc49dc78c4c95813f3"
    "027dcc434e6f5ce5ee39dcc47d62e2924ea8bdee1eea12fecd6880b00cf6133d"
    "db34d91efb1fe78354317bba83c22aafea52dfc2498d9c86bd0ac9b4a1f2c81a"
    "35ebc8b18c7417f251242b42f5618350c4aed42a7ca255738eb4d71478197b47"
    "b5ae7c328c196e317c2c952c87b1024709574d80251203d95d5fc1249f001288"
    "bc374c330393f9d4413e0f37da69d52a0aebd4361368369834c338750588a953"
    "8ded2549e14c423690e35c3888d2801d25074e32b0b117a869182ce014e6ac23"
    "7e2ae85f03bcab8c995b05455b0abc7ae13237b5427114fd4e2165a735183455"
    "42a801ec93307d429610050048f4b79824f447482be4cad6399309d52c1c094e"
    "9f638687cabeb1636e0052881960e87b14bb61072c818bccec548a38416982ec"
    "e67b1098a7af53236918353c14b1cedbab149d288daae9c099413f64535fc2a5"
    "a267d528dcd882b1bc49739e8db895f325e4ae5a92acdb6b503577020770beca"
    "004ec04c4f80c0c3018056b49a89d4d4dbee7ae6fce835af2639a89ecc0ea0a7"
    "e65fddd697ee1dcb43ce49fa072754a058"
)

_ZSTD_DICT_FRAMES = (
    "28b52ffd279907bd4fb40d0100683c646f6320636c6173733d303e06fccf5301"
    "3e0bfda6d737adac8ce44233f303b80b84f4",
    "28b52ffd279907bd4fea0d0100683c646f6320636c6173733d313e06fc055401"
    "30591bf86ecde0a33292c329cd0fc7dd7dc9",
    "28b52ffd679907bd4f20000d0100683c646f6320636c6173733d323e06fc3b54"
    "019c591bf86ecde0a33292c329cd0fe176b52f",
    "28b52ffd679907bd4f5600250100983c646f6320636c6173733d333e3c2f646f"
    "633e05fc0ad91af86ecde0a3a691c329cd0ff3b2cde0"
)


def zstd_dict_fixture() -> tuple:
    """(dictionary bytes, (frame bytes, ...)) for the dictionary
    tier fixtures."""
    return (
        zlib.decompress(bytes.fromhex(_ZSTD_DICT_FIXTURE_ZLIB)),
        tuple(bytes.fromhex(f) for f in _ZSTD_DICT_FRAMES),
    )


@_builder_memo(lambda d: (d % 4, d % 13 == 0, d % 17 == 0))
def build_zstd_dict_blob(doc_id: int) -> bytes:
    """Dictionary-zstd fixture frame for one doc: class ``doc_id %
    4`` picks the frame.  ``% 17`` truncates the frame mid-block
    (torn); else ``% 13`` rewrites the frame's dictionary-id field
    (an UNKNOWN dictionary must flag, never decode against the wrong
    tables)."""
    _d, frames = zstd_dict_fixture()
    blob = frames[doc_id % 4]
    if doc_id % 17 == 0:
        return blob[: len(blob) * 2 // 3]
    if doc_id % 13 == 0:
        # frame layout: magic(4) fhd(1) dict-id(4 here) — flip an id
        # byte; same length, still well-formed framing
        return blob[:5] + bytes([blob[5] ^ 0x5A]) + blob[6:]
    return blob


def zstd_dict_decode(
    df: DataFrame, dictionary: bytes, content_col: str = "content",
    id_col: str = "id",
) -> DataFrame:
    """(id, n_bytes, text, ok) decoding each frame against the
    SUPPLIED dictionary via the pure tier — map-side Arrow, the
    storage-dictionary twin of the wire decode face."""
    zd = _zstd_parse_dictionary(dictionary)

    def tails(b: bytes):
        got = _zstd_decode_pure(b, zd)
        if got is None:
            return ((None, None, False),)
        return ((len(got), got.decode("utf-8", "replace"), True),)

    return map_payloads(
        df, tails, "id long, n_bytes int, text string, ok boolean",
        (None, None, False), id_col, content_col,
    )


def attach_zstd_dict_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, content) with the dictionary-zstd fixture frames."""
    return attach_blobs(df, build_zstd_dict_blob, id_col)
