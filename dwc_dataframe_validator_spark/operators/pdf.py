"""PDF text extraction — the document format that carries a large
share of real crawl text mass.

A REAL dependency-free parser in the repo's codec-free discipline
(stdlib ``zlib`` only, like the PNG tier): tokenizer for the COS
object grammar (dicts, arrays, names with ``#xx`` escapes, literal
strings with octal/escape/line-continuation rules, hex strings,
references), the classic cross-reference TABLE walk (``startxref`` →
``xref`` sections → ``trailer``, ``/Prev`` chains for incremental
updates), stream objects with indirect ``/Length`` and
``/FlateDecode`` (zlib, capped), the ``/Root`` → ``/Pages`` tree, and
content-stream TEXT operators (``Tj``, ``'``, ``\"``, ``TJ`` arrays;
``Td``/``TD``/``T*`` line moves become newlines, TJ kerning gaps
< -100/1000 em become spaces — the layout heuristic every extractor
uses).

PDF 1.5 cross-reference STREAMS (W-field binary rows, /Index,
PNG-predictor DecodeParms), ``/ObjStm`` compressed objects and
hybrid ``/XRefStm`` files parse for REAL.  Honest stubs (flag,
never guess): ``/Encrypt`` in the trailer (``reason='encrypted'``),
filters other than Flate / non-PNG predictors
(``reason='filter'``), a torn or missing xref/trailer
(``reason='torn'``).  Per-page content that fails
mid-stream flags the DOCUMENT — a text extractor that silently
returns half a page poisons dedup downstream.

Reference parity: none — the reference validator has no document
decoders; this extends the LLM-pipeline text family (SURVEY.md
"beyond the reference" brief).

JPX scope decision (r18, adjudicated): ``/JPXDecode`` (JPEG 2000)
stays an honest per-image stub.  A conformant codestream decoder
needs EBCOT Tier-1 (three coding passes per bit-plane over code-
blocks, the MQ coder per-context), Tier-2 packet headers (tag
trees), the DWT (5/3 and 9/7 lifting) and multi-component
transforms — several thousand lines whose correctness could only be
pinned by round-trip against an encoder twin of the same size (no
external JPEG 2000 codec ships in this container, and ISO 15444
publishes no byte-exact KAT equivalent to T.88 H.2 beyond the MQ
coder itself, which functions/jbig2.py already pins).  Recall
boundary: JPX appears in PDFs predominantly for photographic
scans; those documents still yield their TEXT mass here — only the
embedded-image pixels flag ``ok=false, reason='JPXDecode'``, so
cross-format image dedup loses that slice and nothing is guessed.
If the boundary moves, the MQ coder and the segment-walk discipline
from the JBIG2 tier are the reusable first third.

Scale notes (100 TB): one PDF per row, map-side Arrow batches, no
shuffle; decompression is capped per stream and per document
(``_MAX_TEXT``), so an adversarial Flate bomb flags instead of
ballooning an executor.  Parse never raises across the Arrow
boundary — malformed bytes are ``ok=false`` rows.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.payload_cache import attach_blobs, map_payloads, payload_memo

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
#: decompressed-bytes cap per stream and per document (text is small;
#: a 100 MB "page" is a bomb, not a book)
_MAX_TEXT = 64 << 20


class _Torn(Exception):
    """Internal: malformed/truncated structure (→ ok=false row)."""


#: xref sentinel for an EXPLICITLY freed object.  Per ISO 32000
#: §7.3.10 a reference to a free object resolves to the null object,
#: so get() returns None for these; _Torn stays reserved for entries
#: that are absent or point outside the file (r16 ADVICE).
_FREE = object()


# ---- standard security handler primitives -----------------------------
# Stdlib-only RC4 and AES-128 (FIPS-197 arithmetic computed from the
# GF(2^8) field, not literal tables — pinned by the spec's appendix
# known-answer vectors in pytest).  Pure Python is plenty for the
# streams PDFs encrypt (page content is KBs); the per-document budget
# bounds the worst case.


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    kl = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % kl]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _aes_tables():
    """(sbox, inv_sbox, xtime) derived from the GF(2^8) field — the
    S-box is the multiplicative inverse followed by the FIPS-197
    affine transform."""
    cached = getattr(_aes_tables, "_c", None)
    if cached is not None:
        return cached
    exp = [0] * 512
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x ^= ((x << 1) ^ (0x1B if x & 0x80 else 0)) & 0xFF
    for i in range(255, 512):
        exp[i] = exp[i - 255]

    def inv(a):
        return 0 if a == 0 else exp[255 - log[a]]

    sbox = [0] * 256
    for a in range(256):
        s = inv(a)
        b = s
        for _ in range(4):
            b = ((b << 1) | (b >> 7)) & 0xFF
            s ^= b
        sbox[a] = s ^ 0x63
    inv_sbox = [0] * 256
    for a, v in enumerate(sbox):
        inv_sbox[v] = a
    xt = [((a << 1) ^ (0x1B if a & 0x80 else 0)) & 0xFF
          for a in range(256)]
    _aes_tables._c = (sbox, inv_sbox, xt)
    return _aes_tables._c


def _aes_round_keys(key: bytes) -> list:
    """FIPS-197 key expansion for 128/192/256-bit keys (Nk = 4/6/8,
    Nr = Nk + 6): for Nk > 6 every fourth word after the RotWord
    position gets an extra SubWord."""
    sbox, _inv, _xt = _aes_tables()
    nk = len(key) // 4
    assert nk in (4, 6, 8), len(key)
    nr = nk + 6
    rcon = 1
    w = [list(key[4 * i:4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [sbox[c] for c in t]
            t[0] ^= rcon
            rcon = ((rcon << 1) ^ (0x1B if rcon & 0x80 else 0)) & 0xFF
        elif nk > 6 and i % nk == 4:
            t = [sbox[c] for c in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return [sum((w[4 * r + c] for c in range(4)), [])
            for r in range(nr + 1)]


_aes128_round_keys = _aes_round_keys  # KAT-pinned alias


def _aes_encrypt_block(rk: list, blk: bytes) -> bytes:
    sbox, _inv, xt = _aes_tables()
    nr = len(rk) - 1
    s = [blk[i] ^ rk[0][i] for i in range(16)]
    for rnd in range(1, nr + 1):
        s = [sbox[c] for c in s]
        # ShiftRows on column-major state: row r rotates left by r
        s = [s[(i + 4 * (i % 4)) % 16] for i in range(16)]
        if rnd < nr:
            m = [0] * 16
            for c in range(4):
                a = s[4 * c:4 * c + 4]
                t = a[0] ^ a[1] ^ a[2] ^ a[3]
                m[4 * c + 0] = a[0] ^ t ^ xt[a[0] ^ a[1]]
                m[4 * c + 1] = a[1] ^ t ^ xt[a[1] ^ a[2]]
                m[4 * c + 2] = a[2] ^ t ^ xt[a[2] ^ a[3]]
                m[4 * c + 3] = a[3] ^ t ^ xt[a[3] ^ a[0]]
            s = m
        s = [c ^ k for c, k in zip(s, rk[rnd])]
    return bytes(s)


_aes128_encrypt_block = _aes_encrypt_block  # KAT-pinned alias


def _aes_decrypt_block(rk: list, blk: bytes) -> bytes:
    sbox, inv_sbox, xt = _aes_tables()

    def gmul(a, b):
        # multiply in GF(2^8) via repeated xtime (b is 9/11/13/14)
        r = 0
        while b:
            if b & 1:
                r ^= a
            a = xt[a]
            b >>= 1
        return r

    nr = len(rk) - 1
    s = [blk[i] ^ rk[nr][i] for i in range(16)]
    for rnd in range(nr - 1, -1, -1):
        # InvShiftRows: row r rotates right by r
        s = [s[(i - 4 * (i % 4)) % 16] for i in range(16)]
        s = [inv_sbox[c] for c in s]
        s = [c ^ k for c, k in zip(s, rk[rnd])]
        if rnd > 0:
            m = [0] * 16
            for c in range(4):
                a = s[4 * c:4 * c + 4]
                m[4 * c + 0] = (gmul(a[0], 14) ^ gmul(a[1], 11)
                                ^ gmul(a[2], 13) ^ gmul(a[3], 9))
                m[4 * c + 1] = (gmul(a[0], 9) ^ gmul(a[1], 14)
                                ^ gmul(a[2], 11) ^ gmul(a[3], 13))
                m[4 * c + 2] = (gmul(a[0], 13) ^ gmul(a[1], 9)
                                ^ gmul(a[2], 14) ^ gmul(a[3], 11))
                m[4 * c + 3] = (gmul(a[0], 11) ^ gmul(a[1], 13)
                                ^ gmul(a[2], 9) ^ gmul(a[3], 14))
            s = m
    return bytes(s)


_aes128_decrypt_block = _aes_decrypt_block  # KAT-pinned alias


def _aes_accel():
    """Optional AES accelerator: the ``cryptography`` package when
    importable (it wraps the platform's vetted AES), else None —
    the pure-Python FIPS-197 path stays the always-available
    fallback and the KAT reference; pytest pins both paths equal on
    every shape used here.  Algorithm 2.B runs ≥64 AES-CBC rounds
    per password check, so the V5 tier is ~1000× faster
    accelerated."""
    got = getattr(_aes_accel, "_c", 0)
    if got != 0:
        return got
    try:
        from cryptography.hazmat.primitives.ciphers import (
            Cipher, algorithms, modes,
        )
        _aes_accel._c = (Cipher, algorithms, modes)
    except Exception:
        _aes_accel._c = None
    return _aes_accel._c


def _aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PDF AESV2/AESV3 stream layout: 16-byte IV prefix + CBC
    ciphertext with PKCS#7-style 1..16 padding.  Torn on any
    size/padding lie — a wrong key can never yield silently-wrong
    text, the refuse-over-guess contract.  Key length picks the
    cipher (16 → AES-128, 32 → AES-256)."""
    if len(data) < 32 or len(data) % 16:
        raise _Torn()
    out = _aes_cbc_raw(key, data[:16], data[16:], decrypt=True)
    pad = out[-1]
    if not 1 <= pad <= 16 or len(out) < pad:
        raise _Torn()
    return bytes(out[:-pad])


_aes128_cbc_decrypt = _aes_cbc_decrypt


def _aes_cbc_raw(key: bytes, iv: bytes, data: bytes,
                 decrypt: bool) -> bytes:
    """NO-padding CBC over whole blocks — the /V5 key-wrap shape
    (Algorithm 2.B's inner encryption, /UE //OE unwrap, /Perms is
    the single-block ECB special case with a zero IV xor folded in
    by the caller passing iv=None).  Every AES byte in the module
    flows through here, so the import-try accelerator has exactly
    one seam."""
    assert len(data) % 16 == 0
    acc = _aes_accel()
    if acc is not None:
        Cipher, algorithms, modes = acc
        mode = modes.ECB() if iv is None else modes.CBC(iv)
        ctx = Cipher(algorithms.AES(key), mode)
        c = ctx.decryptor() if decrypt else ctx.encryptor()
        return c.update(data) + c.finalize()
    rk = _aes_round_keys(key)
    out = bytearray()
    if decrypt:
        prev = iv
        for i in range(0, len(data), 16):
            blk = data[i:i + 16]
            pt = _aes_decrypt_block(rk, blk)
            out += (
                bytes(a ^ b for a, b in zip(pt, prev))
                if prev is not None else pt
            )
            prev = blk if prev is not None else None
    else:
        prev = iv
        for i in range(0, len(data), 16):
            blk = data[i:i + 16]
            if prev is not None:
                blk = bytes(a ^ b for a, b in zip(blk, prev))
            ct = _aes_encrypt_block(rk, blk)
            out += ct
            prev = ct if prev is not None else None
    return bytes(out)


def _aes128_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Fixture twin of ``_aes_cbc_decrypt`` (deterministic IV
    supplied by the writer); key length picks the cipher."""
    pad = 16 - len(data) % 16
    data = data + bytes([pad]) * pad
    return iv + _aes_cbc_raw(key, iv, data, decrypt=False)


#: the standard handler's 32-byte password pad (PDF 1.7 §7.6.3.3)
_PDF_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _pdf_hash_2b(password: bytes, salt: bytes,
                 udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (the /R 6 hardened hash): an
    SHA-256 seed, then rounds of 64× (password ∥ K ∥ udata)
    AES-128-CBC-encrypted under K's first 16 bytes (iv = next 16),
    re-hashed with SHA-256/384/512 picked by the first cipher
    block's byte sum mod 3, until round ≥ 64 and the last cipher
    byte ≤ round − 32."""
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _aes_cbc_raw(k[:16], k[16:32], k1, decrypt=False)
        mod = sum(e[:16]) % 3
        k = (
            hashlib.sha256(e) if mod == 0
            else hashlib.sha384(e) if mod == 1
            else hashlib.sha512(e)
        ).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _pdf_file_key(
    password: bytes, o_val: bytes, p: int, id0: bytes, r: int,
    keylen: int, encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: the file encryption key from the (empty-in-crawl)
    user password, /O, /P, and the first file identifier."""
    import hashlib
    import struct as _st

    h = hashlib.md5()
    h.update((password + _PDF_PAD)[:32])
    h.update(o_val)
    h.update(_st.pack("<I", p & 0xFFFFFFFF))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    d = h.digest()
    if r >= 3:
        for _ in range(50):
            d = hashlib.md5(d[:keylen]).digest()
    return d[:keylen]


def _pdf_owner_value(
    owner_pw: bytes, user_pw: bytes, r: int, keylen: int
) -> bytes:
    """Algorithm 3: the /O entry (fixture writer side)."""
    import hashlib

    d = hashlib.md5((
        (owner_pw or user_pw) + _PDF_PAD
    )[:32]).digest()
    if r >= 3:
        for _ in range(50):
            d = hashlib.md5(d).digest()
    k = d[:keylen]
    x = _rc4(k, (user_pw + _PDF_PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            x = _rc4(bytes(b ^ i for b in k), x)
    return x


def _pdf_user_value(key: bytes, r: int, id0: bytes) -> bytes:
    """Algorithm 4 (R2) / 5 (R3-4): the /U entry for a given file
    key — the reader compares this against the stored value to
    verify the empty user password."""
    import hashlib

    if r == 2:
        return _rc4(key, _PDF_PAD)
    x = _rc4(key, hashlib.md5(_PDF_PAD + id0).digest())
    for i in range(1, 20):
        x = _rc4(bytes(b ^ i for b in key), x)
    return x + bytes(16)


def _pdf_obj_key(key: bytes, num: int, gen: int, aes: bool) -> bytes:
    """Algorithm 1: the per-object key (md5 of file key + object
    number/generation, plus the AESV2 salt)."""
    import hashlib

    ext = (
        key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
        + (b"sAlT" if aes else b"")
    )
    return hashlib.md5(ext).digest()[:min(len(key) + 5, 16)]


class _Stub(Exception):
    """Internal: honest unsupported feature; carries the reason."""


def _skip_ws(b: bytes, i: int) -> int:
    n = len(b)
    while i < n:
        c = b[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment to EOL
            while i < n and b[i] not in (0x0A, 0x0D):
                i += 1
        else:
            break
    return i


def _parse_name(b: bytes, i: int):
    j = i + 1
    out = bytearray()
    while j < len(b) and b[j] not in _WS and b[j] not in _DELIM:
        if b[j] == 0x23 and j + 2 < len(b):  # #xx hex escape
            try:
                out.append(int(b[j + 1:j + 3], 16))
                j += 3
                continue
            except ValueError:
                pass
        out.append(b[j])
        j += 1
    return ("name", bytes(out).decode("latin-1")), j


def _parse_string(b: bytes, i: int):
    # literal ( ... ) with nesting and backslash escapes
    depth = 1
    j = i + 1
    out = bytearray()
    esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12,
           0x28: 40, 0x29: 41, 0x5C: 92}
    while j < len(b):
        c = b[j]
        if c == 0x5C:  # backslash
            if j + 1 >= len(b):
                raise _Torn()
            nx = b[j + 1]
            if nx in esc:
                out.append(esc[nx])
                j += 2
            elif 0x30 <= nx <= 0x37:  # octal, up to 3 digits
                k = j + 1
                v = 0
                while k < len(b) and k < j + 4 and 0x30 <= b[k] <= 0x37:
                    v = v * 8 + (b[k] - 0x30)
                    k += 1
                out.append(v & 0xFF)
                j = k
            elif nx in (0x0A, 0x0D):  # line continuation
                j += 2
                if nx == 0x0D and j < len(b) and b[j] == 0x0A:
                    j += 1
            else:
                out.append(nx)
                j += 2
        elif c == 0x28:
            depth += 1
            out.append(c)
            j += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return ("str", bytes(out)), j + 1
            out.append(c)
            j += 1
        else:
            out.append(c)
            j += 1
    raise _Torn()


def _parse_hex_string(b: bytes, i: int):
    j = b.find(b">", i)
    if j < 0:
        raise _Torn()
    hx = bytes(c for c in b[i + 1:j] if c not in _WS)
    if len(hx) % 2:
        hx += b"0"
    try:
        return ("str", bytes.fromhex(hx.decode("ascii"))), j + 1
    except ValueError:
        raise _Torn()


def parse_object(b: bytes, i: int):
    """One COS object at ``b[i:]`` → (value, next_index).  Values:
    ('name', s), ('str', bytes), ('ref', n, g), ('op', keyword),
    int/float, bool/None, list, dict."""
    i = _skip_ws(b, i)
    if i >= len(b):
        raise _Torn()
    c = b[i]
    if c == 0x2F:
        return _parse_name(b, i)
    if c == 0x28:
        return _parse_string(b, i)
    if b[i:i + 2] == b"<<":
        d = {}
        i += 2
        while True:
            i = _skip_ws(b, i)
            if b[i:i + 2] == b">>":
                return d, i + 2
            if i >= len(b) or b[i] != 0x2F:
                raise _Torn()
            key, i = _parse_name(b, i)
            val, i = parse_object(b, i)
            d[key[1]] = val
    if c == 0x3C:
        return _parse_hex_string(b, i)
    if c == 0x5B:
        arr = []
        i += 1
        while True:
            i = _skip_ws(b, i)
            if i >= len(b):
                raise _Torn()
            if b[i] == 0x5D:
                return arr, i + 1
            v, i = parse_object(b, i)
            arr.append(v)
    if c in b"+-.0123456789":
        j = i
        if c in b"+-":
            j += 1
        isf = False
        while j < len(b) and (b[j] in b"0123456789" or b[j] == 0x2E):
            isf = isf or b[j] == 0x2E
            j += 1
        txt = b[i:j].decode("latin-1")
        if not isf:
            # lookahead: "n g R" is an indirect reference
            k = _skip_ws(b, j)
            if k < len(b) and b[k] in b"0123456789":
                m = k
                while m < len(b) and b[m] in b"0123456789":
                    m += 1
                p = _skip_ws(b, m)
                if (
                    p < len(b) and b[p:p + 1] == b"R"
                    and (p + 1 == len(b) or b[p + 1] in _WS
                         or b[p + 1] in _DELIM)
                ):
                    try:
                        return ("ref", int(txt), int(b[k:m])), p + 1
                    except ValueError:
                        raise _Torn()
            try:
                return int(txt), j
            except ValueError:
                raise _Torn()  # a bare sign/garbage digit run
        try:
            return float(txt), j
        except ValueError:
            raise _Torn()
    # bare keyword (true/false/null or a content operator)
    j = i
    while j < len(b) and b[j] not in _WS and b[j] not in _DELIM:
        j += 1
    kw = b[i:j]
    if not kw:
        raise _Torn()
    if kw == b"true":
        return True, j
    if kw == b"false":
        return False, j
    if kw == b"null":
        return None, j
    return ("op", kw.decode("latin-1")), j


def _png_unpredict(data: bytes, cols: int, bpp: int = 1) -> bytes:
    """Undo PNG row prediction (predictors 10-15: each row = filter
    byte + ``cols`` BYTES, left-neighbor distance ``bpp`` bytes) —
    the DecodeParms layer xref streams ship with (bpp 1) and image
    XObjects sometimes carry (bpp = Colors at 8 bpc).  Filters 0-4
    (None/Sub/Up/Average/Paeth) per the PNG spec; a ragged tail or
    unknown filter is torn.  Pure-Python per-byte loops — fine for
    xref streams and the honest-capped image tier (predictors on
    LARGE images are rare in crawl PDFs; the per-document budget
    bounds the worst case)."""
    row = cols + 1
    if len(data) % row or bpp < 1:
        raise _Torn()
    out = bytearray()
    prev = bytearray(cols)
    for r in range(0, len(data), row):
        ft = data[r]
        cur = bytearray(data[r + 1:r + row])
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for x in range(bpp, cols):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif ft == 2:  # Up
            for x in range(cols):
                cur[x] = (cur[x] + prev[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(cols):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(cols):
                a = cur[x - bpp] if x >= bpp else 0
                bb = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + bb - c
                pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (
                    bb if pb <= pc else c
                )
                cur[x] = (cur[x] + pr) & 0xFF
        else:
            raise _Torn()
        out += cur
        prev = cur
    return bytes(out)


class PdfDoc:
    """Parsed PDF: object map + trailer, lazy object loading with
    stream decode.  Classic xref TABLES, PDF 1.5 xref STREAMS
    (W-field binary rows, /Index subsections, PNG-predictor
    DecodeParms), /ObjStm compressed objects, hybrid /XRefStm files,
    and /Prev incremental chains across all of them.  Raises
    ``_Torn`` / ``_Stub`` internally — the DataFrame operator
    converts both to flagged rows."""

    def __init__(self, b: bytes, passwords: tuple = ()):
        self.b = b
        self.xref: dict = {}
        self.trailer: dict = {}
        self._cache: dict = {}
        self._objstm_loading: set = set()
        self._budget = _MAX_TEXT
        self._crypt = None
        # candidate passwords tried AFTER the empty-password fast
        # path; str candidates are UTF-8 encoded and truncated to
        # 127 bytes (ISO 32000-2 Algorithm 2.A; full SASLprep is
        # out of scope — callers pass already-normalized strings)
        self._passwords = tuple(
            (pw.encode("utf-8") if isinstance(pw, str) else bytes(pw))[:127]
            for pw in passwords
        )
        self._read_xref_chain()
        if "Encrypt" in self.trailer:
            self._setup_crypt()

    def _setup_crypt(self) -> None:
        """Standard security handler: the EMPTY-user-password fast
        path first (the overwhelming crawl case — encryption that
        only restricts printing/copying), then each caller-supplied
        candidate password: RC4-40 (/V1 R2), RC4-128 (/V2 R3), /V4
        R4 crypt filters with /CFM /V2 (RC4) or /AESV2
        (AES-128-CBC), and /V5 R5/R6 AES-256 (/CFM /AESV3 — the
        Algorithm 2.A/2.B password checks against /U, falling back
        to the owner check against /O, with the file key unwrapped
        from /UE //OE and validated against /Perms when present).
        Anything else — a non-Standard handler, a password no
        candidate matches, a malformed dict — raises
        ``_Stub('encrypted')``: flagged, never guessed.  Only
        STREAMS are decrypted (strings feed nothing on the
        text/image paths).  Legacy (/V 1-4) candidates run the
        Algorithm 4/5 USER check only; the /O owner-key recovery
        (Algorithm 7) stays out of scope."""
        enc = self.resolve(self.trailer.get("Encrypt"))
        if not isinstance(enc, dict):
            raise _Stub("encrypted")
        if self.resolve(enc.get("Filter")) != ("name", "Standard"):
            raise _Stub("encrypted")
        v = self.resolve(enc.get("V", 0))
        r = self.resolve(enc.get("R", 2))
        if v == 5 and r in (5, 6):
            return self._setup_crypt_v5(enc, r)
        if v not in (1, 2, 4) or r not in (2, 3, 4):
            raise _Stub("encrypted")
        o = self.resolve(enc.get("O"))
        u = self.resolve(enc.get("U"))
        p = self.resolve(enc.get("P"))
        if not (
            isinstance(o, tuple) and o[0] == "str"
            and isinstance(u, tuple) and u[0] == "str"
            and isinstance(p, int)
        ):
            raise _Stub("encrypted")
        o_val, u_val = o[1], u[1]
        length = self.resolve(enc.get("Length", 40))
        cfm = "rc4"
        if v == 4:
            stmf = self.resolve(enc.get("StmF", ("name", "Identity")))
            if stmf == ("name", "Identity"):
                return  # streams not encrypted
            cf = self.resolve(enc.get("CF"))
            if not (
                isinstance(cf, dict)
                and isinstance(stmf, tuple) and stmf[0] == "name"
            ):
                raise _Stub("encrypted")
            stdcf = self.resolve(cf.get(stmf[1]))
            if not isinstance(stdcf, dict):
                raise _Stub("encrypted")
            m = self.resolve(stdcf.get("CFM"))
            if m == ("name", "AESV2"):
                cfm = "aes"
            elif m != ("name", "V2"):
                raise _Stub("encrypted")
        em = self.resolve(enc.get("EncryptMetadata", True))
        keylen = 5 if r == 2 else (
            length // 8 if isinstance(length, int) else 0
        )
        if not 5 <= keylen <= 16:
            raise _Stub("encrypted")
        ids = self.resolve(self.trailer.get("ID"))
        id0 = b""
        if isinstance(ids, list) and ids:
            first = self.resolve(ids[0])
            if isinstance(first, tuple) and first[0] == "str":
                id0 = first[1]
        got = u_val[:16] if r >= 3 else u_val
        for pw in (b"",) + self._passwords:
            key = _pdf_file_key(pw, o_val, p, id0, r, keylen,
                                em is True)
            want_u = _pdf_user_value(key, r, id0)
            want = want_u[:16] if r >= 3 else want_u
            if got == want:
                self._crypt = (cfm, key)
                return
        raise _Stub("encrypted")  # no candidate user password fit

    def _setup_crypt_v5(self, enc: dict, r: int) -> None:
        """/V 5 AES-256 (R5 = the deprecated SHA-256 shortcut, R6 =
        the ISO 32000-2 2.B hardened hash): verify the empty
        password, then each candidate, against /U (user) then /O
        (owner, udata = the full 48-byte /U), unwrap the 256-bit file key from /UE //OE with
        a zero-IV no-pad CBC, and when /Perms is present require its
        'adb' tag under the unwrapped key — a wrong or tampered key
        flags before any stream is touched."""
        import hashlib

        def sval(name, ln):
            x = self.resolve(enc.get(name))
            if isinstance(x, tuple) and x[0] == "str" and len(x[1]) >= ln:
                return x[1]
            return None

        u48, o48 = sval("U", 48), sval("O", 48)
        ue, oe = sval("UE", 32), sval("OE", 32)
        if u48 is None or o48 is None:
            raise _Stub("encrypted")
        u48, o48 = u48[:48], o48[:48]

        def pwhash(pw, salt, udata):
            if r == 6:
                return _pdf_hash_2b(pw, salt, udata)
            return hashlib.sha256(pw + salt + udata).digest()

        key = None
        for pw in (b"",) + self._passwords:
            if pwhash(pw, u48[32:40], b"") == u48[:32]:
                if ue is None:
                    raise _Stub("encrypted")
                ik = pwhash(pw, u48[40:48], b"")
                key = _aes_cbc_raw(ik, bytes(16), ue[:32],
                                   decrypt=True)
                break
            if pwhash(pw, o48[32:40], u48) == o48[:32]:
                if oe is None:
                    raise _Stub("encrypted")
                ik = pwhash(pw, o48[40:48], u48)
                key = _aes_cbc_raw(ik, bytes(16), oe[:32],
                                   decrypt=True)
                break
        if key is None:
            raise _Stub("encrypted")  # no candidate password fit
        perms = sval("Perms", 16)
        if perms is not None:
            pe = _aes_cbc_raw(key, None, perms[:16], decrypt=True)
            if pe[9:12] != b"adb":
                raise _Stub("encrypted")  # key fails its own receipt
        stmf = self.resolve(enc.get("StmF", ("name", "Identity")))
        if stmf == ("name", "Identity"):
            return  # streams not encrypted
        cf = self.resolve(enc.get("CF"))
        if not (
            isinstance(cf, dict)
            and isinstance(stmf, tuple) and stmf[0] == "name"
        ):
            raise _Stub("encrypted")
        stdcf = self.resolve(cf.get(stmf[1]))
        if not isinstance(stdcf, dict) or self.resolve(
            stdcf.get("CFM")
        ) != ("name", "AESV3"):
            raise _Stub("encrypted")
        self._crypt = ("aes256", key)

    def _decrypt_stream(self, raw: bytes, num: int, gen: int) -> bytes:
        cfm, key = self._crypt
        if cfm == "aes256":
            # /V5: the FILE key encrypts every stream directly — no
            # per-object key derivation (ISO 32000-2 §7.6.5)
            return _aes_cbc_decrypt(key, raw)
        ok = _pdf_obj_key(key, num, gen, cfm == "aes")
        if cfm == "aes":
            return _aes_cbc_decrypt(ok, raw)
        return _rc4(ok, raw)

    def _read_xref_chain(self) -> None:
        b = self.b
        tail = b[-2048:]
        k = tail.rfind(b"startxref")
        if k < 0:
            raise _Torn()
        try:
            off, _ = parse_object(tail, k + 9)
        except _Torn:
            raise _Torn()
        seen = set()
        while True:
            if not isinstance(off, int) or off < 0 or off >= len(b):
                raise _Torn()
            if off in seen:
                raise _Torn()  # /Prev cycle
            seen.add(off)
            i = _skip_ws(b, off)
            if b[i:i + 4] == b"xref":
                tr = self._read_xref_table(i + 4)
            elif i < len(b) and b[i] in b"0123456789":
                # PDF 1.5+: the cross-reference is itself a stream
                # object at this offset
                tr = self._read_xref_stream(i)
            else:
                raise _Torn()
            for key, v in tr.items():
                self.trailer.setdefault(key, v)
            # hybrid-reference files: a classic trailer additionally
            # points at an xref STREAM carrying the compressed-object
            # entries (PDF 1.5 §7.5.8.4)
            xs = tr.get("XRefStm")
            if isinstance(xs, int) and 0 <= xs < len(b) and xs not in seen:
                seen.add(xs)
                for key, v in self._read_xref_stream(
                    _skip_ws(b, xs)
                ).items():
                    self.trailer.setdefault(key, v)
            prev = tr.get("Prev")
            if prev is None:
                return
            off = prev

    def _read_xref_table(self, i: int) -> dict:
        """Classic xref TABLE section(s) at ``b[i:]`` → trailer dict;
        fills ``self.xref`` (first definition wins — newest first)."""
        b = self.b
        while True:
            i = _skip_ws(b, i)
            if b[i:i + 7] == b"trailer":
                i += 7
                break
            start, i = parse_object(b, i)
            count, i = parse_object(b, i)
            if not isinstance(start, int) or not isinstance(
                count, int
            ) or count < 0:
                raise _Torn()
            i = _skip_ws(b, i)
            if i + 20 * count > len(b):
                raise _Torn()
            for k2 in range(count):
                e = b[i + 20 * k2:i + 20 * (k2 + 1)]
                num = start + k2
                if num in self.xref:
                    continue
                if e[17:18] == b"n":
                    try:
                        self.xref[num] = int(e[:10])
                    except ValueError:
                        raise _Torn()
                elif e[17:18] == b"f":
                    # record frees too (newest wins): an object
                    # deleted by an incremental update must NOT be
                    # resurrected from an older /Prev section
                    # (r15 ADVICE); get() resolves _FREE to null
                    self.xref[num] = _FREE
            i += 20 * count
        tr, i = parse_object(b, i)
        if not isinstance(tr, dict):
            raise _Torn()
        return tr

    def _read_xref_stream(self, i: int) -> dict:
        """PDF 1.5 cross-reference STREAM at ``b[i:]`` → its dict
        (doubles as the trailer); fills ``self.xref``.  /W field
        widths (0-width = default value), /Index subsection pairs,
        big-endian binary rows; type-1 rows are plain offsets, type-2
        rows point into an /ObjStm (stored as ('objstm', stream_num,
        idx)).  /Length must be direct — nothing is resolvable before
        the xref exists."""
        b = self.b
        n, j = parse_object(b, i)
        _g, j = parse_object(b, j)
        kw, j = parse_object(b, j)
        if not isinstance(n, int) or kw != ("op", "obj"):
            raise _Torn()
        d, j = parse_object(b, j)
        if not isinstance(d, dict) or d.get("Type") != ("name", "XRef"):
            raise _Torn()
        j = _skip_ws(b, j)
        if b[j:j + 6] != b"stream":
            raise _Torn()
        j += 6
        if b[j:j + 2] == b"\r\n":
            j += 2
        elif b[j:j + 1] in (b"\n", b"\r"):
            j += 1
        ln = d.get("Length")
        if not isinstance(ln, int) or ln < 0 or j + ln > len(b):
            raise _Torn()
        data = self._decoded(d, b[j:j + ln])
        w = d.get("W")
        size = d.get("Size")
        if (
            not isinstance(w, list) or len(w) < 3
            or not all(isinstance(x, int) and 0 <= x <= 8 for x in w)
            or not isinstance(size, int)
        ):
            raise _Torn()
        index = d.get("Index", [0, size])
        if not isinstance(index, list) or len(index) % 2:
            raise _Torn()
        row = sum(w)
        pos = 0
        for p in range(0, len(index), 2):
            start, count = index[p], index[p + 1]
            if not isinstance(start, int) or not isinstance(
                count, int
            ) or count < 0:
                raise _Torn()
            if pos + row * count > len(data):
                raise _Torn()
            for k2 in range(count):
                f = []
                for wk in w[:3]:
                    f.append(
                        int.from_bytes(data[pos:pos + wk], "big")
                        if wk else None
                    )
                    pos += wk
                typ = 1 if f[0] is None else f[0]  # default type 1
                num = start + k2
                if num in self.xref:
                    continue
                if typ == 1 and f[1] is not None:
                    self.xref[num] = f[1]
                elif typ == 2 and f[1] is not None:
                    self.xref[num] = ("objstm", f[1], f[2] or 0)
                elif typ == 0:
                    # free entry: record so older sections can't
                    # resurrect a deleted object (r15 ADVICE)
                    self.xref[num] = _FREE
                # unknown types: skip (spec: treat as free-ish)
        return d

    def resolve(self, v, depth: int = 0):
        if depth > 32:
            raise _Torn()
        if isinstance(v, tuple) and v and v[0] == "ref":
            return self.resolve(self.get(v[1]), depth + 1)
        return v

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        off = self.xref.get(num)
        if off is _FREE:
            # explicit free entry: dangling refs to deleted objects
            # (common after incremental updates) are the null object,
            # not a torn document (ISO 32000 §7.3.10, r16 ADVICE)
            return None
        if isinstance(off, tuple):
            return self._objstm_get(num, off[1])
        if off is None or off >= len(self.b):
            raise _Torn()
        b = self.b
        i = _skip_ws(b, off)
        n, i = parse_object(b, i)
        g, i = parse_object(b, i)
        kw, i = parse_object(b, i)
        if n != num or kw != ("op", "obj"):
            raise _Torn()
        val, i = parse_object(b, i)
        i = _skip_ws(b, i)
        if b[i:i + 6] == b"stream":
            if not isinstance(val, dict):
                raise _Torn()
            i += 6
            if b[i:i + 2] == b"\r\n":
                i += 2
            elif b[i:i + 1] in (b"\n", b"\r"):
                i += 1
            ln = self.resolve(val.get("Length"))
            if not isinstance(ln, int) or ln < 0 or i + ln > len(b):
                raise _Torn()
            raw = b[i:i + ln]
            if (
                self._crypt is not None
                and val.get("Type") != ("name", "XRef")
            ):
                # xref streams are never encrypted (spec); everything
                # else (content, ObjStm, images) decrypts with the
                # per-object key before any filter runs
                raw = self._decrypt_stream(
                    raw, num, g if isinstance(g, int) else 0
                )
            val = ("stream", val, raw)
        self._cache[num] = val
        return val

    def _objstm_get(self, num: int, stream_num: int):
        """Load object ``num`` out of the /ObjStm it lives in (PDF
        1.5 compressed objects): header = /N (objnum, offset) pairs,
        bodies start at /First.  Objects inside an ObjStm cannot
        themselves be streams (spec), so a plain parse suffices."""
        if stream_num in self._objstm_loading:
            raise _Torn()  # an ObjStm can't contain its own entry
        self._objstm_loading.add(stream_num)
        try:
            container = self.get(stream_num)
            if not (
                isinstance(container, tuple)
                and container[0] == "stream"
                and self.resolve(container[1].get("Type"))
                == ("name", "ObjStm")
            ):
                raise _Torn()
            d = container[1]
            data = self.stream_bytes(container)
            n_objs = self.resolve(d.get("N"))
            first = self.resolve(d.get("First"))
            if not isinstance(n_objs, int) or not isinstance(
                first, int
            ) or n_objs < 0 or first < 0:
                raise _Torn()
            pos = 0
            pairs = []
            for _ in range(n_objs):
                onum, pos = parse_object(data, pos)
                ooff, pos = parse_object(data, pos)
                if not isinstance(onum, int) or not isinstance(
                    ooff, int
                ):
                    raise _Torn()
                pairs.append((onum, ooff))
        finally:
            self._objstm_loading.discard(stream_num)
        for onum, ooff in pairs:
            if onum == num:
                val, _ = parse_object(data, first + ooff)
                self._cache[num] = val
                return val
        raise _Torn()  # the xref's type-2 entry lied

    def _decoded(self, d: dict, raw: bytes) -> bytes:
        """Apply a stream's /Filter chain (none or FlateDecode,
        capped) and /DecodeParms (PNG predictors 10-15 — the row
        filtering xref streams almost always use; TIFF predictor 2 is
        the honest stub).  Budgeted against the per-document cap."""
        filt = self.resolve(d.get("Filter"))
        filters = []
        if filt is not None:
            filters = filt if isinstance(filt, list) else [filt]
        parms = self.resolve(d.get("DecodeParms"))
        parms_list = (
            parms if isinstance(parms, list) else [parms]
        )
        out = raw
        for fi, f in enumerate(filters):
            f = self.resolve(f)
            if f != ("name", "FlateDecode"):
                raise _Stub("filter")
            try:
                dec = zlib.decompressobj()
                out = dec.decompress(out, self._budget + 1)
            except zlib.error:
                raise _Torn()
            if len(out) > self._budget:
                raise _Stub("bomb")
            if not dec.eof:
                # valid deflate PREFIX but no final block: a torn
                # stream, not a short page (r15 ADVICE) — without
                # this a truncated content stream that happens to
                # end on a token boundary would silently drop text
                raise _Torn()
            pp = self.resolve(
                parms_list[fi] if fi < len(parms_list) else None
            )
            if isinstance(pp, dict):
                pred = self.resolve(pp.get("Predictor", 1))
                if pred == 1:
                    pass
                elif isinstance(pred, int) and pred >= 10:
                    cols = self.resolve(pp.get("Columns", 1))
                    colors = self.resolve(pp.get("Colors", 1))
                    bpc = self.resolve(pp.get("BitsPerComponent", 8))
                    if not (
                        isinstance(cols, int) and cols > 0
                        and isinstance(colors, int)
                        and 1 <= colors <= 4 and bpc == 8
                    ):
                        raise _Stub("filter")
                    out = _png_unpredict(out, cols * colors, colors)
                else:
                    raise _Stub("filter")  # TIFF predictor 2 etc.
        self._budget -= len(out)
        if self._budget < 0:
            raise _Stub("bomb")
        return out

    def stream_bytes(self, obj) -> bytes:
        """Decoded bytes of a stream object — none or FlateDecode
        (capped) with PNG-predictor DecodeParms; other filters are
        the honest stub."""
        if not (isinstance(obj, tuple) and obj[0] == "stream"):
            raise _Torn()
        _, d, raw = obj
        return self._decoded(d, raw)

    def pages(self) -> list:
        """Page dicts in document order (depth-first /Kids walk)."""
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise _Torn()
        node = self.resolve(root.get("Pages"))
        out: list = []

        def walk(nd, depth):
            if depth > 64 or not isinstance(nd, dict):
                raise _Torn()
            typ = self.resolve(nd.get("Type"))
            if typ == ("name", "Page"):
                out.append(nd)
                return
            kids = self.resolve(nd.get("Kids"))
            if not isinstance(kids, list):
                raise _Torn()
            for k in kids:
                walk(self.resolve(k), depth + 1)

        walk(node, 0)
        return out

    def page_images(self, page: dict) -> list:
        """(name, stream) for every ``/Subtype /Image`` XObject in a
        page's ``/Resources``, in name order (deterministic across
        writers that permute dict order)."""
        res = self.resolve(page.get("Resources"))
        if not isinstance(res, dict):
            return []
        xo = self.resolve(res.get("XObject"))
        if not isinstance(xo, dict):
            return []
        out = []
        for name in sorted(xo):
            obj = self.resolve(xo[name])
            if (
                isinstance(obj, tuple) and obj[0] == "stream"
                and self.resolve(obj[1].get("Subtype"))
                == ("name", "Image")
            ):
                out.append((name, obj))
        return out

    def image_pixels(self, obj):
        """uint8 (h, w, c) pixels of an image XObject — the
        composition that lets PDFs join cross-format image dedup:
        ``/DCTDecode`` streams feed the existing JPEG decoder
        (operators/multimodal.py), Flate/raw sample streams decode
        directly for 8-bpc ``/DeviceRGB`` and ``/DeviceGray`` (PNG
        predictors honored via ``_png_unpredict``).  Honest stubs
        (``_Stub``): CCITTFax/JBIG2/JPX filters, other colorspaces
        (Indexed/ICC/CMYK), non-8 bpc; a dict that lies about
        dimensions is ``_Torn``."""
        import numpy as np

        _, d, raw = obj
        w = self.resolve(d.get("Width"))
        h = self.resolve(d.get("Height"))
        bpc = self.resolve(d.get("BitsPerComponent"))
        cs = self.resolve(d.get("ColorSpace"))
        filt = self.resolve(d.get("Filter"))
        filters = (
            [] if filt is None
            else (filt if isinstance(filt, list) else [filt])
        )
        filters = [self.resolve(f) for f in filters]
        if not (
            isinstance(w, int) and isinstance(h, int)
            and w > 0 and h > 0
        ):
            raise _Torn()
        if w * h > 16_000_000:  # the image path's 16 MP guard
            raise _Stub("bomb")
        if ("name", "DCTDecode") in filters:
            if filters != [("name", "DCTDecode")]:
                raise _Stub("filter")
            from .multimodal import jpeg_decode_pixels
            try:
                px = jpeg_decode_pixels(bytes(raw))
            except NotImplementedError:
                raise _Stub("jpeg-tier")
            if px is None:
                raise _Torn()
            if px.shape[0] != h or px.shape[1] != w:
                raise _Torn()  # dict and JPEG frame disagree
            return px
        if ("name", "CCITTFaxDecode") in filters:
            if filters != [("name", "CCITTFaxDecode")]:
                raise _Stub("filter")
            return self._ccitt_pixels(d, raw, w, h)
        if ("name", "JBIG2Decode") in filters:
            if filters != [("name", "JBIG2Decode")]:
                raise _Stub("filter")
            return self._jbig2_pixels(d, raw, w, h)
        for f in filters:
            if f == ("name", "JPXDecode"):
                raise _Stub(f[1])
        data = self._decoded(d, raw)
        if bpc != 8:
            raise _Stub("bpc")
        if cs == ("name", "DeviceRGB"):
            c = 3
        elif cs == ("name", "DeviceGray"):
            c = 1
        else:
            raise _Stub("colorspace")
        if len(data) != w * h * c:
            raise _Torn()
        return np.frombuffer(data, np.uint8).reshape(h, w, c)

    def _jbig2_pixels(self, d: dict, raw, w: int, h: int):
        """/JBIG2Decode through functions/jbig2.py: MQ-coded and
        MMR-coded GENERIC regions (templates 0-3, AT pixels, TPGDON),
        page composition, optional /JBIG2Globals prepended.  Symbol/
        text/halftone/refinement segments flag ``_Stub('jbig2-tier')``
        — never a guessed page.  JBIG2 sample 1 = black; like the
        CCITT path, the sample feeds DeviceGray through the image
        /Decode array (default [0 1] → black = 0)."""
        import numpy as np

        from ..functions import jbig2 as J

        if self.resolve(d.get("BitsPerComponent", 1)) != 1:
            raise _Torn()
        parms = self.resolve(d.get("DecodeParms"))
        if isinstance(parms, list):
            parms = next(
                (p for p in (self.resolve(x) for x in parms)
                 if isinstance(p, dict)), None,
            )
        gdata = b""
        if isinstance(parms, dict) and "JBIG2Globals" in parms:
            g = self.resolve(parms.get("JBIG2Globals"))
            if not (isinstance(g, tuple) and g[0] == "stream"):
                raise _Torn()
            gdata = self._decoded(g[1], g[2])
        try:
            bits = J.decode_embedded(
                bytes(raw), gdata, fallback_size=(h, w)
            )
        except NotImplementedError as e:
            raise _Stub("jbig2-tier:%s" % e)
        except (ValueError, IndexError):
            raise _Torn()
        if bits.shape != (h, w):
            raise _Torn()  # dict and page dimensions disagree
        sample = bits
        dec = self.resolve(d.get("Decode"))
        d0, d1 = 0.0, 1.0
        if dec is not None:
            if not (
                isinstance(dec, list) and len(dec) == 2
                and all(isinstance(self.resolve(x), (int, float))
                        for x in dec)
            ):
                raise _Torn()
            d0 = float(self.resolve(dec[0]))
            d1 = float(self.resolve(dec[1]))
        gray0 = int(round(255 * min(max(d0, 0.0), 1.0)))
        gray1 = int(round(255 * min(max(d1, 0.0), 1.0)))
        # the filter's output SAMPLE inverts the JBIG2 bit (black
        # pixel -> sample 0), so the default /Decode [0 1] renders
        # black as 0 — the same convention the CCITT path takes for
        # /BlackIs1 false
        return np.where(~sample, gray1, gray0).astype(
            np.uint8
        )[:, :, None]

    def _ccitt_pixels(self, d: dict, raw, w: int, h: int):
        """/CCITTFaxDecode through functions/ccitt.py: /K < 0 is
        Group 4 (T.6), /K = 0 pure 1-D Group 3, /K > 0 mixed G3
        (per-row mode tags, /EndOfLine honored) — the full fax
        family.  (h, w, 1) uint8 with /BlackIs1 honored on the
        sample value (default false → black = sample 0); /Columns
        must match /Width (a disagreeing dict is torn); an
        undecodable stream is torn, never a guessed page."""
        import numpy as np

        from ..functions.ccitt import g4_decode

        parms = self.resolve(d.get("DecodeParms"))
        if isinstance(parms, list):
            parms = next(
                (p for p in (self.resolve(x) for x in parms)
                 if isinstance(p, dict)), None,
            )
        if parms is None:
            parms = {}
        if not isinstance(parms, dict):
            raise _Torn()

        def ip(name, default):
            v = self.resolve(parms.get(name, default))
            return v

        k = ip("K", 0)
        if not isinstance(k, int):
            raise _Torn()
        cols = ip("Columns", 1728)
        if cols != w:
            raise _Torn()
        rows_p = ip("Rows", h)
        if isinstance(rows_p, int) and rows_p != h:
            raise _Torn()
        black1 = ip("BlackIs1", False) is True
        align = ip("EncodedByteAlign", False) is True
        if self.resolve(d.get("BitsPerComponent", 1)) != 1:
            raise _Torn()
        if k < 0:
            bits = g4_decode(bytes(raw), w, h, byte_align=align)
        else:
            from ..functions.ccitt import g3_decode

            bits = g3_decode(
                bytes(raw), w, h, two_d=k > 0,
                eol=ip("EndOfLine", False) is True,
                byte_align=align,
            )
        if bits is None:
            raise _Torn()
        # sample value: black → 1 under /BlackIs1, else black → 0;
        # then the image /Decode array (default [0 1]) maps samples
        # to DeviceGray — writers using /BlackIs1 true pair it with
        # /Decode [1 0], and honoring both keeps the composition
        # faithful instead of special-casing the common pairing
        sample = bits if black1 else ~bits
        dec = self.resolve(d.get("Decode"))
        d0, d1 = 0.0, 1.0
        if dec is not None:
            if not (
                isinstance(dec, list) and len(dec) == 2
                and all(isinstance(self.resolve(x), (int, float))
                        for x in dec)
            ):
                raise _Torn()
            d0 = float(self.resolve(dec[0]))
            d1 = float(self.resolve(dec[1]))
        gray0 = int(round(255 * min(max(d0, 0.0), 1.0)))
        gray1 = int(round(255 * min(max(d1, 0.0), 1.0)))
        return np.where(sample, gray1, gray0).astype(
            np.uint8
        )[:, :, None]

    def page_fonts(self, page: dict) -> dict:
        """Resource name → ``_PdfFont`` for a page's /Font dict:
        /ToUnicode CMap streams parsed for real (the composite-font
        unlock), /Subtype /Type0 marked composite."""
        res = self.resolve(page.get("Resources"))
        if not isinstance(res, dict):
            return {}
        fd = self.resolve(res.get("Font"))
        if not isinstance(fd, dict):
            return {}
        out = {}
        for name in fd:
            f = self.resolve(fd[name])
            if not isinstance(f, dict):
                continue
            composite = (
                self.resolve(f.get("Subtype")) == ("name", "Type0")
            )
            tu = self.resolve(f.get("ToUnicode"))
            cmap = width = None
            if isinstance(tu, tuple) and tu[0] == "stream":
                try:
                    cmap, width = _parse_tounicode(
                        self.stream_bytes(tu)
                    )
                except (UnicodeDecodeError, _Torn):
                    raise _Torn()  # half a CMap would garble text
            out[name] = _PdfFont(
                composite, cmap, width if width else 1
            )
        return out

    def page_text(self, page: dict) -> str:
        """Text of one page from its content stream(s), decoded
        through the page's fonts (ToUnicode CMaps honored)."""
        content = self.resolve(page.get("Contents"))
        if content is None:
            return ""
        parts = (
            content if isinstance(content, list) else [content]
        )
        data = b"".join(
            self.stream_bytes(self.resolve(p)) for p in parts
        )
        return extract_text_ops(data, self.page_fonts(page))


def _parse_tounicode(data: bytes):
    """A /ToUnicode CMap stream → (code→str mapping, code byte
    width): ``codespacerange`` fixes the width, ``bfchar`` maps
    single codes, ``bfrange`` maps runs (incremented scalar dst or
    explicit dst array); dst hex strings are UTF-16BE.  Torn on any
    malformed section — a half-parsed CMap would silently garble
    text."""
    mapping: dict = {}
    width = None
    i = 0
    n = len(data)
    pending: list = []
    mode = None
    while i < n:
        i = _skip_ws(data, i)
        if i >= n:
            break
        try:
            v, i = parse_object(data, i)
        except _Torn:
            raise
        if isinstance(v, tuple) and v and v[0] == "op":
            kw = v[1]
            if kw == "begincodespacerange":
                mode, pending = "space", []
            elif kw == "beginbfchar":
                mode, pending = "char", []
            elif kw == "beginbfrange":
                mode, pending = "range", []
            elif kw == "endcodespacerange":
                for lo, _hi in zip(pending[::2], pending[1::2]):
                    if not (isinstance(lo, tuple) and lo[0] == "str"):
                        raise _Torn()
                    w = len(lo[1])
                    if width is not None and width != w:
                        raise _Torn()  # mixed widths: honest stub
                    width = w
                mode, pending = None, []
            elif kw == "endbfchar":
                if len(pending) % 2:
                    raise _Torn()
                for src, dst in zip(pending[::2], pending[1::2]):
                    if not (
                        isinstance(src, tuple) and src[0] == "str"
                        and isinstance(dst, tuple) and dst[0] == "str"
                    ):
                        raise _Torn()
                    mapping[src[1]] = dst[1].decode(
                        "utf-16-be", "strict"
                    )
                mode, pending = None, []
            elif kw == "endbfrange":
                if len(pending) % 3:
                    raise _Torn()
                for lo, hi, dst in zip(
                    pending[::3], pending[1::3], pending[2::3]
                ):
                    if not (
                        isinstance(lo, tuple) and lo[0] == "str"
                        and isinstance(hi, tuple) and hi[0] == "str"
                        and len(lo[1]) == len(hi[1])
                    ):
                        raise _Torn()
                    w = len(lo[1])
                    a = int.from_bytes(lo[1], "big")
                    b = int.from_bytes(hi[1], "big")
                    if b < a or b - a > 65535:
                        raise _Torn()
                    if isinstance(dst, list):
                        if len(dst) != b - a + 1:
                            raise _Torn()
                        for k, d in enumerate(dst):
                            if not (
                                isinstance(d, tuple) and d[0] == "str"
                            ):
                                raise _Torn()
                            mapping[
                                (a + k).to_bytes(w, "big")
                            ] = d[1].decode("utf-16-be", "strict")
                    elif isinstance(dst, tuple) and dst[0] == "str":
                        base = int.from_bytes(dst[1], "big")
                        dw = len(dst[1])
                        for k in range(b - a + 1):
                            mapping[
                                (a + k).to_bytes(w, "big")
                            ] = (base + k).to_bytes(dw, "big").decode(
                                "utf-16-be", "strict"
                            )
                    else:
                        raise _Torn()
                mode, pending = None, []
            # other CMap operators (def, usecmap shells): ignored
        elif mode is not None:
            pending.append(v)
    if width is None:
        width = 2 if mapping and all(
            len(k) == 2 for k in mapping
        ) else 1
    return mapping, width


class _PdfFont:
    """Per-font show-string decoder: composite (Type0) fonts REQUIRE
    a usable /ToUnicode CMap (else ``_Stub('font')`` — refusing beats
    emitting code-point soup); simple fonts use the CMap when present
    and fall back to latin-1 (the western-PDF convention)."""

    __slots__ = ("composite", "cmap", "width")

    def __init__(self, composite: bool, cmap, width: int):
        self.composite = composite
        self.cmap = cmap
        self.width = width

    def show(self, s: bytes) -> str:
        if self.cmap is None:
            if self.composite:
                raise _Stub("font")
            return s.decode("latin-1")
        w = self.width
        if len(s) % w:
            raise _Torn()
        out = []
        for i in range(0, len(s), w):
            code = s[i:i + w]
            u = self.cmap.get(code)
            if u is None:
                if self.composite:
                    raise _Stub("font")
                u = code.decode("latin-1")
            out.append(u)
        return "".join(out)


_LATIN1_FONT = _PdfFont(False, None, 1)


def extract_text_ops(content: bytes, fonts: dict | None = None) -> str:
    """Text from a content stream's show-text operators: an operand
    stack drained at each operator keyword; ``Tj`` / ``'`` / ``\"``
    show a string, ``TJ`` shows its array (kerning gaps < -100
    thousandths of an em become spaces), ``Td``/``TD``/``T*``/``'``/
    ``\"`` start new lines.  ``Tf`` switches the active font;
    ``fonts`` maps resource names to ``_PdfFont`` decoders (ToUnicode
    CMaps for composite fonts — round 16), with latin-1 the
    simple-font fallback."""
    out: list = []
    stack: list = []
    font = _LATIN1_FONT
    i = 0
    n = len(content)
    while i < n:
        i = _skip_ws(content, i)
        if i >= n:
            break
        try:
            v, i = parse_object(content, i)
        except _Torn:
            raise
        if isinstance(v, tuple) and v and v[0] == "op":
            op = v[1]
            if op in ("Td", "TD", "T*"):
                if out and out[-1] != "\n":
                    out.append("\n")
            elif op == "Tf" and len(stack) >= 2 and isinstance(
                stack[-2], tuple
            ) and stack[-2][0] == "name":
                font = (fonts or {}).get(stack[-2][1], _LATIN1_FONT)
            elif op == "Tj" and stack and isinstance(
                stack[-1], tuple
            ) and stack[-1][0] == "str":
                out.append(font.show(stack[-1][1]))
            elif op in ("'", '"'):
                if out and out[-1] != "\n":
                    out.append("\n")
                if stack and isinstance(stack[-1], tuple) and \
                        stack[-1][0] == "str":
                    out.append(font.show(stack[-1][1]))
            elif op == "TJ" and stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, tuple) and el and el[0] == "str":
                        out.append(font.show(el[1]))
                    elif isinstance(el, (int, float)) and el < -100:
                        out.append(" ")
            elif op == "BI":
                # inline image: scan to EI (binary payload would
                # derail the tokenizer)
                j = content.find(b"EI", i)
                if j < 0:
                    raise _Torn()
                i = j + 2
            stack = []
        else:
            stack.append(v)
    return "".join(out)


PDF_TEXT_SCHEMA = (
    "id long, n_pages int, n_chars int, text string, ok boolean, "
    "reason string"
)


def _pdf_text_tail(b: bytes, passwords: tuple = ()) -> tuple:
    """Per-payload text-extraction row tail shared by ``pdf_text``
    (blob-column face) and ``pdf_text_from_ids`` (in-task fixture
    face): (n_pages, n_chars, text, ok, reason)."""
    if b[:5] != b"%PDF-":
        return (None, None, None, False, "torn")
    try:
        doc = PdfDoc(b, passwords)
        pages = doc.pages()
        text = "\f".join(doc.page_text(p) for p in pages)
        return (len(pages), len(text), text, True, None)
    except _Stub as e:
        return (None, None, None, False, str(e))
    except (_Torn, RecursionError):
        return (None, None, None, False, "torn")


def pdf_text_from_ids(
    df: DataFrame, build, id_col: str = "doc_id",
    passwords: tuple = (),
) -> DataFrame:
    """``pdf_text`` over blobs BUILT IN-TASK: one ``mapInPandas``
    builds each id's fixture blob and extracts its text in the same
    task, so the payload bytes never cross the Arrow boundary at all
    (guide §8 "move heavy bytes once" — here zero times; the
    attach-then-decode composition ships every blob Python → JVM →
    Python, which for the 180 KB composite-font fixtures is ~1 GB of
    Arrow traffic per 5k rows and dominated the query).  Same output
    schema and rows as ``pdf_text(attach(df))``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tail = payload_memo(lambda b: _pdf_text_tail(b, passwords))
        for pdf_batch in batches:
            rows = [
                (i, *tail(build(int(i)))) for i in pdf_batch[id_col]
            ]
            yield pd.DataFrame(
                rows,
                columns=["id", "n_pages", "n_chars", "text", "ok",
                         "reason"],
            )

    return df.select(F.col(id_col).alias(id_col)).mapInPandas(
        run, PDF_TEXT_SCHEMA
    )


def pdf_text(
    df: DataFrame, content_col: str = "content", id_col: str = "id",
    passwords: tuple = (),
) -> DataFrame:
    """(id, n_pages, n_chars, text, ok, reason) per PDF payload —
    full text extraction via the classic-xref walk.  ``ok=false``
    rows carry the honest reason: 'torn' (malformed/truncated),
    'encrypted', 'filter' (non-Flate or a non-PNG predictor),
    'bomb' (decompression cap).  ``passwords`` are candidate
    user/owner passwords tried after the empty-password fast path
    (the list broadcasts inside the UDF closure — keep it small).
    Map-side Arrow batches, no shuffle; nothing raises across the
    Arrow boundary."""
    return map_payloads(
        df, lambda b: (_pdf_text_tail(b, passwords),), PDF_TEXT_SCHEMA,
        (None, None, None, False, "torn"), id_col, content_col,
    )


# ---- fixture writer --------------------------------------------------

def pdf_encode(
    pages: list,
    flate: bool = False,
    incremental_note: bool = False,
    encrypted: bool = False,
    xref_stream: bool = False,
    objstm: bool = False,
) -> bytes:
    """Minimal-but-valid PDF writer — the fixture twin of ``PdfDoc``:
    catalog → page tree → one content stream per page, text lines as
    alternating ``Tj`` / ``TJ``-with-kerning / ``'`` forms so every
    show operator runs.  ``pages`` is a list of page STRINGS (lines
    split on \\n).  ``flate=True`` compresses content streams;
    ``incremental_note=True`` appends an incremental update (second
    xref with /Prev) re-writing page 0's content — the walk must
    honor the NEWEST offset; ``encrypted=True`` plants /Encrypt;
    ``xref_stream=True`` writes a PDF 1.5 cross-reference STREAM
    (W [1 4 2], FlateDecode + PNG Up predictor 12 — the layout
    modern writers emit); ``objstm=True`` additionally packs every
    non-stream object (catalog, page tree, font, page dicts) into an
    /ObjStm with type-2 xref rows."""
    objs: dict = {}
    n_pages = len(pages)
    page_ids = [4 + 2 * k for k in range(n_pages)]

    def content_for(text: str) -> bytes:
        ops = ["BT /F1 12 Tf"]
        for li, line in enumerate(text.split("\n")):
            lit = (
                line.replace("\\", r"\\")
                .replace("(", r"\(").replace(")", r"\)")
            )
            sp = lit.rfind(" ", 0, max(1, len(lit) // 2 + 4))
            if li % 3 == 1 and sp > 0:
                # split at a real space: the TJ kerning gap re-reads
                # as exactly that space, so extracted == source
                ops.append(
                    "0 -14 Td [(%s) -250 (%s)] TJ"
                    % (lit[:sp], lit[sp + 1:])
                )
            elif li % 3 == 2:
                ops.append("(%s) '" % lit)
            else:
                ops.append("0 -14 Td (%s) Tj" % lit)
        ops.append("ET")
        return "\n".join(ops).encode("latin-1")

    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    kids = " ".join("%d 0 R" % p for p in page_ids)
    objs[2] = (
        "<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, n_pages)
    ).encode()
    objs[3] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    for k, text in enumerate(pages):
        pid, cid = page_ids[k], page_ids[k] + 1
        objs[pid] = (
            "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            "/Resources << /Font << /F1 3 0 R >> >> "
            "/Contents %d 0 R >>" % cid
        ).encode()
        body = content_for(text)
        if flate:
            comp = zlib.compress(body)
            objs[cid] = (
                b"<< /Length " + str(len(comp)).encode()
                + b" /Filter /FlateDecode >>\nstream\n" + comp
                + b"\nendstream"
            )
        else:
            objs[cid] = (
                b"<< /Length " + str(len(body)).encode()
                + b" >>\nstream\n" + body + b"\nendstream"
            )

    def assemble(objmap, trailer_extra=b"", prev=None, base=b""):
        out = bytearray(base or b"%PDF-1.4\n")
        offsets = {}
        for num in sorted(objmap):
            offsets[num] = len(out)
            out += b"%d 0 obj\n" % num
            out += objmap[num]
            out += b"\nendobj\n"
        xref_off = len(out)
        out += b"xref\n"
        # one subsection per contiguous run
        nums = sorted(offsets)
        runs = []
        for num in nums:
            if runs and num == runs[-1][0] + len(runs[-1][1]):
                runs[-1][1].append(offsets[num])
            else:
                runs.append([num, [offsets[num]]])
        if not base:
            out += b"0 1\n0000000000 65535 f \n"
        for start, offs in runs:
            out += b"%d %d\n" % (start, len(offs))
            for o in offs:
                out += b"%010d 00000 n \n" % o
        size = max(nums) + 1
        out += b"trailer\n<< /Size %d /Root 1 0 R" % size
        if encrypted:
            out += b" /Encrypt << /Filter /Standard >>"
        if prev is not None:
            out += b" /Prev %d" % prev
        out += trailer_extra
        out += b" >>\nstartxref\n%d\n%%%%EOF\n" % xref_off
        return bytes(out), xref_off

    if xref_stream:
        out = bytearray(b"%PDF-1.5\n")
        objstm_num = max(objs) + 1
        xref_num = objstm_num + (1 if objstm else 0)
        direct = dict(objs)
        packed: dict = {}
        if objstm:
            pack_ids = [1, 2, 3] + list(page_ids)
            hdr_parts = []
            body = b""
            for onum in pack_ids:
                hdr_parts.append(b"%d %d" % (onum, len(body)))
                body += objs[onum] + b"\n"
            header = b" ".join(hdr_parts) + b"\n"
            comp = zlib.compress(header + body)
            direct = {
                k: v for k, v in objs.items() if k not in pack_ids
            }
            direct[objstm_num] = (
                b"<< /Type /ObjStm /N %d /First %d /Length %d "
                b"/Filter /FlateDecode >>\nstream\n"
                % (len(pack_ids), len(header), len(comp))
                + comp + b"\nendstream"
            )
            packed = {
                onum: idx for idx, onum in enumerate(pack_ids)
            }
        offsets = {}
        for num in sorted(direct):
            offsets[num] = len(out)
            out += b"%d 0 obj\n" % num + direct[num] + b"\nendobj\n"
        xref_off = len(out)
        offsets[xref_num] = xref_off
        size = xref_num + 1
        rows = []
        for num in range(size):
            if num in packed:
                rows.append(
                    b"\x02" + objstm_num.to_bytes(4, "big")
                    + packed[num].to_bytes(2, "big")
                )
            elif num in offsets:
                rows.append(
                    b"\x01" + offsets[num].to_bytes(4, "big")
                    + b"\x00\x00"
                )
            else:
                rows.append(b"\x00" + bytes(6))
        # PNG Up predictor (12): filter byte 2 + per-column delta
        filtered = b""
        prev = bytes(7)
        for r in rows:
            filtered += b"\x02" + bytes(
                (r[k] - prev[k]) & 0xFF for k in range(7)
            )
            prev = r
        comp = zlib.compress(filtered)
        xd = (
            b"<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R "
            b"/Filter /FlateDecode /DecodeParms "
            b"<< /Predictor 12 /Columns 7 >> /Length %d"
            % (size, len(comp))
        )
        if encrypted:
            xd += b" /Encrypt << /Filter /Standard >>"
        xd += b" >>"
        out += (
            b"%d 0 obj\n" % xref_num + xd + b"\nstream\n" + comp
            + b"\nendstream\nendobj\n"
        )
        out += b"startxref\n%d\n%%%%EOF\n" % xref_off
        return bytes(out)

    base, xref0 = assemble(objs)
    if not incremental_note:
        return base
    # incremental update: rewrite page 0's content object
    cid = page_ids[0] + 1
    new_body = content_for("UPDATED " + pages[0])
    upd = {
        cid: (
            b"<< /Length " + str(len(new_body)).encode()
            + b" >>\nstream\n" + new_body + b"\nendstream"
        )
    }
    full, _ = assemble(upd, prev=xref0, base=base)
    return full


from .multimodal import _fixture_memo


@_fixture_memo(lambda d: (d % 20, d % 13 == 0, d % 17 == 0))
def build_pdf_blob(doc_id: int) -> bytes:
    """PDF fixture: class ``doc_id %% 4`` has ``1 + cls`` pages of
    deterministic multi-line text (every show-operator form, plus a
    parens/backslash escape line); variant ``(doc_id // 4) %% 5`` is
    0 = plain streams with a classic xref TABLE, 1 = FLATE-compressed
    streams (IDENTICAL extracted text — the compression-transparency
    claim), 2 = an INCREMENTAL UPDATE rewriting page 0 (the /Prev
    chain walk must surface the NEWEST content), 3 = a PDF 1.5 xref
    STREAM (PNG-predictor rows — identical text again), 4 = xref
    stream + /ObjStm compressed objects (type-2 entries — identical
    text).  ``doc_id %% 17 == 0`` cuts INSIDE the base objects (torn
    → ok=false 'torn'); else ``%% 13 == 0`` plants /Encrypt
    (ok=false 'encrypted')."""
    cls = doc_id % 4
    variant = (doc_id // 4) % 5
    pages = _pdf_fixture_pages(cls)
    blob = pdf_encode(
        pages,
        flate=(variant == 1),
        incremental_note=(variant == 2),
        encrypted=(doc_id % 13 == 0 and doc_id % 17 != 0),
        xref_stream=(variant >= 3),
        objstm=(variant == 4),
    )
    if doc_id % 17 == 0:
        # cut INSIDE the base objects (first third): a tail cut on the
        # incremental variant would leave a COMPLETE base document,
        # which a correct reader legitimately recovers
        return blob[: len(blob) // 3]
    return blob


def attach_pdf_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, content) with the PDF fixture blobs."""
    return attach_blobs(df, build_pdf_blob, id_col)


# ---- embedded images: PDFs join cross-format image dedup -------------


def pdf_image_hashes(
    df: DataFrame, content_col: str = "content", id_col: str = "id"
) -> DataFrame:
    """(id, page, img_idx, width, height, channels, ahash, dhash, ok,
    reason) — one row per image XObject (``PdfDoc.page_images`` →
    ``image_pixels``), hashed on the SAME aHash/dHash grid as the
    standalone image formats (operators/multimodal.py), so a photo
    embedded in a PDF deduplicates against its JPEG/PNG/BMP
    packagings.  A torn/encrypted document yields one flagged row;
    per-image stub tiers (CCITT/JBIG2/JPX, exotic colorspaces) flag
    that image only.  Map-side Arrow batches, no shuffle."""
    from .multimodal import image_ahash, image_dhash

    def tails(b: bytes):
        if b[:5] != b"%PDF-":
            return ((0, 0, 0, 0, 0, None, None, False, "torn"),)
        try:
            doc = PdfDoc(b)
            pages = doc.pages()
        except _Stub as e:
            return ((0, 0, 0, 0, 0, None, None, False, str(e)),)
        except (_Torn, RecursionError):
            return ((0, 0, 0, 0, 0, None, None, False, "torn"),)
        out = []
        for pno, page in enumerate(pages):
            try:
                imgs = doc.page_images(page)
            except (_Torn, _Stub, RecursionError):
                out.append((pno, 0, 0, 0, 0, None, None,
                            False, "torn"))
                continue
            for k, (_name, obj) in enumerate(imgs):
                try:
                    px = doc.image_pixels(obj)
                except _Stub as e:
                    out.append((pno, k, 0, 0, 0, None,
                                None, False, str(e)))
                    continue
                except (_Torn, RecursionError):
                    out.append((pno, k, 0, 0, 0, None,
                                None, False, "torn"))
                    continue
                h, w, c = px.shape
                out.append(
                    (pno, k, w, h, c,
                     format(image_ahash(px), "016x"),
                     format(image_dhash(px), "016x"),
                     True, None)
                )
        return tuple(out)

    return map_payloads(
        df, tails,
        "id long, page int, img_idx int, width int, height int, "
        "channels int, ahash string, dhash string, ok boolean, "
        "reason string",
        (0, 0, 0, 0, 0, None, None, False, "torn"), id_col, content_col,
    )


def _assemble_pdf(objs: dict, trailer_extra: bytes = b"") -> bytes:
    """Classic-xref single-section assembler for fixture writers:
    ``objs`` maps object number → body bytes (streams included)."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num
        out += objs[num]
        out += b"\nendobj\n"
    xref_off = len(out)
    size = max(objs) + 1
    out += b"xref\n0 %d\n" % size
    out += b"0000000000 65535 f \n"
    for num in range(1, size):
        out += b"%010d 00000 n \n" % offsets.get(num, 0)
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
        % (size, trailer_extra, xref_off)
    )
    return bytes(out)


_PDF_ENC_VARIANTS = (
    "rc4-40", "rc4-128", "aes-128", "cf-rc4", "aes-256", "aes-256-r5",
)


def pdf_encode_encrypted(
    pages: list,
    variant: str = "rc4-40",
    user_pw: bytes = b"",
    owner_pw: bytes = b"owner",
    images: list = (),
) -> bytes:
    """GENUINELY encrypted PDF — the fixture twin of
    ``PdfDoc._setup_crypt``: the standard security handler over the
    simple page tree, streams encrypted with per-object keys.
    Variants: ``rc4-40`` (/V 1 /R 2), ``rc4-128`` (/V 2 /R 3),
    ``aes-128`` (/V 4 /R 4 /CFM /AESV2), ``cf-rc4`` (/V 4 /R 4
    /CFM /V2), ``aes-256`` (/V 5 /R 6 /CFM /AESV3 — real AES-256
    with Algorithm 2.B /U //O, wrapped /UE //OE and a /Perms
    receipt), ``aes-256-r5`` (the deprecated /R 5 SHA-256 check),
    plus ``custom`` (a non-Standard /Filter shell the reader must
    FLAG, not guess at).  A non-empty ``user_pw`` produces a
    document the empty-password fast path must flag.  ``images``
    (uint8 (h, w, c) arrays) embed as Flate image XObjects on page
    0 — encrypted like every other stream, pinning that the image
    tier composes with decryption."""
    import hashlib

    if variant == "custom":
        v, r, keylen = 5, 6, 32
    elif variant in ("aes-256", "aes-256-r5"):
        v, keylen = 5, 32
        r = 6 if variant == "aes-256" else 5
    else:
        v, r = {
            "rc4-40": (1, 2), "rc4-128": (2, 3),
            "aes-128": (4, 4), "cf-rc4": (4, 4),
        }[variant]
        keylen = 5 if r == 2 else 16
    aes = variant == "aes-128"
    p_val = -44
    id0 = hashlib.md5(
        b"pdfenc-%s-%d" % (variant.encode(), len(pages))
    ).digest()

    def esc(s):
        return (
            s.replace("\\", r"\\").replace("(", r"\(")
            .replace(")", r"\)")
        )

    objs = {}
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    n = len(pages)
    page_ids = [3 + 2 * k for k in range(n)]
    kids = " ".join("%d 0 R" % pid for pid in page_ids)
    objs[2] = (
        "<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, n)
    ).encode()
    ue_val = oe_val = perms_val = None
    if variant == "custom":
        # shell only: dummy 48-byte O/U, no real encryption — the
        # reader must flag before touching any stream
        o_val = u_val = bytes(48)
        key = None
    elif v == 5:
        def pwhash(pw, salt, udata):
            if r == 6:
                return _pdf_hash_2b(pw, salt, udata)
            return hashlib.sha256(pw + salt + udata).digest()

        key = hashlib.sha256(b"filekey-" + id0).digest()
        vs, ks = (hashlib.sha256(b"us-" + id0).digest()[:16][i:i + 8]
                  for i in (0, 8))
        ovs, oks = (hashlib.sha256(b"os-" + id0).digest()[:16][i:i + 8]
                    for i in (0, 8))
        u_val = pwhash(user_pw, vs, b"") + vs + ks
        ue_val = _aes_cbc_raw(
            pwhash(user_pw, ks, b""), bytes(16), key, decrypt=False
        )
        o_val = pwhash(owner_pw, ovs, u_val) + ovs + oks
        oe_val = _aes_cbc_raw(
            pwhash(owner_pw, oks, u_val), bytes(16), key,
            decrypt=False,
        )
        import struct as _st

        perms_val = _aes_cbc_raw(
            key, None,
            _st.pack("<i", p_val) + b"\xff\xff\xff\xff"
            + b"T" + b"adb" + b"fixt",
            decrypt=False,
        )
    else:
        o_val = _pdf_owner_value(owner_pw, user_pw, r, keylen)
        key = _pdf_file_key(user_pw, o_val, p_val, id0, r, keylen)
        u_val = _pdf_user_value(key, r, id0)
    def enc_stream(data: bytes, num: int) -> bytes:
        if key is None:
            return data
        if v == 5:
            iv = hashlib.md5(b"iv5-%d-" % num + id0).digest()
            return _aes128_cbc_encrypt(key, iv, data)
        okey = _pdf_obj_key(key, num, 0, aes)
        if aes:
            iv = hashlib.md5(b"iv-%d-" % num + id0).digest()
            return _aes128_cbc_encrypt(okey, iv, data)
        return _rc4(okey, data)

    img_base = 3 + 2 * n + 1
    for k, text in enumerate(pages):
        pid, cid = page_ids[k], page_ids[k] + 1
        res = ""
        if k == 0 and images:
            names = " ".join(
                "/Im%d %d 0 R" % (j, img_base + j)
                for j in range(len(images))
            )
            res = "/Resources << /XObject << %s >> >> " % names
        objs[pid] = (
            "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            "%s/Contents %d 0 R >>" % (res, cid)
        ).encode()
        ops = ["BT"]
        for li, line in enumerate(text.split("\n")):
            ops.append(
                ("(%s) Tj" if li == 0 else "0 -14 Td (%s) Tj")
                % esc(line)
            )
        ops.append("ET")
        data = enc_stream(" ".join(ops).encode("latin-1"), cid)
        objs[cid] = (
            b"<< /Length %d >>\nstream\n" % len(data)
            + data + b"\nendstream"
        )
    for j, px in enumerate(images):
        h_, w_, c_ = px.shape
        cs = b"/DeviceRGB" if c_ == 3 else b"/DeviceGray"
        data = enc_stream(zlib.compress(px.tobytes()), img_base + j)
        objs[img_base + j] = (
            b"<< /Type /XObject /Subtype /Image /Width %d /Height %d"
            b" /ColorSpace %s /BitsPerComponent 8 /Filter /FlateDecode"
            b" /Length %d >>\nstream\n" % (w_, h_, cs, len(data))
            + data + b"\nendstream"
        )
    eid = 3 + 2 * n
    if variant == "custom":
        enc = (
            b"<< /Filter /AcmeSecurity /V 5 /R 6 /Length 256"
            b" /O <%s> /U <%s> /P %d >>"
            % (o_val.hex().encode(), u_val.hex().encode(), p_val)
        )
    elif v == 5:
        enc = (
            b"<< /Filter /Standard /V 5 /R %d /Length 256"
            b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >>"
            b" /StmF /StdCF /StrF /StdCF"
            b" /O <%s> /U <%s> /OE <%s> /UE <%s> /Perms <%s> /P %d >>"
            % (r, o_val.hex().encode(), u_val.hex().encode(),
               oe_val.hex().encode(), ue_val.hex().encode(),
               perms_val.hex().encode(), p_val)
        )
    elif v == 4:
        cfm = b"AESV2" if aes else b"V2"
        enc = (
            b"<< /Filter /Standard /V 4 /R 4 /Length 128"
            b" /CF << /StdCF << /CFM /%s /Length 16 >> >>"
            b" /StmF /StdCF /StrF /StdCF"
            b" /O <%s> /U <%s> /P %d >>"
            % (cfm, o_val.hex().encode(), u_val.hex().encode(), p_val)
        )
    else:
        enc = (
            b"<< /Filter /Standard /V %d /R %d /Length %d"
            b" /O <%s> /U <%s> /P %d >>"
            % (v, r, keylen * 8, o_val.hex().encode(),
               u_val.hex().encode(), p_val)
        )
    objs[eid] = enc
    trailer_extra = (
        b" /Encrypt %d 0 R /ID [ <%s> <%s> ]"
        % (eid, id0.hex().encode(), id0.hex().encode())
    )
    return _assemble_pdf(objs, trailer_extra)


def pdf_image_encode(text: str, images: list) -> bytes:
    """One-page PDF with embedded image XObjects — the fixture twin
    of ``PdfDoc.image_pixels``.  ``images`` is a list of
    ``(kind, px)`` with ``px`` a uint8 (h, w, c) array and ``kind``
    one of:

    - ``"dct"``: ``jpeg_encode(px)`` bytes under ``/DCTDecode``
    - ``"flate"``: zlib-compressed raw samples (RGB or Gray by c)
    - ``"flate-pred"``: Flate + PNG Up predictor rows
      (``/DecodeParms << /Predictor 12 /Colors c /Columns w >>``)
    - ``"raw"``: unfiltered samples
    - ``"ccitt"``: a BILEVEL plane (uint8 (h, w, 1), values 0/255)
      as Group 4 under ``/CCITTFaxDecode /K -1`` /BitsPerComponent 1
    - ``"ccitt-b1"``: the same plane with ``/BlackIs1 true`` +
      ``/Decode [1 0]`` and ``/EncodedByteAlign`` — identical pixels
    - ``"ccitt-g3"``: pure 1-D Group 3 (``/K 0``, no EOLs)
    - ``"ccitt-g3-2d"``: mixed Group 3 (``/K 2``, per-row mode tags,
      ``/EndOfLine true``) — identical pixels again
    - ``"jbig2"``: the bilevel plane as an embedded JBIG2 stream
      (MQ generic region, template 0, TPGDON) under ``/JBIG2Decode``
    - ``"jbig2-t2"`` / ``"jbig2-t1"``: GBTEMPLATEs 2 and 1, no
      TPGDON — identical pixels
    - ``"jbig2-mmr"``: the MMR-coded generic region spelling
    - ``"jbig2-glob"``: page info carried in a Flate-compressed
      ``/JBIG2Globals`` stream, region in the image stream
    - ``"jbig2-text"``: the plane split into four quadrant glyphs
      carried by a symbol dictionary + text region — the coding
      real scanned documents use
    - ``"jbig2-sym"``: an SDHUFF symbol-dictionary plant — the
      honest ``jbig2-tier`` stub (the arithmetic symbol/text tier
      decodes for real)
    - ``"jpx"``: the raw samples MISLABELED ``/JPXDecode`` — the
      honest-stub plant"""
    from ..functions.ccitt import g4_encode
    from .multimodal import jpeg_encode

    objs = {}
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
    names = []
    for k, (kind, px) in enumerate(images):
        h, w, c = px.shape
        cs = b"/DeviceRGB" if c == 3 else b"/DeviceGray"
        extra = b""
        if kind == "dct":
            data = jpeg_encode(px)
            filt = b" /Filter /DCTDecode"
        elif kind == "flate":
            data = zlib.compress(px.tobytes())
            filt = b" /Filter /FlateDecode"
        elif kind == "flate-pred":
            rowb = w * c
            flat = px.reshape(h, rowb)
            pred = bytearray()
            prev = bytes(rowb)
            for r in range(h):
                cur = flat[r].tobytes()
                pred.append(2)  # Up
                pred += bytes(
                    (cur[x] - prev[x]) & 0xFF for x in range(rowb)
                )
                prev = cur
            data = zlib.compress(bytes(pred))
            filt = b" /Filter /FlateDecode"
            extra = (
                b" /DecodeParms << /Predictor 12 /Colors %d"
                b" /Columns %d >>" % (c, w)
            )
        elif kind == "raw":
            data = px.tobytes()
            filt = b""
        elif kind.startswith("ccitt"):
            assert c == 1
            black = px[:, :, 0] == 0
            b1 = kind == "ccitt-b1"
            filt = b" /Filter /CCITTFaxDecode"
            if kind == "ccitt-g3":
                from ..functions.ccitt import g3_encode

                data = g3_encode(black, two_d=False, eol=False)
                extra = (
                    b" /DecodeParms << /K 0 /Columns %d /Rows %d >>"
                    % (w, h)
                )
            elif kind == "ccitt-g3-2d":
                from ..functions.ccitt import g3_encode

                data = g3_encode(black, two_d=True, eol=True)
                extra = (
                    b" /DecodeParms << /K 2 /Columns %d /Rows %d"
                    b" /EndOfLine true >>" % (w, h)
                )
            else:
                data = g4_encode(black, byte_align=b1)
                extra = (
                    b" /DecodeParms << /K -1 /Columns %d /Rows %d"
                    b"%s >>%s"
                    % (
                        w, h,
                        b" /BlackIs1 true /EncodedByteAlign true"
                        if b1 else b"",
                        b" /Decode [1 0]" if b1 else b"",
                    )
                )
        elif kind.startswith("jbig2"):
            from ..functions import jbig2 as J

            assert c == 1
            black = px[:, :, 0] == 0
            filt = b" /Filter /JBIG2Decode"
            if kind == "jbig2-t2":
                data = J.encode_embedded(black, template=2)
            elif kind == "jbig2-t1":
                data = J.encode_embedded(black, template=1)
            elif kind == "jbig2-mmr":
                data = J.encode_embedded(black, mmr=True)
            elif kind == "jbig2-glob":
                gseg = J.encode_embedded(
                    black, tpgdon=True
                )
                # page info (first segment) -> the globals stream;
                # the region + end-of-page stay in the image stream
                cut = 11 + 19  # header (short form) + payload
                gdata = zlib.compress(gseg[:cut])
                gid = 200 + k
                objs[gid] = (
                    b"<< /Filter /FlateDecode /Length %d >>"
                    b"\nstream\n" % len(gdata)
                    + gdata + b"\nendstream"
                )
                extra = (
                    b" /DecodeParms << /JBIG2Globals %d 0 R >>" % gid
                )
                data = gseg[cut:]
            elif kind == "jbig2-text":
                hh, ww = black.shape
                hy, hx = (hh + 1) // 2, (ww + 1) // 2
                quads = [
                    black[:hy, :hx], black[:hy, hx:],
                    black[hy:, :hx], black[hy:, hx:],
                ]
                insts = [(0, 0, 0), (hx, 0, 1),
                         (0, hy, 2), (hx, hy, 3)]
                # the last quadrant arrives as a REFINEMENT of the
                # first (RDW/RDH 0): drives §6.3 through the fixture
                data = J.encode_embedded_text(
                    quads[:3] + [quads[0]], insts, ww, hh,
                    strips=2, refined_instances={3: quads[3]},
                )
            elif kind == "jbig2-huff":
                # r19: the full SDHUFF/SBHUFF spelling — Huffman
                # symbol dictionary (standard tables B.1/B.2/B.4,
                # MMR collective bitmaps) + custom-table text
                # region, quadrant glyphs like jbig2-text
                hh, ww = black.shape
                hy, hx = (hh + 1) // 2, (ww + 1) // 2
                quads = [
                    black[:hy, :hx], black[:hy, hx:],
                    black[hy:, :hx], black[hy:, hx:],
                ]
                insts = [(0, 0, 0), (hx, 0, 1),
                         (0, hy, 2), (hx, hy, 3)]
                data = J.encode_embedded_text_huff(
                    quads, insts, ww, hh, strips=2,
                )
            elif kind == "jbig2-sym":
                # an SDHUFF+SDREFAGG dictionary (Huffman
                # refinement/aggregate coding stays out of scope,
                # jbig2_huff.py) the reader must flag, never guess
                # past (plain SDHUFF DECODES since r19)
                data = J._segment(
                    9, 0, 1, (3).to_bytes(2, "big") + bytes(8)
                ) + J.encode_embedded(black)
            else:
                data = J.encode_embedded(black, tpgdon=True)
        elif kind == "jpx":
            data = px.tobytes()
            filt = b" /Filter /JPXDecode"
        else:
            raise ValueError(kind)
        bpc = (
            b"1" if kind.startswith(("ccitt", "jbig2")) else b"8"
        )
        objs[5 + k] = (
            b"<< /Type /XObject /Subtype /Image /Width %d /Height %d"
            b" /ColorSpace %s /BitsPerComponent %s%s%s /Length %d >>"
            b"\nstream\n" % (w, h, cs, bpc, filt, extra, len(data))
            + data + b"\nendstream"
        )
        names.append(b"/Im%d %d 0 R" % (k, 5 + k))
    lit = (
        text.replace("\\", r"\\").replace("(", r"\(")
        .replace(")", r"\)")
    )
    content = ("BT (%s) Tj ET " % lit).encode("latin-1")
    content += b" ".join(
        b"q 16 0 0 16 0 0 cm /Im%d Do Q" % k
        for k in range(len(images))
    )
    objs[4] = (
        b"<< /Length %d >>\nstream\n%s\nendstream"
        % (len(content), content)
    )
    objs[3] = (
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Resources << /XObject << %s >> >> /Contents 4 0 R >>"
        % b" ".join(names)
    )
    return _assemble_pdf(objs)


def _pdf_image_fixture_pixels(cls: int):
    """Deterministic 16×16 RGB pixels, 6 distinct classes — smooth
    gradients (JPEG-friendly, so the DCT round-trip stays visually
    the same image for the hash grid)."""
    import numpy as np

    y, x = np.mgrid[0:16, 0:16]
    r = (y * (8 + cls) + x * 3) % 256
    g = (x * (11 + 2 * cls) + y * 5) % 256
    b = ((x + y) * (7 + cls)) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


_PDF_IMG_KINDS = (
    "dct", "flate", "flate-pred", "gray", "raw", "ccitt", "ccitt-b1",
    "ccitt-g3", "ccitt-g3-2d",
    "jbig2", "jbig2-t2", "jbig2-mmr", "jbig2-glob", "jbig2-t1",
    "jbig2-text", "jbig2-huff",
)


@_fixture_memo(lambda d: (d % 96, d % 13 == 0, d % 17 == 0))
def build_pdf_image_blob(doc_id: int) -> bytes:
    """PDF-with-image fixture: pixel class ``doc_id %% 6``, packaging
    variant ``(doc_id // 6) %% 16`` from ``_PDF_IMG_KINDS`` — "gray"
    embeds the class's integer-luma plane as Flate /DeviceGray, the
    four "ccitt*" kinds embed the luma plane THRESHOLDED at 128 as
    Group 4 (default params vs /BlackIs1 + /Decode [1 0] +
    /EncodedByteAlign) and Group 3 (pure 1-D /K 0 vs mixed /K 2
    with /EndOfLine — all four identical pixels), the seven
    "jbig2*" kinds (r18/r19) embed the same thresholded plane as
    embedded JBIG2 generic regions (MQ template 0 + TPGDON,
    templates 2 and 1, MMR, page-info-in-/JBIG2Globals, a
    symbol-dictionary + text-region split into quadrant glyphs,
    and the r19 SDHUFF/SBHUFF Huffman spelling of the same split —
    all seven identical pixels again; the 96-combo universe stays
    coprime with the %%13/%%17 plants), the others embed
    the RGB image as DCT / Flate / Flate+Up-predictor / raw samples
    (the three lossless packagings must hash identically; DCT must
    hash to the standalone JPEG's constants).  ``doc_id %% 17 ==
    0`` truncates the image stream (torn); else ``%% 13 == 0``
    relabels the filter ``/JPXDecode`` at identical byte length
    (the per-image honest stub) or drops bpc to 4 — both
    ok=false."""
    import numpy as np

    cls = doc_id % 6
    kind = _PDF_IMG_KINDS[(doc_id // 6) % 16]
    px = _pdf_image_fixture_pixels(cls)
    luma = (
        (
            px[:, :, 0].astype(np.int64) * 299
            + px[:, :, 1].astype(np.int64) * 587
            + px[:, :, 2].astype(np.int64) * 114
        ) // 1000
    ).astype(np.uint8)[:, :, None]
    if kind == "gray":
        blob = pdf_image_encode(
            "pdf image doc %d" % cls, [("flate", luma)]
        )
    elif kind.startswith(("ccitt", "jbig2")):
        bilevel = np.where(luma >= 128, 255, 0).astype(np.uint8)
        blob = pdf_image_encode(
            "pdf image doc %d" % cls, [(kind, bilevel)]
        )
    else:
        blob = pdf_image_encode(
            "pdf image doc %d" % cls, [(kind, px)]
        )
    if doc_id % 17 == 0:
        # cut 20 bytes out of the image stream: every object after it
        # (including the xref section) shifts, so startxref lies →
        # the document flags torn at the xref walk, never a guess
        i = blob.index(b"\nstream\n", blob.index(b"/Subtype /Image"))
        return blob[:i + 20] + blob[i + 40:]
    if doc_id % 13 == 0:
        # SAME-LENGTH relabels (xref offsets stay valid, so the flag
        # is the per-image honest stub, not a torn document):
        # DCT/Flate → /JPXDecode; raw (no filter) → 4 bpc
        d = blob.index(b"/Subtype /Image")
        j = blob.index(b"\nstream\n", d)
        seg = blob[d:j]
        if b"/Filter /DCTDecode" in seg:
            seg2 = seg.replace(
                b"/Filter /DCTDecode", b"/Filter /JPXDecode"
            )
        elif b"/Filter /CCITTFaxDecode" in seg:
            # same-length relabel to JPX (trailing spaces are
            # whitespace after the name): the honest per-image stub
            # (JBIG2 stopped being a stub in r18, so the old relabel
            # target would be DECODED-as-garbage, not flagged)
            seg2 = seg.replace(
                b"/Filter /CCITTFaxDecode",
                b"/Filter /JPXDecode     ",
            )
        elif b"/Filter /JBIG2Decode" in seg:
            seg2 = seg.replace(
                b"/Filter /JBIG2Decode", b"/Filter /JPXDecode  "
            )
        elif b"/Filter /FlateDecode" in seg:
            seg2 = seg.replace(
                b"/Filter /FlateDecode", b"/Filter /JPXDecode  "
            )
        else:
            seg2 = seg.replace(
                b"/BitsPerComponent 8", b"/BitsPerComponent 4"
            )
        assert len(seg2) == len(seg) and seg2 != seg
        return blob[:d] + seg2 + blob[j:]
    return blob


def pdf_encode_cid(
    pages: list, use_ranges: bool = False, drop_tounicode: bool = False
) -> bytes:
    """Composite-font (Type0 / Identity-H) PDF — the fixture twin of
    ``_parse_tounicode`` / ``_PdfFont``: every unique character gets
    a 2-byte code (0x0100 + rank), show strings are hex code strings,
    and the /ToUnicode CMap maps codes back via ``bfchar`` entries
    (``use_ranges=True`` emits ``bfrange`` runs over consecutive
    ranks instead — identical extraction).  ``drop_tounicode=True``
    omits the CMap: the reader must FLAG (reason 'font'), never emit
    code-point soup."""
    chars = sorted({c for p in pages for c in p if c != "\n"})
    code_of = {c: 0x0100 + k for k, c in enumerate(chars)}
    objs = {}
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    n = len(pages)
    page_ids = [4 + 2 * k for k in range(n)]
    kids = " ".join("%d 0 R" % p for p in page_ids)
    objs[2] = (
        "<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, n)
    ).encode()
    if drop_tounicode:
        objs[3] = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Fix"
            b" /Encoding /Identity-H >>"
        )
    else:
        lines = ["/CIDInit /ProcSet findresource begin",
                 "1 begincodespacerange", "<0000> <FFFF>",
                 "endcodespacerange"]
        if use_ranges:
            # consecutive ranks whose unicode values are ALSO
            # consecutive become one incremented bfrange
            runs = []
            k = 0
            while k < len(chars):
                j = k
                while (
                    j + 1 < len(chars)
                    and ord(chars[j + 1]) == ord(chars[j]) + 1
                ):
                    j += 1
                runs.append((k, j))
                k = j + 1
            lines.append("%d beginbfrange" % len(runs))
            for a, b in runs:
                lines.append(
                    "<%04x> <%04x> <%04x>"
                    % (0x0100 + a, 0x0100 + b, ord(chars[a]))
                )
            lines.append("endbfrange")
        else:
            lines.append("%d beginbfchar" % len(chars))
            for k, c in enumerate(chars):
                dst = c.encode("utf-16-be").hex()
                lines.append("<%04x> <%s>" % (0x0100 + k, dst))
            lines.append("endbfchar")
        lines.append("end")
        cmap = "\n".join(lines).encode("ascii")
        objs[9000] = (
            b"<< /Length %d >>\nstream\n" % len(cmap)
            + cmap + b"\nendstream"
        )
        objs[3] = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Fix"
            b" /Encoding /Identity-H /ToUnicode 9000 0 R >>"
        )
    for k, text in enumerate(pages):
        pid, cid = page_ids[k], page_ids[k] + 1
        objs[pid] = (
            "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            "/Resources << /Font << /F1 3 0 R >> >> "
            "/Contents %d 0 R >>" % cid
        ).encode()
        ops = ["BT /F1 12 Tf"]
        for li, line in enumerate(text.split("\n")):
            hx = "".join("%04x" % code_of[c] for c in line)
            ops.append(
                ("<%s> Tj" if li == 0 else "0 -14 Td <%s> Tj") % hx
            )
        ops.append("ET")
        body = " ".join(ops).encode("ascii")
        objs[cid] = (
            b"<< /Length %d >>\nstream\n" % len(body)
            + body + b"\nendstream"
        )
    return _assemble_pdf(objs)


def _pdf_fixture_pages(cls: int) -> list:
    """The plaintext fixture page classes (shared by
    ``build_pdf_blob`` and the encrypted fixture, so decrypted text
    can be pinned IDENTICAL to the plaintext classes)."""
    pages = []
    for k in range(1 + cls):
        lines = [
            "class %d page %d line %d of the fixture corpus"
            % (cls, k, j)
            for j in range(3 + (k % 2))
        ]
        lines.append("escapes (parens) and \\ backslash %d" % k)
        pages.append("\n".join(lines))
    return pages


#: multilingual page classes for the composite-font fixtures — the
#: text latin-1 extraction CANNOT represent (the tier's point)
_PDF_CID_TEXTS = (
    "café noël über straße\nligatures ﬁ ﬂ and dashes — –",
    "ελληνικά κείμενο εδώ\nμε δεύτερη γραμμή",
    "русский текст страницы\nвторая строка тут",
    "中文文本页面 日本語の行\n한국어 줄 포함",
)


@_fixture_memo(lambda d: (d % 8, d % 13 == 0, d % 17 == 0))
def build_pdf_cid_blob(doc_id: int) -> bytes:
    """Composite-font PDF fixture: text class ``doc_id %% 4`` (four
    scripts latin-1 cannot carry), CMap variant ``(doc_id // 4) %%
    2`` — bfchar vs bfrange runs, identical extraction.  ``doc_id %%
    17 == 0`` cuts inside the objects (torn); else ``%% 13 == 0``
    drops /ToUnicode (the reader flags 'font' rather than emitting
    code-point soup)."""
    cls = doc_id % 4
    pages = [
        _PDF_CID_TEXTS[cls],
        "shared trailer page %d\nacross классы" % cls,
    ]
    blob = pdf_encode_cid(
        pages,
        use_ranges=((doc_id // 4) % 2 == 1),
        drop_tounicode=(doc_id % 13 == 0 and doc_id % 17 != 0),
    )
    if doc_id % 17 == 0:
        i = len(blob) // 3
        return blob[:i] + blob[i + 20:]
    return blob


def attach_pdf_cid_blob(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, content) with the composite-font PDF fixture blobs."""
    return attach_blobs(df, build_pdf_cid_blob, id_col)


#: the known candidate password for the scheme-7 fixture class —
#: non-ASCII on purpose (UTF-8 encoding is part of Algorithm 2.A)
_PDF_FIXTURE_PW = "sp\u00e4rk-18"


@_fixture_memo(lambda d: (d % 32, d % 13 == 0, d % 17 == 0))
def build_pdf_encrypted_blob(doc_id: int) -> bytes:
    """Encrypted-PDF fixture: page class ``doc_id %% 4`` (the SAME
    page text as ``build_pdf_blob``'s classes), scheme ``(doc_id //
    4) %% 8`` — the six real handlers (RC4-40 / RC4-128 / AES-128
    / V4-RC4 / AES-256 R6 / AES-256 R5, which must DECRYPT to text
    identical to the plaintext class), 6 = an UNKNOWN non-empty
    user password under AES-128 or AES-256 by class parity (must
    flag even with candidates supplied), or 7 (r18) = the KNOWN
    ``_PDF_FIXTURE_PW`` under a per-class handler (AES-256 R6 /
    AES-128 / RC4-128 / AES-256 R5 — must decrypt via the
    candidate-password path to text identical to the plaintext
    class).  ``doc_id %% 17 == 0`` cuts inside the objects (torn);
    else ``%% 13 == 0`` swaps in a non-Standard /Filter shell
    (honest 'encrypted' flag)."""
    cls = doc_id % 4
    scheme = (doc_id // 4) % 8
    pages = _pdf_fixture_pages(cls)
    if doc_id % 13 == 0 and doc_id % 17 != 0:
        return pdf_encode_encrypted(pages, "custom")
    if scheme == 6:
        blob = pdf_encode_encrypted(
            pages, "aes-256" if cls % 2 else "aes-128",
            user_pw=b"not-empty",
        )
    elif scheme == 7:
        blob = pdf_encode_encrypted(
            pages,
            ("aes-256", "aes-128", "rc4-128", "aes-256-r5")[cls],
            user_pw=_PDF_FIXTURE_PW.encode("utf-8"),
        )
    else:
        blob = pdf_encode_encrypted(pages, _PDF_ENC_VARIANTS[scheme])
    if doc_id % 17 == 0:
        i = len(blob) // 3
        return blob[:i] + blob[i + 20:]
    return blob


def attach_pdf_encrypted_blob(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, content) with the encrypted-PDF fixture blobs."""
    return attach_blobs(df, build_pdf_encrypted_blob, id_col)


def attach_pdf_image_blob(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, content) with the PDF-embedded-image fixture blobs."""
    return attach_blobs(df, build_pdf_image_blob, id_col)
