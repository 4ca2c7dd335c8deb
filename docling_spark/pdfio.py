"""Pure-Python PDF object layer (COS): lexer, xref, streams, page tree.

From-scratch replacement for the native parse stack the reference drives
through pypdfium2/docling-parse (``docling/backend/pdf_backend.py:59-105``,
``docling/backend/docling_parse_backend.py:122-177``) - this sandbox has no
native PDF library, and at Common-Crawl scale a pure-Python reader riding
Arrow-batched ``mapInArrow`` is the only dependency-free option anyway.

Scope (what the reference test corpus actually uses - verified by a byte
scan over ``tests/data/pdf/sources``): classic xref tables AND xref streams,
object streams (/ObjStm), FlateDecode with PNG predictors, ASCIIHex/
ASCII85/RunLength filters. No encryption, no LZW (absent from the corpus;
both raise a clear error).

Robustness contract (Spark UDF: never hang, never crash the task): every
parse error raises ``PdfError``; a damaged xref falls back to a full-file
object scan, which is what a crawl pipeline wants - trust the bytes you can
find, not the index.
"""

from __future__ import annotations

import re
import zlib

__all__ = ["PdfError", "Name", "Ref", "Stream", "PdfDocument"]


class PdfError(ValueError):
    pass


class Name(str):
    """A PDF name object (/Foo) - a str subclass so dict keys stay natural."""
    __slots__ = ()


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num = num
        self.gen = gen

    def __repr__(self):
        return f"{self.num} {self.gen} R"

    def __eq__(self, o):
        return isinstance(o, Ref) and o.num == self.num and o.gen == self.gen

    def __hash__(self):
        return hash((self.num, self.gen))


class Stream:
    __slots__ = ("dict", "raw", "_decoded")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw
        self._decoded = None

    def __repr__(self):
        return f"<Stream {len(self.raw)}B {dict(self.dict)!r}>"


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_REGULAR_STOP = _WS + _DELIM
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")


class Lexer:
    """Tokenizer over a bytes buffer; also used for content streams."""

    __slots__ = ("data", "pos", "refs")

    def __init__(self, data: bytes, pos: int = 0, refs: bool = True):
        # refs=False for content streams: they cannot contain indirect
        # references, so integer tokens skip the "INT INT R" lookahead
        self.data = data
        self.pos = pos
        self.refs = refs

    def skip_ws(self):
        d, i, n = self.data, self.pos, len(self.data)
        while i < n:
            c = d[i]
            if c in _WS:
                i += 1
            elif c == 0x25:  # '%' comment to EOL
                while i < n and d[i] not in (0x0A, 0x0D):
                    i += 1
            else:
                break
        self.pos = i

    def peek_byte(self) -> int:
        return self.data[self.pos] if self.pos < len(self.data) else -1

    def read_token(self) -> bytes:
        """Next regular token (keyword/number); assumes ws skipped."""
        d, i, n = self.data, self.pos, len(self.data)
        j = i
        while j < n and d[j] not in _REGULAR_STOP:
            j += 1
        self.pos = j
        return d[i:j]

    # ---- object reader ---------------------------------------------------

    def read_object(self):
        self.skip_ws()
        if self.pos >= len(self.data):
            raise PdfError("unexpected end of data")
        d, i = self.data, self.pos
        c = d[i]
        if c == 0x2F:  # '/'
            return self._read_name()
        if c == 0x28:  # '('
            return self._read_literal_string()
        if c == 0x3C:  # '<'
            if d[i:i + 2] == b"<<":
                return self._read_dict_or_stream()
            return self._read_hex_string()
        if c == 0x5B:  # '['
            self.pos += 1
            out = []
            while True:
                self.skip_ws()
                if self.peek_byte() == 0x5D:
                    self.pos += 1
                    return out
                out.append(self.read_object())
        if c == 0x5D or c == 0x3E:
            raise PdfError(f"unbalanced delimiter at {i}")
        tok = self.read_token()
        if not tok:
            raise PdfError(f"cannot lex at offset {i}: {d[i:i+10]!r}")
        if tok == b"true":
            return True
        if tok == b"false":
            return False
        if tok == b"null":
            return None
        m = _NUM_RE.fullmatch(tok)
        if m:
            # possible indirect reference: INT INT R
            if self.refs and b"." not in tok and tok[:1] != b"-":
                save = self.pos
                self.skip_ws()
                tok2 = self.read_token()
                if tok2.isdigit():
                    self.skip_ws()
                    tok3 = self.read_token()
                    if tok3 == b"R":
                        return Ref(int(tok), int(tok2))
                self.pos = save
            return float(tok) if b"." in tok else int(tok)
        # bare keyword (obj/endobj/stream handled by callers)
        return tok

    def _read_name(self) -> Name:
        d, n = self.data, len(self.data)
        i = self.pos + 1
        j = i
        out = bytearray()
        while j < n and d[j] not in _REGULAR_STOP:
            if d[j] == 0x23 and j + 2 < n:  # '#' hex escape
                try:
                    out.append(int(d[j + 1:j + 3], 16))
                    j += 3
                    continue
                except ValueError:
                    pass
            out.append(d[j])
            j += 1
        self.pos = j
        return Name(out.decode("latin-1"))

    def _read_literal_string(self) -> bytes:
        d, n = self.data, len(self.data)
        i = self.pos + 1
        out = bytearray()
        depth = 1
        while i < n:
            c = d[i]
            if c == 0x5C:  # backslash
                i += 1
                if i >= n:
                    break
                e = d[i]
                if e == 0x6E:
                    out.append(0x0A)
                elif e == 0x72:
                    out.append(0x0D)
                elif e == 0x74:
                    out.append(0x09)
                elif e == 0x62:
                    out.append(0x08)
                elif e == 0x66:
                    out.append(0x0C)
                elif e in (0x28, 0x29, 0x5C):
                    out.append(e)
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    val = e - 0x30
                    k = 1
                    while k < 3 and i + 1 < n and 0x30 <= d[i + 1] <= 0x37:
                        i += 1
                        val = val * 8 + (d[i] - 0x30)
                        k += 1
                    out.append(val & 0xFF)
                elif e in (0x0A, 0x0D):  # line continuation
                    if e == 0x0D and i + 1 < n and d[i + 1] == 0x0A:
                        i += 1
                else:
                    out.append(e)
                i += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                i += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    i += 1
                    break
                out.append(c)
                i += 1
            else:
                out.append(c)
                i += 1
        self.pos = i
        return bytes(out)

    def _read_hex_string(self) -> bytes:
        d, n = self.data, len(self.data)
        i = self.pos + 1
        hexdigits = bytearray()
        while i < n and d[i] != 0x3E:
            c = d[i]
            if (0x30 <= c <= 0x39 or 0x41 <= c <= 0x46
                    or 0x61 <= c <= 0x66):
                hexdigits.append(c)
            i += 1
        self.pos = i + 1
        if len(hexdigits) % 2:
            hexdigits.append(0x30)
        return bytes.fromhex(hexdigits.decode("ascii"))

    def _read_dict_or_stream(self):
        self.pos += 2
        d = {}
        while True:
            self.skip_ws()
            if self.data[self.pos:self.pos + 2] == b">>":
                self.pos += 2
                break
            key = self.read_object()
            if not isinstance(key, Name):
                raise PdfError(f"dict key is not a name: {key!r}")
            d[key] = self.read_object()
        # stream?
        save = self.pos
        self.skip_ws()
        if self.data[self.pos:self.pos + 6] == b"stream":
            self.pos += 6
            if self.data[self.pos:self.pos + 2] == b"\r\n":
                self.pos += 2
            elif self.data[self.pos:self.pos + 1] in (b"\n", b"\r"):
                self.pos += 1
            return ("__stream__", d, self.pos)  # caller slices raw bytes
        self.pos = save
        return d


# ----------------------------------------------------------------- filters

def _png_predictor(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    rowlen = (colors * bpc * columns + 7) // 8
    bpp = max(1, (colors * bpc + 7) // 8)
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    n = len(data)
    while i + 1 <= n:
        ft = data[i]
        row = bytearray(data[i + 1:i + 1 + rowlen])
        if len(row) < rowlen:
            row.extend(b"\x00" * (rowlen - len(row)))
        i += 1 + rowlen
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for j in range(bpp, rowlen):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(rowlen):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(rowlen):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(rowlen):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c)
                row[j] = (row[j] + pred) & 0xFF
        else:
            raise PdfError(f"unknown PNG predictor row filter {ft}")
        out.extend(row)
        prev = row
        if i >= n:
            break
    return bytes(out)


def _apply_predictor(data: bytes, parms: dict, resolve) -> bytes:
    pred = resolve(parms.get("Predictor", 1)) or 1
    if pred == 1:
        return data
    if pred == 2:
        raise PdfError("TIFF predictor 2 not supported")
    colors = resolve(parms.get("Colors", 1)) or 1
    bpc = resolve(parms.get("BitsPerComponent", 8)) or 8
    columns = resolve(parms.get("Columns", 1)) or 1
    return _png_predictor(data, colors, bpc, columns)


def _ascii85(data: bytes) -> bytes:
    data = data.replace(b"<~", b"")
    end = data.find(b"~>")
    if end >= 0:
        data = data[:end]
    data = bytes(c for c in data if c not in _WS)
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        if data[i:i + 1] == b"z":
            out.extend(b"\x00\x00\x00\x00")
            i += 1
            continue
        grp = data[i:i + 5]
        pad = 5 - len(grp)
        grp = grp + b"u" * pad
        val = 0
        for c in grp:
            if not (0x21 <= c <= 0x75):
                raise PdfError(f"bad ascii85 byte {c}")
            val = val * 85 + (c - 0x21)
        quad = val.to_bytes(4, "big")
        out.extend(quad[:4 - pad])
        i += 5
    return bytes(out)


def _runlength(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        length = data[i]
        if length == 128:
            break
        if length < 128:
            out.extend(data[i + 1:i + 2 + length])
            i += 2 + length
        else:
            out.extend(data[i + 1:i + 2] * (257 - length))
            i += 2
    return bytes(out)


def decode_stream(stream: Stream, resolve) -> bytes:
    """Apply the stream's /Filter chain; caches the result."""
    if stream._decoded is not None:
        return stream._decoded
    data = stream.raw
    filters = resolve(stream.dict.get("Filter"))
    if filters is None:
        filters = []
    elif isinstance(filters, Name):
        filters = [filters]
    parms = resolve(stream.dict.get("DecodeParms"))
    if parms is None:
        parms = [None] * len(filters)
    elif isinstance(parms, dict):
        parms = [parms]
    while len(parms) < len(filters):
        parms.append(None)
    for f, p in zip(filters, parms):
        f = resolve(f)
        p = resolve(p) or {}
        if f in ("FlateDecode", "Fl"):
            try:
                data = zlib.decompress(data)
            except zlib.error:
                # salvage what decompresses (truncated crawl payloads)
                d = zlib.decompressobj()
                try:
                    data = d.decompress(data)
                except zlib.error as exc:
                    raise PdfError(f"flate error: {exc}") from exc
            data = _apply_predictor(data, p, resolve)
        elif f in ("ASCIIHexDecode", "AHx"):
            end = data.find(b">")
            hx = data[:end] if end >= 0 else data
            hx = bytes(c for c in hx if c not in _WS)
            if len(hx) % 2:
                hx += b"0"
            data = bytes.fromhex(hx.decode("ascii"))
        elif f in ("ASCII85Decode", "A85"):
            data = _ascii85(data)
        elif f in ("RunLengthDecode", "RL"):
            data = _runlength(data)
        elif f in ("DCTDecode", "JPXDecode", "JBIG2Decode", "CCITTFaxDecode"):
            # image codecs: keep raw bytes; the text path never decodes them
            pass
        elif f == "Crypt":
            raise PdfError("encrypted streams not supported")
        elif f == "LZWDecode":
            data = _lzw(data)
            data = _apply_predictor(data, p, resolve)
        else:
            raise PdfError(f"unknown stream filter {f}")
    stream._decoded = data
    return data


def _lzw(data: bytes) -> bytes:
    """Minimal LZW (PDF variant, early-change)."""
    out = bytearray()
    table = {i: bytes([i]) for i in range(256)}
    next_code = 258
    width = 9
    buf = 0
    nbits = 0
    prev = None
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = {i: bytes([i]) for i in range(256)}
                next_code = 258
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code in table:
                entry = table[code]
                table[next_code] = prev + entry[:1]
                next_code += 1
            else:
                entry = prev + prev[:1]
                table[next_code] = entry
                next_code += 1
            out.extend(entry)
            prev = entry
            if next_code >= (1 << width) - 1 and width < 12:
                width += 1
    return bytes(out)


# ------------------------------------------------------------ the document

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


class PdfDocument:
    """Random-access object store + page tree over one PDF byte buffer."""

    def __init__(self, data: bytes, password: str = ""):
        if not data.lstrip()[:5].startswith(b"%PDF-"):
            # some crawls prepend garbage; find the header within 1 KB
            idx = data.find(b"%PDF-", 0, 1024)
            if idx < 0:
                raise PdfError("not a PDF (no %PDF- header)")
            data = data[idx:]
        self.data = data
        self.xref: dict[int, tuple] = {}   # num -> ("off", offset) |
        #                                          ("objstm", stm_num, idx)
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, list] = {}
        try:
            self._load_xref()
        except PdfError:
            self.xref = {}
        if "Root" not in self.trailer or not self.xref:
            self._scan_all_objects()
        self._crypt = None
        self._encrypt_num = None
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is not None:
            # strings inside /Encrypt itself are never encrypted, so the
            # dict parses before the handler exists
            if isinstance(enc_ref, Ref):
                self._encrypt_num = enc_ref.num
            enc = self.resolve(enc_ref)
            if not isinstance(enc, dict) or str(
                    enc.get("Filter", "Standard")) != "Standard":
                raise PdfError("unsupported PDF security handler")
            ids = self.trailer.get("ID") or []
            id0 = ids[0] if ids else b""
            if isinstance(id0, str):
                id0 = id0.encode("latin-1", errors="replace")
            from .pdfcrypt import StandardSecurityHandler
            self._crypt = StandardSecurityHandler(enc, id0, password)
            self._cache.clear()  # anything parsed pre-handler is raw

    # ---- xref loading ----------------------------------------------------

    def _load_xref(self):
        tail = self.data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise PdfError("no startxref")
        offset = int(m.group(1))
        seen = set()
        queue = [offset]
        while queue:
            off = queue.pop(0)
            if not off or off in seen or off >= len(self.data):
                continue
            seen.add(off)
            queue.extend(self._load_xref_section(off))

    def _load_xref_section(self, offset: int) -> list[int]:
        lex = Lexer(self.data, offset)
        lex.skip_ws()
        if self.data[lex.pos:lex.pos + 4] == b"xref":
            return self._load_xref_table(lex)
        return self._load_xref_stream(lex)

    def _load_xref_table(self, lex: Lexer) -> list[int]:
        lex.pos += 4
        while True:
            lex.skip_ws()
            if self.data[lex.pos:lex.pos + 7] == b"trailer":
                lex.pos += 7
                trailer = lex.read_object()
                if not isinstance(trailer, dict):
                    raise PdfError("bad trailer")
                for k, v in trailer.items():
                    self.trailer.setdefault(k, v)
                # Hybrid-reference files carry BOTH /XRefStm and /Prev; the
                # compressed objects live only in the xref stream, so it must
                # be processed in addition to (and before) /Prev (PDF 32000
                # §7.5.8.4), not only when /Prev is absent.
                nxts = []
                if "XRefStm" in trailer:
                    nxts.append(int(trailer["XRefStm"]))
                if trailer.get("Prev") is not None:
                    nxts.append(int(trailer["Prev"]))
                return nxts
            start_tok = lex.read_token()
            if not start_tok.isdigit():
                raise PdfError(f"bad xref subsection at {lex.pos}")
            lex.skip_ws()
            count = int(lex.read_token())
            start = int(start_tok)
            for i in range(count):
                lex.skip_ws()
                off = lex.read_token()
                lex.skip_ws()
                gen = lex.read_token()
                lex.skip_ws()
                kind = lex.read_token()
                num = start + i
                if kind == b"n" and num not in self.xref:
                    self.xref[num] = ("off", int(off))

    def _load_xref_stream(self, lex: Lexer) -> list[int]:
        m = _OBJ_RE.search(self.data, lex.pos, lex.pos + 64)
        if m is None:
            raise PdfError("xref stream header not found")
        lex2 = Lexer(self.data, m.end())
        stm = lex2.read_object()
        if (isinstance(stm, tuple) and stm[0] == "__stream__"):
            d, data_start = stm[1], stm[2]
        else:
            raise PdfError("xref stream object is not a stream")
        length = self.resolve(d.get("Length"))
        raw = self.data[data_start:data_start + int(length)]
        stream = Stream(d, raw)
        payload = decode_stream(stream, self.resolve)
        w = [int(self.resolve(x)) for x in self.resolve(d.get("W", []))]
        if len(w) < 3:
            raise PdfError("bad /W in xref stream")
        size = int(self.resolve(d.get("Size", 0)))
        index = self.resolve(d.get("Index"))
        if index is None:
            index = [0, size]
        index = [int(self.resolve(x)) for x in index]
        rowlen = sum(w)
        pos = 0

        def field(row, k):
            s = sum(w[:k])
            chunk = row[s:s + w[k]]
            if w[k] == 0:
                return 1 if k == 0 else 0
            return int.from_bytes(chunk, "big")

        for i in range(0, len(index), 2):
            start, count = index[i], index[i + 1]
            for j in range(count):
                row = payload[pos:pos + rowlen]
                pos += rowlen
                if len(row) < rowlen:
                    break
                typ = field(row, 0)
                f2 = field(row, 1)
                f3 = field(row, 2)
                num = start + j
                if num in self.xref:
                    continue
                if typ == 1:
                    self.xref[num] = ("off", f2)
                elif typ == 2:
                    self.xref[num] = ("objstm", f2, f3)
        for k, v in d.items():
            if k not in ("Type", "W", "Index", "Filter", "Length",
                         "DecodeParms"):
                self.trailer.setdefault(k, v)
        prev = d.get("Prev")
        return [int(self.resolve(prev))] if prev is not None else []

    def _scan_all_objects(self):
        """Fallback: regex-scan the whole buffer for `N G obj` headers."""
        for m in _OBJ_RE.finditer(self.data):
            num = int(m.group(1))
            # later definitions win (incremental updates come later in file)
            self.xref[num] = ("off", m.start())
        if "Root" not in self.trailer:
            for m in re.finditer(rb"/Root\s+(\d+)\s+(\d+)\s+R", self.data):
                self.trailer["Root"] = Ref(int(m.group(1)), int(m.group(2)))

    # ---- object access ---------------------------------------------------

    def resolve(self, obj):
        seen = 0
        while isinstance(obj, Ref):
            obj = self.get_object(obj.num)
            seen += 1
            if seen > 32:
                raise PdfError("reference cycle")
        return obj

    def get_object(self, num: int):
        if num in self._cache:
            return self._cache[num]
        entry = self.xref.get(num)
        if entry is None:
            return None
        self._cache[num] = None  # cycle guard
        if entry[0] == "off":
            obj = self._parse_object_at(entry[1], num)
            if self._crypt is not None and num != self._encrypt_num:
                obj = self._decrypt_object(obj, num, 0)
        else:
            # objects inside object streams are covered by the stream's
            # own encryption - never decrypted individually
            obj = self._objstm_object(entry[1], entry[2], num)
        self._cache[num] = obj
        return obj

    def _decrypt_object(self, obj, num: int, gen: int):
        """Walk a freshly parsed top-level object, decrypting strings
        and stream payloads (xref/metadata streams excluded per spec)."""
        if isinstance(obj, Stream):
            t = str(obj.dict.get("Type", ""))
            obj.dict = self._decrypt_object(obj.dict, num, gen)
            if t == "XRef" or (t == "Metadata"
                               and not self._crypt.encrypt_metadata):
                return obj  # stored in the clear per spec
            obj.raw = self._crypt.decrypt(obj.raw, num, gen)
            return obj
        if isinstance(obj, bytes):
            return self._crypt.decrypt(obj, num, gen, string=True)
        if isinstance(obj, dict):
            return {k: self._decrypt_object(v, num, gen)
                    for k, v in obj.items()}
        if isinstance(obj, list):
            return [self._decrypt_object(v, num, gen) for v in obj]
        return obj

    def _parse_object_at(self, offset: int, num: int):
        m = _OBJ_RE.match(self.data, offset) or _OBJ_RE.search(
            self.data, offset, offset + 256)
        if m is None or int(m.group(1)) != num:
            # xref off by a little (common in the wild): search nearby
            m = None
            for cand in _OBJ_RE.finditer(
                    self.data, max(0, offset - 64), offset + 1024):
                if int(cand.group(1)) == num:
                    m = cand
                    break
            if m is None:
                return None
        lex = Lexer(self.data, m.end())
        obj = lex.read_object()
        if isinstance(obj, tuple) and obj and obj[0] == "__stream__":
            d, data_start = obj[1], obj[2]
            length = self.resolve(d.get("Length"))
            if not isinstance(length, (int, float)):
                # broken /Length: scan for endstream
                endpos = self.data.find(b"endstream", data_start)
                length = max(0, endpos - data_start)
            raw = self.data[data_start:data_start + int(length)]
            # guard: if "endstream" isn't right after, re-derive length
            tail = self.data[data_start + int(length):
                             data_start + int(length) + 20]
            if b"endstream" not in tail:
                endpos = self.data.find(b"endstream", data_start)
                if endpos > 0:
                    raw = self.data[data_start:endpos].rstrip(b"\r\n")
            return Stream(d, raw)
        return obj

    def _objstm_object(self, stm_num: int, idx: int, want_num: int):
        pairs = self._objstm_cache.get(stm_num)
        if pairs is None:
            stm = self.get_object(stm_num)
            if not isinstance(stm, Stream):
                return None
            payload = decode_stream(stm, self.resolve)
            n = int(self.resolve(stm.dict.get("N", 0)))
            first = int(self.resolve(stm.dict.get("First", 0)))
            head = Lexer(payload, 0)
            pairs = []
            for _ in range(n):
                head.skip_ws()
                onum = int(head.read_token())
                head.skip_ws()
                ooff = int(head.read_token())
                pairs.append((onum, first + ooff, payload))
            self._objstm_cache[stm_num] = pairs
        if idx < len(pairs) and pairs[idx][0] == want_num:
            onum, off, payload = pairs[idx]
        else:
            match = [p for p in pairs if p[0] == want_num]
            if not match:
                return None
            onum, off, payload = match[0]
        lex = Lexer(payload, off)
        return lex.read_object()

    # ---- page tree ---------------------------------------------------

    def pages(self) -> list[dict]:
        """Flattened page dicts with inherited attributes resolved."""
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            # fallback: find any /Type /Pages roots by scan
            root = {}
        tree = self.resolve(root.get("Pages"))
        out: list[dict] = []
        inheritable = ("Resources", "MediaBox", "CropBox", "Rotate")
        seen: set[int] = set()

        def walk(node, inherited):
            node = self.resolve(node)
            if not isinstance(node, dict) or id(node) in seen:
                return
            seen.add(id(node))
            if len(out) > 10000:
                raise PdfError("page tree too large")
            merged = dict(inherited)
            for k in inheritable:
                if k in node:
                    merged[k] = node[k]
            if node.get("Type") == "Pages" or "Kids" in node:
                for kid in self.resolve(node.get("Kids", [])) or []:
                    walk(kid, merged)
            elif node.get("Type") == "Page" or "Contents" in node:
                page = dict(node)
                for k in inheritable:
                    if k not in page and k in merged:
                        page[k] = merged[k]
                out.append(page)

        if isinstance(tree, dict):
            walk(tree, {})
        if not out:
            # damaged page tree: collect every /Type /Page object
            for num in sorted(self.xref):
                obj = self.get_object(num)
                if isinstance(obj, dict) and obj.get("Type") == "Page":
                    out.append(dict(obj))
        return out

    def page_content(self, page: dict) -> bytes:
        """Concatenated, decoded content streams of a page."""
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return b""
        if isinstance(contents, Stream):
            streams = [contents]
        else:
            streams = [self.resolve(c) for c in contents]
        chunks = []
        for s in streams:
            if isinstance(s, Stream):
                chunks.append(decode_stream(s, self.resolve))
        return b"\n".join(chunks)

    def outline(self) -> list[tuple[int, str]]:
        """Bookmark outline as (level, title) pairs (heading strategy)."""
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            return []
        ol = self.resolve(root.get("Outlines"))
        out: list[tuple[int, str]] = []
        seen: set[int] = set()

        def walk(node, level):
            node = self.resolve(node)
            while isinstance(node, dict) and id(node) not in seen:
                seen.add(id(node))
                title = self.resolve(node.get("Title"))
                if isinstance(title, bytes):
                    out.append((level, decode_pdf_text(title)))
                first = node.get("First")
                if first is not None and level < 16:
                    walk(first, level + 1)
                node = self.resolve(node.get("Next"))

        if isinstance(ol, dict):
            walk(ol.get("First"), 1)
        return out


def decode_pdf_text(b: bytes) -> str:
    """Text-string decoding: UTF-16BE with BOM, else PDFDocEncoding
    (approximated by latin-1, correct for the printable range)."""
    if b[:2] == b"\xfe\xff":
        return b[2:].decode("utf-16-be", "replace")
    if b[:3] == b"\xef\xbb\xbf":
        return b[3:].decode("utf-8", "replace")
    return b.decode("latin-1")
