"""PDF text extraction: fonts, content-stream interpreter, text cells.

The from-scratch analog of docling-parse's char/word/line cell pipeline
(reference ``docling/backend/docling_parse_backend.py:122-177`` drives the
native parser; the cell model is docling-core's ``SegmentedPdfPage`` /
``TextCell``). Everything here is pure Python over :mod:`pdfio`'s object
layer: decode the content streams, run the text state machine (PDF 32000
§9.4), decode glyphs through the font tables, and group positioned glyphs
into line cells with top-left-origin bounding boxes.

Scale notes: one page is parsed entirely inside a ``mapInArrow`` worker -
no shared state, no native handles, so the per-partition map stays a pure
function (north rule). Hot paths avoid per-glyph Python object churn by
keeping glyphs as tuples.
"""

from __future__ import annotations

import re
import unicodedata

from .pdfio import Lexer, Name, PdfDocument, PdfError, Stream, decode_stream
from .ttink import CffInk, TrueTypeInk

__all__ = ["TextCell", "extract_page_cells", "PdfTextExtractor"]

# Parsed font-program memo (guide 4.5: heavyweight init once per task /
# reused worker). Real corpora repeat the same embedded font programs
# across thousands of documents; parsing tables + computing ink boxes
# is a per-font cost, not a per-document one. Keyed by the font bytes
# (plus the CIDToGIDMap bytes for CID fonts, which mutate the object),
# bounded FIFO so worker memory stays flat. Parsing the same bytes
# yields identical state, so sharing the object cannot change output.
_INK_CACHE: dict = {}
_INK_CACHE_MAX = 32


def _cached_font_ink(kind: str, prog: bytes, extra: bytes | None = None):
    # raw-bytes key: the parsed object retains the full program anyway,
    # so hashing would save no memory while exposing the cache to
    # crafted digest collisions on untrusted corpora
    key = (kind, prog, extra)
    obj = _INK_CACHE.get(key)
    if obj is None:
        if kind == "tt":
            obj = TrueTypeInk(prog)
        elif kind == "tt_gid":
            obj = TrueTypeInk(prog, by_gid=True)
            if extra is not None:
                obj.gid_map = extra
        else:
            obj = CffInk(prog)
        if len(_INK_CACHE) >= _INK_CACHE_MAX:
            _INK_CACHE.pop(next(iter(_INK_CACHE)))
        _INK_CACHE[key] = obj
    return obj


# ------------------------------------------------------------------ fonts

# Adobe Glyph List subset: every name the reference corpus' /Differences
# arrays use, plus the standard latin set (public AGL data).
_AGL = {
    "space": 0x20, "exclam": 0x21, "quotedbl": 0x22, "numbersign": 0x23,
    "dollar": 0x24, "percent": 0x25, "ampersand": 0x26, "quotesingle": 0x27,
    "parenleft": 0x28, "parenright": 0x29, "asterisk": 0x2A, "plus": 0x2B,
    "comma": 0x2C, "hyphen": 0x2D, "period": 0x2E, "slash": 0x2F,
    "zero": 0x30, "one": 0x31, "two": 0x32, "three": 0x33, "four": 0x34,
    "five": 0x35, "six": 0x36, "seven": 0x37, "eight": 0x38, "nine": 0x39,
    "colon": 0x3A, "semicolon": 0x3B, "less": 0x3C, "equal": 0x3D,
    "greater": 0x3E, "question": 0x3F, "at": 0x40, "bracketleft": 0x5B,
    "backslash": 0x5C, "bracketright": 0x5D, "asciicircum": 0x5E,
    "underscore": 0x5F, "grave": 0x60, "braceleft": 0x7B, "bar": 0x7C,
    "braceright": 0x7D, "asciitilde": 0x7E,
    "quoteleft": 0x2018, "quoteright": 0x2019, "quotedblleft": 0x201C,
    "quotedblright": 0x201D, "quotesinglbase": 0x201A,
    "quotedblbase": 0x201E, "endash": 0x2013, "emdash": 0x2014,
    "bullet": 0x2022, "dagger": 0x2020, "daggerdbl": 0x2021,
    "ellipsis": 0x2026, "perthousand": 0x2030, "guilsinglleft": 0x2039,
    "guilsinglright": 0x203A, "fraction": 0x2044, "florin": 0x192,
    "circumflex": 0x2C6, "tilde": 0x2DC, "breve": 0x2D8,
    "dotaccent": 0x2D9, "ring": 0x2DA, "ogonek": 0x2DB, "caron": 0x2C7,
    "hungarumlaut": 0x2DD, "cedilla": 0xB8, "dieresis": 0xA8,
    "macron": 0xAF, "acute": 0xB4, "exclamdown": 0xA1, "cent": 0xA2,
    "sterling": 0xA3, "currency": 0xA4, "yen": 0xA5, "brokenbar": 0xA6,
    "section": 0xA7, "copyright": 0xA9, "ordfeminine": 0xAA,
    "guillemotleft": 0xAB, "logicalnot": 0xAC, "registered": 0xAE,
    "degree": 0xB0, "plusminus": 0xB1, "twosuperior": 0xB2,
    "threesuperior": 0xB3, "mu": 0xB5, "paragraph": 0xB6,
    "periodcentered": 0xB7, "onesuperior": 0xB9, "ordmasculine": 0xBA,
    "guillemotright": 0xBB, "onequarter": 0xBC, "onehalf": 0xBD,
    "threequarters": 0xBE, "questiondown": 0xBF, "multiply": 0xD7,
    "divide": 0xF7, "fi": 0xFB01, "fl": 0xFB02, "ff": 0xFB00,
    "ffi": 0xFB03, "ffl": 0xFB04, "oe": 0x153, "OE": 0x152,
    "ae": 0xE6, "AE": 0xC6, "oslash": 0xF8, "Oslash": 0xD8,
    "germandbls": 0xDF, "dotlessi": 0x131, "lslash": 0x142,
    "Lslash": 0x141, "eth": 0xF0, "Eth": 0xD0, "thorn": 0xFE,
    "Thorn": 0xDE, "minus": 0x2212, "trademark": 0x2122, "Euro": 0x20AC,
    "Delta": 0x2206, "Omega": 0x2126, "pi": 0x3C0, "summation": 0x2211,
    "radical": 0x221A, "infinity": 0x221E, "integral": 0x222B,
    "approxequal": 0x2248, "notequal": 0x2260, "lessequal": 0x2264,
    "greaterequal": 0x2265, "partialdiff": 0x2202, "lozenge": 0x25CA,
    "nbspace": 0xA0, "softhyphen": 0xAD, "middot": 0xB7,
    "sfthyphen": 0xAD, "Adieresis": 0xC4, "Odieresis": 0xD6,
    "Udieresis": 0xDC, "adieresis": 0xE4, "odieresis": 0xF6,
    "udieresis": 0xFC, "Aring": 0xC5, "aring": 0xE5,
    "Ccedilla": 0xC7, "ccedilla": 0xE7, "Ntilde": 0xD1, "ntilde": 0xF1,
}
# single letters + accented-latin pattern names (Aacute, egrave, ...)
_ACCENTS = {"acute": 0x301, "grave": 0x300, "circumflex": 0x302,
            "tilde": 0x303, "dieresis": 0x308, "ring": 0x30A,
            "cedilla": 0x327, "macron": 0x304, "breve": 0x306,
            "caron": 0x30C, "hungarumlaut": 0x30B, "ogonek": 0x328,
            "dotaccent": 0x307, "slash": 0x338}

_UNI_RE = re.compile(r"^uni([0-9A-Fa-f]{4,6})$")
_U_RE = re.compile(r"^u([0-9A-Fa-f]{4,6})$")
_GXX_RE = re.compile(r"^(?:g|G|cid|c|glyph)(\d+)$")


def glyph_name_to_unicode(name: str) -> str | None:
    if len(name) == 1:
        return name
    cp = _AGL.get(name)
    if cp is not None:
        return chr(cp)
    m = _UNI_RE.match(name) or _U_RE.match(name)
    if m:
        try:
            return chr(int(m.group(1), 16))
        except ValueError:
            return None
    # composed accent names: base letter + combining accent, NFC'd
    for acc, comb in _ACCENTS.items():
        if name.endswith(acc) and len(name) - len(acc) == 1:
            base = name[:1]
            if base.isalpha():
                return unicodedata.normalize("NFC", base + chr(comb))
    if _GXX_RE.match(name):
        return None  # unmapped glyph id
    return None


# WinAnsiEncoding's non-latin-1 slots (0x80-0x9F region; public table).
_WINANSI_HIGH = {
    0x80: 0x20AC, 0x82: 0x201A, 0x83: 0x192, 0x84: 0x201E, 0x85: 0x2026,
    0x86: 0x2020, 0x87: 0x2021, 0x88: 0x2C6, 0x89: 0x2030, 0x8A: 0x160,
    0x8B: 0x2039, 0x8C: 0x152, 0x8E: 0x17D, 0x91: 0x2018, 0x92: 0x2019,
    0x93: 0x201C, 0x94: 0x201D, 0x95: 0x2022, 0x96: 0x2013, 0x97: 0x2014,
    0x98: 0x2DC, 0x99: 0x2122, 0x9A: 0x161, 0x9B: 0x203A, 0x9C: 0x153,
    0x9E: 0x17E, 0x9F: 0x178,
}

# StandardEncoding slots that differ from ASCII/latin-1 (public table).
_STANDARD_HIGH = {
    0x27: 0x2019, 0x60: 0x2018,
    0xA1: 0xA1, 0xA2: 0xA2, 0xA3: 0xA3, 0xA4: 0x2044, 0xA5: 0xA5,
    0xA6: 0x192, 0xA7: 0xA7, 0xA8: 0xA4, 0xA9: 0x27, 0xAA: 0x201C,
    0xAB: 0xAB, 0xAC: 0x2039, 0xAD: 0x203A, 0xAE: 0xFB01, 0xAF: 0xFB02,
    0xB1: 0x2013, 0xB2: 0x2020, 0xB3: 0x2021, 0xB4: 0xB7, 0xB6: 0xB6,
    0xB7: 0x2022, 0xB8: 0x201A, 0xB9: 0x201E, 0xBA: 0x201D, 0xBB: 0xBB,
    0xBC: 0x2026, 0xBD: 0x2030, 0xBF: 0xBF, 0xC1: 0x60, 0xC2: 0xB4,
    0xC3: 0x2C6, 0xC4: 0x2DC, 0xC5: 0xAF, 0xC6: 0x2D8, 0xC7: 0x2D9,
    0xC8: 0xA8, 0xCA: 0x2DA, 0xCB: 0xB8, 0xCD: 0x2DD, 0xCE: 0x2DB,
    0xCF: 0x2C7, 0xD0: 0x2014, 0xE1: 0xC6, 0xE3: 0xAA, 0xE8: 0x141,
    0xE9: 0xD8, 0xEA: 0x152, 0xEB: 0xBA, 0xF1: 0xE6, 0xF5: 0x131,
    0xF8: 0x142, 0xF9: 0xF8, 0xFA: 0x153, 0xFB: 0xDF,
}

# MacRomanEncoding high slots (public table).
_MACROMAN_HIGH = {
    0x80: 0xC4, 0x81: 0xC5, 0x82: 0xC7, 0x83: 0xC9, 0x84: 0xD1,
    0x85: 0xD6, 0x86: 0xDC, 0x87: 0xE1, 0x88: 0xE0, 0x89: 0xE2,
    0x8A: 0xE4, 0x8B: 0xE3, 0x8C: 0xE5, 0x8D: 0xE7, 0x8E: 0xE9,
    0x8F: 0xE8, 0x90: 0xEA, 0x91: 0xEB, 0x92: 0xED, 0x93: 0xEC,
    0x94: 0xEE, 0x95: 0xEF, 0x96: 0xF1, 0x97: 0xF3, 0x98: 0xF2,
    0x99: 0xF4, 0x9A: 0xF6, 0x9B: 0xF5, 0x9C: 0xFA, 0x9D: 0xF9,
    0x9E: 0xFB, 0x9F: 0xFC, 0xA0: 0x2020, 0xA1: 0xB0, 0xA2: 0xA2,
    0xA3: 0xA3, 0xA4: 0xA7, 0xA5: 0x2022, 0xA6: 0xB6, 0xA7: 0xDF,
    0xA8: 0xAE, 0xA9: 0xA9, 0xAA: 0x2122, 0xAB: 0xB4, 0xAC: 0xA8,
    0xAD: 0x2260, 0xAE: 0xC6, 0xAF: 0xD8, 0xB0: 0x221E, 0xB1: 0xB1,
    0xB2: 0x2264, 0xB3: 0x2265, 0xB4: 0xA5, 0xB5: 0xB5, 0xB6: 0x2202,
    0xB7: 0x2211, 0xB8: 0x220F, 0xB9: 0x3C0, 0xBA: 0x222B, 0xBB: 0xAA,
    0xBC: 0xBA, 0xBD: 0x2126, 0xBE: 0xE6, 0xBF: 0xF8, 0xC0: 0xBF,
    0xC1: 0xA1, 0xC2: 0xAC, 0xC3: 0x221A, 0xC4: 0x192, 0xC5: 0x2248,
    0xC6: 0x2206, 0xC7: 0xAB, 0xC8: 0xBB, 0xC9: 0x2026, 0xCA: 0xA0,
    0xCB: 0xC0, 0xCC: 0xC3, 0xCD: 0xD5, 0xCE: 0x152, 0xCF: 0x153,
    0xD0: 0x2013, 0xD1: 0x2014, 0xD2: 0x201C, 0xD3: 0x201D,
    0xD4: 0x2018, 0xD5: 0x2019, 0xD6: 0xF7, 0xD7: 0x25CA, 0xD8: 0xFF,
    0xD9: 0x178, 0xDA: 0x2044, 0xDB: 0x20AC, 0xDC: 0x2039, 0xDD: 0x203A,
    0xDE: 0xFB01, 0xDF: 0xFB02, 0xE0: 0x2021, 0xE1: 0xB7, 0xE2: 0x201A,
    0xE3: 0x201E, 0xE4: 0x2030, 0xE5: 0xC2, 0xE6: 0xCA, 0xE7: 0xC1,
    0xE8: 0xCB, 0xE9: 0xC8, 0xEA: 0xCD, 0xEB: 0xCE, 0xEC: 0xCF,
    0xED: 0xCC, 0xEE: 0xD3, 0xEF: 0xD4, 0xF1: 0xD2, 0xF2: 0xDA,
    0xF3: 0xDB, 0xF4: 0xD9, 0xF5: 0x131, 0xF6: 0x2C6, 0xF7: 0x2DC,
    0xF8: 0xAF, 0xF9: 0x2D8, 0xFA: 0x2D9, 0xFB: 0x2DA, 0xFC: 0xB8,
    0xFD: 0x2DD, 0xFE: 0x2DB, 0xFF: 0x2C7,
}


def _base_encoding_map(name: str | None, is_symbolic: bool) -> dict:
    enc = {}
    for c in range(0x20, 0x7F):
        enc[c] = chr(c)
    if name == "MacRomanEncoding":
        for c, u in _MACROMAN_HIGH.items():
            enc[c] = chr(u)
    elif name == "StandardEncoding" or (name is None and not is_symbolic):
        for c in range(0xA0, 0x100):
            enc.setdefault(c, chr(c))
        if name == "StandardEncoding":
            for c, u in _STANDARD_HIGH.items():
                enc[c] = chr(u)
    if name in ("WinAnsiEncoding", None):
        for c in range(0xA0, 0x100):
            enc[c] = chr(c)
        for c, u in _WINANSI_HIGH.items():
            enc[c] = chr(u)
    return enc


# Standard-14 ASCII advance widths (public Adobe AFM data), /1000 units.
# Helvetica == Arial metrics; Times-Roman; Courier is monospace 600.
_HELV_W = [278, 278, 355, 556, 556, 889, 667, 191, 333, 333, 389, 584, 278,
           333, 278, 278, 556, 556, 556, 556, 556, 556, 556, 556, 556, 556,
           278, 278, 584, 584, 584, 556, 1015, 667, 667, 722, 722, 667, 611,
           778, 722, 278, 500, 667, 556, 833, 722, 778, 667, 778, 722, 667,
           611, 722, 667, 944, 667, 667, 611, 278, 278, 278, 469, 556, 333,
           556, 556, 500, 556, 556, 278, 556, 556, 222, 222, 500, 222, 833,
           556, 556, 556, 556, 333, 500, 278, 556, 500, 722, 500, 500, 500,
           334, 260, 334, 584]
_TIMES_W = [250, 333, 408, 500, 500, 833, 778, 180, 333, 333, 500, 564, 250,
            333, 250, 278, 500, 500, 500, 500, 500, 500, 500, 500, 500, 500,
            278, 278, 564, 564, 564, 444, 921, 722, 667, 667, 722, 611, 556,
            722, 722, 333, 389, 722, 611, 889, 722, 722, 556, 722, 667, 556,
            611, 722, 722, 944, 722, 722, 611, 333, 278, 333, 469, 500, 333,
            444, 500, 444, 500, 444, 333, 500, 500, 278, 278, 500, 278, 778,
            500, 500, 500, 500, 333, 389, 278, 500, 500, 722, 500, 500, 444,
            480, 200, 480, 541]


def _std14_width(base_font: str):
    bf = (base_font or "").lower()
    if "courier" in bf or "mono" in bf:
        return lambda c: 600.0
    table = _HELV_W if ("helvetica" in bf or "arial" in bf) else _TIMES_W

    def width(code: int) -> float:
        if 0x20 <= code <= 0x7E:
            return float(table[code - 0x20])
        return 500.0
    return width


_CMAP_BFCHAR = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_CMAP_BFRANGE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CMAP_HEX = re.compile(rb"<([0-9A-Fa-f]+)>")
_CMAP_CODESPACE = re.compile(rb"begincodespacerange(.*?)endcodespacerange",
                             re.S)


def _utf16be(hexstr: bytes) -> str:
    raw = bytes.fromhex(hexstr.decode("ascii"))
    if len(raw) % 2:
        raw += b"\x00"
    return raw.decode("utf-16-be", "replace")


def parse_tounicode(data: bytes) -> dict[int, str]:
    """bfchar/bfrange sections of a ToUnicode CMap -> code->str map."""
    out: dict[int, str] = {}
    for m in _CMAP_BFCHAR.finditer(data):
        toks = _CMAP_HEX.findall(m.group(1))
        for i in range(0, len(toks) - 1, 2):
            out[int(toks[i], 16)] = _utf16be(toks[i + 1])
    for m in _CMAP_BFRANGE.finditer(data):
        body = m.group(1)
        lex = Lexer(body, 0)
        while True:
            lex.skip_ws()
            if lex.pos >= len(body):
                break
            try:
                lo = lex.read_object()
                hi = lex.read_object()
                dst = lex.read_object()
            except (PdfError, IndexError):
                break
            if not (isinstance(lo, bytes) and isinstance(hi, bytes)):
                break
            lo_i = int.from_bytes(lo, "big")
            hi_i = int.from_bytes(hi, "big")
            if hi_i - lo_i > 65535:
                break
            if isinstance(dst, bytes):
                base_raw = dst
                if len(base_raw) % 2:
                    base_raw += b"\x00"
                if len(base_raw) == 2:
                    base = int.from_bytes(base_raw, "big")
                    for c in range(lo_i, hi_i + 1):
                        out[c] = chr(base + (c - lo_i))
                else:
                    # multi-char target: only the LAST code unit increments
                    txt = base_raw.decode("utf-16-be", "replace")
                    for c in range(lo_i, hi_i + 1):
                        if txt:
                            out[c] = txt[:-1] + chr(ord(txt[-1]) + c - lo_i)
            elif isinstance(dst, list):
                for k, c in enumerate(range(lo_i, hi_i + 1)):
                    if k < len(dst) and isinstance(dst[k], bytes):
                        raw = dst[k]
                        if len(raw) % 2:
                            raw += b"\x00"
                        out[c] = raw.decode("utf-16-be", "replace")
    return out


def parse_codespace_nbytes(data: bytes) -> int:
    """Dominant code width (in bytes) from codespacerange; default 2."""
    for m in _CMAP_CODESPACE.finditer(data):
        toks = _CMAP_HEX.findall(m.group(1))
        if toks:
            return max(1, len(toks[0]) // 2)
    return 2


class Font:
    """Decoded view of one PDF font resource."""

    __slots__ = ("name", "is_cid", "code_bytes", "widths", "default_width",
                 "to_unicode", "encoding", "base_font", "space_code", "bold",
                 "mono", "italic", "width_fallback", "ascent", "descent",
                 "ink", "cff", "cap_em", "desc_scaled_em")

    def __init__(self):
        self.name = ""
        self.base_font = ""
        self.bold = False
        self.italic = False
        # line-box metrics in em (FontDescriptor Ascent/Descent /1000);
        # defaults match the old 0.8/-0.2 approximation
        self.ascent = 0.8
        self.descent = -0.2
        # per-glyph outline-extent oracle (embedded TrueType), or None
        self.ink = None
        # reference textline vertical extents (docling-parse v4 parity,
        # verified against every groundtruth fixture to 0.01 pt):
        #   top    = baseline + CapHeight/1000 * size
        #   bottom = baseline + Descent/1000 * (CapHeight/Ascent) * size
        # i.e. the declared ascent/descent box rescaled so the ascent
        # equals the cap height. None when the descriptor has no usable
        # /CapHeight (fall back to ink boxes / line metrics).
        self.cap_em = None
        self.desc_scaled_em = None
        # CFF charstring-length probe (has_outline only), or None
        self.cff = None
        self.mono = False
        self.is_cid = False
        self.code_bytes = 1
        self.widths: dict[int, float] = {}
        self.default_width = 500.0
        self.to_unicode: dict[int, str] = {}
        self.encoding: dict[int, str] = {}
        self.space_code = 32
        # Standard-14 metric function used when the font dict ships no
        # /Widths array (bare /BaseFont /Helvetica etc.) — can't be a bound
        # method rebind because of __slots__.
        self.width_fallback = None

    def ink_box(self, code: int, u: str):
        """Outline bbox of a glyph in em units, or None (no embedded
        TrueType / no outline). Falls back to a unicode lookup for
        simple fonts whose subset cmap is unicode-keyed, and to a raw
        gid lookup when the glyph name itself is a gNN subset id."""
        o = self.ink
        if o is None or not o.ok:
            return None
        box = o.ink(code)
        if box is None and not o.by_gid and u and len(u) == 1:
            box = o.ink(ord(u))
        if box is None and u.startswith("/g") and u[2:].isdigit():
            box = o.ink_gid(int(u[2:]))
        return box

    def width(self, code: int) -> float:
        w = self.widths.get(code)
        if w is not None:
            return w
        if self.width_fallback is not None:
            return self.width_fallback(code)
        return self.default_width

    def codes(self, raw: bytes):
        """Yield integer character codes from a show-string."""
        if self.code_bytes == 1:
            yield from raw
        else:
            n = self.code_bytes
            for i in range(0, len(raw) - n + 1, n):
                yield int.from_bytes(raw[i:i + n], "big")

    def unicode(self, code: int) -> str:
        # control-range codes in simple fonts have no real glyph slot:
        # docling-parse resolves the font-internal name (.notdef) and
        # emits it slash-prefixed, ignoring a stray ToUnicode entry
        # (groundtruth "/.notdefThere is no such limitation")
        if (not self.is_cid and 0 < code < 0x20
                and code not in self.encoding):
            return "/.notdef"
        # an explicit Differences entry naming .notdef also wins over a
        # stray ToUnicode mapping (table_mislabeled: code 31 -> .notdef
        # with ToUnicode U+2010; groundtruth keeps "/.notdef")
        if self.encoding.get(code) == "/.notdef":
            return "/.notdef"
        u = self.to_unicode.get(code)
        if u is not None:
            return u
        u = self.encoding.get(code)
        if u is not None:
            return u
        if self.code_bytes == 1 and 0x20 <= code <= 0x7E:
            return chr(code)
        return "�"


def _absorb_metrics(f: Font, descr, r) -> None:
    if not isinstance(descr, dict):
        return
    a = r(descr.get("Ascent"))
    d = r(descr.get("Descent"))
    if isinstance(a, (int, float)) and a > 0:
        f.ascent = float(a) / 1000.0
    if isinstance(d, (int, float)) and d < 0:
        f.descent = float(d) / 1000.0
    cap = r(descr.get("CapHeight"))
    if isinstance(cap, (int, float)) and cap > 0:
        f.cap_em = float(cap) / 1000.0
        scale = (f.cap_em / f.ascent) if f.ascent > 0 else 1.0
        f.desc_scaled_em = f.descent * scale


# Standard-14 vertical metrics (public AFM data): ascender/descender /1000.
_STD14_METRICS = {
    "times": (0.683, -0.217), "helvetica": (0.718, -0.207),
    "arial": (0.718, -0.207), "courier": (0.629, -0.157),
    "symbol": (0.8, -0.2), "zapf": (0.8, -0.2),
}


def load_font(doc: PdfDocument, font_dict: dict) -> Font:
    r = doc.resolve
    f = Font()
    fd = r(font_dict)
    if not isinstance(fd, dict):
        return f
    f.base_font = str(r(fd.get("BaseFont")) or "")
    bf_low = f.base_font.lower()
    f.italic = "italic" in bf_low or "oblique" in bf_low
    f.bold = ("bold" in bf_low or "black" in bf_low or "heavy" in bf_low
              or bf_low.endswith("-bd")
              # TeX Computer Modern family: cmbx/sfbx/lmbx = bold extended
              or bool(re.search(r"bx\d", bf_low))
              or "demibold" in bf_low or "semibold" in bf_low)
    f.mono = ("courier" in bf_low or "mono" in bf_low
              or "consol" in bf_low
              # TeX typewriter: cmtt/sftt/lmtt
              or bool(re.search(r"tt\d", bf_low)))
    subtype = r(fd.get("Subtype"))

    tu = r(fd.get("ToUnicode"))
    if isinstance(tu, Stream):
        try:
            f.to_unicode = parse_tounicode(decode_stream(tu, r))
        except (PdfError, ValueError):
            f.to_unicode = {}

    if subtype == "Type0":
        f.is_cid = True
        enc = r(fd.get("Encoding"))
        if isinstance(enc, Stream):
            data = decode_stream(enc, r)
            f.code_bytes = parse_codespace_nbytes(data)
        else:
            f.code_bytes = 2  # Identity-H / Identity-V / standard CMaps
        desc = r(fd.get("DescendantFonts"))
        if isinstance(desc, list) and desc:
            d0 = r(desc[0])
            if isinstance(d0, dict):
                f.default_width = float(r(d0.get("DW", 1000)) or 1000)
                warr = r(d0.get("W"))
                if isinstance(warr, list):
                    _parse_cid_widths(warr, r, f.widths)
                dd = r(d0.get("FontDescriptor"))
                _absorb_metrics(f, dd, r)
                if isinstance(dd, dict) and dd.get("FontFile2") is not None:
                    try:
                        prog = decode_stream(r(dd.get("FontFile2")), r)
                        c2g = r(d0.get("CIDToGIDMap"))
                        gm = (decode_stream(c2g, r)
                              if isinstance(c2g, Stream) else None)
                        ink = _cached_font_ink("tt_gid", prog, gm)
                        if ink.ok:
                            f.ink = ink
                    except (PdfError, OSError, ValueError):
                        pass
        f.space_code = -1  # Tw only applies to 1-byte code 32 per spec
        return f

    # simple font
    first = int(r(fd.get("FirstChar", 0)) or 0)
    widths = r(fd.get("Widths"))
    if isinstance(widths, list):
        for i, w in enumerate(widths):
            w = r(w)
            if isinstance(w, (int, float)):
                f.widths[first + i] = float(w)
    descr = r(fd.get("FontDescriptor"))
    _absorb_metrics(f, descr, r)
    if isinstance(descr, dict) and descr.get("FontFile2") is not None:
        try:
            prog = decode_stream(r(descr.get("FontFile2")), r)
            ink = _cached_font_ink("tt", prog)
            if ink.ok:
                f.ink = ink
        except (PdfError, OSError, ValueError):
            pass
    elif isinstance(descr, dict) and descr.get("FontFile3") is not None:
        try:
            prog = decode_stream(r(descr.get("FontFile3")), r)
            cff = _cached_font_ink("cff", prog)
            if cff.ok:
                f.cff = cff
        except (PdfError, OSError, ValueError):
            pass
    flags = 0
    if isinstance(descr, dict):
        mw = r(descr.get("MissingWidth"))
        if isinstance(mw, (int, float)):
            f.default_width = float(mw)
        flags = int(r(descr.get("Flags", 0)) or 0)
        if flags & (1 << 18):  # ForceBold
            f.bold = True
        if flags & 1:  # FixedPitch
            f.mono = True
        sv = r(descr.get("StemV"))
        if isinstance(sv, (int, float)) and sv >= 140:
            f.bold = True
    is_symbolic = bool(flags & 4) and not bool(flags & 32)

    enc = r(fd.get("Encoding"))
    base_name = None
    diffs = None
    if isinstance(enc, Name):
        base_name = str(enc)
    elif isinstance(enc, dict):
        be = r(enc.get("BaseEncoding"))
        base_name = str(be) if isinstance(be, Name) else None
        diffs = r(enc.get("Differences"))
    f.encoding = _base_encoding_map(base_name, is_symbolic)
    if isinstance(diffs, list):
        code = 0
        for item in diffs:
            item = r(item)
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, Name):
                u = glyph_name_to_unicode(str(item))
                if u is not None:
                    f.encoding[code] = u
                else:
                    # unresolvable glyph name (subset gNN ids): the
                    # reference extractor emits the slash-prefixed name
                    # itself (groundtruth "/g115/g3 /g40...")
                    f.encoding[code] = f"/{item}"
                code += 1
    if not f.widths:
        f.widths = {}
        f.width_fallback = _std14_width(f.base_font)
    if not isinstance(descr, dict):
        low = f.base_font.lower()
        for key, (a, d) in _STD14_METRICS.items():
            if key in low:
                f.ascent, f.descent = a, d
                break
    return f


def _parse_cid_widths(warr: list, r, out: dict[int, float]):
    i = 0
    n = len(warr)
    while i < n:
        c1 = r(warr[i])
        if not isinstance(c1, (int, float)):
            break
        if i + 1 < n and isinstance(r(warr[i + 1]), list):
            for k, w in enumerate(r(warr[i + 1])):
                w = r(w)
                if isinstance(w, (int, float)):
                    out[int(c1) + k] = float(w)
            i += 2
        elif i + 2 < n:
            c2 = r(warr[i + 1])
            w = r(warr[i + 2])
            if isinstance(c2, (int, float)) and isinstance(w, (int, float)):
                span = int(c2) - int(c1)
                if 0 <= span <= 65535:
                    for c in range(int(c1), int(c2) + 1):
                        out[c] = float(w)
            i += 3
        else:
            break


# ----------------------------------------------------------- interpreter

def _mat_mul(a, b):
    return (a[0] * b[0] + a[1] * b[2],
            a[0] * b[1] + a[1] * b[3],
            a[2] * b[0] + a[3] * b[2],
            a[2] * b[1] + a[3] * b[3],
            a[4] * b[0] + a[5] * b[2] + b[4],
            a[4] * b[1] + a[5] * b[3] + b[5])


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


class PdfTextExtractor:
    """Runs page content streams, emitting positioned glyphs.

    Glyph tuple: (x, y, w, size, text) in device space, y-up (PDF user
    space); the cell builder flips to top-left origin at the end.
    """

    def __init__(self, doc: PdfDocument, max_form_depth: int = 8):
        self.doc = doc
        self.max_form_depth = max_form_depth
        self._font_cache: dict[int, Font] = {}
        # device-space pen position after the previous show op: a
        # whitespace-only show that continues the pen exactly merges
        # into the previous cell (its rect is trimmed); one that starts
        # after a kern/reposition jump is its own cell (rect kept)
        self._pen: tuple | None = None

    # -- fonts per resource dict
    def _font(self, resources: dict, name: str) -> Font:
        r = self.doc.resolve
        fonts = r(resources.get("Font")) if resources else None
        fd = r(fonts.get(name)) if isinstance(fonts, dict) else None
        if fd is None:
            return Font()
        key = id(fd)
        got = self._font_cache.get(key)
        if got is None:
            got = load_font(self.doc, fd)
            self._font_cache[key] = got
        return got

    def page_glyphs(self, page: dict) -> list[tuple]:
        glyphs, _ = self.page_glyphs_and_images(page)
        return glyphs

    def page_glyphs_and_images(self, page: dict):
        """-> (glyphs, images); each image is a device-space rect
        (x0, y0, x1, y1) of a drawn Image XObject (bitmap_resources in
        docling-parse terms)."""
        content = self.doc.page_content(page)
        resources = self.doc.resolve(page.get("Resources")) or {}
        glyphs: list[tuple] = []
        images: list[tuple] = []
        self._run(content, resources, _ID, glyphs, 0, images)
        return glyphs, images

    def page_glyphs_images_paths(self, page: dict):
        """-> (glyphs, images, paths); paths are device-space bboxes
        (x0, y0, x1, y1) of PAINTED vector paths (stroked or filled) -
        table rule lines, separators, boxes. Clip-only paths (W .. n)
        are excluded."""
        content = self.doc.page_content(page)
        resources = self.doc.resolve(page.get("Resources")) or {}
        glyphs: list[tuple] = []
        images: list[tuple] = []
        paths: list[tuple] = []
        self._run(content, resources, _ID, glyphs, 0, images, paths)
        return glyphs, images, paths

    def _run(self, content: bytes, resources: dict, base_ctm,
             glyphs: list, depth: int, images: list | None = None,
             paths: list | None = None):
        r = self.doc.resolve
        lex = Lexer(content, 0, refs=False)
        stack: list = []
        ctm = base_ctm
        gstack: list = []
        ppts: list = []  # current-path device-space points (paths mode)
        lw = 1.0         # line width (PDF default)
        # text state
        font = Font()
        tfs = 0.0
        tc = 0.0
        tw = 0.0
        th = 1.0
        tl = 0.0
        ts = 0.0
        tmode = 0
        tm = _ID
        tlm = _ID
        n = len(content)
        while lex.pos < n:
            lex.skip_ws()
            if lex.pos >= n:
                break
            c = content[lex.pos]
            if (0x30 <= c <= 0x39) or c in (0x2B, 0x2D, 0x2E):
                # number fast path: content streams never hold indirect
                # refs, so skip read_object's regex + "INT INT R"
                # lookahead (the hottest token class by far)
                tok = lex.read_token()
                try:
                    stack.append(float(tok) if b"." in tok
                                 else int(tok))
                except ValueError:
                    stack.append(tok)  # malformed numeric-ish keyword
                continue
            if c in b"/([<" or c == 0x5B:
                try:
                    stack.append(lex.read_object())
                except PdfError:
                    lex.pos += 1
                continue
            op = lex.read_token()
            if not op:
                lex.pos += 1
                continue
            try:
                if op == b"BT":
                    tm = tlm = _ID
                elif op == b"ET":
                    pass
                elif op == b"Tf" and len(stack) >= 2:
                    tfs = float(stack[-1])
                    font = self._font(resources, str(stack[-2]))
                elif op == b"Td" and len(stack) >= 2:
                    tlm = _mat_mul((1, 0, 0, 1,
                                    float(stack[-2]), float(stack[-1])), tlm)
                    tm = tlm
                elif op == b"TD" and len(stack) >= 2:
                    tl = -float(stack[-1])
                    tlm = _mat_mul((1, 0, 0, 1,
                                    float(stack[-2]), float(stack[-1])), tlm)
                    tm = tlm
                elif op == b"Tm" and len(stack) >= 6:
                    tm = tlm = tuple(float(x) for x in stack[-6:])
                elif op == b"T*":
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                elif op == b"TL" and stack:
                    tl = float(stack[-1])
                elif op == b"Tc" and stack:
                    tc = float(stack[-1])
                elif op == b"Tw" and stack:
                    tw = float(stack[-1])
                elif op == b"Tz" and stack:
                    th = float(stack[-1]) / 100.0
                elif op == b"Ts" and stack:
                    ts = float(stack[-1])
                elif op == b"Tr" and stack:
                    tmode = int(stack[-1])
                elif op == b"Tj" and stack:
                    tm = self._show(stack[-1], font, tfs, tc, tw, th, ts,
                                    tm, ctm, tmode, glyphs)
                elif op == b"'" and stack:
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                    tm = self._show(stack[-1], font, tfs, tc, tw, th, ts,
                                    tm, ctm, tmode, glyphs)
                    tlm = tlm
                elif op == b'"' and len(stack) >= 3:
                    tw = float(stack[-3])
                    tc = float(stack[-2])
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                    tm = self._show(stack[-1], font, tfs, tc, tw, th, ts,
                                    tm, ctm, tmode, glyphs)
                elif op == b"TJ" and stack and isinstance(stack[-1], list):
                    for el in stack[-1]:
                        if isinstance(el, bytes):
                            tm = self._show(el, font, tfs, tc, tw, th, ts,
                                            tm, ctm, tmode, glyphs)
                        elif isinstance(el, (int, float)):
                            tx = -el / 1000.0 * tfs * th
                            tm = _mat_mul((1, 0, 0, 1, tx, 0.0), tm)
                elif op == b"cm" and len(stack) >= 6:
                    ctm = _mat_mul(tuple(float(x) for x in stack[-6:]), ctm)
                elif op == b"q":
                    gstack.append(ctm)
                elif op == b"Q":
                    if gstack:
                        ctm = gstack.pop()
                elif paths is not None and op in (b"m", b"l") \
                        and len(stack) >= 2:
                    x, y = float(stack[-2]), float(stack[-1])
                    ppts.append((x * ctm[0] + y * ctm[2] + ctm[4],
                                 x * ctm[1] + y * ctm[3] + ctm[5]))
                elif paths is not None and op == b"c" and len(stack) >= 6:
                    for i in (-6, -4, -2):  # controls bound the curve
                        x, y = float(stack[i]), float(stack[i + 1])
                        ppts.append((x * ctm[0] + y * ctm[2] + ctm[4],
                                     x * ctm[1] + y * ctm[3] + ctm[5]))
                elif paths is not None and op in (b"v", b"y") \
                        and len(stack) >= 4:
                    for i in (-4, -2):
                        x, y = float(stack[i]), float(stack[i + 1])
                        ppts.append((x * ctm[0] + y * ctm[2] + ctm[4],
                                     x * ctm[1] + y * ctm[3] + ctm[5]))
                elif paths is not None and op == b"re" and len(stack) >= 4:
                    x, y, w_, h_ = (float(v) for v in stack[-4:])
                    for px_, py_ in ((x, y), (x + w_, y), (x, y + h_),
                                     (x + w_, y + h_)):
                        ppts.append((px_ * ctm[0] + py_ * ctm[2] + ctm[4],
                                     px_ * ctm[1] + py_ * ctm[3] + ctm[5]))
                elif paths is not None and op == b"w" and stack:
                    lw = float(stack[-1])
                elif paths is not None and op in (
                        b"S", b"s", b"f", b"F", b"f*", b"B", b"B*",
                        b"b", b"b*"):
                    if ppts:
                        xs = [p[0] for p in ppts]
                        ys = [p[1] for p in ppts]
                        # stroked paths paint half the (CTM-scaled)
                        # line width beyond the path geometry
                        half = 0.0
                        if op not in (b"f", b"F", b"f*"):
                            sx = (ctm[0] ** 2 + ctm[1] ** 2) ** 0.5
                            half = lw * sx / 2.0
                        paths.append((min(xs) - half, min(ys) - half,
                                      max(xs) + half, max(ys) + half))
                    ppts = []
                elif paths is not None and op == b"n":
                    ppts = []  # clip-only path: no paint, no geometry
                elif op == b"Do" and stack and depth < self.max_form_depth:
                    self._do_xobject(str(stack[-1]), resources, ctm,
                                     glyphs, depth, images, paths)
                elif op == b"BI":
                    # inline image: skip to EI at whitespace boundary
                    m = re.compile(rb"\sEI[\s\x00]").search(
                        content, lex.pos)
                    lex.pos = m.end() if m else n
                elif op == b"gs" and stack:
                    pass  # ExtGState: text knockout etc. - no text effect
            except (ValueError, TypeError, KeyError, IndexError):
                pass
            stack.clear()

    def _do_xobject(self, name, resources, ctm, glyphs, depth,
                    images=None, paths=None):
        r = self.doc.resolve
        xobjs = r(resources.get("XObject")) if resources else None
        xo = r(xobjs.get(name)) if isinstance(xobjs, dict) else None
        if not isinstance(xo, Stream):
            return
        subtype = r(xo.dict.get("Subtype"))
        if subtype == "Image":
            if images is not None:
                # image space unit square through the CTM
                xs = (ctm[4], ctm[0] + ctm[4], ctm[2] + ctm[4],
                      ctm[0] + ctm[2] + ctm[4])
                ys = (ctm[5], ctm[1] + ctm[5], ctm[3] + ctm[5],
                      ctm[1] + ctm[3] + ctm[5])
                images.append((min(xs), min(ys), max(xs), max(ys)))
            return
        if subtype != "Form":
            return
        mat = r(xo.dict.get("Matrix"))
        inner = ctm
        if isinstance(mat, list) and len(mat) == 6:
            inner = _mat_mul(tuple(float(r(x)) for x in mat), ctm)
        inner_res = r(xo.dict.get("Resources")) or resources
        try:
            body = decode_stream(xo, r)
        except PdfError:
            return
        self._run(body, inner_res, inner, glyphs, depth + 1, images,
                  paths)

    def _show(self, raw, font: Font, tfs, tc, tw, th, ts, tm, ctm,
              tmode, glyphs: list) -> tuple:
        if not isinstance(raw, bytes) or tfs == 0:
            return tm
        trm_base = _mat_mul(tm, ctm)
        # device-space font size: |(0,tfs)| through the combined matrix
        sy = (trm_base[2] ** 2 + trm_base[3] ** 2) ** 0.5
        size_dev = abs(tfs) * sy
        n_before = len(glyphs)
        for code in font.codes(raw):
            w0 = font.width(code) / 1000.0
            u = font.unicode(code)
            # glyph origin in device space (include rise)
            gx = tm[4] + ts * tm[2] + 0  # rise along y-axis of tm
            gy = tm[5] + ts * tm[3]
            dx = gx * ctm[0] + gy * ctm[2] + ctm[4]
            dy = gx * ctm[1] + gy * ctm[3] + ctm[5]
            sx = (trm_base[0] ** 2 + trm_base[1] ** 2) ** 0.5
            w_dev = w0 * tfs * th * sx
            if u:
                box = font.ink_box(code, u)
                if box is not None:
                    top_em, bot_em, has_ink = box[3], box[1], True
                    ix0, ix1 = box[0], box[2]
                else:
                    top_em, bot_em, has_ink = font.ascent, font.descent, False
                    ix0, ix1 = 0.0, 0.0
                    # CFF probe: a raw-named glyph with a real charstring
                    # is a letter, not this font's empty space glyph
                    if font.cff is not None and u.startswith("/"):
                        has_ink = font.cff.has_outline_name(u[1:])
                if font.cap_em is not None:
                    # reference parity: the cell box uses the declared
                    # CapHeight/scaled-Descent extents, not glyph ink
                    top_em, bot_em = font.cap_em, font.desc_scaled_em
                glyphs.append((dx, dy, w_dev, size_dev, u, font.bold,
                               font.mono, font.italic, top_em, bot_em,
                               has_ink, code, ix0, ix1, False))
            adv = w0 * tfs + tc
            if code == font.space_code:
                adv += tw
            tm = _mat_mul((1, 0, 0, 1, adv * th, 0.0), tm)
        # a whitespace-only show string that does NOT continue the pen
        # exactly is its own textline cell in the reference parser: its
        # advance-rect joins the cluster bbox. Pen-continuous trailing
        # whitespace merges into the previous cell and is trimmed, like
        # whitespace inside a show string (multi_page: the headers'
        # trailing space shows start exactly at the previous show's
        # advance end and the groundtruth rects exclude them).
        if len(glyphs) > n_before and all(
                not g[4].strip() for g in glyphs[n_before:]):
            g0 = glyphs[n_before]
            continues_pen = (
                self._pen is not None
                and abs(g0[0] - self._pen[0]) < 0.03
                and abs(g0[1] - self._pen[1]) < 0.03)
            # flag 2 = merged-and-trimmed (contributes text flow but no
            # geometry); True = own cell (advance rect joins the bbox)
            flag = 2 if continues_pen else True
            for i in range(n_before, len(glyphs)):
                glyphs[i] = glyphs[i][:14] + (flag,)
        # pen position after this show (device space), for the next call
        gx = tm[4] + ts * tm[2]
        gy = tm[5] + ts * tm[3]
        self._pen = (gx * ctm[0] + gy * ctm[2] + ctm[4],
                     gx * ctm[1] + gy * ctm[3] + ctm[5])
        return tm


# ------------------------------------------------------------ cell layer

class TextCell:
    """One line-level text cell, top-left-origin bbox (docling convention:
    reference ``docling_parse_backend.py:140-146`` flips to top-left)."""

    __slots__ = ("text", "l", "t", "r", "b", "font_size", "bold", "mono",
                 "italic", "col", "ink_t", "ink_b", "ink_l", "ink_r")

    def __init__(self, text, l, t, r, b, font_size, bold=False, mono=False,
                 col=None, italic=False, ink_t=None, ink_b=None,
                 ink_l=None, ink_r=None):
        self.text = text
        self.l = l
        self.t = t
        self.r = r
        self.b = b
        self.font_size = font_size
        self.bold = bold
        self.mono = mono
        self.italic = italic
        self.col = col  # column index when a multi-column page is split
        # glyph-outline vertical extents (reference bbox parity); layout
        # heuristics keep using the stable nominal t/b line box
        self.ink_t = t if ink_t is None else ink_t
        self.ink_b = b if ink_b is None else ink_b
        # horizontal extents excluding leading/trailing whitespace-only
        # glyphs (the reference cell rect spans visible glyph advances)
        self.ink_l = l if ink_l is None else ink_l
        self.ink_r = r if ink_r is None else ink_r

    def to_dict(self) -> dict:
        return {"text": self.text, "l": round(self.l, 3),
                "t": round(self.t, 3), "r": round(self.r, 3),
                "b": round(self.b, 3),
                "font_size": round(self.font_size, 3)}

    def __repr__(self):
        return (f"TextCell({self.text!r}, l={self.l:.1f}, t={self.t:.1f}, "
                f"r={self.r:.1f}, b={self.b:.1f})")


_RTL_RE = re.compile(r"[֐-ࣿיִ-﷿ﹰ-﻿]")
_STRONG_LTR_RE = re.compile(r"[A-Za-zÀ-ɏ]")
# a single glyph unit that belongs to an embedded LTR run inside an
# RTL-dominant line (latin letters, digits, run-internal punctuation)
_LTRISH_RE = re.compile(r"[A-Za-z0-9À-ɏ.,:/+%()\-]+")


def _line_text(run: list[tuple]) -> str:
    """Glyph run (sorted by x) -> text with space insertion on gaps."""
    out = []
    prev_end = None
    sizes = [g[3] for g in run if g[3] > 0]
    size = sorted(sizes)[len(sizes) // 2] if sizes else 10.0
    for (x, y, w, s, u, _bold, _mono, *_it) in run:
        if prev_end is not None:
            gap = x - prev_end
            # no space before closing punctuation (kerned periods after
            # italic runs would otherwise read "alike ." - pdfium emits
            # "alike.")
            # closing punctuation after a kerning gap gets no inserted
            # space - EXCEPT dot leaders (runs of periods), which keep
            # their gaps as spaces ("Notices . . . . vii" in TOCs)
            suppress = (u in ".,;!?)]}"
                        and not (u == "." and out and out[-1] == "."))
            if (gap > max(0.18 * size, 1.0) and out and out[-1] != " "
                    and not suppress):
                out.append(" ")
            elif (gap > 0.12 * size and out and out[-1] == " "
                    and u != " " and not suppress):
                # residual gap AFTER a real space glyph (justified text
                # stretches word gaps): docling-parse emits a second space
                out.append(" ")
        out.append(u)
        if (u.startswith("/") and len(u) > 1
                and len(_it) > 3 and not _it[3]):
            # a raw-named glyph with NO outline is this font's space
            # glyph: the reference emits the name AND the word gap its
            # advance creates ("/g3 " between every word)
            out.append(" ")
        # zero-width combining marks are transparent to the pen (they sit
        # over the previous base and must not fake a gap), while real
        # glyphs reset the end even when narrower than an overlapping
        # predecessor
        if w > 0 or prev_end is None:
            prev_end = x + w
    text = "".join(out)
    # visual -> logical for RTL-dominant lines, at GLYPH granularity
    # (docling-parse applies full bidi): reversing per-glyph UNITS keeps
    # multi-char ToUnicode expansions intact (a lam-alef ligature glyph
    # mapped to two logical chars must not flip internally), then each
    # embedded LTR run (latin words, digits, with interior spaces) is
    # restored to reading order.
    rtl = len(_RTL_RE.findall(text))
    ltr = len(_STRONG_LTR_RE.findall(text))
    if rtl <= ltr or rtl == 0:
        # a space glyph directly before punctuation is dropped (pdfium
        # behavior the groundtruth bakes: "alike ." -> "alike."); applied
        # only on LTR lines - in RTL visual order the rule would eat the
        # inter-sentence space
        cleaned: list[str] = []
        for u in out:
            if u in ".,;:!?" and cleaned and cleaned[-1] == " ":
                cleaned.pop()
            cleaned.append(u)
        out = cleaned
        text = "".join(out)
    if rtl > ltr and rtl > 0:
        units = out[::-1]
        logical: list[str] = []
        i = 0

        def _is_ltr(u: str) -> bool:
            return bool(u) and bool(_LTRISH_RE.fullmatch(u))

        while i < len(units):
            if _is_ltr(units[i]):
                j = i
                while j < len(units) and (
                        _is_ltr(units[j])
                        or (units[j] == " " and j + 1 < len(units)
                            and _is_ltr(units[j + 1]))):
                    j += 1
                logical.extend(units[i:j][::-1])
                i = j
            else:
                logical.append(units[i])
                i += 1
        # combining marks: visually a mark is drawn over the base to its
        # left, so the naive reversal puts it BEFORE the base; logical
        # order is base-then-mark
        k = 0
        while k < len(logical) - 1:
            u, nxt = logical[k], logical[k + 1]
            if (len(u) == 1 and unicodedata.combining(u)
                    and nxt.strip() and not unicodedata.combining(nxt[:1])):
                if nxt == "ء":
                    # isolated hamza cannot carry a mark; docling-parse
                    # keeps the mark as a detached token with spaces
                    logical[k:k + 2] = [nxt, " ", u, " "]
                    k += 4
                else:
                    logical[k], logical[k + 1] = nxt, u
                    k += 2  # mark sits after its base; don't bubble on
            else:
                k += 1
        # bidi neutral resolution: a space is required between an RTL
        # word and an embedded LTR word (pdfium emits one even when the
        # visual space landed on the other side of the run)
        spaced: list[str] = []
        for u in logical:
            if (spaced and spaced[-1] != " " and u != " "
                    and u[:1].isalnum() and spaced[-1][-1:].isalnum()
                    and bool(_RTL_RE.search(u)) != bool(
                        _RTL_RE.search(spaced[-1]))):
                spaced.append(" ")
            spaced.append(u)
        text = "".join(spaced)
    # pdfium maps em-dash to hyphen-minus in extracted text; the reference
    # groundtruth bakes that ("typed content-an"), so the PDF path matches
    return text.replace("\u2014", "-")


def glyphs_to_cells(glyphs: list[tuple], page_height: float,
                    y_tol_frac: float = 0.45,
                    split_gap_em: float = 1.0) -> list[TextCell]:
    """Positioned glyphs -> line cells.

    Two passes: (1) stream-order runs broken on baseline jumps, (2) runs
    merged per baseline band and split on column-sized horizontal gaps -
    handles both PDFs that write text in reading order and ones that
    scatter it.
    """
    vis = [g for g in glyphs if g[4] and g[4] != "�" or g[4] == " "]
    vis = [g for g in vis if g[4].strip() or g[2] > 0]
    if not vis:
        return []
    # band by baseline: sort by y desc (PDF y-up -> top first), then x
    entries = sorted(vis, key=lambda g: (-g[1], g[0]))
    # overlapping duplicate dedup (docling-parse behavior): the same char
    # re-painted with >70% horizontal overlap on one baseline is one glyph
    # (kashida-justified Arabic repeats letterforms with sub-advance
    # steps; steps of >=40% of the advance are distinct stretch copies)
    deduped: list[tuple] = []
    for g in entries:
        if deduped:
            p = deduped[-1]
            if (g[4] == p[4] and abs(g[1] - p[1]) <= 0.5
                    and g[0] < p[0] + 0.3 * max(p[2], 0.0)):
                continue
        deduped.append(g)
    entries = deduped
    bands: list[list[tuple]] = []
    band_sizes: list[float] = []
    for g in entries:
        placed = False
        for bi in range(len(bands) - 1, max(len(bands) - 12, -1), -1):
            band = bands[bi]
            ref = band[0]
            # tolerance scales with the LARGEST glyph in the band, not
            # just the anchor: a superscript fraction numerator may
            # anchor a band that body glyphs then join, and the small
            # denominator must still reach it
            tol = max(y_tol_frac * max(g[3], band_sizes[bi], 1.0), 0.5)
            if abs(g[1] - ref[1]) <= tol:
                band.append(g)
                band_sizes[bi] = max(band_sizes[bi], g[3])
                placed = True
                break
        if not placed:
            bands.append([g])
            band_sizes.append(g[3])
    cells: list[TextCell] = []
    for band in bands:
        band.sort(key=lambda g: g[0])
        # split on column gaps and on bold/weight changes (docling-parse
        # splits textline cells at font-style boundaries, which is what
        # produces the reference's "Typewriter) : Introduced" spacing)
        runs: list[list[tuple]] = [[band[0]]]
        run_end = band[0][0] + max(band[0][2], 0.0)
        for gi, g in enumerate(band[1:], start=1):
            prev = runs[-1][-1]
            # running max end: a zero-width combining mark positioned over
            # the previous base glyph must not pull the pen backwards and
            # fake a column gap at the next base glyph
            prev_end = run_end
            # gap threshold scales with the NEXT glyph's size: an
            # oversized bullet/symbol before a word gap must not mask the
            # split for the body-sized text that follows
            size = max(g[3], 1.0)
            style_break = (g[5] != prev[5] and g[4].strip()
                           and prev[4].strip())
            over_gap = g[0] - prev_end > split_gap_em * size * 0.5
            # trailing punctuation kerned far from its line stays with it
            # - UNLESS the punctuation is itself isolated (nothing follows
            # within a gap width): a lone "." stranded across a column
            # gutter is its own cell (the reference layout model emits it
            # as an orphan cluster, amt_handbook "." at x~321)
            punct_glued = g[4] in ".,;:!?)]}"
            if over_gap and punct_glued:
                nxt = next((h for h in band[gi + 1:] if h[4].strip()),
                           None)
                g_end = g[0] + max(g[2], 0.0)
                if nxt is None or (
                        nxt[0] - g_end
                        > split_gap_em * max(nxt[3], 1.0) * 0.5):
                    punct_glued = False
            gap_split = over_gap and not punct_glued
            if gap_split or style_break:
                runs.append([g])
                run_end = g[0] + max(g[2], 0.0)
            else:
                runs[-1].append(g)
                # zero-width combining marks are transparent to the pen;
                # any real glyph resets the end (an overlapping wide
                # symbol must not mask a later word gap)
                if g[2] > 0:
                    run_end = g[0] + g[2]
        for run in runs:
            text = _line_text(run).strip()
            if not text:
                continue
            sizes_r = sorted(g[3] for g in run)
            # MEDIAN glyph size: a single oversized symbol glyph (checkbox
            # bullets) must not inflate the line's nominal font size
            size = sizes_r[len(sizes_r) // 2] if sizes_r else 10.0
            x0 = min(g[0] for g in run)
            x1 = max(g[0] + max(g[2], 0.0) for g in run)
            base = sum(g[1] for g in run) / len(run)
            bold = (sum(1 for g in run if g[5]) * 2 > len(run))
            mono = (sum(1 for g in run if g[6]) * 2 > len(run))
            italic = (sum(1 for g in run
                          if len(g) > 7 and g[7]) * 2 > len(run))
            # nominal line box (layout heuristics: stable 0.8/-0.2 em)
            top_y = base + 0.8 * size
            bot_y = base - 0.2 * size
            # ink line box from per-glyph outline extents (embedded
            # TrueType, docling-parse bbox parity), declared-metric
            # fallback; each glyph contributes at its OWN baseline and
            # size (superscripts raise the union)
            inked = [g for g in run if len(g) > 10 and g[10]]
            vsrc = inked or [g for g in run if len(g) > 9]
            if vsrc:
                ink_top = max(g[1] + g[8] * g[3] for g in vsrc)
                ink_bot = min(g[1] + g[9] * g[3] for g in vsrc)
            else:
                ink_top, ink_bot = top_y, bot_y
            # horizontal extents: every glyph - visible AND whitespace,
            # including pen-continuous whitespace-only shows (flag 2) -
            # contributes its ADVANCE rect. Measured against all 11
            # groundtruth doctags (round-7 grid over {flag-2 excluded,
            # included} x {outline-ink edge, advance edge}): this is
            # the strictly-dominant combination (678 -> 652 diff lines,
            # multi_page 60 -> 44, no fixture regresses). The residual
            # right-edge deltas are sub-point, erratic per line, and
            # consistent with FreeType HINTED advance quantization
            # inside docling-parse - not reproducible without a
            # TrueType bytecode interpreter (pinned by the ratchets in
            # tests/test_pdf.py).
            ink_x0, ink_x1 = x0, x1
            cells.append(TextCell(text, x0, page_height - top_y,
                                  x1, page_height - bot_y, size, bold,
                                  mono, italic=italic,
                                  ink_t=page_height - ink_top,
                                  ink_b=page_height - ink_bot,
                                  ink_l=ink_x0, ink_r=ink_x1))
    # reading order: band cells into visual rows (vertical overlap), then
    # left-to-right within a row - a bare (t, l) sort is float-noise
    # sensitive when runs on one baseline carry different max glyph sizes
    cells.sort(key=lambda c: (c.t + c.b) / 2.0)
    rows: list[list[TextCell]] = []
    for c in cells:
        if rows:
            last = rows[-1]
            top = min(x.t for x in last)
            bot = max(x.b for x in last)
            overlap = min(bot, c.b) - max(top, c.t)
            if overlap > 0.5 * min(bot - top, c.b - c.t):
                last.append(c)
                continue
        rows.append([c])
    out: list[TextCell] = []
    for row in rows:
        # logical order within a visual row: left-to-right, except rows of
        # RTL-dominant text, which read right-to-left (docling-parse applies
        # full bidi, so its cells arrive in logical order too)
        joined = "".join(c.text for c in row)
        rtl = len(_RTL_RE.findall(joined))
        ltr = len(_STRONG_LTR_RE.findall(joined))
        if rtl > ltr and rtl > 0:
            row.sort(key=lambda c: -c.r)
        else:
            row.sort(key=lambda c: c.l)
        out.extend(row)
    return out


def page_size(doc: PdfDocument, page: dict) -> tuple[float, float]:
    mb = doc.resolve(page.get("MediaBox")) or [0, 0, 612, 792]
    vals = [float(doc.resolve(v)) for v in mb]
    w = abs(vals[2] - vals[0])
    h = abs(vals[3] - vals[1])
    rot = int(doc.resolve(page.get("Rotate", 0)) or 0) % 360
    if rot in (90, 270):
        w, h = h, w
    return w, h


def extract_page_cells(data: bytes, page_range=None, with_images=False,
                       password: str = "", with_paths=False):
    """PDF bytes -> [(page_no 1-based, width, height, cells)] or, with
    ``with_images``, [(page_no, width, height, cells, image_rects)] where
    image_rects are top-left-origin (l, t, r, b) of drawn bitmaps.
    ``with_paths`` (implies images) appends a sixth element: painted
    vector-path bboxes (table rules, separators) in top-left origin,
    stroke width included.

    ``page_range=(lo, hi)`` is the reference's page-range pushdown
    (``pdf_backend.py:59-105``): pages outside it are never parsed.
    """
    doc = PdfDocument(data, password=password)
    extractor = PdfTextExtractor(doc)
    out = []
    for i, page in enumerate(doc.pages()):
        page_no = i + 1
        if page_range is not None:
            lo, hi = page_range
            if page_no < lo or page_no > hi:
                continue
        w, h = page_size(doc, page)
        paths: list = []
        try:
            if with_paths:
                glyphs, imgs, paths = \
                    extractor.page_glyphs_images_paths(page)
            else:
                glyphs, imgs = extractor.page_glyphs_and_images(page)
        except (PdfError, RecursionError):
            glyphs, imgs = [], []
        cells = glyphs_to_cells(glyphs, h)
        if with_images or with_paths:
            rects = [(x0, h - y1, x1, h - y0) for (x0, y0, x1, y1) in imgs
                     if (x1 - x0) * (y1 - y0) >= 32 * 32]
            if with_paths:
                prects = [(x0, h - y1, x1, h - y0)
                          for (x0, y0, x1, y1) in paths]
                out.append((page_no, w, h, cells, rects, prects))
            else:
                out.append((page_no, w, h, cells, rects))
        else:
            out.append((page_no, w, h, cells))
    return out
