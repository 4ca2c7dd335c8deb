"""Behavioral vectors lifted from the reference's unit tests
(``tests/test_backend_html.py``; FIXTURES.md §3): small HTML -> exact md."""

import pytest

from docling_spark.extractor import extract
from docling_spark.serialize import to_markdown

from conftest import needs_reference


def md(html: str) -> str:
    return to_markdown(extract(html.encode(), name="unit"))


# ordered-list `start` semantics (reference tests :171-225)
@pytest.mark.parametrize("start,expected_first", [
    ("42", "42. a"),
    ("1", "1. a"),
    ("0", "0. a"),
])
def test_ol_start_numeric(start, expected_first):
    out = md(f'<ol start="{start}"><li>a</li><li>b</li></ol>')
    assert out.splitlines()[0] == expected_first


def test_ol_start_non_numeric_falls_back():
    out = md('<ol start="x"><li>a</li><li>b</li></ol>')
    assert out.splitlines()[0] == "1. a"


def test_ol_start_negative_falls_back():
    # "-5".isnumeric() is False -> treated as no start
    out = md('<ol start="-5"><li>a</li><li>b</li></ol>')
    assert out.splitlines()[0] == "1. a"


# <br> semantics (reference tests :1286-1432)
def test_single_br_newline_in_paragraph():
    assert md("<p>line one<br>line two</p>") == "line one\nline two"


def test_double_br_paragraph_split():
    assert md("<p>one<br><br>two</p>") == "one\n\ntwo"


def test_pre_keeps_newlines():
    out = md("<pre>a\nb</pre>")
    assert out == "```\na\nb\n```"


# paragraph repair (reference tests :806-838)
def test_heading_inside_p_promoted():
    # browser-style repair splits the <p>; "before" precedes the first
    # heading so it lands in the furniture layer (excluded from body md)
    out = md("<p>before<h2>Head</h2>after</p>")
    assert "## Head" in out
    assert "before" not in out
    assert out.index("## Head") < out.index("after")


def test_list_inside_p_promoted():
    out = md("<p>intro<ul><li>x</li></ul>tail</p>")
    assert "- x" in out


# furniture layering (reference tests :553-580)
def test_content_before_first_heading_is_furniture():
    out = md("<body><p>furniture text</p><h1>Title</h1><p>body text</p></body>")
    assert "furniture text" not in out
    assert out.startswith("# Title")


def test_footer_excluded_from_body_export():
    out = md("<body><h1>T</h1><p>keep</p><footer><p>drop</p></footer></body>")
    assert "drop" not in out


# description lists (reference tests :313-373)
def test_dl_dt_bold_dd_nested():
    out = md("<dl><dt>Term</dt><dd>Definition</dd></dl>")
    lines = out.splitlines()
    assert lines[0] == "- **Term**"
    assert lines[1] == "    - Definition"


def test_orphan_dd_without_dt():
    out = md("<dl><dd>lonely</dd></dl>")
    assert "- lonely" in out


# heading level bridging (reference tests :144-168)
def test_heading_level_jump_bridged():
    out = md("<h1>A</h1><h4>Deep</h4><p>x</p>")
    assert "### Deep" in out  # h4 -> level 3 -> ### (level+1 hashes)


def test_unicode_cleanup_table():
    out = md("<p>a b—c’d…e​f</p>")
    assert out == "a b-c'd...ef"


def test_inline_code_and_formatting():
    out = md("<p>mix <code>c()</code> and <b>bold</b> text</p>")
    assert out == "mix `c()` and **bold** text"


def test_hyperlink_inheritance():
    out = md('<p><a href="/x"><span>inner</span></a></p>')
    assert out == "[inner](/x)"


def test_table_with_spans():
    out = md('<table><tr><th>H1</th><th>H2</th></tr>'
             '<tr><td colspan="2">wide</td></tr></table>')
    lines = out.splitlines()
    assert lines[0] == "| H1 | H2 |"
    assert lines[2] == "| wide | wide |"


@needs_reference("html/sources/html_rich_table_cells.html")
def test_is_rich_table_cell_grid():
    """Hand-labeled rich-cell classification grid from the reference's
    tests/test_backend_html.py:682-760."""
    import pathlib

    from docling_spark.dom import parse_html
    from docling_spark.extractor import HtmlExtractor

    raw = pathlib.Path(
        "/root/reference/tests/data/html/sources/html_rich_table_cells.html"
    ).read_bytes()
    dom = parse_html(raw)
    ex = HtmlExtractor()
    ex.doc = None  # predicate path does not touch the doc

    gt = {
        0: [False, False, False, False, False, False, False, False, False,
            False, False, True, False, True, True],
        1: [False, False, True, False, True, False, True, False],
        2: [False, True, True, True, False, True, True],
        3: [False, False, False, False, False, False],
        4: [False, False, False, False, False, True, False, False, True,
            False, False, True, False, False, False],
    }
    for idx_t, table in enumerate(dom.find_all("table")):
        expected = iter(gt[idx_t])
        n = 0
        for part in table.find_all(["thead", "tbody"], recursive=False):
            for row in part.find_all("tr", recursive=False):
                for cell in row.find_all(["td", "th"], recursive=False):
                    assert next(expected) == ex._is_rich_table_cell(cell), \
                        f"table {idx_t} cell {n}"
                    n += 1
        assert n == len(gt[idx_t])


# ------------------------------------------------- real media decoders

def _make_png(arr, color, plte=None):
    import struct
    import zlib

    h, w = arr.shape[:2]

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d)))

    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        png += chunk(b"PLTE", plte.tobytes())
    return png + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_png_pixel_roundtrip():
    import numpy as np

    from docling_spark.multimodal import decode_png_pixels
    rng = np.random.RandomState(7)
    for color, nch in ((0, 1), (2, 3), (4, 2), (6, 4)):
        arr = rng.randint(0, 256, (11, 5, nch), dtype=np.uint8)
        out = decode_png_pixels(_make_png(arr, color))
        assert out is not None and (out == arr).all(), color
    pal = rng.randint(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.randint(0, 16, (6, 6, 1)).astype(np.uint8)
    out = decode_png_pixels(_make_png(idx, 3, plte=pal))
    assert (out == pal[idx[:, :, 0]]).all()


def test_png_decoder_rejects_garbage():
    from docling_spark.multimodal import decode_png_pixels
    assert decode_png_pixels(b"\x89PNG\r\n\x1a\n" + b"\x00" * 40) is None
    assert decode_png_pixels(b"not a png") is None


def test_wav_and_tiff_headers():
    import struct

    from docling_spark.multimodal import (decode_image_header,
                                          decode_wav_header)
    wav = (b"RIFF" + struct.pack("<I", 36 + 8000) + b"WAVEfmt "
           + struct.pack("<I", 16)
           + struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
           + b"data" + struct.pack("<I", 8000) + b"\x00" * 8000)
    dur, rate, ch = decode_wav_header(wav)
    assert abs(dur - 0.25) < 1e-9 and rate == 8000 and ch == 2
    tif = (b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 2)
           + struct.pack("<HHII", 256, 3, 1, 640)
           + struct.pack("<HHII", 257, 4, 1, 480) + struct.pack("<I", 0))
    assert decode_image_header(tif) == (640, 480, "tiff")


class TestMediaProbes:
    """Deterministic compressed-media duration probes (stdlib byte
    parses; synthetic vectors with known durations)."""

    @staticmethod
    def _box(typ: bytes, content: bytes) -> bytes:
        return (8 + len(content)).to_bytes(4, "big") + typ + content

    def test_mp4_mvhd_and_tkhd(self):
        from docling_spark.multimodal import probe_mp4
        mvhd = bytes(4) + bytes(8) + (1000).to_bytes(4, "big") \
            + (90_500).to_bytes(4, "big") + bytes(80)
        tkhd = bytes(4) + bytes(72) \
            + (640 * 65536).to_bytes(4, "big") \
            + (360 * 65536).to_bytes(4, "big")
        moov = self._box(b"mvhd", mvhd) + self._box(
            b"trak", self._box(b"tkhd", tkhd))
        raw = self._box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") \
            + self._box(b"moov", moov)
        got = probe_mp4(raw)
        assert got is not None
        d, w, h = got
        assert abs(d - 90.5) < 1e-9
        assert (w, h) == (640, 360)

    def test_mp3_frame_walk(self):
        from docling_spark.multimodal import probe_mp3
        # MPEG1 Layer III, 128 kbps, 44100 Hz, no padding: 417-byte frames
        frame = b"\xff\xfb\x90\x00" + bytes(417 - 4)
        raw = b"ID3" + b"\x03\x00" + b"\x00" + b"\x00\x00\x00\x0a" \
            + bytes(10) + frame * 10
        d = probe_mp3(raw)
        assert d is not None
        assert abs(d - 10 * 1152 / 44100) < 1e-9

    def test_mkv_duration(self):
        import struct
        from docling_spark.multimodal import probe_mkv
        # Duration 12.5s at default TimestampScale (1 ms ticks)
        dur = b"\x44\x89" + b"\x84" + struct.pack(">f", 12_500.0)
        scale = b"\x2a\xd7\xb1" + b"\x83" + (1_000_000).to_bytes(3, "big")
        info_content = scale + dur
        info = b"\x15\x49\xa9\x66" + bytes([0x80 | len(info_content)]) \
            + info_content
        segment = b"\x18\x53\x80\x67" + bytes([0x80 | len(info)]) + info
        raw = b"\x1aE\xdf\xa3" + b"\x84" + b"\x01\x01\x01\x01" + segment
        d = probe_mkv(raw)
        assert d is not None
        assert abs(d - 12.5) < 1e-9

    def test_garbage_returns_none(self):
        from docling_spark.multimodal import probe_mkv, probe_mp3, probe_mp4
        junk = b"\x00\x01\x02junkjunkjunk" * 10
        assert probe_mp4(junk) is None
        assert probe_mp3(junk) is None
        assert probe_mkv(junk) is None


# --------------------------------------------------- baseline JPEG codec

class TestJpegCodec:
    """Round-trip encode->decode units (the container has no PIL; the
    encoder is itself from-scratch, so agreement pins both directions)
    plus decode of the reference repo's real camera/scanner JPEGs."""

    def test_solid_color_exact_all_modes(self):
        import numpy as np

        from docling_spark.multimodal import (_rgb_to_ycbcr_int,
                                              _ycbcr_to_rgb_int,
                                              decode_jpeg_pixels,
                                              encode_jpeg_baseline)
        for rgb, sub, dri in (((200, 30, 90), "444", 0),
                              ((10, 220, 40), "420", 0),
                              ((64, 64, 192), "444", 1),
                              ((255, 255, 255), "420", 2)):
            img = np.full((16, 24, 3), rgb, np.uint8)
            px = decode_jpeg_pixels(encode_jpeg_baseline(
                img, subsampling=sub, restart_interval=dri))
            want = _ycbcr_to_rgb_int(*_rgb_to_ycbcr_int(*rgb))
            got = np.unique(px.reshape(-1, 3), axis=0)
            assert got.shape == (1, 3) and tuple(got[0]) == want, (rgb, sub)

    def test_gradient_roundtrip_within_quant_error(self):
        import numpy as np

        from docling_spark.multimodal import (decode_jpeg_pixels,
                                              encode_jpeg_baseline)
        g = np.zeros((24, 32, 3), np.uint8)
        g[:, :, 0] = np.arange(32)[None, :] * 8
        g[:, :, 1] = np.arange(24)[:, None] * 10
        g[:, :, 2] = 128
        px = decode_jpeg_pixels(encode_jpeg_baseline(g))
        err = np.abs(px.astype(int) - g.astype(int))
        assert err.max() <= 3 and err.mean() <= 1.0

    def test_grayscale_and_nonmultiple_of_8_dims(self):
        import numpy as np

        from docling_spark.multimodal import (decode_jpeg_pixels,
                                              encode_jpeg_baseline)
        gray = (np.arange(21)[:, None] * np.arange(13)[None, :] % 256) \
            .astype(np.uint8)
        px = decode_jpeg_pixels(encode_jpeg_baseline(gray))
        assert px.shape == (21, 13, 1)
        assert np.abs(px[:, :, 0].astype(int) - gray.astype(int)).max() <= 2

    def test_real_quant_tables_still_roundtrip_roughly(self):
        import numpy as np

        from docling_spark.multimodal import (decode_jpeg_pixels,
                                              encode_jpeg_baseline)
        # a mild real-world-ish quant table (not all-ones): low
        # frequencies cheap, high frequencies coarse
        q = np.ones(64, dtype=np.int32)
        q[:] = 8
        q[0] = 4
        rng = np.random.RandomState(3)
        img = rng.randint(60, 196, (16, 16, 3)).astype(np.uint8)
        px = decode_jpeg_pixels(encode_jpeg_baseline(img, quant=q))
        err = np.abs(px.astype(float) - img.astype(float)).mean()
        assert err < 12.0, err

    @needs_reference("latex/sources/arXiv-2501.01300v2/cas-email.jpeg",
                     "latex/sources/2310.06825/images/header.jpeg")
    def test_reference_jpegs_decode(self):
        import pathlib

        from docling_spark.multimodal import (decode_image_header,
                                              decode_jpeg_pixels)
        base = pathlib.Path("/root/reference/tests/data")
        # baseline 4:2:0 photo: pixel dims must match the SOF header
        raw = (base / "latex/sources/arXiv-2501.01300v2/cas-email.jpeg") \
            .read_bytes()
        px = decode_jpeg_pixels(raw)
        w, h, fmt = decode_image_header(raw)
        assert fmt == "jpeg" and px.shape == (h, w, 3)
        # mid-gray-ish photo, not a degenerate all-black/white decode
        assert 100 < px.mean() < 230
        # progressive (SOF2) decodes too since round 7 - full checks
        # live in TestJpegProgressive
        prog = (base / "latex/sources/2310.06825/images/header.jpeg") \
            .read_bytes()
        assert decode_jpeg_pixels(prog).shape == (500, 1500, 3)

    def test_jpeg_decoder_total_on_hostile_bytes(self):
        import random

        import numpy as np

        from docling_spark.multimodal import (decode_jpeg_pixels,
                                              encode_jpeg_baseline)
        img = np.full((16, 16, 3), (90, 140, 30), np.uint8)
        raw = encode_jpeg_baseline(img, restart_interval=1)
        rng = random.Random(5)
        for _ in range(64):
            flipped = bytearray(raw)
            i = rng.randrange(len(flipped))
            flipped[i] ^= 1 << rng.randrange(8)
            out = decode_jpeg_pixels(bytes(flipped))  # None or array
            assert out is None or out.dtype == np.uint8
        for cut in (2, 10, 50, len(raw) - 3):
            out = decode_jpeg_pixels(raw[:cut])
            assert out is None or out.dtype == np.uint8

    def test_media_features_use_real_jpeg_decode(self, spark):
        """Integration: a JPEG payload through extract_media_features
        yields REAL pixel dims (not sha-derived fakes)."""
        import numpy as np

        from docling_spark import multimodal
        from docling_spark.multimodal import encode_jpeg_baseline
        img = np.full((24, 40, 3), (50, 60, 70), np.uint8)
        raw = encode_jpeg_baseline(img)
        df = spark.createDataFrame(
            [(1, "image", raw, "image/jpeg")],
            "media_id long, kind string, payload binary, mime string")
        row = multimodal.extract_media_features(df).collect()[0]
        assert (row.width, row.height) == (40, 24)


class TestImageDhash:
    def test_hand_computed_tiny_case(self):
        """9x8 image where each downscale box is one pixel: the grid IS
        the image, so the 64 gradient bits are hand-derivable."""
        import numpy as np

        from docling_spark.multimodal import dhash_pixels
        px = np.zeros((8, 9, 1), np.uint8)
        px[:, :, 0] = np.arange(9)[None, :] * 10          # rising rows
        px[3, :, 0] = np.arange(9)[::-1] * 10             # one falling row
        want = 0
        for r in range(8):
            for c in range(8):
                want = (want << 1) | int(px[r, c + 1, 0] > px[r, c, 0])
        got = dhash_pixels(px)
        assert got % (1 << 64) == want  # signed-long packing
        # rising rows contribute 0xFF bytes, the falling row 0x00
        assert (want >> (8 * 4)) & 0xFF == 0  # row 3 from the top = byte 4

    def test_flat_image_hashes_zero_and_small_none(self):
        import numpy as np

        from docling_spark.multimodal import dhash_pixels
        assert dhash_pixels(np.full((32, 32, 3), 77, np.uint8)) == 0
        assert dhash_pixels(np.full((8, 8, 1), 9, np.uint8)) is None

    def test_reencode_stability_across_codecs(self):
        """The SAME pixels through PNG and (flat-lossless) JPEG produce
        the identical hash - the property that makes dHash a
        cross-encode dedup key where sha256 is useless."""
        import numpy as np

        from docling_spark.multimodal import (decode_jpeg_pixels,
                                              decode_png_pixels,
                                              dhash_pixels,
                                              encode_jpeg_baseline)
        from docling_spark.pngio import encode_png_like_pil
        img = np.zeros((16, 16, 3), np.uint8)
        img[:8, :8], img[:8, 8:], img[8:, :8], img[8:, 8:] = \
            [(10, 10, 10), (80, 80, 80), (160, 160, 160), (240, 240, 240)]
        h_png = dhash_pixels(decode_png_pixels(encode_png_like_pil(img)))
        h_jpg = dhash_pixels(decode_jpeg_pixels(encode_jpeg_baseline(img)))
        assert h_png == h_jpg != 0

    def test_near_dups_spark_roundtrip(self, spark):
        """image_dhash + image_near_dups end-to-end: a JPEG/PNG twin
        pair is found at Hamming 0; an unrelated gradient is not."""
        import numpy as np

        from docling_spark import multimodal
        from docling_spark.multimodal import encode_jpeg_baseline
        from docling_spark.pngio import encode_png_like_pil
        quad = np.zeros((16, 16, 3), np.uint8)
        quad[:8, :8], quad[:8, 8:], quad[8:, :8], quad[8:, 8:] = \
            [(10, 0, 0), (0, 80, 0), (0, 0, 160), (240, 240, 0)]
        grad = np.zeros((16, 16, 3), np.uint8)
        grad[:, :, 1] = (np.arange(16)[None, :] * 16)
        rows = [(1, encode_jpeg_baseline(quad)),
                (2, encode_png_like_pil(quad)),
                (3, encode_png_like_pil(grad)),
                (4, b"not an image")]
        media = spark.createDataFrame(rows, "media_id long, payload binary")
        hashes = multimodal.image_dhash(media)
        got = {r.media_id: r for r in hashes.collect()}
        assert got[1].dhash == got[2].dhash is not None
        assert got[3].dhash != got[1].dhash
        assert got[4].dhash is None and got[4].width is None
        pairs = {(r.media_a, r.media_b, r.hamming)
                 for r in multimodal.image_near_dups(hashes).collect()}
        assert (1, 2, 0) in pairs
        assert not any(3 in (a, b) for a, b, _ in pairs)


class TestJpegProgressive:
    """Progressive (SOF2) decode: hand-emitted multi-scan streams with
    exactly known coefficients, plus the reference repo's real
    progressive fixture."""

    @staticmethod
    def _codes(counts, syms):
        """Canonical (code, len) per symbol, mirroring _build_huff."""
        codes = {}
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                codes[syms[k]] = (code, ln)
                code += 1
                k += 1
            code <<= 1
        return codes

    def test_spectral_selection_two_blocks(self):
        """16x8 gray, two 8x8 blocks with known coefficients, bands
        0 / 1-5 / 6-63 as three scans; block 2 is DC-only so the AC
        scans exercise EOB codes. Decoded pixels must equal the exact
        IDCT of the constructed coefficients."""
        import struct

        import numpy as np

        from docling_spark.multimodal import (_BitWriter, _dct_matrix,
                                              decode_jpeg_pixels)
        K1 = np.zeros((8, 8), np.int32)
        K1[0, 0] = 20    # DC
        K1[0, 1] = 7     # zigzag pos 1
        K1[1, 0] = -5    # zigzag pos 2
        K1[2, 1] = 3     # zigzag pos 8 (band 6-63)
        K2 = np.zeros((8, 8), np.int32)
        K2[0, 0] = -12
        C = _dct_matrix()

        def pix(K):
            return np.clip(np.round(C.T @ K.astype(float) @ C) + 128,
                           0, 255).astype(np.uint8)

        want = np.concatenate([pix(K1), pix(K2)], axis=1)

        dc_counts = [0, 0, 0, 16] + [0] * 12   # 16 syms at length 4
        dc_syms = list(range(16))
        dcc = self._codes(dc_counts, dc_syms)
        # scan 1 (DC, Al=0): diff 20 (cat 5, bits 10100), then
        # diff -12-20 = -32 (cat 6, low-order bits = -32 + 63 = 31)
        w1 = _BitWriter()
        c5, l5 = dcc[5]
        w1.write(c5, l5)
        w1.write(20, 5)
        c6, l6 = dcc[6]
        w1.write(c6, l6)
        w1.write(-32 + 63, 6)
        w1.pad()
        # scan 2 (AC band 1..5, Al=0), table slot 0: block1 zig1=7
        # (sym 0x03, bits 111), zig2=-5 (sym 0x03, bits 010), EOB;
        # block2: EOB
        ac2_counts = [0] * 7 + [2] + [0] * 8
        ac2_syms = [0x00, 0x03]
        acc2 = self._codes(ac2_counts, ac2_syms)
        w2 = _BitWriter()
        ce, le = acc2[0x03]
        w2.write(ce, le)
        w2.write(7, 3)
        w2.write(ce, le)
        w2.write(-5 + 7, 3)
        c0, l0 = acc2[0x00]
        w2.write(c0, l0)
        w2.write(c0, l0)
        w2.pad()
        # scan 3 (AC band 6..63, Al=0), table slot 1: block1 value at
        # zigzag pos 8 -> run (8-6)=2, size 2 -> sym 0x22, bits 11;
        # EOB; block2: EOB
        ac3_counts = [0] * 7 + [2] + [0] * 8
        ac3_syms = [0x00, 0x22]
        acc3 = self._codes(ac3_counts, ac3_syms)
        w3 = _BitWriter()
        cv, lv = acc3[0x22]
        w3.write(cv, lv)
        w3.write(3, 2)
        c0, l0 = acc3[0x00]
        w3.write(c0, l0)
        w3.write(c0, l0)
        w3.pad()

        stream = bytearray(b"\xff\xd8")
        stream += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" \
            + bytes(1 for _ in range(64))
        stream += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 16, 1)
        stream += bytes([1, 0x11, 0])
        for (tc, th), (counts, syms) in (
                ((0, 0), (dc_counts, dc_syms)),
                ((1, 0), (ac2_counts, ac2_syms)),
                ((1, 1), (ac3_counts, ac3_syms))):
            stream += b"\xff\xc4" + struct.pack(
                ">H", 19 + len(syms)) + bytes([(tc << 4) | th]) \
                + bytes(counts) + bytes(syms)

        def sos(ss, se, ah, al, td, ta, data):
            return (b"\xff\xda" + struct.pack(">HB", 8, 1)
                    + bytes([1, (td << 4) | ta, ss, se, (ah << 4) | al])
                    + data)

        stream += sos(0, 0, 0, 0, 0, 0, bytes(w1.out))
        stream += sos(1, 5, 0, 0, 0, 0, bytes(w2.out))
        stream += sos(6, 63, 0, 0, 0, 1, bytes(w3.out))
        stream += b"\xff\xd9"

        px = decode_jpeg_pixels(bytes(stream))
        assert px is not None and px.shape == (8, 16, 1)
        assert (px[:, :, 0] == want).all()

    def test_dc_successive_approximation(self):
        """8x8 gray, DC sent at Al=1 then refined at Al=0: the decoded
        flat value must carry the full-precision DC."""
        import struct

        import numpy as np

        from docling_spark.multimodal import _BitWriter, decode_jpeg_pixels
        dc_counts = [0, 0, 0, 16] + [0] * 12
        dc_syms = list(range(16))
        dcc = self._codes(dc_counts, dc_syms)
        ac_counts = [1] + [0] * 15
        ac_syms = [0x00]
        # scan 1: DC first, Al=1: diff = 21>>1 = 10 (cat 4, bits 1010)
        w1 = _BitWriter()
        code, ln = dcc[4]
        w1.write(code, ln)
        w1.write(10, 4)
        w1.pad()
        # scan 2: DC refine, Al=0: one raw bit = 21 & 1 = 1
        w2 = _BitWriter()
        w2.write(1, 1)
        w2.pad()
        # scan 3: AC 1-63 Al=0: EOB (all zero)
        acc = self._codes(ac_counts, ac_syms)
        w3 = _BitWriter()
        code, ln = acc[0x00]
        w3.write(code, ln)
        w3.pad()
        stream = bytearray(b"\xff\xd8")
        stream += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" \
            + bytes(1 for _ in range(64))
        stream += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 8, 1)
        stream += bytes([1, 0x11, 0])
        stream += b"\xff\xc4" + struct.pack(">H", 19 + 16) + b"\x00" \
            + bytes(dc_counts) + bytes(dc_syms)
        stream += b"\xff\xc4" + struct.pack(">H", 19 + 1) + b"\x10" \
            + bytes(ac_counts) + bytes(ac_syms)

        def sos(ss, se, ah, al, data):
            return (b"\xff\xda" + struct.pack(">HB", 8, 1)
                    + bytes([1, 0x00, ss, se, (ah << 4) | al]) + data)

        stream += sos(0, 0, 0, 1, bytes(w1.out))
        stream += sos(0, 0, 1, 0, bytes(w2.out))
        stream += sos(1, 63, 0, 0, bytes(w3.out))
        stream += b"\xff\xd9"
        px = decode_jpeg_pixels(bytes(stream))
        assert px is not None and px.shape == (8, 8, 1)
        # flat block: every pixel = round(21/8) + 128 = 131
        want = round(21 / 8) + 128
        assert (px == want).all(), np.unique(px)

    @needs_reference("latex/sources/2310.06825/images/header.jpeg")
    def test_reference_progressive_fixture(self):
        """The repo's real progressive JPEG (SOF2, 4:2:0, successive
        approximation) decodes to full resolution; mean + pixel hash
        pinned for determinism (visually verified round 7 - crisp
        logo, no banding, i.e. refinement scans really land)."""
        import hashlib
        import pathlib

        from docling_spark.multimodal import decode_jpeg_pixels
        raw = pathlib.Path(
            "/root/reference/tests/data/latex/sources/2310.06825/"
            "images/header.jpeg").read_bytes()
        px = decode_jpeg_pixels(raw)
        assert px is not None and px.shape == (500, 1500, 3)
        assert 190.5 < float(px.mean()) < 191.2
        assert hashlib.sha256(px.tobytes()).hexdigest() == \
            "4c058be54bdfd68eeda1951e468142f9f0454504f9d47bf3a1a35d7f49e3fabe"

    @needs_reference("latex/sources/2310.06825/images/header.jpeg")
    def test_progressive_total_on_bit_flips(self):
        import pathlib
        import random

        import numpy as np

        from docling_spark.multimodal import decode_jpeg_pixels
        raw = pathlib.Path(
            "/root/reference/tests/data/latex/sources/2310.06825/"
            "images/header.jpeg").read_bytes()
        rng = random.Random(3)
        for _ in range(24):
            flipped = bytearray(raw)
            i = rng.randrange(len(flipped))
            flipped[i] ^= 1 << rng.randrange(8)
            out = decode_jpeg_pixels(bytes(flipped))
            assert out is None or out.dtype == np.uint8


class TestGifCodec:
    def test_roundtrip_exact_color_and_gray(self):
        import numpy as np

        from docling_spark.multimodal import decode_gif_pixels, encode_gif
        img = np.zeros((16, 16, 3), np.uint8)
        img[:8, :8], img[:8, 8:], img[8:, :8], img[8:, 8:] = \
            [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0)]
        px = decode_gif_pixels(encode_gif(img))
        assert (px == img).all()
        gray = (np.arange(12)[:, None] * np.arange(20)[None, :] * 9
                % 256).astype(np.uint8)
        px = decode_gif_pixels(encode_gif(gray))
        assert px.shape == (12, 20, 3)
        assert (px == gray[:, :, None]).all()

    def test_interlaced_frame_reorders_rows(self):
        """Set the interlace flag on an encoder output whose rows were
        pre-permuted into interlace pass order: the decoder must undo
        the 8/8/4/2 pass interleave and reproduce the original."""
        import numpy as np

        from docling_spark.multimodal import decode_gif_pixels, encode_gif
        h, w = 16, 8
        img = (np.arange(h)[:, None] * np.ones((1, w)) * 15) \
            .astype(np.uint8)
        order = (list(range(0, h, 8)) + list(range(4, h, 8))
                 + list(range(2, h, 4)) + list(range(1, h, 2)))
        permuted = img[order]          # rows as stored in the file
        raw = bytearray(encode_gif(permuted))
        at = raw.index(b"\x2c")        # image descriptor
        assert raw[at + 9] == 0        # flags byte
        raw[at + 9] = 0x40             # interlaced
        px = decode_gif_pixels(bytes(raw))
        assert (px == img[:, :, None].repeat(3, axis=2)).all()

    def test_gif_decoder_total_on_hostile_bytes(self):
        import random

        import numpy as np

        from docling_spark.multimodal import decode_gif_pixels, encode_gif
        img = np.tile(np.arange(16, dtype=np.uint8) * 16, (8, 1))
        raw = encode_gif(img)
        rng = random.Random(9)
        for _ in range(64):
            flipped = bytearray(raw)
            i = rng.randrange(len(flipped))
            flipped[i] ^= 1 << rng.randrange(8)
            out = decode_gif_pixels(bytes(flipped))
            assert out is None or out.dtype == np.uint8
        for cut in (2, 7, 13, 20, len(raw) - 2):
            out = decode_gif_pixels(raw[:cut])
            assert out is None or out.dtype == np.uint8

    def test_media_features_real_gif(self, spark):
        import numpy as np

        from docling_spark import multimodal
        from docling_spark.multimodal import encode_gif
        img = np.full((24, 40, 3), (50, 60, 70), np.uint8)
        df = spark.createDataFrame(
            [(1, "image", encode_gif(img), "image/gif")],
            "media_id long, kind string, payload binary, mime string")
        row = multimodal.extract_media_features(df).collect()[0]
        assert (row.width, row.height) == (40, 24)
        assert abs(row.feature_v0 - 60.0 / 255) < 1e-12


class TestBmpDecode:
    @staticmethod
    def _make(px, bpp=24, topdown=False):
        import struct
        h, w = px.shape[:2]
        stride = (w * bpp + 31) // 32 * 4
        rows = []
        for y in (range(h) if topdown else range(h - 1, -1, -1)):
            row = px[y][:, ::-1].tobytes()
            rows.append(row + b"\x00" * (stride - len(row)))
        data = b"".join(rows)
        hdr = struct.pack("<IiiHHIIiiII", 40, w,
                          -h if topdown else h, 1, bpp, 0, len(data),
                          2835, 2835, 0, 0)
        off = 14 + 40
        return (b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
                + hdr + data)

    def test_truecolor_both_row_orders(self):
        import numpy as np

        from docling_spark.multimodal import decode_bmp_pixels
        img = np.zeros((5, 7, 3), np.uint8)
        img[:, :, 0] = np.arange(7)[None, :] * 30
        img[:, :, 2] = np.arange(5)[:, None] * 40
        for td in (False, True):
            out = decode_bmp_pixels(self._make(img, topdown=td))
            assert out is not None and (out == img).all(), td

    def test_paletted_8bit(self):
        import struct

        import numpy as np

        from docling_spark.multimodal import decode_bmp_pixels
        pal = np.array([[10, 20, 30], [200, 100, 0], [0, 0, 255],
                        [255, 255, 255]], np.uint8)
        idx = np.array([[0, 1, 2, 3, 0], [3, 2, 1, 0, 1]], np.uint8)
        h, w = idx.shape
        stride = (w * 8 + 31) // 32 * 4
        data = b"".join(
            idx[y].tobytes() + b"\x00" * (stride - w)
            for y in range(h - 1, -1, -1))
        hdr = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0,
                          len(data), 2835, 2835, 4, 0)
        pal_bytes = b"".join(bytes([b, g, r, 0]) for r, g, b in pal)
        off = 14 + 40 + len(pal_bytes)
        raw = (b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
               + hdr + pal_bytes + data)
        out = decode_bmp_pixels(raw)
        assert out is not None and (out == pal[idx]).all()

    def test_total_on_garbage(self):
        import numpy as np

        from docling_spark.multimodal import decode_bmp_pixels
        import random
        img = np.full((4, 4, 3), 99, np.uint8)
        raw = self._make(img)
        rng = random.Random(4)
        for _ in range(48):
            fl = bytearray(raw)
            i = rng.randrange(len(fl))
            fl[i] ^= 1 << rng.randrange(8)
            out = decode_bmp_pixels(bytes(fl))
            assert out is None or out.dtype == np.uint8
        assert decode_bmp_pixels(b"BM tiny") is None


class TestTiffDecode:
    @staticmethod
    def _tiff(w, h, strips, extra_tags, le=True):
        """Assemble a single-IFD TIFF: strips = list of raw strip
        bytes; extra_tags = {tag: (type, [values])}."""
        import struct
        fmt = "<" if le else ">"
        header = (b"II*\x00" if le else b"MM\x00*")
        # layout: header(8) | strip data | ifd | out-of-line values
        data_at = 8
        strip_offsets = []
        body = bytearray()
        for s in strips:
            strip_offsets.append(data_at + len(body))
            body += s
        tags = {256: (3, [w]), 257: (3, [h]),
                273: (4, strip_offsets),
                279: (4, [len(s) for s in strips])}
        tags.update(extra_tags)
        ifd_at = data_at + len(body)
        n = len(tags)
        entries = bytearray()
        overflow = bytearray()
        over_at = ifd_at + 2 + 12 * n + 4
        ch = {1: "B", 3: "H", 4: "I"}
        size = {1: 1, 3: 2, 4: 4}
        for tag in sorted(tags):
            typ, vals = tags[tag]
            total = size[typ] * len(vals)
            packed = struct.pack(f"{fmt}{len(vals)}{ch[typ]}", *vals)
            if total <= 4:
                val_field = packed + b"\x00" * (4 - total)
            else:
                val_field = struct.pack(fmt + "I",
                                        over_at + len(overflow))
                overflow += packed
            entries += struct.pack(fmt + "HHI", tag, typ, len(vals)) \
                + val_field
        ifd = struct.pack(fmt + "H", n) + entries \
            + struct.pack(fmt + "I", 0)
        return header + struct.pack(fmt + "I", ifd_at) + bytes(body) \
            + ifd + bytes(overflow)

    def test_uncompressed_rgb_both_orders(self):
        import numpy as np

        from docling_spark.multimodal import decode_tiff_pixels
        img = np.zeros((4, 5, 3), np.uint8)
        img[:, :, 0] = np.arange(5)[None, :] * 50
        img[:, :, 1] = np.arange(4)[:, None] * 60
        for le in (True, False):
            raw = self._tiff(5, 4, [img.tobytes()],
                             {258: (3, [8, 8, 8]), 259: (3, [1]),
                              262: (3, [2]), 277: (3, [3]),
                              278: (3, [4])}, le=le)
            out = decode_tiff_pixels(raw)
            assert out is not None and (out == img).all(), le

    def test_gray_white_is_zero_and_bilevel(self):
        import numpy as np

        from docling_spark.multimodal import decode_tiff_pixels
        g = np.arange(16, dtype=np.uint8).reshape(4, 4) * 16
        raw = self._tiff(4, 4, [g.tobytes()],
                         {258: (3, [8]), 259: (3, [1]), 262: (3, [0]),
                          277: (3, [1]), 278: (3, [4])})
        out = decode_tiff_pixels(raw)
        assert (out[:, :, 0] == 255 - g).all()
        bits = np.packbits(np.eye(8, dtype=np.uint8), axis=1)
        raw = self._tiff(8, 8, [bits.tobytes()],
                         {258: (3, [1]), 259: (3, [1]), 262: (3, [1]),
                          277: (3, [1]), 278: (3, [8])})
        out = decode_tiff_pixels(raw)
        assert (out[:, :, 0] == np.eye(8, dtype=np.uint8) * 255).all()

    def test_packbits_strips(self):
        import numpy as np

        from docling_spark.multimodal import decode_tiff_pixels
        # two strips of 2 rows each, width 8 gray: strip = literal run
        # of 8 + repeat run of 8
        strip = bytes([7]) + bytes(range(0, 128, 16)) \
            + bytes([256 - 7]) + bytes([200])
        want = np.vstack([np.arange(0, 128, 16, dtype=np.uint8),
                          np.full(8, 200, np.uint8)])
        raw = self._tiff(8, 4, [strip, strip],
                         {258: (3, [8]), 259: (3, [32773]),
                          262: (3, [1]), 277: (3, [1]), 278: (3, [2])})
        out = decode_tiff_pixels(raw)
        assert (out[:, :, 0] == np.vstack([want, want])).all()

    @staticmethod
    def _lzw_encode(data: bytes) -> bytes:
        """Minimal valid TIFF LZW: clear before every literal (9-bit
        codes, MSB-first, table never grows)."""
        bits = []
        def put(code):
            bits.extend((code >> (8 - i)) & 1 for i in range(9))
        put(256)
        for b in data:
            put(b)
            put(256)
        put(257)
        out = bytearray()
        for i in range(0, len(bits), 8):
            byte = 0
            for j, bit in enumerate(bits[i:i + 8]):
                byte |= bit << (7 - j)
            out.append(byte)
        return bytes(out)

    def test_lzw_with_horizontal_predictor(self):
        import numpy as np

        from docling_spark.multimodal import decode_tiff_pixels
        img = np.cumsum(np.ones((3, 6), np.uint8) * 3,
                        axis=1).astype(np.uint8) + 10
        # predictor 2: encode per-row differences
        diff = img.astype(np.int16)
        diff[:, 1:] -= img[:, :-1].astype(np.int16)
        payload = (diff & 0xFF).astype(np.uint8).tobytes()
        raw = self._tiff(6, 3, [self._lzw_encode(payload)],
                         {258: (3, [8]), 259: (3, [5]), 262: (3, [1]),
                          277: (3, [1]), 278: (3, [3]),
                          317: (3, [2])})
        out = decode_tiff_pixels(raw)
        assert out is not None and (out[:, :, 0] == img).all()

    def test_palette(self):
        import numpy as np

        from docling_spark.multimodal import decode_tiff_pixels
        idx = np.array([[0, 1], [2, 3]], np.uint8)
        # ColorMap: 16-bit, all reds then greens then blues
        reds, greens, blues = [10, 90, 170, 250], [5, 55, 105, 155], \
            [0, 64, 128, 192]
        cmap = [v * 257 for v in reds + greens + blues]
        raw = self._tiff(2, 2, [idx.tobytes()],
                         {258: (3, [8]), 259: (3, [1]), 262: (3, [3]),
                          277: (3, [1]), 278: (3, [2]),
                          320: (3, cmap)})
        out = decode_tiff_pixels(raw)
        want = np.stack([np.array(reds, np.uint8)[idx],
                         np.array(greens, np.uint8)[idx],
                         np.array(blues, np.uint8)[idx]], axis=2)
        assert (out == want).all()

    def test_total_on_garbage(self):
        import random

        import numpy as np

        from docling_spark.multimodal import decode_tiff_pixels
        img = np.arange(64, dtype=np.uint8).reshape(8, 8)
        raw = self._tiff(8, 8, [img.tobytes()],
                         {258: (3, [8]), 259: (3, [1]), 262: (3, [1]),
                          277: (3, [1]), 278: (3, [8])})
        assert (decode_tiff_pixels(raw)[:, :, 0] == img).all()
        rng = random.Random(6)
        for _ in range(48):
            fl = bytearray(raw)
            i = rng.randrange(len(fl))
            fl[i] ^= 1 << rng.randrange(8)
            out = decode_tiff_pixels(bytes(fl))
            assert out is None or out.dtype == np.uint8


@needs_reference("latex/sources/2310.06825/images/header.jpeg")
def test_jpeg_truncated_streams_render_partially():
    """Crawl payloads are often cut mid-transfer: a truncated entropy
    stream must render the MCUs/scans decoded so far (libjpeg-style),
    not discard the whole image."""
    import pathlib

    import numpy as np

    from docling_spark.multimodal import (decode_jpeg_pixels,
                                          encode_jpeg_baseline)
    img = np.zeros((64, 64, 3), np.uint8)
    img[:, :, 0] = np.arange(64)[None, :] * 4
    raw = encode_jpeg_baseline(img)
    px = decode_jpeg_pixels(raw[:len(raw) * 2 // 3])
    assert px is not None and px.shape == (64, 64, 3)
    # the intact top third still matches the original closely
    assert np.abs(px[:16].astype(int) - img[:16].astype(int)).max() <= 3
    # progressive: dropping the tail scans degrades quality, not size
    prog = pathlib.Path(
        "/root/reference/tests/data/latex/sources/2310.06825/"
        "images/header.jpeg").read_bytes()
    px = decode_jpeg_pixels(prog[:len(prog) // 2])
    assert px is not None and px.shape == (500, 1500, 3)


class TestWavSamples:
    @staticmethod
    def _wav(samples, rate=8000, bits=16, channels=1, fmt=1):
        import struct

        import numpy as np
        if fmt == 3:
            data = samples.astype("<f4").tobytes()
        elif bits == 16:
            data = (np.clip(samples, -1, 1) * 32767).astype("<i2") \
                .tobytes()
        elif bits == 8:
            data = ((np.clip(samples, -1, 1) * 127) + 128) \
                .astype(np.uint8).tobytes()
        elif bits == 24:
            v = (np.clip(samples, -1, 1) * ((1 << 23) - 1)).astype(
                np.int64) & 0xFFFFFF
            data = b"".join(int(x).to_bytes(3, "little") for x in v)
        elif bits == 32:
            data = (np.clip(samples, -1, 1) * ((1 << 31) - 1)) \
                .astype("<i4").tobytes()
        ba = channels * bits // 8
        return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
                + struct.pack("<I", 16)
                + struct.pack("<HHIIHH", fmt, channels, rate,
                              rate * ba, ba, bits)
                + b"data" + struct.pack("<I", len(data)) + data)

    def test_sine_features_all_depths(self):
        import numpy as np

        from docling_spark.multimodal import audio_features
        t = np.arange(8000) / 8000
        sine = 0.5 * np.sin(2 * np.pi * 440 * t)
        for bits, fmt in ((16, 1), (8, 1), (24, 1), (32, 1), (32, 3)):
            f = audio_features(self._wav(sine, bits=bits, fmt=fmt))
            assert f is not None, (bits, fmt)
            # RMS of a 0.5-amp sine = 0.5/sqrt(2); 8-bit is coarse
            tol = 0.01 if bits == 8 else 0.001
            assert abs(f["rms"] - 0.5 / 2 ** 0.5) < tol, (bits, f)
            assert abs(f["zcr_per_s"] - 880) < 4
            assert f["clip_ratio"] == 0.0
            assert abs(f["duration_s"] - 1.0) < 1e-9

    def test_media_features_real_rms(self, spark):
        import numpy as np

        from docling_spark import multimodal
        t = np.arange(4000) / 8000
        raw = self._wav(0.25 * np.sin(2 * np.pi * 100 * t))
        df = spark.createDataFrame(
            [(1, "audio", raw, "audio/wav")],
            "media_id long, kind string, payload binary, mime string")
        row = multimodal.extract_media_features(df).collect()[0]
        assert abs(row.duration_s - 0.5) < 1e-9
        assert abs(row.feature_v0 - 0.25 / 2 ** 0.5) < 0.001

    def test_total_on_garbage(self):
        import random

        from docling_spark.multimodal import audio_features
        raw = self._wav(__import__("numpy").zeros(100))
        rng = random.Random(12)
        for _ in range(48):
            fl = bytearray(raw)
            i = rng.randrange(len(fl))
            fl[i] ^= 1 << rng.randrange(8)
            out = audio_features(bytes(fl))
            assert out is None or isinstance(out, dict)
