"""Property tests: the extraction function is total (never raises) and
deterministic over arbitrary byte inputs - the Spark UDF contract."""

from hypothesis import given, settings, strategies as st

from docling_spark.extractor import extract
from docling_spark.formats import (
    convert_asciidoc,
    convert_csv,
    convert_markdown,
    convert_vtt,
)
from docling_spark.serialize import to_indented_text, to_json, to_markdown

from conftest import needs_reference

# Tag soup: fragments that stress the parser state machine
_FRAGMENTS = st.sampled_from([
    "<p>", "</p>", "<div>", "</div>", "<li>", "<table>", "<tr>", "<td>",
    "<b>", "<a href='x'>", "<br>", "<h1>", "<h2>", "</h3>", "<pre>",
    "<ul>", "<ol start='3'>", "<dl>", "<dt>", "<dd>", "<img alt='i'>",
    "<input type='checkbox'>", "<form_region>", "<!-- c -->", "&amp;",
    "&#65;", "text", " ", "\n", "­x", "•", "—", "", "<footer>",
    "<span id='key1'>", "<span id='key1_value1'>", "hidden='true'",
])


@given(st.lists(_FRAGMENTS, max_size=40).map("".join))
@settings(max_examples=200, deadline=None)
def test_html_extract_total_and_deterministic(soup):
    doc1 = extract(soup.encode(), name="fuzz")
    out1 = (to_markdown(doc1), to_indented_text(doc1), to_json(doc1))
    doc2 = extract(soup.encode(), name="fuzz")
    out2 = (to_markdown(doc2), to_indented_text(doc2), to_json(doc2))
    assert out1 == out2


@given(st.binary(max_size=2048))
@settings(max_examples=100, deadline=None)
def test_all_backends_total_on_arbitrary_bytes(raw):
    for conv in (extract, convert_markdown, convert_csv, convert_vtt,
                 convert_asciidoc):
        doc = conv(raw, name="fuzz")
        to_markdown(doc)


@given(st.text(max_size=400))
@settings(max_examples=100, deadline=None)
def test_markdown_backend_total_on_text(text):
    doc = convert_markdown(text.encode(), name="fuzz")
    to_markdown(doc)
    to_indented_text(doc)
    to_json(doc)


DISPATCH_FIXTURES = ("pdf/sources/code_and_formula.pdf",
                     "docx/sources/Strict.docx",
                     "xlsx/sources/xlsx_01.xlsx",
                     "pptx/sources/powerpoint_comments.pptx",
                     "odf/sources/odf_presentation_01.odp",
                     "jats/sources/elife-56337.xml")
LEGACY_FIXTURES = ("ppt/sources/legacy_sample.ppt",
                   "xls/sources/legacy_sample.xls",
                   "doc/sources/legacy_sample.doc")


@needs_reference(*DISPATCH_FIXTURES, partial=True)
def test_engine_dispatch_total_on_corrupted_binaries():
    """Truncations and bit-flips of REAL format fixtures, driven through
    the engine dispatch: every row must yield a status envelope - a
    corrupt binary can never raise out of the UDF (Spark task contract).
    Structured corruption reaches far deeper parser states than random
    bytes."""
    import pathlib
    import random

    import pyarrow as pa

    from docling_spark.engine import _extract_batches

    ref = pathlib.Path("/root/reference/tests/data")
    fixtures = []
    for pat in DISPATCH_FIXTURES:
        p = ref / pat
        if p.exists():
            fixtures.append((p.name, p.read_bytes()))
    assert len(fixtures) >= 5, f"fixtures missing: {fixtures}"
    rng = random.Random(1234)
    rows_url, rows_raw = [], []
    for name, raw in fixtures:
        for i in range(6):
            cut = rng.randrange(1, len(raw))
            rows_url.append(f"https://f/{i}/{name}")
            rows_raw.append(raw[:cut])
        flipped = bytearray(raw)
        for _ in range(16):
            pos = rng.randrange(len(flipped))
            flipped[pos] ^= 1 << rng.randrange(8)
        rows_url.append(f"https://f/flip/{name}")
        rows_raw.append(bytes(flipped))
    batch = pa.RecordBatch.from_pydict({"url": rows_url, "html": rows_raw})
    outs = [o.to_pandas() for o in _extract_batches([batch])]
    total = sum(len(o) for o in outs)
    assert total == len(rows_url)
    for o in outs:
        assert set(o["status"]) <= {"success", "failure"}


@needs_reference("ppt/sources/legacy_sample.ppt",
                 "xls/sources/legacy_sample.xls")
def test_legacy_binary_parsers_total_on_hostile_bytes():
    """Crawl-scale totality for the two newest from-scratch binary
    parsers (OLE2 containers: .ppt OfficeArt walk, .xls BIFF8): dense
    single-bit flips, multi-bit flips, and truncations of the real
    fixtures must either parse or raise a catchable Exception - never
    hang, never escape as a non-Exception error. Same pattern as the
    WARC bit-flip harness (tests/test_warc.py)."""
    import pathlib
    import random

    from docling_spark.legacy import convert_xls
    from docling_spark.pptbin import convert_ppt
    from docling_spark.serialize import to_json, to_markdown

    ref = pathlib.Path("/root/reference/tests/data")
    targets = [
        (convert_ppt, (ref / "ppt/sources/legacy_sample.ppt").read_bytes()),
        (convert_xls, (ref / "xls/sources/legacy_sample.xls").read_bytes()),
    ]
    rng = random.Random(77)
    for conv, raw in targets:
        # single-bit flips: 96 random positions (headers, directory,
        # FAT, record payloads all get hit at this density)
        for _ in range(96):
            flipped = bytearray(raw)
            i = rng.randrange(len(flipped))
            flipped[i] ^= 1 << rng.randrange(8)
            try:
                doc = conv(bytes(flipped), name="fuzz")
                to_markdown(doc)
                to_json(doc)
            except Exception:
                pass  # a clean raise is fine; the engine envelopes it
        # multi-bit storms
        for _ in range(16):
            flipped = bytearray(raw)
            for _ in range(32):
                i = rng.randrange(len(flipped))
                flipped[i] ^= 1 << rng.randrange(8)
            try:
                to_markdown(conv(bytes(flipped), name="fuzz"))
            except Exception:
                pass
        # truncations at structure-relevant sizes (OLE2 header is 512,
        # sector boundaries every 512)
        cuts = {1, 8, 64, 511, 512, 513, 1024, len(raw) // 2,
                len(raw) - 1}
        for cut in sorted(c for c in cuts if 0 < c < len(raw)):
            try:
                to_markdown(conv(raw[:cut], name="fuzz"))
            except Exception:
                pass
        # unflipped fixture still parses after all that (no shared state)
        to_markdown(conv(raw, name="fuzz"))


@needs_reference(*LEGACY_FIXTURES, partial=True)
def test_legacy_parsers_enveloped_by_engine_dispatch():
    """The same hostile .ppt/.xls/.doc bytes driven through the engine
    batch path: every row must come back as a status envelope."""
    import pathlib
    import random

    import pyarrow as pa

    from docling_spark.engine import _extract_batches

    ref = pathlib.Path("/root/reference/tests/data")
    fixtures = [(p.name, p.read_bytes())
                for p in (ref / pat for pat in LEGACY_FIXTURES) if p.exists()]
    assert len(fixtures) == 3
    rng = random.Random(99)
    urls, raws = [], []
    for name, raw in fixtures:
        for i in range(8):
            flipped = bytearray(raw)
            for _ in range(8):
                pos = rng.randrange(len(flipped))
                flipped[pos] ^= 1 << rng.randrange(8)
            urls.append(f"https://f/flip{i}/{name}")
            raws.append(bytes(flipped))
            cut = rng.randrange(1, len(raw))
            urls.append(f"https://f/cut{i}/{name}")
            raws.append(raw[:cut])
    batch = pa.RecordBatch.from_pydict({"url": urls, "html": raws})
    outs = [o.to_pandas() for o in _extract_batches([batch])]
    assert sum(len(o) for o in outs) == len(urls)
    for o in outs:
        assert set(o["status"]) <= {"success", "failure"}


@given(st.integers(0, 2**31 - 1), st.integers(2, 24), st.integers(2, 24),
       st.sampled_from([1, 3]))
@settings(max_examples=40, deadline=None)
def test_png_gif_bmp_roundtrip_property(seed, h, w, nch):
    """Property: any small uint8 image round-trips EXACTLY through the
    from-scratch PNG and BMP codecs, and through GIF when it has <=256
    distinct colors (seeded palette guarantees it)."""
    import numpy as np

    from docling_spark.multimodal import (decode_bmp_pixels,
                                          decode_gif_pixels,
                                          decode_png_pixels, encode_gif)
    from docling_spark.pngio import encode_png_like_pil
    rng = np.random.RandomState(seed % 2**32)
    palette = rng.randint(0, 256, (16, nch), dtype=np.uint8)
    img = palette[rng.randint(0, 16, (h, w))]
    if nch == 1:
        png_in = img
    else:
        png_in = img
    out = decode_png_pixels(encode_png_like_pil(png_in))
    assert (out == png_in).all()
    gif_in = img[:, :, 0] if nch == 1 else img
    out = decode_gif_pixels(encode_gif(gif_in))
    want = img if nch == 3 else np.repeat(img, 3, axis=2)
    assert (out == want).all()
    if nch == 3:
        # BMP writer from the unit tests' recipe, 24-bit bottom-up
        import struct
        stride = (w * 24 + 31) // 32 * 4
        data = b"".join(
            img[y][:, ::-1].tobytes() + b"\x00" * (stride - w * 3)
            for y in range(h - 1, -1, -1))
        hdr = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                          len(data), 2835, 2835, 0, 0)
        raw = (b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
               + hdr + data)
        out = decode_bmp_pixels(raw)
        assert (out == img).all()


@given(st.integers(0, 2**31 - 1), st.integers(8, 32), st.integers(9, 32))
@settings(max_examples=25, deadline=None)
def test_jpeg_roundtrip_and_dhash_stability_property(seed, h, w):
    """Property: all-ones-quant baseline JPEG round-trips within the
    DCT rounding envelope, and the dHash of the decoded image differs
    from the original's by at most a few gradient bits (the near-dup
    property the image pipeline relies on)."""
    import numpy as np

    from docling_spark.multimodal import (decode_jpeg_pixels,
                                          dhash_pixels,
                                          encode_jpeg_baseline)
    rng = np.random.RandomState(seed % 2**32)
    # smooth content (JPEG's operating regime): low-freq sinusoids
    yy, xx = np.mgrid[0:h, 0:w]
    base = (128 + 60 * np.sin(xx / (3 + seed % 5))
            + 50 * np.cos(yy / (2 + seed % 7)))
    img = np.clip(base, 0, 255).astype(np.uint8)[:, :, None]
    img = np.repeat(img, 3, axis=2)
    px = decode_jpeg_pixels(encode_jpeg_baseline(img))
    assert px.shape == img.shape
    assert np.abs(px.astype(int) - img.astype(int)).max() <= 4
    ha = dhash_pixels(img)
    hb = dhash_pixels(px)
    ham = bin((ha % (1 << 64)) ^ (hb % (1 << 64))).count("1")
    assert ham <= 6, ham
