"""PPTX backend tests: golden byte-identity sweep + semantic unit vectors.

Goldens live in /root/reference/tests/data/pptx/{sources,groundtruth};
the tests that read them skip, naming the missing path, when it is absent.
md, itxt, and json (picture image.uri byte-identical - the reference embeds a
PIL-re-encoded PNG, we carry the original bytes) are identical for all
8 fixtures.
"""

import hashlib
import json
import pathlib

import pytest

from docling_spark.mspptx import (
    _classify_plot_tag, _image_dpi, _iter_shapes_by_position, convert_pptx)
from docling_spark.serialize import to_indented_text, to_json, to_markdown

from conftest import needs_reference

SRC = pathlib.Path("/root/reference/tests/data/pptx/sources")
GT = pathlib.Path("/root/reference/tests/data/pptx/groundtruth")

ALL_LAYER_STEMS = {"powerpoint_comments"}


def _paths():
    return sorted(SRC.glob("*.pptx"))


PATHS = _paths()
IDS = [p.stem for p in PATHS]
needs_goldens = needs_reference("pptx/sources", "pptx/groundtruth")


def _convert(path: pathlib.Path):
    raw = path.read_bytes()
    bh = int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")
    return convert_pptx(raw, name=path.stem, filename=path.name,
                        binary_hash=bh)


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=IDS)
def test_pptx_md_golden_byte_identical(path):
    doc = _convert(path)
    layers = (("body", "furniture", "notes")
              if path.stem in ALL_LAYER_STEMS else ("body",))
    assert to_markdown(doc, layers=layers) == \
        (GT / f"{path.name}.md").read_text()


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=IDS)
def test_pptx_itxt_golden_byte_identical(path):
    doc = _convert(path)
    assert to_indented_text(doc) == (GT / f"{path.name}.itxt").read_text()


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=IDS)
def test_pptx_json_golden_byte_identical(path):
    """UNMASKED: image data URIs match byte-for-byte via the
    PIL-parity PNG re-encoder (pngio)."""
    doc = _convert(path)
    ours = json.loads(to_json(doc))
    theirs = json.load(open(GT / f"{path.name}.json"))
    assert ours == theirs


# ---------------------------------------------------------------- units

@needs_reference("pptx/sources/powerpoint_sample.pptx")
def test_slide_structure_sample():
    doc = _convert(SRC / "powerpoint_sample.pptx")
    chapters = [g for g in doc.groups if g.label == "chapter"]
    assert [g.name for g in chapters] == ["slide-0", "slide-1", "slide-2"]
    titles = [t for t in doc.texts if t.label == "title"]
    assert titles and titles[0].text == "Test Table Slide"
    # table keeps grid spans
    assert doc.tables and doc.tables[0].data.num_rows == 9
    # prov bboxes are EMU BOTTOMLEFT with (l, b, r, t) tuple order
    prov = titles[0].prov[0]
    assert prov["bbox"]["coord_origin"] == "BOTTOMLEFT"
    assert prov["bbox"]["t"] > prov["bbox"]["b"]
    assert prov["charspan"] == [0, len(titles[0].text)]


@needs_reference("pptx/sources/pptx_chart.pptx")
def test_chart_classified_with_data():
    doc = _convert(SRC / "pptx_chart.pptx")
    pic = doc.pictures[0]
    assert pic.meta["classification"]["predictions"][0][
        "class_name"] == "bar_chart"
    chart = pic.meta["tabular_chart"]["chart_data"]
    texts = [c["text"] for c in chart["table_cells"]]
    assert "Freshwater Ducks" in texts and "120" in texts


@needs_reference("pptx/sources/powerpoint_malformed_pictures.pptx")
def test_malformed_pictures_skipped():
    doc = _convert(SRC / "powerpoint_malformed_pictures.pptx")
    assert doc.pictures == []  # missing blip, dangling rel, bad content type


@needs_reference("pptx/sources/powerpoint_comments.pptx")
def test_comments_on_notes_layer():
    doc = _convert(SRC / "powerpoint_comments.pptx")
    groups = [g for g in doc.groups if g.label == "comment_section"]
    assert len(groups) == 4
    assert all(g.content_layer == "notes" for g in groups)
    comment = doc.resolve(groups[0].children[0])
    assert comment.text.startswith("[author: ")


def test_shape_row_ordering():
    class FakeSlide:
        def shape_frame(self, sp):
            return sp  # shapes ARE their frames in this test

    # same row within tolerance sorts left-to-right; distinct rows by top
    # frames are (left, top, width, height)
    a = (500, 0, 10, 10)      # row 1, right
    b = (100, 40000, 10, 10)  # row 1 (top within 45720), left
    c = (0, 200000, 10, 10)   # row 2
    out = _iter_shapes_by_position(FakeSlide(), [a, c, b])
    assert out == [b, a, c]


def test_classify_plot_tags():
    assert _classify_plot_tag("barChart") == "bar_chart"
    assert _classify_plot_tag("doughnutChart") == "pie_chart"
    assert _classify_plot_tag("scatterChart") == "scatter_chart"
    assert _classify_plot_tag("stockChart") == "other_chart"
    assert _classify_plot_tag("catAx") is None


def test_png_phys_dpi():
    import struct, zlib
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    phys = struct.pack(">IIB", 11811, 11811, 1)  # 300 dpi in px/m

    def chunk(typ, data):
        c = struct.pack(">I", len(data)) + typ + data
        return c + struct.pack(">I", zlib.crc32(typ + data))

    blob = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"pHYs", phys) + chunk(b"IDAT", b"") )
    assert _image_dpi(blob) == 300
    assert _image_dpi(b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                      + chunk(b"IDAT", b"")) == 72


def test_never_raises_on_garbage():
    for junk in (b"", b"PK\x03\x04garbage", b"not a zip"):
        try:
            convert_pptx(junk, name="junk")
        except Exception as exc:
            assert isinstance(exc, Exception)
