"""XLSX backend tests: golden byte-identity sweep + semantic unit vectors.

Goldens live in /root/reference/tests/data/xlsx/{sources,groundtruth};
the tests that read them skip, naming the missing path, when it is absent.
md and itxt are byte-identical for all 11 fixtures; json is compared with
every picture's ``image.uri`` masked (the reference embeds a
PIL-re-encoded PNG; we carry the original bytes). xlsx_emf's json is out
of scope: its golden image sizes come from a LibreOffice EMF->PDF->PNG
rasterization unavailable here (the md/itxt for it DO match).
"""

import hashlib
import json
import pathlib

import pytest

from docling_spark.msexcel import (
    ExcelCellOut, ExcelTableOut, XlsxWorkbook, _MergedIndex, _Sheet,
    _format_threaded_ts, convert_xlsx, find_data_tables,
    split_leading_section_label)
from docling_spark.serialize import (
    _tabulate_grid, to_indented_text, to_json, to_markdown)

from conftest import needs_reference

SRC = pathlib.Path("/root/reference/tests/data/xlsx/sources")
GT = pathlib.Path("/root/reference/tests/data/xlsx/groundtruth")

JSON_OUT_OF_SCOPE = {"xlsx_emf"}
ALL_LAYER_STEMS = {"xlsx_comments"}  # reference generates its md with all
#                                      content layers (test_backend_msexcel)


def _paths():
    return sorted(SRC.glob("*.xlsx")) + sorted(SRC.glob("*.xlsm"))


PATHS = _paths()
JSON_PATHS = [p for p in PATHS if p.stem not in JSON_OUT_OF_SCOPE]
needs_goldens = needs_reference("xlsx/sources", "xlsx/groundtruth")


def _convert(path: pathlib.Path):
    raw = path.read_bytes()
    bh = int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")
    return convert_xlsx(raw, name=path.stem, filename=path.name,
                        binary_hash=bh)


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=[p.stem for p in PATHS])
def test_xlsx_md_golden_byte_identical(path):
    doc = _convert(path)
    layers = (("body", "furniture", "notes", "invisible")
              if path.stem in ALL_LAYER_STEMS else ("body",))
    golden = GT / f"{path.name}.md"
    assert golden.exists()
    assert to_markdown(doc, layers=layers) == golden.read_text()


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=[p.stem for p in PATHS])
def test_xlsx_itxt_golden_byte_identical(path):
    doc = _convert(path)
    golden = GT / f"{path.name}.itxt"
    assert golden.exists()
    assert to_indented_text(doc) == golden.read_text()


@needs_goldens
@pytest.mark.parametrize("path", JSON_PATHS,
                         ids=[p.stem for p in JSON_PATHS])
def test_xlsx_json_golden_byte_identical(path):
    """UNMASKED: PNG image data URIs match via the PIL-parity
    re-encoder; only the EMF fixture stays out of scope (EMF
    rasterization needs LibreOffice)."""
    doc = _convert(path)
    ours = json.loads(to_json(doc))
    theirs = json.load(open(GT / f"{path.name}.json"))
    assert ours == theirs


# ---------------------------------------------------------------- units

def _sheet_with(cells: dict, merged=()):
    sheet = _Sheet("S", "visible", False, "xl/worksheets/sheet1.xml")
    sheet.cells.update(cells)
    sheet.merged.extend(merged)
    return sheet


def test_flood_fill_two_disconnected_regions():
    sheet = _sheet_with({(0, 0): "a", (0, 1): "b",
                         (3, 0): "x", (3, 1): "y"})
    tables = find_data_tables(sheet)
    assert [(t.anchor, t.num_rows, t.num_cols) for t in tables] == [
        ((0, 0), 1, 2), ((0, 3), 1, 2)]


def test_flood_fill_gap_tolerance_bridges():
    sheet = _sheet_with({(0, 0): "a", (2, 0): "b"})
    assert len(find_data_tables(sheet, gap_tolerance=0)) == 2
    assert len(find_data_tables(sheet, gap_tolerance=1)) == 1


def test_merged_cells_span_and_shadow_skip():
    # A1:B1 merged with value in anchor; one data row below
    sheet = _sheet_with({(0, 0): "hdr", (1, 0): 1, (1, 1): 2},
                        merged=[(0, 0, 0, 1)])
    (table,) = find_data_tables(sheet)
    anchor = next(c for c in table.data if c.row == 0 and c.col == 0)
    assert (anchor.row_span, anchor.col_span) == (1, 2)
    # the shadow (0,1) is not emitted
    assert not any(c.row == 0 and c.col == 1 for c in table.data)


def test_section_label_split():
    data = [ExcelCellOut(0, 0, "Title", 1, 3),
            ExcelCellOut(1, 0, "h1", 1, 1), ExcelCellOut(1, 1, "h2", 1, 1),
            ExcelCellOut(1, 2, "h3", 1, 1),
            ExcelCellOut(2, 0, "1", 1, 1), ExcelCellOut(2, 1, "2", 1, 1),
            ExcelCellOut(2, 2, "3", 1, 1)]
    table = ExcelTableOut((0, 0), 3, 3, data)
    title, rest = split_leading_section_label(table)
    assert title is not None and title.text == "Title"
    assert rest.num_rows == 2 and rest.anchor == (0, 1)


def test_section_label_not_split_when_two_texts_in_first_row():
    data = [ExcelCellOut(0, 0, "A", 1, 2), ExcelCellOut(0, 2, "B", 1, 1),
            ExcelCellOut(1, 0, "h1", 1, 1), ExcelCellOut(1, 1, "h2", 1, 1)]
    table = ExcelTableOut((0, 0), 2, 3, data)
    title, rest = split_leading_section_label(table)
    assert title is None and rest is table


@needs_reference("xlsx/sources/xlsx_02_sample_sales_data.xlsm")
def test_cell_value_typing_matches_openpyxl():
    wb = XlsxWorkbook((SRC / "xlsx_02_sample_sales_data.xlsm").read_bytes())
    sales = next(s for s in wb.sheets if s.name == "SalesData")
    # date-formatted serial -> datetime, str() renders like openpyxl
    assert str(sales.cells[(1, 1)]) == "2024-01-01 00:00:00"
    # general numbers -> int, not float
    assert sales.cells[(1, 2)] == 5 and isinstance(sales.cells[(1, 2)], int)
    assert sales.cells[(1, 0)] == "Widget A"


@needs_reference("xlsx/sources/xlsx_01.xlsx")
def test_hidden_sheet_is_invisible_layer():
    doc = _convert(SRC / "xlsx_01.xlsx")
    hidden = [g for g in doc.groups if g.name == "Sheet4"]
    assert hidden and hidden[0].content_layer == "invisible"
    # pages cover all 4 sheets
    assert sorted(doc.pages) == [1, 2, 3, 4]


@needs_reference("xlsx/sources/xlsx_01.xlsx")
def test_chart_meta_and_caption():
    doc = _convert(SRC / "xlsx_01.xlsx")
    chart_pics = [p for p in doc.pictures if p.meta]
    assert chart_pics
    classes = {p.meta["classification"]["predictions"][0]["class_name"]
               for p in chart_pics}
    assert {"line_chart", "scatter_chart"} <= classes
    assert any(p.captions for p in chart_pics)


def test_threaded_timestamp_millis():
    assert _format_threaded_ts("2026-06-18T17:15:52.31") == \
        "2026-06-18T17:15:52.310"
    assert _format_threaded_ts("garbage") is None


def test_tabulate_grid_alignment_rules():
    chart = {
        "num_rows": 3, "num_cols": 2,
        "table_cells": [
            {"start_row_offset_idx": 0, "start_col_offset_idx": 0,
             "text": ""},
            {"start_row_offset_idx": 0, "start_col_offset_idx": 1,
             "text": "col-3"},
            {"start_row_offset_idx": 1, "start_col_offset_idx": 0,
             "text": "1"},
            {"start_row_offset_idx": 1, "start_col_offset_idx": 1,
             "text": "3"},
            {"start_row_offset_idx": 2, "start_col_offset_idx": 0,
             "text": "2"},
            {"start_row_offset_idx": 2, "start_col_offset_idx": 1,
             "text": "12"},
        ]}
    assert _tabulate_grid(chart) == (
        "|    |   col-3 |\n"
        "|----|---------|\n"
        "|  1 |       3 |\n"
        "|  2 |      12 |")


def test_never_raises_on_garbage():
    for junk in (b"", b"PK\x03\x04garbage", b"not a zip at all"):
        try:
            convert_xlsx(junk, name="junk")
        except Exception as exc:
            # engine wraps any exception into a failure envelope; only
            # assert it is an orderly python exception, not a crash
            assert isinstance(exc, Exception)


def test_merged_index_bounds_cover_valueless_ranges():
    idx = _MergedIndex([(5, 5, 7, 8)])
    assert idx.bounds == (5, 5, 7, 8)
    assert idx.contains(6, 6) and idx.span_at(5, 5) == (3, 4)


class TestLegacyXls:
    """Legacy BIFF8 .xls through the OLE2 reader (docling_spark.legacy),
    sharing the xlsx table pipeline: 1/1 shipped golden byte-identical
    in all three export formats."""

    @needs_reference("xls/sources/legacy_sample.xls", "xls/groundtruth")
    def test_legacy_xls_goldens(self):
        import functools
        import hashlib
        import pathlib

        from docling_spark.legacy import convert_xls
        from docling_spark.serialize import (to_indented_text, to_json,
                                             to_markdown)
        src = pathlib.Path(
            "/root/reference/tests/data/xls/sources/legacy_sample.xls")
        gt = pathlib.Path("/root/reference/tests/data/xls/groundtruth")
        raw = src.read_bytes()
        bh = int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")
        doc = convert_xls(raw, name="legacy_sample",
                          filename="legacy_sample.xls", binary_hash=bh)
        for ext, fn in (("md", to_markdown), ("itxt", to_indented_text),
                        ("json", functools.partial(to_json, indent=2))):
            assert fn(doc) == (gt / f"legacy_sample.xls.{ext}").read_text(), ext

    @needs_reference("xls/sources/legacy_sample.xls")
    def test_ole2_reader_streams(self):
        from docling_spark.legacy import OleFile
        raw = open("/root/reference/tests/data/xls/sources/"
                   "legacy_sample.xls", "rb").read()
        ole = OleFile(raw)
        wb = ole.stream("Workbook")
        assert wb is not None and wb[:2] == b"\x09\x08"  # BIFF8 BOF

    def test_corrupt_xls_raises_cleanly(self):
        import pytest

        from docling_spark.legacy import convert_xls
        with pytest.raises(Exception):
            convert_xls(b"\xd0\xcf\x11\xe0garbage")
