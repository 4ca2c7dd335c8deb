"""Chandra-OCR-2 HTML and dots.ocr JSON parsers — mirrors the
reference's test_chandra_vlm.py / test_dots_vlm.py assertions over the
shipped fixture files."""

import pathlib

import pytest

from docling_spark.vlmparsers import (parse_chandra_html, parse_dots_json,
                                      sniff_chandra, sniff_dots)

from conftest import needs_reference

CHANDRA = pathlib.Path("/root/reference/tests/data/html_chandra/sources")
DOTS = pathlib.Path("/root/reference/tests/data/json_dots/sources")
# small prediction samples shipped with the tests, so the sweeps below
# always parse something, with or without the Docling corpus
SAMPLES = pathlib.Path(__file__).resolve().parent / "data"


class TestChandra:
    @needs_reference("html_chandra/sources/chandra_simple.html")
    def test_simple_parsing(self):
        content = (CHANDRA / "chandra_simple.html").read_text()
        doc = parse_chandra_html(content, 612, 792, 1,
                                 "chandra_simple.html")
        assert len(doc.texts) > 0
        labels = [t.label for t in doc.texts]
        assert "section_header" in labels
        assert "caption" in labels
        assert "page_header" in labels
        assert len(doc.tables) > 0
        for item in doc.texts:
            assert item.prov
            bb = item.prov[0]["bbox"]
            assert bb["l"] >= 0 and bb["t"] >= 0

    @needs_reference("html_chandra/sources/chandra_multiblock.html")
    def test_multiblock_parsing(self):
        content = (CHANDRA / "chandra_multiblock.html").read_text()
        doc = parse_chandra_html(content, 612, 792, 1,
                                 "chandra_multiblock.html")
        labels = [t.label for t in doc.texts]
        assert "section_header" in labels
        assert "caption" in labels
        assert "page_footer" in labels
        assert len(doc.pictures) > 0

    def test_bbox_normalization(self):
        content = ('<div data-bbox="0 0 1000 1000" data-label="Text">'
                   "<p>full page</p></div>")
        doc = parse_chandra_html(content, 612, 792, 1, "test.html")
        assert len(doc.texts) == 1
        bb = doc.texts[0].prov[0]["bbox"]
        assert abs(bb["r"] - 612) < 1
        assert abs(bb["b"] - 792) < 1

    @pytest.mark.parametrize("content", ["", "   ", "\n\t"])
    def test_empty_content(self, content):
        doc = parse_chandra_html(content, 612, 792, 1, "empty.html")
        assert len(doc.texts) == 0

    def test_malformed_divs(self):
        content = (
            '<div data-label="Text"><p>no bbox</p></div>'
            '<div data-bbox="0 0 500 500"><p>no label</p></div>'
            '<div data-bbox="bad coords" data-label="Text"><p>bad</p></div>'
            '<div data-bbox="0 0 500" data-label="Text"><p>incomplete</p>'
            "</div>")
        doc = parse_chandra_html(content, 612, 792, 1, "malformed.html")
        assert len(doc.texts) == 0

    def test_unknown_label_fallback(self):
        content = ('<div data-bbox="100 100 200 200" '
                   'data-label="UnknownType"><p>fallback</p></div>')
        doc = parse_chandra_html(content, 612, 792, 1, "unknown.html")
        assert [t.label for t in doc.texts] == ["text"]

    def test_table_parsing(self):
        content = ('<div data-bbox="50 50 500 300" data-label="Table">'
                   "<table><tr><th>Header</th></tr><tr><td>Cell</td></tr>"
                   "</table></div>")
        doc = parse_chandra_html(content, 612, 792, 1, "table.html")
        assert len(doc.tables) == 1
        cells = doc.tables[0].data.table_cells
        assert cells[0].text == "Header" and cells[0].column_header

    @needs_reference("html_chandra/sources/chandra_list_group.html")
    def test_list_group_prediction_sample(self):
        content = (CHANDRA / "chandra_list_group.html").read_text()
        doc = parse_chandra_html(content, 612, 792, 1,
                                 "chandra_list_group.html")
        items = [t for t in doc.texts if t.label == "list_item"]
        assert len(items) == 4
        assert "IBM MT/ST" in items[0].text
        assert "Wang Laboratories" in items[1].text
        assert "WordStar" in items[2].text
        assert "Microsoft Word" in items[3].text

    def test_all_files_parse(self):
        shipped = sorted((SAMPLES / "html_chandra").glob("*.html"))
        assert shipped, f"no .html files in {SAMPLES / 'html_chandra'}"
        for path in shipped + sorted(CHANDRA.glob("*.html")):
            doc = parse_chandra_html(path.read_text(), 612, 792, 1,
                                     path.name)
            assert len(doc.texts) + len(doc.tables) + len(doc.pictures) > 0


class TestDots:
    @needs_reference("json_dots/sources/dots_simple.json")
    def test_simple_parsing(self):
        content = (DOTS / "dots_simple.json").read_text()
        doc = parse_dots_json(content, 612, 792, 1, "dots_simple.json")
        labels = [t.label for t in doc.texts]
        assert "title" in labels
        assert "section_header" in labels
        assert "caption" in labels
        assert "footnote" in labels
        assert any("DocLayNet" in (t.text or "") for t in doc.texts)
        assert len(doc.pictures) > 0
        for item in doc.texts:
            assert item.prov
            bb = item.prov[0]["bbox"]
            assert bb["l"] >= 0 and bb["t"] >= 0

    @needs_reference("json_dots/sources/dots_list.json")
    def test_list_parsing(self):
        content = (DOTS / "dots_list.json").read_text()
        doc = parse_dots_json(content, 612, 792, 1, "dots_list.json")
        items = [t for t in doc.texts if t.label == "list_item"]
        assert len(items) == 2
        assert "IBM MT/ST" in items[0].text
        assert "Microsoft Word" in items[1].text

    def test_model_image_size_rescaling(self):
        content = ('[{"bbox": [0, 0, 560, 560], "category": "Text", '
                   '"text": "hello"}]')
        doc = parse_dots_json(content, 612, 792, 1, "test.json",
                              model_image_size=(560, 560))
        bb = doc.texts[0].prov[0]["bbox"]
        assert abs(bb["r"] - 612) < 1
        assert abs(bb["b"] - 792) < 1

    @pytest.mark.parametrize("content", ["", "   ", "\n"])
    def test_empty_content(self, content):
        doc = parse_dots_json(content, 612, 792, 1, "empty.json")
        assert len(doc.texts) == 0

    def test_malformed_json(self):
        doc = parse_dots_json("this is not json at all", 612, 792, 1,
                              "bad.json")
        assert len(doc.texts) == 0

    def test_truncated_json(self):
        content = ('[{"bbox": [0, 0, 100, 100], "category": "Text", '
                   '"text": "hello"}, {"bbox": [0, 100, 200, 200], '
                   '"category": "Tex')
        doc = parse_dots_json(content, 612, 792, 1, "truncated.json")
        assert len(doc.texts) >= 1

    def test_bad_bbox_elements(self):
        content = (
            "["
            '{"bbox": "not a list", "category": "Text", "text": "bad"},'
            '{"bbox": [0, 0], "category": "Text", "text": "short"},'
            '{"bbox": [0, 0, 100, 100], "category": "Text", "text": "good"}'
            "]")
        doc = parse_dots_json(content, 612, 792, 1, "bad_bbox.json")
        assert len(doc.texts) == 1 and doc.texts[0].text == "good"

    def test_non_dict_elements(self):
        content = ('[42, "string", {"bbox": [0, 0, 100, 100], '
                   '"category": "Text", "text": "valid"}]')
        doc = parse_dots_json(content, 612, 792, 1, "mixed.json")
        assert len(doc.texts) == 1

    def test_all_files_parse(self):
        shipped = sorted((SAMPLES / "json_dots").glob("*.json"))
        assert shipped, f"no .json files in {SAMPLES / 'json_dots'}"
        for path in shipped + sorted(DOTS.glob("*.json")):
            doc = parse_dots_json(path.read_text(), 612, 792, 1, path.name)
            assert len(doc.texts) + len(doc.tables) + len(doc.pictures) > 0


class TestDispatch:
    @needs_reference("html_chandra/sources/chandra_simple.html",
                     "json_dots/sources/dots_simple.json")
    def test_sniffs(self):
        assert sniff_chandra(
            (CHANDRA / "chandra_simple.html").read_bytes())
        assert not sniff_chandra(b"<html><body>regular page</body></html>")
        # crawled page that merely CONTAINS the attributes must not
        # dispatch to the VLM parser (it drops non-div content)
        assert not sniff_chandra(
            b'<!DOCTYPE html><html><head><title>t</title></head><body>'
            b'<p>intro</p><div data-bbox="1 2 3 4" data-label="Text">'
            b'x</div></body></html>')
        # first-div shape but an unknown label value: not chandra output
        assert not sniff_chandra(
            b'<div data-bbox="1 2 3 4" data-label="promo-banner">x</div>')
        # non-numeric bbox: not chandra output
        assert not sniff_chandra(
            b'<div data-bbox="a b c d" data-label="Text">x</div>')
        # attribute order reversed is still chandra
        assert sniff_chandra(
            b'<div data-label="Text" data-bbox="1 2 3 4">x</div>')
        assert sniff_dots((DOTS / "dots_simple.json").read_bytes())
        assert not sniff_dots(b'{"bbox": [1,2,3,4]}')  # not an array
        assert not sniff_dots(b'[{"x": 1}]')

    @needs_reference("html_chandra/sources/chandra_simple.html",
                     "json_dots/sources/dots_simple.json")
    def test_engine_dispatch(self, spark):
        from docling_spark import engine
        rows = [
            ("https://x/pred.html",
             (CHANDRA / "chandra_simple.html").read_bytes()),
            ("https://x/pred.json",
             (DOTS / "dots_simple.json").read_bytes()),
        ]
        df = spark.createDataFrame(rows, "url string, html binary")
        got = {r["url"]: r for r in
               engine.extract_pages(df, repartition=False).collect()}
        assert got["https://x/pred.html"]["status"] == "success"
        assert got["https://x/pred.html"]["n_tables"] >= 1
        assert got["https://x/pred.json"]["status"] == "success"
        assert got["https://x/pred.json"]["n_pictures"] >= 1
