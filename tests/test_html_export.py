"""HTML exporter goldens: byte-identity against the reference's shipped
``export_to_html`` groundtruth (4 ODF + 2 DOCX fixtures)."""

import pytest

from docling_spark.msword import convert_docx
from docling_spark.odf import convert_odf
from docling_spark.serialize_html import to_html

from conftest import REF, needs_reference

CASES = [
    ("odf", "odf_presentation_01.odp", convert_odf),
    ("odf", "odf_table_with_title_01.ods", convert_odf),
    ("odf", "text_document_01.odt", convert_odf),
    ("odf", "text_document_03.odt", convert_odf),
    ("docx", "word_tables.docx", convert_docx),
    ("docx", "docx_rich_cells.docx", convert_docx),
]


@needs_reference("odf/sources", "odf/groundtruth",
                 "docx/sources", "docx/groundtruth")
@pytest.mark.parametrize("fmt,fname,conv", CASES,
                         ids=[c[1] for c in CASES])
def test_html_export_byte_identical(fmt, fname, conv):
    src = REF / fmt / "sources" / fname
    gt = REF / fmt / "groundtruth" / f"{fname}.html"
    doc = conv(src.read_bytes(), name=src.stem.split(".")[0],
               filename=fname)
    assert to_html(doc) == gt.read_text()


@needs_reference("odf/sources/text_document_03.odt",
                 "odf/groundtruth/text_document_03.odt.html")
def test_png_reencode_matches_pil_output():
    """pngio.encode_png_like_pil is byte-identical to PIL's PNG save
    (verified against the data URIs PIL wrote into the html golden)."""
    import base64
    import re
    import zipfile

    from docling_spark.pngio import reencode_png_like_pil

    gt = (REF / "odf/groundtruth/text_document_03.odt.html").read_text()
    uris = re.findall(r"data:image/png;base64,([A-Za-z0-9+/=]+)", gt)
    z = zipfile.ZipFile(REF / "odf/sources/text_document_03.odt")
    name = [n for n in z.namelist() if n.startswith("Pictures/")][0]
    enc = reencode_png_like_pil(z.read(name))
    assert base64.b64encode(enc).decode("ascii") == uris[0]
