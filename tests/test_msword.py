"""DOCX backend tests: golden byte-identity sweep + semantic units.

Goldens live in /root/reference/tests/data/docx/{sources,groundtruth}
(the tests that read them skip, naming the missing path, when it is absent);
OMML equations / textboxes / drawingml are declared out of scope this
round (module docstring), so the sweep asserts a floor, not 32/32.
"""

import pathlib

import pytest

from docling_spark.msword import DocxPackage, convert_docx
from docling_spark.serialize import (to_indented_text, to_json,
                                     to_markdown)

from conftest import needs_reference

SRC = pathlib.Path("/root/reference/tests/data/docx/sources")
GT = pathlib.Path("/root/reference/tests/data/docx/groundtruth")

# fixtures whose md is expected byte-identical. The one exclusion:
# - textbox: the golden silently drops 4 of 13 textboxes because the
#   reference tracks processed elements by id() of ephemeral lxml
#   proxies, which the GC reuses; our output is a strict superset.
OUT_OF_SCOPE = {"textbox"}
ITXT_ALSO_OK = set()


def _names():
    return sorted(p.stem for p in SRC.glob("*.docx"))


needs_goldens = needs_reference("docx/sources", "docx/groundtruth")


@needs_goldens
@pytest.mark.parametrize("stem", [n for n in _names()
                                  if n not in OUT_OF_SCOPE])
def test_docx_md_golden_byte_identical(stem):
    raw = (SRC / f"{stem}.docx").read_bytes()
    doc = convert_docx(raw, name=stem, filename=f"{stem}.docx")
    golden = (GT / f"{stem}.docx.md")
    assert golden.exists()
    assert to_markdown(doc) == golden.read_text()


@needs_goldens
@pytest.mark.parametrize("stem", [n for n in _names()
                                  if n not in OUT_OF_SCOPE - ITXT_ALSO_OK])
def test_docx_itxt_golden_byte_identical(stem):
    raw = (SRC / f"{stem}.docx").read_bytes()
    doc = convert_docx(raw, name=stem, filename=f"{stem}.docx")
    golden = (GT / f"{stem}.docx.itxt")
    assert golden.exists()
    assert to_indented_text(doc) == golden.read_text()


@needs_reference("docx/sources/Strict.docx")
def test_strict_package_normalized():
    raw = (SRC / "Strict.docx").read_bytes()
    pkg = DocxPackage(raw)
    assert pkg._strict is True
    assert pkg.document is not None  # parsed under transitional namespaces


def test_never_raises_on_garbage():
    with pytest.raises(Exception):
        convert_docx(b"not a zip at all")  # caller (engine) wraps this


@needs_reference("docx/sources/lorem_ipsum.docx")
def test_engine_dispatches_docx(spark):
    raw = (SRC / "lorem_ipsum.docx").read_bytes()
    from docling_spark import engine
    pages = spark.createDataFrame(
        [("https://x/lorem_ipsum.docx", raw),
         ("https://x/broken.docx", b"junk")],
        "url string, html binary")
    rows = {r["url"]: r for r in
            engine.extract_pages(pages, repartition=False).collect()}
    ok = rows["https://x/lorem_ipsum.docx"]
    assert ok["status"] == "success"
    assert ok["n_texts"] > 0
    assert rows["https://x/broken.docx"]["status"] == "failure"


def test_omml_to_latex_units():
    from xml.etree import ElementTree as ET
    from docling_spark.omml import omath_to_latex
    M = "http://schemas.openxmlformats.org/officeDocument/2006/math"
    ET.register_namespace("m", M)

    def run(xml):
        return omath_to_latex(
            ET.fromstring(f'<m:oMath xmlns:m="{M}">{xml}</m:oMath>'))

    assert run("<m:r><m:t>a=b</m:t></m:r>") == "a=b"
    assert run("<m:f><m:num><m:r><m:t>x</m:t></m:r></m:num>"
               "<m:den><m:r><m:t>y</m:t></m:r></m:den></m:f>") \
        == "\\frac{x}{y}"
    assert run("<m:sSup><m:e><m:r><m:t>r</m:t></m:r></m:e>"
               "<m:sup><m:r><m:t>2</m:t></m:r></m:sup></m:sSup>") \
        == "r^{2}"
    # fraction base grouped under a superscript
    assert run("<m:sSup><m:e><m:f><m:num><m:r><m:t>x</m:t></m:r></m:num>"
               "<m:den><m:r><m:t>v</m:t></m:r></m:den></m:f></m:e>"
               "<m:sup><m:r><m:t>2</m:t></m:r></m:sup></m:sSup>") \
        == "{\\frac{x}{v}}^{2}"
    assert run("<m:rad><m:deg/><m:e><m:r><m:t>x</m:t></m:r></m:e></m:rad>") \
        == "\\sqrt{x}"
    assert run("<m:d><m:dPr/><m:e><m:r><m:t>x</m:t></m:r></m:e></m:d>") \
        == "\\left(x\\right)"
    assert run("<m:r><m:t>π</m:t></m:r>").strip() == "\\pi"


@needs_reference("docx/sources/textbox.docx",
                 "docx/groundtruth/textbox.docx.md")
def test_textbox_superset_of_golden_documented_reference_bug():
    """The textbox golden silently drops 4 of 13 textboxes: the reference
    dedups processed elements by id() of EPHEMERAL lxml proxies
    (msword_backend.py:718-771 - `element_id = id(element)` and
    `self.processed_textbox_elements.append(id(tb_element))`), and CPython
    reuses freed proxy addresses, so later textboxes can false-positive as
    already processed. Our output is pinned as a STRICT SUPERSET: every
    golden line is present, and the only additions are the four dropped
    textbox contents."""
    import difflib
    raw = (SRC / "textbox.docx").read_bytes()
    doc = convert_docx(raw, name="textbox", filename="textbox.docx")
    ours = to_markdown(doc).splitlines()
    golden = (GT / "textbox.docx.md").read_text().splitlines()
    added, removed = [], []
    for ln in difflib.unified_diff(golden, ours, lineterm=""):
        if ln.startswith("+") and not ln.startswith("+++"):
            added.append(ln[1:])
        elif ln.startswith("-") and not ln.startswith("---"):
            removed.append(ln[1:])
    assert not [ln for ln in removed if ln.strip()], removed
    dropped_markers = [
        "Campus Safety and Disaster Prevention Information Network",
        "Department of Education:",
        "reporting and specimen collection",
        "No",
    ]
    content = [ln for ln in added if ln.strip()]
    for marker in dropped_markers:
        assert any(marker in ln for ln in content), marker


# -------------------------------------------------------- json goldens

# FORMAL SCOPE-OUT (round-5 evidence, per file). Each of these five
# json goldens bakes the output of a native rasterizer stack the
# reference invokes (msexcel_backend.py:1152-1190 and
# msword_backend.py:3056-3145: EMF/shape -> LibreOffice -> PDF ->
# pypdfium2 render(scale=2) -> crop_whitespace -> PIL PNG encode);
# reproducing it byte-exactly needs LibreOffice's vector rasterizer,
# pdfium's AA renderer and libjpeg's IDCT, none reimplementable
# deterministically in pure python:
# - test_emf_docx: image{1,2}.emf (3.1 MB each) are
#   HEADER/SETSTRETCHBLTMODE/ELLIPSE/STRETCHDIBITS/EOF - a photo DIB
#   blitted under an ellipse, golden = 279x282 / 254x267 AA-rendered
#   PNGs from the LibreOffice chain above.
# - docx_vml_images: VML shapes re-rendered: source pngs are 587 B /
#   426 B, goldens are 629 B / 510 B re-encodes at 200x200 / 150x150.
# - drawingml: DrawingML vector shape groups rasterized to 664x226 /
#   799x556 / 615x587 PNGs (no source bitmap exists for them at all).
# - textbox: five shape-rendered PNGs (38x19..1058x230) plus the
#   reference lxml id()-reuse artifact pinned in the md test.
# - word_sample: 80 KB source PNG transcoded through libjpeg/PIL to a
#   71 KB 397x397 PNG (bit-exact IDCT parity not reproducible).
# Everything NOT bound to a native rasterizer in these files (text,
# structure, prov) is already byte-identical via the md+itxt goldens.
JSON_OUT_OF_SCOPE = {"docx_vml_images", "drawingml", "test_emf_docx",
                     "textbox", "word_sample"}


@needs_goldens
@pytest.mark.parametrize(
    "stem", [n for n in _names() if n not in JSON_OUT_OF_SCOPE
             and (GT / f"{n}.docx.json").exists()])
def test_docx_json_golden_byte_identical(stem):
    """27/32 docx json goldens byte-identical, NO masking (PIL-parity
    PNG uris, detected code languages, comment sections, first-page
    header/footer variants)."""
    import hashlib
    import json as _json
    raw = (SRC / f"{stem}.docx").read_bytes()
    bh = int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")
    doc = convert_docx(raw, name=stem, filename=f"{stem}.docx",
                       binary_hash=bh)
    ours = _json.loads(to_json(doc))
    theirs = _json.load(open(GT / f"{stem}.docx.json"))
    assert ours == theirs
