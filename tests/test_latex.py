"""LaTeX backend tests (PARTIAL backend: core subset).

The two synthetic fixtures are byte-identical in md+itxt+json; the six
arXiv-paper fixtures need the full macro library (custom multi-arg
macros, \\input resolution, bibliographies) and are round-3 scope.
"""

import json
import pathlib

import pytest

from docling_spark.latex import (
    Walker, Chars, Environment, Macro, Math, convert_latex, parse_tabular,
    LatexConverter)
from docling_spark.model import Doc
from docling_spark.serialize import to_indented_text, to_json, to_markdown

from conftest import needs_reference

SRC = pathlib.Path("/root/reference/tests/data/latex/sources")
GT = pathlib.Path("/root/reference/tests/data/latex/groundtruth")

IN_SCOPE = ["example_01", "example_02"]


@needs_reference("latex/sources", "latex/groundtruth")
@pytest.mark.parametrize("stem", IN_SCOPE)
def test_latex_goldens_byte_identical(stem):
    doc = convert_latex((SRC / f"{stem}.tex").read_bytes(), name=stem,
                        filename=f"{stem}.tex")
    assert to_markdown(doc) == (GT / f"{stem}.tex.md").read_text()
    assert to_indented_text(doc) == (GT / f"{stem}.tex.itxt").read_text()
    assert json.loads(to_json(doc)) == json.load(
        open(GT / f"{stem}.tex.json"))


def test_walker_nodes():
    nodes = Walker("a \\textbf{b} $x^2$ % comment\n"
                   "\\begin{itemize}\\item one\\end{itemize}").parse()
    kinds = [type(n).__name__ for n in nodes]
    assert kinds == ["Chars", "Macro", "Chars", "Math", "Chars",
                     "Environment"]
    assert nodes[1].name == "textbf"
    assert isinstance(nodes[1].args[0][0], Chars)
    assert nodes[3].content == "x^2"
    assert nodes[5].name == "itemize"


def test_display_math_and_inline_math():
    doc = convert_latex(b"\\begin{document}Inline $a+b$ here.\n\n"
                        b"$$c=d$$\n\\end{document}", name="m")
    labels = [(t.label, t.text) for t in doc.texts]
    # parts[0].strip() eats the space after the math run - faithful to
    # the reference's chars-node handling
    assert ("text", "Inline $a+b$here.") in labels
    assert ("formula", "c=d") in labels


def test_tabular_trailing_empty_row():
    conv = LatexConverter(Doc("t"))
    data = parse_tabular(
        "{|c|c|}\n\\hline\nA & B \\\\\n\\hline\n1 & 2 \\\\\n\\hline\n",
        conv)
    assert data.num_rows == 3 and data.num_cols == 2  # incl. empty tail
    assert not data.table_cells[0].column_header  # reference: never set


def test_cite_and_ref_bracketed():
    doc = convert_latex(
        b"\\begin{document}See \\cite{a} and \\ref{b}.\\end{document}",
        name="c")
    assert doc.texts[0].text == "See [a] and [b]."


def test_newcommand_expansion():
    doc = convert_latex(
        b"\\newcommand{\\foo}{WORLD}\\begin{document}"
        b"Hello \\foo!\\end{document}", name="n")
    assert doc.texts[0].text == "Hello WORLD!"


def test_never_raises_on_garbage():
    for junk in (b"", b"\\begin{document", b"$unclosed",
                 b"}}}\\end{nothing}"):
        convert_latex(junk, name="junk")


@needs_reference("latex/sources/2310.06825",
                 "latex/groundtruth/2310.06825_main.tex.md")
def test_engine_multifile_arxiv_inputs():
    """Multi-file arXiv projects convert byte-identically THROUGH the
    Spark engine via the latex side input."""
    import pyarrow as pa

    from docling_spark.engine import _extract_batches
    base = SRC / "2310.06825"
    inputs = {f.name: f.read_bytes() for f in base.rglob("*")
              if f.is_file() and f.suffix in (".tex", ".sty", ".bbl")}
    df = pa.RecordBatch.from_pydict({
        "url": ["https://x.test/2310.06825.tex"],
        "html": [(base / "main.tex").read_bytes()]})
    out = next(_extract_batches(
        [df], side_inputs={"latex": {"2310.06825": inputs}})).to_pandas()
    assert out["status"][0] == "success", out["error"][0]
    exp = (GT / "2310.06825_main.tex.md").read_text()
    assert out["md"][0] == exp


class TestReferenceTableOffsetBugPinned:
    """The 2 residual fixtures bake a REFERENCE PARSER BUG into their
    groundtruth, so byte-parity is not pursued; these tests document the
    bug with a repro and pin that OUR output is the semantically correct
    table instead.

    The bug (reference docling/backend/latex/utils/table.py:47-48 and
    :74-75): inside ``_process_table_macro_node`` the code slices
    ``remaining = source_latex[n.pos:]`` where ``source_latex`` is the
    tabular environment's OWN verbatim text but ``n.pos`` is the node's
    position in the WHOLE walker input. For any tabular that does not
    start at that offset, \\multicolumn/\\multirow args are read from an
    unrelated part of the table (or an empty string), which is exactly
    what the groundtruth shows: 43-column rows whose cells repeat a
    citation key ("JonasFaceNet2017") that the misaligned slice landed
    on, and marker cells like "2*Model" (the multirow macro textified
    arg-wise after arg extraction failed).
    """

    GT = pathlib.Path("/root/reference/tests/data/latex/groundtruth")
    SRC = pathlib.Path("/root/reference/tests/data/latex/sources")

    def test_bug_mechanism_repro(self):
        # Minimal repro of the reference's arithmetic: a tabular whose
        # verbatim is shorter than the macro's absolute position yields
        # no args; one whose absolute position lands mid-table reads the
        # WRONG braces as the multicolumn args.
        env = r"\begin{tabular}{cc} \multicolumn{2}{c}{BLEU} \\ a & {X} \end{tabular}"

        def parse_brace_args(text):  # the reference's helper, verbatim semantics
            args, i = [], 0
            while i < len(text):
                if text[i] == "{":
                    depth, start = 1, i + 1
                    i += 1
                    while i < len(text) and depth:
                        if text[i] == "{":
                            depth += 1
                        elif text[i] == "}":
                            depth -= 1
                        i += 1
                    args.append(text[start:i - 1])
                else:
                    i += 1
            return args

        # macro at absolute document offset 1000 -> empty remainder ->
        # no args -> the macro falls into the cell as text
        assert parse_brace_args(env[1000:]) == []
        # macro at absolute offset 40 (mid-env) -> the "args" are
        # whatever braces follow that point - NOT the macro's own args
        wrong = parse_brace_args(env[40:])
        assert wrong and wrong != ["2", "c", "BLEU"]

    @needs_reference("latex/groundtruth/1706.03762_main.tex.md",
                     "latex/groundtruth/2412.19437_main.tex.md")
    def test_groundtruth_carries_the_artifact(self):
        gt = (self.GT / "1706.03762_main.tex.md").read_text()
        # the corrupted header row: one citation key repeated across
        # dozens of phantom columns
        assert "JonasFaceNet2017 | JonasFaceNet2017 | JonasFaceNet2017" in gt
        gt2 = (self.GT / "2412.19437_main.tex.md").read_text()
        assert "|  |  |  |  |  |  |  |  |" in gt2

    @needs_reference("latex/sources/1706.03762")
    def test_our_bleu_table_is_semantically_correct(self):
        from docling_spark.latex import convert_latex
        from docling_spark.serialize import to_markdown
        src_dir = self.SRC / "1706.03762"
        files = {p.name: p.read_bytes() for p in src_dir.glob("*.tex")}
        files.update({p.name: p.read_bytes()
                      for p in src_dir.glob("*.bbl")})
        doc = convert_latex(files["main.tex"], name="main",
                            filename="main.tex", inputs=files)
        md = to_markdown(doc)
        # the true table: ByteNet row with its BLEU score in a sane grid
        assert "| ByteNet [NalBytenet2017] | 23.75 |" in md
        assert "| GNMT + RL [wu2016google] | 24.6 | 39.92 |" in md
        # and no 40-wide corruption rows
        assert "JonasFaceNet2017 | JonasFaceNet2017" not in md
