"""docling_spark — PySpark-native web-document extraction engine.

A from-scratch reimplementation of the reference extraction semantics
(docling-project/docling) as vectorized per-partition dataflow over
Common-Crawl-style page tables. See SURVEY.md for the blueprint.
"""

__version__ = "0.1.0"

from .extractor import HtmlExtractor, extract  # noqa: F401
from .serialize import to_indented_text, to_json, to_markdown  # noqa: F401


def zip_package(out) -> str:
    """Write this package's modules into the zip ``out`` (for
    ``spark-submit --py-files`` or ``SparkContext.addPyFile``) and return
    its path."""
    import pathlib
    import zipfile
    pkg = pathlib.Path(__file__).resolve().parent
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg.glob("*.py")):
            zf.write(py, f"{pkg.name}/{py.name}")
    return str(out)
