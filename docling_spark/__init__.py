"""docling_spark — PySpark-native web-document extraction engine.

A from-scratch reimplementation of the reference extraction semantics
(docling-project/docling) as vectorized per-partition dataflow over
Common-Crawl-style page tables. See SURVEY.md for the blueprint.
"""

__version__ = "0.1.0"

from .extractor import HtmlExtractor, extract  # noqa: F401
from .serialize import to_indented_text, to_json, to_markdown  # noqa: F401


def keep_spark_archives() -> None:
    """Stop this Python worker from re-reading Spark's own archives on
    every task. Every Python stage entry calls it first; it is idempotent
    and does nothing outside a Python worker.

    Spark calls ``importlib.invalidate_caches()`` before each task, and
    each ``zipimporter`` on the path then re-reads its archive's whole
    directory: a dozen for ``pyspark.zip``, two for py4j, two for the
    spark-core jar (README "Scale design"). Those archives cannot change
    while a worker lives, so their importers keep the directory they read
    once. Importers of the archives under ``SparkFiles.getRootDirectory()``
    (``--py-files``, ``addPyFile``, ``zip_package``'s zip) keep re-reading,
    so a re-shipped package is still seen."""
    import functools
    import os
    import zipimport

    from pyspark import SparkFiles
    stock = zipimport.zipimporter.invalidate_caches
    if hasattr(stock, "__wrapped__") or not SparkFiles._is_running_on_worker:
        return

    @functools.wraps(stock)
    def invalidate_caches(self):
        if self.archive.startswith(
                os.path.join(SparkFiles.getRootDirectory(), "")):
            stock(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


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
