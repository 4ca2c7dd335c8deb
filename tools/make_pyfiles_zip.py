#!/usr/bin/env python
"""Package docling_spark for spark-submit --py-files."""

import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from docling_spark import zip_package  # noqa: E402


def main() -> str:
    dist = REPO / "dist"
    dist.mkdir(exist_ok=True)
    out = zip_package(dist / "docling_spark.zip")
    print(out)
    return out


if __name__ == "__main__":
    main()
