#!/usr/bin/env python3
"""Pin the expected result of the extraction action per seed.

    python3 perfbench/pin.py --seeds 32

Runs ``extract_pages`` over the ``crawl`` and ``pdf`` tables of seeds
``0 .. N-1`` and writes their doc count, failure count, page count and
order-independent digest to ``pinned.json``.  ``run.py`` then checks every
run of a pinned seed against it, so a change that alters any output byte
of any document reads as incorrect.  The pins are a regression anchor for
the tree they were taken from, not a parity claim against a reference.
Re-pin only when an output change is intended, and say so in the change.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, default=32)
    args = ap.parse_args()
    run.prepare_env()
    import sparkbench as sb
    cores = len(os.sched_getaffinity(0))
    sb.launch_jvm(cores, str(run.WORK))
    spark = sb.start_session(cores, str(run.WORK))
    pins: dict[str, dict] = {}
    try:
        for table in ("crawl", "pdf"):
            for seed in range(args.seeds):
                path, meta = run.inputs(table, seed)
                got = run.extract_action(spark, path)
                if (got["docs"], got["failed"]) != (meta["rows"],
                                                    meta["failing"]):
                    run.log(f"{table} seed {seed}: {got} vs {meta}")
                    return 1
                pins.setdefault(table, {})[str(seed)] = got
                run.log(f"pinned {table} seed {seed}: {got}")
    finally:
        run.shutdown(spark)
    (run.HERE / "pinned.json").write_text(
        json.dumps(pins, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
