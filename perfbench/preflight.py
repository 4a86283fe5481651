#!/usr/bin/env python3
"""Pre-flight for the benchmark: reproduce the sha-pinned golden triples.

    python3 perfbench/preflight.py --sf-dir <dir holding documents.parquet at sf0.001>

Reads ``tests/golden/kg_pipeline_sf0001.tsv`` (never writes it), checks
its sha256 against the pin in ``tests/test_kg_pipeline_golden.py``, runs
the ``kg_pipeline_triples`` driver query on the given sf0.001 directory
and compares the triples row for row. Exits 0 when they match.

The benchmark itself does not call this: its input data must come from
the checkout, and the sf0.001 tables that produce the golden live
outside it.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN = os.path.join(ROOT, "tests", "golden", "kg_pipeline_sf0001.tsv")
PIN_SOURCE = os.path.join(ROOT, "tests", "test_kg_pipeline_golden.py")


def main() -> int:
    ap = argparse.ArgumentParser(description="reproduce the pinned golden triples")
    ap.add_argument("--sf-dir", required=True)
    args = ap.parse_args()
    with open(PIN_SOURCE) as f:
        pin = re.search(r'^GOLDEN_SHA = "([0-9a-f]{64})"', f.read(), re.M).group(1)
    with open(GOLDEN, "rb") as f:
        blob = f.read()
    if hashlib.sha256(blob).hexdigest() != pin:
        print("golden file does not match its pinned sha256", file=sys.stderr)
        return 1
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod
    from kargo_spark.session import get_spark

    spark = get_spark(app_name="perfbench_preflight",
                      master=f"local[{len(os.sched_getaffinity(0))}]")
    try:
        df = entrymod.queries()["kg_pipeline_triples"](spark, args.sf_dir)
        got = sorted("\t".join(str(c) for c in r) for r in df.collect())
    finally:
        spark.stop()
    want = blob.decode().splitlines()
    if got != want:
        diff = sum(g != w for g, w in zip(got, want)) + abs(len(got) - len(want))
        print(f"golden mismatch: {len(got)} rows vs {len(want)}, {diff} differ", file=sys.stderr)
        return 1
    print(f"golden reproduced: {len(got)} triples, sha256 {pin}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
