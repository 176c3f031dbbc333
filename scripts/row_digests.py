#!/usr/bin/env python
"""Per-row digests of the extraction operators' output, to show that a
refactor leaves every output row bit-identical. Digests are
xxhash64(to_json(struct(*columns))) keyed by "conv_id/turn_idx", for
extract() on the default join path, for the unhinted refs join
(resolve_refs with broadcast_threshold=0), for extract() with the
reading-order sort (ExtractConfig(sort=True)), and for plain_text() and
plain_text_variants(). Run it once from each checkout, then compare:

    python scripts/row_digests.py OUT.json TRANSCRIPTS.parquet [...]
    python scripts/row_digests.py --compare A.json B.json
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


MODES = ("default", "threshold0", "plain", "variants", "sorted")


def _runners() -> dict:
    """mode -> function from a transcripts DataFrame to the output."""
    from pdftext_spark.config import ExtractConfig
    from pdftext_spark.operators.extract import (
        extract,
        plain_text,
        plain_text_variants,
    )
    from pdftext_spark.operators.refs import resolve_refs

    return {"default": extract,
            "threshold0": lambda df: resolve_refs(
                extract(df, resolve_links=False), broadcast_threshold=0),
            "plain": plain_text,
            "variants": plain_text_variants,
            "sorted": lambda df: extract(df, ExtractConfig(sort=True))}


def digests(paths: list[str]) -> dict:
    from pyspark.sql import functions as F

    from pdftext_spark.sources.session import build_session

    spark = build_session(app="row-digests")
    out: dict = {}
    try:
        for path in paths:
            for mode, run in _runners().items():
                spark.catalog.clearCache()
                df = run(spark.read.parquet(path))
                row = F.xxhash64(F.to_json(F.struct(*df.columns)))
                rows = df.select("conv_id", "turn_idx",
                                 row.alias("h")).collect()
                out.setdefault(path, {})[mode] = {
                    f"{r.conv_id}/{r.turn_idx}": r.h for r in rows}
    finally:
        spark.stop()
    return out


def compare(a: dict, b: dict) -> int:
    bad = 0
    for path in sorted(set(a) | set(b)):
        for mode in MODES:
            ra, rb = a.get(path, {}).get(mode), b.get(path, {}).get(mode)
            if ra is None or rb is None:
                print(f"{path} {mode}: missing on one side")
                bad += 1
                continue
            diff = sum(ra.get(k) != rb.get(k) for k in set(ra) | set(rb))
            print(f"{path} {mode}: {len(ra)} vs {len(rb)} rows, {diff} differ")
            bad += diff
    return bad


def main() -> int:
    if sys.argv[1] == "--compare":
        with open(sys.argv[2]) as fa, open(sys.argv[3]) as fb:
            return 1 if compare(json.load(fa), json.load(fb)) else 0
    result = digests(sys.argv[2:])
    with open(sys.argv[1], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
