"""Pre-flight the driver's certification window against ITS canonicalizer.

The external driver hashes each query's result by loading it into pandas,
sorting over ALL columns, and factorizing cell values — which crashes on
unhashable cells (lists/dicts) even when the local oracle gate passes
(round 7 lost two driver rows exactly this way). The local gate now
rejects ARRAY/MAP output types, but this tool replays the driver's OWN
canonicalization mechanics (column sort, sort_values over every column,
per-cell hash()) on the first N registry entries, so any future cell
type the driver can't digest surfaces here first.

Usage: python tools/preflight_window.py [sf_dir] [window_size]
Exit 1 if any window entry fails the canonicalizer simulation.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    window = int(sys.argv[2]) if len(sys.argv) > 2 else 50

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from user_feed_cdc_spark.session import get_spark

    spark = get_spark("window-preflight")
    qs = entrymod.queries()
    bad = []
    for name in list(qs)[:window]:
        try:
            rows = [r.asDict() for r in qs[name](spark, sf_dir).collect()]
            pdf = pd.DataFrame(rows)
            if len(pdf):
                pdf = pdf[sorted(pdf.columns)]
                pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(
                    drop=True
                )
                for c in pdf.columns:
                    pdf[c].map(
                        lambda v: hash(v) if v is not None and v == v else 0
                    )
            print(f"  {name:35s} canon-ok ({len(pdf)} rows)")
        except Exception as e:  # noqa: BLE001 — report every offender
            bad.append(name)
            print(f"  {name:35s} CANON-FAIL {type(e).__name__}: {e}"[:160])
    print(f"\n{window - len(bad)}/{window} window entries canonicalize")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
