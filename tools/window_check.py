"""Reproduce the external harness's check for JUST the verified window.

The driver hash-compares only the FIRST 50 registry entries at sf0.01;
the full all-oracle sweep (tests/test_oracle_parity.py) takes ~7
minutes, while the window — the part that actually lands in
CORRECTNESS_r{N}.json — runs in ~2. Use this for fast pre-round validation after a rotation or
an oracle edit:

    python tools/window_check.py            # sf0.01, window only
    python tools/window_check.py --sf-dir /root/testdata/sf0.001

Exit code 1 on any mismatch; prints one line per query.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from adcirctime2cogs_spark import registry
    from adcirctime2cogs_spark.session import get_spark
    from tests.oracle_util import compare

    spark = get_spark(app_name="window_check")
    qs = registry.all_queries()
    oracles = registry.all_oracles()
    window = list(qs)[:50]
    rc = 0
    t_total = time.time()
    for name in window:
        t0 = time.time()
        try:
            if name in oracles:
                n = compare(spark, args.sf_dir, qs[name], oracles[name])
                print(f"OK   {name} rows={n} {time.time() - t0:.1f}s")
            else:
                n = qs[name](spark, args.sf_dir).count()
                print(f"ROWS {name} rows={n} {time.time() - t0:.1f}s")
        except Exception as exc:  # noqa: BLE001 — report and keep going
            rc = 1
            print(f"FAIL {name}: {str(exc)[:200]}")
    print(f"window of {len(window)} done in {time.time() - t_total:.0f}s rc={rc}")
    return rc


if __name__ == "__main__":
    sys.exit(main())
