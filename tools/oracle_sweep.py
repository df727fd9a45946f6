"""Full-registry oracle sweep at arbitrary scale factors.

For every registered query: hash-compare against its DuckDB oracle
(tests/oracle_util.compare — the local clone of the driver contract),
honoring the documented parity preconditions (over-cap LSH/IVF/sign
buckets diverge from all-pairs oracles by design); rows-only queries
just execute and count. One JSON line per sf_dir.

    python tools/oracle_sweep.py /root/testdata/sf0.01 /root/testdata/sf0.1
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adcirctime2cogs_spark import registry  # noqa: E402
from adcirctime2cogs_spark.session import get_spark  # noqa: E402


def sweep(spark, sf: str) -> dict:
    import tests.test_oracle_parity as top
    from tests.oracle_util import compare

    qs, oracles = registry.all_queries(), registry.all_oracles()
    t0 = time.time()
    n_ok = n_skip = 0
    fails = []
    for name in sorted(qs):
        try:
            if name in oracles:
                reason = top._parity_precondition(spark, sf, name)
                if reason:
                    n_skip += 1
                    continue
                compare(spark, sf, qs[name], oracles[name])
            else:
                assert qs[name](spark, sf).count() >= 0
            n_ok += 1
        except Exception as exc:  # noqa: BLE001 — report, don't abort
            fails.append((name, str(exc)[:200]))
    return {
        "sf": sf,
        "ok": n_ok,
        "skipped": n_skip,
        "failed": [f[0] for f in fails],
        "wall_s": round(time.time() - t0, 1),
        "_detail": fails,
    }


def main() -> int:
    spark = get_spark(app_name="oracle_sweep")
    rc = 0
    for sf in sys.argv[1:] or ["/root/testdata/sf0.01"]:
        res = sweep(spark, sf)
        detail = res.pop("_detail")
        print(json.dumps(res))
        for name, err in detail:
            print("FAIL", name, err)
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
