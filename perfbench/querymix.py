"""The ``query_mix`` workload: registry queries run round-robin by one
closed-loop client over seeded fixture tables.

A timed execution writes the query's result into the noop sink, as
``bench.py`` does. Its answer is checked by a separate, untimed
execution that collects the same query and folds the rows into a row
count and checksums: the first check of each query records them and
every later check must reproduce them. Floating-point columns are
summed and compared with a tolerance, because partial aggregation may
add them up in another order; every other column is hashed exactly.
"""

from __future__ import annotations

import math
import zlib

# One to three queries of each operator module that reads the fixture
# tables: aggregate, star join and window (relational), n-gram Jaccard
# near-duplicates (dedup), brute-force top-k vectors (similarity), text
# quality (textstats), session windows (eventwindows) and image hashing
# (multimodal). Every query's cold first run is part of set-up, so the
# mix is kept small enough that set-up stays well under a minute. Queries
# of the plans package are left out so that the mix stays a control for
# changes to the geo layers.
QUERIES = (
    "q1_pricing_summary",
    "join_star_revenue",
    "win_running",
    "dedup_ngram_jaccard",
    "sim_topk_bruteforce",
    "text_quality",
    "events_session_window",
    "mm_image_phash_pairs",
)
# lineitem rows / 4 of the generated fixture
TABLE_SCALE = 1500


def module_of(fn) -> str:
    """Layer name of the module that registered a query, e.g.
    ``operators.dedup`` or ``plans.domain_queries``."""
    return ".".join(fn.__module__.split(".")[-2:])


def checksum(df) -> tuple:
    """((rows, order-free hash sum of the non-float columns), float
    column sums) of the query's collected result."""
    from pyspark.sql.types import DoubleType, FloatType

    fields = df.schema.fields
    floats = [i for i, f in enumerate(fields)
              if isinstance(f.dataType, (DoubleType, FloatType))]
    others = [i for i in range(len(fields)) if i not in floats]
    rows = df.collect()
    digest = sum(zlib.crc32(repr([r[i] for i in others]).encode())
                 for r in rows)
    sums = tuple(math.fsum(r[i] for r in rows if r[i] is not None)
                 for i in floats)
    return (len(rows), digest), sums


def same(a: tuple, b: tuple) -> bool:
    exact_a, float_a = a
    exact_b, float_b = b
    return exact_a == exact_b and all(
        math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6)
        or (math.isnan(x) and math.isnan(y))
        for x, y in zip(float_a, float_b))


class QueryMix:
    """The mix over one fixture directory, with recorded answers."""

    def __init__(self, spark, sf_dir: str):
        from adcirctime2cogs_spark import registry

        registry_fns = registry.all_queries()
        self.spark = spark
        self.sf_dir = sf_dir
        self.fns = {name: registry_fns[name] for name in QUERIES}
        self.expected: dict[str, tuple] = {}

    def run(self, name: str) -> None:
        """One execution of a query into the noop sink."""
        df = self.fns[name](self.spark, self.sf_dir)
        df.write.format("noop").mode("overwrite").save()

    def check(self, name: str) -> bool:
        """Whether the query's answer matches; the first check of a
        query records its answer."""
        got = checksum(self.fns[name](self.spark, self.sf_dir))
        return same(got, self.expected.setdefault(name, got))
