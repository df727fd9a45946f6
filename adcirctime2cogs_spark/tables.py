"""Test-fixture table loaders with explicit schemas.

The reference hardcodes its schema by convention (variable names
``x, y, element, depth`` at adcirc_dask_utilities.py:15-21); we make the
same stance explicit: every table has a declared StructType and loads
refuse to infer. Explicit schemas keep the scan narrow (ReadSchema
pruning) and make the oracle comparison type-stable.
"""

from __future__ import annotations

import os
from functools import lru_cache as _lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # ts encoding varies by fixture generation: TIMESTAMP(NANOS) (older
    # drops; scanned as int64 via spark.sql.legacy.parquet.nanosAsLong
    # and truncated ns->us in load_table) or native TIMESTAMP_MICROS
    # (newer drops; read directly).  load_table probes the footer once
    # per path and picks the right schema, so both engines (Spark and
    # the DuckDB oracle, whose timestamps are us) see identical values.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(TABLE_SCHEMAS)


def _events_ts_is_nanos(path: str) -> bool:
    """True if events.ts is physically int64 nanoseconds (TIMESTAMP(NANOS)
    or plain INT64) rather than a native us/ms timestamp.  One footer
    read per (path, mtime), driver-side — keying the cache on mtime
    means regenerating events.parquet in place with the other encoding
    is re-probed instead of misread for the rest of the process."""
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        # Non-local path (s3a://, hdfs://) or plain missing file: the
        # local footer probe can't run, but Spark itself may well be
        # able to read the path — don't crash the loader here.
        mtime = None
    return _events_ts_is_nanos_cached(path, mtime)


@_lru_cache(maxsize=None)
def _events_ts_is_nanos_cached(path: str, mtime: float | None) -> bool:
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_schema(path).field("ts").type
        return not (pa.types.is_timestamp(t) and t.unit in ("us", "ms"))
    except Exception:
        # Unreadable footer (remote filesystem, directory dataset, …):
        # assume native timestamps — the common modern encoding — and
        # let Spark's own reader surface any real schema error.
        return False


def events_read_plan(sf_dir: str):
    """The events ts-encoding contract in ONE place (batch loader and
    the streaming reader both consume it): returns (read_schema,
    decode) where decode(df) normalizes ts back to a native timestamp.
    ts has shipped as both int64-nanos and TIMESTAMP_MICROS across
    fixture generations; the footer probe picks per (path, mtime)."""
    from pyspark.sql import functions as F

    schema = TABLE_SCHEMAS["events"]
    if not _events_ts_is_nanos(os.path.join(sf_dir, "events.parquet")):
        return schema, (lambda df: df)
    schema = T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", T.LongType())
            for f in schema.fields
        ]
    )
    # integer div: ts is ~1.7e18 ns — float division would lose µs
    return schema, (
        lambda df: df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        schema, decode = events_read_plan(sf_dir)
        return decode(spark.read.schema(schema).parquet(path))
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)


def _size_conf(spark: SparkSession, key: str, default: int) -> int:
    """Byte-size session conf as an int; accepts plain numbers and the
    'k/m/g' suffix forms Spark allows, falls back on anything else."""
    try:
        raw = str(spark.conf.get(key, str(default))).strip().lower()
    except Exception:
        return default
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    for suf in ("kb", "mb", "gb", "k", "m", "g", "b"):
        if raw.endswith(suf):
            return int(float(raw[: -len(suf)])) * mult.get(suf[0], 1)
    try:
        return int(raw)
    except ValueError:
        return default


def _scan_split_estimate(spark: SparkSession, path: str) -> int:
    """Driver-side estimate of how many input splits the parquet scan
    of ``path`` gets — FilePartition's arithmetic replicated exactly:
    zero-length files dropped, maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, totalPadded / minPartitionNum)), every file
    cut into <= maxSplitBytes chunks, ALL chunks sorted length-
    descending globally, then packed sequentially where a partition
    closes when currentSize + chunk > maxSplitBytes and the
    openCostInBytes pad is added AFTER the close test (the pad
    inflates occupancy, it does not participate in the fit check).
    This replaces a ``df.rdd.getNumPartitions()`` probe, which forced
    a DataFrame->RDD conversion (a full plan translation) on every
    plan build. The listing is the same driver-side metadata the scan
    itself reads, so this costs a handful of stats, no Spark job.
    Parity with the scan's real partition count is pinned across
    file-count and conf shapes in tests/test_tables.py."""
    sizes: list[int] = []
    try:
        if os.path.isdir(path):
            with os.scandir(path) as it:
                sizes = [
                    e.stat().st_size
                    for e in it
                    if e.is_file() and not e.name.startswith((".", "_"))
                ]
        elif os.path.isfile(path):
            sizes = [os.path.getsize(path)]
    except OSError:
        return 1
    sizes = [s for s in sizes if s > 0]
    if not sizes:
        return 1
    max_pb = _size_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _size_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    try:
        min_pn = int(spark.conf.get("spark.sql.files.minPartitionNum"))
    except Exception:
        try:
            min_pn = int(
                spark.conf.get("spark.sql.leafNodeDefaultParallelism")
            )
        except Exception:
            min_pn = spark.sparkContext.defaultParallelism
    min_pn = max(1, min_pn)
    total_padded = sum(sizes) + len(sizes) * open_cost
    max_split = min(max_pb, max(open_cost, total_padded // min_pn))
    chunks: list[int] = []
    for s in sizes:
        while s > max_split:
            chunks.append(max_split)
            s -= max_split
        if s:
            chunks.append(s)
    parts, cur = 0, 0
    for c in sorted(chunks, reverse=True):
        if cur + c > max_split and cur > 0:
            parts += 1
            cur = 0
        cur += c + open_cost
    return parts + (1 if cur else 0)


def spread_scan(
    spark: SparkSession, df: DataFrame, path: str
) -> DataFrame:
    """Scale-adaptive under-split guard (optimization r12, guide §2.5
    input skew): when the parquet scan backing ``df`` yields fewer
    splits than the session's default parallelism — the fixture tables
    are single-row-group files, so every scan-rooted narrow pipeline
    otherwise runs as ONE task — round-robin repartition to the
    default parallelism so CPU-heavy row-local work (shingle hashing,
    per-pair vector folds, regex kernels) uses every core. On a
    well-split production table the probe says >= target and this is
    the identity — no shuffle is added at scale. The moved bytes are
    the table itself (small exactly when the guard fires).

    ONLY for plans whose results are partitioning-independent:
    row-local projections, integer/decimal-exact aggregates, min/max.
    A 4dp-rounded DOUBLE sum over large groups stays on the scan's
    natural order — its oracle hash depends on matching the
    sequential fold (see OPTIMIZATION_r12.md). Optimization r13
    migrated the affected headline/tpch revenue sums to exact decimal
    (order-independent — tests/test_fold_order_free.py), which lifts
    that restriction for them; spreading remains a MEASURED decision
    per query (it only pays when the per-row work above the scan
    amortizes the extra exchange)."""
    target = spark.sparkContext.defaultParallelism
    if _scan_split_estimate(spark, path) < target:
        return df.repartition(target)
    return df


def load_table_spread(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """load_table + spread_scan for the CPU-bound row-local consumers
    (see spread_scan's safety contract)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spread_scan(spark, load_table(spark, sf_dir, name), path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql
    queries. The names are the canonical table names, so calling this
    for a second sf_dir REBINDS them — safe for sequential use
    (Dataset analysis is eager, so already-constructed plans keep
    their resolved relations), but do not construct plans for two
    sf_dirs concurrently on one session through these views."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def evict_foreign_app_entries(memo: dict, app_id: str) -> None:
    """Drop memo entries recorded by OTHER Spark applications. The
    applicationId-keyed persist/layout memos (_INC_LAYOUT_MEMO,
    _KMEANS_MEMO, ...) never hit for a stopped application again, so a
    long-lived driver process that cycles sessions would accumulate
    dead DataFrame references and paths indefinitely (ADVICE r10).
    Callers invoke this on every insert under the single-active-
    application assumption; keys are an applicationId string or a
    tuple whose first element is one."""
    for k in list(memo):
        kid = k if isinstance(k, str) else k[0]
        if kid != app_id:
            del memo[k]


def _src_hash(sf_dir: str) -> str:
    import hashlib

    return hashlib.md5(sf_dir.encode()).hexdigest()[:8]


def layout_once(spark: SparkSession, sf_dir: str, name: str,
                write_fn, code_ver: str = "") -> str:
    """Write-if-absent derived table layout, keyed on the fixture's
    content version (registry._data_version) AND the caller's
    code_ver: the layout lands once per (sf_dir, data version, code
    version) in a version-stamped warehouse dir and every later
    invocation — and every other session sharing the warehouse —
    reuses it, so the registered query measures the SCAN it
    demonstrates, stays plan-cacheable, and can't race: writers stage
    into a session-unique temp dir and atomically rename; a loser
    whose rename finds the target already present discards its copy.

    Pass a code_ver that names the GENERATING RULE (e.g. the PQ
    constants) — without it, editing the builder silently serves
    tables written by the old code on any warm warehouse.

    Superseded versions of the same (name, source) are reaped
    best-effort only after a one-hour grace period: a concurrent
    session may still be scanning the old version's files mid-query
    (its plan resolved before the data changed), so immediate
    deletion would fail that session's in-flight action."""
    import hashlib
    import os
    import shutil
    import uuid

    from adcirctime2cogs_spark.registry import _data_version

    # two-part tag: <sf_dir hash>-<version hash>. The stale sweep
    # below must only reap SUPERSEDED VERSIONS OF THE SAME SOURCE DIR —
    # with an opaque combined hash, a scale leg running on a tempdir
    # corpus would wipe the fixture's layout (and vice versa) just by
    # sharing the layout name
    src = _src_hash(sf_dir)
    ver = hashlib.md5(
        f"{_data_version(sf_dir)}:{code_ver}".encode()
    ).hexdigest()[:8]
    tag = f"{src}-{ver}"
    raw_wh = spark.conf.get("spark.sql.warehouse.dir")
    warehouse = raw_wh.removeprefix("file:")
    # this helper manages the layout lifecycle with LOCAL filesystem
    # primitives (atomic rename publish, mtime-graced reaping) — a
    # remote warehouse (hdfs://, s3a://) would pass the write and then
    # fail every os.* call with a misleading FileNotFoundError
    # (review r11). Fail up front with the actual constraint instead.
    scheme = warehouse.split("://", 1)[0] if "://" in warehouse else ""
    if scheme:
        raise ValueError(
            f"layout_once requires a local spark.sql.warehouse.dir "
            f"for its atomic-rename publish; got {raw_wh!r} "
            f"(scheme {scheme!r}) — point the warehouse at local/"
            f"shared-posix storage or materialize derived layouts "
            f"with your own object-store writer"
        )
    path = f"{warehouse}/{name}_{tag}"
    if os.path.exists(f"{path}/_SUCCESS"):
        return path
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    write_fn(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        if not os.path.exists(f"{path}/_SUCCESS"):
            raise  # a real failure (permissions, bad fs), not a race
        shutil.rmtree(tmp, ignore_errors=True)  # another writer won
    import re as _re
    import time as _time

    try:
        stale = os.listdir(warehouse)
    except OSError:
        stale = []
    legacy = _re.compile(rf"^{_re.escape(name)}_[0-9a-f]{{12}}$")
    for old in stale:
        # same layout name AND same source dir, different version —
        # plus pre-two-part-tag legacy dirs (name_<12hex>), which no
        # current code path can ever address again. Other sources and
        # other layouts are live.
        if old == f"{name}_{tag}":
            continue
        if not (old.startswith(f"{name}_{src}-") or legacy.match(old)):
            continue
        full = os.path.join(warehouse, old)
        # grace period for EVERYTHING reaped here: crashed writers'
        # tmp dirs AND superseded versions a concurrent session may
        # still be scanning
        try:
            if _time.time() - os.path.getmtime(full) < 3600:
                continue
        except OSError:
            continue
        shutil.rmtree(full, ignore_errors=True)
    return path


def drop_layouts(spark: SparkSession, sf_dir: str) -> None:
    """Remove EVERY layout_once artifact derived from sf_dir — the
    cleanup hook for ephemeral corpora (scale legs' tempdirs), whose
    layouts no later run can ever address (a fresh mkdtemp hashes to
    a new source tag) and which would otherwise accrete in the
    warehouse forever.

    The match is anchored to the full layout_once dir shape
    (<name>_<src>-<8 hex ver>[.tmp-<8 hex>]) — a bare '_{src}-'
    substring test would also rmtree any unrelated warehouse entry
    that happens to embed the 8-hex pattern (e.g. another layout
    family's tag segment), with no grace period or _SUCCESS check."""
    import os
    import re
    import shutil

    src = _src_hash(sf_dir)
    shape = re.compile(
        rf"^[A-Za-z0-9_]+_{src}-[0-9a-f]{{8}}(\.tmp-[0-9a-f]{{8}})?$"
    )
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    try:
        entries = os.listdir(warehouse)
    except OSError:
        return
    for e in entries:
        if shape.match(e):
            shutil.rmtree(os.path.join(warehouse, e), ignore_errors=True)
