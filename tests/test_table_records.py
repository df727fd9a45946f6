"""The parquet planner of the CLI (sources/mesh.plan_table_records and
decode_table_record) on flat and hive tables of every layout: the
records, decoded, give each non-null ts exactly once, with its rows
whose node_id and value are not null (NaN values kept), and each flat
row group is read by no more tasks than its cluster's parts plus the
timesteps it shares with a neighbour."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from adcirctime2cogs_spark.sources.mesh import (
    decode_table_record,
    plan_table_records,
)

T0 = pd.Timestamp("2024-01-01")


def _rows(n_ts: int = 7, n_nodes: int = 5) -> list:
    """(ts, node_id, value) rows in ts order, with a NaN value, a null
    value, a null node_id and a null ts among them."""
    rows = [[T0 + pd.Timedelta(hours=t), n, float(t * n_nodes + n)]
            for t in range(n_ts) for n in range(n_nodes)]
    rows[3][2] = float("nan")
    rows[8][2] = None
    rows[12][1] = None
    rows[17][0] = None
    return [tuple(r) for r in rows]


def _table(rows: list) -> pa.Table:
    ts, node, val = zip(*rows)
    return pa.table({"ts": pa.array(ts, pa.timestamp("us")),
                     "node_id": pa.array(node, pa.int64()),
                     "value": pa.array(val, pa.float64())})


def _key(row):
    return row[0], str(row[1])


def _expected(rows: list) -> dict:
    out: dict = {}
    for ts, node, val in rows:
        if None not in (ts, node, val):
            out.setdefault(ts, []).append((node, val))
    return {ts: sorted(r, key=_key) for ts, r in out.items()}


def _decoded(records) -> dict:
    out: dict = {}
    for rec in records:
        for ts, node, val in decode_table_record(rec):
            assert ts not in out, f"ts {ts} decoded twice"
            out[ts] = sorted(zip(node.tolist(), val.tolist()), key=_key)
    return out


def _same(got: dict, want: dict) -> None:
    assert sorted(got) == sorted(want)
    for ts in want:
        assert [n for n, _ in got[ts]] == [n for n, _ in want[ts]]
        np.testing.assert_array_equal([v for _, v in got[ts]],
                                      [v for _, v in want[ts]])


@pytest.mark.parametrize("min_records", [1, 3])
@pytest.mark.parametrize("layout", [
    "one_row_group", "row_groups_of_3", "row_groups_of_5",
    "row_groups_of_9", "unsorted_files", "no_statistics"])
def test_flat_records_give_each_ts_once(tmp_path, layout, min_records):
    rows = _rows()
    path = tmp_path / "t.parquet"
    path.mkdir()
    if layout == "unsorted_files":
        order = np.random.default_rng(0).permutation(len(rows))
        for i, part in enumerate(np.array_split(order, 3)):
            pq.write_table(_table([rows[j] for j in part]),
                           path / f"part-{i}.parquet")
    else:
        size = {"row_groups_of_3": 3, "row_groups_of_5": 5,
                "row_groups_of_9": 9}.get(layout, len(rows))
        pq.write_table(_table(rows), path / "part-0.parquet",
                       row_group_size=size,
                       write_statistics=layout != "no_statistics")
    records = plan_table_records(str(path), min_records)
    _same(_decoded(records), _expected(rows))

    reads = Counter((f, rg) for rec in records for f, rgs in rec.files
                    for rg in rgs)
    n_part = max(rec.part[1] for rec in records)
    assert max(reads.values()) <= n_part + 2
    if layout == "one_row_group":
        assert len(records) == min_records
    if layout == "unsorted_files":
        assert all(rec.ts is None for rec in records)
        assert len(records) == min_records


def test_row_groups_that_split_timesteps_share_them(tmp_path):
    """Row groups of 3 rows over timesteps of 5 rows: a ts that two
    row groups hold is one record, which reads just the row groups
    that hold it, and the cluster records reading them skip it."""
    rows = [r for r in _rows() if r[0] is not None]
    pq.write_table(_table(rows), tmp_path / "t.parquet", row_group_size=3)
    records = plan_table_records(str(tmp_path / "t.parquet"))
    holders: dict = {}
    for i, (ts, _, _) in enumerate(rows):
        holders.setdefault(ts, set()).add(i // 3)
    shared = [rec for rec in records if rec.ts is not None]
    assert [rec.ts for rec in shared] == sorted(
        ts for ts, rgs in holders.items() if len(rgs) > 1)
    def row_groups(rec):
        return {rg for _, rgs in rec.files for rg in rgs}

    for rec in shared:
        assert row_groups(rec) == holders[rec.ts]
        assert all(rec.ts in rec2.skip for rec2 in records
                   if rec2.ts is None and row_groups(rec) & row_groups(rec2))


def test_hive_partitions_are_one_record_each_and_null_is_skipped(tmp_path):
    rows = _rows()
    path = tmp_path / "t.parquet"
    for ts in sorted({r[0] for r in rows if r[0] is not None}):
        d = path / f"ts={ts:%Y-%m-%d %H}%3A00%3A00"
        d.mkdir(parents=True)
        pq.write_table(_table([r for r in rows if r[0] == ts]).drop(["ts"]),
                       d / "part-0.parquet")
    d = path / "ts=__HIVE_DEFAULT_PARTITION__"
    d.mkdir()
    pq.write_table(_table([r for r in rows if r[0] is None]).drop(["ts"]),
                   d / "part-0.parquet")
    records = plan_table_records(str(path), 3)
    want = _expected(rows)
    assert [rec.ts for rec in records] == sorted(want)
    assert all(rgs is None for rec in records for _, rgs in rec.files)
    _same(_decoded(records), want)
