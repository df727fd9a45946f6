"""NetCDF source adapter (SURVEY O1-O6): ADCIRC fort.*.nc -> the
engine's relational tables, through one scan.

`scan_netcdf(spark, path, variable)` reads a record variable as long
(ts, node_id, value) rows:

- the driver plans one byte-range split per task from file metadata
  alone (`plan_scan` with `_default_splitter`): one per record of a
  classic NetCDF-3 file (records over 4 MB sub-split into node
  ranges), one per (record, compressed chunk) of a NetCDF-4 file — the
  reference's chunks={'time': 1}
  (run/utilities/adcirc_dask_utilities.py:42);
- one `spark.range(n).mapInArrow` stage runs one task per split, which
  reads only its byte range (`_default_range_decoder`) and returns one
  Arrow RecordBatch, with _FillValue nodes as null. No Python planner
  process starts.

    df = scan_netcdf(spark, "/data/fort.63.nc", "zeta")

Both NetCDF flavours decode with no third-party library: classic
NetCDF-3 through sources/netcdf3.py, HDF5-backed NetCDF-4 through the
HDF5 subset in sources/hdf5.py. A planned variable that is missing or
has no record dimension fails when `scan_netcdf` is called, with a
ValueError naming the problem; an HDF5 layout outside the subset
raises hdf5.UnsupportedHDF5Feature. `AdcircNetCDFDataSource.with_codecs`
injects other split/decode callables (tests, or xarray/h5py codecs on
hosts that have them), passed to `scan_netcdf` as `source`. The same
codecs stream through the Spark 4 Python DataSource defined here:
`spark.readStream.format("adcirc_netcdf")` over a directory of
arriving files, once the caller registers `AdcircNetCDFDataSource`.

`nc_input` is the CLI's adapter: the mesh as arrays (`read_nc_mesh`),
and the records its COG tasks decode straight into their regrid
(sinks/cog.write_cogs_from_records): a record variable's splits
grouped by record (`plan_records`), or a time-less max variable read
whole in one task.

`write_static_tables` writes the mesh (and a time-less max variable)
as sources/mesh.py parquet tables; `adcirc_nc_to_tables` adds the
record variable's ts-partitioned table.
"""

from __future__ import annotations

import glob as _glob
import inspect
import os
from collections.abc import Callable, Collection, Iterator
from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

TIMESERIES_OUT_SCHEMA = "ts timestamp, node_id long, value double"
_ARROW_SCHEMA = pa.schema([
    ("ts", pa.timestamp("us", tz="UTC")),
    ("node_id", pa.int64()),
    ("value", pa.float64()),
])


def _default_splitter(path: str, length: int, variable: str | None = None):
    """Enumerate byte-range splits of one ADCIRC NetCDF:
    [(t_idx, offset, nbytes), ...] (the reference's chunks={'time': 1},
    adcirc_dask_utilities.py:42). For classic NetCDF-3 the record
    layout makes every timestep's span computable from one small header
    read (netcdf3.classic_splitter) — no chunk index. For HDF5-backed
    NetCDF-4 the splits come from the variable's chunk index
    (hdf5.nc4_splitter), one split per compressed chunk — also planned
    from a driver-side metadata read, no library."""
    from adcirctime2cogs_spark.sources import hdf5, netcdf3

    try:
        return netcdf3.classic_splitter(path, length, variable)
    except netcdf3.NotClassicNetCDF as not_classic:
        if variable is None:
            raise NotImplementedError(
                f"{not_classic}; NetCDF-4 splits are per-variable — call "
                "with the variable name (the DataSource does)."
            ) from not_classic
        try:
            return hdf5.nc4_splitter(path, length, variable)
        except hdf5.NotHDF5 as exc:
            raise ValueError(
                f"{not_classic}; and not HDF5-backed NetCDF-4 either "
                f"({exc}) — not a NetCDF file this engine can split."
            ) from exc


def _default_range_decoder(path: str, variable: str, t_idx: int, offset: int, nbytes: int):
    """Decode ONE split's byte range -> (ts, node_ids, values_1d).
    The task opens the file itself and reads only its slab/chunk (plus
    the tiny time slab) — whole-file bytes never flow through Spark.
    Classic NetCDF-3 decodes via netcdf3.py; NetCDF-4 via hdf5.py."""
    from adcirctime2cogs_spark.sources import hdf5, netcdf3

    try:
        return netcdf3.classic_range_decoder(path, variable, t_idx, offset, nbytes)
    except netcdf3.NotClassicNetCDF:
        return hdf5.nc4_range_decoder(path, variable, t_idx, offset, nbytes)


def plan_splits(splitter: Callable, path: str, length: int, variable: str):
    """Invoke a splitter with (path, length, variable) when its
    signature accepts a third positional arg, else (path, length) —
    decided by inspection, NOT by catching TypeError: a genuine
    TypeError raised INSIDE a 3-arg splitter must propagate, not
    trigger a silent 2-arg re-invocation (which would mask the real
    bug, or re-plan different splits for a defaulted third param).
    Shared by plan_scan and the stream reader."""
    try:
        params = list(inspect.signature(splitter).parameters.values())
        positional = [
            p for p in params
            if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        ]
        variadic = any(p.kind == p.VAR_POSITIONAL for p in params)
    except (TypeError, ValueError):  # C callables with no signature
        positional, variadic = [None, None], False
    if variadic or len(positional) >= 3:
        return splitter(path, length, variable)
    return splitter(path, length)


def _normalize(ts, node_ids, values):
    """A range decoder's (ts, node_ids, values) as (UTC pd.Timestamp,
    int64 ids, float64 values, NaN where filled). Decoders return naive
    UTC stamps (NetCDF time axes carry no zone) as numpy.datetime64,
    datetime or pandas.Timestamp."""
    ts = pd.Timestamp(ts)
    ts = ts.tz_localize("UTC") if ts.tzinfo is None else ts.tz_convert("UTC")
    if isinstance(node_ids, range):
        ids = np.arange(node_ids.start, node_ids.stop, node_ids.step)
    else:
        ids = np.asarray(node_ids, dtype="int64")
    return ts, ids, np.asarray(values, dtype="float64")


def _decode_split(
    range_decoder: Callable, path: str, variable: str,
    t_idx: int, offset: int, nbytes: int,
) -> pa.RecordBatch:
    """ONE split -> one (ts, node_id, value) RecordBatch. NaN fill
    values become SQL null (reference masked array semantics,
    run/utilities/adcirc_utilities.py:30)."""
    ts, ids, values = _normalize(*range_decoder(
        path, variable, int(t_idx), int(offset), int(nbytes)
    ))
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.full(len(values), ts.value // 1000, dtype="int64"),
                     _ARROW_SCHEMA.field("ts").type),
            pa.array(ids, pa.int64()),
            pa.array(values, pa.float64(), mask=np.isnan(values)),
        ],
        schema=_ARROW_SCHEMA,
    )


def plan_scan(
    path: str, variable: str, splitter: Callable
) -> list[tuple[str, int, int, int]]:
    """The byte-range splits of the file(s) at `path` (a file or a
    glob) as [(path, t_idx, offset, nbytes), ...], planned from file
    metadata alone, exactly like FileSourceScanExec split planning; no
    file content is read beyond the splitter's header probe."""
    paths = sorted(_glob.glob(path))
    if not paths and os.path.exists(path):
        # the literal filename contains glob metacharacters (e.g.
        # /data/run[2020]/fort.63.nc) but the file itself exists —
        # read it rather than mis-parsing the name as a pattern
        paths = [path]
    if not paths:
        # Never fall back to treating the glob pattern itself as a
        # file path — os.path.getsize on the raw pattern raises a
        # baffling FileNotFoundError. (The STREAM reader returns
        # empty for the same case because files may arrive later;
        # a batch scan over zero files is almost always a typo.)
        raise FileNotFoundError(
            f"adcirc_netcdf: no files matched path pattern {path!r}"
        )
    return [
        (p, int(t), int(off), int(nb))
        for p in paths
        for (t, off, nb) in plan_splits(
            splitter, p, os.path.getsize(p), variable
        )
    ]


def plan_records(
    path: str, variable: str, splitter: Callable
) -> list[list[tuple[str, int, int, int]]]:
    """plan_scan's splits grouped by record, (path, t_idx), in plan
    order: one list of byte ranges per timestep of each file, which a
    single task decodes whole (nc_input)."""
    records: dict[tuple[str, int], list] = {}
    for split in plan_scan(path, variable, splitter):
        records.setdefault(split[:2], []).append(split)
    return list(records.values())


class AdcircNetCDFDataSource(DataSource):
    """`readStream.format("adcirc_netcdf")` — micro-batches of the
    splits of arriving files. Its codecs are also the ones `scan_netcdf`
    runs."""

    _splitter = staticmethod(_default_splitter)
    _range_decoder = staticmethod(_default_range_decoder)

    @classmethod
    def name(cls) -> str:
        return "adcirc_netcdf"

    def schema(self) -> str:
        return TIMESERIES_OUT_SCHEMA

    def simpleStreamReader(self, schema) -> "_NetCDFStreamReader":
        return _NetCDFStreamReader(
            self.options, self._splitter, self._range_decoder
        )

    @classmethod
    def with_codecs(
        cls, splitter: Callable, range_decoder: Callable
    ) -> type["AdcircNetCDFDataSource"]:
        """A subclass with injected split/decode callables (the
        no-NetCDF-library test path, and the hook for xarray/h5py
        codecs on equipped hosts): register it for a stream, or pass
        it to `scan_netcdf` as `source`."""
        return type(
            "AdcircNetCDFDataSourceInjected",
            (cls,),
            {
                "_splitter": staticmethod(splitter),
                "_range_decoder": staticmethod(range_decoder),
            },
        )


def scan_netcdf(
    spark: SparkSession,
    path: str,
    variable: str,
    source: type[AdcircNetCDFDataSource] = AdcircNetCDFDataSource,
) -> DataFrame:
    """The record variable `variable` of the NetCDF file(s) at `path`
    (a file or a glob) as (ts, node_id, value) rows. The splits are
    planned here, in the driver, with `source`'s splitter, so a bad
    variable, a non-NetCDF file or an empty glob raises before any
    Spark job. Partition i of `spark.range(n, numPartitions=n)` holds
    split id i, and its `mapInArrow` task decodes that split with
    `source`'s range decoder into one Arrow batch: one task per split."""
    splits = plan_scan(path, variable, source._splitter)
    range_decoder = source._range_decoder

    def read(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for i in batch.column("id").to_pylist():
                p, t_idx, offset, nbytes = splits[i]
                yield _decode_split(
                    range_decoder, p, variable, t_idx, offset, nbytes
                )

    return spark.range(len(splits), numPartitions=len(splits)).mapInArrow(
        read, TIMESERIES_OUT_SCHEMA
    )


class _NetCDFStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch reader over an arriving-NetCDF directory.

    Offset = {"consumed": {file_path: n_splits_read}} — new files
    and newly-planned splits of known files become the next batch
    (one split per record for classic files — see _plan's merge).
    Replay between committed offsets re-decodes exactly the same
    byte ranges (splits are deterministic per file), giving the
    exactly-once recovery contract for free."""

    def __init__(self, options: dict, splitter: Callable, range_decoder: Callable):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("adcirc_netcdf requires .option('path', ...)")
        self.variable = options.get("variable", "zeta")
        self.splitter = splitter
        self.range_decoder = range_decoder

    @staticmethod
    def _is_classic_nc3(p: str) -> bool:
        """Signature probe: classic NetCDF-3 files begin 'CDF' + a
        version byte in {1, 2, 5} (CDF-1/-2/-5). Anything else —
        the \\x89HDF\\r\\n\\x1a\\n HDF5 superblock of NetCDF-4, or an
        injected test fixture — is not classic."""
        try:
            with open(p, "rb") as fh:
                magic = fh.read(4)
        except OSError:
            return False
        return magic[:3] == b"CDF" and magic[3:4] in (b"\x01", b"\x02", b"\x05")

    def _plan(self, p: str, length: int):
        """Streaming split plan: for CLASSIC NetCDF-3 files only,
        contiguous same-record sub-splits are MERGED back into one
        span, because the checkpoint offset is a per-file SPLIT
        COUNT — if the planner's granularity changed between a commit
        and its replay (e.g. the batch path's node-range sub-splitting
        of large classic records), a resumed stream would re-emit or
        skip rows. Merging keeps the classic count at one split per
        record across planner versions; a micro-batch decodes a record
        in one task, which is the right trade for incremental file
        arrival anyway.

        NetCDF-4 (and injected-codec) splits pass through UNMERGED:
        their count is a stable property of the file's chunk layout,
        and adjacent compressed chunks of one record are often
        byte-contiguous (the writer packs blobs back to back), so a
        merged span would no longer match any chunk in the file's
        index and nc4_range_decoder would refuse it (ADVICE r07). The
        classic/NC4 routing is decided by the file signature, not the
        splitter, so an injected splitter is never merged either."""
        splits = sorted(plan_splits(self.splitter, p, length, self.variable))
        if not self._is_classic_nc3(p):
            return splits
        merged: list[tuple[int, int, int]] = []
        for t, off, nb in splits:
            if merged and merged[-1][0] == t and \
                    merged[-1][1] + merged[-1][2] == off:
                merged[-1] = (t, merged[-1][1], merged[-1][2] + nb)
            else:
                merged.append((t, off, nb))
        return merged

    def initialOffset(self) -> dict:
        return {"consumed": {}}

    def _splits_by_file(self) -> dict[str, list[tuple[int, int, int]]]:
        out: dict[str, list[tuple[int, int, int]]] = {}
        for p in sorted(_glob.glob(self.path)):
            try:
                size = os.path.getsize(p)
            except OSError:
                # rotated/deleted between listing and stat: skip this
                # trigger; it is re-listed (or permanently gone) next
                continue
            out[p] = sorted(self._plan(p, size))
        return out

    def _decode_rows(self, path: str, splits) -> Iterator[tuple]:
        # SimpleDataSourceStreamReader.read takes tuples, not batches
        for t, off, nb in splits:
            batch = _decode_split(
                self.range_decoder, path, self.variable, t, off, nb
            )
            yield from zip(*(col.to_pylist() for col in batch.columns))

    def read(self, start: dict):
        consumed = dict(start.get("consumed", {}))
        rows: list[tuple] = []
        for path, splits in self._splits_by_file().items():
            done = consumed.get(path, 0)
            fresh = splits[done:]
            if fresh:
                rows.extend(self._decode_rows(path, fresh))
                consumed[path] = done + len(fresh)
        return iter(rows), {"consumed": consumed}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        s = start.get("consumed", {})
        for path, n_end in end.get("consumed", {}).items():
            n_start = s.get(path, 0)
            if n_end > n_start:
                try:
                    size = os.path.getsize(path)
                except OSError as exc:
                    # a COMMITTED file was deleted before replay: the
                    # data is genuinely unrecoverable — fail with a
                    # clear message instead of a bare FileNotFoundError
                    # deep inside the offset math
                    raise RuntimeError(
                        f"adcirc_netcdf replay: committed file {path!r} "
                        "no longer exists; its rows cannot be recovered"
                    ) from exc
                splits = sorted(self._plan(path, size))[n_start:n_end]
                yield from self._decode_rows(path, splits)


@dataclass(frozen=True)
class NcFile:
    """One classic NetCDF-3 or HDF5-backed NetCDF-4 file, read whole
    per variable by the codec its signature calls for: its variable
    names, raw reads, reads with fill values as NaN, and which
    variables have the record dimension."""

    names: Collection[str]
    read: Callable[[str], np.ndarray]
    masked: Callable[[str], np.ndarray]
    is_record: Callable[[str], bool]


def open_nc(nc_path: str, variable: str) -> NcFile:
    """NcFile of one ADCIRC fort.*.nc, from its header alone. Raises
    ValueError naming the file's variables when `variable` is not one
    of them."""
    from adcirctime2cogs_spark.sources import hdf5, netcdf3

    try:
        h = netcdf3.header_for(nc_path)
        nc = NcFile(
            h.vars, lambda name: netcdf3.read_var(nc_path, h, name),
            lambda name: netcdf3.masked_to_nan(
                netcdf3.read_var(nc_path, h, name), h.vars[name]),
            lambda name: h.is_record(h.vars[name]))
    except netcdf3.NotClassicNetCDF:
        f = hdf5.nc4_for(nc_path)
        nc = NcFile(
            f.vars, f.read_var,
            lambda name: hdf5._masked_to_nan(f.read_var(name),
                                             f.vars[name].atts),
            f.is_record)
    if variable not in nc.names:
        raise ValueError(
            f"variable {variable!r} not in {nc_path!r} "
            f"(has: {sorted(nc.names)})"
        )
    return nc


def read_nc_mesh(nc: NcFile) -> tuple[np.ndarray, ...]:
    """The mesh of one fort.*.nc as sources/mesh.read_mesh_arrays
    returns it: (node_id, lon, lat, elements), node ids 0..N-1 and
    elements an (E, 4) int64 array of (elem_id, n0, n1, n2) with 0-based
    vertices (O4).

    This is the reference-parity ingest: extract_url_grid +
    get_adcirc_slice (run/utilities/adcirc_dask_utilities.py:15-33)
    read the same x/y/element variables. Arrays are materialized
    driver-side like the reference's grid dict (an HSOFS mesh is
    ~50 MB — metadata next to the fact table)."""
    x = nc.read("x").astype("float64").ravel()
    y = nc.read("y").astype("float64").ravel()
    el = nc.read("element").astype("int64") - 1  # O4
    return (np.arange(len(x)), x, y,
            np.column_stack([np.arange(len(el)), el]))


def _decode_nc_record(range_decoder: Callable, variable: str, splits):
    """Executor-side: all splits of ONE record (one plan_records group)
    -> yields (naive UTC ts of its first split, node ids, values): the
    rows _decode_split yields for those splits, in plan order, as
    arrays, with the filled (NaN) nodes that scan_netcdf makes null
    dropped."""
    parts = [
        _normalize(*range_decoder(p, variable, int(t), int(off), int(nb)))
        for p, t, off, nb in splits
    ]
    node = np.concatenate([ids for _, ids, _ in parts])
    val = np.concatenate([vals for _, _, vals in parts])
    keep = ~np.isnan(val)
    yield parts[0][0].tz_convert(None), node[keep], val[keep]


def _decode_nc_static(variable: str, nc_path: str):
    """Executor-side: a time-less (max) variable read whole from the
    .nc -> yields (the variable name as its ts, node ids, values), its
    filled nodes dropped."""
    val = open_nc(nc_path, variable).masked(variable).ravel()
    node = np.flatnonzero(~np.isnan(val))
    yield variable, node, val[node]


def nc_input(nc_path: str, variable: str) -> tuple:
    """The CLI's input from one fort.*.nc: (read_nc_mesh's arrays,
    records, decode). A record variable gives one record per timestep,
    its byte-range splits planned here with AdcircNetCDFDataSource's
    splitter (plan_records) and decoded in the task with its range
    decoder. A time-less max variable is one record, read from the .nc
    in its task and named by the variable, so it writes one
    `<variable>.<variable>Z` raster like the reference. Nothing is
    staged as parquet."""
    nc = open_nc(nc_path, variable)
    if nc.is_record(variable):
        records = plan_records(nc_path, variable,
                               AdcircNetCDFDataSource._splitter)
        decode = partial(_decode_nc_record,
                         AdcircNetCDFDataSource._range_decoder, variable)
    else:
        records, decode = [nc_path], partial(_decode_nc_static, variable)
    return read_nc_mesh(nc), records, decode


def write_static_tables(nc_path: str, out_dir: str, variable: str) -> bool:
    """The static tables of one ADCIRC fort.*.nc (sources/mesh.py
    layout): mesh_nodes / mesh_elements from the grid variables
    (read_nc_mesh, plus depth), and node_maxes.parquet when `variable`
    is time-less (a max field). Returns True when `variable` is a
    record variable (plan_records, scan_netcdf). Raises ValueError
    naming the file's variables when `variable` is not one of them."""
    import pyarrow.parquet as pq

    nc = open_nc(nc_path, variable)
    node_id, x, y, el = read_nc_mesh(nc)
    os.makedirs(out_dir, exist_ok=True)
    depth = (
        nc.masked("depth").ravel()
        if "depth" in nc.names
        else np.full(len(x), np.nan)
    )
    pq.write_table(
        pa.table({
            "node_id": pa.array(node_id, pa.int64()),
            "lon": pa.array(x, pa.float64()),
            "lat": pa.array(y, pa.float64()),
            "depth": pa.array(depth, pa.float64()),
        }),
        os.path.join(out_dir, "mesh_nodes.parquet"),
    )
    pq.write_table(
        pa.table({
            name: pa.array(el[:, k], pa.int64())
            for k, name in enumerate(("elem_id", "n0", "n1", "n2"))
        }),
        os.path.join(out_dir, "mesh_elements.parquet"),
    )
    is_record = nc.is_record(variable)
    if not is_record:
        vals = nc.masked(variable).ravel()
        pq.write_table(
            pa.table({
                "node_id": pa.array(np.arange(len(vals)), pa.int64()),
                "value": pa.array(vals, pa.float64()),
            }),
            os.path.join(out_dir, "node_maxes.parquet"),
        )
    return is_record


def adcirc_nc_to_tables(
    spark: SparkSession, nc_path: str, out_dir: str, variable: str
) -> None:
    """One ADCIRC fort.*.nc -> the COMPLETE engine-native table set
    (sources/mesh.py layout): the static tables of
    write_static_tables, plus {variable}.parquet for a record variable,
    decoded by scan_netcdf. For callers that query the tables
    repeatedly; the CLI decodes each record straight into its regrid
    instead."""
    if write_static_tables(nc_path, out_dir, variable):
        # ts-partitioned: the O5 time-slice pruning story depends on
        # it (a flat directory would scan every row group for any ts
        # filter)
        (
            scan_netcdf(spark, nc_path, variable)
            .repartition("ts")
            .write.mode("overwrite")
            .partitionBy("ts")
            .parquet(os.path.join(out_dir, f"{variable}.parquet"))
        )
