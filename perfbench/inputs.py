"""Seeded benchmark inputs.

Everything here is a pure function of the seed: the ADCIRC-style
``fort.63.nc`` of the geo workload and the relational/text/vector
fixture tables of the query mix. The engine receives only the files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

LON0, LAT0 = -90.0, 20.0
NODATA_FILL = -99999.0


@dataclass(frozen=True)
class MeshCase:
    """A jittered structured mesh over a rectangle plus a linear field
    per timestep, so barycentric regrid is exact at every pixel."""

    lon: np.ndarray
    lat: np.ndarray
    element: np.ndarray  # (n_elem, 3) 1-based, counter-clockwise
    coef: np.ndarray  # (n_ts, 3): value = a * lon + b * lat + c
    span_x: float
    span_y: float

    @property
    def n_ts(self) -> int:
        return len(self.coef)

    def field(self, t: int, lon, lat):
        a, b, c = self.coef[t]
        return a * lon + b * lat + c


def make_mesh(seed: int, nx: int, ny: int, span_x: float, span_y: float,
              n_ts: int) -> MeshCase:
    """``nx * ny`` nodes on the rectangle, ``2 * (nx-1) * (ny-1)``
    triangles. Interior nodes move by up to a quarter of the node
    spacing on each axis, which keeps every triangle counter-clockwise;
    boundary nodes stay put, so the hull is the rectangle."""
    rng = np.random.default_rng(seed)
    hx, hy = span_x / (nx - 1), span_y / (ny - 1)
    i, j = np.meshgrid(np.arange(nx), np.arange(ny), indexing="ij")
    interior = (i > 0) & (i < nx - 1) & (j > 0) & (j < ny - 1)
    jx = rng.uniform(-0.25, 0.25, i.shape) * hx * interior
    jy = rng.uniform(-0.25, 0.25, i.shape) * hy * interior
    lon = (LON0 + i * hx + jx).ravel()
    lat = (LAT0 + j * hy + jy).ravel()

    ci, cj = np.meshgrid(np.arange(nx - 1), np.arange(ny - 1), indexing="ij")
    a = (ci * ny + cj).ravel()
    b = ((ci + 1) * ny + cj).ravel()
    c = (ci * ny + cj + 1).ravel()
    d = ((ci + 1) * ny + cj + 1).ravel()
    element = np.concatenate([np.stack([a, b, c], 1), np.stack([b, d, c], 1)])
    p0, p1, p2 = (np.stack([lon[element[:, k]], lat[element[:, k]]], 1)
                  for k in range(3))
    area2 = np.cross(p1 - p0, p2 - p0)
    if not (area2 > 0).all():
        raise ValueError("jittered mesh produced a non-CCW triangle")

    coef = np.column_stack([
        rng.uniform(-5.0, 5.0, n_ts),
        rng.uniform(-5.0, 5.0, n_ts),
        rng.uniform(-10.0, 10.0, n_ts),
    ])
    return MeshCase(lon, lat, element.astype("int32") + 1, coef,
                    span_x, span_y)


def write_fort63(path: str, mesh: MeshCase) -> int:
    """Write ``mesh`` as a classic NetCDF ``fort.63.nc`` carrying hourly
    ``zeta`` records; returns the file size in bytes."""
    from adcirctime2cogs_spark.sources import netcdf3

    n_nodes = len(mesh.lon)
    zeta = np.stack([mesh.field(t, mesh.lon, mesh.lat)
                     for t in range(mesh.n_ts)])
    netcdf3.write_classic(
        path,
        dims=[("time", None), ("node", n_nodes),
              ("nele", len(mesh.element)), ("nvertex", 3)],
        variables=[
            {"name": "time", "dims": ["time"],
             "data": np.arange(mesh.n_ts, dtype="float64") * 3600.0,
             "atts": {"units": "seconds since 2000-01-01 00:00:00"}},
            {"name": "x", "dims": ["node"], "data": mesh.lon},
            {"name": "y", "dims": ["node"], "data": mesh.lat},
            {"name": "depth", "dims": ["node"],
             "data": np.full(n_nodes, 10.0)},
            {"name": "element", "dims": ["nele", "nvertex"],
             "data": mesh.element},
            {"name": "zeta", "dims": ["time", "node"], "data": zeta,
             "atts": {"_FillValue": NODATA_FILL, "units": "m"}},
        ],
        gatts={"model": "ADCIRC", "grid": "benchmark synthetic"},
    )
    return os.path.getsize(path)


# ---------------------------------------------------------------- tables

_WORDS = (
    "a the data spark stream batch table row column key value join agg "
    "sort hash scan filter group window order part line query vector "
    "merge fast slow big small customer"
).split()


def write_tables(out_dir: str, seed: int, scale: int) -> dict[str, int]:
    """The ten fixture tables the query mix reads, with the schemas of
    ``tables.TABLE_SCHEMAS``. ``scale`` is lineitem rows / 4; other
    tables keep the TPC-H ratios. Returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = scale // 10, max(scale // 150, 10), scale // 8
    n_orders, n_line = scale, 4 * scale
    n_events, n_docs, n_vecs = scale, max(scale // 5, 200), max(scale // 5, 200)

    def day(n, start, days):
        base = np.datetime64(start, "D")
        return (base + rng.integers(0, days, n)).astype("datetime64[us]")

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        },
        "customer": {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        },
        "part": {
            "p_partkey": np.arange(n_part),
            "p_name": [" ".join(p) for p in rng.choice(
                ["small", "red", "blue", "large", "green", "steel", "brass",
                 "ring", "widget", "bolt", "nut", "gear"], (n_part, 2))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                  "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10,
                                      2),
        },
        "orders": {
            "o_orderkey": np.arange(n_orders),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders),
                                     2),
            "o_orderdate": day(n_orders, "1995-01-01", 2400),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"], n_orders),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_orders, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line),
                                        2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": day(n_line, "1995-01-02", 2500),
        },
        "events": {
            "event_id": np.arange(n_events),
            "ts": (np.datetime64("2024-01-01", "us") + np.sort(
                rng.integers(0, 30 * 86400 * 10**6, n_events)
            ).astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(n_events // 60, 10), n_events),
            "event_type": rng.choice(
                ["click", "error", "purchase", "signup", "view"], n_events),
            "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


def _documents(rng, n: int) -> dict:
    """Bag-of-words texts; one in ten is a light edit of an earlier one,
    so the near-duplicate operators have pairs to find."""
    import pyarrow as pa

    texts: list[str] = []
    for k in range(n):
        if k >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, k))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n),
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    """Unit vectors around ten labelled centres."""
    import pyarrow as pa

    label = rng.integers(0, 10, n)
    centres = rng.normal(size=(10, dim))
    vec = centres[label] + 0.5 * rng.normal(size=(n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n),
        "embedding": pa.array(list(vec.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }
