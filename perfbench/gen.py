"""Seeded input generator for the lake benchmark.

Everything the benchmark feeds the lake is made here from a seed, and
so is the ground truth its output checks compare against:

- landmarks-shaped CSV files with the 28-column header of the reference
  fixture, quoted fields with embedded commas, ``DESIG_DATE`` strings in
  the reference's ``MM/dd/yyyy hh:mm:ss AM +0000`` format, ``BOROUGH`` in
  {MN, BK, QN, BX, SI} and WKT ``MULTIPOLYGON`` geometries of a chosen
  vertex count;
- the JSON sidecar that types them (all ``string``, ``BOROUGH`` the
  partition key);
- update batches over a fixed ``OBJECTID`` universe, each key carrying a
  version number that rises with every update of that key;
- a small TPC-H-shaped star schema as parquet, for the registry queries.

Nothing here imports Spark: the truth is computed independently of the
code under test.
"""

from __future__ import annotations

import csv
import io
import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

COLUMNS = (
    "OBJECTID", "the_geom", "LP_NUMBER", "BOROUGH", "CHANGED_LP", "RELATED_LP",
    "CURRENT_", "AREA_NAME", "OTHER_NAME", "EXTENSION", "STATUS_OF_",
    "LAST_ACTIO", "BOUNDARY_N", "DESIG_DATE", "PUBLIC_HEA", "CALEN_DATE",
    "OTHER_HEAR", "OTHER_NOTE", "SURVEY_NAM", "SURVEY_DAT", "Shape_area",
    "Shape_len", "Borough1", "LPNUM_TRIM", "Report_URL", "Image_URL",
    "LM_Type", "WebDes_Dte",
)
COL = {name: i for i, name in enumerate(COLUMNS)}
BOROUGHS = ("MN", "BK", "QN", "BX", "SI")
BOROUGH_NAMES = {
    "MN": "Manhattan", "BK": "Brooklyn", "QN": "Queens", "BX": "Bronx",
    "SI": "Staten Island",
}
# Manhattan-heavy, like the real designation list.
_BOROUGH_WEIGHTS = (0.45, 0.25, 0.12, 0.1, 0.08)
_LM_TYPES = ("Individual Landmark", "Historic District", "Interior Landmark",
             "Scenic Landmark")
_STREETS = ("Broadway", "Fifth Avenue", "Atlantic Avenue", "Grand Concourse",
            "Victory Boulevard", "Northern Boulevard", "Canal Street")


def borough_of_key(key: int) -> str:
    """Partition of the base version of a key (updates may move it)."""
    return BOROUGHS[key % len(BOROUGHS)]


def _date(rng: random.Random, lo_year: int = 1965, hi_year: int = 2023) -> str:
    y = rng.randint(lo_year, hi_year)
    return f"{rng.randint(1, 12):02d}/{rng.randint(1, 28):02d}/{y} 12:00:00 AM +0000"


def _polygons(
    rng: np.random.Generator, rows: int, polygons: int, vertices: int, holes: bool
) -> list[list[list[str]]]:
    """MULTIPOLYGON coordinates of ``rows`` geometries as row → polygon →
    ring text ``"lon lat, lon lat, ..."``. A polygon has one outer ring
    of ``vertices`` points and, with ``holes``, a 1-in-4 chance of an
    inner ring. Each ring is closed (last point = first). Coordinates
    are whole micro-degrees around a random centre, formatted as
    fixed-width text in one vectorised pass (longitudes are all west,
    latitudes all north, so every point is ``-DD.DDDDDD DD.DDDDDD``)."""
    has_hole = (rng.random((rows, polygons)) < 0.25) if holes else np.zeros(
        (rows, polygons), dtype=bool)
    rings = []  # (row, polygon, points incl. the closing one, is_hole)
    for r in range(rows):
        for p in range(polygons):
            rings.append((r, p, vertices, False))
            if has_hole[r, p]:
                rings.append((r, p, max(4, vertices // 3), True))
    n_open = np.array([n - 1 for _, _, n, _ in rings])
    ring_of = np.repeat(np.arange(len(rings)), n_open)
    total = len(ring_of)
    cx = rng.integers(73_700_000, 74_250_000, rows * polygons)
    cy = rng.integers(40_500_000, 40_910_000, rows * polygons)
    centre = np.array([r * polygons + p for r, p, _, _ in rings])[ring_of]
    hole = np.array([h for _, _, _, h in rings])[ring_of]
    ang = rng.uniform(0.0, 2 * np.pi, total)
    # sort angles within each ring so the ring does not cross itself
    ang = ang[np.lexsort((ang, ring_of))]
    rad = rng.integers(200, 900, total) // np.where(hole, 2, 1)
    xs = cx[centre] - (rad * np.cos(ang)).astype(np.int64)
    ys = cy[centre] + (rad * np.sin(ang)).astype(np.int64)
    # close each ring: its points, then its first point again
    starts = np.concatenate(([0], np.cumsum(n_open)[:-1]))
    closed = n_open + 1
    offset = np.arange(int(closed.sum())) - np.repeat(np.cumsum(closed) - closed, closed)
    order = np.repeat(starts, closed) + np.where(offset == np.repeat(n_open, closed), 0, offset)
    text = _fixed_points(xs[order], ys[order])
    out: list[list[list[str]]] = [[[] for _ in range(polygons)] for _ in range(rows)]
    pos = 0
    for r, p, n, _ in rings:
        out[r][p].append(text[pos * _PT: (pos + n) * _PT - 2].decode())
        pos += n
    return out


_PT = len(b"-74.123456 40.123456, ")


def _fixed_points(xs: np.ndarray, ys: np.ndarray) -> bytes:
    """``-XX.XXXXXX YY.YYYYYY, `` per point, for 8-digit micro-degree
    magnitudes (10-99 degrees)."""
    buf = np.empty((len(xs), _PT), dtype=np.uint8)
    buf[:, 0] = ord("-")
    for col0, v in ((1, xs), (11, ys)):
        digits = [(v // 10 ** k) % 10 for k in range(7, -1, -1)]
        for j, d in enumerate(digits[:2]):
            buf[:, col0 + j] = d + 48
        buf[:, col0 + 2] = ord(".")
        for j, d in enumerate(digits[2:]):
            buf[:, col0 + 3 + j] = d + 48
    buf[:, 10] = ord(" ")
    buf[:, 20] = ord(",")
    buf[:, 21] = ord(" ")
    return buf.tobytes()


def wkt(polys: list[list[str]]) -> str:
    return "MULTIPOLYGON (" + ", ".join(
        "(" + ", ".join("(" + ring + ")" for ring in poly) + ")" for poly in polys
    ) + ")"


def colon_encode_truth(polys: list[list[str]]) -> str:
    """Expected output of ``wkt_colon_encode``, built ring by ring rather
    than by rewriting the whole WKT: ``::::`` between polygons, ``:::``
    between rings, ``::`` between points, ``:`` between lon and lat."""
    return "::::".join(
        ":::".join(ring.replace(", ", "::").replace(" ", ":") for ring in poly)
        for poly in polys
    )


@dataclass
class Landmark:
    row: list[str]
    encoded_geom: str

    @property
    def key(self) -> int:
        return int(self.row[0])

    def silver_row(self) -> dict[str, str | None]:
        """The row as ingest should store it: geometry colon-encoded,
        empty CSV fields read back as null."""
        out = {c: (v if v != "" else None) for c, v in zip(COLUMNS, self.row)}
        out["the_geom"] = self.encoded_geom or None
        return out

    def csv_bytes(self) -> int:
        buf = io.StringIO()
        csv.writer(buf, lineterminator="\n").writerow(self.row)
        return len(buf.getvalue().encode())


def landmark(
    key: int,
    version: int,
    rng: random.Random,
    polys: list[list[str]],
    borough: str | None = None,
) -> Landmark:
    """One landmarks row. ``LAST_ACTIO`` carries the key's version."""
    b = borough or rng.choices(BOROUGHS, _BOROUGH_WEIGHTS)[0]
    street = rng.choice(_STREETS)
    desig = _date(rng) if rng.random() < 0.93 else ""
    row = [
        str(key),
        wkt(polys),
        f"LP-{key:05d}",
        b,
        "",
        f"LP-{(key * 7) % 99991:05d}" if rng.random() < 0.2 else "",
        "Yes" if rng.random() < 0.9 else "No",
        f"{street} Building, {rng.randint(1, 999)} {street}",
        f"Former {rng.choice(_STREETS)} Hall" if rng.random() < 0.3 else "",
        "Yes" if rng.random() < 0.1 else "No",
        "DESIGNATED",
        f"REV{version}",
        "Yes" if rng.random() < 0.5 else "No",
        desig,
        _date(rng),
        _date(rng),
        "",
        (f"Heard {rng.randint(1, 12)} times, continued, then closed"
         if rng.random() < 0.4 else ""),
        f"{b} survey, phase {rng.randint(1, 4)}",
        _date(rng, 1960, 1990),
        f"{rng.uniform(500.0, 2_000_000.0):.6f}",
        f"{rng.uniform(80.0, 9_000.0):.6f}",
        BOROUGH_NAMES[b],
        f"LP-{key:05d}",
        f"http://s-media.nyc.gov/agencies/lpc/lp/{key:04d}.pdf",
        f"http://s-media.nyc.gov/agencies/lpc/img/{key:04d}.jpg",
        rng.choice(_LM_TYPES),
        desig.split(" ")[0] if desig else "",
    ]
    return Landmark(row, colon_encode_truth(polys))


def write_csv(path: str, rows: list[Landmark]) -> int:
    """Write header + rows; fields containing commas are quoted. Returns
    the file's size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(COLUMNS)
        w.writerows(lm.row for lm in rows)
    return os.path.getsize(path)


def write_silver_parquet(path: str, rows: list[Landmark]) -> int:
    """Rows in silver shape (all-string columns, geometry encoded) as
    one parquet file, the form a silver-zone update batch arrives in.
    Returns the file's size in bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    recs = [lm.silver_row() for lm in rows]
    table = pa.table(
        {c: pa.array([r[c] for r in recs], pa.string()) for c in COLUMNS}
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def write_sidecar(path: str) -> None:
    """Reference sidecar grammar: every column ``string``, ``BOROUGH``
    flagged as the partition key."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    doc = [
        {
            "key": c,
            "type": "string",
            "partition_key": "true" if c == "BOROUGH" else "false",
            "comment": "",
        }
        for c in COLUMNS
    ]
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f)


def csv_with_sidecar(directory: str, name: str, rows: list[Landmark]) -> tuple[str, int]:
    """``<dir>/<name>.csv`` plus ``<dir>/schemas/<name>.json``, the path
    convention ``ingest.csv_ingest.sidecar_for`` resolves."""
    path = os.path.join(directory, f"{name}.csv")
    size = write_csv(path, rows)
    write_sidecar(os.path.join(directory, "schemas", f"{name}.json"))
    return path, size


# ---------------------------------------------------------------------------
# ground truth over a set of landmark rows
# ---------------------------------------------------------------------------
def counts_per_borough(rows) -> dict[str, int]:
    return dict(Counter(lm.row[COL["BOROUGH"]] for lm in rows))


def truth_per_borough(rows) -> list[tuple]:
    """Expected ``pipelines.landmarks_per_borough``."""
    c = counts_per_borough(rows)
    return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))


def truth_designations_per_year(rows) -> list[tuple]:
    """Expected ``pipelines.designations_per_year``: the year is the
    third field of ``MM/dd/yyyy ...`` (every time is midnight UTC)."""
    c = Counter(
        int(d[6:10]) for lm in rows if (d := lm.row[COL["DESIG_DATE"]])
    )
    return sorted(c.items())


def truth_largest(rows, k: int = 10) -> list[tuple]:
    """Expected ``pipelines.largest_landmarks``."""
    top = sorted(
        rows,
        key=lambda lm: (-float(lm.row[COL["Shape_area"]]), lm.row[COL["LP_NUMBER"]]),
    )[:k]
    return [
        (lm.row[COL["LP_NUMBER"]], lm.row[COL["AREA_NAME"]], lm.row[COL["BOROUGH"]],
         float(lm.row[COL["Shape_area"]]))
        for lm in top
    ]


# ---------------------------------------------------------------------------
# workload inputs
# ---------------------------------------------------------------------------
def backfill_files(
    seed: int, n_files: int, rows_per_file: int, polygons: int, vertices: int
) -> list[list[Landmark]]:
    """Disjoint key ranges, one list of rows per file."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    files = []
    for f in range(n_files):
        polys = _polygons(nrng, rows_per_file, polygons, vertices, holes=polygons > 1)
        files.append([
            landmark(f * rows_per_file + i + 1, 0, rng, polys[i])
            for i in range(rows_per_file)
        ])
    return files


@dataclass
class Universe:
    """A fixed ``OBJECTID`` universe and the latest row of every key.

    ``base()`` is version 0 of every key; each ``batch()`` rewrites a
    random subset of distinct keys with their next version and records
    it as the latest, so ``latest`` is always the expected table."""

    seed: int
    size: int
    polygons: int = 1
    vertices: int = 20
    latest: dict[int, Landmark] = field(default_factory=dict)
    version: dict[int, int] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)
        self._nrng = np.random.default_rng(self.seed)

    def _make(self, keys: list[int], base: bool) -> list[Landmark]:
        polys = _polygons(self._nrng, len(keys), self.polygons, self.vertices,
                          holes=self.polygons > 1)
        out = []
        for key, geom in zip(keys, polys):
            v = self.version.get(key, -1) + 1
            lm = landmark(key, v, self._rng, geom, borough_of_key(key) if base else None)
            self.version[key] = v
            self.latest[key] = lm
            out.append(lm)
        return out

    def base(self) -> list[Landmark]:
        return self._make(list(range(1, self.size + 1)), base=True)

    def batch(self, n: int) -> list[Landmark]:
        return self._make(sorted(self._rng.sample(range(1, self.size + 1), n)), base=False)


# ---------------------------------------------------------------------------
# TPC-H-shaped star schema (FIXTURES.md §2-8 column names and types)
# ---------------------------------------------------------------------------
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def write_star(seed: int, out_dir: str, orders: int) -> dict[str, int]:
    """Write region/nation/customer/supplier/orders/lineitem parquet
    (one file each, ``<table>.parquet``); returns rows per table. Sizes
    follow TPC-H ratios: customers = orders/10, suppliers = orders/150,
    ~4 line items per order."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(orders // 10, 25)
    n_supp = max(orders // 150, 10)
    day0 = np.datetime64("1992-01-01", "D")
    tables: dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": list(_REGIONS),
    })
    tables["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    tables["customer"] = pd.DataFrame({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    okeys = np.arange(1, orders + 1, dtype=np.int64)
    odate = day0 + rng.integers(0, 2405, orders).astype("timedelta64[D]")
    per_order = rng.integers(1, 8, orders)
    n_li = int(per_order.sum())
    li_order = np.repeat(okeys, per_order)
    li_num = (np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1)
    ship = np.repeat(odate, per_order) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2)
    shipped = ship <= np.datetime64("1995-06-17")
    returnflag = np.where(shipped, np.array(["R", "A"])[rng.integers(0, 2, n_li)], "N")
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": li_order,
        "l_partkey": rng.integers(1, orders // 5 + 2, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": li_num.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": returnflag,
        "l_linestatus": np.where(ship > np.datetime64("1995-06-17"), "O", "F"),
        "l_shipdate": ship.astype("datetime64[us]"),
    })
    tables["orders"] = pd.DataFrame({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_cust + 1, orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": np.round(rng.uniform(850.0, 500_000.0, orders), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, orders)],
    })
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}
