"""The three lake workloads, their warm-up and their output checks.

Each workload drives the lake only through public functions of the
package (``ingest.csv_ingest``, ``schema.sidecar``, ``sources.txtable``,
``sources.catalog`` via the registry queries, ``pipelines``). Checks read
the lake's output with pyarrow, not Spark, and compare it with the
generator's truth or, for the registry queries, with DuckDB running the
registry's oracle SQL on the same parquet.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from nyc_landmarks_datalake_spark import pipelines, registry
from nyc_landmarks_datalake_spark.ingest import csv_ingest
from nyc_landmarks_datalake_spark.sources import txtable
from perfbench import gen
from perfbench.tracing import JobCounter, Tracer, tree_bytes

LANDMARK_QUERIES = {
    "landmarks_per_borough": pipelines.landmarks_per_borough,
    "designations_per_year": pipelines.designations_per_year,
    "largest_landmarks": pipelines.largest_landmarks,
}
LANDMARK_TRUTH = {
    "landmarks_per_borough": gen.truth_per_borough,
    "designations_per_year": gen.truth_designations_per_year,
    "largest_landmarks": gen.truth_largest,
}
STAR_QUERIES = ("q01_pricing_summary", "q03_shipping_priority",
                "q05_local_supplier_volume", "q10_returned_items")
GEOM_SAMPLE = 32
CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Op:
    kind: str
    latency_s: float
    #: CPU time of the Python driver and the JVM, all threads, over the op
    cpu_s: float
    problems: list[str] = field(default_factory=list)


class Lake:
    """The session a workload drives, plus the trace hooks around each
    call into a layer (no-ops when tracing is off)."""

    def __init__(self, work: str, tracer: Tracer) -> None:
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.jobs: JobCounter | None = None

    def bind(self, spark) -> None:
        self.spark = spark
        # the launcher script execs the JVM, so this is the JVM's pid
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        if self.tracer.enabled:
            self.jobs = JobCounter(spark.sparkContext)

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` under a span and a Spark job group."""
        if not self.tracer.enabled:
            return fn(*args, **kwargs)
        with self.tracer.span(name) as s:
            with self.jobs.group(name) as counts:
                out = fn(*args, **kwargs)
            s.attrs.update(counts)
            if isinstance(out, list):
                s.attrs["n"] = len(out)
        return out

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and the JVM."""
        t = os.times()
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            utime, stime = f.read().rsplit(")", 1)[1].split()[11:13]
        return t.user + t.system + (int(utime) + int(stime)) / CLK_TCK

    @contextmanager
    def timed(self, kind: str):
        """Time an op's measured region; traced, it is the ``op`` span
        and its own job group. Yields a dict that gets ``"s"`` (wall)
        and ``"cpu"``."""
        out: dict[str, float] = {}
        if not self.tracer.enabled:
            c0, t0 = self.cpu_s(), time.perf_counter()
            yield out
            out["s"] = time.perf_counter() - t0
            out["cpu"] = self.cpu_s() - c0
            return
        with self.tracer.span("op", kind=kind) as s:
            with self.jobs.group("op") as counts:
                c0, t0 = self.cpu_s(), time.perf_counter()
                yield out
                out["s"] = time.perf_counter() - t0
                out["cpu"] = self.cpu_s() - c0
            s.attrs.update(counts)

    def count_last(self, name: str, **attrs) -> None:
        """Attach counts to the latest span called ``name``."""
        if self.tracer.enabled:
            self.tracer.named(name)[-1].attrs.update(attrs)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- the calls every workload shares ------------------------------------
    def ingest(self, csv_path: str, dest: str) -> None:
        sc_path = self.call("ingest.sidecar_for", csv_ingest.sidecar_for, csv_path)
        self.call("ingest.ingest_csv", csv_ingest.ingest_csv, self.spark, csv_path,
                  sc_path, dest, geometry_mode="encode")
        if self.tracer.enabled:
            files, out = tree_bytes(dest, ".parquet")
            self.count_last("ingest.ingest_csv", files=files, bytes_out=out,
                            bytes_in=os.path.getsize(csv_path))

    def build_table(self, csv_path: str, table: str) -> None:
        """Ingest the base CSV and commit it as txtable version 0."""
        silver = table + "_v0_silver"
        self.ingest(csv_path, silver)
        base = self.call("ingest.read_silver", self.spark.read.parquet, silver)
        txtable.commit(self.spark, table, base, "create")
        shutil.rmtree(silver)

    def merge(self, table: str, updates_path: str) -> None:
        updates = self.call("ingest.read_silver", self.spark.read.parquet, updates_path)
        before = tree_bytes(os.path.join(table, "data"))[1] if self.tracer.enabled else 0
        self.call("txtable.merge_upsert_tx", txtable.merge_upsert_tx, self.spark,
                  table, updates, ["OBJECTID"])
        if self.tracer.enabled:
            self.count_last(
                "txtable.merge_upsert_tx",
                bytes_staged=tree_bytes(os.path.join(table, "data"))[1] - before,
                bytes_update=tree_bytes(updates_path, ".parquet")[1])

    def landmark_query(self, name: str, table: str) -> list[tuple]:
        snap = txtable.read_snapshot(self.spark, table)
        rows = self.call(f"query.{name}",
                         lambda: LANDMARK_QUERIES[name](snap).collect())
        return [tuple(r) for r in rows]

    def star_query(self, name: str, star: str):
        fn = registry.QUERIES[name]
        return self.call(f"query.{name}", lambda: fn(self.spark, star).toPandas())


# ---------------------------------------------------------------------------
# checks (pyarrow side; never Spark)
# ---------------------------------------------------------------------------
def _parquet_files(root: str) -> list[str]:
    return sorted(
        os.path.join(dp, f) for dp, _, fs in os.walk(root) for f in fs
        if f.endswith(".parquet")
    )


def check_silver(dest: str, rows: list[gen.Landmark], seed: int) -> list[str]:
    """Row counts per ``BOROUGH=`` partition equal the truth, and a
    sample of geometries equals the truth encoder's output."""
    problems = []
    got: dict[str, int] = {}
    files = _parquet_files(dest)
    for f in files:
        part = os.path.basename(os.path.dirname(f))
        if not part.startswith("BOROUGH="):
            problems.append(f"file outside a BOROUGH partition: {f}")
            continue
        b = part.split("=", 1)[1]
        got[b] = got.get(b, 0) + pq.read_metadata(f).num_rows
    want = gen.counts_per_borough(rows)
    if got != want:
        problems.append(f"{dest}: rows per borough {got} != {want}")
    sample = {lm.key: lm.encoded_geom
              for lm in random.Random(seed).sample(rows, min(GEOM_SAMPLE, len(rows)))}
    seen = 0
    for f in files:
        t = pq.read_table(f, columns=["OBJECTID", "the_geom"]).to_pydict()
        for k, g in zip(t["OBJECTID"], t["the_geom"]):
            want_g = sample.get(int(k))
            if want_g is not None:
                seen += 1
                if g != want_g:
                    problems.append(f"{dest}: OBJECTID {k} geometry mismatch")
    if seen != len(sample):
        problems.append(f"{dest}: {len(sample) - seen} sampled keys missing")
    return problems


def snapshot_files(table: str) -> list[str]:
    """Data files of the table's latest version, from its manifest."""
    v = txtable.current_version(table)
    with open(os.path.join(table, "_txlog", f"{v:08d}.json")) as f:
        return [os.path.join(table, p) for p in json.load(f)["files"]]


def check_snapshot(table: str, universe: gen.Universe) -> list[str]:
    """The latest snapshot holds exactly the latest version of every
    key, every column equal to the truth."""
    got: dict[int, dict] = {}
    for f in snapshot_files(table):
        for r in pq.read_table(f).to_pylist():
            k = int(r["OBJECTID"])
            if k in got:
                return [f"{table}: OBJECTID {k} appears twice"]
            got[k] = r
    if set(got) != set(universe.latest):
        return [f"{table}: keys differ from the universe "
                f"({len(got)} vs {len(universe.latest)})"]
    for k, lm in universe.latest.items():
        if got[k] != lm.silver_row():
            return [f"{table}: OBJECTID {k} is not its latest version "
                    f"(got {got[k]['LAST_ACTIO']}, want REV{universe.version[k]})"]
    return []


def live_bytes_per_csv_byte(table: str, universe: gen.Universe) -> float:
    live = sum(os.path.getsize(f) for f in snapshot_files(table))
    return live / sum(lm.csv_bytes() for lm in universe.latest.values())


def compare_frames(got, want, name: str) -> list[str]:
    """Same columns; rows equal after sorting; floats to 1e-9 relative."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != {len(want)}"]
    cols = sorted(got.columns)

    def norm(df):
        df = df[cols].copy()
        for c in cols:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].dt.tz_localize(None).astype("datetime64[us]")
            elif df[c].dtype == object and len(df) and not isinstance(df[c].iloc[0], str):
                df[c] = df[c].astype(float)
        return df.sort_values(cols, kind="mergesort").reset_index(drop=True)

    g, w = norm(got), norm(want)
    for c in cols:
        if g[c].dtype.kind == "f" or w[c].dtype.kind == "f":
            ok = np.isclose(g[c].astype(float), w[c].astype(float), rtol=1e-9, atol=1e-9)
        else:
            ok = (g[c] == w[c]).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return [f"{name}.{c}: row {i} {g[c].iloc[i]!r} != {w[c].iloc[i]!r}"]
    return []


def star_oracle(star: str) -> dict:
    """DuckDB results of the registry's oracle SQL on the star parquet."""
    import duckdb

    # importing the module registers the queries' oracle SQL
    import nyc_landmarks_datalake_spark.operators.relational  # noqa: F401

    con = duckdb.connect()
    try:
        for t in ("region", "nation", "customer", "supplier", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(star, t + '.parquet')}')")
        return {q: con.execute(registry.ORACLE[q]).fetchdf() for q in STAR_QUERIES}
    finally:
        con.close()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
class Workload:
    name = ""
    #: ops in one cycle of the workload's op mix. One cycle runs unmeasured
    #: after set-up (the JIT is still warming), the measured loop stops on
    #: a cycle boundary, and the traced run alternates whole cycles
    #: untraced and traced.
    period = 1

    def __init__(self, lake: Lake, seed: int) -> None:
        self.lake = lake
        self.seed = seed
        self.info: dict = {}
        #: a CSV of this workload and its rows, for the traced layer probe
        self.probe_csv = ""
        self.probe_rows: list[gen.Landmark] = []

    def generate(self) -> None:
        raise NotImplementedError

    def warmup(self, round_: int) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def finish(self) -> list[str]:
        """End-of-run output checks."""
        return []

    def silver_bytes_per_input_byte(self) -> float:
        raise NotImplementedError

    def table(self) -> str | None:
        return None


class BulkBackfill(Workload):
    """A few large CSV files with heavy geometries, ingested into a fresh
    silver dir pass after pass. One op is one file's ``ingest_csv``."""

    name = "bulk_backfill"
    N_FILES, ROWS, POLYGONS, VERTICES = 4, 4000, 3, 40
    period = N_FILES

    def generate(self) -> None:
        lake = self.lake
        self.files = gen.backfill_files(self.seed, self.N_FILES, self.ROWS,
                                        self.POLYGONS, self.VERTICES)
        self.csvs = [
            gen.csv_with_sidecar(lake.path("bronze"), f"landmarks_{i:02d}", rows)
            for i, rows in enumerate(self.files)
        ]
        self.probe_csv, self.probe_rows = self.csvs[0][0], self.files[0]
        self.in_bytes = self.out_bytes = 0
        self.info = {"files": self.N_FILES, "rows_per_file": self.ROWS,
                     "csv_mb": sum(s for _, s in self.csvs) / 1e6,
                     "vertices_per_row": self.POLYGONS * self.VERTICES}

    def warmup(self, round_: int) -> None:
        dest = self.lake.path("warmup", str(round_))
        self.lake.ingest(self.csvs[0][0], dest)
        shutil.rmtree(dest)

    def op(self, i: int) -> Op:
        n = i % self.N_FILES
        pass_dir = self.lake.path("silver", f"pass{i // self.N_FILES}")
        if n == 0:
            shutil.rmtree(self.lake.path("silver"), ignore_errors=True)
        (csv_path, size), rows = self.csvs[n], self.files[n]
        dest = os.path.join(pass_dir, f"landmarks_{n:02d}")
        with self.lake.timed("ingest") as t:
            self.lake.ingest(csv_path, dest)
        self.in_bytes += size
        self.out_bytes += tree_bytes(dest, ".parquet")[1]
        return Op("ingest", t["s"], t["cpu"], check_silver(dest, rows, self.seed + i))

    def silver_bytes_per_input_byte(self) -> float:
        return self.out_bytes / self.in_bytes


class EventTrickle(Workload):
    """One small CSV per event over a fixed key universe: sidecar lookup,
    ingest into the event's own processed dir, MERGE into the table;
    every VACUUM_EVERY-th event also vacuums the table."""

    name = "event_trickle"
    KEYS, BATCH, VERTICES, VACUUM_EVERY = 5000, 500, 20, 5
    period = VACUUM_EVERY

    def generate(self) -> None:
        self.universe = gen.Universe(self.seed, self.KEYS, vertices=self.VERTICES)
        base = self.universe.base()
        self.base_csv, size = gen.csv_with_sidecar(
            self.lake.path("bronze"), "landmarks_base", base)
        self.probe_csv, self.probe_rows = self.base_csv, base
        self.info = {"keys": self.KEYS, "rows_per_event": self.BATCH,
                     "base_csv_mb": size / 1e6, "vacuum_every": self.VACUUM_EVERY}

    def table(self) -> str:
        return self.lake.path("table")

    def warmup(self, round_: int) -> None:
        """Fresh table at v0, then one event that rewrites a slice of the
        base rows unchanged (the truth stays v0)."""
        lake = self.lake
        shutil.rmtree(self.table(), ignore_errors=True)
        lake.build_table(self.base_csv, self.table())
        keys = sorted(self.universe.latest)[: self.BATCH]
        csv_path, _ = gen.csv_with_sidecar(
            lake.path("events"), f"warmup{round_}",
            [self.universe.latest[k] for k in keys])
        dest = lake.path("processed", f"warmup{round_}")
        lake.ingest(csv_path, dest)
        lake.merge(self.table(), dest)
        lake.call("txtable.vacuum", txtable.vacuum, self.table(), keep_versions=2)

    def op(self, i: int) -> Op:
        lake = self.lake
        batch = self.universe.batch(self.BATCH)
        csv_path, _ = gen.csv_with_sidecar(lake.path("events"), f"event{i:05d}", batch)
        dest = lake.path("processed", f"event{i:05d}")
        self.probe_csv, self.probe_rows = csv_path, batch
        with lake.timed("event") as t:
            lake.ingest(csv_path, dest)
            lake.merge(self.table(), dest)
            if (i + 1) % self.VACUUM_EVERY == 0:
                lake.call("txtable.vacuum", txtable.vacuum, self.table(), keep_versions=2)
        return Op("event", t["s"], t["cpu"], check_silver(dest, batch, self.seed + i))

    def finish(self) -> list[str]:
        return check_snapshot(self.table(), self.universe)

    def silver_bytes_per_input_byte(self) -> float:
        return live_bytes_per_csv_byte(self.table(), self.universe)


class SilverReadMostly(Workload):
    """A txtable-backed silver landmarks table and a TPC-H-shaped star
    schema; a fixed cycle of nine reads and one 500-row MERGE."""

    name = "silver_read_mostly"
    KEYS, BATCH, VERTICES, ORDERS = 5000, 500, 20, 6000
    CYCLE = ("landmarks_per_borough", "q01_pricing_summary", "designations_per_year",
             "q03_shipping_priority", "largest_landmarks", "q05_local_supplier_volume",
             "landmarks_per_borough", "q10_returned_items", "designations_per_year",
             "merge")
    period = len(CYCLE)

    def generate(self) -> None:
        lake = self.lake
        self.universe = gen.Universe(self.seed, self.KEYS, vertices=self.VERTICES)
        base = self.universe.base()
        self.base_csv, size = gen.csv_with_sidecar(lake.path("bronze"), "landmarks_base", base)
        self.probe_csv, self.probe_rows = self.base_csv, base
        self.star = lake.path("star")
        self.star_rows = gen.write_star(self.seed, self.star, self.ORDERS)
        self.oracle = star_oracle(self.star)
        self.info = {"keys": self.KEYS, "rows_per_merge": self.BATCH,
                     "base_csv_mb": size / 1e6, "star_rows": self.star_rows,
                     "star_mb": tree_bytes(self.star)[1] / 1e6}

    def table(self) -> str:
        return self.lake.path("table")

    def warmup(self, round_: int) -> None:
        lake = self.lake
        shutil.rmtree(self.table(), ignore_errors=True)
        lake.build_table(self.base_csv, self.table())
        lake.landmark_query("landmarks_per_borough", self.table())
        lake.star_query("q01_pricing_summary", self.star)
        keys = sorted(self.universe.latest)[: self.BATCH]
        upd = lake.path("updates", f"warmup{round_}.parquet")
        gen.write_silver_parquet(upd, [self.universe.latest[k] for k in keys])
        lake.merge(self.table(), upd)

    def op(self, i: int) -> Op:
        lake = self.lake
        kind = self.CYCLE[i % len(self.CYCLE)]
        if kind == "merge":
            batch = self.universe.batch(self.BATCH)
            upd = lake.path("updates", f"merge{i:05d}.parquet")
            gen.write_silver_parquet(upd, batch)
            with lake.timed(kind) as t:
                lake.merge(self.table(), upd)
            return Op(kind, t["s"], t["cpu"])
        if kind in LANDMARK_QUERIES:
            with lake.timed(kind) as t:
                got = lake.landmark_query(kind, self.table())
            want = LANDMARK_TRUTH[kind](self.universe.latest.values())
            return Op(kind, t["s"], t["cpu"],
                      [] if got == want else [f"{kind}: {got[:3]} != {want[:3]}"])
        with lake.timed(kind) as t:
            got = lake.star_query(kind, self.star)
        return Op(kind, t["s"], t["cpu"], compare_frames(got, self.oracle[kind], kind))

    def finish(self) -> list[str]:
        return check_snapshot(self.table(), self.universe)

    def silver_bytes_per_input_byte(self) -> float:
        return live_bytes_per_csv_byte(self.table(), self.universe)


WORKLOADS = {w.name: w for w in (BulkBackfill, EventTrickle, SilverReadMostly)}
