"""Per-layer metrics of a traced run.

Most come from the spans recorded around calls into each layer during
set-up and the traced blocks of the loop. Two kinds come from a probe
that runs after the loop:

- parse and geometry cost, which happen inside one Spark job with the
  parquet write and so cannot be split by spans: the workload's own CSV
  is read with ``read_csv_with_sidecar`` into the ``noop`` sink, then
  read again with ``wkt_colon_encode`` applied; the difference is the
  geometry cost;
- layers the workload's loop never calls (txtable and the queries on
  ``bulk_backfill``, the registry queries on ``event_trickle``, vacuum
  on ``silver_read_mostly``), each called once so that every metric is
  measured on every workload.
"""

from __future__ import annotations

import os
import re
import statistics
import time

from nyc_landmarks_datalake_spark.functions.geometry import wkt_colon_encode
from nyc_landmarks_datalake_spark.ingest import csv_ingest
from nyc_landmarks_datalake_spark.sources import txtable
from perfbench import gen
from perfbench.metrics import LAYER_QUERIES, mean, p50
from perfbench.tracing import Tracer, tree_bytes
from perfbench.workloads import (
    LANDMARK_QUERIES,
    STAR_QUERIES,
    Lake,
    Op,
    SilverReadMostly,
    Workload,
    snapshot_files,
)

PROBE_REPS = 3
#: geometry cost below this is reported as this (the probe's resolution)
MIN_ENCODE_S = 1e-4


def vertex_count(encoded: str) -> int:
    """Points in a colon-encoded geometry: runs of 2+ colons separate
    points, rings and polygons; a single colon splits lon from lat."""
    return len(re.split(r"::+", encoded)) if encoded else 0


def probe_parse_encode(lake: Lake, wl: Workload) -> tuple[float, float]:
    from pyspark.sql import functions as F

    spark = lake.spark
    sc_path = csv_ingest.sidecar_for(wl.probe_csv)
    parse, enc = [], []
    was, lake.tracer.enabled = lake.tracer.enabled, False
    try:
        for _ in range(PROBE_REPS):
            t0 = time.perf_counter()
            df, _ = csv_ingest.read_csv_with_sidecar(spark, wl.probe_csv, sc_path)
            df.write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            df, _ = csv_ingest.read_csv_with_sidecar(spark, wl.probe_csv, sc_path)
            df = df.withColumn("the_geom", wkt_colon_encode(F.col("the_geom")))
            df.write.format("noop").mode("overwrite").save()
            parse.append(t1 - t0)
            enc.append(time.perf_counter() - t1 - (t1 - t0))
    finally:
        lake.tracer.enabled = was
    return statistics.median(parse), statistics.median(enc)


def probe_missing_layers(lake: Lake, wl: Workload) -> str:
    """Call once each layer the loop did not; returns the table whose
    size metrics are reported."""
    seen = {s.name for s in lake.tracer.spans}
    table = wl.table()
    if table is None:
        table = lake.path("probe_table")
        lake.build_table(wl.probe_csv, table)
    if "txtable.merge_upsert_tx" not in seen:
        upd = lake.path("probe_updates", "part.parquet")
        gen.write_silver_parquet(upd, wl.probe_rows[:500])
        lake.merge(table, upd)
    if "txtable.vacuum" not in seen:
        lake.call("txtable.vacuum", txtable.vacuum, table, keep_versions=2)
    for q in LANDMARK_QUERIES:
        if f"query.{q}" not in seen:
            lake.landmark_query(q, table)
    missing = [q for q in STAR_QUERIES if f"query.{q}" not in seen]
    if missing:
        star = getattr(wl, "star", None)
        if star is None:
            star = lake.path("star")
            gen.write_star(wl.seed, star, SilverReadMostly.ORDERS)
        for q in missing:
            lake.star_query(q, star)
    return table


def table_sizes(table: str) -> dict[str, float]:
    live = snapshot_files(table)
    return {
        "txtable.versions": len(os.listdir(os.path.join(table, "_txlog"))),
        "txtable.snapshot_files": len(live),
        "txtable.bytes_per_live_byte": (
            tree_bytes(os.path.join(table, "data"), ".parquet")[1]
            / sum(os.path.getsize(f) for f in live)),
    }


def layer_metrics(tracer: Tracer, lake: Lake, wl: Workload,
                  ops: list[tuple[Op, bool]]) -> dict[str, float]:
    parse_s, encode_s = probe_parse_encode(lake, wl)
    # the table as the loop left it; the probe may vacuum or create one
    sizes = table_sizes(wl.table()) if wl.table() else None
    table = probe_missing_layers(lake, wl)
    sizes = sizes or table_sizes(table)

    def dur(name):
        return [s.dur for s in tracer.named(name)]

    def attr(name, key):
        return [s.attrs[key] for s in tracer.named(name) if key in s.attrs]

    v: dict[str, float] = {
        "session.get_spark_s": p50(dur("session.get_spark")),
        "registry.load_all_s": p50(dur("registry.load_all")),
        "warmup.first_op_s": p50(dur("warmup")),
        "schema.load_sidecar_s": p50(dur("schema.load_sidecar")),
        "schema.validate_header_s": p50(dur("schema.validate_header")),
        "ingest.parse_s": parse_s,
        "geometry.encode_s": encode_s,
        "geometry.vertices_per_s": (
            sum(vertex_count(lm.encoded_geom) for lm in wl.probe_rows)
            / max(encode_s, MIN_ENCODE_S)),
        "ingest.write_s": p50(dur("ingest.ingest_csv")) - parse_s - encode_s,
        "ingest.output_files": mean(attr("ingest.ingest_csv", "files")),
        "ingest.bytes_out_per_byte_in": (
            sum(attr("ingest.ingest_csv", "bytes_out"))
            / sum(attr("ingest.ingest_csv", "bytes_in"))),
        "ingest.spark_jobs_per_call": mean(attr("ingest.ingest_csv", "jobs")),
        "ingest.spark_tasks_per_call": mean(attr("ingest.ingest_csv", "tasks")),
        "txtable.merge_upsert_tx_s": p50(dur("txtable.merge_upsert_tx")),
        "txtable.commit_s": p50(dur("txtable.commit")),
        "txtable.bytes_staged_per_update_byte": (
            sum(attr("txtable.merge_upsert_tx", "bytes_staged"))
            / sum(attr("txtable.merge_upsert_tx", "bytes_update"))),
        "txtable.commit_conflicts": sum(
            1 for s in tracer.named("txtable.commit") if s.error == "CommitConflict"),
        "txtable.vacuum_s": p50(dur("txtable.vacuum")),
        "txtable.vacuum_files_deleted": mean(attr("txtable.vacuum", "n")),
        "txtable.read_snapshot_s": p50(dur("txtable.read_snapshot")),
        **sizes,
        "catalog.table_s": p50(dur("catalog.table")),
    }
    for q in LAYER_QUERIES:
        v[f"query.{q}_p50_s"] = p50(dur(f"query.{q}"))

    # per traced op: Spark work of every span inside it, and the part of
    # its wall time that no layer span covers
    op_idx = [i for i, s in enumerate(tracer.spans) if s.name == "op"]
    per_op = {tracer.spans[i].op: {"jobs": 0, "tasks": 0, "failed_tasks": 0}
              for i in op_idx}
    for s in tracer.spans:
        if s.op in per_op and "jobs" in s.attrs:
            for k in per_op[s.op]:
                per_op[s.op][k] += s.attrs[k]
    v["spark.jobs_per_op"] = mean(c["jobs"] for c in per_op.values())
    v["spark.tasks_per_op"] = mean(c["tasks"] for c in per_op.values())
    v["spark.failed_tasks"] = sum(c["failed_tasks"] for c in per_op.values())
    v["trace.unattributed_frac"] = (
        sum(tracer.self_time(i) for i in op_idx)
        / sum(tracer.spans[i].dur for i in op_idx))

    # tracing overhead: traced vs untraced median latency per op kind
    ratios = []
    for kind in {op.kind for op, _ in ops}:
        on = [op.latency_s for op, t in ops if t and op.kind == kind]
        off = [op.latency_s for op, t in ops if not t and op.kind == kind]
        if on and off:
            ratios.append(p50(on) / p50(off) - 1)
    v["trace.overhead_frac"] = p50(ratios)
    return v
