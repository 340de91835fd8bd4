"""Metric names and units, and the summaries that turn a run's samples
and spans into them. ``END_TO_END`` and ``PER_LAYER`` must list the same
names and units as ``BENCHMARK.json``."""

from __future__ import annotations

import statistics

#: Op cost is CPU time (driver + JVM), not wall time: on a shared VM the
#: wall time of the same op drifted by a quarter between runs. A run
#: measures 10-20 ops, so only the median has the ten samples beyond it
#: that a percentile needs. Throughput is ops per CPU-second of the
#: median whole cycle of the op mix.
#: Memory is the driver's resident set plus the JVM heap live after a
#: full GC: the JVM's own resident set depends on when its heap last grew
#: and varied by up to a third between runs.
END_TO_END = {
    "setup_s": "s",
    "op_cpu_p50_s": "s",
    "ops_per_cpu_s": "1/s",
    "silver_bytes_per_input_byte": "ratio",
    "mem_mb": "MB",
}

LAYER_QUERIES = (
    "landmarks_per_borough", "designations_per_year", "largest_landmarks",
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier_volume",
    "q10_returned_items",
)

PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "warmup.first_op_s": "s",
    "schema.load_sidecar_s": "s",
    "schema.validate_header_s": "s",
    "ingest.parse_s": "s",
    "geometry.encode_s": "s",
    "geometry.vertices_per_s": "1/s",
    "ingest.write_s": "s",
    "ingest.output_files": "count",
    "ingest.bytes_out_per_byte_in": "ratio",
    "ingest.spark_jobs_per_call": "count",
    "ingest.spark_tasks_per_call": "count",
    "txtable.merge_upsert_tx_s": "s",
    "txtable.commit_s": "s",
    "txtable.bytes_staged_per_update_byte": "ratio",
    "txtable.commit_conflicts": "count",
    "txtable.vacuum_s": "s",
    "txtable.vacuum_files_deleted": "count",
    "txtable.read_snapshot_s": "s",
    "txtable.versions": "count",
    "txtable.snapshot_files": "count",
    "txtable.bytes_per_live_byte": "ratio",
    "catalog.table_s": "s",
    **{f"query.{q}_p50_s": "s" for q in LAYER_QUERIES},
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "trace.overhead_frac": "ratio",
    "trace.unattributed_frac": "ratio",
}


def p50(xs) -> float:
    return float(statistics.median(xs))


def mix_p50(kinds: list[str], xs: list[float], period: int) -> float:
    """Each op kind's median, averaged over one cycle of the op mix: the
    median of a mix of ops that cost 0.3-1.5 s each jumps between kinds
    from run to run. With one kind it is the plain median."""
    by_kind: dict[str, list[float]] = {}
    for k, x in zip(kinds, xs):
        by_kind.setdefault(k, []).append(x)
    return sum(p50(by_kind[k]) for k in kinds[:period]) / period


def cycles(lat: list[float], period: int) -> list[float]:
    """Time of each whole cycle of ``period`` consecutive ops."""
    return [sum(lat[j:j + period]) for j in range(0, len(lat) - period + 1, period)]


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs)


def emit(values: dict[str, float], units: dict[str, str]) -> dict:
    """``{name: {"value": v, "unit": u}}`` for every name in ``units``;
    a missing value is a bug in the benchmark, so it raises."""
    return {n: {"value": float(values[n]), "unit": u} for n, u in units.items()}
