"""Tests of the benchmark's own code: the generator, its truth encoder
and the metric names it emits.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import json
import os
import re

import pytest

from perfbench import gen, metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_generator_is_deterministic_per_seed():
    a = gen.backfill_files(5, 2, 30, 2, 12)
    b = gen.backfill_files(5, 2, 30, 2, 12)
    assert [[lm.row for lm in f] for f in a] == [[lm.row for lm in f] for f in b]
    c = gen.backfill_files(6, 2, 30, 2, 12)
    assert [lm.row for lm in a[0]] != [lm.row for lm in c[0]]

    def run(seed):
        u = gen.Universe(seed, 200)
        rows = [lm.row for lm in u.base()] + [lm.row for lm in u.batch(50)]
        return rows, dict(u.version)

    assert run(3) == run(3)
    assert run(3) != run(4)


def test_star_schema_is_deterministic_per_seed(tmp_path):
    pd = pytest.importorskip("pandas")
    n1 = gen.write_star(9, str(tmp_path / "a"), 600)
    n2 = gen.write_star(9, str(tmp_path / "b"), 600)
    assert n1 == n2
    for t in n1:
        a = pd.read_parquet(tmp_path / "a" / f"{t}.parquet")
        b = pd.read_parquet(tmp_path / "b" / f"{t}.parquet")
        pd.testing.assert_frame_equal(a, b)


def test_universe_tracks_latest_version_per_key():
    u = gen.Universe(1, 100)
    u.base()
    for _ in range(5):
        batch = u.batch(30)
        keys = [lm.key for lm in batch]
        assert len(set(keys)) == len(keys)
    assert set(u.latest) == set(range(1, 101))
    for k, lm in u.latest.items():
        assert lm.row[gen.COL["LAST_ACTIO"]] == f"REV{u.version[k]}"
    assert sum(u.version.values()) == 5 * 30


def test_csv_and_sidecar_follow_the_reference_shape(tmp_path):
    from nyc_landmarks_datalake_spark.schema.sidecar import load_sidecar, partition_keys

    rows = gen.backfill_files(2, 1, 40, 2, 8)[0]
    path, size = gen.csv_with_sidecar(str(tmp_path), "lm", rows)
    assert size == os.path.getsize(path)
    with open(path, newline="") as f:
        parsed = list(csv.reader(f))
    assert tuple(parsed[0]) == gen.COLUMNS
    assert [r for r in parsed[1:]] == [lm.row for lm in rows]
    text = open(path).read()
    assert '"MULTIPOLYGON (((' in text
    assert any("," in lm.row[gen.COL["AREA_NAME"]] for lm in rows)
    assert all(lm.row[gen.COL["BOROUGH"]] in gen.BOROUGHS for lm in rows)
    dates = [lm.row[gen.COL["DESIG_DATE"]] for lm in rows if lm.row[gen.COL["DESIG_DATE"]]]
    assert all(re.fullmatch(r"\d\d/\d\d/\d{4} 12:00:00 AM \+0000", d) for d in dates)
    schema = load_sidecar(os.path.join(str(tmp_path), "schemas", "lm.json"))
    assert [f.name for f in schema.fields] == list(gen.COLUMNS)
    assert partition_keys(schema) == ["BOROUGH"]


def test_geometry_has_requested_vertex_count():
    rows = gen.backfill_files(4, 1, 20, 3, 15)[0]
    for lm in rows:
        polys = re.findall(r"\(\(([^()]*)\)", lm.row[gen.COL["the_geom"]])
        assert len(polys) == 3  # one outer ring per polygon
        for ring in polys:
            pts = ring.split(", ")
            assert len(pts) == 15 and pts[0] == pts[-1]


def test_truth_encoder_matches_wkt_colon_encode():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from nyc_landmarks_datalake_spark.functions.geometry import wkt_colon_encode

    rows = gen.backfill_files(8, 1, 25, 3, 10)[0]
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        df = spark.createDataFrame(
            [(lm.key, lm.row[gen.COL["the_geom"]]) for lm in rows], "k long, g string")
        got = dict(df.select("k", wkt_colon_encode(F.col("g")).alias("e")).collect())
    finally:
        spark.stop()
    assert got == {lm.key: lm.encoded_geom for lm in rows}


def test_metric_names_and_units():
    for table in (metrics.END_TO_END, metrics.PER_LAYER):
        for name, unit in table.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), (name, unit)
    assert not set(metrics.END_TO_END) & set(metrics.PER_LAYER)
    assert "setup_s" in metrics.END_TO_END
    out = metrics.emit({n: 1.5 for n in metrics.END_TO_END}, metrics.END_TO_END)
    assert all(v == {"value": 1.5, "unit": metrics.END_TO_END[n]} for n, v in out.items())
    with pytest.raises(KeyError):
        metrics.emit({}, metrics.END_TO_END)


def test_benchmark_json_lists_the_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    from perfbench.workloads import WORKLOADS  # needs the lake package

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
