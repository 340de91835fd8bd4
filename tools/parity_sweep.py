"""CLI parity sweep: every registered query vs its DuckDB oracle.

Thin committed wrapper around tests/oracle_harness.py (the local replica
of the driver's comparison) so full-registry sweeps at any sf-dir are a
one-liner instead of an ad-hoc scratch script each round:

    python tools/parity_sweep.py --sf-dir /root/testdata/sf0.01
    python tools/parity_sweep.py --sf-dir .sfnative10 \
        --only 'q_dedup*,q_ivf_topk' --out /tmp/sweep_sf10_dedup.json

``--dump-oracles PATH`` writes every registered oracle SQL text, with
whitespace runs collapsed to one space, as a sorted JSON object and
exits without starting Spark. Dumps of two checkouts compare with one
``diff``: a refactor that must keep the oracles unchanged shows none.

Emits one line per query (ok/FAIL + wall seconds, Spark and oracle
separately) and a JSON summary. Exit code 0 iff every selected query
passed.
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
)


def _selected(names, only, skip):
    if only:
        pats = [p.strip() for p in only.split(",") if p.strip()]
        names = [n for n in names if any(fnmatch.fnmatch(n, p) for p in pats)]
    if skip:
        pats = [p.strip() for p in skip.split(",") if p.strip()]
        names = [n for n in names if not any(fnmatch.fnmatch(n, p) for p in pats)]
    return names


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None, help="comma-separated glob patterns")
    ap.add_argument("--skip", default=None, help="comma-separated glob patterns")
    ap.add_argument("--out", default=None, help="write JSON results here")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument(
        "--shuffle-partitions",
        default=None,
        help="override spark.sql.shuffle.partitions (default 32)",
    )
    ap.add_argument(
        "--spark-only",
        action="store_true",
        help="run and time only the Spark side (no oracle, no compare) — "
        "for scale points where the DuckDB oracle is intractable",
    )
    ap.add_argument(
        "--dump-oracles",
        default=None,
        metavar="PATH",
        help="write the whitespace-normalized oracle SQL of every query "
        "as JSON to PATH and exit",
    )
    args = ap.parse_args()

    from nyc_landmarks_datalake_spark import registry

    registry.load_all()
    if args.dump_oracles:
        with open(args.dump_oracles, "w") as f:
            json.dump(
                {n: " ".join(sql.split()) for n, sql in registry.ORACLE.items()},
                f,
                indent=1,
                sort_keys=True,
            )
            f.write("\n")
        return 0

    from pyspark.sql import SparkSession

    from oracle_harness import compare, duckdb_conn

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("parity_sweep")
        .config("spark.sql.shuffle.partitions", args.shuffle_partitions or "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    con = duckdb_conn(args.sf_dir)

    names = _selected(
        [n for n in registry.QUERIES if n in registry.ORACLE], args.only, args.skip
    )
    results: dict[str, dict] = {}
    n_fail = 0
    t_spark_total = t_oracle_total = 0.0
    for i, name in enumerate(names, 1):
        row: dict = {"ok": False, "spark_s": None, "oracle_s": None, "problems": []}
        t0 = time.time()
        try:
            sdf = registry.QUERIES[name](spark, args.sf_dir).toPandas()
            row["spark_s"] = round(time.time() - t0, 3)
        except Exception as e:  # noqa: BLE001
            row["problems"] = [f"SPARK ERROR {type(e).__name__}: {e}"[:500]]
            results[name] = row
            n_fail += 1
            print(f"[{i}/{len(names)}] {name}: SPARK ERROR {e}", flush=True)
            continue
        if args.spark_only:
            row["ok"] = True
            row["rows"] = len(sdf)
            results[name] = row
            t_spark_total += row["spark_s"]
            print(
                f"[{i}/{len(names)}] {name}: spark-only "
                f"({row['spark_s']}s, {len(sdf)} rows)",
                flush=True,
            )
            continue
        t1 = time.time()
        try:
            odf = con.execute(registry.ORACLE[name]).fetchdf()
            row["oracle_s"] = round(time.time() - t1, 3)
        except Exception as e:  # noqa: BLE001
            row["problems"] = [f"ORACLE ERROR {type(e).__name__}: {e}"[:500]]
            results[name] = row
            n_fail += 1
            print(f"[{i}/{len(names)}] {name}: ORACLE ERROR {e}", flush=True)
            continue
        row["problems"] = compare(sdf, odf, name)
        row["ok"] = not row["problems"]
        row["rows"] = len(sdf)
        results[name] = row
        t_spark_total += row["spark_s"]
        t_oracle_total += row["oracle_s"]
        status = "ok" if row["ok"] else "FAIL " + "; ".join(row["problems"])[:300]
        n_fail += 0 if row["ok"] else 1
        print(
            f"[{i}/{len(names)}] {name}: {status} "
            f"(spark {row['spark_s']}s, oracle {row['oracle_s']}s, {len(sdf)} rows)",
            flush=True,
        )

    summary = {
        "sf_dir": args.sf_dir,
        "n": len(names),
        "passed": len(names) - n_fail,
        "failed": n_fail,
        "spark_s_total": round(t_spark_total, 1),
        "oracle_s_total": round(t_oracle_total, 1),
        "results": results,
    }
    print(
        f"SWEEP {summary['passed']}/{summary['n']} passed at {args.sf_dir} "
        f"(spark {summary['spark_s_total']}s, oracle {summary['oracle_s_total']}s)"
    )
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
