"""Command-line entry point: run any registered query, list the
registry, or ingest a CSV — the operational surface a user of the
reference lake would drive (drop file → ingest → query) from a shell.

    landmarks-lake list
    landmarks-lake run q01_pricing_summary --sf-dir /root/testdata/sf0.01 -n 20
    landmarks-lake ingest bronze.csv sidecar.json silver/ --geometry-mode encode
"""

from __future__ import annotations

import argparse
import sys

from nyc_landmarks_datalake_spark.ingest.csv_ingest import GEOMETRY_MODES, ingest_csv


def _spark(shuffle_partitions: int | None):
    from nyc_landmarks_datalake_spark.session import get_spark

    return get_spark("landmarks-lake-cli", shuffle_partitions=shuffle_partitions)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="landmarks-lake")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    runp = sub.add_parser("run", help="run a registered query")
    runp.add_argument("query")
    runp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    runp.add_argument("-n", "--rows", type=int, default=20)
    runp.add_argument("--explain", action="store_true", help="print the physical plan")
    runp.add_argument("--shuffle-partitions", type=int, default=None)

    ing = sub.add_parser("ingest", help="bronze→silver CSV ingest")
    ing.add_argument("csv_path")
    ing.add_argument("sidecar_path")
    ing.add_argument("dest_path")
    ing.add_argument("--geometry-mode", default="encode",
                     choices=GEOMETRY_MODES)
    ing.add_argument("--strict", action="store_true")

    args = ap.parse_args(argv)

    from nyc_landmarks_datalake_spark import registry

    registry.load_all()

    if args.cmd == "list":
        for name in sorted(registry.QUERIES):
            tag = "" if name in registry.ORACLE else "  [rows-only]"
            print(f"{name}{tag}")
        return 0

    if args.cmd == "run":
        if args.query not in registry.QUERIES:
            print(f"unknown query {args.query!r}; try 'landmarks-lake list'",
                  file=sys.stderr)
            return 2
        spark = _spark(args.shuffle_partitions)
        df = registry.QUERIES[args.query](spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        df.show(args.rows, truncate=False)
        return 0

    if args.cmd == "ingest":
        spark = _spark(None)
        out = ingest_csv(
            spark,
            args.csv_path,
            args.sidecar_path,
            args.dest_path,
            geometry_mode=args.geometry_mode,
            strict=args.strict,
        )
        print(f"ingested {out.count()} rows → {args.dest_path}")
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
