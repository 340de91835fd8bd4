"""Write the small landmarks fixture the lake-path tests ingest.

Uses the benchmark's seeded generator (``perfbench/gen.py``) to write

- ``tests/fixtures/landmarks.csv``: header + ROWS landmarks rows with
  the reference fixture's 28 columns, quoted fields with embedded
  commas and two-polygon WKT ``MULTIPOLYGON`` geometries (some with a
  hole);
- ``tests/fixtures/schemas/landmarks.json``: its sidecar (every column
  ``string``, ``BOROUGH`` the partition key);
- ``tests/fixtures/landmarks_truth.json``: the golden values the tests
  assert, computed from the generator's truth, not by Spark.

The output is deterministic for SEED. Usage: python tools/gen_lake_fixture.py
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

SEED, ROWS, POLYGONS, VERTICES = 20261017, 50, 2, 8
OUT = os.path.join(ROOT, "tests", "fixtures")


def main() -> None:
    rows = gen.backfill_files(SEED, 1, ROWS, POLYGONS, VERTICES)[0]
    csv_path, _ = gen.csv_with_sidecar(OUT, "landmarks", rows)
    truth = {
        "seed": SEED,
        "rows": len(rows),
        "columns": len(gen.COLUMNS),
        "per_borough": gen.truth_per_borough(rows),
        "designations_per_year": gen.truth_designations_per_year(rows),
        "largest_5": gen.truth_largest(rows, k=5),
        "other_note_with_commas": sum(
            "," in lm.row[gen.COL["OTHER_NOTE"]] for lm in rows
        ),
    }
    with open(os.path.join(OUT, "landmarks_truth.json"), "w") as f:
        json.dump(truth, f, indent=1)
        f.write("\n")
    print(csv_path, os.path.getsize(csv_path), "bytes")


if __name__ == "__main__":
    main()
