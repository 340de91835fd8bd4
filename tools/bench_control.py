"""Same-box bench control: normalize cross-round BENCH numbers.

The container's wall-clock speed swings ×1.2–2.0 between rounds (r13:
the driver's BENCH_r13 read 2× BENCH_r12 while the same-box ratio was
0.92× — proven by re-benching the UNCHANGED r12 tree on the r13 box).
That adjudication lived in STATUS.md prose; this script is the
committed form (r13 VERDICT #4): it checks the control commit out into
a temporary git worktree, benches BOTH trees on THIS box back-to-back
(after a prewarm run that pays the page-cache/JIT cost), and emits the
normalized common-subset ratio — the number that actually says whether
the code got slower.

Usage:
    python tools/bench_control.py [--control <commit>] [--out PATH]

--control defaults to the last commit that touched a BENCH_r*.json
artifact (the driver's round-close commit — the exact tree the previous
round's recorded bench measured). Writes JSON to --out (default
/tmp/bench_control.json) and prints a one-line summary.

Protocol (matches the end-of-round ritual): prewarm = one bench of the
CURRENT tree (discarded), then control tree, then current tree. Both
measured runs see the same warmed page cache; the ratio divides out the
box entirely.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cmd: list[str], cwd: str) -> str:
    return subprocess.run(
        cmd, cwd=cwd, check=True, capture_output=True, text=True
    ).stdout


def _bench(tree: str, label: str) -> dict:
    """Run `python bench.py` in ``tree`` and parse its one JSON line."""
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tree,
        capture_output=True,
        text=True,
        env={**os.environ, "PYTHONPATH": tree},
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"bench.py failed in {tree}: {proc.stderr[-2000:]}"
        )
    # bench.py prints the full JSON line first and a SHORT summary line
    # last (so bounded tail captures keep the total) — take the line
    # that carries the per-query breakdown, falling back to the copy
    # bench.py persists to <tree>/BENCH.json.
    lines = [
        ln for ln in proc.stdout.splitlines() if ln.strip().startswith("{")
    ]
    # r17: bench.py additionally re-emits the per-query map in bounded
    # chunk lines before the summary (tail-survivability for the
    # driver's capture); those carry "queries" but no "value", so
    # select on both keys to keep taking the one full contract line.
    full = [ln for ln in lines if '"queries"' in ln and '"value"' in ln]
    if full:
        out = json.loads(full[-1])
    else:
        with open(os.path.join(tree, "BENCH.json")) as f:
            out = json.load(f)
    print(
        f"[{time.strftime('%H:%M:%S')}] {label}: {out['value']:.1f}s "
        f"over {len(out.get('queries', {}))} queries "
        f"(wall {time.time() - t0:.0f}s)",
        flush=True,
    )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--control",
        help="control commit (default: last commit touching BENCH_r*.json)",
    )
    ap.add_argument("--out", default="/tmp/bench_control.json")
    ap.add_argument(
        "--no-prewarm",
        action="store_true",
        help="skip the discarded warm-up bench of the current tree",
    )
    args = ap.parse_args()

    control = args.control
    if not control:
        # the driver's round-close commit records the bench it measured
        control = _run(
            ["git", "log", "-1", "--format=%H", "--", "BENCH_r*.json"],
            _REPO,
        ).strip()
    if not control:
        print("no control commit found; pass --control", file=sys.stderr)
        return 2
    short = _run(["git", "rev-parse", "--short", control], _REPO).strip()
    wt = f"/tmp/bench_control_{short}"
    created = False
    if not os.path.isdir(wt):
        _run(["git", "worktree", "add", "--detach", wt, control], _REPO)
        created = True
    try:
        if not args.no_prewarm:
            _bench(_REPO, "prewarm (current tree, discarded)")
        ctl = _bench(wt, f"control {short}")
        cur = _bench(_REPO, "current tree")

        cq, xq = ctl.get("queries", {}), cur.get("queries", {})
        common = sorted(set(cq) & set(xq))
        ctl_sum = sum(cq[q] for q in common)
        cur_sum = sum(xq[q] for q in common)
        ratio = cur_sum / ctl_sum if ctl_sum else float("nan")
        deltas = sorted(
            ((xq[q] - cq[q], q) for q in common), reverse=True
        )[:8]
        result = {
            "control_commit": short,
            "control_total_sec": round(ctl["value"], 2),
            "current_total_sec": round(cur["value"], 2),
            "common_queries": len(common),
            "control_common_sec": round(ctl_sum, 2),
            "current_common_sec": round(cur_sum, 2),
            "normalized_ratio": round(ratio, 4),
            "new_queries": sorted(set(xq) - set(cq)),
            "new_queries_sec": round(
                sum(v for q, v in xq.items() if q not in cq), 2
            ),
            "top_regressions": [
                {"query": q, "delta_sec": round(d, 2)} for d, q in deltas
            ],
        }
        with open(args.out, "w") as f:
            json.dump(result, f, indent=2)
            f.write("\n")
        print(
            f"normalized ratio (current/control, {len(common)} common "
            f"queries, same box): {ratio:.3f} — "
            + (
                "within the ±12% band"
                if 0.88 <= ratio <= 1.12
                else "OUTSIDE the ±12% band: read top_regressions"
            )
        )
        print(f"wrote {args.out}")
        return 0
    finally:
        if created:
            subprocess.run(
                ["git", "worktree", "remove", "--force", wt],
                cwd=_REPO,
                capture_output=True,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
