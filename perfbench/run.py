"""Lake benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload event_trickle --seed 7 --seconds 12 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench_work/`` (removed at exit), sets the lake up
several times, then runs the workload's ops back to back for
``--seconds`` and checks every op's output. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
ones). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_ROUNDS = 3
#: whole cycles of the op mix, at least this many ops, run unmeasured
#: after set-up: the CPU an op takes halves over the first eight or so
#: ops while the JIT compiles.
#: A count, not a time, so a slow host does not get a shorter warm-up.
PRIME_OPS = 10
#: Spark task threads and the JVM's parallel GC threads: with the Python
#: driver and the JIT beside them, about as many busy threads as a 4-core
#: box has cores, so a run measures the lake and not the scheduler
SPARK_THREADS = 2
JVM_THREADS = 2


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def mem_mb(spark) -> float:
    """Resident memory of this Python process plus the JVM's heap in use
    after a full collection: the memory the lake holds, without the
    heap-sizing noise of the JVM's resident set."""
    with open("/proc/self/status") as f:
        rss_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = []
    for _ in range(3):  # the first collection often leaves garbage behind
        jvm.java.lang.System.gc()
        heap.append(rt.totalMemory() - rt.freeMemory())
    return rss_kb / 1024 + min(heap) / 2**20


class Bench:
    def __init__(self, args: argparse.Namespace, work: str) -> None:
        from perfbench.tracing import Tracer
        from perfbench.workloads import WORKLOADS, Lake

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        self.args = args
        self.work = work
        self.tracer = Tracer(enabled=bool(args.trace))
        self.lake = Lake(work, self.tracer)
        self.wl = WORKLOADS[args.workload](self.lake, args.seed)
        self.spark = None

    def spark_conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        return {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no /tmp/hsperfdata_<user>: the run writes only inside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-XX:ParallelGCThreads={JVM_THREADS}"),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
        }

    def install_wraps(self) -> None:
        """Spans inside ingest_csv / merge_upsert_tx / the registry queries."""
        from nyc_landmarks_datalake_spark.ingest import csv_ingest
        from nyc_landmarks_datalake_spark.operators import relational
        from nyc_landmarks_datalake_spark.sources import txtable

        w = self.tracer.wrap
        w(csv_ingest, "read_csv_with_sidecar", "ingest.read_csv_with_sidecar")
        w(csv_ingest, "load_sidecar", "schema.load_sidecar")
        w(csv_ingest, "validate_header", "schema.validate_header")
        w(csv_ingest, "wkt_colon_encode", "geometry.wkt_colon_encode")
        w(txtable, "read_snapshot", "txtable.read_snapshot")
        w(txtable, "commit", "txtable.commit")
        w(relational, "table", "catalog.table")

    def setup(self) -> list[float]:
        from nyc_landmarks_datalake_spark import registry
        from nyc_landmarks_datalake_spark.session import get_spark

        span = self.tracer.span
        rounds = []
        for r in range(SETUP_ROUNDS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with span("session.get_spark"):
                self.spark = get_spark(extra_conf=self.spark_conf())
                self.spark.sparkContext.setLogLevel("ERROR")
            self.lake.bind(self.spark)
            with span("registry.load_all"):
                registry.load_all()
            with span("warmup"):
                self.wl.warmup(r)
            rounds.append(time.perf_counter() - t0)
        return rounds

    def loop(self):
        """Closed loop, one client. Whole cycles of the workload's op mix
        run unmeasured for ``PRIME_OPS``; then whole cycles run until
        ``--seconds`` have passed, at least two. With tracing, cycles
        alternate untraced and traced. Returns (primed ops, measured
        ops)."""
        from perfbench.workloads import Op

        period = self.wl.period
        self.tracer.enabled = False
        primed = []
        while len(primed) < PRIME_OPS or len(primed) % period:
            primed.append(self.wl.op(len(primed)))
        ops: list[tuple[Op, bool]] = []
        deadline = time.perf_counter() + self.args.seconds
        first = i = len(primed)
        while time.perf_counter() < deadline or i % period or i < first + 2 * period:
            traced = bool(self.args.trace) and (i // period) % 2 == 0
            self.tracer.enabled = traced
            self.tracer.op = i
            t0 = time.perf_counter()
            try:
                op = self.wl.op(i)
            except Exception as e:  # a failed op is counted, not fatal
                op = Op("error", time.perf_counter() - t0, 0.0, [f"{type(e).__name__}: {e}"])
            ops.append((op, traced))
            i += 1
        self.tracer.enabled = bool(self.args.trace)
        self.tracer.op = None
        return primed, ops

    def stop(self) -> None:
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None

    def run(self) -> dict:
        from perfbench import metrics as M

        wl = self.wl
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        if self.args.trace:
            self.install_wraps()
        try:
            setups = self.setup()
            primed, ops = self.loop()
            lat = [op.latency_s for op, _ in ops]
            problems = [p for op, _ in ops for p in op.problems]
            failed = sum(1 for op, _ in ops if op.problems)
            end_problems = [p for op in primed for p in op.problems] + wl.finish()
            if self.args.trace:
                from perfbench.layers import layer_metrics

                values = layer_metrics(self.tracer, self.lake, wl, ops)
                self.tracer.dump(os.path.join(
                    ROOT, ".perfbench_out",
                    f"trace-{wl.name}-{self.args.seed}.jsonl"))
                units = M.PER_LAYER
            else:
                cpu = [op.cpu_s for op, _ in ops]
                values = {
                    "setup_s": M.p50(setups),
                    "op_cpu_p50_s": M.mix_p50([op.kind for op, _ in ops], cpu, wl.period),
                    "ops_per_cpu_s": wl.period / M.p50(M.cycles(cpu, wl.period)),
                    "silver_bytes_per_input_byte": wl.silver_bytes_per_input_byte(),
                    "mem_mb": mem_mb(self.spark),
                }
                units = M.END_TO_END
        finally:
            self.tracer.close()
            self.stop()
        for p in (problems + end_problems)[:10]:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        print(
            f"perfbench: {wl.name} seed={self.args.seed} inputs={json.dumps(wl.info)} "
            f"generate_s={gen_s:.3f} setup_rounds_s={[round(s, 3) for s in setups]} "
            f"primed={len(primed)} ops={len(ops)} op_p50_s={M.p50(lat):.3f} "
            f"ops_per_s={wl.period / M.p50(M.cycles(lat, wl.period)):.3f} "
            f"op_s={[round(x, 3) for x in lat]} "
            f"op_cpu_s={[round(op.cpu_s, 2) for op, _ in ops]}", file=sys.stderr)
        return {
            "correct": failed == 0 and not end_problems,
            "attempted": len(ops),
            "failed": failed,
            "metrics": M.emit(values, units),
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_THREADS)
    tempfile.tempdir = None
    # import the package (and perfbench) from the checkout root, not from
    # this script's directory
    sys.path[0] = ROOT
    try:
        try:
            import nyc_landmarks_datalake_spark as lake_pkg
        except ImportError as e:
            print(f"perfbench: the lake package is not importable: {e}", file=sys.stderr)
            return 2
        if not os.path.abspath(lake_pkg.__file__).startswith(ROOT + os.sep):
            print(f"perfbench: the lake package was imported from {lake_pkg.__file__}, "
                  f"not from this checkout", file=sys.stderr)
            return 2
        result = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
