"""Benchmark driver: one workload, one seed, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload qa --seed 1 --seconds 4 --trace 0

The run makes its inputs from ``--seed``, sets up a Spark session three
times (``setup_s`` is the median), runs untimed warm-up ops that are also
checked for correctness, then runs whole rounds of ops until ``--seconds``
have passed. It prints the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``) as the last line of standard output, and
exits 1 if any output was wrong or any op failed. Everything it writes
goes under ``.perfbench_work/`` in the current directory and is removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback

PKG = "document_query_system_spark"
SETUPS = 3
HERE = os.path.dirname(os.path.abspath(__file__))


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _environment(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write in ``work``."""
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # -XX:-UsePerfData here and for the launcher: no hsperfdata under /tmp.
        f'--driver-java-options "-Djava.io.tmpdir={work} -XX:-UsePerfData" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, root)


class Runner:
    def __init__(self, workload, trace: bool) -> None:
        self.w = workload
        self.trace = trace
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def start_session(self) -> None:
        from document_query_system_spark import session

        if self.spark is not None:
            self.spark.stop()
        self.spark = session.get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        session.ensure_worker_imports(self.spark)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def run_op(self, tr, arg, traced: bool = False):
        """One op with failure accounting: returns (seconds, items, output);
        a failed op takes infinite time and yields no output."""
        self.attempted += 1
        tr.begin_op(traced)
        t0 = time.perf_counter()
        try:
            items, out = self.w.op(self.spark, tr, arg)
            dt = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return math.inf, 0, None
        finally:
            tr.end_op(self.w.stream_layer)
        self.w.after(self.spark, tr, arg, out)
        return dt, items, out

    def run(self, seconds: float) -> dict:
        import metrics
        from spans import Tracer

        w = self.w
        w.prepare()
        setups = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            self.start_session()
            setups.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        warm = Tracer(self.spark, traceable=False)
        w.warmup(self.spark, lambda arg: self.run_op(warm, arg)[2])
        warmup_s = time.perf_counter() - t0

        tr = Tracer(self.spark, traceable=self.trace)
        lat: list[tuple[int, bool, float]] = []  # (position in round, traced, seconds)
        items = 0
        busy = 0.0
        i = 0
        deadline = time.perf_counter() + seconds
        rounds = 0
        # A traced run needs two rounds, so that every kind of op has a
        # traced and an untraced sample for the overhead.
        min_rounds = max(w.min_rounds, 2 if self.trace else 1)
        while rounds < min_rounds or time.perf_counter() < deadline:
            for k in range(w.round_ops):
                # Traced and untraced ops alternate, and swap places
                # each round, so every kind of op is traced.
                traced = self.trace and (k + rounds) % 2 == 0
                arg = w.before(self.spark, i)
                dt, n, _ = self.run_op(tr, arg, traced)
                lat.append((k, traced, dt))
                items += n
                busy += dt if math.isfinite(dt) else 0.0
                i += 1
            rounds += 1
        tr.close()
        window_s = time.perf_counter() - deadline + seconds
        w.finish(self.spark)
        print(
            f"perfbench {w.name}: setups {[round(x, 2) for x in setups]} s, "
            f"warm-up {warmup_s:.2f} s, {i} ops in {rounds} rounds over {window_s:.2f} s",
            file=sys.stderr,
        )
        if self.trace:
            base, on = metrics.overhead(lat)
            print(
                f"perfbench {w.name}: op p50s summed over kinds {on:.4f} s traced, "
                f"{base:.4f} s untraced",
                file=sys.stderr,
            )
            values = metrics.per_layer(tr, lat)
            spec = metrics.PER_LAYER
            _print_layers(values)
        else:
            values = metrics.e2e(lat, items, busy, setups)
            spec = metrics.E2E
        for p in w.problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        return {
            "correct": not w.problems and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                name: {"value": _num(values[name]), "unit": unit} for name, unit, _ in spec
            },
        }


def _num(v: float):
    return float(v) if math.isfinite(v) else None


def _print_layers(values: dict) -> None:
    """Human-readable per-layer table, one layer per line."""
    import metrics

    for lyr in (*metrics.LAYERS, "spark", "trace"):
        row = {k[len(lyr) + 1:]: v for k, v in values.items() if k.startswith(lyr + ".")}
        if any(row.values()):
            cells = " ".join(f"{k}={v:.4g}" for k, v in row.items())
            print(f"{lyr:16s} {cells}")


def main() -> int:
    args = _parse()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"{PKG}/ not found under {root}: run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import numpy as np

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(root, work)
    runner = Runner(
        WORKLOADS[args.workload](np.random.default_rng(args.seed), work), bool(args.trace)
    )
    try:
        result = runner.run(args.seconds)
    finally:
        runner.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
