"""End-to-end benchmark of the crypto_data_pipeline_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The workload's inputs are generated
from ``--seed`` inside the checkout, the engine runs on
``local[<usable cores>]`` as a closed loop with one client, every
operation's result is checked against DuckDB, and the last line of
standard output is one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (status-store counters attributed to spans around each
call into a module). A run record (host steal seconds, loadavg, every
metric, check failures) is written to ``.perfbench_out/`` and, when
traced, the spans beside it. Scratch data lives in ``.perfbench_run/``
and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "crypto_data_pipeline_spark"

import metrics  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

# The driver heap is fixed at its maximum from the start, so the JVM's
# peak RSS does not depend on when G1 chose to grow the heap (that
# swung it 1.3-1.7 GB between identical cold passes); heap pressure
# shows as GC time instead.
DRIVER_MEMORY = "2g"


def _configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``,
    and let Python workers import the package (they do not inherit the
    driver's sys.path)."""
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Bench:
    """What a workload drives: the Spark session, timed operations,
    spans, deferred checks and the per-pass figures."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work: str):
        self.workload, self.seed, self.seconds, self.work = workload, seed, seconds, work
        self.tracer = spans.Tracer(f"{workload}-s{seed}-p{os.getpid()}", traced)
        self.spark = None
        self.setup_s = 0.0
        self.last_op_s = 0.0
        self.ops: list[tuple[str, str, float]] = []  # (read|write, name, seconds)
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []
        self.layer_values: dict[str, list[float]] = {}
        self.peak_rss_mb = 0.0
        self._checks: list = []
        self._op_error: Exception | None = None

    # -- session -----------------------------------------------------------
    def _start_session(self) -> None:
        from crypto_data_pipeline_spark import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={self.work} -XX:-UsePerfData",
        })
        self.tracer.attach(self.spark)

    def setup(self) -> None:
        """Start the JVM and the first SparkSession: ``setup_s``."""
        t0 = time.perf_counter()
        with self.tracer.span("session"):
            self._start_session()
        self.setup_s = time.perf_counter() - t0
        self.peak_rss_mb = max(self.peak_rss_mb, spans.proc_tree_peak_rss_mb())

    def close(self) -> None:
        """Stop Spark and the JVM it launched, and wait for both."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None

    # -- operations --------------------------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str, layer: str | None = None):
        """Time one read or write. With ``layer`` the operation is one
        leaf span of that name; without, a parent of the spans inside."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(layer or kind, leaf=layer is not None):
                yield
        except Exception as exc:
            self._op_error = exc
            self.failed += 1
            raise
        finally:
            self.last_op_s = time.perf_counter() - t0
            self.ops.append((kind, layer or kind, self.last_op_s))

    def span(self, name: str):
        return self.tracer.span(name)

    def layer_value(self, name: str, value: float) -> None:
        self.layer_values.setdefault(name, []).append(value)

    def defer_check(self, fn) -> None:
        """Queue ``fn`` (returning one error-or-None per operation) to run
        once the measured passes are over."""
        self._checks.append(fn)

    def run_checks(self) -> None:
        for fn in self._checks:
            try:
                errs = fn()
            except Exception as exc:  # noqa: BLE001 - a check that raises is a failed check
                errs = [f"check raised {type(exc).__name__}: {exc}"]
            for e in errs:
                if e:
                    self.failed += 1
                    self.errors.append(e)
        self._checks = []

    # -- passes ------------------------------------------------------------
    def run_passes(self, one_pass) -> None:
        """Run passes until ``seconds`` of measured time have elapsed.
        Every pass after the first starts a new SparkSession, so no
        session artifact survives from one pass into the next."""
        from crypto_data_pipeline_spark.observability import proc_tree_cpu_seconds

        t_start = time.perf_counter()
        k = 0
        while k == 0 or time.perf_counter() - t_start < self.seconds:
            self.tracer.group = k
            n_ops, ov0 = len(self.ops), self.tracer.overhead_s
            cpu0, (jvm0, py0) = proc_tree_cpu_seconds(), spans.proc_cpu_split()
            t0 = time.perf_counter()
            with self.tracer.span("pass", leaf=False):
                try:
                    if k > 0:
                        with self.tracer.span("session"):
                            self.spark.stop()
                            self._start_session()
                    one_pass(k)
                except Exception as exc:  # noqa: BLE001 - recorded, and the loop goes on
                    traceback.print_exc(file=sys.stderr)
                    self.errors.append(f"pass {k}: {type(exc).__name__}: {exc}")
                    if exc is not self._op_error:  # raised outside any operation
                        self.ops.append(("error", f"pass {k}", 0.0))
                        self.failed += 1
            wall = time.perf_counter() - t0
            jvm1, py1 = spans.proc_cpu_split()
            self.passes.append({
                "wall_s": wall, "cpu_s": max(0.0, proc_tree_cpu_seconds() - cpu0),
                "jvm_s": jvm1 - jvm0, "python_s": py1 - py0, "ops": len(self.ops) - n_ops,
                "trace_overhead_s": self.tracer.overhead_s - ov0,
            })
            self.peak_rss_mb = max(self.peak_rss_mb, spans.proc_tree_peak_rss_mb())
            k += 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    _configure_env(work)

    from crypto_data_pipeline_spark.observability import host_steal_seconds

    load_before, steal0 = os.getloadavg(), host_steal_seconds()
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        workloads.WORKLOADS[args.workload](b)
    finally:
        b.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    values = metrics.per_layer(b) if args.trace else metrics.end_to_end(b)
    result = {
        "correct": b.failed == 0,
        "attempted": len(b.ops),
        "failed": b.failed,
        "metrics": {name: {"value": v, "unit": metrics.unit(name)} for name, v in values.items()},
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "host_steal_seconds": host_steal_seconds() - steal0,
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "passes": b.passes, "setup_s": b.setup_s, "ops": b.ops,
        "layer_values": b.layer_values,
        "errors": b.errors, **result,
    }
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    if args.trace:
        b.tracer.dump(stem + "-spans.json")
    for e in b.errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed}: {len(b.passes)} pass(es), "
          f"steal {record['host_steal_seconds']:.1f}s, loadavg {load_before[0]:.2f}->"
          f"{record['loadavg_after'][0]:.2f}, record {os.path.relpath(stem, ROOT)}.json")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
