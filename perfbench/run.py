#!/usr/bin/env python3
"""Seeded benchmark of lbf_spark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload features|dedup|table_rw \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Load shape: a closed loop with one
client (this process) running passes back to back on Spark
``local[nproc]`` with ``nproc`` shuffle partitions.

1. Inputs and their references for the seed are generated into
   ``.perfbench_cache/`` on first use (untimed).
2. Set-up, ``SETUPS`` times: start the session and run one warm-up pass;
   ``setup_s`` is the median. Later set-ups stop the SparkContext and
   build a new one in the same JVM.
3. Passes back to back for ``--seconds`` (at least the workload's
   ``passes``). Every pass's output is checked against the reference
   outside its timer; a pass that raises or mismatches counts in
   ``failed``.
4. ``--trace 1`` alternates untraced and traced passes and reports the
   per-layer metrics instead of the end-to-end ones.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Lines before it are a readable summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

import inputs
import probe
from workloads import EXTRAS, LAYERS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 2
# The Spark JVM's heap is fixed and pre-touched, so peak RSS is steady
# run to run and moves with what lives outside that heap (Python, JVM
# metadata, threads). Memory held in Spark's block storage shows in the
# dedup.dup_clusters.resident_mb layer metric instead.
DRIVER_MEMORY = "2g"
# stop starting new passes past this point, to end well inside 180 s
BUDGET_S = 140.0

END_TO_END = {"setup_s": "s", "pass_s": "s", "rows_per_s": "rows/s", "cpu_s": "s",
              "peak_rss_mb": "MB"}


def unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_frac", "_per_input_byte", "overhead")):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    """Every per-layer metric, in a fixed order: the ``session`` layer,
    each workload's layers with their fields and extra counts, then
    ``trace_overhead``."""
    layers = ["session"] + [lay for w in LAYERS.values() for lay in w]
    return [f"{lay}.{f}" for lay in layers
            for f in probe.LAYER_FIELDS + tuple(EXTRAS.get(lay, ()))] + ["trace_overhead"]


def start_session(cores: int):
    from lbf_spark.session import get_spark

    cache = inputs.cache_root()
    os.makedirs(os.path.join(cache, "tmp"), exist_ok=True)
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf={
                          "spark.driver.memory": DRIVER_MEMORY,
                          "spark.ui.showConsoleProgress": "false",
                          "spark.driver.extraJavaOptions":
                              f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                              f"-Djava.io.tmpdir={os.path.join(cache, 'tmp')}",
                          "spark.sql.warehouse.dir": os.path.join(cache, "warehouse"),
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    pids = probe.tree()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


class Bench:
    """One run: set-ups, passes, checks and the metrics they give."""

    def __init__(self, wl, seconds: float, trace: bool):
        self.wl, self.seconds, self.trace = wl, seconds, trace
        self.attempted = self.failed = 0

    def _checked(self, fn, *args):
        """Run one pass via ``fn`` and check its output; return its
        timing, or None when it raised."""
        self.attempted += 1
        try:
            got, timing = fn(*args)
            problems = self.wl.check(got)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if problems:
            print(f"perfbench: pass {self.attempted} output wrong: {problems}",
                  file=sys.stderr)
            self.failed += 1
        return timing

    def _note(self, t_start: float, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - t_start:6.1f} s  {what}", file=sys.stderr)

    def _plain(self, spark):
        self.wl.before_pass()
        c0, t0 = probe.tree_cpu_s(), time.perf_counter()
        out = self.wl.run_pass(spark)
        wall, cpu = time.perf_counter() - t0, probe.tree_cpu_s() - c0
        return self.wl.outputs(spark, out), (wall, cpu)

    def _traced(self, spark, tracer):
        self.wl.before_pass()
        tracer.begin_pass()
        got = self.wl.traced_pass(spark, tracer)
        return got, tracer.pass_wall_s(-1)

    def run(self, cores: int, t_start: float) -> dict:
        setup_s, session = [], []
        spark = None
        try:
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                c0, t0 = probe.tree_cpu_s(), time.perf_counter()
                spark = start_session(cores)
                session.append((time.perf_counter() - t0, probe.tree_cpu_s() - c0))
                warm = self._checked(self._plain, spark)
                setup_s.append(session[-1][0] + (warm[0] if warm else 0.0))
                self._note(t_start, f"set-up {len(setup_s)}: {setup_s[-1]:.2f} s")
            tracer = probe.Tracer(spark) if self.trace else None
            plain, traced = [], []
            stop_at = time.perf_counter() + self.seconds
            while len(plain) < self.wl.passes or time.perf_counter() < stop_at:
                if time.perf_counter() - t_start > BUDGET_S and plain:
                    break
                t = self._checked(self._plain, spark)
                if t:
                    plain.append(t)
                if tracer is not None:
                    t = self._checked(self._traced, spark, tracer)
                    if t:
                        traced.append(t)
            rss = probe.tree_peak_rss_mb()
            self._note(t_start, f"{len(plain)} passes, {len(traced)} traced; walls "
                       + " ".join(f"{w:.2f}" for w, _ in plain))
        finally:
            if spark is not None:
                shutdown(spark)
            self.wl.close()
        self._note(t_start, "stopped")
        if not plain or (self.trace and not traced):
            raise RuntimeError("no pass completed")
        pass_s = statistics.median(w for w, _ in plain)
        if self.trace:
            layers = tracer.medians()
            layers.update({"session.wall_s": statistics.median(w for w, _ in session),
                           "session.cpu_s": statistics.median(c for _, c in session),
                           "trace_overhead": statistics.median(traced) / pass_s})
            metrics = {m: layers.get(m, 0.0) for m in per_layer_names()}
        else:
            metrics = {"setup_s": statistics.median(setup_s), "pass_s": pass_s,
                       "rows_per_s": self.wl.inp["rows"] / pass_s,
                       "cpu_s": statistics.median(c for _, c in plain),
                       "peak_rss_mb": rss}
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": v, "unit": END_TO_END.get(k) or unit(k)}
                            for k, v in metrics.items()},
                "passes": len(plain), "traced_passes": len(traced)}


def summary(workload: str, seed: int, res: dict, notes: dict) -> list[str]:
    """Readable lines printed before the JSON result."""
    head = (f"perfbench {workload} seed={seed} passes={res['passes']} "
            f"traced={res['traced_passes']} attempted={res['attempted']} "
            f"failed={res['failed']} failed_frac={res['failed'] / res['attempted']:.3f}")
    lines = [head]
    lines += [f"  {k:<48} {statistics.median(v):.4f}" for k, v in notes.items() if v]
    # other workloads' layers read 0 in a traced run: leave them out here
    lines += [f"  {k:<48} {m['value']:.4f} {m['unit']}"
              for k, m in res["metrics"].items() if m["value"]]
    return lines


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "lbf_spark")):
        print(f"perfbench: no lbf_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cache = inputs.cache_root()
    # keep every file Spark and Python write inside the checkout
    os.makedirs(os.path.join(cache, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cache, "spark-local")
    os.environ["TMPDIR"] = os.path.join(cache, "tmp")
    # no hsperfdata files in the system temp dir from the launcher or Spark JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))

    inp = inputs.prepare(args.workload, args.seed)
    wl = WORKLOADS[args.workload](inp, args.seed)
    cores = len(os.sched_getaffinity(0))
    try:
        res = Bench(wl, args.seconds, bool(args.trace)).run(cores, t_start)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    for line in summary(args.workload, args.seed, res, wl.notes):
        print(line)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
