"""spark-fixedlen benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload scan_full --seed 1 --seconds 15 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` and
cached under ``.perfbench/`` in the current directory, where Spark's
scratch space also lives.  The loop runs at ``local[N]``, N being
``SPARK_GRAFT_CPUS`` or the CPUs this process may use.

With ``--trace 0`` the last stdout line carries the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the same loop runs once untraced and
once traced (half of ``--seconds`` each), the layer probes follow, and the
line carries the per-layer metrics.  Lines before it name each figure with
its unit.  ``--smoke`` shrinks every input for a quick end-to-end check.
"""

from __future__ import annotations

T_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import PeakRss, SparkStores, Tracer, descendants  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PACKAGE = "hadoop_fixedlengthinputformat_spark"


def spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


class Bench:
    """Run state shared by the workloads: the session, the tracer, op
    samples, and the attempted/failed counts behind ``error_rate``."""

    def __init__(self, args, root: str):
        self.root = root
        self.seed = args.seed
        self.seconds = args.seconds
        self.smoke = args.smoke
        self.work = os.path.join(root, ".perfbench")
        self.inputs = os.path.join(self.work, "inputs")
        self.cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
                        or len(os.sched_getaffinity(0)))
        self.tracer = Tracer(False)
        self.stores: SparkStores | None = None
        self.spark = None
        self.attempted = self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.reports: list[tuple[str, float, dict | None]] = []
        self._parity = None

    def note(self, line: str) -> None:
        print(line, flush=True)

    def verdict(self, label: str, ok: bool, detail: str = "") -> None:
        """One untimed answer check; a failure is counted, never retried."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"WRONG ANSWER {label}: {detail}", file=sys.stderr, flush=True)

    def op(self, kind: str, fn, check=None):
        """Run one timed op; record its wall time, and in the traced loop
        its Spark jobs' numbers (read after the op, outside its time)."""
        self.attempted += 1
        try:
            with self.tracer.op(kind) as op_id:
                t0 = time.perf_counter()
                group = f"perfbench-op-{op_id}"
                if self.stores:
                    self.stores.set_group(group)
                res = fn()
                dt = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - the loop counts it and goes on
            self.failed += 1
            traceback.print_exc()
            return None
        if check is not None and not check(res):
            self.failed += 1
            print(f"WRONG ANSWER {kind}", file=sys.stderr, flush=True)
        self.samples.setdefault(kind, []).append(dt)
        self.reports.append(
            (kind, dt, self.stores.group_report(group) if self.stores else None)
        )
        return res

    def loop(self, wl, seconds: float) -> None:
        t0, i = time.perf_counter(), 0
        while i < wl.min_cycles() or time.perf_counter() - t0 < seconds:
            wl.cycle(i)
            i += 1

    def parity(self):
        """``tests/parity.py`` of the checkout, loaded by path."""
        if self._parity is None:
            path = os.path.join(self.root, "tests", "parity.py")
            s = importlib.util.spec_from_file_location("parity", path)
            self._parity = importlib.util.module_from_spec(s)
            s.loader.exec_module(self._parity)
        return self._parity


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    work directory, and keep Spark's console quiet."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _stop_spark(spark) -> None:
    """Stop the session (if one started) and the gateway JVM, then wait for
    every process the JVM started (Python workers) to end."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the self-test")
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in (PACKAGE, "__spark_entry__.py",
                 os.path.join("tests", "gen_testdata.py")):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found under {root}; run from the "
                  "repository root", file=sys.stderr)
            return 2
    sys.path.insert(0, root)
    b = Bench(args, root)
    _isolate(b.work)
    wl = WORKLOADS[args.workload](b)
    b.note(f"workload {wl.name} seed={b.seed} cores={b.cpus} "
           f"seconds={b.seconds} trace={args.trace} smoke={b.smoke}")

    t0 = time.perf_counter()
    wl.prepare()
    t_gen = time.perf_counter() - t0
    phases = {"prepare": t_gen}

    with PeakRss() as rss:
        t = b.tracer = Tracer(bool(args.trace))
        steps = {}
        try:
            t0 = time.perf_counter()
            with t.span("setup.session"):
                from hadoop_fixedlengthinputformat_spark.tables import get_session

                b.spark = get_session(f"perfbench-{wl.name}", cpus=b.cpus)
            steps["setup.session_s"] = time.perf_counter() - t0
            b.spark.sparkContext.setLogLevel("ERROR")
            t0 = time.perf_counter()
            with t.span("setup.register"):
                from hadoop_fixedlengthinputformat_spark.sources import fixedlen
                from hadoop_fixedlengthinputformat_spark.tables import configure

                configure(b.spark)
                fixedlen.register(b.spark)
            steps["setup.register_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            with t.span("setup.first_op"):
                wl.first_op()
            steps["setup.first_op_s"] = time.perf_counter() - t0
            phases["setup"] = sum(steps.values())
            setup_s = time.perf_counter() - T_START - t_gen
            t0 = time.perf_counter()
            wl.check()
            phases["check"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.warm_up()
            b.samples, b.reports = {}, []
            phases["warm_up"] = time.perf_counter() - t0
            t0 = time.perf_counter()

            if args.trace:
                # half the time untraced, half traced: the difference is
                # the tracing overhead
                b.tracer = Tracer(False)
                b.loop(wl, b.seconds / 2)
                untraced = dict(b.samples)
                b.samples, b.reports = {}, []
                b.tracer, b.stores = t, SparkStores(b.spark)
                b.loop(wl, b.seconds / 2)
                metrics = layer_metrics(b, wl, steps, untraced)
            else:
                b.loop(wl, b.seconds)
                main_s, side_s = wl.end_to_end()
                metrics = {
                    "setup_s": setup_s,
                    "main_op_s": main_s,
                    "side_op_s": side_s,
                }
            phases["loop"] = time.perf_counter() - t0
        finally:
            t0 = time.perf_counter()
            _stop_spark(b.spark)
            phases["stop"] = time.perf_counter() - t0
    with open(os.path.join(b.work, f"samples-{wl.name}-s{b.seed}"
                           f"-t{args.trace}.json"), "w") as f:
        json.dump(b.samples, f)
    b.note("wall time by phase: " + ", ".join(
        f"{k} {v:.2f} s" for k, v in phases.items()))
    # printed, not gated: the JVM's heap growth swings it by a quarter
    # from run to run
    b.note(f"peak_rss_mb = {rss.peak / 1e6:.1f} MB")
    if args.trace:
        metrics["memory.peak_rss_mb"] = rss.peak / 1e6

    b.note(f"error_rate = {b.failed / max(1, b.attempted):.6f} "
           f"({b.failed} of {b.attempted} ops)")
    section = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec()[section]}
    out = {}
    for name, unit in units.items():
        v = float(metrics.get(name, 0.0))
        out[name] = {"value": v, "unit": unit}
        b.note(f"metric {name} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": out,
    }), flush=True)
    return 0


def layer_metrics(b: Bench, wl, steps: dict, untraced: dict) -> dict:
    """Per-layer numbers of the traced loop and probes, the tracing
    overhead, and the self-time check; the spans go to the work dir."""
    out = dict(steps)
    traced = b.samples
    ratios = [
        statistics.median(traced[k]) / statistics.median(untraced[k])
        for k in traced if untraced.get(k)
    ]
    if ratios:
        out["trace.overhead_pct"] = (statistics.median(ratios) - 1) * 100
    out["trace.self_sum_ratio"] = b.tracer.op_self_sum_ratio()
    out.update(wl.layers())
    b.tracer.dump(os.path.join(b.work, f"spans-{wl.name}-s{b.seed}.json"))
    for name, secs in sorted(b.tracer.self_time_by_name().items()):
        b.note(f"span self time {name} = {secs:.6f} s")
    return out


if __name__ == "__main__":
    sys.exit(main())
