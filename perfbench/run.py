"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_spill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run

1. generates (or reuses) the workload's inputs for ``--seed``, untimed;
2. sets up a warm session ``SETUPS`` times -- ``get_spark`` plus one
   untimed warm-up pass over a small slice -- and reports the median
   as ``setup_s``; the first set-up also launches the JVM;
3. runs timed passes in a closed loop from one client thread until
   ``--seconds`` of pass time have been measured and the workload's
   ``min_passes`` are done;
4. checks every call's output against an independent computation;
5. prints a report, then the result as the last line of stdout.

With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` every layer's metrics (see ``spans.py``). Errors
(``failed`` / ``attempted``) count calls that raised or failed their
output check. All files go under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
CPUS = min(4, os.cpu_count() or 1)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["etl_spill", "interactive_small"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        return int(re.search(r"VmHWM:\s+(\d+)", f.read()).group(1)) / 1024.0


def _reset_hwm(pid) -> None:
    # "5" resets the peak-RSS counter (Linux >= 4.0)
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _spin_ms(n: int = 2_000_000) -> float:
    """Wall ms of a fixed single-core loop, best of 3: a host that is
    slower than usual shows here even when the load average does not."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(n):
            x += i * i
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def _percentile(values, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _spark_conf(workload_conf: dict) -> dict:
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # keep every job of a run in the status store for the trace
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    conf.update(workload_conf)
    return conf


class _Untraced:
    """Stands in for the tracer when tracing is off: no spans."""

    overhead_s = 0.0

    @staticmethod
    def call(layer, fn):
        return fn()

    @staticmethod
    def note(key, value):
        pass


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "parq_tools_spark", "__init__.py")):
        print(f"perfbench: no parq_tools_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    import gen
    import workloads
    from spans import Tracer, metric_names, metric_unit

    load_start = os.getloadavg()[0]
    spin_ms = _spin_ms()
    inputs, manifest, gen_s = gen.ensure_inputs(WORK, args.workload, args.seed)
    cls = workloads.WORKLOADS[args.workload]
    conf = _spark_conf(cls.spark_conf)
    work = os.path.join(WORK, "work", args.workload)

    t_import = time.perf_counter()
    import parq_tools_spark

    import_s = time.perf_counter() - t_import
    state = {"spark": None}
    tracer = Tracer(lambda: state["spark"]) if args.trace else _Untraced()
    if args.trace:
        tracer.install()
    wl = cls(inputs, manifest, work, args.seed, tracer)
    try:
        setups = []
        for _ in range(SETUPS):
            if state["spark"] is not None:
                state["spark"].stop()
            t0 = time.perf_counter()
            state["spark"] = tracer.call(
                "session", lambda: parq_tools_spark.get_spark("perfbench", **conf))
            wl.warmup(state["spark"])
            setups.append(time.perf_counter() - t0)
        spark = state["spark"]
        pids = [os.getpid(), spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()]
        for pid in pids:
            _reset_hwm(pid)
        first_span = len(getattr(tracer, "spans", []))
        setup_overhead_s = tracer.overhead_s

        # ------------------------------------------------------ timed loop
        records, latencies, pass_walls, pass_rows = [], [], [], []
        while sum(pass_walls) < args.seconds or len(pass_walls) < cls.min_passes:
            calls = wl.calls(spark, len(pass_walls))
            pass_rows.append(wl.rows_per_pass())
            t_pass = time.perf_counter()
            for call in calls:
                t0 = time.perf_counter()
                try:
                    result, err = tracer.call(call.layer, call.fn), None
                except Exception as e:  # a failed call is counted, not fatal
                    result, err = None, f"{call.label}: {type(e).__name__}: {e}"
                latencies.append(time.perf_counter() - t0)
                records.append((len(pass_walls), call, result, err))
            pass_walls.append(time.perf_counter() - t_pass)
        peak_rss_mb = sum(_hwm_mb(pid) for pid in pids)
        load_end = os.getloadavg()[0]
        n_pass = len(pass_walls)

        # --------------------------------------------------- output checks
        t_check = time.perf_counter()
        errors = []
        for p, call, result, err in records:
            problems = [err] if err else wl.check(call, result)
            if problems:
                errors.append(f"pass {p}: " + "; ".join(problems[:3]))
        check_s = time.perf_counter() - t_check
        bytes_ratio = statistics.median(wl.bytes_out(p) for p in range(n_pass)) / manifest["bytes"]

        wall_s = statistics.median(pass_walls)
        if args.trace:
            metrics = tracer.summary(tracer.spans[first_span:], n_pass)
            session = [s for s in tracer.spans[:first_span] if s.layer == "session"]
            metrics.update({k: v for k, v in tracer.summary(session, SETUPS).items()
                            if k.startswith("session.")})
            metrics["parquet_io.bytes_out_per_byte_in"] = bytes_ratio
            metrics["traced.wall_s"] = wall_s
            metrics["traced.overhead_s"] = (tracer.overhead_s - setup_overhead_s) / n_pass
            result_metrics = {k: {"value": metrics[k], "unit": metric_unit(k)} for k in metric_names()}
        else:
            result_metrics = {
                "setup_s": {"value": statistics.median(setups), "unit": "s"},
                "wall_s": {"value": wall_s, "unit": "s"},
                "rows_per_s": {"value": statistics.median(r / w for r, w in zip(pass_rows, pass_walls)),
                               "unit": "1/s"},
                "call_p50_s": {"value": statistics.median(latencies), "unit": "s"},
                "call_p95_s": {"value": _percentile(latencies, 0.95), "unit": "s"},
                "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            }
    finally:
        if state["spark"] is not None:
            state["spark"].stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = len(records), len(errors)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "deployment": {"master": f"local[{CPUS}]", "nproc": os.cpu_count(), **cls.spark_conf},
        "inputs": {k: v for k, v in manifest.items() if k != "fact"},
        "generate_s": gen_s,
        "import_s": import_s,
        "setups_s": setups,
        "passes": n_pass,
        "pass_wall_s": pass_walls,
        "calls": attempted,
        "call_s": [[round(t, 3) for (p, _, _, _), t in zip(records, latencies) if p == i]
                   for i in range(n_pass)],
        "call_median_s": {
            label: statistics.median(t for (_, c, _, _), t in zip(records, latencies) if c.label == label)
            for label in dict.fromkeys(c.label for _, c, _, _ in records)
        },
        "error_rate": failed / attempted,
        "errors": errors[:10],
        "bytes_out_per_byte_in": bytes_ratio,
        "check_s": check_s,
        "load_1m": {"start": load_start, "end": load_end, "cpus": os.cpu_count()},
        "spin_calibration_ms": spin_ms,
    }
    print("perfbench report: " + json.dumps(report, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result_metrics}))
    return 0


def _stop_jvm() -> None:
    """Close the Py4J gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
