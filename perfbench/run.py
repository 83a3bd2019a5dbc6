"""Benchmark entry point.

    python3 perfbench/run.py --workload obs_hourly --seed 1 --seconds 15 --trace 0

One run, from the root of a checkout:

1. generate the workload's hourly drops from ``--seed`` (untimed); the
   program only sees the generated files;
2. start a fresh session through ``session.get_spark`` and run the
   untimed warm-up units; both are billed to ``setup_s``;
3. run the timed units as one closed-loop client (a unit starts when the
   previous one ends); the unit count is fixed by ``--seconds``;
4. check every unit's outputs against the generator's ground truth;
5. print a detail line (unit latencies, mismatches, host conditions),
   then, as the last line, the result: end-to-end metrics with
   ``--trace 0``, per-layer metrics with ``--trace 1``.

Everything the run writes lives under ``perfbench/.work`` in the checkout
and is removed when it ends.  See LAYERS.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# one client driving a small local session, the same on every host
MAX_CORES = 4
MIN_UNITS = 2


def _cpu_jiffies() -> tuple[int, int] | None:
    """(busy, steal) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[0] + vals[1] + vals[2], vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError, IndexError):
        return None


def _steal_frac(j0, j1) -> float | None:
    if not (j0 and j1):
        return None
    busy, steal = j1[0] - j0[0], j1[1] - j0[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def _peak_rss_mb(pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _isolate(work: str) -> None:
    """Keep every temporary file of Python, the JVM and Spark in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the JVM's perf-data file goes to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"


def _stop_spark() -> None:
    """Stop the session and its JVM, if one runs, and wait for the JVM to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool, *, tiny: bool = False, corrupt: bool = False) -> dict:
    from perfbench import telemetry
    from perfbench.tracing import WARMUP, Tracer, layer_metric_units, layer_metrics, read_event_log
    from perfbench.workloads import WORKLOADS, mismatches

    cls = WORKLOADS[workload]
    shape = telemetry.Shape(clients=8, traces=6) if tiny else cls.shape
    n_timed = 1 if tiny else max(MIN_UNITS, math.ceil(seconds / cls.nominal_unit_s))
    n_warm = 1 if tiny else cls.warmup_units
    hours = [telemetry.hour_name(h) for h in range(n_warm + n_timed)]

    work = os.path.join(REPO, "perfbench", ".work", f"{workload}-{os.getpid()}")
    _isolate(work)
    cores = min(MAX_CORES, os.cpu_count() or 1)
    # read by the session module when it is imported
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    try:
        data_dir, out_dir = f"{work}/in", f"{work}/out"
        rows = [telemetry.generate_hour(seed, h, shape) for h in range(len(hours))]
        for r in rows:
            telemetry.write_hour(data_dir, r)
        expected = cls.expected(rows)
        if corrupt:
            cls.corrupt(expected[-1])

        from odp_dynamic_data_pipeline_spark.session import get_spark

        confs = {
            "spark.local.dir": f"{work}/tmp",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            os.makedirs(f"{work}/eventlog")
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"{work}/eventlog",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        tracer = Tracer(enabled=trace)
        load0, jiff0 = os.getloadavg()[0], _cpu_jiffies()

        # set-up: a fresh session plus the untimed warm-up units
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(f"perfbench-{workload}", master=f"local[{cores}]", extra_confs=confs)
        spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = spark.sparkContext
        wl = cls(spark, REPO, data_dir, out_dir, tracer)
        results: dict[int, dict] = {}
        tracer.unit = WARMUP
        for hidx in range(n_warm):
            results[hidx] = wl.run_unit(hidx, hours[hidx])
        setup_s = time.perf_counter() - t0

        # the timed region: one closed-loop client
        lat, failed_units = [], []
        t_timed = time.perf_counter()
        for hidx in range(n_warm, len(hours)):
            tracer.unit = hours[hidx]
            t = time.perf_counter()
            try:
                with tracer.span("unit"):
                    results[hidx] = wl.run_unit(hidx, hours[hidx])
            except Exception:  # a failed unit is counted, the run goes on
                traceback.print_exc()
                failed_units.append(hours[hidx])
            lat.append(time.perf_counter() - t)
        wall_s = time.perf_counter() - t_timed

        rss_mb = _peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        wrong = {}
        for hidx, res in results.items():
            bad = mismatches(wl.observed(hours[hidx], res), expected[hidx])
            if bad:
                wrong[hours[hidx]] = bad
        store = wl.store_size() if hasattr(wl, "store_size") else (0.0, 0)
        _stop_spark()
        steal = _steal_frac(jiff0, _cpu_jiffies())

        attempted = len(hours)
        failed = len(set(failed_units) | set(wrong))
        detail = {
            "workload": workload,
            "seed": seed,
            "units_timed": len(lat),
            "unit_latencies_s": [round(x, 4) for x in lat],
            "failed_units": failed_units,
            # printed but not gated: see LAYERS.md
            "driver_peak_rss_mb": {"value": rss_mb, "unit": "MB"},
            "mismatches": wrong,
            "host": {
                "nproc": os.cpu_count(),
                "cores_used": cores,
                "loadavg_start": load0,
                "loadavg_end": os.getloadavg()[0],
                "cpu_steal_frac": steal,
            },
        }
        if trace:
            (log,) = os.listdir(f"{work}/eventlog")
            layers = layer_metrics(tracer.spans, read_event_log(f"{work}/eventlog/{log}"), wall_s)
            layers["streaming.store_mb"], layers["streaming.store_files"] = store
            metrics = {k: {"value": layers[k], "unit": u} for k, u in layer_metric_units().items()}
            detail["spans"] = len(tracer.spans)
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "wall_s": {"value": wall_s, "unit": "s"},
                "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
                "op_geomean_s": {"value": statistics.geometric_mean(lat), "unit": "s"},
            }
        return {
            "detail": detail,
            "result": {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics},
        }
    finally:
        if "pyspark" in sys.modules:
            _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("obs_hourly", "store_fold"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes: 6 traces/hour, one timed unit")
    ap.add_argument("--corrupt-expected", action="store_true", help="make one expected value wrong; the run must then fail its check")
    args = ap.parse_args(argv)
    # a terminated run still removes its work directory and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, REPO)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace), tiny=args.tiny, corrupt=args.corrupt_expected)
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
