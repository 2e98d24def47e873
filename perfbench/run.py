"""Engine benchmark: one closed-loop client per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (``perfbench/workloads.py``) make their inputs from the seed,
build warm state, then run whole passes of a fixed operation list until
at least ``--seconds`` of measured time have passed.  Every operation's
output is checked against a reference outside the timed region.  The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer
metrics with ``--trace 1``).  The line before it is a report (environment,
per-operation medians, failures, cold operations, the tail percentile), and
the one before that a summary with units and the check verdict.  An
untraced run records its metrics under ``.perfbench/results/``, which a
traced run of the same workload and seed reads to report its overhead; a
traced run writes its spans and layer metrics to ``.perfbench/reports/``.

All scratch state lives under ``.perfbench/`` in the checkout and is
removed at exit, except for the landing zones the package itself keys
under ``/tmp/spark_graft_*``: the run removes the ones it created.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "BENCHMARK.json")
PACKAGE = os.path.join(ROOT, "airflow_crypto_btc_spark")


def _process_start() -> float:
    """Epoch time at which this process started (from /proc)."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


T_PROC = _process_start()


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) at the highest percentile that
    still has ten samples above it; with fewer than 20 samples no such
    percentile reaches the median, so the maximum is reported with the
    number of samples it rests on."""
    xs = sorted(values)
    n = len(xs)
    if n >= 20:
        idx = n - 11
        return xs[idx], 100.0 * (idx + 1) / n, n - 1 - idx
    return xs[-1], 100.0, 0


def _env(work: str, cpus: int) -> dict:
    """Pin the environment before the JVM starts: cpus, driver heap,
    local dirs and the Python worker import path, all recorded."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # pandas-UDF and mapInPandas workers import the package by name; a
    # driver started outside the checkout root would leave them without it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import pyspark

    return {
        "cpus": cpus,
        "master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "mem_total_mb": round(os.sysconf("SC_PAGE_SIZE")
                              * os.sysconf("SC_PHYS_PAGES") / 2**20),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def _result_path(args) -> str:
    return os.path.join(ROOT, ".perfbench", "results",
                        f"{args.workload}-{args.seed}.json")


def _untraced_run_s(args) -> float | None:
    """run_s that an untraced run of the same workload and seed recorded
    in this checkout, if one did."""
    try:
        with open(_result_path(args)) as fh:
            return json.load(fh)["run_s"]
    except (OSError, ValueError, KeyError):
        return None


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops its JVM and removes its scratch state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(BENCH) and os.path.isdir(PACKAGE)):
        print("perfbench: run from a checkout that holds the engine package",
              file=sys.stderr)
        return 2
    with open(BENCH) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    spark = wl = None
    try:
        env = _env(work, cpus)
        from perfbench import workloads
        from perfbench.tracing import Tracer

        wl = workloads.WORKLOADS[args.workload](args.seed, work)
        excluded = 0.0  # input generation and references: benchmark work
        t = time.time()
        wl.generate()
        excluded += time.time() - t

        from airflow_crypto_btc_spark.session import get_spark

        t = time.time()
        extra = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.enabled": "false",
        }
        if args.trace:
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": log_dir,
                          "spark.eventLog.compress": "false"})
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          master=env["master"],
                          shuffle_partitions=env["shuffle_partitions"],
                          extra_conf=extra)
        session_start_s = time.time() - t
        env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        tracer = Tracer(spark, enabled=bool(args.trace))

        t = time.time()
        wl.setup(spark)
        warm_state_s = time.time() - t
        wl.warmup(spark)
        t = time.time()
        wl.references(spark)
        excluded += time.time() - t
        setup_s = time.time() - T_PROC - excluded

        wl.instrument(tracer)
        passes = []  # per pass: list of OpResult
        t_measure = time.time()
        while True:
            passes.append(wl.run_pass(spark, tracer, len(passes)))
            if time.time() - t_measure >= args.seconds:
                break
        java_pid = spark.sparkContext._gateway.proc.pid
        rss = {"jvm": _vm_hwm_mb(java_pid), "python": _vm_hwm_mb("self")}
        peak_rss = sum(rss.values())
        tracer.restore()
        ops = [o for p in passes for o in p]
        spark.stop()
        spark = None
        _stop_gateway()

        lat = [o.seconds for o in ops]
        tail, pct, beyond = _tail_percentile(lat)
        failed = sum(1 for o in ops if o.failed)
        problems = [f"{o.name}: {pr}" for o in ops for pr in o.problems]
        values = {
            "setup_s": (setup_s, "s"),
            "run_s": (statistics.median(sum(o.seconds for o in p) for p in passes), "s"),
            "run_cpu_s": (statistics.median(sum(o.cpu for o in p) for p in passes), "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail, "s"),
            "peak_rss_mb": (peak_rss, "MiB"),
        }
        e2e = {m["name"]: values[m["name"]] for m in spec["end_to_end"]}
        report = {
            "workload": args.workload, "seed": args.seed, "env": env,
            "passes": len(passes), "ops_per_pass": len(passes[0]),
            "failed_ratio": failed / len(ops),
            "failures": sorted({f"{o.name}: {o.error}" for o in ops if o.failed}),
            "check_problems": problems[:20],
            "op_tail": {"percentile": round(pct, 1), "samples": len(lat),
                        "samples_beyond": beyond},
            "cold_ops": sorted({o.name for o in ops if o.cold}),
            "op_s": {o.name: round(statistics.median(
                x.seconds for x in ops if x.name == o.name), 4) for o in passes[0]},
            "peak_rss_parts_mb": rss,
            "setup": {"session_start_s": session_start_s,
                      "warm_state_s": warm_state_s,
                      "excluded_s": excluded},
        }
        if args.trace:
            layers, absent = wl.layer_metrics(tracer, log_dir, passes)
            layers["session.start_s"] = (session_start_s, "s")
            layers["session.warm_state_s"] = (warm_state_s, "s")
            untraced = _untraced_run_s(args)
            if untraced is not None:
                layers["trace.overhead_s"] = (values["run_s"][0] - untraced, "s")
            else:
                absent["trace.overhead_s"] = (
                    "no untraced run of this workload and seed in this "
                    "checkout to compare with; run it with --trace 0 first")
            metrics = _fill_layers(spec, layers, absent)
            report["absent"] = absent
            report["traced_run_s"] = values["run_s"][0]
            report["untraced_run_s"] = untraced
            _write_report(report, layers, tracer)
        else:
            metrics = e2e
            os.makedirs(os.path.dirname(_result_path(args)), exist_ok=True)
            with open(_result_path(args), "w") as fh:
                json.dump({k: v for k, (v, _) in values.items()}, fh)
        correct = not problems
        summary = "  ".join(f"{k}={v:.4g}{u}" for k, (v, u) in values.items())
        print(f"[perfbench] {args.workload} seed={args.seed} {summary} "
              f"failed_ratio={report['failed_ratio']:.4g} ({failed}/{len(ops)} ops) "
              f"checks={'ok' if correct else 'MISMATCH'}")
        print(f"[perfbench] report {json.dumps(report, sort_keys=True)}")
        print(json.dumps({
            "correct": correct,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            try:
                spark.stop()
            except Exception:  # noqa: BLE001 — the JVM may already be gone
                pass
            _stop_gateway()
        if wl is not None:  # landing zones this run created under /tmp
            for z in glob.glob(wl.zone_glob):
                shutil.rmtree(z, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)


def _stop_gateway() -> None:
    """Shut the driver JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _fill_layers(spec, layers, absent):
    """Every declared per-layer metric; one the workload does not exercise
    reads 0 and its reason is in the report's ``absent`` map."""
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name in layers:
            out[name] = (layers[name][0], m["unit"])
        else:
            out[name] = (0.0, m["unit"])
            absent.setdefault(name, "not exercised by this workload")
    return out


def _write_report(report, layers, tracer) -> None:
    out_dir = os.path.join(ROOT, ".perfbench", "reports")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{report['workload']}-{report['seed']}.json")
    with open(path, "w") as fh:
        json.dump({"report": report,
                   "layers": {k: v[0] for k, v in layers.items()},
                   "spans": [vars(s) for s in tracer.spans]}, fh, indent=1,
                  default=str)


if __name__ == "__main__":
    sys.exit(main())
