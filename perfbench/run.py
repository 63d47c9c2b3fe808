"""Run one benchmark workload of the spark-graft engine and print its
metrics.

    python3 perfbench/run.py --workload mrdf_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine runs in this process on
``local[<cores>]``. Inputs are generated from ``--seed`` (untimed);
timed units repeat until ``--seconds`` have passed (at least one);
every output is checked after timing. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. The line before it carries the workload's
own named metrics. The exit code is 0 only when every check passed.

All scratch files live under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARMUP_JOBS = 1
# Gated times are scaled by (1 - steal share) ** STEAL_EXPONENT. On a
# 4-vCPU guest whose host ran other guests, an exponent of 1 left the
# scaled times rising with steal; 1.5 fitted both workloads.
STEAL_EXPONENT = 1.5


def _noop(batches):
    yield from batches


def _spin(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def start_session(cores: int):
    """JVM launch, session start and engine warm-up: one trivial Arrow
    kernel per core spawns the Python worker pool, then a short
    pure-Python job starts the RDD worker path."""
    from pyspark_mrdf_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.range(cores).repartition(cores).mapInPandas(_noop, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    for _ in range(WARMUP_JOBS):
        spark.sparkContext.parallelize([300_000] * cores, cores).map(_spin).sum()
    return spark


def configure_env(work: str, cores: int, trace: bool) -> None:
    """Point every scratch path of Spark, the JVM and Python into the
    work directory; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # keep every job, stage and SQL record until read out
        for key in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
                    "spark.sql.ui.retainedExecutions"):
            confs[key] = "1000000"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {k}={v}" for k, v in confs.items())
        + " pyspark-shell",
    })


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def ticks_since(before: tuple[int, int]) -> tuple[int, int]:
    now = cpu_ticks()
    return now[0] - before[0], now[1] - before[1]


def steal_share(ticks: tuple[int, int]) -> float:
    """Share of the CPUs' runnable time the hypervisor gave to other
    guests over a ``ticks_since`` window (0 on bare metal)."""
    busy, steal = ticks
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of this driver process plus the JVM."""
    total_kb = 0
    for pid in (os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1]


def workload_report(name: str, units, checked, setup_s, rss,
                    window) -> dict[str, tuple[float, str]]:
    """The workload's own metrics, named as its users read them.
    ``window`` holds the CPU ticks of the set-up and timed sections."""
    steps = [s for u in units for s in u.steps]
    med = lambda key: median([u.named.get(key, 0.0) for u in units])  # noqa: E731
    wall_s = median([u.wall_s for u in units])
    steal = {k: steal_share(t) for k, t in window.items()}
    rep = {
        "setup_s": (setup_s * (1 - steal["setup"]) ** STEAL_EXPONENT, "s"),
        "setup_raw_s": (setup_s, "s"),
        "wall_excl_steal_s": (wall_s * (1 - steal["timed"]) ** STEAL_EXPONENT, "s"),
        "wall_s": (wall_s, "s"),
        "steal_share_setup": (steal["setup"], "ratio"),
        "steal_share_timed": (steal["timed"], "ratio"),
        "failed_ratio": (checked.failed / max(1, checked.attempted), "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }
    if name == "mrdf_build":
        rep["ingest_s"] = (median(steps), "s")
        rep["build_s"] = (med("build_s"), "s")
        rep["recall_at_10"] = (checked.quality, "ratio")
    else:
        rep["query_p50_s"] = (median(steps), "s")
        # too few samples for a percentile with ten beyond it: report
        # the highest the count supports, with the count in the name
        rep[f"query_p80_s_of_{len(steps)}"] = (percentile(steps, 80) if steps else 0.0, "s")
        rep["queries_s"] = (med("queries_s"), "s")
        rep["index_build_s"] = (med("index_build_s"), "s")
        batches = [b for u in units for b in (u.outputs or {}).get("batch_s", ())]
        if batches:
            rep["batch_p50_s"] = (median(batches), "s")
            rep[f"batch_max_s_of_{len(batches)}"] = (max(batches), "s")
        rep["index_bytes_per_input_byte"] = (med("index_bytes_per_input_byte"), "ratio")
        rep["ingest_survivor_jaccard"] = (checked.named["ingest_survivor_jaccard"], "ratio")
    return rep


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="damage the outputs before checking (self-test of the checks)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pyspark_mrdf_spark")):
        print("perfbench: the engine package pyspark_mrdf_spark is not in this checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, cores, bool(args.trace))
    spark = None
    phases = {"start": time.perf_counter()}
    try:
        wl = workloads.WORKLOADS[args.workload](work, args.seed, cores)
        phases["generate"] = time.perf_counter()

        ticks, t0 = cpu_ticks(), time.perf_counter()
        spark = start_session(cores)
        setup_s = time.perf_counter() - t0
        window = {"setup": ticks_since(ticks)}
        spark.sparkContext.setLogLevel("ERROR")
        phases["setup"] = time.perf_counter()

        layer: dict[str, float] = {}
        ticks = cpu_ticks()
        if args.trace:
            unit, layer, tracer = traced_units(spark, wl)
            units = [unit]
            tracer.write(os.path.join(os.path.dirname(work), f"spans-{os.path.basename(work)}.json"))
        else:
            units = []
            t_start = time.perf_counter()
            while not units or time.perf_counter() - t_start < args.seconds:
                units.append(run_unit(spark, wl, len(units)))
        phases["timed"] = time.perf_counter()
        window["timed"] = ticks_since(ticks)
        # read before the checks, whose own memory would set the peak
        rss = peak_rss_mb(spark)
        if args.corrupt:
            wl.corrupt(spark, units[0])
        checked = wl.check(spark, units)
        phases["check"] = time.perf_counter()
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop"] = time.perf_counter()
        marks = list(phases.items())
        print("perfbench: phase seconds " + " ".join(
            f"{k}={t - marks[i][1]:.1f}" for i, (k, t) in enumerate(marks[1:])
        ), file=sys.stderr)

    for p in checked.problems:
        print(f"perfbench: {args.workload}: {p}", file=sys.stderr)
    rep = workload_report(args.workload, units, checked, setup_s, rss, window)
    if args.trace:
        values, wanted = layer, spec["per_layer"]
    else:
        values = {
            "setup_s": rep["setup_s"][0],
            "wall_excl_steal_s": rep["wall_excl_steal_s"][0],
            "peak_rss_mb": rss,
            "quality": checked.quality,
        }
        wanted = spec["end_to_end"]
    correct = checked.failed == 0 and not checked.problems
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "units": len(units),
        "steps": [[n, round(s, 4)] for u in units for n, s in zip(u.step_names, u.steps)],
        "report": {k: {"value": v, "unit": unit} for k, (v, unit) in rep.items()},
    }))
    print(json.dumps({
        "correct": correct,
        "attempted": checked.attempted,
        "failed": checked.failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0 if correct else 1


def run_unit(spark, wl, k: int, span=None):
    """One timed unit; an exception is recorded as that unit's failure."""
    import workloads

    try:
        return wl.unit(spark, k, span)
    except Exception as exc:  # noqa: BLE001 - counted in failed, reported on stderr
        return workloads.Unit(errors=[f"unit {k}: {type(exc).__name__}: {exc}"])


def traced_units(spark, wl):
    """The traced run: one traced unit, then Spark's records for its
    window. Its ``trace.wall_s`` minus the untraced runs' ``wall_s`` is
    the tracing overhead; ``trace.bookkeeping_s`` is the tracer's own
    time inside that window."""
    import spans as tr

    wl.preload()  # bind every import site before wrapping
    tracer = tr.Tracer(spark)
    acct = tr.SparkAccounting(spark)
    tracer.install()
    first_job, t0 = acct.next_job_id(), time.time()
    try:
        unit = run_unit(spark, wl, 0, tracer.span)
    finally:
        tracer.uninstall()
    t1, until_job = time.time(), acct.next_job_id()
    layer = acct.window(first_job, until_job, t0, t1, tracer)
    layer.update(tracer.span_metrics())
    if not unit.errors:
        layer.update(wl.layer_counts(unit))
    layer["trace.wall_s"] = unit.wall_s
    return unit, layer, tracer


if __name__ == "__main__":
    sys.exit(main())
