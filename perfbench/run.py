"""Run one benchmark workload against the package in this checkout.

    python3 perfbench/run.py --workload acquire_merge --seed 1 --seconds 15 --trace 0

With ``--trace 0`` the run is untraced and reports the end-to-end
metrics; with ``--trace 1`` timed units alternate between untraced and
traced, and the run reports the per-layer metrics plus the tracing
overhead.  Readable lines come first; the last line of standard output
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.  Full details, the ambient probe and (traced) the spans are
written under ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Driver heap for the local session (the package default of 8g does not
#: fit a 4-core, 15 GB box once Python workers are added).
DRIVER_MEMORY = "2g"

#: (name, unit, better) of every end-to-end metric, in report order.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("latency_p50_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)


def spark_cores() -> int:
    """Half the cores this process may use, at least one: Spark's task
    threads get that many, and the driver JVM's own threads (JIT
    compiler, GC, listener bus), the Python workers and the client keep
    the rest, so a run measures the program, not the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def configure_env(work: str) -> dict[str, str]:
    """Point Spark, its JVM and its Python workers at this checkout only."""
    cpus = spark_cores()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": f"--driver-memory {DRIVER_MEMORY} "
        + " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        )
        + " pyspark-shell",
    }
    os.environ.update(env)
    return {**env, "cores": str(cpus)}


def import_package() -> None:
    """The package must come from this checkout, not from anywhere else."""
    sys.path.insert(0, ROOT)
    import ome_arrow_spark

    if not os.path.abspath(ome_arrow_spark.__file__).startswith(ROOT + os.sep):
        raise ImportError(f"ome_arrow_spark resolved outside the checkout: {ome_arrow_spark.__file__}")


def stop_spark() -> None:
    """Stop the session and the JVM it started, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def ambient_probe() -> dict[str, float]:
    """:func:`stats.ambient_probe` in a child process, so its buffers do
    not count toward this process's peak memory."""
    out = subprocess.run(
        [sys.executable, "-c", "import json, stats; print(json.dumps(stats.ambient_probe()))"],
        cwd=HERE,
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    )
    return json.loads(out.stdout)


def tracing_overhead(samples: list[tuple[str, float, bool]]) -> float:
    """Mean over unit kinds of median(traced) / median(untraced) - 1."""
    ratios = []
    for kind in {k for k, _, _ in samples}:
        on = [s for k, s, t in samples if k == kind and t]
        off = [s for k, s, t in samples if k == kind and not t]
        if on and off:
            ratios.append(stats.median(on) / stats.median(off) - 1.0)
    return sum(ratios) / len(ratios) if ratios else 0.0


def run(args: argparse.Namespace) -> dict:
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    env = configure_env(work)
    from pyspark import SparkContext

    from ome_arrow_spark.session import get_spark

    ambient_before = ambient_probe()
    tracer = spans.Tracer(enabled=bool(args.trace), run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "data"), tracer)
    phases: dict[str, float] = {}
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    wl.prepare()
    phase("prepare")
    setup_s: list[float] = []
    with stats.PeakRss() as mem:
        # the JVM is launched once, before and outside the timed set-ups
        SparkContext._ensure_initialized()
        phase("jvm_start")
        spark = None
        for _ in range(wl.setup_reps):
            if spark is not None:
                spark.stop()
            # spans of a stopped session can no longer be matched to jobs
            tracer.spans = [s for s in tracer.spans if s.name == "session.get_spark"]
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark(app_name="perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            wl.setup(spark)
            setup_s.append(time.perf_counter() - t0)
        phase("setup")
        # warm-up calls run slower while the JVM compiles; they leave no spans
        tracer.enabled = False
        wl.warm_up()
        phase("warm_up")
        wl.loop(args.seconds, alternate=bool(args.trace))
        phase("loop")
        attempted, failed, checked = wl.check()
        phase("check")
        if args.trace:
            wl.extras()
            tracer.collect(spark)
            phase("trace_extras")
    ambient_after = ambient_probe()

    e2e = {"setup_s": stats.median(setup_s), **wl.e2e(), "peak_rss_mb": mem.peak_mb}
    details = {**wl.details(), **checked, "failed_ratio": failed / attempted}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "ambient_before": ambient_before,
        "ambient_after": ambient_after,
        "phases_s": phases,
        "setup_runs_s": setup_s,
        "end_to_end": e2e,
        "details": details,
        "attempted": attempted,
        "failed": failed,
        "samples": wl.samples,
        "peak_rss_mb_by_pid": mem.by_process(),
    }
    if args.trace:
        by_call = tracer.by_call()
        layer = {
            f"{call}.{name}": by_call.get(call, {}).get(name, 0.0)
            for call in spans.CALLS
            for name, _, _ in spans.GENERIC
        }
        layer.update(wl.layer())
        layer["trace.overhead_ratio"] = tracing_overhead(wl.samples)
        report["per_call"] = by_call
        report["per_layer"] = layer
        self_s = spans.self_times(tracer.spans)
        dumped = [{**d, "self_s": self_s[d["span_id"]]} for d in tracer.dump()]
        stem = os.path.join(results, f"{args.workload}-seed{args.seed}")
        with open(f"{stem}-spans.json", "w") as f:
            json.dump({"run_id": tracer.run_id, "per_call": by_call, "spans": dumped}, f, indent=1)
        metrics = {n: {"value": layer.get(n, 0.0), "unit": u} for n, u, _ in spans.per_layer_metrics()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u, _ in END_TO_END}
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    units = {name: unit for name, unit, _ in END_TO_END}
    for name, value in {**e2e, **details}.items():
        print(f"{args.workload} {name} = {value} {units.get(name, '')}".rstrip())
    print(f"{args.workload} ambient_before = {ambient_before} ambient_after = {ambient_after}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        import_package()
    except ImportError as e:
        print(f"perfbench: the package is not in this checkout: {e}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_spark()
        shutil.rmtree(os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}"), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
