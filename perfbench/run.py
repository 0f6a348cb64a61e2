"""Benchmark entry point.

    python3 perfbench/run.py --workload {analytics,interactive}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout: the engine package is imported from
there, and everything the run writes stays under ``.perfbench/``
(inputs cached per seed, per-run scratch removed at exit, reports
kept). Spark runs ``local[<cpus>]`` with a driver heap sized to the
box. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` - the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
lines before it give every metric with its unit and sample count.
The exit code is 1 when any answer was wrong or any operation failed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "parquet_pipeline_spark"

END_TO_END = {"setup_s": "s", "pass_s": "s"}
# workload-specific end-to-end figures, printed with their units
DETAIL_UNITS = {
    "analytics_s": "s", "prep_s": "s", "ask_p50_ms": "ms", "ask_p90_ms": "ms",
    "search_p50_ms": "ms", "ingest_rows_per_s": "rows/s",
    "stored_bytes_per_input_byte": "ratio", "stream_docs_per_s": "docs/s",
    "trigger_p50_ms": "ms", "fail_frac": "ratio",
}


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _driver_mem() -> str:
    """A quarter of physical RAM, between 1 and 4 GiB: the package
    default (16g) can exceed the box."""
    total_kb = 4 << 20
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return f"{max(1024, min(4096, total_kb // 4 // 1024))}m"


def _environment(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM of the run (the spark-submit launcher and the
        # driver) keeps its temp files in the scratch dir and writes
        # no hsperfdata file outside it
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    # keyless: the scripted client and the hash embedder, never a network model
    for k in ("LLM_BASE_URL", "LLM_API_KEY", "EMBEDDINGS_BASE_URL", "SPARK_UI"):
        os.environ.pop(k, None)
    return env


def _spark_conf(run_dir: str) -> dict:
    return {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced read-out needs every job of the run in the status store
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "40000",
        "spark.sql.ui.retainedExecutions": "20000",
    }


def _stop_spark(spark) -> None:
    """Stop the session and the JVM the py4j gateway launched, and
    wait for it: nothing the run started outlives it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:
                    pass
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def _jvm_peak_rss_mb() -> float | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, AttributeError):
        return None
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["analytics", "interactive"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: no {PACKAGE}/ next to {os.path.basename(HERE)}/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    env = _environment(run_dir)
    bench_own = 0.0  # the benchmark's own work inside the set-up window

    import workloads
    from spans import Tracer

    tracer = Tracer(f"{args.workload}-{args.seed}") if args.trace else None
    inputs_dir = os.path.join(WORK, "inputs", f"seed-{args.seed}")
    t = time.perf_counter()
    ctx = workloads.Ctx(None, args.seed, inputs_dir, run_dir, tracer)
    wl = workloads.WORKLOADS[args.workload](ctx)
    wl.inputs()
    bench_own += time.perf_counter() - t

    import layers

    phases = {}
    with layers.tracing(tracer):
        t = time.perf_counter()
        from parquet_pipeline_spark import registry, session

        with ctx.span("session.get_spark"):
            spark = session.get_spark(f"perfbench-{args.workload}",
                                      extra_conf=_spark_conf(run_dir))
        phases["get_spark_s"] = time.perf_counter() - t
    ctx.spark = spark
    try:
        with layers.tracing(tracer):
            for phase, call in (("load_all", registry.load_all),
                                ("warm_up", lambda: session.warm_up(spark)),
                                ("warm_pass", wl.warm)):
                t = time.perf_counter()
                with ctx.span(f"session.{phase}"):
                    call()
                phases[f"{phase}_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START - bench_own
        if hasattr(wl, "prepare_checks"):
            wl.prepare_checks()

        t_loop, k = time.perf_counter(), 0
        while True:
            # a traced run alternates untraced and traced passes,
            # untraced first and last: the overhead compares neighbours
            traced = tracer is not None and k % 2 == 1
            with layers.tracing(tracer if traced else None), ctx.span("pass", pass_no=k):
                wl.one_pass(k, traced)
            k += 1
            done = time.perf_counter() - t_loop >= args.seconds
            if done and k >= (3 if tracer else wl.MIN_PASSES):
                break
        measured_s = time.perf_counter() - t_loop
        t = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t
        peak_rss = _jvm_peak_rss_mb()
        layer_metrics, layer_detail = (
            layers.collect(tracer, wl, spark, phases, peak_rss) if tracer is not None else ({}, {})
        )
    finally:
        t = time.perf_counter()
        _stop_spark(spark)
        stop_s = time.perf_counter() - t

    import pyspark

    m = wl.metrics()
    m["setup_s"] = (setup_s, 1)
    m["fail_frac"] = (ctx.failed / max(1, ctx.attempted), ctx.attempted)
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "passes": k, "measured_s": round(measured_s, 3),
        "cpus": int(env["SPARK_GRAFT_CPUS"]), "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "spark": pyspark.__version__, "python": sys.version.split()[0],
        "setup_phases_s": {p: round(v, 4) for p, v in phases.items()},
        "jvm_peak_rss_mb": peak_rss,
        "pass_walls_s": [(int(t), round(w, 3)) for t, w in wl.walls()],
        "check_s": round(check_s, 3), "stop_s": round(stop_s, 3),
        "wall_s": round(time.perf_counter() - T_START, 3),
    }
    for key, val in info.items():
        print(f"# {key}: {val}")
    for name, (value, n) in sorted(m.items()):
        unit = END_TO_END.get(name) or DETAIL_UNITS.get(name, "")
        shown = "n/a" if value is None else f"{value:.6g}"
        note = " (needs >=100 samples)" if name == "ask_p90_ms" and value is None else ""
        print(f"{name} = {shown} {unit} [n={n}]{note}")
    for problem in ctx.problems:
        print(f"! {problem}")

    correct = ctx.failed == 0
    if args.trace:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in layer_metrics.items()}
        for name, (value, unit) in sorted({**layer_metrics, **layer_detail}.items()):
            print(f"layer {name} = {value:.6g} {unit}")
    else:
        metrics = {}
        for name, unit in END_TO_END.items():
            value = m[name][0]
            if value is None:
                correct = False
                print(f"! no sample for {name}")
                value = 0.0
            metrics[name] = {"value": value, "unit": unit}
    report = {"info": info, "metrics": {k: {"value": v, "n": n} for k, (v, n) in m.items()},
              "problems": ctx.problems, "op_times_s": getattr(wl, "times", None)}
    if tracer is not None:
        report["layers"] = {**layer_metrics, **layer_detail}
        report["spans"] = layers.span_tree(tracer)
    rep_dir = os.path.join(WORK, "reports")
    os.makedirs(rep_dir, exist_ok=True)
    with open(os.path.join(rep_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
