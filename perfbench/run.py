#!/usr/bin/env python3
"""frankensearch_spark benchmark: ``search``, ``watch`` and ``bulk_load``.

Usage, from the repository root or any other directory::

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

One run starts a ``local[4]`` session, builds its inputs from ``--seed``,
sets up, measures for ``--seconds``, checks the answers against the
oracle and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, and the run's spans are
written under ``.perfbench-work/traces/``.  A failed check prints the
result with ``"correct": false`` and exits 1; an error exits 2 without a
result.

``--workload all`` runs the three workloads one after another in child
processes and prints each one's metrics by name with its unit; with
``--trace 1`` each workload runs untraced and traced on the same seed and
the tracing overhead (traced minus untraced ``op_p50_s``) is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
#: this process's scratch directory, removed when the run ends
RUN_DIR = os.path.join(WORK, f"run-{os.getpid()}")
WORKLOAD_NAMES = ("search", "watch", "bulk_load")


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _child(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode not in (0, 1) or not lines:
        raise SystemExit(f"{workload}: run failed with exit code {out.returncode}")
    return json.loads(lines[-1])


def run_all(args) -> int:
    spec = _spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    ok = True
    for wl in WORKLOAD_NAMES:
        res = _child(wl, args.seed, args.seconds, 0)
        ok &= res["correct"]
        print(f"{wl}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        for name, m in res["metrics"].items():
            print(f"  {name} = {m['value']:.6g} {m['unit']}")
        if args.trace:
            traced = _child(wl, args.seed, args.seconds, 1)
            ok &= traced["correct"]
            for name, m in traced["metrics"].items():
                print(f"  [trace] {name} = {m['value']:.6g} {units.get(name, m['unit'])}")
            over = traced["metrics"]["trace.op_p50_s"]["value"] - res["metrics"]["op_p50_s"]["value"]
            print(f"  tracing overhead (op_p50_s traced - untraced) = {over:.6g} s")
    return 0 if ok else 1


def _bootstrap(run_dir: str) -> None:
    """Environment for the session: executors import the package from this
    checkout, and Spark, the JVM and Python keep every scratch file under
    ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp


def _stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM it launched and every
    process under it (the Python workers) to exit."""
    from pyspark import SparkContext

    import observe

    started = [p for p in observe.process_tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(30)
    observe.wait_gone(started, timeout=30)


def run_one(args) -> int:
    run_dir = RUN_DIR
    _bootstrap(run_dir)
    try:
        import bench  # host-weather /proc readers
        from frankensearch_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    import observe
    import workloads

    spec = _spec()
    weather0 = bench._host_weather_sample()
    tracer = observe.Tracer(bool(args.trace))
    t = time.time()
    spark = get_spark(
        app_name="perfbench", cores=workloads.CORES, shuffle_partitions=2 * workloads.CORES,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    tracer.add("session.start", t, time.time())
    ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, run_dir, T_START)
    ctx.layer["session.start_s"] = time.time() - t
    ctx.mark("session")
    try:
        workloads.WORKLOADS[args.workload](ctx)
        rss = observe.tree_peak_rss_mb()
        ctx.e2e["peak_rss_mb"] = sum(rss.values())
        # the JVM's share follows how far G1 grew the heap; the Python
        # share (driver, identity mirror, workers) is steady run to run
        jvm = sum(v for k, v in rss.items() if k.startswith("java-"))
        ctx.layer["process.jvm_peak_rss_mb"] = jvm
        ctx.layer["process.python_peak_rss_mb"] = ctx.e2e["peak_rss_mb"] - jvm
        ctx.notes.append("peak RSS " + ", ".join(f"{k} {v:.0f} MB" for k, v in rss.items()))
    finally:
        _stop_spark(spark)
    weather = bench._host_weather_delta(weather0)
    ctx.layer["host.steal_pct"] = weather.get("steal_pct", 0.0)
    ctx.layer["host.psi_some_pct"] = weather.get("psi_some_pct", 0.0)

    if args.trace:
        tracer.add("perfbench.run", T_START, time.time(), workload=args.workload, seed=args.seed,
                   steal_pct=ctx.layer["host.steal_pct"], psi_some_pct=ctx.layer["host.psi_some_pct"])
        ctx.layer["trace.op_p50_s"] = ctx.e2e["op_p50_s"]
        for name, v in tracer.self_times().items():
            ctx.layer[f"self_s.{name}"] = v
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        tracer.write(trace_path)
        print(f"spans: {len(tracer.spans)} written to {trace_path}")
    # a layer that does not run in this workload reports 0; every
    # end-to-end metric must have been measured
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = ctx.layer if args.trace else ctx.e2e
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in ctx.e2e]
    if missing:
        raise RuntimeError(f"workload reported no {missing}")
    for e in ctx.errors:
        print(f"check failed: {e}")
    print(
        f"{args.workload} seed={args.seed}: setup {ctx.e2e['setup_s']:.2f} s, "
        f"op_p50 {ctx.e2e['op_p50_s']:.4f} s, steal {ctx.layer['host.steal_pct']}%, "
        f"psi {ctx.layer['host.psi_some_pct']}%; set-up "
        + ", ".join(f"{k} {v:.2f} s" for k, v in ctx.phases.items())
        + "".join(f"; {n}" for n in ctx.notes)
    )
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def main(argv=None) -> int:
    args = _args(argv)
    if args.workload == "all":
        return run_all(args)
    if not os.path.exists(os.path.join(ROOT, "frankensearch_spark")):
        print("perfbench: no frankensearch_spark package next to perfbench/", file=sys.stderr)
        return 2
    try:
        return run_one(args)
    except Exception:
        import traceback

        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(RUN_DIR, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
