"""Benchmark entry point.

    python3 perfbench/run.py --workload annotation_serving --seed 1 \\
        --seconds 8 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench/inputs`` (cached per seed, never timed). The engine runs in
this process on ``local[$SPARK_GRAFT_CPUS]`` (default: every core) with a
``$SPARK_GRAFT_DRIVER_MEM`` heap (default 2g). The workload's unit of
work repeats, after set-up, until ``--seconds`` have passed; the outputs
are then checked against independent computations. Stdout ends with a
report line (every metric, environment) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("corpus_curation", "annotation_serving")


def environment(args, load_start) -> dict:
    import pyspark

    try:
        err = subprocess.run(["java", "-version"], capture_output=True, text=True,
                             timeout=30).stderr
        java = next(ln for ln in err.splitlines() if "version" in ln)
    except (OSError, subprocess.SubprocessError, StopIteration):
        java = "unknown"
    return {
        "nproc": os.cpu_count(),
        "load1_start": load_start,
        "load1_end": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for every child."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the launcher exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while procs.children().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in procs.children().get(os.getpid(), []):
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gene_level_metadata_pipeline_spark", "__init__.py")):
        print("perfbench: run from the repository root (engine package not found "
              "in the current directory)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    for sub in ("tmp", "spark-local", "inputs", "out"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # keep every temporary file inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    # driver JVM only: initial heap = maximum heap, so heap sizing does not
    # differ from run to run
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    import gen

    load_start = os.getloadavg()[0]
    kind = {"corpus_curation": "corpus", "annotation_serving": "serving"}[args.workload]
    # generate in a child process, so its memory is not in this one's peak RSS
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), kind, str(args.seed),
                    os.path.join(work, "inputs")], check=True, timeout=170)
    inputs, truth = gen.ensure(kind, args.seed, os.path.join(work, "inputs"))
    out_dir = os.path.join(work, "out", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    import workloads

    wl = workloads.make(args.workload, inputs, truth, out_dir, bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = wl.setup()
        setup_s = time.perf_counter() - t0
        deadline = time.perf_counter() + args.seconds
        while True:
            wl.run_op()
            if time.perf_counter() >= deadline and wl.enough():
                break
        # before the checks: their DuckDB and pyarrow work runs in this process
        peak_rss = procs.tree_peak_rss_mb()
        mismatches = wl.check()
        traced = wl.layer_metrics() if args.trace else None
    finally:
        if spark is not None:
            stop_spark(spark)
    attempted, failed = wl.attempted(), wl.failed(mismatches)
    e2e = wl.end_to_end()
    e2e.update(setup_s=(setup_s, "s"), peak_rss_mb=(peak_rss, "MB"),
               failed_frac=(failed / attempted, "ratio"))
    report = {
        "workload": args.workload,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "notes": wl.notes(),
        "mismatches": mismatches,
        "env": environment(args, load_start),
    }
    if traced is not None:
        report["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in traced.items()}
        report["span_file"] = wl.span_file
    with open(os.path.join(out_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report), flush=True)
    keys = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    chosen = traced if args.trace else e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": chosen[k][0], "unit": chosen[k][1]} for k in keys},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
