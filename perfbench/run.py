"""Repo benchmark: three closed-loop workloads through the public job
entry points, on one driver at ``local[nproc]``.

    python3 perfbench/run.py --workload ocr_extract --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Run from the repository root.  One run: start the session, build the
seeded inputs (several times, keeping the median), warm up with one
untimed pass over them, then time passes until ``--seconds`` have
elapsed and report medians.  Set-up time is the session start, the
median input build and the warm-up pass.  Every pass writes to a fresh
output root under a fresh run id.  The outputs of the first timed pass
are checked (``ocr_extract`` also checks the sf0.001 byte-identity sha);
a failed check makes the exit code non-zero.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` prints the
per-layer split of one traced pass instead: for the job workloads one
more untraced pass and then a traced one run after the timed passes (the
difference of their walls is ``trace.paired_delta_s``); the suite traces
its single timed pass, since two more suite passes (about 80 s) would
push a traced run toward three minutes.  ``trace.overhead_s`` is the
time spent in the tracer's own code during the traced pass.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  Everything the run
writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {"docs_per_s": "1/s", "setup_s": "s"}


def _env(nproc: int) -> None:
    """Pin the machine before the JVM starts: explicit parallelism (never
    the engine's 32-core default), workers that can import the engine,
    and scratch space inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _host_info(nproc: int) -> dict:
    import pandas
    import pyarrow
    import pyspark
    commit = "unknown"              # an exported checkout has no .git
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    return {"nproc": nproc, "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
            "commit": commit}


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it every Python
    worker it forked) to exit."""
    from py4j.protocol import Py4JError

    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    try:
        sc._gateway.shutdown()
    except Py4JError:                   # connection already closed
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    nproc = len(os.sched_getaffinity(0))
    _env(nproc)
    sys.path.insert(0, ROOT)
    load_start = os.getloadavg()[0]
    info = _host_info(nproc)
    run_dir = os.path.join(WORK, f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    from image_pdf_ocr_suite_spark.session import build_session

    from perfbench.sparkmetrics import StatusReader
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Check

    t_setup = time.perf_counter()
    spark = build_session(app=f"perfbench-{workload}",
                          master=f"local[{nproc}]", shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        session_s = time.perf_counter() - t_setup
        wl = WORKLOADS[workload](spark, run_dir, seed, nproc)
        check = Check()
        builds = []
        for _ in range(wl.setup_reps):
            t0 = time.perf_counter()
            wl.build_inputs()
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(builds) + warm_s

        reader = StatusReader(spark) if trace else None
        tracer = Tracer(run_id=f"{workload}-s{seed}-traced") if trace else None
        traced = ref = None
        timed = []
        deadline = time.perf_counter() + seconds
        while True:
            if trace and not wl.paired_trace and not timed:
                traced = _traced_pass(wl, tracer, reader, jvm_pid, "p0")
                timed.append(traced["pass"])
            else:
                timed.append(wl.run_pass(f"p{len(timed)}"))
            if (time.perf_counter() >= deadline
                    and len(timed) >= wl.min_passes):
                break
        walls = [p["wall"] for p in timed]
        pass_s = statistics.median(walls)
        passes = list(timed)
        if trace and wl.paired_trace:
            ref = wl.run_pass("ref")
            traced = _traced_pass(wl, tracer, reader, jvm_pid, "traced")
            passes += [ref, traced["pass"]]

        for p in passes:
            check.expect(not p["missing"],
                         f"pass {p.get('run_id')} committed nothing to "
                         f"{p['missing']}", weight=wl.n_inputs)
        wl.check(passes[0], check)

        if not trace:
            metrics = {"docs_per_s": wl.n_inputs / pass_s, "setup_s": setup_s}
            units = END_TO_END
        else:
            metrics = _per_layer(wl, traced, ref, pass_s, jvm_pid)
            _print_spans(tracer, traced, ref)
            trace_dir = os.path.join(WORK, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{workload}-s{seed}.json"),
                        traced["attached"])
            units = _per_layer_units()
            for name in units:              # layers this workload bypasses
                metrics.setdefault(name, 0.0)
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    info.update(load1_start=load_start, load1_end=os.getloadavg()[0],
                workload=workload, seed=seed, inputs=wl.n_inputs,
                input_bytes=wl.input_bytes, passes=len(walls),
                pass_walls=walls, setup_builds=builds, warm_s=warm_s,
                session_s=session_s, notes=check.notes[:20])
    print("perfbench-info " + json.dumps(info), flush=True)
    for k in sorted(metrics):
        print(f"  {k:40s} {metrics[k]:14.6g} {units.get(k, '')}")
    return {"correct": check.failed == 0, "attempted": check.attempted,
            "failed": check.failed,
            "metrics": {k: {"value": float(v), "unit": units.get(k, "")}
                        for k, v in metrics.items()
                        if k in units}}


def _traced_pass(wl, tracer, reader, jvm_pid: int, tag: str) -> dict:
    """One pass under the tracer; returns the pass, its root span, the
    status-store executions it submitted and the per-layer split."""
    from perfbench import layers
    from perfbench.tracing import attach

    wl.wrap(tracer)
    before = reader.last_execution_id()
    cpu0 = layers.python_cpu_ticks(jvm_pid)
    try:
        with tracer.span("pass") as root:
            p = wl.run_pass(tag)
    finally:
        tracer.restore()
    cpu1 = layers.python_cpu_ticks(jvm_pid)
    execs = reader.executions_after(before)
    split = layers.split(reader, tracer, root, execs)
    split["py.cpu_s"] = layers.python_cpu_s(cpu0, cpu1)
    return {"pass": p, "root": root, "split": split,
            "attached": attach(tracer.spans, execs),
            "tracer_s": tracer.bookkeeping_s}


def _per_layer(wl, traced, ref, pass_s: float, jvm_pid: int) -> dict:
    from perfbench import layers

    m = dict(traced["split"])
    m.update(wl.kernel_metrics())
    rows = m.pop("py.extract.rows")
    m["py.extract.crossing_us_per_page"] = (
        1e6 * m["py.extract.worker_s"] / rows - m.get("ocr.us_per_page", 0.0)
        if rows else 0.0)
    m["pass_s"] = pass_s
    jvm_mb, py_mb = layers.peak_rss_mb(jvm_pid)
    m["jvm.peak_rss_mb"] = jvm_mb
    m["py.peak_rss_mb"] = py_mb
    m["peak_rss_mb"] = jvm_mb + py_mb
    m["trace.overhead_s"] = traced["tracer_s"]
    m["trace.paired_delta_s"] = (traced["root"].dur - ref["wall"]
                                 if ref is not None else 0.0)
    m["bytes_written_per_input_byte"] = (
        m["snapshot.bytes_written"] / wl.input_bytes)
    for name, walls in getattr(wl, "leg_walls", {}).items():
        m[f"leg.{name}_s"] = statistics.median(walls)
    return m


def _print_spans(tracer, traced, ref) -> None:
    from perfbench.tracing import self_times

    root = traced["root"]
    selfs = self_times(tracer.spans, traced["attached"])
    paired = f", paired untraced pass {ref['wall']:.3f} s" if ref else ""
    print(f"traced pass {root.dur:.3f} s{paired}; tracer bookkeeping "
          f"{tracer.bookkeeping_s * 1e3:.3f} ms; top-level spans "
          "(n, wall s, self s):")
    top: dict[str, list] = {"(pass self)": [1, root.dur, selfs[root.span_id]]}
    for s in tracer.spans:
        if s.parent == root.span_id:
            agg = top.setdefault(s.name, [0, 0.0, 0.0])
            agg[0] += 1
            agg[1] += s.dur
            agg[2] += selfs[s.span_id]
    for name, (n, dur, own) in sorted(top.items(), key=lambda x: -x[1][1]):
        print(f"  span {name:38s} {n:3d} {dur:9.3f} {own:9.3f}")


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ocr_extract", "crawl_to_shards",
                             "operator_suite", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "image_pdf_ocr_suite_spark")):
        print("perfbench: engine package image_pdf_ocr_suite_spark not found "
              f"next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2

    if args.workload == "all":
        rc = 0
        for w in ("ocr_extract", "crawl_to_shards", "operator_suite"):
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)], cwd=ROOT)
            rc = rc or r.returncode
        return rc

    result = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
