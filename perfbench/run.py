"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_batch --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) in this process on
``local[nproc]``: set-up (several times, median reported), an untimed
warm-up pass that checks correctness, then a closed loop of whole
passes until ``--seconds`` have elapsed, then the end-state checks.
With ``--trace 0`` the last stdout line reports the end-to-end
metrics; with ``--trace 1`` it reports the per-layer metrics, and a
per-layer table of self times is printed above it. Every run works in a
fresh directory under ``.perfbench_work/`` (warehouse, Spark local
dirs, temp files, bed), removed at exit; traced runs leave their spans
in ``.perfbench_work/traces/``. Exits 1 when an output is wrong and 2
when the engine cannot be found or started.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
SPARK_KINDS = ("query", "read", "write", "diagnose")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("corpus_batch", "index_serving", "pipeline_diagnose"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> dict:
    """Point every place the engine writes at ``work`` and size the
    session to the host; returns the recorded environment."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_gb = max(1, min(4, int(mem_gb // 6)))
    tmp = os.path.join(work, "tmp")
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_UI": "false",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # no hsperfdata files: both JVMs would write them under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    })
    return {"nproc": cpus, "SPARK_GRAFT_CPUS": cpus, "driver_mem": f"{driver_gb}g",
            "host_mem_gb": round(mem_gb, 1), "python": platform.python_version()}


def spark_counters(tracer) -> dict[str, float]:
    """Median per operation of each Spark counter, by operation kind."""
    from tracing import COUNTERS

    out = {}
    for kind in SPARK_KINDS:
        ops = [o for o in tracer.ops if o.phase == "timed" and o.kind == kind
               and not o.failed and o.counters]
        for c in COUNTERS:
            vals = [o.counters[c] for o in ops]
            out[f"spark.{kind}.{c}"] = statistics.median(vals) if vals else 0.0
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "plumberapp_spark")):
        print(f"perfbench: no plumberapp_spark package under {ROOT}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = isolate(work)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    state: dict = {}
    try:
        return measure(args, work, work_root, env, state)
    finally:
        if "spark" in state:
            stop(state["spark"])
        shutil.rmtree(work, ignore_errors=True)


def stop(spark) -> None:
    """Stop the session, the JVM it launched and the JVM's Python
    workers, and wait until each has ended."""
    import signal

    from tracing import process_tree

    proc = spark.sparkContext._gateway.proc
    tree = process_tree([proc.pid]) - {proc.pid}
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 10
    while tree:
        for pid in list(tree):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    ended = fh.read().rsplit(")", 1)[1].split()[0] == "Z"
            except OSError:
                ended = True
            if ended:
                tree.discard(pid)
            elif time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
        time.sleep(0.1)


def measure(args, work, work_root, env, state: dict) -> int:
    import duckdb
    import pyspark

    env.update({"spark": pyspark.__version__, "duckdb": duckdb.__version__,
                "workload": args.workload, "seed": args.seed})
    t = time.perf_counter()
    from plumberapp_spark import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    state["spark"] = spark
    spark.range(1).collect()  # first job: JVM class loading, outside every phase
    session_s = time.perf_counter() - t

    from tracing import Tracer, peak_rss_mb
    from workloads import WORKLOADS, med

    tracer = Tracer(spark, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)

    setup_times = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup(rep)
        setup_times.append(time.perf_counter() - t)
    env["bed_fingerprint"] = wl.fingerprints[-1]
    problems = []
    if len(set(wl.fingerprints)) != 1:
        problems.append(f"bed is not deterministic: fingerprints {wl.fingerprints}")

    t = time.perf_counter()
    problems += wl.warmup()
    warmup_s = time.perf_counter() - t
    phases = {"session_s": session_s, "setup_s": sum(setup_times), "warmup_s": warmup_s}

    tracer.phase = "timed"
    t0 = time.perf_counter()
    while True:
        for item in wl.next_round():
            wl.run(item)
        if time.perf_counter() - t0 >= args.seconds:
            break
    timed_s = time.perf_counter() - t0
    tracer.phase = "check"
    rss = peak_rss_mb([os.getpid(), spark.sparkContext._gateway.proc.pid])  # driver + JVM
    t = time.perf_counter()
    problems += wl.final_check()
    phases.update(timed_s=timed_s, check_s=time.perf_counter() - t)

    timed = [o for o in tracer.ops if o.phase == "timed"]
    failed = sum(o.failed for o in tracer.ops)
    reads = [o.latency_s for o in timed if o.kind in wl.read_kinds and not o.failed]
    print("env " + json.dumps(env), flush=True)
    print("phases " + json.dumps({k: round(v, 2) for k, v in phases.items()}), flush=True)
    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", flush=True)

    if args.trace:
        values = {
            "setup.session_s": session_s,
            "setup.bed_s": med(wl.layer_setup["bed"]),
            "setup.index_build_s": med(wl.layer_setup["index_build"]),
            "setup.warmup_s": warmup_s,
            "trace.overhead_s": med(tracer.overhead_s),
            **wl.layer_metrics(),
            **spark_counters(tracer),
        }
        print_self_times(tracer, timed_s)
        print(f"pass_s with tracing on: {wl.pass_s():.3f} s (compare a --trace 0 run)")
        tracer.write(os.path.join(work_root, "traces", f"{args.workload}-s{args.seed}.json"), env)
    else:
        values = {
            "setup_s": statistics.median(setup_times),
            "pass_s": wl.pass_s(),
            "read_mean_s": statistics.fmean(reads) if reads else 0.0,
            "requests_per_s": len(timed) / timed_s,
            "peak_rss_mb": rss,
        }
    declared = declared_metrics("per_layer" if args.trace else "end_to_end")
    unknown = sorted(set(values) - set(declared))
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
    result = {
        "correct": not problems and failed == 0,
        "attempted": len(tracer.ops),
        "failed": failed,
        # a layer this workload never runs reports 0
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in declared.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def declared_metrics(section: str) -> dict[str, str]:
    """name -> unit of one metric section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def print_self_times(tracer, timed_s: float) -> None:
    rows = sorted(tracer.self_times("timed").items(), key=lambda kv: -kv[1][2])
    print(f"{'span':<40} {'count':>6} {'total_s':>9} {'self_s':>9}")
    for name, (n, total, self_s) in rows:
        print(f"{name:<40} {n:>6} {total:>9.3f} {self_s:>9.3f}")
    over = sum(tracer.overhead_s)
    print(f"tracing overhead: {over:.3f} s reading counters "
          f"({len(tracer.overhead_s)} ops; timed phase {timed_s:.1f} s)", flush=True)


if __name__ == "__main__":
    sys.exit(main())
