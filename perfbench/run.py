"""Repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload search|reindex --seed N --seconds S --trace 0|1

Run from the repository root. The metrics, their units and the workloads
are declared in ``BENCHMARK.json``; see ``perfbench/README.md`` for what
each one measures. With ``--trace 0`` the run prints every end-to-end
metric, with ``--trace 1`` every per-layer metric. The last line of
standard output is one JSON object::

    {"correct": true, "attempted": 26, "failed": 0, "metrics": {...}}

A full record of each run (provenance, every measured value, the checks
and, when traced, the spans) is written under ``.perfbench/results/``.
The exit code is 0 when every correctness check passed, 1 when one failed
and 2 when the run could not start (no program, or a changed corpus).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import subprocess
import sys
import time
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"


def fail_start(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def pin_environment() -> None:
    """Session settings owned by the benchmark, applied before Spark starts:
    all cores, a driver heap well below physical RAM, and every temporary
    and scratch directory inside the checkout."""
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            # -UsePerfData: no hsperfdata files outside the checkout
            "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(STATE, 'warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            # keep every job/stage of a run in the status store for read-back
            "--conf", "spark.ui.retainedJobs=100000",
            "--conf", "spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]),
    })
    import tempfile

    tempfile.tempdir = tmp


def jit_jiffies(pid: int) -> int:
    """CPU time (jiffies) of the JVM's JIT compiler threads so far."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the thread has exited
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        if comm.startswith(("C1 Compiler", "C2 Compiler")):
            total += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
    return total


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def cpu_stat() -> list[int]:
    """The aggregate cpu line of /proc/stat (user ... steal), in jiffies."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def git_head() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and the Python workers it
    forked) to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    try:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-cache", action="store_true",
                    help="only build the cached corpus index (first run does this)")
    args = ap.parse_args()
    if not args.build_cache and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    sys.path.insert(0, ROOT)
    import importlib.util

    if importlib.util.find_spec("claude_code_memory_spark") is None:
        fail_start(f"no claude_code_memory_spark package under {ROOT}")
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail_start("BENCHMARK.json not found")
    import corpus
    import workloads

    if not args.build_cache and args.workload not in workloads.WORKLOADS:
        fail_start(f"unknown workload {args.workload!r}")
    pin = corpus.check_pin()
    pin_environment()

    from claude_code_memory_spark.cpuacct import JIFFY_HZ, cpu_totals
    from claude_code_memory_spark.session import get_spark
    from spans import Tracer, jobs_submitted

    if args.build_cache:
        spark = get_spark("perfbench-build", cpus=os.cpu_count())
        spark.sparkContext.setLogLevel("ERROR")
        corpus.build(spark, pin)
        stop_spark(spark)
        return 0
    if not os.path.exists(os.path.join(corpus.cache_dir(pin), "build.json")):
        subprocess.run([sys.executable, os.path.abspath(__file__), "--build-cache"],
                       check=True, stdout=sys.stderr)

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    build = corpus.restore(pin)
    sc = spark.sparkContext
    tracer = Tracer(sc, enabled=bool(args.trace))
    tracer.install()

    from claude_code_memory_spark.api import CodeMemoryEngine

    engine = CodeMemoryEngine(spark, corpus.STORE)
    ctx = workloads.Ctx(spark, engine, tracer, args.seed, args.seconds, build)
    wl = workloads.WORKLOADS[args.workload](ctx)
    wl.setup()
    setup_s = time.perf_counter() - t0

    tracer.spans.clear()  # per-layer figures cover the timed phase only
    jvm = sc._gateway.proc.pid
    load_before, cpu0, stat0 = os.getloadavg()[0], cpu_totals(), cpu_stat()
    jit0 = jit_jiffies(jvm)
    jobs0 = jobs_submitted(sc)
    tm = time.perf_counter()
    e2e = wl.measure()
    measure_s = time.perf_counter() - tm
    jobs_total = jobs_submitted(sc) - jobs0
    jit = jit_jiffies(jvm) - jit0
    cpu1, stat1, load_after = cpu_totals(), cpu_stat(), os.getloadavg()[0]
    busy, tree = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    # CPU time of the driver, its JVM and Python workers per unit operation:
    # hypervisor steal on a shared host inflates wall time far more. JIT
    # compilation is left out: it is JVM warm-up that tapers off over
    # minutes, so it would charge a run with fewer operations more per
    # operation.
    e2e["cpu_ms"] = (tree - jit) * 1e3 / JIFFY_HZ / max(wl.units(), 1)
    tracer.uninstall()
    try:
        wl.verify()
    except Exception as e:
        ctx.check("verify", False, f"{type(e).__name__}: {e}"[:300])
    tracer.spark_counts()
    peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm)
    stop_spark(spark)

    e2e["setup_s"] = setup_s
    layer = {**tracer.layer_metrics(), **ctx.layer, "trace.jobs_total": jobs_total,
             "process.peak_rss_mb": peak_rss_mb}
    layer.update({f"traced.{k}": v for k, v in e2e.items()})

    spec = declared()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        value = (layer if args.trace else e2e).get(m["name"])
        if value is None:
            missing.append(m["name"])
            value = 0.0
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    if not args.trace:
        zero = [k for k, v in metrics.items() if v["value"] <= 0]
        ctx.check("end_to_end_metrics_measured", not zero, f"zero: {zero}")
        ctx.check("metrics_declared", not missing, f"missing: {missing}")

    failed_checks = [c for c in ctx.checks if not c[1]]
    attempted = max(wl.attempted(), 1)
    failed = min(len(failed_checks), attempted)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "provenance": {
            "git_head": git_head(), "program_sha256": corpus.program_hash(),
            "timestamp": datetime.now(timezone.utc).isoformat(),
            "nproc": os.cpu_count(), "load1_before": load_before, "load1_after": load_after,
            "external_cpu_share": max(busy - tree, 0) / max(
                measure_s * JIFFY_HZ * os.cpu_count(), 1e-9),
            # CPU time the hypervisor gave to other guests (host contention)
            "steal_share": (stat1[7] - stat0[7]) / max(sum(stat1) - sum(stat0), 1),
            "corpus": pin, "driver_memory": DRIVER_MEMORY,
            "python_maxrss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        },
        "build": {k: build[k] for k in ("build_s", "index", "copy_s")},
        "measure_s": measure_s, "jit_cpu_s": jit / JIFFY_HZ,
        "end_to_end": e2e, "per_layer": layer,
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in ctx.checks],
        "ops": wl.log(),
    }
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    stem = os.path.join(STATE, "results", f"{args.workload}-s{args.seed}-t{args.trace}")
    if args.trace:
        untraced = stem[:-1] + "0.json"
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]
            record["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
            print(f"tracing overhead vs untraced run of seed {args.seed}: "
                  f"{record['tracing_overhead']}", file=sys.stderr)
        with open(stem + "-spans.json", "w") as fh:
            json.dump(tracer.dump(), fh)
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for n, ok, d in failed_checks:
        print(f"perfbench: check failed: {n} {d}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    if not args.trace:  # wall time is reported but not gated (see README)
        print(f"latency_ms = {e2e['latency_ms']:.6g} ms")
    correct = not failed_checks
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
