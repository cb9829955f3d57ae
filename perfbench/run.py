"""Engine benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one SparkSession on
``local[nproc]``, one closed-loop client. The run seeds its inputs from
``--seed`` (several times, for a median set-up time), runs the
workload's untimed warm-up, then runs timed passes until ``--seconds``
have elapsed (at least one),
checks the outputs and prints two JSON lines: the run's details, then
the result ``{"correct", "attempted", "failed", "metrics"}``. It exits
non-zero when a correctness check fails.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns the
Spark event log on and alternates traced and untraced passes; it reports
the per-layer metrics of ``spans.py`` and the tracing overhead instead.
See README.md in this directory.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "automated_datastore_discovery_with_aws_glue_spark"
SEED_REPS = 3


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def _steal_s() -> float:
    """CPU time the hypervisor took from this host's CPUs since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30)
    return out.stdout.strip() or "unknown"


def _source_digest() -> str:
    """sha256 over the engine package's Python sources (names the code
    measured when the checkout is not a git repository)."""
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


class Context:
    """What a workload needs from the run: the session, its work
    directory, the seed, and spans when the run is traced."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = None
        self.tracing = False

    def span(self, name: str):
        return self.tracer.span(name) if self.tracing else contextlib.nullcontext()


def main() -> int:
    args = _parse()
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: engine package {PKG}/ not found under {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import spans as tr
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    mem_mb = _mem_total_mb()
    driver_mem_gb = max(1, min(4, mem_mb // 4096))
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_gb}g",
        TMPDIR=os.path.join(work, "tmp"),
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size, pre-touched heap: no run-to-run heap-resizing
        # decisions in GC pauses, and peak RSS does not depend on how
        # much of the heap a run happened to touch
        "spark.driver.extraJavaOptions": f"-Xms{driver_mem_gb}g -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )

    from automated_datastore_discovery_with_aws_glue_spark.session import get_spark
    from pyspark import SparkContext

    try:
        t_session = time.time()
        spark = get_spark("perfbench", extra_conf=conf)
        gateway = SparkContext._gateway
        try:
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - PROCESS_START
            ctx = Context(spark, work, args.seed)
            if args.trace:
                ctx.tracer = tr.Tracer(spark.sparkContext)
                ctx.tracer.spans.append(
                    {"id": 0, "name": "session.get_spark", "parent": None, "thread": 0,
                     "start": t_session, "end": time.time()}
                )
            run = _measure(args, ctx, workloads.WORKLOADS[args.workload](ctx), session_s)
            run["peak_rss_mb"] = (
                _vm_hwm_mb(gateway.proc.pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            )
            run["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        finally:
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait(timeout=60)
        return _report(args, ctx, tr, run, nproc, mem_mb, driver_mem_gb)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, ctx, wl, session_s: float) -> dict:
    """Seed, warm up, run the timed passes and check the outputs."""
    import workloads

    client = workloads.Client()
    seed_s = []
    for rep in range(SEED_REPS):
        t0 = time.perf_counter()
        wl.seed(rep)
        seed_s.append(time.perf_counter() - t0)

    warm = workloads.Client()
    t0 = time.perf_counter()
    with ctx.tracer.span("perfbench.warmup") if args.trace else contextlib.nullcontext():
        warmup = wl.warm_up(warm)
    warmup_s = time.perf_counter() - t0

    passes, windows = [], []
    steal0 = _steal_s()
    start = time.perf_counter()
    while True:
        traced = bool(args.trace) and len(passes) % 2 == 0
        wl.prepare()
        if traced:
            ctx.tracer.install()
            ctx.tracing = True
        w0 = time.time()
        try:
            rec = wl.run_pass(client)
        finally:
            if traced:
                ctx.tracer.uninstall()
                ctx.tracing = False
        rec["traced"] = traced
        passes.append(rec)
        windows.append((w0, time.time(), traced))
        if time.perf_counter() - start >= args.seconds and (not args.trace or len(passes) >= 2):
            break
    timed_s, steal_s = time.perf_counter() - start, _steal_s() - steal0

    t0 = time.perf_counter()
    errors = wl.check() + warm.errors + client.errors
    check_s = time.perf_counter() - t0
    if warm.failed:
        errors.append(f"warm-up: {warm.failed} of {warm.attempted} calls failed")
    return {
        "wl": wl,
        "client": client,
        "passes": passes,
        "windows": windows,
        "errors": errors,
        "timed_s": timed_s,
        "steal_s": steal_s,
        "check_s": check_s,
        "setup": {"session_s": session_s, "seed_s": seed_s, "warmup_s": warmup_s},
        "setup_s": session_s + statistics.median(seed_s) + warmup_s,
        "warmup": warmup,
    }


def _report(args, ctx, tr, run, nproc, mem_mb, driver_mem_gb) -> int:
    """Print the run's details and its result line; 0 when correct."""
    from pyspark import __version__ as pyspark_version

    wl, client, passes, errors = run["wl"], run["client"], run["passes"], run["errors"]
    untraced = [p for p in passes if not p["traced"]] or passes
    e2e, detail = wl.metrics(untraced), wl.detail(untraced, client)
    e2e.update(
        setup_s=run["setup_s"],
        peak_rss_mb=run["peak_rss_mb"],
        state_mb=statistics.median(p["state_b"] for p in passes) / 1e6,
    )
    units = {"setup_s": "s", "rows_per_s": "rows/s", "delta_s": "s", "peak_rss_mb": "MB", "state_mb": "MB"}

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "mem_total_mb": mem_mb,
        "driver_memory": f"{driver_mem_gb}g",
        "pyspark": pyspark_version,
        "java": run["java"],
        "commit": _commit(),
        "source_digest": _source_digest(),
        "setup": run["setup"],
        "timed_s": run["timed_s"],
        "steal_s_timed": run["steal_s"],
        "check_s": run["check_s"],
        "passes": len(passes),
        "failed_ratio": client.failed / max(1, client.attempted),
        "detail": detail,
        "warmup": run["warmup"],
        "errors": errors[:10],
    }

    if args.trace:
        layer, trace_info, trace_errors = _trace_report(tr, ctx, wl, passes, run["windows"])
        errors += trace_errors
        info["errors"] = errors[:10]
        info["trace"] = trace_info
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit in tr.metric_names()}
    else:
        metrics = {name: {"value": e2e[name], "unit": units[name]} for name in units}
        info["metrics"] = {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}

    results = os.path.join(ROOT, ".perfbench-work", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(info, fh, indent=1)

    correct = not errors
    print(json.dumps(info))
    print(
        json.dumps(
            {"correct": correct, "attempted": client.attempted, "failed": client.failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1


def _trace_report(tr, ctx, wl, passes, windows):
    """Join the spans to the event log's jobs; per-layer metrics over the
    traced passes plus set-up, and the tracing overhead."""
    spans = ctx.tracer.spans
    jobs = tr.read_event_log(os.path.join(ctx.work, "eventlog"))
    tr.attribute(spans, jobs)
    layer = tr.layer_metrics(spans, jobs)
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    layer["trace.overhead_ratio"] = (
        wl.metrics(untraced)["rows_per_s"] / wl.metrics(traced)["rows_per_s"]
    )
    in_window = [j for j in jobs if any(a <= j["submit"] <= b for a, b, t in windows if t)]
    layer["trace.pool_thread_jobs"] = sum(1 for j in in_window if j["via"] == "description")
    layer["trace.unattributed_jobs"] = sum(1 for j in in_window if j["span"] is None)

    # every job submitted while append_many ran (its staged writes run
    # on engine pool threads) must land on that span or below it
    errors = []
    by_id = {s["id"]: s for s in spans}

    def under(sid, root):
        while sid is not None:
            if sid == root:
                return True
            sid = by_id[sid]["parent"] if sid in by_id else None
        return False

    for s in spans:
        if s["name"] == "state.store.append_many":
            stray = [j["id"] for j in jobs if s["start"] <= j["submit"] <= s["end"] and not under(j["span"], s["id"])]
            if stray:
                errors.append(f"jobs {stray[:5]} ran inside append_many span {s['id']} but were attributed elsewhere")
    out = os.path.join(ROOT, ".perfbench-work", "trace")
    os.makedirs(out, exist_ok=True)
    ctx.tracer.write(os.path.join(out, f"{wl.name}-spans.jsonl"))
    with open(os.path.join(out, f"{wl.name}-jobs.jsonl"), "w") as fh:
        for j in jobs:
            fh.write(json.dumps(j) + "\n")
    info = {
        "spans": len(spans),
        "jobs": len(jobs),
        "jobs_by_attribution": {
            via or "none": sum(1 for j in jobs if j["via"] == via) for via in ("property", "description", "time", None)
        },
        "traced_passes": len(traced),
        "untraced_passes": len(untraced),
        "note": "lazy builders carry only driver_s; their execution is charged to the span of the action",
    }
    return layer, info, errors


if __name__ == "__main__":
    sys.exit(main())
