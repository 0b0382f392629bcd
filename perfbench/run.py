"""Workflow benchmark for slice_db_spark.

    python3 perfbench/run.py --workload slice_small --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout.  Builds the seeded inputs, starts
one Spark session on ``local[<nproc>]``, runs one untimed warm-up
iteration, then one closed-loop client for ``--seconds``, checks every
output, and prints a report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` the per-layer ones.  Exits 1 when
any output check fails.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def _process_age_s() -> float:
    """Seconds since this process started (``/proc``), so set-up time
    includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _environment(run_dir: str, cpus: int) -> None:
    """Everything Spark and its Python workers need, kept inside the
    checkout.  Workers inherit PYTHONPATH from the JVM, so the library
    imports there from any working directory.  The driver heap starts at
    its 2 GB maximum and is touched whole at start: with a growing heap,
    G1's resize steps moved peak RSS by ±20% from run to run, and with an
    untouched one, where G1 placed eden moved it by ±5%."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        " -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch' pyspark-shell"
    )


def _prepare(workload: str, seed: int, inputs: str) -> None:
    """Generate the inputs in a child process, so their memory never
    counts into this process's peak."""
    import subprocess

    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), workload, str(seed), inputs],
                   check=True)


class Context:
    def __init__(self, args, run_dir: str, inputs: str):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.inputs = inputs
        self.spark = None
        self.tracer = None


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


PR_SET_CHILD_SUBREAPER = 36


def _adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, directly or
    not: a descendant whose parent exits (Spark's Python worker daemon when
    the JVM exits) becomes this process's child, so :func:`_reap` can wait
    for it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            if ppid == me:
                out.append(int(name))
    return out


def _reap(grace_s: float = 20.0) -> None:
    """Wait until no process this one started is left, killing whatever
    still runs after ``grace_s``.  With :func:`_adopt_orphans` in force,
    having no children means having no descendants."""
    import signal

    deadline = time.monotonic() + grace_s
    while kids := _children():
        late = time.monotonic() > deadline
        for pid in kids:
            try:
                if late:
                    os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, os.WNOHANG)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


def _exit_on_sigterm() -> None:
    """Turn SIGTERM into ``SystemExit`` so every ``finally`` still runs."""
    import signal

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import slice_db_spark  # noqa: F401  (fails fast outside a checkout)

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    inputs = os.path.join(WORK, "inputs")
    _environment(run_dir, cpus)

    import workloads
    from spans import Tracer

    from slice_db_spark import session

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    gen_start = time.perf_counter()
    _prepare(args.workload, args.seed, inputs)
    ctx = Context(args, run_dir, inputs)
    wl = workloads.WORKLOADS[args.workload](ctx)
    gen_s = time.perf_counter() - gen_start

    t = time.perf_counter()
    ctx.spark = session.get_spark("perfbench", cpus=cpus)
    get_spark_s = time.perf_counter() - t
    launch_s = _process_age_s() - gen_s
    proc = getattr(ctx.spark.sparkContext._gateway, "proc", None)
    try:
        if ctx.trace:
            ctx.tracer = Tracer(ctx.spark)
        catalog_s = wl.catalog_s()
        _, warm_s = workloads._timed(wl.warm)
        setup_s = launch_s + catalog_s + warm_s
        wl.run(args.seconds)
        # read before the checks, whose DuckDB work is the benchmark's own
        rss_mb = (_vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(proc.pid) if proc else 0)) / 1024.0
        problems = wl.check()
        attempted = len(wl.ops)
        failed_ops = sum(1 for o in wl.ops if "error" in o or o.get("ok") is False)
        failed = max(failed_ops, 1) if problems else 0
        m = wl.metrics()
        layers = _layers(ctx, wl, get_spark_s, catalog_s) if ctx.trace else {}
    finally:
        _stop(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    values = dict(m, setup_s=setup_s, peak_rss_mb=rss_mb)
    e2e = {k: (values[k], unit) for k, unit in END_TO_END.items()}
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={cpus} nproc={os.cpu_count()} "
          f"python={sys.version.split()[0]} spark={_spark_version()} "
          f"commit={_commit()} input_gen_s={gen_s:.3f} ops={attempted}")
    for name, (v, unit) in e2e.items():
        print(f"{name} {v:.6g} {unit}")
    for name, v, unit in wl.report(m):
        print(f"{name} {v:.6g} {unit}")
    for name, xs in wl.samples().items():
        print(f"# {name} " + " ".join(f"{x:.3f}" for x in xs))
    print(f"failed_frac {failed / max(attempted, 1):.6g} ratio")
    for p in problems:
        print(f"CHECK FAILED: {p}")
    if ctx.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 1 if problems else 0


#: end-to-end metrics with their units.  "primary" is the workload's main
#: operation (a dump; a corpus micro-batch), "secondary" its second one
#: (the restore of that dump; the whole ingest call) — see README.md.
END_TO_END = {
    "setup_s": "s",
    "primary_p50_s": "s",
    "primary_items_per_s": "1/s",
    "secondary_p50_s": "s",
    "write_amp": "B/B",
    "peak_rss_mb": "MB",
}

LAYER_SPANS = ("session.load_catalog", "subset.run", "subset.export", "transforms.scrub",
               "slice.write", "slice.read", "restore.write", "corpus.batch")

#: every per-layer metric with its unit; a layer the workload bypasses reads 0
PER_LAYER = {"session.get_spark_s": "s"}
for _span in LAYER_SPANS:
    PER_LAYER[f"{_span}_s"] = "s"
    for _k in ("jobs", "stages", "tasks"):
        PER_LAYER[f"{_span}.spark_{_k}"] = "count"
PER_LAYER.update({
    "subset.rounds": "count", "subset.keys": "count", "subset.lifted": "count",
    "subset.keys_per_s": "1/s", "transforms.rows": "count", "transforms.rows_per_s": "1/s",
    "slice.bytes": "B", "slice.files": "count", "restore.levels": "count",
    "restore.bytes": "B", "corpus.add_batch_s": "s", "corpus.wal_commit_s": "s",
    "corpus.batches": "count", "corpus.docs_landed": "count", "corpus.docs_rejected": "count",
    "corpus.docs_dropped": "count", "corpus.planted_dup_recall": "ratio",
    "dedup.lsh_index_rows": "count", "dedup.lsh_index_files": "count",
    "dedup.span_index_rows": "count", "dedup.span_index_files": "count",
    "dedup.index_bytes": "B", "trace.overhead_s": "s",
})


def _layers(ctx, wl, get_spark_s: float, catalog_s: float) -> dict:
    """Per-layer metrics of a traced run.  Span times are median self
    seconds per call, Spark counts median per call; the other counts cover
    operations that run on every seed whatever the deadline (see each
    workload's ``layers``)."""
    from stats import median

    calls = ctx.tracer.calls()
    vals = dict.fromkeys(PER_LAYER, 0.0)
    vals["session.get_spark_s"] = get_spark_s
    vals["session.load_catalog_s"] = catalog_s
    for name in LAYER_SPANS:
        if name in calls:
            vals[f"{name}_s"] = median([c["self_s"] for c in calls[name]])
            for k in ("jobs", "stages", "tasks"):
                vals[f"{name}.spark_{k}"] = median([c[f"spark_{k}"] for c in calls[name]])
    vals.update(wl.layers())
    if vals["subset.run_s"]:
        vals["subset.keys_per_s"] = vals["subset.keys"] / vals["subset.run_s"]
    if vals["transforms.scrub_s"]:
        vals["transforms.rows_per_s"] = vals["transforms.rows"] / vals["transforms.scrub_s"]
    return {k: (vals[k], u) for k, u in PER_LAYER.items()}


def _commit() -> str:
    import subprocess

    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10,
                             env=dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT)))
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _spark_version() -> str:
    import pyspark

    return pyspark.__version__


if __name__ == "__main__":
    _adopt_orphans()
    _exit_on_sigterm()
    try:
        rc = main()
    finally:
        _reap()
    sys.exit(rc)
