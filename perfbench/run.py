#!/usr/bin/env python3
"""Benchmark runner: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload features --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates (or reuses) its seeded
inputs under ``.perfbench/cache``, sets up and warms a Spark session on
``local[nproc]``, runs the workload's jobs back to back (a closed loop
with one client) for ``--seconds`` and a minimum number of jobs, checks
every output, drops what it created under ``.perfbench/work-<pid>`` and
prints the metrics.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    head = os.path.join(ROOT, ".git", "HEAD")
    commit = None
    if os.path.isfile(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.isfile(ref_path):
                with open(ref_path) as f:
                    commit = f.read().strip()
        else:
            commit = ref
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "commit": commit,
    }


def configure_env(work: str, nproc: int, ram_gib: float) -> None:
    """Host-fit settings, exported before the JVM starts so that the JVM
    and its Python workers inherit them."""
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(8, int(ram_gib) // 4))}g"
    # shuffle/spill files, temporary files and catalog tables stay inside
    # the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file under the system /tmp either
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def process_tree(root_pid: int) -> dict[int, int]:
    """{pid: resident kB} of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue  # the process ended while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages * page_kb
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in rss:
            tree[pid] = rss[pid]
            todo.extend(children.get(pid, []))
    return tree


class RssSampler:
    """Peak resident set size of a process tree (the Spark driver JVM and the
    Python workers it forks), sampled from /proc every 50 ms."""

    def __init__(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(0.05):
            self.peak_kb = max(self.peak_kb, sum(process_tree(self.root_pid).values()))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def warm_up(spark) -> float:
    """First JVM job (executor and codegen start) and first Arrow UDF job
    (boots one Python worker per core, which imports the engine); returns
    the wall time of the latter."""
    from pyspark.sql import functions as F

    from py_evalfilter_spark.functions import textfeats

    spark.range(1000).selectExpr("sum(id)").collect()
    n = spark.sparkContext.defaultParallelism
    texts = spark.range(0, 4000, 1, n).select(
        F.concat(F.lit("warm スパーク "), F.col("id").cast("string")).alias("text")
    )
    t0 = time.perf_counter()
    textfeats.with_rant_stats(texts).selectExpr("sum(tokens)").collect()
    return time.perf_counter() - t0


def _alive(pid: int) -> bool:
    """The process exists and is not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM and
    the Python workers it forked have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else {}
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(_alive(pid) for pid in tree):
        if time.monotonic() > deadline:
            for pid in tree:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            break
        time.sleep(0.1)


def summarize(values: list[float]) -> dict:
    return {
        "n": len(values),
        "median": statistics.median(values),
        "min": min(values),
        "max": max(values),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "py_evalfilter_spark")):
        print(f"perfbench: no py_evalfilter_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    host = host_info()
    host["loadavg_before"] = os.getloadavg()
    work = os.path.join(STATE, f"work-{os.getpid()}")
    cache = os.path.join(STATE, "cache")
    os.makedirs(cache, exist_ok=True)
    configure_env(work, host["nproc"], host["ram_gib"])

    wl = workloads.WORKLOADS[args.workload](args.seed, cache, work)
    t_gen = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t_gen

    walls: list[float] = []
    rows: list[int] = []
    errors: list[str] = []
    attempted = failed = 0
    first_job_s = None
    layer = tracer = spark = None
    try:
        # ---- set-up: imports, session, Python worker boot, first
        # codegen; input generation is the benchmark's own work ----
        from py_evalfilter_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t_start - gen_s
        python_boot_s = warm_up(spark)
        setup_s = time.perf_counter() - t_start - gen_s
        host["spark"] = spark.version
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")

        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark, wl)
        # a traced run needs a traced and an untraced loop job
        min_jobs = max(wl.min_loop_jobs, 2 if tracer else 1)
        with contextlib.ExitStack() as stack:
            rss = None
            if tracer:
                rss = stack.enter_context(RssSampler(spark.sparkContext._gateway.proc.pid))
            t_loop = time.perf_counter()
            while True:
                loop_jobs = attempted - 1
                if attempted and (
                    loop_jobs >= wl.max_loop_jobs
                    or (loop_jobs >= min_jobs and time.perf_counter() - t_loop >= args.seconds)
                ):
                    break
                first = attempted == 0
                attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.job(first) if tracer else contextlib.nullcontext():
                        n = wl.first_job(spark) if first else wl.job(spark)
                except Exception:  # noqa: BLE001 - a failed job is counted, the loop goes on
                    failed += 1
                    errors.append(traceback.format_exc())
                    continue
                dt = time.perf_counter() - t0
                if first:
                    first_job_s = dt
                else:
                    walls.append(dt)
                    rows.append(n)

        # ---- output checks, outside the timed region ----
        try:
            bad_jobs, check_errors = wl.check(spark)
        except Exception:  # noqa: BLE001 - a crashed check fails every job
            bad_jobs, check_errors = attempted, [traceback.format_exc()]
        failed = min(attempted, failed + bad_jobs)
        errors.extend(check_errors)
        if tracer:
            layer = tracer.finish(
                {
                    "session.start_s": session_s,
                    "session.python_boot_s": python_boot_s,
                    "peak_rss_mb": rss.peak_kb / 1024,
                },
            )
            tracer.dump(
                os.path.join(STATE, f"trace-{args.workload}-s{args.seed}.json"),
                layer,
            )
    finally:
        if spark is not None:
            wl.cleanup(spark)
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_after"] = os.getloadavg()

    for e in errors:
        print(e, file=sys.stderr)
    rows_per_s = sum(rows) / sum(walls) if walls else 0.0
    if not walls or first_job_s is None:
        print("perfbench: no job completed", file=sys.stderr)
        return 1
    e2e = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (rows_per_s, "rows/s"),
        "first_job_s": (first_job_s, "s"),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "inputs": wl.describe(),
        "gen_s": gen_s,
        "session_s": session_s,
        "job_s": summarize(walls),
        "job_walls": walls,
        wl.rate_name: {"value": rows_per_s, "unit": wl.rate_unit},
        wl.first_name: {"value": first_job_s, "unit": "s"},
    }
    print(json.dumps(report))
    for name, (value, unit) in e2e.items():
        print(f"{args.workload:12s} {name:14s} {value:14.4f} {unit}")
    if layer is not None:
        metrics = {
            k: {"value": v, "unit": tracing.unit_of(k)}
            for k, v in tracing.report(layer).items()
        }
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
