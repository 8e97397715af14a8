"""Benchmark of the KG+SHACL job.

    python3 kgbench/run.py --workload crawl_kg --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  One process, one Spark session on
``local[4]``, one client: jobs run back to back and never overlap.  The run
sets up (``setup_s``: process start to first job ready, so interpreter,
imports, JVM and session start, input generation and materialization),
measures the first job of the process (``cold_job_cpu_s``), then runs warm
jobs until ``--seconds`` have passed (whole jobs, at least one).  Every
job's output is checked against the generator's oracle.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` wraps the
package names each layer is entered through, tags Spark jobs per layer,
enables Spark's event log, traces every job, and prints the per-layer
metrics (medians over the warm jobs).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
carries the run metadata (wall-clock figures, host steal, load average,
nproc, commit, seed), which is also written with the spans under
``.kgbench_work/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import nullcontext

MASTER = "local[4]"
MAX_JOBS = 12
MIN_WARM_JOBS = 1  # per run, traced or not, so both time jobs at the same positions
RSS_INTERVAL_S = 0.5
WORK_DIR = ".kgbench_work"

# per-layer metrics read from the event log: metric -> (layer tag, total)
EVENT_METRICS = {
    "extract.raw_triples": ("extract", "records_written"),
    "extract.executor_cpu_s": ("extract", "executor_cpu_s"),
    "link.spark_jobs": ("link", "jobs"),
    "link.executor_cpu_s": ("link", "executor_cpu_s"),
    "typed.rows": ("typed", "records_written"),
    "typed.shuffle_bytes": ("typed", "shuffle_bytes"),
    "validate.spark_jobs": ("validate", "jobs"),
    "validate.spark_stages": ("validate", "stages"),
    "validate.tasks": ("validate", "tasks"),
    "validate.executor_cpu_s": ("validate", "executor_cpu_s"),
    "merge.executor_cpu_s": ("merge", "executor_cpu_s"),
}
SPARK_TOTALS = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.shuffle_bytes": "shuffle_bytes",
    "spark.executor_cpu_s": "executor_cpu_s",
    "spark.gc_s": "gc_s",
}


# -- host and process measurements ---------------------------------------------


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat; user..steal only, since
    guest time is already counted in user."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals[:8])
    except (OSError, ValueError):
        return None


def _process_start() -> float:
    """Wall-clock time at which this process was started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rfind(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_pss_bytes(root_pid: int) -> int:
    """Proportional set size of the process tree: RSS with each shared page
    split between the processes that map it, so the forked Python workers
    are not counted once per fork."""
    total = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def _tree_cpu_seconds(root_pid: int) -> float:
    """User + system CPU seconds of the process tree, including children it
    has reaped (their time is in the parent's cutime/cstime)."""
    ticks = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the process tree's PSS every RSS_INTERVAL_S on a thread while
    started."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)


def _commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10,
            # a checkout that is not a repository must not report an enclosing one
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(root)},
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_digest(root: str) -> str:
    """sha256 over the package sources, for checkouts that are not git repos."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "shacl_validator_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


# -- Spark session -------------------------------------------------------------


def start_session(log_dir: str | None):
    from shacl_validator_spark.session import get_spark

    extra = None
    if log_dir is not None:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            # Spark 4 rolls the log into a directory by default; one file is
            # what event_log_totals reads
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark(app_name="kgbench", master=MASTER, extra_conf=extra)


def shutdown(spark) -> None:
    """Stop the session, then the gateway JVM (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- the run -------------------------------------------------------------------


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(args, root: str, work: str) -> dict:
    from pyspark import SparkContext

    from metrics import END_TO_END, PER_LAYER
    from spans import Tracer, event_log_totals
    from workloads import WORKLOADS

    t_start = _process_start()
    wl = WORKLOADS[args.workload]
    traced_run = bool(args.trace)
    log_dir = os.path.join(work, "eventlog") if traced_run else None
    if log_dir:
        os.makedirs(log_dir)
    tracer = Tracer(lambda: SparkContext._active_spark_context)
    if traced_run:
        wl.instrument(tracer)

    ticks0, load0 = _cpu_ticks(), os.getloadavg()
    state = {"attempted": 0, "failed": 0}
    layer_rows: list[tuple[str, dict]] = []  # (job id, span/count values) of traced jobs
    job_times: list[float] = []  # every job in order: cold, then warm
    job_cpu: list[float] = []  # CPU seconds of the same jobs
    spark = None

    def one_job(k: int):
        """Run and check job k; returns its wall seconds, validated triples and
        CPU seconds, or None if it raised or failed a check."""
        out_dir = os.path.join(work, "jobs", str(k))
        job_id = f"j{k}"
        state["attempted"] += 1
        try:
            ctx = tracer.traced_job(job_id) if traced_run else nullcontext()
            cpu0, t = _tree_cpu_seconds(os.getpid()), time.perf_counter()
            with ctx:
                out = wl.job(spark, inputs, out_dir, tracer)
            dt = time.perf_counter() - t
            cpu = _tree_cpu_seconds(os.getpid()) - cpu0
            job_times.append(round(dt, 4))
            job_cpu.append(round(cpu, 2))
            problems = wl.check(spark, inputs, out, out_dir)
            if traced_run:
                values = wl.layer_values(spark, inputs, out, tracer, job_id)
                values["trace.overhead"] = tracer.own_s[job_id] / dt
                layer_rows.append((job_id, values))
            wl.release(out)
        except Exception:  # noqa: BLE001 — a failed job is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            state["failed"] += 1
            return None
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        if problems:
            print(f"job {k} failed its checks: {problems}", file=sys.stderr)
            state["failed"] += 1
            return None
        return dt, out.validated, cpu

    sampler = RssSampler()
    try:
        spark = start_session(log_dir)
        if traced_run:
            tracer.set_group("bench|setup")
        inputs = wl.setup(spark, os.path.join(work, "input"), args.seed)
        setup_s = time.time() - t_start
        setup_cpu_s = _tree_cpu_seconds(os.getpid())

        cold = one_job(0)
        cold_layers = list(layer_rows)
        layer_rows.clear()

        # warm jobs until --seconds have passed, whole jobs, at least the
        # minimum; only the traced run samples memory
        if traced_run:
            sampler.start()
        warm_s, validated, warm_cpu = [], [], []
        k, t_loop = 1, time.time()
        while k <= MAX_JOBS:
            r = one_job(k)
            if r is not None:
                warm_s.append(r[0])
                validated.append(r[1])
                warm_cpu.append(r[2])
            if k >= MIN_WARM_JOBS and time.time() - t_loop >= args.seconds:
                break
            k += 1
    finally:
        sampler.stop()
        if spark is not None:
            shutdown(spark)

    ticks1 = _cpu_ticks()
    steal = None
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        steal = 100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])

    job_s = _median(warm_s)
    job_cpu_s = _median(warm_cpu)
    wall = {
        "setup_s": setup_s,
        "cold_job_s": cold[0] if cold else 0.0,
        "job_s": job_s,
        "validated_triples_per_s": _median(validated) / job_s if job_s else 0.0,
    }
    if not traced_run:
        metrics = {
            "setup_s": wall["setup_s"],
            "cold_job_cpu_s": cold[2] if cold else 0.0,
            "job_cpu_s": job_cpu_s,
            "validated_triples_per_cpu_s": _median(validated) / job_cpu_s if job_cpu_s else 0.0,
            "ok_share": (state["attempted"] - state["failed"]) / state["attempted"],
        }
        units = {m.name: m.unit for m in END_TO_END}
    else:
        totals = event_log_totals(log_dir)
        per_job = []
        for job_id, values in layer_rows:
            v = dict(values)
            for name, (layer, key) in EVENT_METRICS.items():
                v[name] = totals.get(f"{job_id}|{layer}", {}).get(key, 0.0)
            for name, key in SPARK_TOTALS.items():
                v[name] = sum(
                    t.get(key, 0.0) for g, t in totals.items() if g and g.startswith(job_id + "|")
                )
            per_job.append(v)
        metrics = {}
        for m in PER_LAYER:
            metrics[m.name] = _median([v[m.name] for v in per_job if m.name in v])
        if cold_layers:
            metrics["compile.cold_s"] = cold_layers[0][1].get("compile.s", 0.0)
        metrics["peak_rss_mb"] = sampler.peak / 2**20
        metrics.update({k: v for k, v in wall.items() if k != "setup_s"})
        units = {m.name: m.unit for m in PER_LAYER}
        os.makedirs(os.path.join(work, "trace"), exist_ok=True)
        tracer.write(os.path.join(work, "trace", "spans.jsonl"))
        with open(os.path.join(work, "trace", "event_totals.json"), "w") as f:
            json.dump(totals, f, indent=1, sort_keys=True, default=str)
        shutil.rmtree(log_dir, ignore_errors=True)

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": MASTER,
        "nproc": len(os.sched_getaffinity(0)),
        "host_steal_pct": round(steal, 2) if steal is not None else None,
        "loadavg_start": [round(x, 2) for x in load0],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "commit": _commit(root),
        "source_sha256": _source_digest(root),
        "wall": {k: round(v, 4) for k, v in wall.items()},
        "setup_cpu_s": round(setup_cpu_s, 2),
        "job_s_each": job_times,
        "job_cpu_s_each": job_cpu,
        "warm_job_s": [round(x, 4) for x in warm_s],
        "wall_s": round(time.time() - t_start, 3),
    }
    if traced_run:
        meta["peak_pss_mb"] = round(sampler.peak / 2**20, 1)
    return {
        "correct": state["failed"] == 0,
        "attempted": state["attempted"],
        "failed": state["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        "meta": meta,
    }


def _terminate(signum, _frame):
    # unwind through run()'s finally, which stops the JVM and its workers
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl_kg", "catalog_shacl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    signal.signal(signal.SIGTERM, _terminate)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "shacl_validator_spark", "__init__.py")):
        print("kgbench: run from the root of a checkout that holds shacl_validator_spark/",
              file=sys.stderr)
        return 2
    # pid and start time: a run killed before its clean-up leaves its
    # directory behind, and a later run may get the same pid
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}-{time.time_ns()}"
    work = os.path.join(root, WORK_DIR, run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every scratch file inside the checkout: Spark's local dirs, Python
    # and JVM temp files; the Python workers import the package from the root
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, root)
    import tempfile

    tempfile.tempdir = tmp

    try:
        result = run(args, root, work)
    finally:
        # keep the spans; inputs, job outputs and Spark scratch go
        for name in os.listdir(work):
            if name != "trace":
                shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    meta = result.pop("meta")
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"meta": meta, **result}, f, indent=1)
    print(json.dumps({"kgbench_meta": meta}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
