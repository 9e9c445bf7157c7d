"""Benchmark entry point.

    python3 perfbench/run.py --workload {warehouse,corpus} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Each run gets a fresh directory under
``.bench_build/perfbench/`` for its generated tables, the ETL stores,
Spark's scratch files and the event log; it is deleted at the end, so
no run depends on another and none touches a committed file.

``setup_s`` is the time from the start of the workload process until
its session is up. The process then runs one cold pass over the ops
and steady passes until ``--seconds`` is used up, and checks every
output. With
``--trace 1`` Spark's event log is on and the per-layer metrics are
reported instead of the end-to-end ones.

Every metric is printed as ``metric <name> <value> <unit>``; the last
line is the JSON result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import workloads  # noqa: E402

SCALE = 0.01
RUN_LIMIT_S = 170  # the whole run, table generation included
# The JSON result's end-to-end metrics: those every workload has and that
# repeat from run to run. cold_s and peak_rss_mb are printed but left out
# of it (see README.md).
END_TO_END = ["setup_s", "warm_s", "op_p50_s", "op_tail_s"]
PRINTED = ["cold_s", "peak_rss_mb"]
PER_LAYER = ["session.get_spark_s", "registry.import_s", "catalog.load_table_s",
             "trace.warm_s", *(f"ops.{k}" for k in eventlog.FAMILY_METRICS)]


def unit(name: str) -> str:
    """Units follow from metric names: ``*_s`` seconds, ``*_bytes`` bytes,
    ``*_mb`` megabytes, job, task and file counts, anything else a ratio."""
    for suffix, u in (("_s", "s"), ("_bytes", "B"), ("_mb", "MB"), ("_jobs", "count"),
                      ("tasks", "count"), ("_files", "count")):
        if name.endswith(suffix):
            return u
    return "ratio"


def source_sha() -> str:
    """Content hash of the program's sources: the checkout the benchmark
    runs in need not be a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "etl_project_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def run_worker(args, run_dir: str, env: dict, deadline: float):
    """Generate the tables, run the workload process and time its set-up;
    returns (set-up seconds, result, folded trace). A watchdog kills the
    process group (the JVM and its Python workers too) at the run's
    deadline."""
    import corpus

    data_dir = os.path.join(run_dir, "data")
    corpus.generate(data_dir, SCALE)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir, "--data-dir", data_dir]
    setup_s = None
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        start = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        watchdog = threading.Timer(max(0.0, deadline - time.monotonic()), _kill, [proc])
        watchdog.start()
        try:
            for line in proc.stdout:
                if setup_s is None and line.strip() == "READY":
                    setup_s = time.perf_counter() - start
                else:
                    print(line.rstrip(), flush=True)
            proc.wait()
        finally:
            watchdog.cancel()
            _kill(proc)
            proc.wait()
    result_path = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or setup_s is None or not os.path.exists(result_path):
        raise RuntimeError(f"workload process failed with code {proc.returncode}")
    with open(result_path) as f:
        res = json.load(f)
    folded = {}
    if args.trace:
        folded = eventlog.fold(os.path.join(run_dir, "eventlog"), res)
    return setup_s, res, folded


def _kill(proc) -> None:
    """Kill the worker's whole process group: the JVM it launched and the
    JVM's Python workers outlive it otherwise."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "etl_project_spark", "session.py")):
        print(f"no etl_project_spark package under {ROOT}", file=sys.stderr)
        return 2

    deadline = time.monotonic() + RUN_LIMIT_S
    load_start = os.getloadavg()
    run_dir = os.path.join(ROOT, ".bench_build", "perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    for d in ("data", "tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        # Python workers unpickle operator code, so they need the package
        # importable whatever their working directory is.
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # keep the JVM's temp files and perf-data file out of /tmp
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            env.get("JAVA_TOOL_OPTIONS"),
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"), "-XX:-UsePerfData"])),
    })
    try:
        setup_s, res, folded = run_worker(args, run_dir, env, deadline)
    except RuntimeError as exc:
        log = os.path.join(run_dir, "worker.log")
        if os.path.exists(log):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
        print(f"run failed: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = {"setup_s": setup_s}
    e2e.update({k: res[k] for k in END_TO_END + PRINTED if k != "setup_s"})
    e2e.update(res["workload_metrics"])
    e2e["error_rate"] = res["failed"] / res["attempted"]
    doc = workloads.WORKLOADS[args.workload].__doc__
    identity = {
        "commit": git_commit(), "source_sha": source_sha(), "nproc": nproc,
        "master": res["master"], "default_parallelism": res["default_parallelism"],
        "seed": args.seed, "workload": args.workload, "traced": bool(args.trace),
        "why": " ".join(doc.split()),
        "scale_factor": SCALE, "loadavg_start": load_start[0],
        "loadavg_end": os.getloadavg()[0],
        **res["identity"],
    }
    print("identity " + json.dumps(identity), flush=True)
    for name, value in e2e.items():
        print(f"metric {name} {value:.6f} {unit(name)}")
    for failure in res["check_failures"]:
        print(f"check failed: {failure}")

    if args.trace:
        layer = {**res["layer"], **folded, "trace.warm_s": res["warm_s"]}
        for name in sorted(layer):
            print(f"layer {name} {layer[name]:.6f} {unit(name)}")
        metrics = {k: {"value": layer[k], "unit": unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": unit(k)} for k in END_TO_END}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
