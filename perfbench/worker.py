"""One benchmark process: set up a session, run one workload, check it.

``run.py`` starts this file in a fresh interpreter and times it from
process start to the ``READY`` line, which is printed once the session
is up and ``registry.all_queries()`` has been imported. The process
then runs a cold pass and steady passes over the workload's ops, checks
every output outside the timed region, and writes ``result.json`` into
the run directory.

Every call into a layer of the program is timed from here, and every
Spark job is labelled ``<workload>:<op>:<phase>`` so that a traced run's
event log can be folded per op and phase (see ``eventlog.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

import checks
import workloads

T0 = time.perf_counter()


def _now() -> float:
    return time.perf_counter() - T0


class Recorder:
    """Per-op spans of one run: (op, phase, pass, start, end) in epoch
    seconds, so that they line up with the event log's job times."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []

    def timed(self, op: str, phase: str, pass_no: int, fn, *args):
        self.sc.setJobGroup(f"{self.workload}:{op}:{phase}", phase, False)
        start = time.time()
        try:
            return fn(*args)
        finally:
            end = time.time()
            self.spans.append(
                {"op": op, "phase": phase, "pass": pass_no, "start": start, "end": end}
            )


def peak_rss_mb(root_pid: int) -> dict[str, float]:
    """VmHWM in MB of ``root_pid`` and all its descendants, by command:
    this interpreter, the driver JVM it launched and the Python workers
    the JVM forked. Read from /proc because the JVM is never reaped, so
    ``getrusage(RUSAGE_CHILDREN)`` does not see it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    by_cmd: dict[str, float] = {}
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            by_cmd[name] = by_cmd.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return by_cmd


def setup(trace: bool, run_dir: str):
    """The measured set-up: session up and registry imported."""
    from etl_project_spark.session import get_spark

    extra = None
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        }
    t = _now()
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    get_spark_s = _now() - t
    t = _now()
    from etl_project_spark import registry

    queries = registry.all_queries()
    import_s = _now() - t
    print("READY", flush=True)
    return spark, queries, {"session.get_spark_s": get_spark_s, "registry.import_s": import_s}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--data-dir", required=True)
    args = ap.parse_args()

    spark, queries, layer = setup(bool(args.trace), args.run_dir)
    t_ready = _now()
    spark.sparkContext.setLogLevel("ERROR")
    from etl_project_spark import catalog

    t = _now()
    for name in catalog.TABLES:
        catalog.load_table(spark, args.data_dir, name)
    layer["catalog.load_table_s"] = _now() - t

    wl = workloads.WORKLOADS[args.workload](
        spark, queries, args.data_dir, args.run_dir, random.Random(args.seed)
    )
    rec = Recorder(spark, args.workload)
    passes = [wl.run_pass(rec, 0)]
    warm_start = time.perf_counter()
    while len(passes) == 1 or time.perf_counter() - warm_start < args.seconds:
        passes.append(wl.run_pass(rec, len(passes)))

    failures = sum(p["failed"] for p in passes)
    attempted = sum(p["attempted"] for p in passes)
    t_check = _now()
    outputs = wl.collect_outputs(rec, len(passes))
    check_failures = wl.check_store()
    rss = peak_rss_mb(os.getpid())
    result = {
        "workload": args.workload,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }
    spark.stop()
    t_oracle = _now()
    check_failures += checks.check_outputs(outputs, args.data_dir)
    failed_ops = {f.split(":", 1)[0] for f in check_failures}
    failures += len(failed_ops)

    warm = passes[1:]
    wl_metrics, wl_layer, wl_identity = wl.summary(warm)
    op_times = [list(p["op_seconds"].values()) for p in warm]
    result.update(
        {
            "attempted": attempted,
            "failed": failures,
            "check_failures": check_failures,
            "passes": len(passes),
            "cold_s": passes[0]["seconds"],
            "warm_s": statistics.median(p["seconds"] for p in warm),
            "op_p50_s": statistics.median(
                s for p in warm for op, s in p["op_seconds"].items() if op in wl.ops),
            "op_tail_s": workloads.slowest_per_pass(op_times),
            "peak_rss_mb": sum(rss.values()),
            "workload_metrics": wl_metrics,
            "layer": {**layer, **wl_layer},
            "spans": rec.spans,
            "families": wl.families,
            "identity": {
                "pass_seconds": [p["seconds"] for p in passes],
                "op_seconds_by_pass": [p["op_seconds"] for p in passes],
                "op_samples": sum(map(len, op_times)),
                "peak_rss_by_command_mb": rss,
                "worker_timeline_s": {"ready": t_ready, "passes_end": t_check,
                                      "spark_stopped": t_oracle, "end": _now()},
                **wl_identity,
            },
        }
    )
    with open(os.path.join(args.run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
