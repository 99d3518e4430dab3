"""Split each benchmark request's CPU by thread class.

    python tools/cpu_split.py <tree> --workload <name> --seed <n> [--seconds <s>]

Runs ``<tree>/perfbench/run.py`` in this process (``--trace 0``) on the
code of ``<tree>``, unchanged. Around every request, where ``run.py``
reads the process-tree CPU, it also reads ``/proc/<jvm>/task/*/stat``
and splits the driver JVM's CPU by thread name into ``jit_c1``,
``jit_c2``, ``task`` (Spark task threads), ``gc`` and ``other``.

HotSpot starts and stops compiler threads while it runs, and a thread
that exits takes its CPU counter with it. So a class only counts the
threads alive at the end of the request, and the CPU of threads that
exited during it is reported as ``exited``: the JVM's process total
minus the live threads. No class can go negative. ``python_driver`` is
this process; ``python_workers`` is the rest of the tree (the Python
daemon and workers, reaped ones included).

Output: ``run.py``'s own two lines, then one JSON line per request
(``"cpu_split"``) and, last, the median of each class over the timed
requests (``"cpu_split_median"``).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import sys
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
CLASSES = ("jit_c1", "jit_c2", "task", "gc", "other", "exited", "python_driver", "python_workers")


def thread_class(comm: str) -> str:
    """Class of a JVM thread by its (15-character) kernel name."""
    if comm.startswith("C1 CompilerThre"):
        return "jit_c1"
    if comm.startswith("C2 CompilerThre"):
        return "jit_c2"
    if comm.startswith("Executor task l"):
        return "task"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "other"


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        head, rest = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def jvm_snapshot(pid: int) -> tuple[dict, int]:
    """({(tid, start): (class, ticks)} of the live threads, process
    ticks). Threads are read before the process total, so the total
    never falls short of the threads it contains."""
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            comm, f = _stat(f"/proc/{pid}/task/{tid}/stat")
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listing and reading
        # (tid, start time) keys a thread even if its tid is reused
        threads[(tid, f[19])] = (thread_class(comm), int(f[11]) + int(f[12]))
    _, f = _stat(f"/proc/{pid}/stat")
    return threads, int(f[11]) + int(f[12])


def split(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds per class between two snapshots of one request."""
    t0, t1 = before["threads"], after["threads"]
    out = dict.fromkeys(CLASSES, 0)
    live = 0
    for key, (cls, ticks) in t1.items():
        d = ticks - t0.get(key, (cls, 0))[1]
        out[cls] += d
        live += d
    out["exited"] = max(0, after["jvm"] - before["jvm"] - live)
    secs = {k: v / CLK_TCK for k, v in out.items()}
    secs["python_driver"] = after["py"] - before["py"]
    jvm_s = (after["jvm"] - before["jvm"]) / CLK_TCK
    # reads are not atomic: a tick of skew must not show as negative
    secs["python_workers"] = max(0.0, after["tree"] - before["tree"] - jvm_s - secs["python_driver"])
    return secs


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("tree", help="checkout whose perfbench/run.py and program are run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    args = ap.parse_args(argv)

    tree = os.path.abspath(args.tree)
    sys.path.insert(0, tree)
    spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(tree, "perfbench", "run.py"))
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    state = {"pass": -1, "open": None}
    records: list[dict] = []
    run_body = run.run

    def patched_run(run_args, work):
        # imported here, as run.py does: after it has pointed Python's
        # and Spark's scratch into the work directory
        from perfbench import trace, workloads

        tree_cpu_s = trace.tree_cpu_s

        def traced_tree_cpu_s(pid: int) -> float:
            # run.py reads the tree CPU right before and right after
            # each request, so calls alternate between opening and
            # closing one
            threads, jvm = jvm_snapshot(pid)
            snap = {"threads": threads, "jvm": jvm, "py": time.process_time()}
            snap["tree"] = tree_cpu_s(pid)
            if state["open"] is None:
                state["open"] = snap
                return snap["tree"]
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            records.append(
                {
                    "group": sc.getLocalProperty("spark.jobGroup.id"),
                    "name": sc.getLocalProperty("spark.job.description"),
                    "pass": state["pass"],
                    "cpu": snap["tree"] - state["open"]["tree"],
                    "split": split(state["open"], snap),
                }
            )
            state["open"] = None
            return snap["tree"]

        make = workloads.WORKLOADS.get(run_args.workload)
        if make is None:
            return run_body(run_args, work)  # run.py reports the name

        def counted(seed):
            wl = make(seed)
            passes = wl.passes

            def numbered():
                for batch in passes():
                    state["pass"] += 1
                    yield batch

            wl.passes = numbered
            return wl

        trace.tree_cpu_s = traced_tree_cpu_s
        workloads.WORKLOADS[run_args.workload] = counted
        return run_body(run_args, work)

    run.run = patched_run
    rc = run.main(
        ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    )
    for r in records:
        r["split"] = {k: round(v, 2) for k, v in r["split"].items()}
        print(json.dumps({"cpu_split": {**r, "cpu": round(r["cpu"], 2)}}))
    timed = [r for r in records if r["pass"] > 0]
    if timed:
        median = {k: round(statistics.median(r["split"][k] for r in timed), 2) for k in CLASSES}
        median["cpu"] = round(statistics.median(r["cpu"] for r in timed), 2)
        print(json.dumps({"cpu_split_median": {"workload": args.workload, "seed": args.seed, "tree": tree, **median}}))
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
