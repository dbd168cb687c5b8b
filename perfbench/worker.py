"""One Spark driver process of a benchmark run, driven pass by pass.

Started by ``run.py`` from the root of a checkout. It sets up (``get_spark()``,
``load_table`` for the workload's tables, then the cold pass), prints a
``ready`` reply, and then obeys one command per line on stdin:

- ``pass``: run every query of the workload once, one at a time, timing the
  DataFrame build and the ``collect()`` separately;
- ``heap``: drain the listener bus, force full GCs and read the JVM heap
  still in use;
- ``finish``: count the shuffles and broadcast joins in the plans of the last
  pass's DataFrames, stop Spark and exit.

Each reply is one line of JSON on stdout after the ``@perfbench`` prefix; other
lines on stdout are not replies. ``setup_s`` runs from the moment ``run.py``
started this process (``--t0``) until the cold pass's results are collected.
After each pass the worker does what ``bench._time_one`` does after a query:
``spark.catalog.clearCache()`` and ``vectorops.invalidate_cached_indexes()``.
Result digests are computed outside the timed region.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import importlib.util
import json
import os
import sys
import time

import pandas as pd

from workloads import TABLES, WORKLOADS

GC_ROUNDS = 3
PY4J_RELEASE_S = 2.0
REPLY = "@perfbench "
_TICK = float(os.sysconf("SC_CLK_TCK"))


def _proc_table() -> dict[int, tuple[int, str, float, float]]:
    """pid -> (ppid, comm, own CPU s, reaped-children CPU s) from /proc."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we looked
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        f = stat[stat.rindex(")") + 2 :].split()
        table[int(entry)] = (
            int(f[1]),
            comm,
            (int(f[11]) + int(f[12])) / _TICK,
            (int(f[13]) + int(f[14])) / _TICK,
        )
    return table


def _descendants(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> dict[str, float]:
    """CPU seconds used so far by this process tree, split into the driver
    JVM and the Python workers under it. Reaped processes still count: their
    time moves into their parent's cutime/cstime."""
    table = _proc_table()
    tree = _descendants(table, os.getpid())
    total = sum(table[p][2] + table[p][3] for p in tree if p in table)
    jvm = next((p for p in tree if table.get(p, (0, ""))[1] == "java"), None)
    if jvm is None:
        return {"total": total, "jvm": 0.0, "python": 0.0}
    workers = [p for p in _descendants(table, jvm) if p != jvm]
    python = table[jvm][3] + sum(table[p][2] + table[p][3] for p in workers if p in table)
    return {"total": total, "jvm": table[jvm][2], "python": python}


def _cpu_stat() -> tuple[int, int, int]:
    """(steal, busy, total) jiffies of all CPUs from /proc/stat; busy is
    user, nice, system, irq and softirq time."""
    with open("/proc/stat", encoding="ascii") as fh:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(v) for v in fh.readline().split()[1:9]
        )
    busy = user + nice + system + irq + softirq
    return steal, busy, busy + idle + iowait + steal


def _steal_frac(before: tuple[int, int, int], after: tuple[int, int, int]) -> float:
    """Share of all CPU time the hypervisor stole between two readings."""
    return (after[0] - before[0]) / max(after[2] - before[2], 1)


def _stolen_share(before: tuple[int, int, int], after: tuple[int, int, int]) -> float:
    """Share of the CPU time the VM's threads were ready to use that the
    hypervisor stole between two readings: steal / (busy + steal). An idle
    vCPU is not stolen from, so at 10 % ``steal_frac`` on four vCPUs of
    which two are busy, the work loses about a sixth of its CPU time."""
    steal, busy = after[0] - before[0], after[1] - before[1]
    return steal / max(steal + busy, 1)


def _live_heap_mb(spark) -> float:
    """Driver heap in use after forced full GCs. Python's cycle collector
    runs first: a JVM object stays reachable until the Python proxy that
    holds it is collected, and when that happens otherwise depends on
    allocation counts, not on passes; without it the reading took one of
    two values 15-20 MB apart. Events still queued on the listener bus
    are drained next. Spark's ContextCleaner frees shuffle, broadcast and
    checkpoint state only after a GC has cleared the references to it, and
    asynchronously, so GC, wait, and GC again before reading."""
    gc.collect()
    # py4j sends the releases of collected proxies from a thread that polls
    # its queue once a second; a release that lands after the GCs below
    # would leave its objects in the reading
    time.sleep(PY4J_RELEASE_S)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jvm = spark._jvm
    for _ in range(GC_ROUNDS):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    runtime = jvm.java.lang.Runtime.getRuntime()
    return (runtime.totalMemory() - runtime.freeMemory()) / (1024.0 * 1024.0)


def _load_canon_df():
    """``canon_df`` from scripts/check_correctness.py: the canonical form the
    correctness gate compares, so the benchmark checks results the same way."""
    path = os.path.join(os.getcwd(), "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.canon_df


def digest(frame: pd.DataFrame, canon_df) -> tuple[int, str]:
    """(rows, sha256) of a result in the correctness gate's canonical form."""
    canon = canon_df(frame)
    blob = repr((sorted(frame.columns), canon)).encode()
    return len(canon), hashlib.sha256(blob).hexdigest()


def reply(message: dict) -> None:
    sys.stdout.write(REPLY + json.dumps(message) + "\n")
    sys.stdout.flush()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch seconds at spawn")
    ap.add_argument("--stat0", required=True, help="_cpu_stat() at spawn, as JSON")
    args = ap.parse_args()
    names = WORKLOADS[args.workload]

    sys.path.insert(0, os.getcwd())
    from savio_training_dask_2019_spark import plans as plan_tools
    from savio_training_dask_2019_spark import queries as catalog
    from savio_training_dask_2019_spark.queries import vectorops
    from savio_training_dask_2019_spark.session import get_spark
    from savio_training_dask_2019_spark.sources import load_table

    t = time.perf_counter()
    spark = get_spark()
    session_start_s = time.perf_counter() - t
    sc = spark.sparkContext
    listener_bus = sc._jsc.sc().listenerBus()
    # one count per class Spark compiles from generated code; a cache hit
    # compiles nothing
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    t = time.perf_counter()
    for table in TABLES[args.workload]:
        load_table(spark, args.data, table)
    resolve_s = time.perf_counter() - t

    canon_df = None
    last_frames: dict = {}

    def run_pass(index: int) -> dict:
        nonlocal canon_df
        last_frames.clear()
        classes0 = codegen.getCount()
        cpu0, stat0, t_pass = cpu_seconds(), _cpu_stat(), time.perf_counter()
        per_query, results = {}, {}
        for name in names:
            row = per_query[name] = {}
            try:
                sc.setJobGroup(f"{args.workload}/{name}/build", f"pass={index}")
                t0 = time.perf_counter()
                frame = catalog.QUERIES[name](spark, args.data)
                t1 = time.perf_counter()
                sc.setJobGroup(f"{args.workload}/{name}/collect", f"pass={index}")
                rows = frame.collect()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
                row["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
                continue
            row["build_s"], row["collect_s"] = t1 - t0, t2 - t1
            results[name] = (rows, frame.columns)
            last_frames[name] = frame
        # a pass ends when Spark's listeners (the event log among them) have
        # taken in its events, so no pass leaves work behind for the next one
        listener_bus.waitUntilEmpty()
        wall = time.perf_counter() - t_pass
        cpu1, stat1 = cpu_seconds(), _cpu_stat()
        end = time.time()
        classes = codegen.getCount() - classes0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.catalog.clearCache()
        vectorops.invalidate_cached_indexes()
        if canon_df is None:  # loaded after the cold pass's clock stops
            canon_df = _load_canon_df()
        for name, (rows, columns) in results.items():
            frame = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
            per_query[name]["rows"], per_query[name]["digest"] = digest(frame, canon_df)
        return {
            "pass": index,
            "end": end,
            "wall_s": wall,
            "steal_frac": _steal_frac(stat0, stat1),
            "stolen_share": _stolen_share(stat0, stat1),
            "stat": stat1,
            "cpu_s": cpu1["total"] - cpu0["total"],
            "jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"],
            "python_cpu_s": cpu1["python"] - cpu0["python"],
            "persisted_rdds": sc._jsc.getPersistentRDDs().size(),
            "codegen_classes": classes,
            "queries": per_query,
        }

    cold = run_pass(0)
    reply(
        {
            "setup_s": cold["end"] - args.t0,
            "setup_stolen_share": _stolen_share(json.loads(args.stat0), cold["stat"]),
            "session_start_s": session_start_s,
            "resolve_s": resolve_s,
            "cold": cold,
            "oracle_sql": {n: catalog.ORACLE[n] for n in names if n in catalog.ORACLE},
        }
    )
    passes = 1
    for line in sys.stdin:
        command = line.strip()
        if command == "pass":
            reply(run_pass(passes))
            passes += 1
        elif command == "heap":
            reply({"live_heap_mb": _live_heap_mb(spark)})
        elif command == "finish":
            # explain runs no job
            plans = {
                name: {
                    "shuffles": plan_tools.shuffle_count(frame),
                    "broadcast_joins": plan_tools.broadcast_join_count(frame),
                }
                for name, frame in last_frames.items()
            }
            spark.stop()
            reply({"plans": plans})
            return
        else:
            raise SystemExit(f"worker.py: unknown command {command!r}")


if __name__ == "__main__":
    main()
