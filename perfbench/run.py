#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one driver thread, one query at a
time, on ``local[3]``.

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. It writes the seeded inputs to a scratch
directory under ``.perfbench_work/``, starts ``worker.py`` in a fresh process
for the Spark side and drives it pass by pass: set-up and the cold pass,
the workload's untimed warm-up passes with a heap reading after the first, then
timed passes for ``--seconds``. It checks every result of every pass against
its DuckDB oracle twin and prints one JSON object as the last line of stdout.
With ``--trace 0`` the object holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a second, event-logged worker
that takes turns with the first pass by pass, and ``trace.overhead_frac``
compares each traced pass with the plain pass beside it. The lines before it
record the host and the per-query results.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import duckdb

from eventlog import COUNTERS, fold_file
from inputs import write_inputs
from worker import REPLY, _cpu_stat, _load_canon_df, _steal_frac, _stolen_share, digest
from workloads import TABLES, WARMUP_PASSES, WORKLOADS

CPUS = 3  # local[3]: one of the host's four vCPUs is left to the driver and the JIT
DRIVER_MEM = "1g"
MIN_TIMED = 3
RUN_BUDGET_S = 165  # every worker of a run must have exited by then
_HERE = os.path.dirname(os.path.abspath(__file__))
_PACKAGE = "savio_training_dask_2019_spark"


def _median(values) -> float:
    return float(statistics.median(values))


class Worker:
    """One ``worker.py`` process in its own process group, driven by one
    command per line on its stdin; see worker.py for the commands."""

    def __init__(
        self, workload: str, data: str, work: str, traced: bool, deadline: float
    ) -> None:
        tag = "traced" if traced else "plain"
        self.tag, self.deadline = tag, deadline
        self.log = os.path.join(work, f"{tag}.log")
        scratch = {d: os.path.join(work, tag, d) for d in ("tmp", "local", "warehouse", "events")}
        for path in scratch.values():
            os.makedirs(path, exist_ok=True)
        self.events = scratch["events"] if traced else None
        # -XX:-UsePerfData: no hsperfdata file outside the checkout.
        # -XX:TieredStopAtLevel=1: C1 only. Under C2 the driver JVM still
        # spends 1-3 CPU s a pass compiling after a minute, and how far each
        # process has got differs: runs of one seed settled up to 30 % apart.
        # C1 settles by the second pass (README.md, "JIT").
        confs = {
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={scratch['tmp']} -XX:-UsePerfData"
                f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"
            )
        }
        if traced:
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": scratch["events"],
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        submit = [arg for k, v in confs.items() for arg in ("--conf", f"{k}={v}")]
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(CPUS),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_GRAFT_WAREHOUSE=scratch["warehouse"],
            SPARK_LOCAL_DIRS=scratch["local"],
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
            TMPDIR=scratch["tmp"],
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        )
        cmd = [
            sys.executable, os.path.join(_HERE, "worker.py"),
            "--workload", workload, "--data", data,
            "--t0", repr(time.time()), "--stat0", json.dumps(_cpu_stat()),
        ]
        with open(self.log, "w", encoding="utf-8") as log_fh:
            self.proc = subprocess.Popen(
                cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log_fh,
                env=env, text=True, start_new_session=True,
            )
        self.replies: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith(REPLY):
                self.replies.put(json.loads(line[len(REPLY):]))
        self.replies.put(None)  # end of output: the worker has exited

    def reply(self) -> dict:
        try:
            message = self.replies.get(timeout=max(self.deadline - time.monotonic(), 0))
        except queue.Empty:
            message = None
        if message is None:
            with open(self.log, encoding="utf-8", errors="replace") as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise RuntimeError(f"{self.tag} worker died or ran past the run's budget")
        return message

    def call(self, command: str) -> dict:
        self.proc.stdin.write(command + "\n")
        self.proc.stdin.flush()
        return self.reply()

    def finish(self) -> dict:
        """Stop Spark in the worker; with tracing on, fold its event log."""
        result = self.call("finish")
        if self.events is not None:
            (name,) = os.listdir(self.events)
            result["events"] = fold_file(os.path.join(self.events, name))
        return result

    def stop(self) -> None:
        """Kill whatever is left of the worker's process group (the JVM and
        its Python workers) and wait until every member has exited."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline:
            try:
                os.killpg(self.proc.pid, 0)  # signal 0 only checks that the group exists
            except ProcessLookupError:
                return
            time.sleep(0.1)


def measure(workers: list[Worker], results: list[dict], warmup: int, seconds: int) -> None:
    """Warm-up and timed passes, the workers taking turns pass by pass, so
    that a traced pass and the plain pass beside it see the same host. The
    live heap is read on the first worker after its cold pass: the forced
    full GCs slow the next passes, and the warm-up absorbs that. Adds each
    worker's passes to its set-up reply in ``results``."""
    for r in results:
        r["warmup"], r["timed"] = [], []
    results[0]["live_heap_mb"] = workers[0].call("heap")["live_heap_mb"]
    for _ in range(warmup):
        for w, r in zip(workers, results):
            r["warmup"].append(w.call("pass"))
    stat0, t_block = _cpu_stat(), time.monotonic()
    # at least MIN_TIMED timed passes over all workers: a traced run, whose
    # two workers take twice as long a round, must also end within the budget
    while (
        len(results[0]["timed"]) * len(workers) < MIN_TIMED
        or time.monotonic() - t_block < seconds
    ):
        for w, r in zip(workers, results):
            r["timed"].append(w.call("pass"))
    for r in results:
        r["timed_s"] = time.monotonic() - t_block
        stat1 = _cpu_stat()
        r["steal_frac"] = _steal_frac(stat0, stat1)
        r["stolen_share"] = _stolen_share(stat0, stat1)
    for w, r in zip(workers, results):
        r.update(w.finish())


def oracle_digests(data: str, names, oracle_sql: dict) -> dict[str, tuple[int, str]]:
    canon_df = _load_canon_df()
    con = duckdb.connect()
    try:
        for table in os.listdir(data):
            view = table.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{data}/{table}')")
        return {n: digest(con.execute(oracle_sql[n]).df(), canon_df) for n in names if n in oracle_sql}
    finally:
        con.close()


def _passes(result: dict) -> list[dict]:
    return [result["cold"], *result["warmup"], *result["timed"]]


def check(result: dict, oracle: dict, names) -> list[str]:
    """One message per failed or wrong query execution, over every pass.
    Oracle-backed queries must match their DuckDB twin; rows-only queries
    must return rows, and the same rows as the cold pass."""
    problems = []
    cold = result["cold"]["queries"]
    for p in _passes(result):
        for name in names:
            got = p["queries"][name]
            if "error" in got:
                problems.append(f"pass {p['pass']} {name}: {got['error']}")
            elif name in oracle:
                if (got["rows"], got["digest"]) != tuple(oracle[name]):
                    problems.append(
                        f"pass {p['pass']} {name}: {got['rows']} rows differ from the "
                        f"oracle's {oracle[name][0]}"
                    )
            elif got["rows"] == 0 or got["digest"] != cold[name].get("digest"):
                problems.append(f"pass {p['pass']} {name}: rows-only result is empty or changed")
    return problems


def least_stolen(passes: list[dict]) -> list[dict]:
    """The half of the passes (at least two) during which the hypervisor stole
    the least CPU time. A pass under steal takes up to 2-3 times as long, and
    the steal comes and goes within a run, so the per-pass medians are taken
    over these passes only."""
    ranked = sorted(passes, key=lambda p: p["stolen_share"])
    return ranked[: max(2, (len(ranked) + 1) // 2)]


def unstolen(wall_s: float, stolen_share: float) -> float:
    """Wall time less the stolen share of it: the time the work would have
    taken had the hypervisor not held its threads back. README.md, "Steal"."""
    return wall_s * (1.0 - stolen_share)


def end_to_end(result: dict) -> dict[str, tuple[float, str]]:
    kept = least_stolen(result["timed"])
    return {
        "setup_s": (unstolen(result["setup_s"], result["setup_stolen_share"]), "s"),
        "warm_pass_s": (_median(unstolen(p["wall_s"], p["stolen_share"]) for p in kept), "s"),
        "cpu_pass_s": (_median(p["cpu_s"] for p in kept), "s"),
        "live_heap_mb": (result["live_heap_mb"], "MB"),
    }


def per_layer(plain: dict, traced: dict, names) -> dict[str, tuple[float, str]]:
    """The per-layer metrics of the traced worker: medians over its timed
    passes. Queries the workload does not run read 0."""
    timed = traced["timed"]
    events = traced["events"]

    def per_pass(fn) -> float:
        return _median(fn(p) for p in timed)

    def spent(key: str, queries):
        return lambda p: sum(p["queries"].get(q, {}).get(key, 0.0) for q in queries)

    def counter(key: str, queries) -> float:
        return per_pass(lambda p: sum(events.get((p["pass"], q), {}).get(key, 0.0) for q in queries))

    def plan_total(key: str) -> float:
        return float(sum(v[key] for v in traced["plans"].values()))

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (traced["session_start_s"], "s"),
        "sources.resolve_s": (traced["resolve_s"], "s"),
        "queries.build_s": (per_pass(spent("build_s", names)), "s"),
        "spark.collect_s": (per_pass(spent("collect_s", names)), "s"),
        "spark.jvm_cpu_s": (per_pass(lambda p: p["jvm_cpu_s"]), "s"),
        "spark.python_cpu_s": (per_pass(lambda p: p["python_cpu_s"]), "s"),
        "operators.persisted_rdds": (float(timed[-1]["persisted_rdds"]), "count"),
        "spark.codegen_classes": (per_pass(lambda p: p["codegen_classes"]), "count"),
    }
    for key, unit in COUNTERS.items():
        m[f"spark.{key}"] = (counter(key, names), unit)
    m["plans.shuffles"] = (plan_total("shuffles"), "count")
    m["plans.broadcast_joins"] = (plan_total("broadcast_joins"), "count")
    # each traced pass against the plain pass run just before it
    pairs = zip(plain["timed"], timed)
    m["trace.overhead_frac"] = (_median(t["wall_s"] / p["wall_s"] for p, t in pairs) - 1.0, "fraction")
    for name in sorted({q for qs in WORKLOADS.values() for q in qs}):
        m[f"queries.build_s.{name}"] = (per_pass(spent("build_s", [name])), "s")
        m[f"spark.collect_s.{name}"] = (per_pass(spent("collect_s", [name])), "s")
        m[f"spark.tasks.{name}"] = (counter("tasks", [name]), "count")
        m[f"spark.stages_1task_shuffle.{name}"] = (counter("stages_1task_shuffle", [name]), "count")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through the finally blocks, which stop the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    needed = (_PACKAGE, os.path.join("scripts", "check_correctness.py"))
    missing = [p for p in needed if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"run.py: run from the root of a checkout; missing {missing}", file=sys.stderr)
        return 2

    names = WORKLOADS[args.workload]
    load1 = os.getloadavg()[0]
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    deadline = time.monotonic() + RUN_BUDGET_S
    workers: list[Worker] = []
    try:
        write_inputs(data, args.seed, TABLES[args.workload])
        runs = []
        for traced in (False, True)[: 1 + args.trace]:  # set-ups run one at a time
            workers.append(Worker(args.workload, data, work, traced, deadline))
            runs.append(workers[-1].reply())
        measure(workers, runs, WARMUP_PASSES[args.workload], args.seconds)
        oracle = oracle_digests(data, names, runs[0]["oracle_sql"])
    finally:
        for w in workers:
            w.stop()
        shutil.rmtree(work, ignore_errors=True)

    problems = [msg for r in runs for msg in check(r, oracle, names)]
    attempted = sum(len(p["queries"]) for r in runs for p in _passes(r))
    for msg in problems:
        print("FAIL", msg)
    plain = runs[0]
    host = {
        "nproc": os.cpu_count(),
        "master": f"local[{CPUS}]",
        "load1": round(load1, 2),
        "steal_frac": round(plain["steal_frac"], 4),
        "stolen_share": round(plain["stolen_share"], 4),
        "seed": args.seed,
        "passes": {"cold": 1, "warmup": len(plain["warmup"]), "timed": len(plain["timed"])},
        "timed_s": round(plain["timed_s"], 2),
        "setup_wall_s": round(plain["setup_s"], 3),
        "setup_stolen_share": round(plain["setup_stolen_share"], 4),
        "warmup_pass_s": [[round(p["wall_s"], 3) for p in r["warmup"]] for r in runs],
        "pass_s": [[round(p["wall_s"], 3) for p in r["timed"]] for r in runs],
        "pass_steal_frac": [[round(p["steal_frac"], 3) for p in r["timed"]] for r in runs],
        "pass_stolen_share": [[round(p["stolen_share"], 3) for p in r["timed"]] for r in runs],
        "pass_codegen_classes": [[p["codegen_classes"] for p in r["timed"]] for r in runs],
        "error_rate": len(problems) / attempted,
    }
    print("host", json.dumps(host))
    metrics = per_layer(plain, runs[1], names) if args.trace else end_to_end(plain)
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:14.4f} {unit}")
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": attempted,
                "failed": len(problems),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
