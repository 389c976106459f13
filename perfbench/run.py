"""PageRank engine benchmark: one seeded workload, end to end or traced.

    python3 perfbench/run.py --workload snap_s1_load --seed 1 --seconds 5 --trace 0

Run from the repository root.  The run generates the workload's inputs
from ``--seed`` (``workloads.py``), then starts ``SPAWNS`` fresh worker
processes one after another (``worker.py``), each a new Spark session at
``local[nproc / 2]`` with a driver heap sized from the machine, and times each
from spawn to its first finished job (``setup_s``).  The first worker
also runs the workload: ``worker.WARMUP`` warm-up iterations, which pay
the JVM's just-in-time compilation and Spark's code generation and are
checked but not reported, then iterations for ``--seconds`` seconds and
at least ``worker.MIN_MEASURED`` of them.  Outputs are checked against the
numpy oracle (``oracle.py``) outside all timing; a failed check counts in
``failed`` and never aborts the run.

``--trace 0`` reports the end-to-end metrics: set-up wall time, and the
CPU time of the untraced iterations' loading, supersteps and whole run
(``worker.CpuClock``), which other tenants of a shared host do not
inflate the way they inflate wall time.  A traced run starts only the
measuring worker.  ``--trace 1`` alternates untraced iterations with
traced ones, in which every call is tagged with a Spark job group, and
reports per-layer stage metrics, the untraced iterations' wall times
and the tracing overhead (traced minus untraced wall time).
The metric names, and which end-to-end metric each layer metric should
move, are in ``perfbench/LAYERS.md``.  The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import platform
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

import oracle
from workloads import WORKLOADS, Workload, dedup_weighted, make_edges, snap_text

HERE = Path(__file__).resolve().parent
SPAWNS = 3  # fresh processes per run: the set-up sample count
RUN_DEADLINE_S = 170.0  # the whole run, spawns included
JVM_EXIT_WAIT_S = 30.0
PREFIX = "PERFBENCH "

END_TO_END = {
    "setup_s": "s",
    "load_cpu_s": "s",
    "solve_cpu_s": "s",
    "superstep_cpu_p50_s": "s",
    "edges_per_cpu_s": "1/s",
    "run_cpu_s": "s",
}
# The wall-time forms of the end-to-end metrics, reported with the
# per-layer ones from the untraced iterations of a traced run.
WALL = {
    "wall.load_s": "s",
    "wall.solve_s": "s",
    "wall.superstep_p50_s": "s",
    "wall.edges_per_s": "1/s",
    "wall.run_s": "s",
}
PER_LAYER = {
    **WALL,
    "edgelist.lines_total": "count",
    "edgelist.lines_rejected": "count",
    "edgelist.input_mb": "MB",
    "edgelist.scan_run_s": "s",
    "builder.wall_s": "s",
    "builder.run_s": "s",
    "builder.shuffle_write_mb": "MB",
    "builder.spill_mb": "MB",
    "builder.gc_s": "s",
    "builder.cache_mb": "MB",
    "builder.dedup_kept_frac": "fraction",
    "builder.jobs": "count",
    "pagerank.init_s": "s",
    "pagerank.hub_count": "count",
    "superstep.count": "count",
    "superstep.plan_s": "s",
    "superstep.compute_s": "s",
    "superstep.stats_s": "s",
    "superstep.first_s": "s",
    "superstep.tail_s": "s",
    "superstep.jobs": "count",
    "superstep.tasks": "count",
    "superstep.run_s": "s",
    "superstep.shuffle_write_mb": "MB",
    "superstep.shuffle_read_mb": "MB",
    "superstep.spill_mb": "MB",
    "superstep.gc_s": "s",
    "superstep.mass_drift": "fraction",
    "variant.pagerank_s": "s",
    "variant.personalized_s": "s",
    "variant.weighted_s": "s",
    "sinks.wall_s": "s",
    "sinks.written_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.unattributed_stages": "count",
}


class BenchError(RuntimeError):
    """The benchmark itself could not run (as opposed to a failed check)."""


def host_probe() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    mem_mb = mem_kb // 1024
    # A quarter of the machine, at most 8 GiB: room for the OS page cache
    # and the Python side, and the same heap on any host of 32 GiB or more.
    driver_mb = max(1024, min(8192, mem_mb // 4))
    return {
        "nproc": cpus,
        # Half the cores run Spark tasks; the rest keep the Python driver
        # and the JVM's compiler and collector threads off the tasks' cores.
        # The shuffles keep one partition per core, the count the "auto"
        # hub split of hub_variants is sized against.
        "spark_threads": max(1, cpus // 2),
        "shuffle_partitions": cpus,
        "mem_total_mb": mem_mb,
        "driver_memory": f"{driver_mb}m",
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def steal_s() -> float:
    """CPU time the hypervisor has taken from the machine running the
    benchmark since boot: steal grows when other tenants contend for the
    host's cores."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def make_inputs(w: Workload, seed: int, work: Path) -> dict:
    """Write the workload's inputs under ``work``; return what the checks
    need (the oracle's edges and the planted line counts)."""
    edges = make_edges(w, seed)
    if w.name == "snap_s1_load":
        text, counts = snap_text(w, edges, seed)
        path = work / "edges.txt"
        path.write_text(text)
        return {"path": str(path), "edges": edges, "lines": counts}
    wsrc, wdst, wt = dedup_weighted(edges["src"], edges["dst"])
    path = work / "edges.npz"
    np.savez(
        path,
        src=edges["src"],
        dst=edges["dst"],
        wsrc=wsrc,
        wdst=wdst,
        w=wt,
        personal=edges["personal"],
    )
    return {"path": str(path), "edges": edges, "weighted": (wsrc, wdst, wt)}


def _ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return any(line.startswith("State:") and "Z" in line.split()[1] for line in fh)
    except FileNotFoundError:
        return True


def _stop(proc: subprocess.Popen, jvm_pid: int | None) -> None:
    """Wait for the worker and its JVM to end; kill them if they do not."""
    try:
        proc.wait(timeout=JVM_EXIT_WAIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    if jvm_pid is None:
        return
    until = time.monotonic() + JVM_EXIT_WAIT_S
    while not _ended(jvm_pid) and time.monotonic() < until:
        time.sleep(0.05)
    if not _ended(jvm_pid):
        os.kill(jvm_pid, signal.SIGKILL)
        while not _ended(jvm_pid):
            time.sleep(0.05)


def spawn(spec: dict, env: dict, log, deadline: float) -> tuple[float, dict, dict | None]:
    """Run one worker; return (setup seconds, ready event, done event or
    None if the worker died after becoming ready)."""
    t0 = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"), json.dumps(spec)],
        stdout=subprocess.PIPE,
        stderr=log,
        env=env,
        cwd=spec["work"],
        text=True,
        start_new_session=True,
    )
    ready = done = None
    setup = 0.0
    try:
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise BenchError("run deadline passed")
            if not select.select([proc.stdout], [], [], left)[0]:
                continue
            line = proc.stdout.readline()
            if not line:
                break
            if not line.startswith(PREFIX):
                continue
            event = json.loads(line[len(PREFIX):])
            if event["event"] == "ready":
                setup, ready = time.monotonic() - t0, event
                if not spec["measure"]:
                    break
            elif event["event"] == "done":
                done = event
                break
    finally:
        # Once it has reported, a worker has nothing left to do but stop
        # its session; killing it saves that time.
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)
        _stop(proc, ready["jvm_pid"] if ready else None)
    if ready is None:
        raise BenchError(f"worker exited with code {proc.returncode} before its session was ready")
    return setup, ready, done


def read_scores(out: str) -> tuple[np.ndarray, np.ndarray]:
    parts = sorted(glob.glob(f"{out}/part-*"))
    rows = [line.split("\t") for p in parts for line in Path(p).read_text().splitlines()]
    return np.array([int(r[0]) for r in rows], np.int64), np.array([float(r[1]) for r in rows])


def check_snap(w: Workload, inputs: dict, rec: dict, oracles: dict) -> list[str]:
    c = rec["check"]
    if not oracles:
        e = inputs["edges"]
        oracles["uniform"] = oracle.pagerank(e["src"], e["dst"], w.damping, w.max_iter, w.tol, w.min_iter)
    ref = oracles["uniform"]
    problems = []
    planted = inputs["lines"]
    got = c["lines"]
    for key in ("lines_total", "lines_comment", "lines_blank", "edges"):
        if got[key] != planted[key]:
            problems.append(f"{key}: parsed {got[key]}, planted {planted[key]}")
    if (c["iterations"], c["converged"]) != (ref.iterations, ref.converged):
        problems.append(
            f"stop rule: engine {c['iterations']} supersteps converged={c['converged']}, "
            f"oracle {ref.iterations} converged={ref.converged}"
        )
    ids, pr = read_scores(f"{c['out']}/final_scores")
    problems += oracle.compare(ref, ids, pr)
    problems += oracle.compare_top(ref, read_scores(f"{c['out']}/top_50")[0])
    timings = open(f"{c['out']}/_timings.csv").read()
    if f"Superstep_{c['iterations']}," not in timings:
        problems.append("_timings.csv lacks the last superstep")
    return problems


def check_hub(w: Workload, inputs: dict, rec: dict, oracles: dict) -> list[str]:
    c = rec["check"]
    e = inputs["edges"]
    solve = (w.damping, w.max_iter, w.tol, w.min_iter)
    if not oracles:
        oracles["uniform"] = oracle.pagerank(e["src"], e["dst"], *solve)
        oracles["personal"] = oracle.pagerank(e["src"], e["dst"], *solve, personal=e["personal"])
        ws, wd, wt = inputs["weighted"]
        oracles["weighted"] = oracle.pagerank(ws, wd, *solve, weights=wt)
    problems = []
    if c["iterations"] != [w.max_iter] * 3:
        problems.append(f"supersteps {c['iterations']}, expected {w.max_iter} per call")
    if c["hubs"] < 1:
        problems.append("the auto hub split did not fire")
    ranks = np.load(f"{c['out']}/ranks.npz")
    for kind, ref in oracles.items():
        ids, pr = ranks[f"{kind}_id"], ranks[f"{kind}_pr"]
        top = ids[np.lexsort((ids, -pr))][:50]
        problems += [f"{kind}: {p}" for p in oracle.compare(ref, ids, pr) + oracle.compare_top(ref, top)]
    return problems


CHECKS = {"snap_s1_load": check_snap, "hub_variants": check_hub}


def samples(records: list[dict], key: str) -> list[float]:
    """One value per iteration, or per superstep where an iteration
    records a list (the superstep medians pool a run's supersteps)."""
    values = []
    for r in records:
        values += r[key] if isinstance(r[key], list) else [r[key]]
    return values


def summary(values: list[float]) -> tuple[float, float, int]:
    return statistics.median(values), max(values), len(values)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_DEADLINE_S
    steal0 = steal_s()
    w = WORKLOADS[args.workload]
    root = Path.cwd()
    host = host_probe()

    work = root / ".perfbench_work" / f"{w.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        inputs = make_inputs(w, args.seed, work)
        env = {
            **os.environ,
            "PYTHONPATH": os.pathsep.join([str(root), str(HERE)]),
            "SPARK_DRIVER_MEM": host["driver_memory"],
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "TMPDIR": str(work / "tmp"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
        }
        setups, spawn_s, records = [], [], []
        with open(work / "worker.log", "w") as log:
            # A traced run reports no set-up time, so it starts no probes.
            for i in range(1 if args.trace else SPAWNS):
                spec = {
                    "workload": w.name,
                    "inputs": inputs["path"],
                    "out_dir": str(work / "out"),
                    "work": str(work),
                    "cpus": host["spark_threads"],
                    "partitions": host["shuffle_partitions"],
                    "measure": i == 0,
                    "trace": bool(args.trace),
                    "budget_s": args.seconds,
                }
                t = time.monotonic()
                setup, ready, done = spawn(spec, env, log, deadline)
                setups.append(setup)
                spawn_s.append(time.monotonic() - t)
                host.update(spark=ready["spark"], java=ready["java"])
                if i == 0:
                    if done is None:
                        raise BenchError("measuring worker died; see its log")
                    rss = done["peak_rss_mb"]
                    records = done["records"]

        oracles: dict = {}
        failed = 0
        for rec in records:
            problems = [rec["error"]] if "error" in rec else CHECKS[w.name](w, inputs, rec, oracles)
            rec["ok"] = not problems
            failed += bool(problems)
            for p in problems:
                print(f"check failed: {p}", file=sys.stderr)
        good = [r for r in records if r["ok"] and not r["warmup"]]
        traced = [r for r in good if r["traced"]]
        plain = [r for r in good if not r["traced"]]
        if not plain or (args.trace and not traced):
            raise BenchError("too few measured iterations passed their output check")
        if args.trace:
            per_run = ("trace.overhead_s", "jvm.peak_rss_mb", *WALL)
            values = {k: [r["layers"][k] for r in traced] for k in PER_LAYER if k not in per_run}
            values.update({k: samples(plain, k) for k in WALL})
            values["jvm.peak_rss_mb"] = [rss]
            values["trace.overhead_s"] = [
                statistics.median(r["wall.run_s"] for r in traced)
                - statistics.median(r["wall.run_s"] for r in plain)
            ]
            units = PER_LAYER
        else:
            values = {k: samples(plain, k) for k in END_TO_END if k != "setup_s"}
            values["setup_s"] = setups
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only if no other run is using it

    host["steal_s"] = round(steal_s() - steal0, 2)
    print("host " + json.dumps(host))
    print("spawns " + json.dumps({"setup_s": setups, "process_s": spawn_s}))
    print("samples " + json.dumps(values))
    print(f"{'metric':<28} {'unit':<8} {'median':>14} {'max':>14} {'n':>3}")
    metrics = {}
    for name, unit in units.items():
        med, top, n = summary(values[name])
        print(f"{name:<28} {unit:<8} {med:>14.6g} {top:>14.6g} {n:>3}")
        metrics[name] = {"value": med, "unit": unit}
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": len(records), "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    # Terminated, still stop the workers and their JVMs (``spawn``'s finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        raise SystemExit(main(sys.argv[1:]))
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        raise SystemExit(1) from None
