"""One fresh benchmark process: start a Spark session, run one workload.

Started by ``run.py`` as ``python3 worker.py <spec-json>``.  It prints
``PERFBENCH {"event": "ready", ...}`` once the session has run its first
trivial job (the parent times spawn → ready as set-up).  A measuring
worker then runs the workload's public calls, its warm-up iterations and
then more until its time budget is used, and prints
``PERFBENCH {"event": "done", ...}`` with one record per iteration; the
parent then kills it.  Each record carries wall and CPU times
(``CpuClock``).
Outputs the parent checks are written under the spec's ``out_dir``.  A
traced iteration tags every call with a Spark job group and carries
per-layer stage metrics (``stages.py``).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback

import numpy as np
import pandas as pd
from pyspark.sql import Observation

from pagerank_giraph_vs_mapreduce_spark.graph.builder import build_graph
from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import (
    pagerank,
    pagerank_weighted,
    personalized_pagerank,
)
from pagerank_giraph_vs_mapreduce_spark.session import get_spark
from pagerank_giraph_vs_mapreduce_spark.sources.edgelist import parse_edgelist
from pagerank_giraph_vs_mapreduce_spark.sources.sinks import (
    write_final_scores,
    write_performance_report,
    write_timings_csv,
    write_top_k,
)
from stages import (
    MB,
    attribute,
    cached_mb,
    latest_job,
    latest_stage,
    layer,
    read_jobs,
    read_stages,
    split_layer,
)
from workloads import WORKLOADS

PREFIX = "PERFBENCH "
# Unreported iterations before measuring, per workload: the first pays
# class loading, the just-in-time compiler and Spark's code generation,
# and takes 2-3 times as long as the next.  The CPU time of the next few
# still falls as compiled code replaces interpreted code, on
# snap_s1_load by up to 10% an iteration until its fourth.
# hub_variants' iterations take twice as long, so it waits for fewer to
# keep a run near a minute.
WARMUP = {"snap_s1_load": 3, "hub_variants": 1}
# Measured iterations a run makes however long they take: the medians
# never rest on one or two samples, and with ``--seconds`` shorter than
# these take, every run measures the same iterations, at the same point
# of the JVM's warm-up.
MIN_MEASURED = 3
# How often the CPU clock samples the processes' CPU time.
CPU_SAMPLE_S = 0.02


def emit(event: dict) -> None:
    print(PREFIX + json.dumps(event), flush=True)


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    ) / MB


def vm_hwm_mb(pid: int) -> float:
    """High-water resident set size of process ``pid`` (VmHWM)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class CpuClock:
    """CPU seconds the workload's code runs: the Spark JVM's threads other
    than its just-in-time compilers, code cache sweeper and garbage
    collectors, plus this Python driver's threads other than the clock's
    own.

    A thread samples the total every ``CPU_SAMPLE_S``, so the CPU time of
    any wall-time span can be read afterwards, including spans inside a
    call such as a kernel's init and each of its supersteps.  CPU time
    leaves out what the hypervisor gives other tenants, which inflates
    wall times on a shared host by up to 70%.  Compiler threads are left
    out because their work falls off as the JVM warms up, and collector
    threads because a collection lands in whichever span happens to fill
    the young generation; Spark's task metrics report collection time per
    layer (``builder.gc_s``, ``superstep.gc_s``)."""

    LEFT_OUT = ("C1 Compiler", "C2 Compiler", "Sweeper thread", "GC Thread", "G1 ")
    RESCAN_S = 0.5

    def __init__(self, jvm_pid: int):
        self.task = f"/proc/{jvm_pid}/task"
        self.jvm = f"/proc/{jvm_pid}/stat"
        self.tick = os.sysconf("SC_CLK_TCK")
        # Left-out threads: tid -> (ticks when first seen, ticks now); the
        # ticks of those that have ended stay in ``ended``.
        self.left_out: dict[str, tuple[int, int]] = {}
        self.ended = 0
        self.seen: set[str] = set()
        self.times: list[float] = []
        self.cpu: list[float] = []
        self._rescan()
        self.stopped = threading.Event()
        self.thread = threading.Thread(target=self._sample, daemon=True)
        self.thread.start()

    @staticmethod
    def _ticks(path: str) -> int:
        with open(path) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])  # utime + stime

    def _rescan(self) -> None:
        """Find threads started since the last scan; a left-out thread
        counts from when it is found."""
        for tid in set(os.listdir(self.task)) - self.seen:
            self.seen.add(tid)
            try:
                with open(f"{self.task}/{tid}/comm") as fh:
                    if fh.read().startswith(self.LEFT_OUT):
                        now = self._ticks(f"{self.task}/{tid}/stat")
                        self.left_out[tid] = (now, now)
            except OSError:  # the thread has ended
                continue

    def _left_out_ticks(self) -> int:
        total = self.ended
        for tid, (first, last) in list(self.left_out.items()):
            try:
                last = self._ticks(f"{self.task}/{tid}/stat")
                self.left_out[tid] = (first, last)
            except OSError:  # the thread has ended
                self.ended += last - first
                del self.left_out[tid]
            total += last - first
        return total

    def _sample(self) -> None:
        next_scan = time.monotonic() + self.RESCAN_S
        while not self.stopped.wait(CPU_SAMPLE_S):
            if time.monotonic() >= next_scan:
                self._rescan()
                next_scan += self.RESCAN_S
            jvm = self._ticks(self.jvm) - self._left_out_ticks()
            self.cpu.append(jvm / self.tick + time.process_time() - time.thread_time())
            self.times.append(time.monotonic())

    def between(self, start: float, end: float) -> float:
        """CPU seconds spent between two ``time.monotonic()`` readings."""
        while not self.times or self.times[-1] < end:
            if not self.thread.is_alive():
                raise RuntimeError("the CPU clock's sampling thread has died")
            time.sleep(CPU_SAMPLE_S)
        at = np.interp([start, end], self.times, self.cpu)
        return float(at[1] - at[0])

    def stop(self) -> None:
        self.stopped.set()
        self.thread.join()


def superstep_spans(t_call: float, r) -> list[tuple[float, float]]:
    """Wall-time spans of the supersteps of kernel call ``r`` started at
    ``t_call``: they follow its init back to back."""
    spans, start = [], t_call + r.build_seconds
    for h in r.history:
        spans.append((start, start + h.seconds))
        start += h.seconds
    return spans


def kernel_record(clock: CpuClock, n_edges: int, calls) -> dict:
    """Solve numbers shared by both workloads; ``calls`` are the kernel
    calls whose supersteps count toward solve time, as (start, result)."""
    spans = [s for t_call, r in calls for s in superstep_spans(t_call, r)]
    walls = [end - start for start, end in spans]
    cpus = [clock.between(start, end) for start, end in spans]
    # The superstep lists are pooled over a run's iterations (run.py).
    return {
        "solve_cpu_s": sum(cpus),
        "superstep_cpu_p50_s": cpus,
        "edges_per_cpu_s": n_edges * len(cpus) / sum(cpus),
        "wall.solve_s": sum(walls),
        "wall.superstep_p50_s": walls,
        "wall.edges_per_s": n_edges * len(walls) / sum(walls),
    }


def load_record(clock: CpuClock, t_input: float, t_built: float, t_call: float, r) -> dict:
    """Input to a graph ready for superstep 1: parse and build, from
    ``t_input`` to ``t_built``, plus the init of kernel call ``r``."""
    init_end = t_call + r.build_seconds
    return {
        "load_cpu_s": clock.between(t_input, t_built) + clock.between(t_call, init_end),
        "wall.load_s": (t_built - t_input) + r.build_seconds,
    }


def run_record(clock: CpuClock, t_input: float, t_done: float) -> dict:
    """Input to outputs written."""
    return {"run_cpu_s": clock.between(t_input, t_done), "wall.run_s": t_done - t_input}


def kernel_layers(r, totals) -> dict:
    """Per-layer numbers of the uniform kernel call ``r``."""
    hist = r.history
    step = totals["superstep"]
    per = lambda v: v / r.iterations  # noqa: E731
    return {
        "pagerank.init_s": r.build_seconds,
        "pagerank.hub_count": len(r.hub_ids),
        "superstep.count": r.iterations,
        "superstep.plan_s": statistics.median(h.plan_seconds for h in hist),
        "superstep.compute_s": statistics.median(h.compute_seconds for h in hist),
        "superstep.stats_s": statistics.median(h.stats_seconds for h in hist),
        "superstep.first_s": hist[0].seconds,
        "superstep.tail_s": statistics.median(h.seconds for h in hist[1:]) if len(hist) > 1 else 0.0,
        "superstep.jobs": per(step.jobs),
        "superstep.tasks": per(step.tasks),
        "superstep.run_s": per(step.run_s),
        "superstep.shuffle_write_mb": per(step.shuffle_write_mb),
        "superstep.shuffle_read_mb": per(step.shuffle_read_mb),
        "superstep.spill_mb": per(step.spill_mb),
        "superstep.gc_s": per(step.gc_s),
        "superstep.mass_drift": max(abs(h.total_pr - 1.0) for h in hist),
    }


class Tracer:
    """Job-group tagging plus per-iteration stage attribution.  Tagging is
    off (jobs untagged) unless ``on`` is set for the iteration."""

    def __init__(self, sc):
        self.sc, self.on = sc, False
        self.seen_stage = self.seen_job = -1

    def begin(self, on: bool) -> None:
        """Start an iteration: attribute only stages and jobs from now on."""
        self.on = on
        if on:
            self.seen_stage = latest_stage(self.sc)
            self.seen_job = latest_job(self.sc)

    def layer(self, name: str):
        return layer(self.sc, name if self.on else None)

    def cached_mb(self) -> float:
        """Persisted block size now (0 when untraced); callers take the
        difference around a call, since earlier iterations' blocks may
        not be cleaned up yet."""
        return cached_mb(self.sc) if self.on else 0.0

    def totals(self, relabel):
        """Layer totals of every stage and job since ``begin``."""
        return attribute(
            read_stages(self.sc, self.seen_stage), read_jobs(self.sc, self.seen_job), relabel
        )


def kernel_split(call_start_wall: float, r):
    """Relabel the ``pagerank`` call's stages: those submitted before its
    init finished are ``pagerank.init``, the rest ``superstep``."""
    return split_layer(
        "pagerank", int((call_start_wall + r.build_seconds) * 1000), "pagerank.init", "superstep"
    )


def unpersist(g) -> None:
    """Drop the graph's cached blocks now rather than in the background
    of the next iteration."""
    g.vertices.unpersist(blocking=True)
    g.links.unpersist(blocking=True)


def run_snap(spark, tr: Tracer, clock: CpuClock, w, inputs: dict, out: str) -> dict:
    """The CLI's call sequence (run.main): parse, build, the workload's
    supersteps with phase timing, write final scores, top-50 and timings."""
    text = inputs["text"]
    t0 = time.monotonic()
    with tr.layer("edgelist"):
        edges = parse_edgelist(spark.read.text(text))
        edges.first()
    t1 = time.monotonic()
    cached_before = tr.cached_mb()
    with tr.layer("builder"):
        g = build_graph(edges)
    t2 = time.monotonic()
    cache = tr.cached_mb() - cached_before
    call_wall, t_call = time.time(), time.monotonic()
    with tr.layer("pagerank"):
        r = pagerank(
            edges,
            damping=w.damping,
            max_iter=w.max_iter,
            tol=w.tol,
            min_iter=w.min_iter,
            graph=g,
            phase_timing=True,
        )
    t3 = time.monotonic()
    with tr.layer("sinks"):
        write_final_scores(r.ranks, f"{out}/final_scores", coalesce=1)
        write_top_k(r.ranks, f"{out}/top_50", k=50)
        write_timings_csv(r, f"{out}/_timings.csv")
        write_performance_report(r, f"{out}/performance_report.txt")
    t4 = time.monotonic()

    if "lines" not in inputs:
        # Outside timing, once per run: the exact line counts for the
        # reject check.
        obs = Observation("lines")
        with tr.layer("edgelist"):
            parsed = parse_edgelist(spark.read.text(text), observation=obs).count()
        inputs["lines"] = {**obs.get, "edges": parsed}
    lines = inputs["lines"]
    parsed = lines["edges"]
    unpersist(g)
    rec = {
        **load_record(clock, t0, t2, t_call, r),
        **kernel_record(clock, g.n_edges, [(t_call, r)]),
        **run_record(clock, t0, t4),
        "check": {
            "out": out,
            "iterations": r.iterations,
            "converged": r.converged,
            "lines": lines,
        },
    }
    if tr.on:
        totals, unattributed = tr.totals(kernel_split(call_wall, r))
        scan, build = totals["edgelist"], totals["builder"]
        rec["layers"] = {
            "edgelist.lines_total": lines["lines_total"],
            "edgelist.lines_rejected": lines["lines_total"] - parsed,
            "edgelist.input_mb": os.path.getsize(text) / MB,
            "edgelist.scan_run_s": scan.run_s,
            **builder_layers(t2 - t1, build, cache, g.n_edges / parsed),
            **kernel_layers(r, totals),
            "variant.pagerank_s": t3 - t2,
            "variant.personalized_s": 0.0,
            "variant.weighted_s": 0.0,
            "sinks.wall_s": t4 - t3,
            "sinks.written_mb": dir_mb(out),
            "trace.unattributed_stages": unattributed,
        }
    return rec


def builder_layers(wall: float, build, cache: float, kept: float) -> dict:
    return {
        "builder.wall_s": wall,
        "builder.run_s": build.run_s,
        "builder.shuffle_write_mb": build.shuffle_write_mb,
        "builder.spill_mb": build.spill_mb,
        "builder.gc_s": build.gc_s,
        "builder.cache_mb": cache,
        "builder.dedup_kept_frac": kept,
        "builder.jobs": build.jobs,
    }


def load_hub_inputs(spark, path: str) -> dict:
    data = np.load(path)
    return {
        "edges": spark.createDataFrame(pd.DataFrame({"src": data["src"], "dst": data["dst"]})),
        "wedges": spark.createDataFrame(
            pd.DataFrame({"src": data["wsrc"], "dst": data["wdst"], "w": data["w"]})
        ),
        "personal": data["personal"].tolist(),
        "n_raw": int(data["src"].size),
    }


def run_hub(spark, tr: Tracer, clock: CpuClock, w, inputs: dict, out: str) -> dict:
    """One prebuilt graph through the uniform kernel (hub split on
    "auto"), personalized PageRank, then weighted PageRank."""
    edges, wedges = inputs["edges"], inputs["wedges"]
    solve = dict(damping=w.damping, max_iter=w.max_iter, tol=w.tol, min_iter=w.min_iter)
    cached_before = tr.cached_mb()
    t0 = time.monotonic()
    with tr.layer("builder"):
        g = build_graph(edges)
    t1 = time.monotonic()
    cache = tr.cached_mb() - cached_before
    call_wall, t_call = time.time(), time.monotonic()
    with tr.layer("pagerank"):
        r = pagerank(edges, graph=g, **solve)
    t2 = time.monotonic()
    with tr.layer("variant.personalized"):
        rp = personalized_pagerank(edges, inputs["personal"], graph=g, **solve)
    t3 = time.monotonic()
    with tr.layer("variant.weighted"):
        rw = pagerank_weighted(wedges, "w", **solve)
    t4 = time.monotonic()

    # Outside timing: collect the three rank tables for the oracle check.
    os.makedirs(out, exist_ok=True)
    with tr.layer("check"):
        tables = {k: res.ranks.toPandas() for k, res in (("uniform", r), ("personal", rp), ("weighted", rw))}
    np.savez(
        f"{out}/ranks.npz",
        **{f"{k}_{c}": t[c].to_numpy() for k, t in tables.items() for c in ("id", "pr")},
    )
    unpersist(g)
    rec = {
        **load_record(clock, t0, t1, t_call, r),
        **kernel_record(clock, g.n_edges, [(t_call, r), (t2, rp), (t3, rw)]),
        **run_record(clock, t0, t4),
        "check": {
            "out": out,
            "iterations": [r.iterations, rp.iterations, rw.iterations],
            "hubs": len(r.hub_ids),
        },
    }
    if tr.on:
        totals, unattributed = tr.totals(kernel_split(call_wall, r))
        rec["layers"] = {
            "edgelist.lines_total": 0,
            "edgelist.lines_rejected": 0,
            "edgelist.input_mb": 0.0,
            "edgelist.scan_run_s": 0.0,
            **builder_layers(t1 - t0, totals["builder"], cache, g.n_edges / inputs["n_raw"]),
            **kernel_layers(r, totals),
            "variant.pagerank_s": t2 - t1,
            "variant.personalized_s": t3 - t2,
            "variant.weighted_s": t4 - t3,
            "sinks.wall_s": 0.0,
            "sinks.written_mb": 0.0,
            "trace.unattributed_stages": unattributed,
        }
    return rec


RUNNERS = {"snap_s1_load": run_snap, "hub_variants": run_hub}


def main(spec: dict) -> int:
    """``spec["measure"]`` false: a set-up probe that exits once ready.
    True: the workload's ``WARMUP`` unreported iterations, then iterations for
    ``budget_s`` seconds and at least ``MIN_MEASURED``; with ``trace``,
    every second measured one is traced."""
    w = WORKLOADS[spec["workload"]]
    spark = get_spark(app_name="perfbench", cpus=spec["cpus"], shuffle_partitions=spec["partitions"])
    sc = spark.sparkContext
    tr = Tracer(sc)
    tr.begin(spec["trace"])
    with tr.layer("session"):
        spark.range(1).count()
    jvm = sc._jvm
    jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
    emit(
        {
            "event": "ready",
            "jvm_pid": jvm_pid,
            "spark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
        }
    )
    if not spec["measure"]:
        spark.stop()
        return 0
    if w.name == "hub_variants":
        inputs = load_hub_inputs(spark, spec["inputs"])
    else:
        inputs = {"text": spec["inputs"]}
    clock = CpuClock(jvm_pid)
    warmups = WARMUP[w.name]
    records = []
    started = None
    while True:
        i = len(records)
        warmup = i < warmups
        traced = spec["trace"] and not warmup and (i - warmups) % 2 == 1
        tr.begin(traced)
        try:
            rec = RUNNERS[w.name](spark, tr, clock, w, inputs, f"{spec['out_dir']}/iter{i}")
        except Exception as exc:  # noqa: BLE001 -- a failed iteration is counted, not fatal
            traceback.print_exc()
            rec = {"error": f"{type(exc).__name__}: {exc}"[:500]}
        records.append({**rec, "warmup": warmup, "traced": traced})
        if i == warmups - 1:
            started = time.monotonic()
        elif not warmup and i + 1 - warmups >= MIN_MEASURED:
            if time.monotonic() - started >= spec["budget_s"]:
                break
    clock.stop()
    emit({"event": "done", "records": records, "peak_rss_mb": vm_hwm_mb(jvm_pid)})
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(json.loads(sys.argv[1])))
