"""Traced-run stage reader: Spark job group → per-layer stage metrics.

The benchmark wraps each public call it makes in ``layer(sc, name)``,
which sets the Spark job group.  Spark copies the group's description
onto every stage a job of that group submits, so after the call the
status store (``sc._jsc.sc().statusStore()``, readable with the UI off)
attributes each executed stage to exactly one layer.  Skipped stages
(their shuffle output was reused) ran nothing and are not counted.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass

MB = 1024.0 * 1024.0


@dataclass
class StageRow:
    stage_id: int
    layer: str | None
    submitted_ms: int
    tasks: int
    run_ms: int
    gc_ms: int
    shuffle_write: int
    shuffle_read: int
    spill: int


@dataclass
class LayerTotals:
    """Sums over the executed stages of one layer."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, row: StageRow) -> None:
        self.stages += 1
        self.tasks += row.tasks
        self.run_s += row.run_ms / 1000.0
        self.gc_s += row.gc_ms / 1000.0
        self.shuffle_write_mb += row.shuffle_write / MB
        self.shuffle_read_mb += row.shuffle_read / MB
        self.spill_mb += row.spill / MB


@contextlib.contextmanager
def layer(sc, name: str | None):
    """Tag every job started inside the block with job group ``name``.
    ``None`` leaves jobs untagged (the untraced run)."""
    if name is None:
        yield
        return
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


def _newest_first(seq):
    """Iterate a status-store list, which lists the newest entry first."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _stage_list(sc):
    jvm, gw = sc._jvm, sc._gateway
    return sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )


def _job_list(sc):
    return sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())


def latest_stage(sc) -> int:
    """Id of the newest stage so far, or -1."""
    return next((s.stageId() for s in _newest_first(_stage_list(sc))), -1)


def latest_job(sc) -> int:
    """Id of the newest job so far, or -1."""
    return next((j.jobId() for j in _newest_first(_job_list(sc))), -1)


def read_stages(sc, after_stage: int = -1) -> list[StageRow]:
    """Executed stages with id > ``after_stage``, oldest first."""
    rows = []
    for s in _newest_first(_stage_list(sc)):
        if s.stageId() <= after_stage:
            break
        if s.status().toString() == "SKIPPED":
            continue
        submitted = _opt(s.submissionTime())
        rows.append(
            StageRow(
                stage_id=s.stageId(),
                layer=_opt(s.description()),
                submitted_ms=submitted.getTime() if submitted is not None else 0,
                tasks=s.numTasks(),
                run_ms=s.executorRunTime(),
                gc_ms=s.jvmGcTime(),
                shuffle_write=s.shuffleWriteBytes(),
                shuffle_read=s.shuffleReadBytes(),
                spill=s.diskBytesSpilled(),
            )
        )
    return rows[::-1]


def read_jobs(sc, after_job: int = -1) -> list[tuple[int, str | None, int]]:
    """(job id, job group, submission epoch ms) of jobs with id >
    ``after_job``, oldest first."""
    out = []
    for j in _newest_first(_job_list(sc)):
        if j.jobId() <= after_job:
            break
        submitted = _opt(j.submissionTime())
        out.append((j.jobId(), _opt(j.jobGroup()), submitted.getTime() if submitted is not None else 0))
    return out[::-1]


def split_layer(name: str, at_ms: int, before: str, after: str):
    """A relabelling for ``attribute``: rows of layer ``name`` submitted
    before epoch ``at_ms`` become ``before``, the rest ``after``.  Splits
    one public call (``pagerank``) at a boundary the call reports."""

    def relabel(layer_name: str | None, submitted_ms: int) -> str | None:
        if layer_name != name:
            return layer_name
        return before if submitted_ms < at_ms else after

    return relabel


def attribute(
    stages: list[StageRow],
    jobs: list[tuple[int, str | None, int]],
    relabel=None,
) -> tuple[dict[str, LayerTotals], int]:
    """Per-layer totals of ``stages`` and ``jobs`` (layer names passed
    through ``relabel`` if given), and the number of stages whose job
    carried no group (unattributed)."""

    def label(name, submitted_ms):
        return relabel(name, submitted_ms) if relabel else name

    totals: dict[str, LayerTotals] = {}
    unattributed = 0
    for row in stages:
        name = label(row.layer, row.submitted_ms)
        if name is None:
            unattributed += 1
            continue
        totals.setdefault(name, LayerTotals()).add(row)
    for _job_id, group, submitted_ms in jobs:
        name = label(group, submitted_ms)
        if name is not None:
            totals.setdefault(name, LayerTotals()).jobs += 1
    return totals, unattributed


def cached_mb(sc) -> float:
    """Memory plus disk size of every persisted RDD block right now."""
    return sum(
        (info.memSize() + info.diskSize()) / MB for info in sc._jsc.sc().getRDDStorageInfo()
    )
