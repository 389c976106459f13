"""Traced-run stage reader on a tiny graph: every executed stage lands in
exactly one layer, and the layers add up to the whole run."""

from __future__ import annotations

import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(HERE), str(HERE.parent)]

from pagerank_giraph_vs_mapreduce_spark.graph.builder import build_graph  # noqa: E402
from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import pagerank  # noqa: E402
from pagerank_giraph_vs_mapreduce_spark.session import get_spark  # noqa: E402
from stages import (  # noqa: E402
    attribute,
    latest_job,
    latest_stage,
    layer,
    read_jobs,
    read_stages,
    split_layer,
)


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="perfbench-stages", cpus=2, shuffle_partitions=2)
    yield s
    s.stop()


def test_every_stage_attributed_and_layers_sum_to_total(spark):
    sc = spark.sparkContext
    spark.range(3).count()  # untagged work before the marks is ignored
    seen_stage, seen_job = latest_stage(sc), latest_job(sc)
    edges = spark.createDataFrame([(1, 2), (2, 1), (2, 3), (3, 1), (3, 1)], "src bigint, dst bigint")
    with layer(sc, "builder"):
        g = build_graph(edges)
    call_wall = time.time()
    with layer(sc, "pagerank"):
        r = pagerank(edges, graph=g, max_iter=3, min_iter=3, tol=0.0)
    with layer(sc, "check"):
        rows = r.ranks.collect()
    with layer(sc, None):
        pass  # a None layer tags nothing and must not clear a later tag
    g.unpersist()
    assert len(rows) == 3

    stages = read_stages(sc, seen_stage)
    jobs = read_jobs(sc, seen_job)
    assert stages and all(s.stage_id > seen_stage for s in stages)
    assert [s.stage_id for s in stages] == sorted(s.stage_id for s in stages)
    split = split_layer("pagerank", int((call_wall + r.build_seconds) * 1000), "pagerank.init", "superstep")
    totals, unattributed = attribute(stages, jobs, split)

    assert unattributed == 0
    assert set(totals) == {"builder", "pagerank.init", "superstep", "check"}
    assert sum(t.stages for t in totals.values()) == len(stages)
    assert sum(t.tasks for t in totals.values()) == sum(s.tasks for s in stages)
    assert sum(t.run_s for t in totals.values()) == pytest.approx(sum(s.run_ms for s in stages) / 1000)
    assert sum(t.shuffle_write_mb for t in totals.values()) == pytest.approx(
        sum(s.shuffle_write for s in stages) / 2**20
    )
    assert sum(t.jobs for t in totals.values()) == len(jobs)
    # Each superstep runs at least one job of its own.
    assert totals["superstep"].jobs >= r.iterations


def test_untagged_stages_are_counted_unattributed(spark):
    sc = spark.sparkContext
    seen_stage, seen_job = latest_stage(sc), latest_job(sc)
    spark.range(10).count()
    totals, unattributed = attribute(read_stages(sc, seen_stage), read_jobs(sc, seen_job))
    assert totals == {}
    assert unattributed >= 1
