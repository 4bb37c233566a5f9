"""The superstep driver: durable checkpoints with per-partition lineage
metrics in meta.json, bit-identical resume from the latest snapshot,
job-group scoping, and the shared history schema."""

import json
import os

import pytest

from neo4j_graph_algorithms_spark.graph import Graph
from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (1, 3)]


def _ranks_dict(df):
    return {r["id"]: r["rank"] for r in df.collect()}


def test_durable_checkpoint_writes_partition_metrics(spark, tmp_path):
    ckpt = str(tmp_path / "ck")
    g = Graph.from_edge_list(spark, EDGES, n_nodes=5)
    _r, stats = pagerank(
        g, max_iterations=6, checkpoint_dir=ckpt, checkpoint_every=3, fuse=3
    )
    steps = sorted(d for d in os.listdir(ckpt) if d.startswith("step_"))
    assert steps, "no durable checkpoints written"
    last = steps[-1]
    meta = json.load(open(os.path.join(ckpt, last, "meta.json")))
    assert meta["superstep"] == 6
    # per-partition lineage metrics present with row counts + the
    # convergence column max (north rule: resumable runs carry
    # per-partition lineage + convergence metrics)
    assert meta["partitions"]
    assert all("rows" in p and "max_delta" in p for p in meta["partitions"])
    assert sum(p["rows"] for p in meta["partitions"]) == 5
    assert os.path.exists(os.path.join(ckpt, last, "_SUCCESS_META"))


def test_resume_matches_uninterrupted_run(spark, tmp_path):
    ckpt = str(tmp_path / "ck2")
    g = Graph.from_edge_list(spark, EDGES, n_nodes=5)

    full, _ = pagerank(g, max_iterations=10, fuse=5)
    expected = _ranks_dict(full)

    # interrupted run: stops at superstep 5 with a durable snapshot
    pagerank(g, max_iterations=5, checkpoint_dir=ckpt, checkpoint_every=5, fuse=5)
    # resumed run continues 6..10 from the snapshot
    resumed, stats = pagerank(
        g, max_iterations=10, checkpoint_dir=ckpt, checkpoint_every=5,
        fuse=5, resume=True,
    )
    got = _ranks_dict(resumed)
    assert stats["history"][0]["superstep"] == 6  # really resumed, not re-run
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-12, (k, got[k], v)


def test_resume_of_finished_run_reports_last_superstep(spark, tmp_path):
    """Resuming a run whose last snapshot is its final superstep runs no
    superstep, yet reports the superstep reached and the final ranks."""
    ckpt = str(tmp_path / "ck3")
    g = Graph.from_edge_list(spark, EDGES, n_nodes=5)

    full, _ = pagerank(g, max_iterations=10)
    expected = _ranks_dict(full)

    pagerank(g, max_iterations=10, checkpoint_dir=ckpt, checkpoint_every=5)
    resumed, stats = pagerank(
        g, max_iterations=10, checkpoint_dir=ckpt, checkpoint_every=5, resume=True
    )
    assert stats["iterations"] == 10
    assert stats["history"] == []
    got = _ranks_dict(resumed)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-12, (k, got[k], v)


def test_superstep_loops_restore_the_callers_job_group(spark):
    """A named termination tags the loop's jobs with its group only while
    the loop runs: the caller's group is back afterwards, also when the
    run is terminated."""
    from neo4j_graph_algorithms_spark.operators.shortest_path import shortest_paths
    from neo4j_graph_algorithms_spark.plans.checkpointing import (
        TerminatedError,
        request_termination,
    )

    sc = spark.sparkContext
    g = Graph.from_edge_list(spark, EDGES, n_nodes=5)
    sc.setJobGroup("caller-group", "caller", False)
    try:
        pagerank(g, max_iterations=2, termination="runname")
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        shortest_paths(g, source=0, max_iterations=2, termination="runname")
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        request_termination("doomed-group-run")
        with pytest.raises(TerminatedError):
            pagerank(g, max_iterations=2, termination="doomed-group-run")
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


# ---------------------------------------------------- history schema

FIXED_KEYS = {"superstep", "secs", "changed", "checkpointed"}


def _kernel_runs():
    from neo4j_graph_algorithms_spark.operators.kcore import core_decomposition
    from neo4j_graph_algorithms_spark.operators.label_propagation import label_propagation
    from neo4j_graph_algorithms_spark.operators.neighborhood import neighborhood_function
    from neo4j_graph_algorithms_spark.operators.random_walk import random_walks
    from neo4j_graph_algorithms_spark.operators.wcc import wcc

    # name -> (call with checkpoint kwargs, documented history extras)
    return {
        "pagerank": (lambda g, **kw: pagerank(g, max_iterations=4, **kw), {"max_delta", "folded"}),
        "wcc": (lambda g, **kw: wcc(g, **kw), {"jumped"}),
        "label_propagation": (lambda g, **kw: label_propagation(g, iterations=3, **kw), set()),
        "core_decomposition": (lambda g, **kw: core_decomposition(g, **kw), set()),
        "neighborhood_function": (
            lambda g, **kw: neighborhood_function(g, max_depth=4, p=4, **kw), {"n_pairs_est"}
        ),
        "random_walks": (lambda g, **kw: random_walks(g, walk_length=4, **kw), set()),
    }


@pytest.mark.parametrize(
    "kernel",
    ["pagerank", "wcc", "label_propagation", "core_decomposition",
     "neighborhood_function", "random_walks"],
)
def test_history_schema_is_shared(spark, tmp_path, kernel):
    """Every resumable kernel reports the same per-superstep record (plus
    its documented extras) and the common stats keys."""
    run, extras = _kernel_runs()[kernel]
    # ring with chords: no dangling node, so walks never end early
    edges = [(i, (i + 1) % 12) for i in range(12)] + [(i, (i + 5) % 12) for i in range(0, 12, 3)]
    g = Graph.from_edge_list(spark, edges, n_nodes=12)
    _out, stats = run(g, checkpoint_dir=str(tmp_path / kernel), checkpoint_every=2)

    assert {"iterations", "didConverge", "computeMillis", "history", "checkpoints"} <= set(stats)
    history = stats["history"]
    assert history
    for rec in history:
        assert set(rec) == FIXED_KEYS | extras, rec
        assert rec["secs"] >= 0
        assert rec["checkpointed"] == (rec["superstep"] % 2 == 0), rec
    steps = [rec["superstep"] for rec in history]
    assert steps == list(range(steps[0], steps[0] + len(steps)))
    assert stats["iterations"] == steps[-1]
