"""The benchmark workloads: inputs, references, and the operations of one pass.

A workload turns a seed into parquet inputs and reference answers
(outside any timed region), then lists the operations of one pass.
Each operation calls one public function of a program layer, forces
its result (``toPandas``, ``count`` or a parquet sink), and returns
what its check needs. Checks run after the pass, outside the timing.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import gen
import refs

# each kernel call pays a first-compile cost that varies from run to
# run; the supersteps after the first reuse its plans, so more of them
# make a steadier sample (LPA at 1 iteration spread 0.2 over ten seeds
# on repo-ingest, at 3 iterations 0.05-0.09)
PAGERANK_STEPS = 5
LPA_ITERATIONS = 3
DAMPING = 0.85


@dataclass
class Op:
    site: str  # `<module>.<function>` of the layer the operation calls
    run: Callable[[dict], object]  # (pass state) -> output
    check: Callable[[object, dict], None]  # (output, pass state) -> raises CheckFailed


def dir_mb(path: str) -> float:
    """Bytes of all files under `path` (0 if it does not exist), in MB."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def graph_check(g_ref: refs.RefGraph) -> Callable[[object, dict], None]:
    def check(out, st):
        refs.check_count("graph edges", out[0], g_ref.n_edges)
        refs.check_count("graph nodes", out[1], g_ref.n)
    return check


def kernel_ops(g_ref: refs.RefGraph, write_side: bool) -> list[Op]:
    """PageRank, WCC, label propagation and triangles over st["g"].
    With `write_side`, PageRank checkpoints durably under the pass
    directory and WCC runs through `runner.run` into a parquet sink."""
    from neo4j_graph_algorithms_spark.operators.label_propagation import label_propagation
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank
    from neo4j_graph_algorithms_spark.operators.triangles import triangle_count
    from neo4j_graph_algorithms_spark.operators.wcc import wcc
    from neo4j_graph_algorithms_spark.runner import run as runner_run

    ref_rank = refs.pagerank_ref(g_ref, DAMPING, PAGERANK_STEPS)
    ref_comp = refs.wcc_ref(g_ref)
    ref_labels = refs.lpa_ref(g_ref, LPA_ITERATIONS)
    ref_tri = refs.triangles_ref(g_ref)

    def run_pagerank(st):
        kw = {}
        if write_side:
            kw = {"checkpoint_dir": os.path.join(st["work"], "ckpt"), "checkpoint_every": PAGERANK_STEPS}
        ranks, stats = pagerank(st["g"], damping=DAMPING, max_iterations=PAGERANK_STEPS, **kw)
        return ranks.toPandas(), stats

    def check_pagerank(out, st):
        refs.check_count("pagerank supersteps", out[1]["iterations"], PAGERANK_STEPS)
        refs.check_pagerank(g_ref, ref_rank, out[0])

    def run_wcc(st):
        comp, stats = wcc(st["g"])
        return comp.toPandas(), stats

    def run_wcc_sink(st):
        path = os.path.join(st["work"], "sink")
        _df, stats = runner_run("algo.unionFind", st["g"], mode="write", write_path=path)
        return path, stats

    def check_wcc(out, st):
        pdf = pq.read_table(out[0]).to_pandas() if write_side else out[0]
        refs.check_components(g_ref, ref_comp, pdf)

    def run_lpa(st):
        labels, stats = label_propagation(st["g"], iterations=LPA_ITERATIONS)
        return labels.toPandas(), stats

    def run_triangles(st):
        per_node, stats = triangle_count(st["g"])
        return per_node.toPandas(), stats

    def check_triangles(out, st):
        refs.check_count("triangleCount", out[1]["triangleCount"], int(ref_tri[0].sum()) // 3)
        refs.check_triangles(g_ref, ref_tri, out[0])

    return [
        Op("operators.pagerank", run_pagerank, check_pagerank),
        Op("runner.run", run_wcc_sink, check_wcc) if write_side
        else Op("operators.wcc", run_wcc, check_wcc),
        Op("operators.label_propagation", run_lpa,
           lambda out, st: refs.check_labels(g_ref, ref_labels, out[0])),
        Op("operators.triangle_count", run_triangles, check_triangles),
    ]


class LinkGraphKernels:
    """Chain + Zipf-hub link graph as edge parquet; the four flagship
    kernels over one cached Graph. `sources` and `runner` are bypassed;
    PageRank checkpoints in memory."""

    name = "linkgraph-kernels"
    n_nodes, hub_links, zipf_s = 30_000, 3, 1.1
    # extra ingest-only passes per run: ingest here is ~1.5 s of 10 Spark
    # jobs, too short for one sample to be steady; ingest_s is the median
    # of these and the timed pass's ingest
    ingest_repeats = 4

    def __init__(self, work: str, seed: int, scale: float = 1.0):
        self.inp = gen.link_graph(work, seed, max(200, int(self.n_nodes * scale)), self.hub_links, self.zipf_s)
        self.g_ref = refs.RefGraph(self.inp.src, self.inp.dst)
        self.n_edges = self.g_ref.n_edges

    def ops(self, spark) -> list[Op]:
        from neo4j_graph_algorithms_spark.graph import Graph

        def run_graph(st):
            st["g"] = Graph.from_edges(spark.read.parquet(self.inp.path), dedup=True).cache()
            return st["g"].edge_count(), st["g"].node_count()

        return [Op("graph.from_edges", run_graph, graph_check(self.g_ref))] + kernel_ops(
            self.g_ref, write_side=False)

    @staticmethod
    def release(st: dict) -> None:
        if "g" in st:
            st["g"].release()


class RepoIngest:
    """Seeded (repo, path, commit, lang, content) table of python, c and
    go files; link extraction, hash-id resolve, graph build, PageRank
    with durable checkpoints, and WCC written through `runner.run`."""

    name = "repo-ingest"
    n_files, n_repos, mean_imports, absent_share, body_lines, zipf_s = 8_000, 40, 4.0, 0.1, 40, 1.1
    ingest_repeats = 2  # ingest is ~2.7 s of 21 jobs: median of three

    def __init__(self, work: str, seed: int, scale: float = 1.0):
        self.inp = gen.repo_table(
            work, seed, max(200, int(self.n_files * scale)), self.n_repos, self.mean_imports,
            self.absent_share, self.body_lines, self.zipf_s,
        )
        # node ids are the xxhash64 of the path: map the generated link
        # list onto them so the references see the program's ids
        ids = np.array([refs.xxhash64(p.encode()) for p in self.inp.paths], dtype=np.int64)
        self.g_ref = refs.RefGraph(ids[self.inp.resolved_src], ids[self.inp.resolved_dst])
        self.n_edges = self.g_ref.n_edges

    def ops(self, spark) -> list[Op]:
        from neo4j_graph_algorithms_spark.graph import Graph
        from neo4j_graph_algorithms_spark.sources.link_extract import edges_from_links, extract_links

        inp = self.inp

        def run_extract(st):
            st["files"] = spark.read.parquet(inp.path)
            st["links"] = extract_links(st["files"]).persist()
            return st["links"].count()

        def check_extract(out, st):
            refs.check_count("link rows", out, len(inp.links))
            refs.check_links(inp.paths, inp.contents, inp.links, st["links"].toPandas())

        def run_resolve(st):
            st["edges"] = edges_from_links(st["links"], st["files"]).persist()
            return st["edges"].count()

        def run_graph(st):
            st["g"] = Graph.from_edges(st["edges"], dedup=True).cache()
            return st["g"].edge_count(), st["g"].node_count()

        return [
            Op("sources.extract_links", run_extract, check_extract),
            Op("sources.edges_from_links", run_resolve,
               lambda out, st: refs.check_count("resolved edges", out, len(inp.resolved_src))),
            Op("graph.from_edges", run_graph, graph_check(self.g_ref)),
        ] + kernel_ops(self.g_ref, write_side=True)

    @staticmethod
    def release(st: dict) -> None:
        if "g" in st:
            st["g"].release()
        for k in ("edges", "links"):
            if k in st:
                st[k].unpersist()


WORKLOADS = {w.name: w for w in (LinkGraphKernels, RepoIngest)}
