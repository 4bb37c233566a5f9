"""PySpark-native link-graph analytics engine.

A from-scratch rebuild (NOT a port) of the capabilities of the
reference `mneedham/neo4j-graph-algorithms` (Java/Neo4j, surveyed in
/root/repo/SURVEY.md), re-expressed in idiomatic PySpark: graphs are
pairs of DataFrames (`nodes`, `edges`), algorithm kernels are
driver-side superstep loops issuing declarative DataFrame plans
(joins + aggregations + windows), with explicit skew handling
(salting, two-phase aggregation) and checkpointed, resumable
supersteps.

Public surface (mirrors the reference's 47 `algo.*` procedures; see
SURVEY.md §2.c and `runner.list_procedures()`):

- `operators.pagerank` — delta-push PageRank (ref `impl/PageRank.java`)
- `operators.wcc` — unionFind / weakly connected components
  (ref `impl/GraphUnionFind.java`, `core/.../dss/DisjointSetStruct.java`)
- `operators.label_propagation` — weighted LPA
  (ref `impl/LabelPropagation.java`)
- `operators.triangles` — triangle count / clustering coefficient
  (ref `impl/TriangleCountQueue.java`, `impl/TriangleStream.java`)
- `operators.msbfs` — bit-parallel multi-source BFS engine
  (ref `impl/msbfs/MultiSourceBFS.java`)
- `operators.centrality` — closeness / harmonic / betweenness
- `operators.paths` — SSSP (delta-stepping analogue), all shortest paths
- `operators.mst` — minimum spanning forest (Borůvka rounds)
- `operators.scc` — strongly connected components (FW-BW / coloring)
- `operators.louvain` — one-level Louvain modularity
- `operators.dedup`, `operators.similarity`, `operators.text`,
  `operators.multimodal` — large-scale training-data pipeline ops
- `graph` — graph normalization layer (the "GraphLoader" analogue)
- `plans.partitioning` — distributed two-level rank scan (id
  densification, source numbering)
- `plans.checkpointing` — the superstep driver: checkpoint/restore
  with per-partition lineage + convergence metrics, termination, one
  history schema
- `sources.link_extract` — repo-file table -> edge table (Arrow UDF,
  sha256 invariant)
"""

__version__ = "0.1.0"
