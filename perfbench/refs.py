"""Independent correctness references and the checks that use them.

The references share no code with the program: numpy for PageRank,
WCC and label propagation, DuckDB for triangles, hashlib for the
content hashes. Each ``check_*`` raises ``CheckFailed`` on the first
mismatch; the benchmark counts that operation as failed.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import duckdb
import numpy as np
import pandas as pd


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5, _M = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5, (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of `data` as a signed 64-bit integer: the value of Spark's
    ``xxhash64`` on a string column (default seed 42), which the
    program uses as node id. Written from the published algorithm."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i + 8 * k:i + 8 * k + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for k in range(4):
            h = ((h ^ _round(0, v[k])) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= data[i] * _P5 & _M
        h = _rotl(h, 11) * _P1 & _M
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M
    h ^= h >> 29
    h = h * _P3 & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


class RefGraph:
    """Deduplicated directed simple graph over arbitrary int64 ids,
    re-indexed densely (index order = id order, so the minimum index
    of a set is the index of its minimum id)."""

    def __init__(self, src: np.ndarray, dst: np.ndarray):
        pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
        self.ids = np.unique(pairs)
        self.src = np.searchsorted(self.ids, pairs[:, 0])
        self.dst = np.searchsorted(self.ids, pairs[:, 1])
        self.n = len(self.ids)
        self.n_edges = len(pairs)


def pagerank_ref(g: RefGraph, damping: float, iterations: int) -> np.ndarray:
    """Delta-push PageRank: rank and delta start at 1-d; each superstep
    every node pushes d*delta/outdeg to its out-neighbours, the sum
    received becomes its next delta and is added to its rank. Dangling
    nodes push nothing."""
    alpha = 1.0 - damping
    outdeg = np.bincount(g.src, minlength=g.n).astype(np.float64)
    rank = np.full(g.n, alpha)
    delta = np.full(g.n, alpha)
    for _ in range(iterations):
        push = delta[g.src] / outdeg[g.src]
        delta = damping * np.bincount(g.dst, weights=push, minlength=g.n)
        rank += delta
    return rank


def wcc_ref(g: RefGraph) -> np.ndarray:
    """Component of each node = index of the smallest node in it
    (union-find with path halving)."""
    parent = np.arange(g.n)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(g.src.tolist(), g.dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(x) for x in range(g.n)])


def lpa_ref(g: RefGraph, iterations: int) -> np.ndarray:
    """Synchronous label propagation as parity half-steps: in half-step
    p only nodes with id % 2 == p move; each takes the label with the
    largest summed vote over its out-neighbours (unit weights), ties to
    the smallest label. Nodes without out-neighbours keep their label."""
    labels = g.ids.copy()
    node_parity = np.mod(g.ids, 2)
    for _ in range(iterations):
        for parity in (0, 1):
            votes = (
                pd.DataFrame({"node": g.src, "label": labels[g.dst]})
                .groupby(["node", "label"], sort=False).size().rename("v").reset_index()
                .sort_values(["node", "v", "label"], ascending=[True, False, True])
                .drop_duplicates("node")
            )
            node = votes["node"].to_numpy()
            move = node_parity[node] == parity
            labels = labels.copy()
            labels[node[move]] = votes["label"].to_numpy()[move]
    return labels


def triangles_ref(g: RefGraph) -> tuple[np.ndarray, np.ndarray]:
    """(triangles per node, local clustering coefficient) on the
    undirected simple graph, via a degree-ordered wedge join in DuckDB."""
    und = pd.DataFrame({
        "a": np.minimum(g.src, g.dst), "b": np.maximum(g.src, g.dst),
    })
    und = und[und["a"] != und["b"]].drop_duplicates()
    con = duckdb.connect()
    try:
        con.register("und", und)
        per_node = con.execute("""
            WITH deg AS (
                SELECT v, count(*) AS d FROM (
                    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
                ) GROUP BY v
            ),
            ori AS MATERIALIZED (
                SELECT CASE WHEN fwd THEN a ELSE b END AS x,
                       CASE WHEN fwd THEN b ELSE a END AS y
                FROM (
                    SELECT u.a, u.b, da.d < db.d OR (da.d = db.d AND u.a < u.b) AS fwd
                    FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b
                )
            ),
            tri AS (
                SELECT e1.x AS p, e1.y AS q, e2.y AS r
                FROM ori e1 JOIN ori e2 ON e1.y = e2.x
                JOIN ori e3 ON e3.x = e1.x AND e3.y = e2.y
            )
            SELECT v, count(*) AS t FROM (
                SELECT p AS v FROM tri UNION ALL SELECT q FROM tri UNION ALL SELECT r FROM tri
            ) GROUP BY v
        """).fetchnumpy()
        deg = con.execute("""
            SELECT v, count(*) AS d FROM (
                SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
            ) GROUP BY v
        """).fetchnumpy()
    finally:
        con.close()
    tri = np.zeros(g.n, dtype=np.int64)
    tri[per_node["v"].astype(np.int64)] = per_node["t"]
    d = np.zeros(g.n, dtype=np.float64)
    d[deg["v"].astype(np.int64)] = deg["d"]
    coef = np.where(d >= 2, 2.0 * tri / np.maximum(d * (d - 1), 1.0), 0.0)
    return tri, coef


# --- checks: Spark output (pandas) against a reference --------------------


def _aligned(g: RefGraph, pdf: pd.DataFrame, col: str) -> np.ndarray:
    """Values of `col` in node order; the id set must match exactly."""
    ids = pdf["id"].to_numpy(dtype=np.int64)
    _require(len(ids) == g.n, f"{col}: {len(ids)} rows for {g.n} nodes")
    order = np.argsort(ids)
    _require(np.array_equal(ids[order], g.ids), f"{col}: node id set differs")
    return pdf[col].to_numpy()[order]


def check_pagerank(g: RefGraph, ref_rank: np.ndarray, pdf: pd.DataFrame) -> None:
    rank = _aligned(g, pdf, "rank").astype(np.float64)
    bad = ~np.isclose(rank, ref_rank, rtol=0.0, atol=1e-6)
    _require(not bad.any(), f"pagerank: {int(bad.sum())} ranks off by more than 1e-6")


def check_components(g: RefGraph, ref_comp: np.ndarray, pdf: pd.DataFrame) -> None:
    comp = _aligned(g, pdf, "component").astype(np.int64)
    bad = comp != g.ids[ref_comp]
    _require(not bad.any(), f"wcc: {int(bad.sum())} nodes mislabelled")


def check_labels(g: RefGraph, ref_labels: np.ndarray, pdf: pd.DataFrame) -> None:
    lab = _aligned(g, pdf, "label").astype(np.int64)
    bad = lab != ref_labels
    _require(not bad.any(), f"label_propagation: {int(bad.sum())} labels differ")


def check_triangles(g: RefGraph, ref: tuple[np.ndarray, np.ndarray], pdf: pd.DataFrame) -> None:
    tri = _aligned(g, pdf, "triangles").astype(np.int64)
    coef = _aligned(g, pdf, "coefficient").astype(np.float64)
    _require(np.array_equal(tri, ref[0]), f"triangles: {int((tri != ref[0]).sum())} counts differ")
    bad = ~np.isclose(coef, ref[1], rtol=0.0, atol=1e-12)
    _require(not bad.any(), f"triangles: {int(bad.sum())} clustering coefficients differ")


def check_count(what: str, got: int, want: int) -> None:
    _require(got == want, f"{what}: {got}, expected {want}")


def check_links(paths: list[str], contents: list[str], links: list[tuple[int, str]], pdf: pd.DataFrame) -> None:
    """Link rows equal the generated import lines as a multiset of
    (path, dst_path), and each row's content_sha256 is the SHA-256 of
    its file's content."""
    want = Counter((paths[i], t) for i, t in links)
    got = Counter(zip(pdf["path"], pdf["dst_path"]))
    _require(want == got, "extract_links: (path, dst_path) multiset differs")
    sha = {p: hashlib.sha256(c.encode()).hexdigest() for p, c in zip(paths, contents)}
    bad = pdf["content_sha256"].to_numpy() != pdf["path"].map(sha).to_numpy()
    _require(not bad.any(), f"extract_links: {int(bad.sum())} rows carry a wrong content_sha256")
