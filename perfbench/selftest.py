"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Run from the repository root. Three parts:

1. the references agree with networkx and with plain-Python loops on
   small random graphs, and the xxhash64 port with published vectors;
2. every check passes on the reference answer and fails on a perturbed
   one (one component label flipped, one rank off by 1e-5, ...);
3. each workload runs end to end at tiny scale, with --trace 0 and 1,
   prints every metric of BENCHMARK.json with its unit, and reports
   no failed operation. A run outside a repository checkout exits
   non-zero without a result.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

import networkx as nx
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import refs  # noqa: E402


def random_graph(seed: int, n: int = 60, m: int = 240) -> refs.RefGraph:
    rng = np.random.default_rng(seed)
    src, dst = rng.integers(0, n, m) * 3 + 5, rng.integers(0, n, m) * 3 + 5
    keep = src != dst
    return refs.RefGraph(src[keep], dst[keep])


def loop_pagerank(g: refs.RefGraph, damping: float, iters: int) -> np.ndarray:
    out = [[] for _ in range(g.n)]
    for a, b in zip(g.src, g.dst):
        out[a].append(b)
    rank = [1 - damping] * g.n
    delta = [1 - damping] * g.n
    for _ in range(iters):
        recv = [0.0] * g.n
        for u in range(g.n):
            for v in out[u]:
                recv[v] += damping * delta[u] / len(out[u])
        delta = recv
        rank = [r + d for r, d in zip(rank, recv)]
    return np.array(rank)


def loop_lpa(g: refs.RefGraph, iters: int) -> np.ndarray:
    out = [[] for _ in range(g.n)]
    for a, b in zip(g.src, g.dst):
        out[a].append(b)
    labels = list(g.ids)
    for _ in range(iters):
        for parity in (0, 1):
            snap = list(labels)
            for u in range(g.n):
                if out[u] and g.ids[u] % 2 == parity:
                    votes: dict[int, int] = {}
                    for v in out[u]:
                        votes[snap[v]] = votes.get(snap[v], 0) + 1
                    labels[u] = min(votes, key=lambda lab: (-votes[lab], lab))
    return np.array(labels)


def test_references() -> None:
    # published XXH64 vectors (seed 0), then Spark's xxhash64 (seed 42)
    for data, want in ((b"", 0xEF46DB3751D8E999), (b"a", 0xD24EC4F1A98C6E5B), (b"abc", 0x44BC2CF5AD770999)):
        assert refs.xxhash64(data, 0) & (2**64 - 1) == want, f"xxhash64({data!r})"
    assert refs.xxhash64(b"py3/m12.py") == 6020909309683131821, "xxhash64 seed 42"
    for seed in range(5):
        g = random_graph(seed)
        und = nx.Graph(list(zip(g.src.tolist(), g.dst.tolist())))
        und.add_nodes_from(range(g.n))
        tri, coef = refs.triangles_ref(g)
        nx_tri, nx_coef = nx.triangles(und), nx.clustering(und)
        assert all(tri[i] == nx_tri[i] for i in range(g.n)), "triangles vs networkx"
        assert np.allclose(coef, [nx_coef[i] for i in range(g.n)]), "clustering vs networkx"
        comp = refs.wcc_ref(g)
        for cc in nx.connected_components(und):
            assert {comp[i] for i in cc} == {min(cc)}, "wcc vs networkx"
        assert np.allclose(refs.pagerank_ref(g, 0.85, 4), loop_pagerank(g, 0.85, 4), rtol=0, atol=1e-12)
        assert np.array_equal(refs.lpa_ref(g, 2), loop_lpa(g, 2)), "lpa vs loop"


def expect_fail(fn, *args) -> None:
    try:
        fn(*args)
    except refs.CheckFailed:
        return
    raise AssertionError(f"{fn.__name__} accepted a perturbed output")


def test_checks_catch_perturbations() -> None:
    g = random_graph(7)
    rank = refs.pagerank_ref(g, 0.85, 3)
    comp = refs.wcc_ref(g)
    labels = refs.lpa_ref(g, 1)
    tri = refs.triangles_ref(g)
    frame = lambda **cols: pd.DataFrame({"id": g.ids, **cols}).sample(frac=1, random_state=0)

    refs.check_pagerank(g, rank, frame(rank=rank))
    off = rank.copy()
    off[3] += 1e-5
    expect_fail(refs.check_pagerank, g, rank, frame(rank=off))
    expect_fail(refs.check_pagerank, g, rank, frame(rank=rank).iloc[1:])

    good = g.ids[comp]
    refs.check_components(g, comp, frame(component=good))
    flipped = good.copy()
    flipped[0] = g.ids[-1] + 1
    expect_fail(refs.check_components, g, comp, frame(component=flipped))

    refs.check_labels(g, labels, frame(label=labels))
    moved = labels.copy()
    moved[5] = moved[5] + 3
    expect_fail(refs.check_labels, g, labels, frame(label=moved))

    refs.check_triangles(g, tri, frame(triangles=tri[0], coefficient=tri[1]))
    more = tri[0].copy()
    more[np.argmax(more)] += 1
    expect_fail(refs.check_triangles, g, tri, frame(triangles=more, coefficient=tri[1]))
    coef = tri[1].copy()
    coef[np.argmax(coef)] += 1e-9
    expect_fail(refs.check_triangles, g, tri, frame(triangles=tri[0], coefficient=coef))

    refs.check_count("edges", 5, 5)
    expect_fail(refs.check_count, "edges", 4, 5)

    os.makedirs(".perfbench", exist_ok=True)
    with tempfile.TemporaryDirectory(dir=".perfbench") as d:
        inp = gen.repo_table(d, 3, 80, 4, 3.0, 0.2, 3, 1.1)
    rows = pd.DataFrame(
        [(inp.paths[i], t, hashlib.sha256(inp.contents[i].encode()).hexdigest()) for i, t in inp.links],
        columns=["path", "dst_path", "content_sha256"],
    )
    refs.check_links(inp.paths, inp.contents, inp.links, rows)
    bad_sha = rows.copy()
    bad_sha.loc[0, "content_sha256"] = hashlib.sha256(b"other").hexdigest()
    expect_fail(refs.check_links, inp.paths, inp.contents, inp.links, bad_sha)
    expect_fail(refs.check_links, inp.paths, inp.contents, inp.links, rows.iloc[1:])


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.02"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_tiny_runs() -> None:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run_bench(root, w["name"], trace)
            assert p.returncode == 0, p.stderr[-3000:]
            out = json.loads(p.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, f"{w['name']} trace {trace}: metrics/units differ: {set(got) ^ set(want)}"
            assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0, out
            print(f"ok  {w['name']} --trace {trace}: {len(got)} metrics, {out['attempted']} checked ops")
    # a directory holding only the benchmark: no program, so no result
    bare = tempfile.mkdtemp(dir=os.path.join(root, ".perfbench"))
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        p = run_bench(bare, spec["workloads"][0]["name"], 0)
        assert p.returncode != 0 and not p.stdout.strip(), "bare directory produced a result"
    finally:
        shutil.rmtree(bare)


def main() -> int:
    for t in (test_references, test_checks_catch_perturbations, test_tiny_runs):
        t()
        print(f"ok  {t.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
