"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy.random.default_rng(seed)`` and
writes parquet with pyarrow, so the same seed gives byte-identical
inputs. The program under test only ever sees the parquet files; the
ground truth each generator returns next to the path (edge rows, link
list) is used by the references, never handed to the program.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def zipf_targets(rng: np.random.Generator, n: int, size: int, s: float) -> np.ndarray:
    """`size` draws from 0..n-1 with P(rank r) ~ 1/r^s, ranks assigned
    to node ids by a seeded permutation so hubs are not the low ids."""
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    p /= p.sum()
    ranks = rng.choice(n, size=size, p=p)
    return rng.permutation(n)[ranks]


@dataclass
class EdgeInput:
    path: str
    src: np.ndarray  # raw edge rows as written (duplicates kept)
    dst: np.ndarray


def link_graph(out_dir: str, seed: int, n_nodes: int, hub_links: int, zipf_s: float) -> EdgeInput:
    """Chain + Zipf-hub link graph: i -> i+1 for every i (deep paths,
    one giant component) plus `hub_links` Zipf-skewed out-links per
    node (power-law in-degree). Self-loops are dropped; repeated hub
    picks are kept, so `Graph.from_edges(dedup=True)` has work to do."""
    rng = np.random.default_rng(seed)
    chain = np.arange(n_nodes - 1, dtype=np.int64)
    src = np.concatenate([chain, np.repeat(np.arange(n_nodes, dtype=np.int64), hub_links)])
    dst = np.concatenate([chain + 1, zipf_targets(rng, n_nodes, n_nodes * hub_links, zipf_s)])
    keep = src != dst
    src, dst = src[keep], dst[keep]
    path = os.path.join(out_dir, "link_edges.parquet")
    pq.write_table(pa.table({"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())}), path)
    return EdgeInput(path, src, dst)


@dataclass
class RepoInput:
    path: str
    paths: list[str]  # file i's path
    contents: list[str]  # file i's content
    links: list[tuple[int, str]]  # (src file, dst_path) per import line, in order
    resolved_src: np.ndarray  # import lines whose target exists: src file index
    resolved_dst: np.ndarray  # ... and dst file index


_LANGS = (
    # (lang, share, path template, import line template)
    ("python", 0.5, "py{repo}/m{i}.py", "import {t}"),
    ("c", 0.3, "c{repo}/h{i}.h", '#include "{t}"'),
    ("go", 0.2, "go{repo}/p{i}.go", 'import "{t}"'),
)
_WORDS = np.array(
    "def return value state index table graph node edge weight rank label "
    "component frontier superstep buffer parse commit module repo path".split()
)


def repo_table(
    out_dir: str,
    seed: int,
    n_files: int,
    n_repos: int,
    mean_imports: float,
    absent_share: float,
    body_lines: int,
    zipf_s: float,
) -> RepoInput:
    """`(repo, path, commit, lang, content)` table of python, c and go
    files. Each file imports a Poisson(`mean_imports`) number of targets
    of its own language, Zipf-skewed; a share `absent_share` of imports
    name a path missing from the snapshot (dropped at resolve time).
    Bodies are `body_lines` lines of seeded filler words, which sizes
    the content the SHA-256 and the regex UDF must scan."""
    rng = np.random.default_rng(seed)
    lang_idx = rng.choice(len(_LANGS), size=n_files, p=[l[1] for l in _LANGS])
    repo_of = rng.integers(0, n_repos, size=n_files)
    paths = [
        _LANGS[lang_idx[i]][2].format(repo=repo_of[i], i=i) for i in range(n_files)
    ]
    by_lang = [np.flatnonzero(lang_idx == k) for k in range(len(_LANGS))]
    n_imp = rng.poisson(mean_imports, size=n_files)
    words = _WORDS[rng.integers(0, len(_WORDS), size=(n_files, body_lines, 6))]

    imports: list[list[str]] = [[] for _ in range(n_files)]
    links: list[tuple[int, str]] = []
    res_s: list[int] = []
    res_d: list[int] = []
    for k, members in enumerate(by_lang):
        # per-language Zipf draw over that language's files
        picks = zipf_targets(rng, len(members), int(n_imp[members].sum()), zipf_s)
        absent = rng.random(len(picks)) < absent_share
        pos = 0
        for i in members:
            for _ in range(n_imp[i]):
                j = members[picks[pos]]
                if absent[pos] or j == i:
                    t = f"vendor/{_LANGS[k][0]}/x{pos}"
                else:
                    t = paths[j]
                    res_s.append(i)
                    res_d.append(j)
                imports[i].append(_LANGS[k][3].format(t=t))
                links.append((int(i), t))
                pos += 1
    contents = [
        "\n".join(" ".join(row) for row in words[i]) + "\n" + "\n".join(imports[i]) + "\n"
        for i in range(n_files)
    ]
    commits = [f"{rng.integers(0, 2**63):016x}" for _ in range(n_files)]
    table = pa.table({
        "repo": pa.array([f"repo{r}" for r in repo_of]),
        "path": pa.array(paths),
        "commit": pa.array(commits),
        "lang": pa.array([_LANGS[k][0] for k in lang_idx]),
        "content": pa.array(contents),
    })
    path = os.path.join(out_dir, "repo_files.parquet")
    pq.write_table(table, path)
    return RepoInput(
        path, paths, contents, links,
        np.array(res_s, dtype=np.int64), np.array(res_d, dtype=np.int64),
    )
