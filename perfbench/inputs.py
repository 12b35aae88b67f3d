"""Seeded benchmark inputs and the oracles that check the engine against them.

Nothing here calls the engine's graph code: inputs come from numpy/pandas,
and every oracle is computed by independent code (closed forms for the
clique graph, networkx and numpy for R-MAT).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

# R-MAT quadrant probabilities of the reference generator (d = 0.05)
RMAT_A, RMAT_B, RMAT_C = 0.57, 0.19, 0.19
DAMPING = 0.85
LANGS = ("py", "c", "java", "go", "md")


# ---------------------------------------------------------------- inputs


def repo_sizes(n_repos: int, top: int) -> np.ndarray:
    """Zipf-shaped files-per-repo profile: repo r holds ``top / (r + 1)``
    files (at least 3, so every kept repo is a clique on which label
    propagation settles on the component label)."""
    r = np.arange(n_repos)
    return np.maximum(3, top // (r + 1)).astype(np.int64)


def files_table(seed: int, sizes: np.ndarray) -> pd.DataFrame:
    """Source-code files table ``(repo, path, commit, lang, content)``.

    One row per file; repo ``i`` gets ``sizes[i]`` files. The seed picks
    paths, commits, languages, content and row order (shuffled, so no repo
    sits in one input split). Repo names and sizes are fixed, so the big
    repos hash to the same shuffle partitions on every seed."""
    rng = np.random.default_rng(seed)
    n = int(sizes.sum())
    repo_idx = np.repeat(np.arange(len(sizes)), sizes)
    repos = np.array([f"org/repo-{i:04d}" for i in range(len(sizes))])
    commits = np.array([f"{x:040x}" for x in rng.integers(0, 1 << 62, len(sizes))])
    module = rng.integers(0, 97, n)
    lang = np.array(LANGS)[rng.integers(0, len(LANGS), n)]
    body = rng.integers(0, 10_000, n)
    ids = rng.permutation(n)
    pdf = pd.DataFrame(
        {
            "repo": repos[repo_idx],
            "path": [f"src/mod_{a:02d}/file_{b:06d}.{c}" for a, b, c in zip(module, ids, lang)],
            "commit": commits[repo_idx],
            "lang": lang,
            "content": [f"def fn_{b}():\n    return {c}\n" for b, c in zip(ids, body)],
        }
    )
    return pdf.iloc[rng.permutation(n)].reset_index(drop=True)


def rmat_edge_arrays(scale: int, edge_factor: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Exactly ``edge_factor * 2**scale`` canonical undirected R-MAT edges
    (src < dst, distinct, no self-loops), kept as the first m in (src, dst)
    order — the same selection rule as the engine's ``rmat_edges``, drawn
    from numpy's generator instead of Spark partitions.

    Vertices are then relabelled 0..n-1 by descending degree (ties by id).
    With the raw ids, hash-min components needs 3 or 4 rounds depending on
    the seed (10 of seeds 0-29 take 3), which splits ``components_s`` into
    two modes across seeds; with degree-ordered ids it takes 2 on all 30."""
    rng = np.random.default_rng(seed)
    n, m = 1 << scale, edge_factor << scale
    pow2 = (1 << np.arange(scale, dtype=np.int64))[::-1]
    keys = np.empty(0, dtype=np.int64)
    while len(keys) < m:
        u = rng.random((math.ceil(m * 1.3), scale))
        s = (u >= RMAT_A + RMAT_B).astype(np.int64) @ pow2
        d = (((u >= RMAT_A) & (u < RMAT_A + RMAT_B)) | (u >= RMAT_A + RMAT_B + RMAT_C)).astype(
            np.int64
        ) @ pow2
        lo, hi = np.minimum(s, d), np.maximum(s, d)
        keep = lo != hi
        keys = np.unique(np.concatenate([keys, lo[keep] * n + hi[keep]]))
    keys = keys[:m]
    verts, inv = np.unique(np.concatenate([keys // n, keys % n]), return_inverse=True)
    rank = np.empty(len(verts), dtype=np.int64)
    rank[np.lexsort((verts, -np.bincount(inv)))] = np.arange(len(verts))
    a, b = rank[inv[:m]], rank[inv[m:]]
    return np.minimum(a, b), np.maximum(a, b)


def write_edge_parquet(src: np.ndarray, dst: np.ndarray, path: str, n_files: int) -> None:
    """Write ``(src, dst)`` as ``n_files`` parquet files under ``path`` so
    the scan starts with one split per core."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i, (s, d) in enumerate(zip(np.array_split(src, n_files), np.array_split(dst, n_files))):
        pq.write_table(pa.table({"src": s, "dst": d}), os.path.join(path, f"part-{i:03d}.parquet"))


# ---------------------------------------------------------------- oracle


class Oracle:
    """Expected outputs of one input graph, keyed by original vertex id."""

    def __init__(self, m, triangles, pagerank, pagerank_iterations, components, labels,
                 wedge_probes):
        self.m = int(m)
        self.triangles = int(triangles)
        self.pagerank = pagerank  # pd.Series v -> rank where the iteration stops
        self.pagerank_iterations = int(pagerank_iterations)
        self.components = components  # pd.Series v -> min vertex id of component
        self.labels = labels  # pd.Series v -> label after the LP rounds
        self.wedge_probes = int(wedge_probes)

    @property
    def n(self) -> int:
        return len(self.components)

    def summary(self) -> dict:
        return {
            "m": self.m,
            "n": self.n,
            "triangles": self.triangles,
            "components": int(self.components.nunique()),
            "pagerank_iterations": self.pagerank_iterations,
            "wedge_probes": self.wedge_probes,
        }

    def check_pagerank(self, pdf: pd.DataFrame, iterations: int) -> None:
        if iterations != self.pagerank_iterations:
            raise AssertionError(
                f"pagerank stopped after {iterations} iterations, "
                f"expected {self.pagerank_iterations}"
            )
        got = pdf.set_index("v")["rank"].sort_index()
        _same_vertices(got, self.pagerank)
        err = float(np.abs(got.to_numpy() - self.pagerank.to_numpy()).max())
        if err > 1e-6:
            raise AssertionError(f"pagerank max |err| {err:.3g} > 1e-6")

    def check_components(self, pdf: pd.DataFrame) -> None:
        _check_labels(pdf.set_index("v")["component"], self.components, "component")

    def check_labels(self, pdf: pd.DataFrame) -> None:
        _check_labels(pdf.set_index("v")["label"], self.labels, "label")


def _same_vertices(got: pd.Series, want: pd.Series) -> None:
    if len(got) != len(want) or not np.array_equal(got.index.to_numpy(), want.index.to_numpy()):
        raise AssertionError(f"vertex set differs: {len(got)} rows vs {len(want)} expected")


def _check_labels(got: pd.Series, want: pd.Series, what: str) -> None:
    got = got.sort_index()
    _same_vertices(got, want)
    bad = int((got.to_numpy() != want.to_numpy()).sum())
    if bad:
        raise AssertionError(f"{bad} of {len(want)} vertices have the wrong {what}")


def wedge_probes(src: np.ndarray, dst: np.ndarray) -> int:
    """Probes of the broadcast-CSR kernel: orient every edge from the lower
    to the higher (degree, id) endpoint; a source v with at least two
    out-neighbours probes the out-lists of all of them."""
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    m = len(src)
    s, d = inv[:m], inv[m:]
    deg = np.bincount(inv, minlength=len(verts))
    fwd = (deg[s] < deg[d]) | ((deg[s] == deg[d]) & (s < d))
    lo = np.where(fwd, s, d)
    hi = np.where(fwd, d, s)
    outdeg = np.bincount(lo, minlength=len(verts))
    per_src = np.bincount(lo, weights=outdeg[hi], minlength=len(verts))
    return int(per_src[outdeg >= 2].sum())


def clique_oracle(files: pd.DataFrame, ids: pd.Series, cap: int) -> Oracle:
    """Closed forms for the co-occurrence graph of ``files`` under a
    ``max_repo_files`` cap: each kept repo (2 < files <= cap) is a clique,
    so triangles = sum C(k, 3), the components are the kept repos labelled
    by their minimum file id, every PageRank is 1/n (the graph is
    regular within each clique), and label propagation settles on the
    component label. ``ids`` holds each row's vertex id."""
    f = pd.DataFrame({"repo": files["repo"], "v": ids.to_numpy()})
    size = f.groupby("repo")["v"].transform("size")
    kept = f[size <= cap]
    k = kept.groupby("repo").size().to_numpy()
    comp = kept.groupby("repo")["v"].transform("min")
    components = pd.Series(comp.to_numpy(), index=kept["v"].to_numpy()).sort_index()
    n = len(components)
    triangles = int((k * (k - 1) * (k - 2) // 6).sum())
    return Oracle(
        m=int((k * (k - 1) // 2).sum()),
        triangles=triangles,
        pagerank=pd.Series(1.0 / n, index=components.index),
        pagerank_iterations=1,  # the first iteration already returns 1/n
        components=components,
        labels=components,
        # within a clique every vertex has the same degree, so the kernel's
        # out-list lengths are k-1, k-2, ..., 0 and its probes sum to C(k, 3)
        wedge_probes=triangles,
    )


def rmat_oracle(src: np.ndarray, dst: np.ndarray, lp_rounds: int) -> Oracle:
    """networkx triangles and components, numpy PageRank power iteration,
    pandas synchronous label propagation."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    triangles = sum(nx.triangles(g).values()) // 3
    comp = {}
    for c in nx.connected_components(g):
        low = min(c)
        comp.update(dict.fromkeys(c, low))
    components = pd.Series(comp).sort_index()
    pagerank, iterations = _pagerank(src, dst)
    return Oracle(
        m=len(src),
        triangles=triangles,
        pagerank=pagerank,
        pagerank_iterations=iterations,
        components=components,
        labels=_label_propagation(src, dst, lp_rounds),
        wedge_probes=wedge_probes(src, dst),
    )


def _pagerank(src: np.ndarray, dst: np.ndarray, tol: float = 1e-6) -> tuple[pd.Series, int]:
    """Undirected PageRank by synchronous power iteration from 1/n, stopped
    by the engine's rule: after the first iteration whose max |delta| is at
    most ``tol``. Returns the ranks and the iteration count."""
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n, m = len(verts), len(src)
    s, d = inv[:m], inv[m:]
    deg = np.bincount(inv, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for it in range(1, 101):
        share = rank / deg
        gathered = np.bincount(d, share[s], n) + np.bincount(s, share[d], n)
        new = (1.0 - DAMPING) / n + DAMPING * gathered
        delta = np.abs(new - rank).max()
        rank = new
        if delta <= tol:
            return pd.Series(rank, index=verts), it
    raise RuntimeError("PageRank oracle did not converge in 100 iterations")


def _label_propagation(src: np.ndarray, dst: np.ndarray, rounds: int) -> pd.Series:
    """Synchronous label propagation: every vertex takes the most frequent
    neighbour label, ties to the smallest label; stops after ``rounds``
    rounds or when no label changes."""
    a = np.concatenate([src, dst])
    b = np.concatenate([dst, src])
    labels = pd.Series(np.unique(a), index=np.unique(a))
    for _ in range(rounds):
        votes = pd.DataFrame({"v": b, "label": labels.loc[a].to_numpy()})
        counts = votes.groupby(["v", "label"]).size().reset_index(name="n")
        best = counts.sort_values(["v", "n", "label"], ascending=[True, False, True])
        new = best.drop_duplicates("v").set_index("v")["label"].sort_index()
        changed = bool((new.to_numpy() != labels.to_numpy()).any())
        labels = new
        if not changed:
            break
    return labels
