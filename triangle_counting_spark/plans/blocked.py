"""CSR-blocked iteration — the in-memory substrate for PageRank / CC /
label propagation (north rule: "iterative sparse gather-scatter over
CSR-blocked edge partitions").

Tiering (mirrors the reference's plan choice by graph statistic,
tc.c:1844-1911):

- **blocked tier** (this module): the graph fits the driver. The edge list
  is collected once, compacted, symmetrized and cut into dst-disjoint CSR
  blocks of about equal edge count (:func:`build_blocked`). Every round
  runs on the driver: per block, gather the source states into a reused
  buffer (np.take), weight them in place, segment-reduce per dst with
  ``ufunc.reduceat`` and scatter into the gathered vector; the caller's
  ``update`` then applies damping / pointer jumping and the convergence
  test. A round launches NO Spark job: on a graph this size a numpy round
  takes milliseconds, while a broadcast + P-task map + collect cost a
  fixed ~0.4 s per round. Blocks run in a plain serial loop (a thread
  pool's per-thread malloc arenas grew driver RSS pass over pass) and
  only bound each round's temporaries by block size.
- **shuffle tier** (operators/pagerank.py etc. + plans/iterate.py): state
  itself is distributed; one join + one aggregate per iteration. Used when
  the graph does not fit the driver (10^11+ vertices), at the cost of
  per-iteration shuffles.

Checkpoint/resume: the state vector + iteration meta are written as
parquet via pyarrow every ``checkpoint_every`` iterations (atomic
write-then-rename), same contract as plans/iterate.py.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

# symmetrized edges per block: bounds every round's temporaries (a gather
# buffer of 512 KiB at float64) regardless of hub skew in the id order
BLOCK_EDGES = 1 << 16


@dataclass
class BlockedGraph:
    """Driver-resident compact graph: ids + per-block CSR over dst."""

    verts: np.ndarray  # sorted original vertex ids, index = compact id
    src: np.ndarray  # compact src of SYMMETRIZED edges, sorted by dst
    dst: np.ndarray
    out_deg: np.ndarray
    n_blocks: int
    block_bounds: np.ndarray  # edge-index boundaries per block (len n_blocks+1)
    weight: np.ndarray | None = None  # optional per-edge gather weight

    def blocks(self) -> list[tuple[int, int, np.ndarray, np.ndarray]]:
        """Per block ``(lo, hi, cut, rows)``: its edge range, the dst-run
        starts relative to ``lo`` (``reduceat`` offsets) and the dst id of
        each run. Block bounds sit on run starts, so no run straddles two
        blocks."""
        d = self.dst
        runs = np.flatnonzero(np.r_[True, d[1:] != d[:-1]]) if len(d) else d[:0]
        rows = d[runs].astype(np.intp)
        out = []
        for b in range(self.n_blocks):
            lo, hi = int(self.block_bounds[b]), int(self.block_bounds[b + 1])
            r0, r1 = np.searchsorted(runs, [lo, hi])
            out.append((lo, hi, runs[r0:r1] - lo, rows[r0:r1]))
        return out


def _block_bounds(dst: np.ndarray, n_blocks: int) -> np.ndarray:
    """Edge-index bounds of ``max(n_blocks, ceil(len(dst) / BLOCK_EDGES))``
    blocks of equal edge count, each snapped back to the start of the dst
    run it falls in. A hub whose run is longer than a block swallows the
    bounds inside it, so the result may hold fewer blocks than targeted,
    but never an empty one."""
    e = len(dst)
    if e == 0:
        return np.zeros(1, dtype=np.int64)
    target = max(n_blocks, -(-e // BLOCK_EDGES), 1)
    pos = (np.arange(1, target, dtype=np.int64) * e) // target
    snapped = np.searchsorted(dst, dst[pos], side="left")
    return np.unique(np.r_[0, snapped, e]).astype(np.int64)


def build_blocked(
    edges_pdf: pd.DataFrame, n_blocks: int, edge_weight: str | None = None
) -> BlockedGraph:
    """Compact + symmetrize + sort edges by dst, then cut the edge array
    into dst-disjoint blocks of about equal edge count.

    edges_pdf: canonical (src < dst) undirected edge list; for
    edge_weight="weighted" it must also carry a ``weight`` column.
    n_blocks: the MINIMUM block count; graphs over ``n_blocks *
    BLOCK_EDGES`` symmetrized edges get more, hubs may merge some (see
    :func:`_block_bounds`) — iterate ``g.n_blocks``, never the argument.
    edge_weight: None, "inv_outdeg" (w = 1/outdeg(src) — plain PageRank),
    or "weighted" (w = weight/Σ_out weight — weighted PageRank; out_deg
    then holds the per-vertex out-STRENGTH, still 0 ⇔ dangling).
    """
    from ..operators.triangles import _compact_ids

    s_raw = edges_pdf["src"].to_numpy(dtype=np.int64)
    d_raw = edges_pdf["dst"].to_numpy(dtype=np.int64)
    m = len(s_raw)
    # int32 compact ids halve the memory traffic of every later gather;
    # dense-id inputs skip the unique pass entirely
    s, d, verts = _compact_ids(np, s_raw, d_raw, m)
    # symmetrize: undirected gather needs both directions
    src = np.concatenate([s, d])
    dst = np.concatenate([d, s])
    n = len(verts)
    if edge_weight == "weighted":
        w_half = edges_pdf["weight"].to_numpy(dtype=np.float64)
        sym_w = np.concatenate([w_half, w_half])
        out_deg = np.bincount(src, weights=sym_w, minlength=n)
    else:
        sym_w = None
        out_deg = np.bincount(src, minlength=n).astype(np.float64)
    # stable: within a dst run edges keep input order, so sums reduce in
    # the same order on every run
    order = np.argsort(dst, kind="stable")
    src, dst = src[order], dst[order]
    bounds = _block_bounds(dst, n_blocks)
    weight = None
    if edge_weight == "inv_outdeg":
        weight = 1.0 / out_deg[src]
    elif edge_weight == "weighted":
        weight = sym_w[order] / out_deg[src]
    return BlockedGraph(verts, src, dst, out_deg, len(bounds) - 1, bounds, weight)


def blocked_rounds(
    spark: SparkSession,
    g: BlockedGraph,
    state0: np.ndarray,
    gather: str,
    update,
    tol: float,
    max_iter: int,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    fingerprint: str = "",
    resume: bool = True,
) -> tuple[np.ndarray, int, bool, list[dict]]:
    """Run blocked gather-scatter rounds on the driver.

    gather: "sum" (PageRank contributions) or "min" (hash-min CC).
    update(state, gathered) -> (new_state, delta); ``gathered`` is a buffer
    reused by the next round, so update must not keep it. ``spark`` is
    unused — a round launches no Spark job — and kept for callers.
    Returns (state, iterations, converged, metrics).
    """
    import time

    state = state0.copy()
    start_iter = 0
    metrics: list[dict] = []

    if checkpoint_dir and resume:
        found = _latest(checkpoint_dir, fingerprint)
        if found:
            start_iter, state, meta = found
            metrics.append({"iteration": start_iter, "resumed": True, **meta})
            if meta.get("delta", float("inf")) <= tol:
                return state, start_iter, True, metrics

    ufunc = np.minimum if gather == "min" else np.add
    fill = np.inf if gather == "min" else 0.0
    # every buffer the gather touches is allocated here, once
    blocks = g.blocks()
    width = max((hi - lo for lo, hi, _, _ in blocks), default=0)
    idx = np.empty(width, dtype=np.intp)  # np.take casts int32 indices per call otherwise
    buf = np.empty(width, dtype=np.float64)
    red = np.empty(max((len(c) for _, _, c, _ in blocks), default=0), dtype=np.float64)
    gathered = np.empty(len(g.verts), dtype=np.float64)

    converged = False
    delta = float("inf")
    i = start_iter
    for i in range(start_iter + 1, max_iter + 1):
        t0 = time.time()
        gathered.fill(fill)
        for lo, hi, cut, rows in blocks:
            k = hi - lo
            np.copyto(idx[:k], g.src[lo:hi])
            vals = np.take(state, idx[:k], out=buf[:k], mode="clip")
            if g.weight is not None:
                np.multiply(vals, g.weight[lo:hi], out=vals)
            gathered[rows] = ufunc.reduceat(vals, cut, out=red[: len(cut)])
        state, delta = update(state, gathered)
        m = {"iteration": i, "delta": float(delta), "sec": time.time() - t0}
        if checkpoint_dir and (i % checkpoint_every == 0 or delta <= tol):
            _write(checkpoint_dir, fingerprint, i, state, float(delta))
            m["checkpoint"] = True
        metrics.append(m)
        if delta <= tol:
            converged = True
            break
    return state, i, converged, metrics


def _ship_arrays(spark: SparkSession, arrays: dict[str, np.ndarray]) -> dict[str, str]:
    """Write numpy arrays as .npy files and register them with sc.addFile.

    Local mode reads them in place; cluster mode distributes once per
    executor. Returns name → file basename; a task maps them back with
    ``np.load(SparkFiles.get(name), mmap_mode="r")`` (one page-cache copy
    per node).
    """
    import tempfile
    import uuid as _uuid

    tag = _uuid.uuid4().hex[:10]
    d = tempfile.mkdtemp(prefix="tcs_blocked_")
    out = {}
    for name, arr in arrays.items():
        fname = f"tcs_{tag}_{name}.npy"
        path = os.path.join(d, fname)
        np.save(path, arr)
        spark.sparkContext.addFile(path)
        out[name] = fname
    return out


def _write(base: str, fingerprint: str, iteration: int, state: np.ndarray, delta: float):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(base, exist_ok=True)
    tmp = os.path.join(base, f".iter{iteration:06d}.tmp.parquet")
    pq.write_table(pa.table({"state": state}), tmp)
    os.replace(tmp, os.path.join(base, f"iter{iteration:06d}.parquet"))
    meta = {"iteration": iteration, "delta": delta, "fingerprint": fingerprint}
    tmpm = os.path.join(base, f".iter{iteration:06d}.tmp.json")
    with open(tmpm, "w") as f:
        json.dump(meta, f)
    os.replace(tmpm, os.path.join(base, f"iter{iteration:06d}.json"))


def _latest(base: str, fingerprint: str):
    import pyarrow.parquet as pq

    if not os.path.isdir(base):
        return None
    for name in sorted(os.listdir(base), reverse=True):
        if not (name.startswith("iter") and name.endswith(".json")):
            continue
        with open(os.path.join(base, name)) as f:
            meta = json.load(f)
        if meta.get("fingerprint") != fingerprint:
            continue
        pq_path = os.path.join(base, name.replace(".json", ".parquet"))
        if not os.path.exists(pq_path):
            continue
        state = pq.read_table(pq_path)["state"].to_numpy().copy()
        return meta["iteration"], state, meta
    return None
