from __future__ import annotations

from tests.conftest import TINY, make_edges
from triangle_counting_spark.operators.components import (
    connected_components,
    connected_components_blocked,
)
from triangle_counting_spark.operators.pagerank import pagerank, pagerank_blocked


def test_blocked_cc_matches_shuffle(spark):
    for name in ("two_triangles", "bowtie", "star5"):
        e = make_edges(spark, TINY[name][0])
        a = {r.v: r.component for r in connected_components(e).state.collect()}
        b = {r.v: r.component for r in connected_components_blocked(e).state.collect()}
        assert a == b, name


def test_blocked_lp_matches_shuffle(spark):
    from triangle_counting_spark.operators.labelprop import (
        label_propagation,
        label_propagation_blocked,
    )

    for name in ("two_triangles", "K5", "bowtie", "path4"):
        e = make_edges(spark, TINY[name][0])
        a = {r.v: r.label for r in label_propagation(e, max_iter=7).state.collect()}
        b = {
            r.v: r.label
            for r in label_propagation_blocked(e, max_iter=7).state.collect()
        }
        assert a == b, name


def test_blocked_cc_long_path_few_rounds(spark):
    e = make_edges(spark, [(i, i + 1) for i in range(199)])
    res = connected_components_blocked(e, max_iter=6)
    assert res.converged, f"took {res.iterations}"
    assert res.iterations <= 4  # driver pointer jumping collapses the chain
    assert {r.component for r in res.state.collect()} == {0}


def test_blocked_matches_shuffle_pagerank(spark):
    for name in ("bowtie", "two_triangles", "star5"):
        e = make_edges(spark, TINY[name][0])
        a = {r.v: r["rank"] for r in pagerank(e, tol=1e-10, max_iter=60).state.collect()}
        b = {
            r.v: r["rank"]
            for r in pagerank_blocked(e, tol=1e-10, max_iter=60).state.collect()
        }
        assert set(a) == set(b)
        for v in a:
            assert abs(a[v] - b[v]) < 1e-12, (name, v)


def test_blocked_resume_bit_identical(spark, tmp_path):
    e = make_edges(spark, TINY["bowtie"][0])
    ck = str(tmp_path / "ck")
    r1 = pagerank_blocked(e, tol=1e-8, max_iter=60, checkpoint_dir=ck, checkpoint_every=5)
    r2 = pagerank_blocked(e, tol=1e-8, max_iter=60, checkpoint_dir=ck, checkpoint_every=5)
    assert r2.metrics and r2.metrics[0].get("resumed")
    a = {r.v: r["rank"] for r in r1.state.collect()}
    b = {r.v: r["rank"] for r in r2.state.collect()}
    assert a == b


def test_blocked_weighted_pagerank_matches_shuffle(spark):
    from triangle_counting_spark.operators.pagerank import (
        pagerank_blocked,
        pagerank_fixed,
    )

    e = spark.createDataFrame(
        [(1, 2, 3.0), (2, 3, 1.0), (1, 3, 1.0), (3, 4, 2.0)],
        "src long, dst long, weight double",
    )
    sh = {r.v: r.rank for r in pagerank_fixed(e, 10, weight_col="weight").collect()}
    bl = {
        r.v: r.rank
        for r in pagerank_blocked(
            e, tol=-1.0, max_iter=10, weight_col="weight"
        ).state.collect()
    }
    assert set(sh) == set(bl)
    for v in sh:
        assert abs(sh[v] - bl[v]) < 1e-12, (v, sh[v], bl[v])


# ------------------------------------------------- several blocks, hub block


def _hub_graph():
    """Hub 0 joined to 1..120, a seeded sparse graph on 1..199, a path
    300..320 and a triangle 400..402: three components, ~390 edges."""
    import numpy as np

    rng = np.random.default_rng(11)
    pairs = {(0, v) for v in range(1, 121)}
    while len(pairs) < 370:
        a, b = (int(x) for x in rng.integers(1, 200, 2))
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    pairs |= {(v, v + 1) for v in range(300, 320)}
    pairs |= {(400, 401), (401, 402), (400, 402)}
    return sorted(pairs)


def test_build_blocked_splits_by_edge_count(monkeypatch):
    import numpy as np
    import pandas as pd

    from triangle_counting_spark.plans import blocked

    monkeypatch.setattr(blocked, "BLOCK_EDGES", 64)
    pairs = _hub_graph()
    g = blocked.build_blocked(pd.DataFrame(pairs, columns=["src", "dst"]), 2)
    e = 2 * len(pairs)
    b = g.block_bounds
    assert g.n_blocks == len(b) - 1 > 2  # the argument is only the minimum
    assert b[0] == 0 and b[-1] == e and (np.diff(b) > 0).all()
    # every bound sits on a dst-run start: no dst straddles two blocks
    assert all(g.dst[x] != g.dst[x - 1] for x in b[1:-1])
    # the hub's 120 edges exceed one block and stay together in block 0
    assert b[1] >= 120 > 64
    blocks = g.blocks()
    assert len(blocks) == g.n_blocks
    assert sum(len(rows) for _, _, _, rows in blocks) == len(g.verts)


def test_blocked_rounds_launch_no_spark_job():
    """The round loop runs on the driver: it works with no session."""
    import numpy as np
    import pandas as pd

    from triangle_counting_spark.plans.blocked import blocked_rounds, build_blocked

    g = build_blocked(pd.DataFrame(_hub_graph(), columns=["src", "dst"]), 4)
    n = len(g.verts)

    def update(state, gathered):
        new = np.minimum(state, gathered)
        return new, float((new != state).sum())

    state, iters, converged, metrics = blocked_rounds(
        None, g, np.arange(n, dtype=np.float64), "min", update, tol=0.0, max_iter=400
    )
    assert converged and all("sec" in m for m in metrics)
    comp = g.verts[state.astype(np.int64)]
    assert set(comp.tolist()) == {0, 300, 400}


def test_blocked_matches_shuffle_across_blocks(spark, monkeypatch):
    """Blocked == shuffle on a graph cut into many more blocks than the
    caller asked for, with a hub longer than one block: a round that
    iterated the caller's block count would skip blocks."""
    from triangle_counting_spark.operators.labelprop import (
        label_propagation,
        label_propagation_blocked,
    )
    from triangle_counting_spark.plans import blocked

    monkeypatch.setattr(blocked, "BLOCK_EDGES", 64)
    e = make_edges(spark, _hub_graph()).cache()

    a = {r.v: r["rank"] for r in pagerank(e, tol=-1.0, max_iter=15).state.collect()}
    b = {
        r.v: r["rank"]
        for r in pagerank_blocked(e, tol=-1.0, max_iter=15, n_blocks=2).state.collect()
    }
    assert set(a) == set(b)
    assert max(abs(a[v] - b[v]) for v in a) < 1e-12

    a = {r.v: r.component for r in connected_components(e, tier="shuffle").state.collect()}
    b = {
        r.v: r.component
        for r in connected_components_blocked(e, n_blocks=2).state.collect()
    }
    assert a == b and set(a.values()) == {0, 300, 400}

    a = {r.v: r.label for r in label_propagation(e, max_iter=5).state.collect()}
    b = {
        r.v: r.label
        for r in label_propagation_blocked(e, max_iter=5, n_blocks=2).state.collect()
    }
    assert a == b
    e.unpersist()


def test_blocked_cc_dispatch_honours_max_iter(spark):
    """connected_components(tier="blocked") passes the caller's budget on."""
    e = make_edges(spark, [(i, i + 1) for i in range(49)])
    res = connected_components(e, tier="blocked", max_iter=1)
    assert res.iterations == 1 and not res.converged
    assert {r.component for r in res.state.collect()} == {0}
