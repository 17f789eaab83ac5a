"""Batched kNN against an independent numpy brute force, on the samples
path (``query.knn_join``) and the block path (``blocks.knn_join_blocks``),
plus the plan-shape guard of their shared one-plan design."""

import math
from contextlib import contextmanager

import numpy as np
import pytest

from aardvark_geometry_quadtree_spark.operators import blocks as B
from aardvark_geometry_quadtree_spark.operators import query as Q

SCHEMA = "cx long, cy long, e int, height double"
POS_SCHEMA = "pid long, px double, py double"


def _oracle(rows, probes, k):
    """Per pid, the k nearest ``(cx, cy, e, height, dist)`` by cell-center
    distance, ties broken by (dist, cx, cy)."""
    out = {pid: [] for pid, _, _ in probes}
    if not rows:
        return out
    cx, cy, e = (np.array([r[i] for r in rows], dtype=np.int64) for i in range(3))
    qx = (cx + 0.5) * np.power(2.0, e)
    qy = (cy + 0.5) * np.power(2.0, e)
    for pid, px, py in probes:
        d = np.sqrt((qx - px) * (qx - px) + (qy - py) * (qy - py))
        for i in np.lexsort((cy, cx, d))[:k]:
            out[pid].append((int(cx[i]), int(cy[i]), int(e[i]), rows[i][3], float(d[i])))
    return out


def _same(a, b):
    """Equal layer values, where None and NaN both mean a hole."""
    hole = lambda v: v is None or (isinstance(v, float) and math.isnan(v))
    return (hole(a) and hole(b)) or a == b


def _got(df):
    """Per pid, the rows in (dist, cx, cy) order."""
    out = {}
    for r in df.collect():
        out.setdefault(r["pid"], []).append((r["cx"], r["cy"], r["e"], r["height"], r["dist"]))
    return {p: sorted(v, key=lambda t: (t[4], t[0], t[1])) for p, v in out.items()}


def _check(got, want):
    assert {p for p, v in want.items() if v} == set(got)
    for pid, rows in want.items():
        g = got.get(pid, [])
        assert [t[:3] for t in g] == [t[:3] for t in rows], pid
        assert all(_same(a[3], b[3]) for a, b in zip(g, rows)), pid
        assert all(abs(a[4] - b[4]) <= 1e-12 * max(1.0, b[4]) for a, b in zip(g, rows)), pid


def _both_paths(spark, rows, probes, k, bits=2):
    s = spark.createDataFrame(rows, SCHEMA)
    pos = spark.createDataFrame(probes, POS_SCHEMA)
    blk = B.pack_blocks(s, bits=bits)
    return {
        "samples": Q.knn_join(s, pos, k),
        "blocks": B.knn_join_blocks(blk, pos, k, layer_types={"height": "double"}),
    }


def _random_rows(seed):
    """Unique cells at exponents 0 and 1 around the origin, about one
    height in six a NaN or NULL hole."""
    rng = np.random.default_rng(seed)
    rows = []
    for e, n, span in ((0, 150, 24), (1, 40, 10)):
        cells = {(int(x), int(y)) for x, y in rng.integers(-span, span, (n, 2))}
        for x, y in sorted(cells):
            u = rng.random()
            h = None if u < 0.08 else float("nan") if u < 0.16 else float(rng.normal(10, 5))
            rows.append((x, y, e, h))
    return rows


@pytest.mark.parametrize("seed", [3, 11])
def test_knn_matches_brute_force(spark, seed):
    """Negative coordinates, two exponents and holes, with probes inside
    the data, on cell corners and far outside it."""
    rows = _random_rows(seed)
    rng = np.random.default_rng(seed + 1000)
    probes = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(-30, 30, (6, 2)))]
    probes += [(6, 0.0, 0.0), (7, -4.0, 2.0), (8, 5e4, -7e4), (9, -1e6, 1e6)]
    k = 7
    want = _oracle(rows, probes, k)
    for path, df in _both_paths(spark, rows, probes, k).items():
        got = _got(df)
        assert all(len(got[p]) == k for p, _, _ in probes), path
        _check(got, want)


def test_knn_fewer_than_k_and_empty_table(spark):
    rows = [(0, 0, 0, 1.0), (-5, 5, 0, None), (2, -3, 1, 2.5)]
    probes = [(0, 100.0, 100.0), (1, -0.5, 0.25)]
    for df in _both_paths(spark, rows, probes, 5).values():
        got = _got(df)
        assert all(len(v) == 3 for v in got.values())
        _check(got, _oracle(rows, probes, 5))
    for df in _both_paths(spark, [], probes, 5).values():
        assert df.count() == 0


def test_knn_exact_tie_breaks_on_cx_then_cy(spark):
    """A probe equidistant from several centers keeps the smallest cx,
    then the smallest cy."""
    rows = [(0, 0, 0, 1.0), (1, 0, 0, 2.0), (0, 1, 0, 3.0), (1, 1, 0, 4.0), (5, 5, 0, 5.0)]
    # (1.0, 1.0) is 0.5*sqrt(2) from all four centers of the 2x2 square;
    # (1.0, 0.5) is 0.5 from (0,0) and (1,0)
    probes = [(0, 1.0, 1.0), (1, 1.0, 0.5)]
    for k in (1, 2, 3):
        want = _oracle(rows, probes, k)
        for df in _both_paths(spark, rows, probes, k).values():
            _check(_got(df), want)
    got = _got(_both_paths(spark, rows, probes, 3)["samples"])
    assert [t[:2] for t in got[0]] == [(0, 0), (0, 1), (1, 0)]
    assert [t[:2] for t in got[1]] == [(0, 0), (1, 0), (0, 1)]


@contextmanager
def _job_group(spark, name):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield lambda: list(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _unwrap(plan):
    """Step through AQE's and codegen's wrapper nodes to the operator."""
    while True:
        name = plan.nodeName()
        if name == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        elif name.endswith("QueryStage"):
            plan = plan.plan()
        elif name == "InputAdapter" or name.startswith("WholeStageCodegen"):
            plan = plan.child()
        else:
            return plan


def _plan_nodes(plan):
    plan = _unwrap(plan)
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _names(attrs):
    return [attrs.apply(i).name() for i in range(attrs.size())]


@pytest.mark.parametrize("path", ["samples", "blocks"])
def test_knn_plan_shape(spark, path):
    """One lazy plan: building it runs no job; the probes are the broadcast
    side of the nested-loop join; the only shuffle is the per-probe top-k
    Exchange, fed by a partial WindowGroupLimit (k rows per probe per task)."""
    rows = _random_rows(5)
    probes = [(0, 1.5, -2.5), (1, 40.0, 40.0), (2, -7.0, 3.0)]
    s = spark.createDataFrame(rows, SCHEMA)
    pos = spark.createDataFrame(probes, POS_SCHEMA)
    # a staged input, so every Exchange in the plan belongs to the kNN
    units = s.localCheckpoint() if path == "samples" else B.pack_blocks(s, bits=2).localCheckpoint()
    with _job_group(spark, f"knn-plan-{path}") as jobs:
        if path == "samples":
            df = Q.knn_join(units, pos, 4)
        else:
            df = B.knn_join_blocks(units, pos, 4, layer_types={"height": "double"})
        assert jobs() == []
        _check(_got(df), _oracle(rows, probes, 4))
        assert jobs(), "the job-group probe saw no job at all"

    nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan()))
    names = [n.nodeName() for n in nodes]
    shuffles = [n for n in nodes if n.nodeName() == "Exchange"]
    assert len(shuffles) == 1, names
    below = _unwrap(shuffles[0].child())
    assert below.nodeName() == "WindowGroupLimit", names
    assert below.mode().toString() == "Partial"

    (bnlj,) = [n for n in nodes if n.nodeName() == "BroadcastNestedLoopJoin"]
    side = bnlj.buildSide().toString()
    build = _unwrap(bnlj.right() if side == "BuildRight" else bnlj.left())
    assert build.nodeName() == "BroadcastExchange"
    assert _names(build.output()) == ["pid", "px", "py"]
