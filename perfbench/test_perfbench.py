"""Tests of the benchmark itself (no Spark): generator determinism, oracles
that reject wrong answers, metric names that match BENCHMARK.json, and the
ending of processes a run leaves behind.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402

SMALL = gen.Spec(n_pages=3000, vocab=5000)


@pytest.fixture(scope="module")
def crawl():
    return gen.crawls(gen.MAIN_SEED, SMALL)


def test_generator_is_deterministic_per_seed(crawl):
    again = gen.crawls(gen.MAIN_SEED, SMALL)
    assert crawl[0].equals(again[0]) and crawl[1].equals(again[1])
    holdout = gen.crawls(gen.HOLDOUT_SEED, SMALL)
    assert not crawl[0].equals(holdout[0])


def test_generator_schema_and_recrawl_overlap(crawl):
    t1, t2, _ = crawl
    assert t1.column_names == ["url", "warc_ts", "html", "text", "lang"]
    assert t1.num_rows == t2.num_rows == SMALL.n_pages
    shared = set(t1["url"].to_pylist()) & set(t2["url"].to_pylist())
    assert len(shared) == round(SMALL.n_pages * SMALL.recrawl_overlap)
    assert all(u.startswith("https://site") and ".example/" in u for u in t1["url"].to_pylist()[:50])


def test_planted_duplicates_are_the_only_duplicates(crawl):
    t1, _, planted = crawl
    texts = t1["text"].to_pylist()
    counts = pc.value_counts(t1["text"]).to_pylist()
    dup_sizes = sorted(c["counts"] for c in counts if c["counts"] > 1)
    assert dup_sizes == sorted(len(g) for g in planted.exact_groups)
    for g in planted.exact_groups:
        assert len({texts[i] for i in g}) == 1
    for a, b in planted.near_pairs[:50]:
        assert texts[a] != texts[b]
        assert oracles.jaccard(texts[a], texts[b]) > 0.5


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == run.per_layer()
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


# -- each oracle rejects a deliberately wrong answer -------------------------


@pytest.fixture(scope="module")
def samples():
    rng = np.random.default_rng(0)
    occ = rng.random((64, 64)) < 0.4
    cy, cx = np.nonzero(occ)
    return cx, cy, rng.random(len(cx))


def _cells(cx, cy, h, mask):
    return list(zip(cx[mask].tolist(), cy[mask].tolist())), h[mask].tolist()


def test_polygon_oracle_rejects_a_shifted_polygon(samples):
    cx, cy, h = samples
    px, py = oracles.positions(cx, cy)
    poly = [(10.3, 12.1), (40.7, 15.2), (35.5, 44.9), (12.2, 30.4)]
    right = oracles.polygon_mask(px, py, poly)
    assert oracles.check_cells("p", *_cells(cx, cy, h, right), cx, cy, h, right) is None
    shifted = oracles.polygon_mask(px, py, [(x + 1.0, y) for x, y in poly])
    assert oracles.check_cells("p", *_cells(cx, cy, h, shifted), cx, cy, h, right)


def test_polygon_oracle_is_orientation_independent(samples):
    cx, cy, _ = samples
    px, py = oracles.positions(cx, cy)
    poly = [(10.3, 12.1), (40.7, 15.2), (35.5, 44.9), (12.2, 30.4)]
    assert np.array_equal(
        oracles.polygon_mask(px, py, poly), oracles.polygon_mask(px, py, poly[::-1] + [poly[-1]])
    )


def test_box_line_and_cell_oracles_reject_wrong_answers(samples):
    cx, cy, h = samples
    px, py = oracles.positions(cx, cy)
    for want, wrong in [
        (oracles.box_mask(px, py, 5, 5, 20, 30), oracles.box_mask(px, py, 5, 5, 21, 30)),
        (oracles.line_mask(px, py, 3, 4, 1, 2, 2.5), oracles.line_mask(px, py, 3, 4, 1, 2, 3.5)),
        (oracles.cell_mask(cx, cy, 1, 2, 4), oracles.cell_mask(cx, cy, 2, 1, 4)),
    ]:
        assert want.sum() != wrong.sum()
        assert oracles.check_cells("q", *_cells(cx, cy, h, wrong), cx, cy, h, want)
    keys, vals = _cells(cx, cy, h, want)
    vals[0] += 1.0
    assert "values differ" in oracles.check_cells("q", keys, vals, cx, cy, h, want)


def test_knn_oracle_rejects_a_dropped_neighbour(samples):
    cx, cy, _ = samples
    probes = [(0, 20.2, 30.7), (1, 50.5, 3.3)]
    want = oracles.knn(cx, cy, probes, 4)
    assert len(want) == 8 and oracles.check_knn("k", want, want) is None
    assert oracles.check_knn("k", want[:-1], want)
    far = (1, int(cx[0]), int(cy[0]), 99.0)
    assert oracles.check_knn("k", want[:-1] + [far], want)


def test_raster_oracles_reject_wrong_counts_and_values():
    rng = np.random.default_rng(1)
    cx, cy = rng.integers(0, 16, 500), rng.integers(0, 16, 500)
    tl = rng.integers(10, 300, 500)
    counts, mean = oracles.cell_stats(cx, cy, tl, 16)
    assert counts.sum() == 500
    assert oracles.check_raster("r", counts > 0, counts, mean, counts, mean) is None
    bad = counts.copy()
    bad[np.nonzero(counts)[0][0], np.nonzero(counts)[1][0]] += 1
    assert oracles.check_raster("r", counts > 0, bad, mean, counts, mean)
    assert oracles.check_raster("r", counts > 0, counts, mean * 1.001, counts, mean)
    pc_, pm = oracles.rollup(counts, mean)
    assert pc_.shape == (8, 8) and np.array_equal(pc_ > 0, counts.reshape(8, 2, 8, 2).sum(axis=(1, 3)) > 0)


def test_merge_oracles():
    c1 = np.array([[1, 0], [2, 0]])
    c2 = np.array([[0, 3], [5, 0]])
    m1 = np.where(c1 > 0, 1.0, np.nan)
    m2 = np.where(c2 > 0, 2.0, np.nan)
    c, m = oracles.merge_winner(c1, m1, c2, m2)
    assert c.tolist() == [[1, 3], [5, 0]] and m[1, 0] == 2.0 and m[0, 0] == 1.0
    # base e1 cells: (0,0) fully covered, (1,0) half covered, (0,1) uncovered
    patch = np.zeros((4, 4), bool)
    patch[0:2, 0:2] = True
    patch[0, 2:4] = True
    base = np.array([[True, True], [True, False]])
    assert oracles.fragment_counts(patch, base) == (6 + 2, 1)


def test_dedup_oracles_reject_wrong_answers():
    texts = ["a b c d e f", "a b c d e f", "a b c d e g", "x y z w v u"]
    groups = [np.array([0, 1])]
    assert oracles.check_exact_groups([(0, 2)], groups) is None
    assert oracles.check_exact_groups([(0, 3)], groups)
    assert oracles.check_exact_groups([], groups)
    assert oracles.check_candidates({(0, 1), (0, 2)}, groups) is None
    assert oracles.check_candidates({(0, 2)}, groups)
    cands = {(0, 1), (0, 2), (0, 3)}
    right = {(0, 1): 1.0, (0, 2): 0.6}
    assert oracles.jaccard(texts[0], texts[2]) == 0.6
    assert oracles.check_jaccard(right, cands, texts.__getitem__, 0.5) is None
    assert oracles.check_jaccard({(0, 1): 1.0}, cands, texts.__getitem__, 0.5)
    assert oracles.check_jaccard({**right, (0, 2): 0.7}, cands, texts.__getitem__, 0.5)
    assert oracles.check_jaccard({**right, (0, 3): 0.0}, cands, texts.__getitem__, 0.5)
    hexes = {0: "aa", 1: "aa", 2: "bb", 3: "cc"}
    assert oracles.check_simhash_groups(hexes, 4, groups) is None
    assert oracles.check_simhash_groups({**hexes, 1: "ab"}, 4, groups)
    assert oracles.check_simhash_groups(hexes, 5, groups)


def test_jaccard_rounds_half_up_like_sql():
    assert oracles.sql_round6(93 / 128) == 0.726563  # 0.7265625: a decimal tie
    assert oracles.sql_round6(1 / 3) == 0.333333
    assert oracles.sql_round6(2 / 3) == 0.666667


def test_end_descendants_waits_for_and_ends_every_descendant():
    harness.become_subreaper()
    # a shell that forks a long sleep and exits: the sleep is orphaned
    subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 &"], check=True)
    quick = subprocess.Popen(["sleep", "0.2"])
    orphans = [p for p in harness.process_tree(os.getpid()) if p != os.getpid()]
    assert quick.pid in orphans and len(orphans) == 2
    signalled = harness.end_descendants(grace_s=1.0)
    assert [p for p in orphans if p != quick.pid] == signalled
    assert harness.process_tree(os.getpid()) == [os.getpid()]
