"""Block-raster engine parity: pack/unpack roundtrip, dominance-merge and
pyramid differential tests against the sample-level operators, polygon
query parity, and the Exchange-free bucketed merge plan."""

import pytest
from pyspark.sql import functions as F

from aardvark_geometry_quadtree_spark.operators import blocks as B
from aardvark_geometry_quadtree_spark.operators.merge import Dominance, merge_samples
from aardvark_geometry_quadtree_spark.operators.pyramid import build_pyramid
from aardvark_geometry_quadtree_spark.operators.query import inside_polygon


def _mk(spark, seed, n=400, span=40, holes=True):
    """Deterministic sample set with negative coords, a float layer with
    holes, and an int layer with holes."""
    df = spark.range(n).select(
        ((F.col("id") * (17 + seed)) % span - span // 2).cast("long").alias("cx"),
        ((F.col("id") * (29 + seed)) % span - span // 2).cast("long").alias("cy"),
        F.lit(0).cast("int").alias("e"),
        F.when((F.col("id") % 7) == 0, F.lit(None)).otherwise(
            (F.col("id") * 1.5 + seed)).alias("height"),
        F.when((F.col("id") % 5) == 0, F.lit(None)).otherwise(
            F.col("id") * 3 + seed).cast("bigint").alias("n"),
    )
    if not holes:
        df = df.withColumn("height", F.coalesce("height", F.lit(0.0))).withColumn(
            "n", F.coalesce("n", F.lit(0)))
    # one row per cell (merge precondition): keep max id per cell
    return df.groupBy("cx", "cy", "e").agg(
        F.max("height").alias("height"), F.max("n").alias("n")
    )


def _cells(df, layers=("height", "n")):
    return {
        (r["cx"], r["cy"], r["e"]): tuple(r[l] for l in layers) for r in df.collect()
    }


def test_pack_unpack_roundtrip(spark):
    s = _mk(spark, 1)
    back = B.unpack_blocks(B.pack_blocks(s, bits=3), layer_types={"height": "double", "n": "bigint"})
    assert dict(back.dtypes)["n"] == "bigint"
    assert _cells(back) == _cells(s)


@pytest.mark.parametrize("engine", ["kernel", "sql"])
@pytest.mark.parametrize("dom", list(Dominance))
def test_merge_blocks_matches_sample_merge(spark, dom, engine):
    a = _mk(spark, 1)
    b = _mk(spark, 2)
    expect = _cells(
        merge_samples(a, b, dom, layers=["height", "n"],
                      first_exponents=[0], second_exponents=[0])
    )
    got = _cells(
        B.unpack_blocks(
            B.merge_blocks(B.pack_blocks(a, 3), B.pack_blocks(b, 3), dom, engine=engine)
        )
    )
    assert got == expect


@pytest.mark.parametrize("engine", ["kernel", "sql"])
def test_merge_blocks_winner_hole_stays_hole(spark, engine):
    # wholesale winner semantics: first side present with a NULL layer value
    # beats a defined second-side value (Query.fs:79-196 per-sample rule)
    a = spark.createDataFrame([(0, 0, 0, None, None)], "cx long, cy long, e int, height double, n bigint")
    b = spark.createDataFrame([(0, 0, 0, 9.0, 9)], "cx long, cy long, e int, height double, n bigint")
    got = _cells(B.unpack_blocks(
        B.merge_blocks(B.pack_blocks(a, 2), B.pack_blocks(b, 2), "first", engine=engine)
    ))
    assert got == {(0, 0, 0): (None, None)}


def test_pyramid_blocks_matches_build_pyramid(spark):
    s = _mk(spark, 3)
    blk = B.pack_blocks(s, bits=3)
    got = B.unpack_blocks(B.pyramid_blocks(blk, levels=2))
    exp = build_pyramid(s, levels=2, layers=["height", "n"], include_base=False)
    ge = {k: (None if v[0] is None else round(v[0], 9), v[1]) for k, v in _cells(got).items()}
    ee = {k: (None if v[0] is None else round(v[0], 9), v[1]) for k, v in _cells(exp).items()}
    assert ge == ee


def test_pyramid_blocks_include_base_and_level_cap(spark):
    s = _mk(spark, 4)
    blk = B.pack_blocks(s, bits=2)
    withbase = B.pyramid_blocks(blk, levels=1, include_base=True)
    assert _cells(B.unpack_blocks(withbase.filter(F.col("e") == 0))) == _cells(s)
    with pytest.raises(Exception, match="levels exceeds"):
        B.pyramid_blocks(blk, levels=3).count()


def test_polygon_blocks_parity(spark):
    s = _mk(spark, 5)
    blk = B.pack_blocks(s, bits=3)
    poly = [(-12.3, -11.7), (13.1, -10.2), (12.4, 12.8), (-11.9, 11.1)]
    exp = inside_polygon(s, poly)
    got = B.inside_polygon_blocks(blk, poly)
    assert _cells(got) == _cells(exp)
    n = B.polygon_count_blocks(blk, poly).collect()[0]["n_inside"]
    assert n == exp.count()


@pytest.mark.parametrize("dom", [d.value for d in Dominance])
@pytest.mark.parametrize("delta", [1, 2])
def test_merge_blocks_mixed_matches_merge_samples(spark, dom, delta):
    """Cross-exponent block merge == merge_samples row-for-row: passthrough
    rows at original exponents, fragments as the minimal quadtree
    decomposition valued from the coarse parent."""
    fine = _mk(spark, 11)
    coarse = _mk(spark, 12, n=150, span=20).withColumn("e", F.lit(delta).cast("int"))
    exp = merge_samples(
        coarse, fine, dom, layers=["height", "n"],
        first_exponents=[delta], second_exponents=[0],
    )
    m = B.merge_blocks_mixed(
        B.pack_blocks(coarse, 3), B.pack_blocks(fine, 3), dom,
        first_exponents=[delta], second_exponents=[0],
    )
    got = B.unpack_blocks(m, layer_types={"height": "double", "n": "bigint"})
    assert _cells(got) == _cells(exp)


def test_merge_blocks_mixed_multi_exponent_sides(spark):
    """Each side may itself hold several exponents (internally
    non-overlapping); the anchor kernel must resolve all pairings."""
    # side A: coarse e2 cells on the left half, fine e0 cells far right
    a0 = _mk(spark, 21, n=80, span=16).filter("cx >= 24")
    a2 = _mk(spark, 22, n=80, span=8).withColumn("e", F.lit(2).cast("int")).filter("cx < 2")
    a = a0.unionByName(a2)
    # side B: e1 cells across the middle
    b1 = _mk(spark, 23, n=120, span=24).withColumn("e", F.lit(1).cast("int"))
    exp = merge_samples(
        a, b1, "more_detailed_or_second", layers=["height", "n"],
        first_exponents=[0, 2], second_exponents=[1],
    )
    m = B.merge_blocks_mixed(
        B.pack_blocks(a, 3), B.pack_blocks(b1, 3), "more_detailed_or_second",
        first_exponents=[0, 2], second_exponents=[1],
    )
    got = B.unpack_blocks(m, layer_types={"height": "double", "n": "bigint"})
    assert _cells(got) == _cells(exp)


def test_merge_blocks_mixed_same_exponent_degenerates(spark):
    """Equal exponent sets route to the same-exponent merge_blocks plan."""
    a = B.pack_blocks(_mk(spark, 31), 3)
    b = B.pack_blocks(_mk(spark, 32), 3)
    m = B.merge_blocks_mixed(a, b, "first", first_exponents=[0], second_exponents=[0])
    d = B.merge_blocks(a, b, "first")
    assert _cells(B.unpack_blocks(m)) == _cells(B.unpack_blocks(d))


def test_merge_blocks_mixed_span_guard(spark):
    """A local exponent span past max_span_bits fails loudly, not by OOM."""
    fine = _mk(spark, 41, n=20, span=8)
    coarse = _mk(spark, 42, n=20, span=8).withColumn("e", F.lit(6).cast("int"))
    m = B.merge_blocks_mixed(
        B.pack_blocks(coarse, 3), B.pack_blocks(fine, 3), "first",
        first_exponents=[6], second_exponents=[0], max_span_bits=5,
    )
    with pytest.raises(Exception, match="max_span_bits"):
        m.collect()


def test_polygon_blocks_parity_rel_zero_boundary(spark):
    """rel=(0,0) puts sample positions on cell MIN corners: a cell whose
    position lies exactly on the polygon bbox max can sit on a block's min
    edge (cell (8,4) with poly max x=8.0 at bits=3 starts block bx=1). The
    block-bbox prune must be inclusive on the max side or this cell is
    dropped while inside_polygon keeps it."""
    rows = [(8, 4), (7, 4), (3, 3), (9, 4), (8, 9)]
    s = spark.createDataFrame(
        [(cx, cy, 0, float(cx * 10 + cy), cx + cy) for cx, cy in rows],
        "cx long, cy long, e int, height double, n bigint",
    )
    poly = [(0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0)]
    blk = B.pack_blocks(s, bits=3)
    exp = inside_polygon(s, poly, rel=(0.0, 0.0))
    got = B.inside_polygon_blocks(blk, poly, rel=(0.0, 0.0))
    assert _cells(got) == _cells(exp)
    assert (8, 4, 0) in _cells(got)  # the boundary cell itself
    n = B.polygon_count_blocks(blk, poly, rel=(0.0, 0.0)).collect()[0]["n_inside"]
    assert n == exp.count()


def test_merge_blocks_sql_engine_emits_n_samples(spark):
    """engine='sql' and engine='kernel' share one output schema, including
    the occupied-cell count."""
    a = B.pack_blocks(_mk(spark, 3), 3)
    b = B.pack_blocks(_mk(spark, 4), 3)
    ms = B.merge_blocks(a, b, "first", engine="sql")
    mk = B.merge_blocks(a, b, "first", engine="kernel")
    assert [c for c in ms.columns] == [c for c in mk.columns]
    got = {(r["bx"], r["by"], r["e"]): r["n_samples"] for r in ms.collect()}
    exp = {(r["bx"], r["by"], r["e"]): r["n_samples"] for r in mk.collect()}
    assert got == exp


def test_bucketed_merge_blocks_no_exchange(spark, tmp_path):
    """The co-location contract: two block tables bucketed on (bx, by) merge
    with no Exchange in the physical plan."""
    import shutil

    for t in ("blk_a_t", "blk_b_t"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    a = B.pack_blocks(_mk(spark, 6), 3)
    b = B.pack_blocks(_mk(spark, 7), 3)
    B.save_blocks_bucketed(a, "blk_a_t", n_buckets=4)
    B.save_blocks_bucketed(b, "blk_b_t", n_buckets=4)
    ta, tb = spark.table("blk_a_t"), spark.table("blk_b_t")
    m = B.merge_blocks(ta, tb, "more_detailed_or_first")
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # and the exchange-free plan returns the same cells as the direct merge
    direct = B.merge_blocks(a, b, "more_detailed_or_first")
    assert _cells(B.unpack_blocks(m)) == _cells(B.unpack_blocks(direct))
    spark.sql("DROP TABLE IF EXISTS blk_a_t")
    spark.sql("DROP TABLE IF EXISTS blk_b_t")


def test_pages_to_blocks_matches_hash_agg_ingest(spark):
    """The bincount block ingest must equal pack_blocks(pages_to_samples(..))
    bitwise (height sums integer-valued doubles -> exact)."""
    from aardvark_geometry_quadtree_spark.sources.webpages import (
        geocode, pages_to_blocks, pages_to_samples, synth_webpages)

    pages = geocode(synth_webpages(spark, 4000, nsites=60, seed=11), extent=128.0)
    via_cells = B.pack_blocks(
        pages_to_samples(pages, e=0).withColumn("n_pages", F.col("n_pages").cast("bigint")),
        bits=4,
    )
    direct = pages_to_blocks(pages, e=0, bits=4)
    key = lambda df: _cells(B.unpack_blocks(df), layers=("height", "n_pages"))
    assert key(direct) == key(via_cells)


def test_inside_box_blocks_parity(spark):
    from aardvark_geometry_quadtree_spark.operators.query import inside_box

    s = _mk(spark, 8)
    blk = B.pack_blocks(s, bits=3)
    # box edges chosen to land exactly on cell centers (inclusive-bound edge)
    got = _cells(B.inside_box_blocks(blk, -10.5, -9.5, 10.5, 9.5))
    exp = _cells(inside_box(s, -10.5, -9.5, 10.5, 9.5))
    assert got == exp and len(got) > 0
    # rel=0.0 position exactly on the max bound, sitting on a block min edge
    got0 = _cells(B.inside_box_blocks(blk, 0.0, 0.0, 8.0, 8.0, rel=(0.0, 0.0)))
    exp0 = _cells(inside_box(s, 0.0, 0.0, 8.0, 8.0, rel=(0.0, 0.0)))
    assert got0 == exp0


def test_sample_positions_blocks_parity(spark):
    """Block-path point lookup == query.sample_positions, including
    finest-exponent-wins across a mixed-exponent block table, with NO
    row explosion in the plan (element_at indexing, not posexplode)."""
    from aardvark_geometry_quadtree_spark.operators.query import sample_positions

    s0 = _mk(spark, 51)
    s1 = _mk(spark, 52, n=60, span=12).withColumn("e", F.lit(1).cast("int"))
    s = s0.unionByName(s1)
    pos = spark.createDataFrame(
        [(0, 3.5, 4.5), (1, -9.2, 7.9), (2, 1000.0, 1000.0), (3, -0.4, -0.4)],
        "pid long, px double, py double",
    )
    exp = sample_positions(s, pos, exponents=[0, 1])
    blk = B.pack_blocks(s, bits=3)
    got = B.sample_positions_blocks(
        blk, pos, bits=3, exponents=[0, 1],
        layer_types={"height": "double", "n": "bigint"},
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, plan  # no posexplode anywhere
    key = lambda df: {
        r["pid"]: (r["cx"], r["cy"], r["e"], r["height"], r["n"]) for r in df.collect()
    }
    assert key(got) == key(exp)


def test_single_exponent_lookup_has_no_window(spark):
    """With one exponent each probe hits at most one cell: both lookup
    paths return the join with no Window, and the same rows as the
    windowed plan of a two-exponent call whose second level is empty."""
    from aardvark_geometry_quadtree_spark.operators.query import sample_positions

    s = _mk(spark, 53)
    blk = B.pack_blocks(s, bits=3)
    hits = [(i, r["cx"] + 0.25, r["cy"] + 0.75) for i, r in enumerate(s.limit(3).collect())]
    pos = spark.createDataFrame(hits + [(3, 1000.0, 1000.0)], "pid long, px double, py double")
    lt = {"height": "double", "n": "bigint"}
    cases = [
        (sample_positions(s, pos, exponents=[0]), sample_positions(s, pos, exponents=[0, 9])),
        (
            B.sample_positions_blocks(blk, pos, bits=3, exponents=[0], layer_types=lt),
            B.sample_positions_blocks(blk, pos, bits=3, exponents=[0, 9], layer_types=lt),
        ),
    ]
    for one, two in cases:
        assert "Window" not in one._jdf.queryExecution().executedPlan().toString()
        assert "Window" in two._jdf.queryExecution().executedPlan().toString()
        assert one.columns == two.columns
        got = sorted(one.collect(), key=lambda r: r["pid"])
        assert got == sorted(two.collect(), key=lambda r: r["pid"]) and len(got) == 3


def _mk_vec(spark, seed, n=64, grid=8):
    """Samples with Normals3f and Colors4b vector layers (holes included)."""
    import math

    rows = []
    for i in range(n):
        cx, cy = (i * (3 + seed)) % grid, (i * (5 + seed)) // grid % grid
        nx, ny, nz = math.sin(i + seed) + 1.5, math.cos(i * 2 + seed) + 1.5, 1.0
        nn = math.sqrt(nx * nx + ny * ny + nz * nz)
        normal = None if i % 13 == 0 else [nx / nn, ny / nn, nz / nn]
        color = None if i % 11 == 0 else [(i * 3) % 256, (i * 5) % 256, (i * 7) % 256, (i * 11) % 256]
        rows.append((cx, cy, 0, normal, color))
    df = spark.createDataFrame(
        rows, "cx long, cy long, e int, Normals3f array<float>, Colors4b array<int>"
    )
    from pyspark.sql import functions as FF
    return df.groupBy("cx", "cy", "e").agg(
        FF.first("Normals3f", ignorenulls=False).alias("Normals3f"),
        FF.first("Colors4b", ignorenulls=False).alias("Colors4b"),
    )


def _vcells(df):
    out = {}
    for r in df.collect():
        nrm = None if r["Normals3f"] is None else tuple(round(float(x), 4) for x in r["Normals3f"])
        col = None if r["Colors4b"] is None else tuple(int(x) for x in r["Colors4b"])
        out[(r["cx"], r["cy"], r["e"])] = (nrm, col)
    return out


def test_vector_layers_pack_unpack_roundtrip(spark):
    s = _mk_vec(spark, 1)
    back = B.unpack_blocks(B.pack_blocks(s, bits=2))
    assert dict(back.dtypes)["Normals3f"] == "array<float>"
    assert dict(back.dtypes)["Colors4b"] == "array<int>"
    assert _vcells(back) == _vcells(s)


def test_vector_layers_block_pyramid_matches_registry(spark):
    """Per-type block pyramid goldens vs the registry resamplers for
    Normals3f (mean + re-normalize) and Colors4b (per-channel truncating
    integer mean, alpha averaged) — VERDICT r3 missing #3."""
    from aardvark_geometry_quadtree_spark.operators.pyramid import downsample_once

    s = _mk_vec(spark, 2)
    pyr = B.pyramid_blocks(B.pack_blocks(s, bits=3), levels=2)
    l1 = downsample_once(s)
    l2 = downsample_once(l1)
    got1 = B.unpack_blocks(pyr.filter(F.col("e") == 1))
    got2 = B.unpack_blocks(pyr.filter(F.col("e") == 2))
    assert _vcells(got1) == _vcells(l1)
    assert _vcells(got2) == _vcells(l2)


@pytest.mark.parametrize("dom", ["first", "second"])
def test_vector_layers_block_merge_matches_sample_merge(spark, dom):
    a = _mk_vec(spark, 3)
    b = _mk_vec(spark, 4)
    exp = merge_samples(a, b, dom, layers=["Normals3f", "Colors4b"],
                        first_exponents=[0], second_exponents=[0])
    got = B.unpack_blocks(
        B.merge_blocks(B.pack_blocks(a, 2), B.pack_blocks(b, 2), dom)
    )
    assert _vcells(got) == _vcells(exp)


def test_vector_layers_sql_engine_rejected(spark):
    a = B.pack_blocks(_mk_vec(spark, 5), 2)
    b = B.pack_blocks(_mk_vec(spark, 6), 2)
    with pytest.raises(ValueError, match="vector layers"):
        B.merge_blocks(a, b, "first", engine="sql")


@pytest.mark.parametrize("dom", ["first", "more_detailed_or_second"])
def test_vector_layers_mixed_merge_matches_merge_samples(spark, dom):
    """Cross-exponent block merge carries vector layers: coarse cells
    supersample whole vector values; fragments keep the coarse parent's
    vector (Layer.fs:210-241 value duplication)."""
    fine = _mk_vec(spark, 7, n=80, grid=16)
    coarse = _mk_vec(spark, 8, n=40, grid=8).withColumn("e", F.lit(1).cast("int"))
    exp = merge_samples(coarse, fine, dom, layers=["Normals3f", "Colors4b"],
                        first_exponents=[1], second_exponents=[0])
    m = B.merge_blocks_mixed(
        B.pack_blocks(coarse, 2), B.pack_blocks(fine, 2), dom,
        first_exponents=[1], second_exponents=[0],
    )
    got = B.unpack_blocks(m)
    assert _vcells(got) == _vcells(exp)


def test_supersample_blocks_matches_supersample_once(spark):
    """A2 on the block path: each cell's value duplicates into its 4
    children (Layer.fs:210-241) — parity with pyramid.supersample_once,
    including int masks and two levels."""
    from aardvark_geometry_quadtree_spark.operators.pyramid import supersample_once

    s = _mk(spark, 71, n=120, span=16).withColumn("e", F.lit(2).cast("int"))
    exp1 = supersample_once(s)
    got1 = B.unpack_blocks(
        B.supersample_blocks(B.pack_blocks(s, bits=2), 1),
        layer_types={"height": "double", "n": "bigint"},
    )
    assert _cells(got1) == _cells(exp1)
    exp2 = supersample_once(exp1)
    got2 = B.unpack_blocks(
        B.supersample_blocks(B.pack_blocks(s, bits=2), 2),
        layer_types={"height": "double", "n": "bigint"},
    )
    assert _cells(got2) == _cells(exp2)


def test_lod_cut_blocks_matches_lod_cut(spark):
    """Per-location finest level over a mixed-exponent block table ==
    query.lod_cut on the unpacked rows (partial coverage drops the whole
    coarse cell, no fragmenting)."""
    from aardvark_geometry_quadtree_spark.operators.query import lod_cut

    base = _mk(spark, 81, n=150, span=24).drop("n")
    blk = B.pack_blocks(base, bits=3)
    pyr = B.pyramid_blocks(blk, levels=2, include_base=True)
    samples = B.unpack_blocks(pyr, layer_types={"height": "double"})
    for min_e in (0, 1):
        exp = lod_cut(samples, min_e, exponents=[0, 1, 2])
        got = B.unpack_blocks(
            B.lod_cut_blocks(pyr, min_e, exponents=[0, 1, 2]),
            layer_types={"height": "double"},
        )
        e_ = {k: v for k, v in _cells(exp, layers=("height",)).items()}
        g_ = {k: v for k, v in _cells(got, layers=("height",)).items()}
        assert g_ == e_, min_e


def test_vector_layers_point_lookup_blocks(spark):
    """Block-routed point lookup reads VECTOR layers via flat-buffer slice
    (not a scalar element_at, which would read the wrong element of the
    w*w*k buffer) — parity with query.sample_positions, no Generate."""
    from aardvark_geometry_quadtree_spark.operators.query import sample_positions

    s = _mk_vec(spark, 3)
    pos = spark.createDataFrame(
        [(0, 2.5, 3.5), (1, 5.5, 1.5), (2, 99.0, 99.0), (3, 0.5, 0.5)],
        "pid long, px double, py double",
    )
    exp = sample_positions(s, pos, exponents=[0])
    got = B.sample_positions_blocks(B.pack_blocks(s, bits=2), pos, bits=2, exponents=[0])

    def key(df):
        out = {}
        for r in df.collect():
            nrm = None if r["Normals3f"] is None else tuple(round(float(x), 4) for x in r["Normals3f"])
            col = None if r["Colors4b"] is None else tuple(int(x) for x in r["Colors4b"])
            out[r["pid"]] = (r["cx"], r["cy"], r["e"], nrm, col)
        return out

    assert key(got) == key(exp)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, plan


def test_vector_layers_knn_blocks(spark):
    """Batched kNN over blocks carries VECTOR layers through the shared
    unpack: each neighbour's normals and colors equal the source cell's,
    and the neighbours are a numpy brute force's (tie-break dist, cx, cy)."""
    import numpy as np

    s = _mk_vec(spark, 4)
    probes = [(0, 1.0, 1.0), (1, 200.0, 200.0), (2, -3.0, 4.5)]
    pos = spark.createDataFrame(probes, "pid long, px double, py double")
    got = B.knn_join_blocks(B.pack_blocks(s, bits=2), pos, k=3)

    src = _vcells(s)
    keys = sorted(src)
    cx = np.array([c[0] for c in keys])
    cy = np.array([c[1] for c in keys])
    want = {}
    for pid, px, py in probes:
        d = np.sqrt((cx + 0.5 - px) ** 2 + (cy + 0.5 - py) ** 2)
        want[pid] = [(round(float(d[i]), 9), keys[i], src[keys[i]]) for i in np.lexsort((cy, cx, d))[:3]]

    out = {}
    for r in got.collect():
        nrm = None if r["Normals3f"] is None else tuple(round(float(x), 4) for x in r["Normals3f"])
        col = None if r["Colors4b"] is None else tuple(int(x) for x in r["Colors4b"])
        out.setdefault(r["pid"], []).append(
            (round(r["dist"], 9), (r["cx"], r["cy"], r["e"]), (nrm, col))
        )
    assert {p: sorted(v, key=lambda t: (t[0], t[1])) for p, v in out.items()} == want


def test_pack_float_vector_channel0_nan_is_hole(spark):
    """Pack-format contract: a float-vector value arriving with NaN in
    channel 0 is normalized to a LAYER HOLE at pack time (the cell stays
    present) — unpack then agrees with pack instead of mis-reading."""
    rows = [(0, 0, 0, [float("nan"), 1.0, 2.0]), (1, 0, 0, [0.5, 0.5, 0.5])]
    df = spark.createDataFrame(rows, "cx long, cy long, e int, Normals3f array<float>")
    back = B.unpack_blocks(B.pack_blocks(df, bits=2))
    vals = {(r["cx"], r["cy"]): r["Normals3f"] for r in back.collect()}
    assert set(vals) == {(0, 0), (1, 0)}  # both cells occupied
    assert vals[(0, 0)] is None           # layer hole by contract
    assert tuple(round(float(x), 4) for x in vals[(1, 0)]) == (0.5, 0.5, 0.5)


def test_pyramid_blocks_cancelling_normals_hole_both_paths(spark):
    """Exactly opposing child normals: the reference takes `.Normalized` of
    the raw sum (Sampling.fs:36) -> NaN vector, an unusable value. The
    engine canonicalizes that to a LAYER HOLE on BOTH paths (registry
    _avg_normal and the block pyramid) — a deliberate documented deviation
    from the reference's NaN propagation; coarser levels then average the
    remaining defined children."""
    from aardvark_geometry_quadtree_spark.operators.pyramid import downsample_once

    rows = [(0, 0, 0, [1.0, 0.0, 0.0]), (1, 0, 0, [-1.0, 0.0, 0.0]),
            (2, 2, 0, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "cx long, cy long, e int, Normals3f array<float>")
    reg = {(r["cx"], r["cy"]): r["Normals3f"] for r in downsample_once(df).collect()}
    assert reg[(0, 0)] is None  # registry: degenerate -> hole
    assert tuple(round(float(x), 4) for x in reg[(1, 1)]) == (0.0, 1.0, 0.0)
    pyr = B.pyramid_blocks(B.pack_blocks(df, bits=2), levels=1)
    got = {(r["cx"], r["cy"]): r["Normals3f"] for r in B.unpack_blocks(pyr).collect()}
    assert got[(0, 0)] is None  # block path: same hole
    assert tuple(round(float(x), 4) for x in got[(1, 1)]) == (0.0, 1.0, 0.0)


def _f32(x):
    import numpy as np
    return None if x is None else float(np.float32(x))


def test_narrow_blocks_parity(spark):
    """narrow=True packs the byte-diet schema (array<float>/array<int>);
    every block operator derives dtypes from the input schema, so narrow
    tables flow through pack/unpack, same-e merge, cross-e merge, pyramid,
    supersample, lod_cut and probe lookup with value parity (values here
    are float32-exact; pyramid means match after one float64->float32
    cast, computed in float64 either way)."""
    from aardvark_geometry_quadtree_spark.operators.query import sample_positions

    lt = {"height": "double", "n": "bigint"}
    a, b = _mk(spark, 101), _mk(spark, 102)
    na = B.pack_blocks(a, bits=3, narrow=True)
    nb = B.pack_blocks(b, bits=3, narrow=True)
    wa = B.pack_blocks(a, bits=3)
    wb = B.pack_blocks(b, bits=3)
    assert dict(na.dtypes)["height"] == "array<float>"
    assert dict(na.dtypes)["n"] == "array<int>"
    # roundtrip exact
    assert _cells(B.unpack_blocks(na, layer_types=lt)) == _cells(a)
    # same-exponent merge: narrow output schema, wide value parity
    nm = B.merge_blocks(na, nb, "more_detailed_or_second")
    wm = B.merge_blocks(wa, wb, "more_detailed_or_second")
    assert dict(nm.dtypes)["height"] == "array<float>"
    assert _cells(B.unpack_blocks(nm, layer_types=lt)) == _cells(B.unpack_blocks(wm, layer_types=lt))
    # cross-exponent merge
    coarse = b.withColumn("e", F.lit(1).cast("int"))
    nc = B.pack_blocks(coarse, bits=3, narrow=True)
    wc = B.pack_blocks(coarse, bits=3)
    nx = B.merge_blocks_mixed(na, nc, "second")
    wx = B.merge_blocks_mixed(wa, wc, "second")
    assert dict(nx.dtypes)["n"] == "array<int>"
    assert _cells(B.unpack_blocks(nx, layer_types=lt)) == _cells(B.unpack_blocks(wx, layer_types=lt))
    # pyramid: means computed in float64 on both paths; narrow == f32(wide)
    pn = _cells(B.unpack_blocks(B.pyramid_blocks(na, levels=2), layer_types=lt))
    pw = _cells(B.unpack_blocks(B.pyramid_blocks(wa, levels=2), layer_types=lt))
    assert set(pn) == set(pw)
    for k in pw:
        assert pn[k][0] == _f32(pw[k][0]), k
        assert pn[k][1] == pw[k][1], k  # truncating int mean: identical
    # supersample + lod_cut flow through
    ss = B.unpack_blocks(B.supersample_blocks(na, 1), layer_types=lt)
    assert ss.count() == 4 * B.unpack_blocks(na).count()
    pyr = B.pyramid_blocks(na, levels=1, include_base=True)
    cut = B.lod_cut_blocks(pyr, 0, exponents=[0, 1])
    assert B.unpack_blocks(cut, layer_types=lt).count() == B.unpack_blocks(na).count()
    # probe lookup over a narrow table
    pos = spark.createDataFrame(
        [(0, 3.5, 4.5), (1, -9.2, 7.9), (2, 1000.0, 1000.0)],
        "pid long, px double, py double",
    )
    exp = sample_positions(a, pos, exponents=[0])
    got = B.sample_positions_blocks(na, pos, bits=3, exponents=[0], layer_types=lt)
    key = lambda df: {r["pid"]: (r["cx"], r["cy"], r["height"], r["n"]) for r in df.collect()}
    assert key(got) == key(exp)


def test_points_to_blocks_narrow_matches_wide(spark):
    """Byte-diet ingest: narrow block histograms carry the same values as
    wide (counts fit int32; heights match after one float64->float32
    cast — the mean itself is computed in float64 on both paths)."""
    from aardvark_geometry_quadtree_spark.sources.webpages import (
        geocode, pages_to_blocks, synth_webpages,
    )

    pages = geocode(synth_webpages(spark, 4000), extent=64.0)
    lt = {"height": "double", "n_pages": "bigint"}
    cw = _cells(B.unpack_blocks(pages_to_blocks(pages, bits=4), layer_types=lt),
                layers=("height", "n_pages"))
    nar = pages_to_blocks(pages, bits=4, narrow=True)
    assert dict(nar.dtypes)["height"] == "array<float>"
    assert dict(nar.dtypes)["n_pages"] == "array<int>"
    cn = _cells(B.unpack_blocks(nar, layer_types=lt), layers=("height", "n_pages"))
    assert set(cw) == set(cn)
    for k in cw:
        assert cn[k][0] == _f32(cw[k][0]), k
        assert cn[k][1] == cw[k][1], k


def test_near_line_blocks_parity(spark):
    """J8 on blocks: whole-block band prune + exact codegen distance ==
    query.near_line over the same samples (prune is a plain Catalyst
    filter on the block key — no unpack of pruned-away blocks)."""
    from aardvark_geometry_quadtree_spark.operators.query import near_line

    s = _mk(spark, 111)
    exp = near_line(s, 0.0, 0.0, 0.6, 0.8, 7.0)
    got = B.near_line_blocks(B.pack_blocks(s, bits=3), 0.0, 0.0, 0.6, 0.8, 7.0,
                             layers=["height", "n"])
    assert _cells(got) == _cells(exp)
    # diagonal line: the band must actually prune blocks (fewer scanned)
    pruned = B.near_line_blocks(B.pack_blocks(s, bits=2), 0.0, -1000.0, 1.0, 0.0, 1.0)
    assert pruned.count() == 0


def test_inside_cell_blocks_parity(spark):
    """J4 on blocks: containment == query.inside_cell, and the prune keeps
    only blocks overlapping the query cell at e <= qe."""
    from aardvark_geometry_quadtree_spark.operators.query import inside_cell

    s0 = _mk(spark, 121)
    s1 = _mk(spark, 122, n=80, span=12).withColumn("e", F.lit(1).cast("int"))
    s = s0.unionByName(s1)
    blk = B.pack_blocks(s, bits=3)
    for q in [(-1, -1, 3), (0, 0, 4), (5, 5, 0)]:
        exp = inside_cell(s, *q)
        got = B.inside_cell_blocks(blk, *q)
        assert _cells(got) == _cells(exp), q


def test_intersects_cell_blocks_supersampling(spark):
    """J5 on blocks incl. the coarser-parent fallback: a query cell FINER
    than the data returns the containing coarse sample (Query.fs:575-592)."""
    from aardvark_geometry_quadtree_spark.operators.query import intersects_cell

    s = _mk(spark, 131).withColumn("e", F.lit(2).cast("int"))
    blk = B.pack_blocks(s, bits=3)
    # pick an existing cell, query a depth-2 child of it
    first = s.limit(1).collect()[0]
    qcx, qcy, qe = first["cx"] * 4 + 1, first["cy"] * 4 + 2, 0
    exp = intersects_cell(s, qcx, qcy, qe)
    got = B.intersects_cell_blocks(blk, qcx, qcy, qe)
    assert exp.count() == 1  # the coarser parent answers
    assert _cells(got) == _cells(exp)
    # coarser-than-data query cell too (normal intersection)
    exp2 = intersects_cell(s, first["cx"] >> 2, first["cy"] >> 2, 4)
    got2 = B.intersects_cell_blocks(blk, first["cx"] >> 2, first["cy"] >> 2, 4)
    assert _cells(got2) == _cells(exp2)


def test_r6_advice_guards(spark):
    """r5 ADVICE robustness fixes: narrow int overflow raises (instead of
    silently wrapping), mixed narrow/wide merge sides raise (instead of
    silently downcasting), zero-length near-line direction raises at
    plan-build time."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from aardvark_geometry_quadtree_spark.operators.blocks import (
        merge_blocks, merge_blocks_mixed, near_line_blocks, pack_blocks)

    s = spark.createDataFrame(
        [(0, 0, 0, 1.0, 5_000_000_000)], "cx long, cy long, e int, height double, n long"
    )
    # narrow int32 overflow -> loud error naming the layer
    with _pytest.raises(Exception) as ei:
        pack_blocks(s, bits=2, narrow=True).collect()
    assert "n" in str(ei.value) and "overflow" in str(ei.value)
    # in-range narrow packs fine
    ok = spark.createDataFrame(
        [(0, 0, 0, 1.0, 7)], "cx long, cy long, e int, height double, n long"
    )
    assert pack_blocks(ok, bits=2, narrow=True).count() == 1

    wide = pack_blocks(ok, bits=2, narrow=False)
    narrow = pack_blocks(ok, bits=2, narrow=True)
    with _pytest.raises(ValueError, match="payload types differ"):
        merge_blocks(wide, narrow, "first")
    with _pytest.raises(ValueError, match="payload types differ"):
        merge_blocks_mixed(wide, narrow, "first", first_exponents=[0], second_exponents=[1])

    with _pytest.raises(ValueError, match="zero-length direction"):
        near_line_blocks(wide, 0.0, 0.0, 0.0, 0.0, 1.0)


@pytest.mark.parametrize("with_counts", [True, False])
def test_doc_blocks_equals_pack_of_doc_samples(spark, tmp_path, with_counts):
    """``__spark_entry__``'s one-shuffle block staging ``_doc_blocks`` is exactly
    ``pack_blocks(_doc_samples)``: no row of either is missing from the
    other (exceptAll both ways), for the whole table and one source."""
    import __spark_entry__ as E

    docs = spark.range(2500).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37) % 211 + 1).alias("n_chars"),
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    for source in (None, "src1"):
        samples = E._doc_samples(spark, str(tmp_path), source)
        if not with_counts:
            samples = samples.drop("n_docs")
        want = B.pack_blocks(samples, bits=4)
        got = E._doc_blocks(spark, str(tmp_path), source, with_counts=with_counts)
        assert sorted(got.columns) == sorted(want.columns)
        got = got.select(*want.columns)
        assert want.count() > 1
        assert got.exceptAll(want).count() == 0, source
        assert want.exceptAll(got).count() == 0, source
