"""Spatial query operators over a samples DataFrame.

Re-expresses the reference's query engine (``Query.fs:342-793``) as two-phase
spatial joins on a samples DataFrame ``(cx, cy, e, <layers...>)``:

- phase 1 (coarse): Catalyst range predicates on cell indices — the analogue
  of the reference's ``isNodeFullyOutside`` subtree pruning (Query.fs:352-354),
  pushed down to parquet scans as min/max filters;
- phase 2 (fine): per-sample predicate on the SampleMode position
  (Query.fs:443-608) — still pure Column arithmetic for box/cell/line/convex
  polygons; batched kernels only for arbitrary many-polygon joins.

The reference resolves merge nodes lazily during traversal (Query.fs:79-338);
this engine resolves merges eagerly at build time (operators/merge.py), so
queries here run on an already-resolved samples set and reproduce the same
(cell, value) outputs (golden tests in tests/test_queries.py).

Every sample's "position" is ``(c + rel) * 2^e`` per SampleMode
(Query.fs:11-40, default Center = 0.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import cells as C


def query_all(samples: DataFrame, min_exponent: int | None = None) -> DataFrame:
    """All samples, optional LoD cut (Query.fs:435-436 + Config.MinExponent)."""
    if min_exponent is not None:
        samples = lod_cut(samples, min_exponent)
    return samples


def query_generic(
    samples: DataFrame,
    sample_inside,
    node_outside=None,
    node_inside=None,
    rel: tuple[float, float] = (0.5, 0.5),
    with_selection: bool = False,
) -> DataFrame:
    """Generic two-phase query — the caller-supplied predicate triple of the
    reference's ``Query.Generic`` (Query.fs:342-432: isNodeFullyOutside /
    isNodeFullyInside / isSampleInside), re-expressed as Column builders so a
    user can add a new geometry type without touching this module.

    - ``node_outside(x0, y0, x1, y1) -> Column``: True if a cell with world
      bounds [x0,x1)x[y0,y1) is fully outside the query region — phase 1
      prune (subtree skip in the reference; min/max scan pruning here).
    - ``node_inside(x0, y0, x1, y1) -> Column``: True if the cell is fully
      inside — accepts the sample without running the fine test.
    - ``sample_inside(px, py) -> Column``: exact test on the SampleMode
      position (Query.fs:443-608).

    All three receive Columns and must return boolean Columns (pure Catalyst:
    the predicate stays in whole-stage codegen). Built-in queries
    (inside_polygon, near_line) are thin wrappers over this surface.

    ``with_selection=True`` adds the reference Result's selection kind
    (Query.fs:417-431): a ``selection`` column valued 'full' for samples
    accepted by node_inside (FullySelected) and 'cells' for samples passing
    only the fine test (CellsSelected).
    """
    px = C.sample_pos(F.col("cx"), F.col("e"), rel[0])
    py = C.sample_pos(F.col("cy"), F.col("e"), rel[1])
    x0, y0 = C.cell_min(F.col("cx"), F.col("e")), C.cell_min(F.col("cy"), F.col("e"))
    x1, y1 = C.cell_max(F.col("cx"), F.col("e")), C.cell_max(F.col("cy"), F.col("e"))
    df = samples
    if node_outside is not None:
        df = df.filter(~node_outside(x0, y0, x1, y1))
    fine = sample_inside(px, py)
    if node_inside is not None:
        full = node_inside(x0, y0, x1, y1)
        fine = full | fine
        if with_selection:
            return df.filter(fine).withColumn(
                "selection", F.when(full, F.lit("full")).otherwise(F.lit("cells"))
            )
    elif with_selection:
        return df.filter(fine).withColumn("selection", F.lit("cells"))
    return df.filter(fine)


def lod_cut(
    samples: DataFrame, min_exponent: int, exponents: list[int] | None = None
) -> DataFrame:
    """Per-location finest level with e >= min_exponent.

    The reference's traversal stops descending when a child's sample exponent
    would drop below ``Config.MinExponent`` (Query.fs:372-380), returning the
    coarsest nodes at-or-above the cut along each branch — equivalently: keep
    a sample iff no *finer* sample with e >= min_exponent covers the same area.
    Implemented as an ancestor anti-join over the (few) distinct exponent pairs.
    ``exponents``: caller-known exponent set — skips the discovery scan.
    """
    s = samples.filter(F.col("e") >= F.lit(min_exponent))
    if exponents is not None:
        exps = sorted(e for e in set(exponents) if e >= min_exponent)
    else:
        exps = [r[0] for r in s.select("e").distinct().collect()]
    if len(exps) <= 1:
        return s
    # a sample at exponent ea is shadowed if any sample at finer eb (< ea)
    # has it as ancestor -> anti-join on the computed ancestor key
    out = None
    fine_keys = None
    for ea in sorted(exps):
        level = s.filter(F.col("e") == ea)
        finer = [eb for eb in exps if eb < ea]
        if finer:
            shadows = (
                s.filter(F.col("e").isin(finer))
                .select(
                    C.parent_coord(F.col("cx"), (F.lit(ea) - F.col("e")).cast("int")).alias("acx"),
                    C.parent_coord(F.col("cy"), (F.lit(ea) - F.col("e")).cast("int")).alias("acy"),
                )
                .distinct()
            )
            level = level.join(
                shadows,
                (level["cx"] == shadows["acx"]) & (level["cy"] == shadows["acy"]),
                "left_anti",
            )
        out = level if out is None else out.unionByName(level)
    return out


# ---------------------------------------------------------------------------
# J6 InsideBox (Query.fs:447-451)
# ---------------------------------------------------------------------------

def inside_box(
    samples: DataFrame,
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    rel: tuple[float, float] = (0.5, 0.5),
) -> DataFrame:
    """Samples whose SampleMode position lies in the box (min-inclusive).

    Pure Catalyst range predicate — pushed down to the scan; equivalent to the
    reference's box containment on sample positions (Query.fs:450).
    """
    px = C.sample_pos(F.col("cx"), F.col("e"), rel[0])
    py = C.sample_pos(F.col("cy"), F.col("e"), rel[1])
    return samples.filter(
        (px >= F.lit(float(minx)))
        & (px <= F.lit(float(maxx)))
        & (py >= F.lit(float(miny)))
        & (py <= F.lit(float(maxy)))
    )


def inside_box_pushdown(
    samples: DataFrame,
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    exponents: list[int],
    rel: tuple[float, float] = (0.5, 0.5),
) -> DataFrame:
    """InsideBox rewritten as per-exponent INTEGER bounds on (cx, cy).

    ``inside_box``'s position predicate ``(cx + rel) * 2^e`` is whole-stage
    codegen'd but cannot reach parquet as a pushed filter (it is derived
    arithmetic). With the exponent set known (it is tree metadata), the same
    box becomes, per level, ``cx BETWEEN ceil(minx/2^e - rel) AND
    floor(maxx/2^e - rel)`` — plain column ranges that land in the scan's
    PushedFilters AND prune ``e`` partition directories of a saved store.
    At 100 TB this is the difference between a full scan and reading only
    the row groups whose cx/cy min-max stats overlap the box.
    """
    import math

    out = None
    for e in sorted(set(exponents)):
        side = 2.0 ** e
        lo_x = math.ceil(minx / side - rel[0])
        hi_x = math.floor(maxx / side - rel[0])
        lo_y = math.ceil(miny / side - rel[1])
        hi_y = math.floor(maxy / side - rel[1])
        lvl = samples.filter(
            (F.col("e") == F.lit(e))
            & F.col("cx").between(lo_x, hi_x)
            & F.col("cy").between(lo_y, hi_y)
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out if out is not None else samples.filter(F.lit(False))


# ---------------------------------------------------------------------------
# J4 InsideCell / J5 IntersectsCell (Query.fs:439-444, 575-592)
# ---------------------------------------------------------------------------

def inside_cell(samples: DataFrame, qcx: int, qcy: int, qe: int) -> DataFrame:
    """Samples fully inside the query cell: ancestor-or-equal containment.

    Integer range predicate at aligned exponents (Query.fs:439-444 via
    GetBoundsForExponent, Prelude.fs:113-133).
    """
    return samples.filter(
        C.is_ancestor_or_equal(F.lit(qcx), F.lit(qcy), F.lit(qe), F.col("cx"), F.col("cy"), F.col("e"))
    )


def intersects_cell(samples: DataFrame, qcx: int, qcy: int, qe: int) -> DataFrame:
    """Samples whose cell area intersects the query cell.

    Includes the supersampling case: a query cell *finer* than the data
    returns the coarser containing sample (Query.fs:575-592; golden
    Tests/QueryTests.fs:122-133).
    """
    return samples.filter(
        C.cells_intersect(F.lit(qcx), F.lit(qcy), F.lit(qe), F.col("cx"), F.col("cy"), F.col("e"))
    )


# ---------------------------------------------------------------------------
# J7 InsidePolygon (Query.fs:454-468, 595-624)
# ---------------------------------------------------------------------------

def _winding_expr(px, py, verts: list[tuple[float, float]]):
    """Winding-number point-in-polygon as a plan-time Column expression.

    The polygon is fixed at plan time, so the edge loop unrolls into pure
    JVM-side arithmetic (whole-stage codegen) — no Python per row. Nonzero
    winding rule, boundary points counted as inside (matches the reference's
    Polygon2d.Contains on the golden fixtures).
    """
    n = len(verts)
    wind = F.lit(0)
    on_edge = F.lit(False)
    for i in range(n):
        x1, y1 = (float(v) for v in verts[i])
        x2, y2 = (float(v) for v in verts[(i + 1) % n])
        cross = (F.lit(x2 - x1)) * (py - F.lit(y1)) - (F.lit(y2 - y1)) * (px - F.lit(x1))
        up = (F.lit(y1) <= py) & (py < F.lit(y2)) & (cross > 0)
        down = (F.lit(y2) <= py) & (py < F.lit(y1)) & (cross < 0)
        wind = wind + F.when(up, F.lit(1)).when(down, F.lit(-1)).otherwise(F.lit(0))
        # boundary: point on segment
        within_seg = (
            (px >= F.lit(min(x1, x2))) & (px <= F.lit(max(x1, x2)))
            & (py >= F.lit(min(y1, y2))) & (py <= F.lit(max(y1, y2)))
        )
        on_edge = on_edge | ((cross == 0) & within_seg)
    return (wind != 0) | on_edge


def inside_polygon(
    samples: DataFrame,
    verts: list[tuple[float, float]],
    rel: tuple[float, float] = (0.5, 0.5),
) -> DataFrame:
    """Samples whose SampleMode position lies inside the (CCW) polygon.

    Two-phase via ``query_generic``: cell-bounds-vs-polygon-bbox prune
    (Catalyst, prunable) then bbox + exact winding on the sample position
    (also Catalyst — the polygon is a plan-time constant). Mirrors
    Query.InsidePolygon (Query.fs:454-468) incl. vertex dedup + CCW
    normalization (Polygon2d.WithoutMultiplePoints / IsCcw).
    """
    verts = _normalize_polygon(verts)
    xs = [float(v[0]) for v in verts]
    ys = [float(v[1]) for v in verts]
    bx0, by0, bx1, by1 = min(xs), min(ys), max(xs), max(ys)

    def node_outside(x0, y0, x1, y1):
        return (x1 <= F.lit(bx0)) | (x0 > F.lit(bx1)) | (y1 <= F.lit(by0)) | (y0 > F.lit(by1))

    def sample_inside(px, py):
        in_bbox = (
            (px >= F.lit(bx0)) & (px <= F.lit(bx1)) & (py >= F.lit(by0)) & (py <= F.lit(by1))
        )
        return in_bbox & _winding_expr(px, py, verts)

    return query_generic(samples, sample_inside, node_outside=node_outside, rel=rel)


def _normalize_polygon(verts: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Drop repeated consecutive vertices (incl. an explicit closing vertex),
    then normalize winding to CCW — Polygon2d.WithoutMultiplePoints + IsCcw,
    the exact preprocessing at Query.fs:455-458. Repeated vertices would make
    degenerate zero-length edges whose cross == 0 marks every collinear point
    "on edge", silently distorting the winding test.
    """
    deduped: list[tuple[float, float]] = []
    for v in verts:
        p = (float(v[0]), float(v[1]))
        if not deduped or deduped[-1] != p:
            deduped.append(p)
    if len(deduped) > 1 and deduped[0] == deduped[-1]:
        deduped.pop()
    area2 = 0.0
    n = len(deduped)
    for i in range(n):
        x1, y1 = deduped[i]
        x2, y2 = deduped[(i + 1) % n]
        area2 += x1 * y2 - x2 * y1
    return deduped if area2 >= 0 else list(reversed(deduped))


def pip_join(
    samples: DataFrame,
    polygons: DataFrame,
    rel: tuple[float, float] = (0.5, 0.5),
) -> DataFrame:
    """Many-polygon point-in-polygon join (the north rule's broadcast PIP
    join against polygon buckets).

    ``polygons``: (poly_id, xs array<double>, ys array<double>) — one row per
    polygon, vertices in order (any winding). Plan: polygons are broadcast
    with a precomputed bbox; phase 1 is a bbox-overlap theta join (broadcast
    nested loop over the tiny dim side — no shuffle of the fact side); phase
    2 is a vectorized numpy winding test over the surviving (sample, polygon)
    pairs in an Arrow-batched kernel. Returns samples + poly_id.
    """
    import numpy as np
    import pandas as pd

    px = C.sample_pos(F.col("cx"), F.col("e"), rel[0])
    py = C.sample_pos(F.col("cy"), F.col("e"), rel[1])
    pts = samples.withColumn("_px", px).withColumn("_py", py)
    polys = polygons.select(
        "poly_id", "xs", "ys",
        F.array_min("xs").alias("_bx0"), F.array_min("ys").alias("_by0"),
        F.array_max("xs").alias("_bx1"), F.array_max("ys").alias("_by1"),
    )
    cand = pts.join(
        F.broadcast(polys),
        (F.col("_px") >= F.col("_bx0")) & (F.col("_px") <= F.col("_bx1"))
        & (F.col("_py") >= F.col("_by0")) & (F.col("_py") <= F.col("_by1")),
        "inner",
    )

    keep = [c for c in samples.columns] + ["poly_id"]
    out_schema = cand.select(*keep).schema

    def _pip(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                yield pdf[keep]
                continue
            x = pdf["_px"].to_numpy(np.float64)
            y = pdf["_py"].to_numpy(np.float64)
            inside = np.zeros(len(pdf), dtype=bool)
            # group rows by polygon so each polygon's edges vectorize over
            # all its candidate points at once
            for pid, idx in pdf.groupby("poly_id").indices.items():
                row = pdf.iloc[idx[0]]
                vx = np.asarray(row["xs"], dtype=np.float64)
                vy = np.asarray(row["ys"], dtype=np.float64)
                xx, yy = x[idx], y[idx]
                wind = np.zeros(len(idx), dtype=np.int64)
                on_edge = np.zeros(len(idx), dtype=bool)
                n = len(vx)
                for i in range(n):
                    x1, y1 = vx[i], vy[i]
                    x2, y2 = vx[(i + 1) % n], vy[(i + 1) % n]
                    cross = (x2 - x1) * (yy - y1) - (y2 - y1) * (xx - x1)
                    wind += np.where((y1 <= yy) & (yy < y2) & (cross > 0), 1, 0)
                    wind -= np.where((y2 <= yy) & (yy < y1) & (cross < 0), 1, 0)
                    seg = (
                        (xx >= min(x1, x2)) & (xx <= max(x1, x2))
                        & (yy >= min(y1, y2)) & (yy <= max(y1, y2))
                    )
                    on_edge |= (cross == 0) & seg
                inside[idx] = (wind != 0) | on_edge
            yield pdf.loc[inside, keep]

    return cand.mapInPandas(_pip, out_schema)


# ---------------------------------------------------------------------------
# J8 NearLine (Query.fs:471-489)
# ---------------------------------------------------------------------------

def near_line(
    samples: DataFrame,
    ox: float,
    oy: float,
    dx: float,
    dy: float,
    dist: float,
    rel: tuple[float, float] = (0.5, 0.5),
) -> DataFrame:
    """Samples whose position is within ``dist`` of the infinite line through
    (ox,oy) with direction (dx,dy) (Ray2d.GetDistanceToRay, Query.fs:477-488).

    Coarse phase (via ``query_generic``): a cell is fully outside when all
    four corners sit on one side of the band — codegen'd corner distance
    checks; the fine phase cross-product distance on the position is exact.
    """
    norm = (dx * dx + dy * dy) ** 0.5
    ux, uy = dx / norm, dy / norm

    def signed(px, py):
        return F.lit(ux) * (py - F.lit(float(oy))) - F.lit(uy) * (px - F.lit(float(ox)))

    def node_outside(x0, y0, x1, y1):
        corners = [signed(x0, y0), signed(x1, y0), signed(x0, y1), signed(x1, y1)]
        all_above = corners[0] > F.lit(float(dist))
        all_below = corners[0] < F.lit(-float(dist))
        for c in corners[1:]:
            all_above = all_above & (c > F.lit(float(dist)))
            all_below = all_below & (c < F.lit(-float(dist)))
        return all_above | all_below

    def sample_inside(px, py):
        return F.abs(signed(px, py)) <= F.lit(float(dist))

    return query_generic(samples, sample_inside, node_outside=node_outside, rel=rel)


# ---------------------------------------------------------------------------
# J9 Sample.Positions — point-lookup join (Query.fs:645-793)
# ---------------------------------------------------------------------------

def sample_positions(
    samples: DataFrame,
    positions: DataFrame,
    exponents: list[int] | None = None,
    broadcast_positions: bool = True,
) -> DataFrame:
    """For each position (px, py), the sample cell containing it.

    The reference routes positions down the tree by quadrant
    (Query.fs:674-685) — hash partitioning by computed cell key does the same
    in one shuffle. At merge nodes it keeps the *more detailed* result
    (Query.fs:689-739); with merges resolved at build time, that reduces to
    "finest exponent wins" per position, a ranking window. With a single
    exponent each probe hits at most one cell, so the join is returned
    as is, without the window and its shuffle.

    positions: DataFrame (pid, px, py). ``broadcast_positions=True`` (the
    default) hints the candidate side broadcast — right when the point set
    is small relative to samples. For HUGE point sets (joining a billion
    probes against the tiles table) pass False: the join becomes a plain
    shuffled equi-join on the cell key and AQE picks the strategy.
    Returns (pid, px, py, cx, cy, e, <layers...>).
    ``exponents``: caller-known exponent set — skips the discovery scan.
    """
    exps = (
        sorted(set(exponents))
        if exponents is not None
        else [r[0] for r in samples.select("e").distinct().collect()]
    )
    cand = None
    for e in exps:
        c = positions.select(
            "pid",
            "px",
            "py",
            C.cell_coord(F.col("px"), e).alias("cx"),
            C.cell_coord(F.col("py"), e).alias("cy"),
            F.lit(e).cast("int").alias("e"),
        )
        cand = c if cand is None else cand.unionByName(c)
    if broadcast_positions:
        cand = F.broadcast(cand)
    hit = samples.join(cand, ["cx", "cy", "e"], "inner")
    if len(exps) == 1:
        return hit  # one cell per probe: nothing for the window to rank
    w = W.partitionBy("pid").orderBy(F.col("e").asc())
    return hit.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# kNN by center distance (north-star extension built on J9)
# ---------------------------------------------------------------------------

def _center_dist(px, py):
    """Distance from a sample's cell center to the point (px, py)."""
    qx = C.sample_pos(F.col("cx"), F.col("e"), 0.5)
    qy = C.sample_pos(F.col("cy"), F.col("e"), 0.5)
    return F.sqrt((qx - px) * (qx - px) + (qy - py) * (qy - py))


def knn(samples: DataFrame, px: float, py: float, k: int) -> DataFrame:
    """k nearest samples to (px, py) by Euclidean distance on sample centers,
    ties broken by (dist, cx, cy).

    One scan: ``ORDER BY dist, cx, cy LIMIT k`` plans as
    TakeOrderedAndProject, a per-partition top-k and one merge of those —
    one job, no full sort, no shuffle of the table. Returns
    (cx, cy, e, <layers...>, dist).
    """
    dist = _center_dist(F.lit(float(px)), F.lit(float(py)))
    return samples.withColumn("dist", dist).orderBy(F.col("dist").asc(), F.col("cx"), F.col("cy")).limit(k)


def knn_join(
    samples: DataFrame,
    positions: DataFrame,
    k: int,
    ring_exponent: int | None = None,
    stage_input: bool = True,
) -> DataFrame:
    """BATCHED kNN: the k nearest samples (by center distance) for EVERY
    probe in ``positions`` (pid, px, py), ties broken by (dist, cx, cy) as
    in :func:`knn`. Exact by construction, with no Python-side loop: building
    the result runs no Spark job.

    Plan: the probe frame is broadcast and cross-joined with the samples
    (a probe-side-broadcast ``BroadcastNestedLoopJoin``), and
    ``row_number() over (partition by pid order by dist, cx, cy) <= k``
    keeps the top k. Spark plans that filter as a ``WindowGroupLimit``
    Partial before the single ``Exchange``, so each task shuffles at most
    k rows per probe.

    Cost model: one scan of ``samples`` plus N x P distance evaluations in
    whole-stage codegen (N samples, P probes), and one shuffle of at most
    k x P rows per task. Broadcast contract: the probe batch must be small
    enough to broadcast, and the scan cost grows with it; every caller in
    this repository passes at most 32 probes.

    ``ring_exponent`` and ``stage_input`` are accepted for compatibility
    and have no effect.

    Returns (pid, px, py, cx, cy, e, <layers...>, dist): k rows per probe,
    or every sample when the table holds fewer than k.
    """
    probes = F.broadcast(positions.select("pid", "px", "py"))
    cand = samples.crossJoin(probes).select(
        "pid", "px", "py", *samples.columns,
        _center_dist(F.col("px"), F.col("py")).alias("dist"),
    )
    w = W.partitionBy("pid").orderBy(F.col("dist").asc(), F.col("cx"), F.col("cy"))
    return cand.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")
