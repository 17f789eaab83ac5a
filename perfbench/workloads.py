"""The two workloads: ``build`` (crawl to tiles, then dedup) and ``query``.

Each workload has

- ``inputs()``: generate (or reuse) its seeded input files; never timed;
- ``stage()``: its set-up through the package (timed into ``setup_s``);
- ``ops()``: a generator of operations, each one closed-loop call sequence
  into the package whose time is measured and whose output is then checked
  against :mod:`oracles` outside the timed region.

Lazy results are forced with ``collect()``, a table write or the ``noop``
sink, never with ``count()`` (which lets Spark prune the work).
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import oracles
from harness import Tracer

EXTENT = 1024  # world units; e=0 cells are unit squares, so the grid is 1024^2
BITS = 7  # blocks of 128 x 128 cells
N_BUCKETS = 8
LEVELS = 5
LOD_CUT = 3  # min exponent of the LoD-cut query; coarser levels exist above it
PATCH = 32  # side of the fine patch of the sample merge, in e0 cells

BUILD_SPEC = gen.Spec(n_pages=8_000)
DEDUP_SPEC = gen.Spec(n_pages=2_000)
QUERY_SPEC = gen.Spec(n_pages=20_000)
JACCARD_THRESHOLD = 0.7

BUILD_SPANS = [
    "webpages.ingest",
    "webpages.points_to_blocks",
    "blocks.merge_blocks",
    "blocks.pyramid_blocks",
    "merge.merge_samples",
]
DEDUP_SPANS = [
    "dedup.exact_duplicates",
    "dedup.minhash_table",
    "dedup.lsh_candidate_pairs",
    "dedup.ngram_jaccard_pairs",
    "dedup.simhash64_table",
]
WINDOW_KINDS = [
    "blocks.inside_box_blocks",
    "blocks.inside_polygon_blocks",
    "blocks.near_line_blocks",
    "blocks.intersects_cell_blocks",
    "blocks.lod_cut_blocks",
    "query.inside_polygon",
]
BATCH_KINDS = [
    "blocks.sample_positions_blocks",
    "blocks.knn_join_blocks",
    "query.knn_join",
]
QUERY_KINDS = WINDOW_KINDS + BATCH_KINDS
# One round of the closed-loop client: window queries (what panning and
# zooming issues) twice as often as point-batch and kNN queries.
QUERY_ROUND = WINDOW_KINDS + BATCH_KINDS + WINDOW_KINDS


@dataclass
class Ctx:
    spark: object
    out: str  # scratch directory for this run's tables
    warehouse: str  # where saveAsTable puts managed tables
    inputs: str  # cache directory of generated inputs
    seed: int
    tracer: Tracer
    stats: dict = field(default_factory=dict)  # useful-work ratios of the last build

    def table(self, name: str) -> str:
        return os.path.join(self.warehouse, name)


@dataclass
class Op:
    kind: str
    seconds: float
    items: int
    error: str | None = None


def _read(path: str, columns: list[str] | None = None):
    """A table the program wrote, read with pyarrow (oracle side, untimed:
    no Spark job, so checking costs the run little)."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def densify(tbl, size: int, layers: list[str]) -> dict[str, np.ndarray]:
    """Block rows of one exponent and width -> dense ``size x size`` arrays
    of ``occ`` and each layer (NaN / 0 where no block covers a cell)."""
    out: dict[str, np.ndarray] = {}
    bx = tbl["bx"].to_numpy()
    by = tbl["by"].to_numpy()
    (w,) = set(tbl["w"].to_pylist())
    rows = (by[:, None] * w + np.arange(w)[None, :])[:, :, None]
    cols = (bx[:, None] * w + np.arange(w)[None, :])[:, None, :]
    for n in ["occ", *layers]:
        vals = tbl[n].combine_chunks().flatten().to_numpy(zero_copy_only=False)
        dense = np.zeros((size, size), dtype=vals.dtype)
        if vals.dtype.kind == "f":
            dense[:] = np.nan
        dense[rows, cols] = vals.reshape(len(bx), w, w)
        out[n] = dense
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _window(samples, x0: int, y0: int, x1: int, y1: int):
    from pyspark.sql import functions as F

    cx, cy = F.col("cx"), F.col("cy")
    return samples.filter((cx >= x0) & (cx < x1) & (cy >= y0) & (cy < y1))


def _text_len_sum(path: str) -> int:
    return int(pc.sum(pc.utf8_length(pq.read_table(path, columns=["text"])["text"])).as_py())


# ---------------------------------------------------------------------------
# build: crawl to tiles
# ---------------------------------------------------------------------------


class Build:
    """The batch path of a crawl: two crawls through ingest, block rasters,
    the crawl-over-crawl merge, the LoD pyramid and a fine-over-coarse
    sample merge, then near-duplicate detection over a smaller crawl's text
    (exact groups, MinHash, LSH candidates, exact n-gram Jaccard, SimHash).
    Stresses string scans, shuffles, the block kernels and the Python Arrow
    dedup kernels; touches no query code."""

    name = "build"
    round_size = 1

    def inputs(self, ctx: Ctx) -> None:
        path = os.path.join(ctx.inputs, gen.key("build", ctx.seed, BUILD_SPEC, DEDUP_SPEC))

        def make():
            t1, t2, _ = gen.crawls(ctx.seed, BUILD_SPEC)
            d, _, p = gen.crawls(ctx.seed + 1_000_003, DEDUP_SPEC)
            groups = {f"g{i}": g for i, g in enumerate(p.exact_groups)}
            np.savez(os.path.join(path, "planted.npz"), near=p.near_pairs, **groups)
            return [t1, t2, gen.docs(d)]

        *self.files, self.docs_file = gen.cached(path, make)
        z = np.load(os.path.join(path, "planted.npz"))
        self.near = z["near"]
        self.groups = [z[k] for k in z.files if k != "near"]
        self.texts = pq.read_table(self.docs_file, columns=["text"])["text"].to_pylist()
        self.tl_sums = [_text_len_sum(f) for f in self.files]
        # an even-aligned fine patch inside a coarse base window three times
        # its side, both inside the extent
        rng = gen.stream_rng(ctx.seed, "build-window")
        x0, y0 = (int(v) for v in rng.integers(0, EXTENT - 3 * PATCH, size=2) // 2 * 2)
        self.base_window = (x0, y0, x0 + 3 * PATCH, y0 + 3 * PATCH)
        self.window = (x0 + PATCH, y0 + PATCH, x0 + 2 * PATCH, y0 + 2 * PATCH)

    def stage(self, ctx: Ctx) -> None:
        """Nothing to stage: a build starts from the crawl files."""

    def check_stage(self, ctx: Ctx) -> str | None:
        return None

    def warm_up(self, ctx: Ctx):
        """None: a build is a batch job, measured as a fresh process runs it."""
        return iter(())

    def ops(self, ctx: Ctx):
        while True:
            yield self.name, lambda: self._op(ctx)

    def _op(self, ctx: Ctx) -> Op:
        from pyspark.sql import functions as F

        from aardvark_geometry_quadtree_spark.operators import dedup as D
        from aardvark_geometry_quadtree_spark.operators.blocks import (
            merge_blocks, pyramid_blocks, save_blocks_bucketed, unpack_blocks,
        )
        from aardvark_geometry_quadtree_spark.operators.merge import merge_samples
        from aardvark_geometry_quadtree_spark.sources import store
        from aardvark_geometry_quadtree_spark.sources.webpages import (
            geocode, pages_to_points, points_to_blocks,
        )

        spark, tr = ctx.spark, ctx.tracer
        pyr_path = os.path.join(ctx.out, "build_pyramid")
        mixed_path = os.path.join(ctx.out, "build_mixed")
        t0 = time.perf_counter()
        with tr.span("webpages.ingest"):
            for i, f in enumerate(self.files):
                pages = spark.read.parquet(f)
                store.stage(
                    spark, f"points{i}", ctx.out,
                    lambda: pages_to_points(geocode(pages, extent=float(EXTENT)), e=0, narrow=True),
                    force=True,
                )
        with tr.span("webpages.points_to_blocks"):
            for i in range(2):
                pts = spark.read.parquet(os.path.join(ctx.out, f"points{i}"))
                blk = points_to_blocks(pts.select("cx", "cy", "tl"), e=0, bits=BITS, narrow=True)
                save_blocks_bucketed(blk, f"crawl{i}_blk", N_BUCKETS)
        with tr.span("blocks.merge_blocks"):
            merged = merge_blocks(spark.table("crawl0_blk"), spark.table("crawl1_blk"), "second")
            save_blocks_bucketed(merged, "merged_blk", N_BUCKETS)
        with tr.span("blocks.pyramid_blocks"):
            pyramid_blocks(spark.table("merged_blk"), levels=LEVELS).write.mode(
                "overwrite"
            ).parquet(pyr_path)
        with tr.span("merge.merge_samples"):
            base = _window(
                unpack_blocks(spark.read.parquet(pyr_path).filter(F.col("e") == 1)),
                *(v // 2 for v in self.base_window),
            )
            patch = _window(unpack_blocks(spark.table("merged_blk")), *self.window)
            merge_samples(
                patch, base, "first", first_exponents=[0], second_exponents=[1]
            ).write.mode("overwrite").parquet(mixed_path)
        docs = spark.read.parquet(self.docs_file).select("doc_id", "text")
        with tr.span("dedup.exact_duplicates"):
            exact = D.exact_duplicates(docs).collect()
        with tr.span("dedup.minhash_table"):
            _noop(D.minhash_table(docs))
        with tr.span("dedup.lsh_candidate_pairs"):
            cands_df = D.lsh_candidate_pairs(docs).localCheckpoint()
        with tr.span("dedup.ngram_jaccard_pairs"):
            pairs = D.ngram_jaccard_pairs(docs, cands_df, threshold=JACCARD_THRESHOLD).collect()
        with tr.span("dedup.simhash64_table"):
            sh = D.simhash64_table(docs).collect()
        seconds = time.perf_counter() - t0
        err = self._check(ctx, pyr_path, mixed_path) or self._check_dedup(
            ctx, exact, cands_df, pairs, sh
        )
        return Op(self.name, seconds, 2 * BUILD_SPEC.n_pages, err)

    def _check_dedup(self, ctx: Ctx, exact, cands_df, pairs, sh) -> str | None:
        cands = {(r["id_a"], r["id_b"]) for r in cands_df.collect()}
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
        planted = {tuple(p) for p in self.near.tolist()} | {
            (int(a), int(b)) for g in self.groups for i, a in enumerate(g) for b in g[i + 1 :]
        }
        ctx.stats["dedup.lsh_candidate_yield"] = len(got) / max(1, len(cands))
        ctx.stats["dedup.recall"] = len(planted & got.keys()) / max(1, len(planted))
        return (
            oracles.check_exact_groups([(r["keep_id"], r["n_dups"]) for r in exact], self.groups)
            or oracles.check_candidates(cands, self.groups)
            or oracles.check_jaccard(got, cands, self.texts.__getitem__, JACCARD_THRESHOLD)
            or oracles.check_simhash_groups(
                {r["doc_id"]: r["simhash_hex"] for r in sh}, len(self.texts), self.groups
            )
        )

    def _check(self, ctx: Ctx, pyr_path: str, mixed_path: str) -> str | None:
        want = []
        for i in range(2):
            p = _read(os.path.join(ctx.out, f"points{i}"), ["cx", "cy", "tl"])
            cx, cy, tl = (p[c].to_numpy() for c in ("cx", "cy", "tl"))
            if len(cx) != BUILD_SPEC.n_pages or int(tl.astype(np.int64).sum()) != self.tl_sums[i]:
                return f"webpages.ingest: crawl {i} staged {len(cx)} pages, text length {int(tl.astype(np.int64).sum())}"
            if min(cx.min(), cy.min()) < 0 or max(cx.max(), cy.max()) >= EXTENT:
                return f"webpages.ingest: crawl {i} geocoded outside the extent"
            counts, mean = oracles.cell_stats(cx, cy, tl, EXTENT)
            got = densify(_read(ctx.table(f"crawl{i}_blk")), EXTENT, ["height", "n_pages"])
            err = oracles.check_raster(
                f"webpages.points_to_blocks[{i}]", got["occ"], got["n_pages"], got["height"],
                counts, mean.astype(np.float32),
            )
            if err:
                return err
            want.append((counts, mean.astype(np.float32)))
        counts, mean = oracles.merge_winner(*want[0], *want[1])
        got = densify(_read(ctx.table("merged_blk")), EXTENT, ["height", "n_pages"])
        err = oracles.check_raster(
            "blocks.merge_blocks", got["occ"], got["n_pages"], got["height"], counts, mean
        )
        if err:
            return err
        pyr = _read(pyr_path)
        e = pyr["e"].to_numpy()
        level_c, level_m = counts, mean.astype(np.float64)
        levels = {}
        for lvl in range(1, LEVELS + 1):
            level_c, level_m = oracles.rollup(level_c, level_m)
            got = densify(pyr.filter(e == lvl), EXTENT >> lvl, ["height"])
            err = oracles.check_raster(
                f"blocks.pyramid_blocks[e={lvl}]", got["occ"], None, got["height"],
                level_c, level_m, rtol=1e-6,
            )
            if err:
                return err
            levels[lvl] = (level_c, got["height"])
        x0, y0, x1, y1 = self.window
        patch_occ = np.zeros((EXTENT, EXTENT), bool)
        patch_occ[y0:y1, x0:x1] = counts[y0:y1, x0:x1] > 0
        bx0, by0, bx1, by1 = (v // 2 for v in self.base_window)
        base_occ = np.zeros((EXTENT // 2, EXTENT // 2), bool)
        base_occ[by0:by1, bx0:bx1] = levels[1][0][by0:by1, bx0:bx1] > 0
        n_e0, n_e1 = oracles.fragment_counts(patch_occ, base_occ)
        m = _read(mixed_path, ["cx", "cy", "e", "height"])
        me, mx, my = (m[c].to_numpy() for c in ("e", "cx", "cy"))
        mh = m["height"].to_numpy(zero_copy_only=False)
        if ((me == 0).sum(), (me == 1).sum()) != (n_e0, n_e1):
            return f"merge.merge_samples: rows per exponent {(me == 0).sum(), (me == 1).sum()} != {(n_e0, n_e1)}"
        l1 = levels[1][1]
        want_h = np.empty(len(me))
        f = me == 0
        fy, fx = my[f], mx[f]
        want_h[f] = np.where(patch_occ[fy, fx], mean[fy, fx], l1[fy >> 1, fx >> 1])
        want_h[~f] = l1[my[~f], mx[~f]]
        if not np.array_equal(mh.astype(np.float32), want_h.astype(np.float32)):
            return "merge.merge_samples: sample values differ from the winning side"
        return None


# ---------------------------------------------------------------------------
# query: the analyst's view
# ---------------------------------------------------------------------------


class Query:
    """Window, polygon, line, cell, LoD, point-lookup and kNN queries over one
    staged crawl, issued by one closed-loop client in fixed rounds
    (:data:`QUERY_ROUND`). Centres follow the page density; window sides are
    log-uniform over 2..64 cells (areas over three orders of magnitude).
    Latency here is per-query planning, scheduling and pruning, not data
    volume. Where the client knows the staged table's exponents it passes
    them, as a caller of a staged table would."""

    name = "query"
    round_size = len(QUERY_ROUND)
    K = 2

    def inputs(self, ctx: Ctx) -> None:
        self.files = gen.cached(
            os.path.join(ctx.inputs, gen.key("query", ctx.seed, QUERY_SPEC)),
            lambda: gen.crawls(ctx.seed, QUERY_SPEC)[:1],
        )
        self.rng = gen.stream_rng(ctx.seed, "queries")

    def stage(self, ctx: Ctx) -> None:
        """One crawl -> staged points, a bucketed block raster, its pyramid
        and its samples table."""
        from aardvark_geometry_quadtree_spark.operators.blocks import (
            pyramid_blocks, save_blocks_bucketed, unpack_blocks,
        )
        from aardvark_geometry_quadtree_spark.sources import store
        from aardvark_geometry_quadtree_spark.sources.webpages import (
            geocode, pages_to_points, points_to_blocks,
        )

        spark = ctx.spark
        pages = spark.read.parquet(*self.files)
        pts = store.stage(
            spark, "qpoints", ctx.out,
            lambda: pages_to_points(geocode(pages, extent=float(EXTENT)), e=0), force=True,
        )
        save_blocks_bucketed(
            points_to_blocks(pts.select("cx", "cy", "tl"), e=0, bits=BITS), "q_raster", N_BUCKETS
        )
        raster = spark.table("q_raster")
        pyramid_blocks(raster, levels=LEVELS).write.mode("overwrite").parquet(
            os.path.join(ctx.out, "q_pyramid")
        )
        store.save_samples(unpack_blocks(raster), os.path.join(ctx.out, "q_samples"))

    def check_stage(self, ctx: Ctx) -> str | None:
        """Load the staged tables and the oracle's copy of the samples; the
        staged samples must equal the per-cell stats of the staged points."""
        spark = ctx.spark
        self.raster = spark.table("q_raster")
        self.pyramid = spark.read.parquet(os.path.join(ctx.out, "q_pyramid"))
        self.samples = spark.read.parquet(os.path.join(ctx.out, "q_samples"))
        p = _read(os.path.join(ctx.out, "qpoints"), ["cx", "cy", "tl"])
        self.pts = np.stack([p["cx"].to_numpy(), p["cy"].to_numpy()], axis=1)
        s = _read(os.path.join(ctx.out, "q_samples"), ["cx", "cy", "e", "height", "n_pages"])
        self.cx, self.cy = s["cx"].to_numpy(), s["cy"].to_numpy()
        self.h = s["height"].to_numpy(zero_copy_only=False)
        self.px, self.py = oracles.positions(self.cx, self.cy)
        counts, mean = oracles.cell_stats(p["cx"].to_numpy(), p["cy"].to_numpy(), p["tl"].to_numpy(), EXTENT)
        occ = np.zeros((EXTENT, EXTENT), bool)
        occ[self.cy, self.cx] = True
        c = np.zeros((EXTENT, EXTENT), np.int64)
        c[self.cy, self.cx] = s["n_pages"].to_numpy()
        m = np.full((EXTENT, EXTENT), np.nan)
        m[self.cy, self.cx] = self.h
        if len(self.cx) != int(occ.sum()) or set(s["e"].to_pylist()) != {0}:
            return "stage: samples table has duplicate or non-e0 rows"
        self.levels = {0: counts}
        level_c, level_m = counts, mean
        for lvl in range(1, LEVELS + 1):
            level_c, level_m = oracles.rollup(level_c, level_m)
            self.levels[lvl] = level_c
        return oracles.check_raster("stage", occ, c, m, counts, mean)

    def warm_up(self, ctx: Ctx):
        """The first use of each window-query plan (code generation, JIT),
        which an analyst session pays once: set-up, checked but not timed
        as an operation."""
        kinds = self._kinds()
        for kind in WINDOW_KINDS:
            yield kind, lambda kind=kind: self._run(ctx, kind, kinds[kind], f"warmup.{kind}")

    def ops(self, ctx: Ctx):
        kinds = self._kinds()
        while True:
            for kind in QUERY_ROUND:
                yield kind, lambda kind=kind: self._run(ctx, kind, kinds[kind])

    def _kinds(self) -> dict:
        return {
            "blocks.inside_box_blocks": self._box,
            "blocks.inside_polygon_blocks": self._polygon_blocks,
            "blocks.near_line_blocks": self._line,
            "blocks.intersects_cell_blocks": self._cell,
            "blocks.sample_positions_blocks": self._positions,
            "blocks.knn_join_blocks": self._knn_blocks,
            "blocks.lod_cut_blocks": self._lod,
            "query.inside_polygon": self._polygon,
            "query.knn_join": self._knn,
        }

    # -- parameters: centre from the page density, log-uniform size --------

    def _centre_size(self) -> tuple[float, float, float]:
        x, y = self.pts[self.rng.integers(len(self.pts))] + self.rng.random(2)
        return float(x), float(y), float(math.exp(self.rng.uniform(math.log(2), math.log(64))))

    def _star(self, x, y, r) -> list[tuple[float, float]]:
        n = 6
        ang = np.sort(self.rng.uniform(0, 2 * math.pi, n))
        rad = r * self.rng.uniform(0.4, 1.0, n)
        return [(float(x + a * math.cos(t)), float(y + a * math.sin(t))) for t, a in zip(ang, rad)]

    def _probes(self, ctx: Ctx, x, y, r, n):
        pid = np.arange(n)
        px = x + self.rng.uniform(-r, r, n)
        py = y + self.rng.uniform(-r, r, n)
        probes = [(int(i), float(a), float(b)) for i, a, b in zip(pid, px, py)]
        return probes, ctx.spark.createDataFrame(probes, "pid long, px double, py double")

    def _run(self, ctx: Ctx, kind: str, fn, span: str | None = None) -> Op:
        call, check = fn(ctx)
        t0 = time.perf_counter()
        with ctx.tracer.span(span or kind) as sp:
            rows = call().collect()
            sp.rows = len(rows)
        seconds = time.perf_counter() - t0
        return Op(kind, seconds, 1, check(rows))

    def _cells(self, kind, mask):
        def check(rows):
            return oracles.check_cells(
                kind, [(r["cx"], r["cy"]) for r in rows], [r["height"] for r in rows],
                self.cx, self.cy, self.h, mask,
            )
        return check

    def _box(self, ctx):
        from aardvark_geometry_quadtree_spark.operators.blocks import inside_box_blocks

        x, y, s = self._centre_size()
        b = (x - s / 2, y - s / 2, x + s / 2, y + s / 2)
        mask = oracles.box_mask(self.px, self.py, *b)
        return (lambda: inside_box_blocks(self.raster, *b)), self._cells("inside_box_blocks", mask)

    def _polygon_blocks(self, ctx):
        from aardvark_geometry_quadtree_spark.operators.blocks import inside_polygon_blocks

        x, y, s = self._centre_size()
        verts = self._star(x, y, s / 2)
        mask = oracles.polygon_mask(self.px, self.py, verts)
        return (lambda: inside_polygon_blocks(self.raster, verts)), self._cells(
            "inside_polygon_blocks", mask
        )

    def _polygon(self, ctx):
        from aardvark_geometry_quadtree_spark.operators.query import inside_polygon

        x, y, s = self._centre_size()
        verts = self._star(x, y, s / 2)
        mask = oracles.polygon_mask(self.px, self.py, verts)
        return (lambda: inside_polygon(self.samples, verts)), self._cells("inside_polygon", mask)

    def _line(self, ctx):
        from aardvark_geometry_quadtree_spark.operators.blocks import near_line_blocks

        x, y, s = self._centre_size()
        t = float(self.rng.uniform(0, math.pi))
        dx, dy, d = math.cos(t), math.sin(t), s / 16
        mask = oracles.line_mask(self.px, self.py, x, y, dx, dy, d)
        return (lambda: near_line_blocks(self.raster, x, y, dx, dy, d)), self._cells(
            "near_line_blocks", mask
        )

    def _cell(self, ctx):
        from aardvark_geometry_quadtree_spark.operators.blocks import intersects_cell_blocks

        x, y, s = self._centre_size()
        qe = max(1, round(math.log2(s)))
        qcx, qcy = int(x) >> qe, int(y) >> qe
        mask = oracles.cell_mask(self.cx, self.cy, qcx, qcy, qe)
        return (lambda: intersects_cell_blocks(self.raster, qcx, qcy, qe)), self._cells(
            "intersects_cell_blocks", mask
        )

    def _positions(self, ctx):
        from aardvark_geometry_quadtree_spark.operators.blocks import sample_positions_blocks

        x, y, s = self._centre_size()
        probes, df = self._probes(ctx, x, y, s, 32)
        occ_h = {(int(a), int(b)): v for a, b, v in zip(self.cx, self.cy, self.h)}

        def check(rows):
            want = {}
            for pid, px, py in probes:
                c = (math.floor(px), math.floor(py))
                if c in occ_h:
                    want[pid] = (c, occ_h[c])
            got = {r["pid"]: ((r["cx"], r["cy"]), r["height"]) for r in rows}
            if got.keys() != want.keys() or any(
                got[p][0] != want[p][0] or not oracles.same_value(got[p][1], want[p][1]) for p in want
            ):
                return "sample_positions_blocks: probe hits differ"
            return None

        return (lambda: sample_positions_blocks(self.raster, df, BITS, exponents=[0])), check

    def _knn_check(self, kind, probes):
        want = oracles.knn(self.cx, self.cy, probes, self.K)

        def check(rows):
            got = [(r["pid"], r["cx"], r["cy"], r["dist"]) for r in rows]
            return oracles.check_knn(kind, got, want)

        return check

    def _knn_blocks(self, ctx):
        from aardvark_geometry_quadtree_spark.operators.blocks import knn_join_blocks

        x, y, s = self._centre_size()
        probes, df = self._probes(ctx, x, y, 2.0, 8)
        return (
            lambda: knn_join_blocks(self.raster, df, self.K, BITS, stage_input=False)
        ), self._knn_check("knn_join_blocks", probes)

    def _knn(self, ctx):
        from aardvark_geometry_quadtree_spark.operators.query import knn_join

        x, y, s = self._centre_size()
        probes, df = self._probes(ctx, x, y, 2.0, 8)
        return (lambda: knn_join(self.samples, df, self.K, ring_exponent=0, stage_input=False)), self._knn_check(
            "knn_join", probes
        )

    def _lod(self, ctx):
        from aardvark_geometry_quadtree_spark.operators.blocks import lod_cut_blocks

        m = LOD_CUT  # the level is the query; drawing it would flip the kernel path on and off

        def check(rows):
            es = {r["e"] for r in rows}
            n = sum(r["n_samples"] for r in rows)
            want = int((self.levels[m] > 0).sum())
            if es != {m} or n != want:
                return f"lod_cut_blocks: exponents {sorted(es)}, {n} cells; want e={m}, {want} cells"
            return None

        return (lambda: lod_cut_blocks(self.pyramid, m, exponents=list(range(1, LEVELS + 1)))), check


WORKLOADS = {w.name: w for w in (Build, Query)}
