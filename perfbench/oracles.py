"""Independent oracles: numpy and plain Python, no Spark, no package code.

Every ``check_*`` function returns ``None`` when the program's answer is
right and a one-line description of the first mismatch otherwise; the
benchmark counts each mismatch as a failed operation.

Rasters are dense ``(rows=y, cols=x)`` numpy arrays over the cell grid at
one exponent; cell ``(cx, cy)`` at exponent ``e`` has its sample position
at ``((cx + 0.5) * 2^e, (cy + 0.5) * 2^e)``.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

# ---------------------------------------------------------------------------
# build: blocks, merge, pyramid, mixed-exponent merge
# ---------------------------------------------------------------------------


def cell_stats(cx, cy, tl, size: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-cell page count and mean text length (NaN where empty) of int
    points on a ``size x size`` grid."""
    flat = np.asarray(cy, np.int64) * size + np.asarray(cx, np.int64)
    counts = np.bincount(flat, minlength=size * size)
    sums = np.bincount(flat, weights=np.asarray(tl, np.float64), minlength=size * size)
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = np.where(counts > 0, sums / np.maximum(counts, 1), np.nan)
    return counts.reshape(size, size), mean.reshape(size, size)


def merge_winner(c1, m1, c2, m2) -> tuple[np.ndarray, np.ndarray]:
    """Second-dominates same-exponent merge: where crawl 2 has the cell its
    count and mean win wholesale, elsewhere crawl 1's pass through."""
    occ2 = c2 > 0
    return np.where(occ2, c2, c1), np.where(occ2, m2, m1)


def rollup(counts, mean) -> tuple[np.ndarray, np.ndarray]:
    """One pyramid level: a parent is present iff any child is; its float
    value is the mean of its defined children, its integer value the
    truncating mean of its defined children."""
    h, w = counts.shape
    occ = (counts > 0).reshape(h // 2, 2, w // 2, 2)
    n_def = occ.sum(axis=(1, 3))
    csum = np.where(occ, counts.reshape(occ.shape), 0).sum(axis=(1, 3))
    msum = np.where(occ, mean.reshape(occ.shape), 0.0).sum(axis=(1, 3))
    with np.errstate(invalid="ignore", divide="ignore"):
        pmean = np.where(n_def > 0, msum / np.maximum(n_def, 1), np.nan)
    pcount = np.where(n_def > 0, csum // np.maximum(n_def, 1), 0)
    # a present parent always has a count >= 1 (each present child has >= 1)
    return pcount, pmean


def fragment_counts(patch_occ: np.ndarray, base_occ: np.ndarray) -> tuple[int, int]:
    """Rows per exponent of merging a fine e0 patch over a coarse e1 base
    where the patch dominates: every patch cell survives; a base cell whose
    four children are all patch cells is dropped; a partly covered base
    cell splits into its uncovered e0 children; an uncovered one survives.
    Returns ``(rows at e0, rows at e1)``."""
    h, w = base_occ.shape
    covered = patch_occ.reshape(h, 2, w, 2).sum(axis=(1, 3))
    partial = base_occ & (covered > 0) & (covered < 4)
    n_e0 = int(patch_occ.sum()) + int((4 - covered[partial]).sum())
    n_e1 = int((base_occ & (covered == 0)).sum())
    return n_e0, n_e1


def check_raster(name: str, got_occ, got_counts, got_mean, counts, mean, rtol=0.0):
    """Compare a block raster (already densified) with the expectation."""
    occ = counts > 0
    if not np.array_equal(got_occ, occ):
        return f"{name}: {int((got_occ != occ).sum())} cells differ in occupancy"
    if got_counts is not None and not np.array_equal(got_counts[occ], counts[occ]):
        return f"{name}: {int((got_counts[occ] != counts[occ]).sum())} cell counts differ"
    want = mean[occ].astype(np.float64)
    have = got_mean[occ].astype(np.float64)
    bad = ~np.isclose(have, want, rtol=rtol, atol=0.0)
    if bad.any():
        i = int(np.argmax(bad))
        return f"{name}: {int(bad.sum())} cell values differ (e.g. {have[i]} vs {want[i]})"
    return None


# ---------------------------------------------------------------------------
# query: predicates over the staged samples, brute-force kNN
# ---------------------------------------------------------------------------


def positions(cx, cy, e=0):
    s = 2.0 ** e
    return (np.asarray(cx, np.float64) + 0.5) * s, (np.asarray(cy, np.float64) + 0.5) * s


def box_mask(px, py, x0, y0, x1, y1):
    return (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)


def normalize_polygon(verts):
    """Drop repeated consecutive vertices and a closing vertex; make CCW."""
    out: list[tuple[float, float]] = []
    for x, y in verts:
        p = (float(x), float(y))
        if not out or out[-1] != p:
            out.append(p)
    if len(out) > 1 and out[0] == out[-1]:
        out.pop()
    area2 = sum(
        out[i][0] * out[(i + 1) % len(out)][1] - out[(i + 1) % len(out)][0] * out[i][1]
        for i in range(len(out))
    )
    return out if area2 >= 0 else out[::-1]


def polygon_mask(px, py, verts):
    """Nonzero winding rule with boundary points inside, bbox-prefiltered."""
    verts = normalize_polygon(verts)
    xs = [v[0] for v in verts]
    ys = [v[1] for v in verts]
    wind = np.zeros(px.shape, np.int64)
    on_edge = np.zeros(px.shape, bool)
    for i in range(len(verts)):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % len(verts)]
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        wind += ((y1 <= py) & (py < y2) & (cross > 0)).astype(np.int64)
        wind -= ((y2 <= py) & (py < y1) & (cross < 0)).astype(np.int64)
        on_edge |= (cross == 0) & box_mask(px, py, min(x1, x2), min(y1, y2), max(x1, x2), max(y1, y2))
    return box_mask(px, py, min(xs), min(ys), max(xs), max(ys)) & ((wind != 0) | on_edge)


def line_mask(px, py, ox, oy, dx, dy, dist):
    norm = (dx * dx + dy * dy) ** 0.5
    ux, uy = dx / norm, dy / norm
    return np.abs(ux * (py - oy) - uy * (px - ox)) <= dist


def cell_mask(cx, cy, qcx, qcy, qe):
    """e=0 cells inside the query cell at exponent ``qe >= 0``."""
    return ((np.asarray(cx) >> qe) == qcx) & ((np.asarray(cy) >> qe) == qcy)


def knn(cx, cy, probes, k: int) -> list[tuple[int, int, int, float]]:
    """Brute force: per probe ``(pid, px, py)`` the k nearest cell centers,
    ties broken by (dist, cx, cy). Returns ``(pid, cx, cy, dist)`` rows."""
    qx, qy = positions(cx, cy)
    out = []
    for pid, px, py in probes:
        d = np.sqrt((qx - px) * (qx - px) + (qy - py) * (qy - py))
        order = np.lexsort((cy, cx, d))[:k]
        out += [(int(pid), int(cx[i]), int(cy[i]), float(d[i])) for i in order]
    return out


def check_cells(name: str, got_keys, got_vals, cx, cy, val, mask):
    """The result's ``(cx, cy)`` set and values equal the masked samples."""
    want = dict(zip(zip(cx[mask].tolist(), cy[mask].tolist()), val[mask].tolist()))
    got = dict(zip(got_keys, got_vals))
    if len(got) != len(got_keys):
        return f"{name}: duplicate result rows"
    if got.keys() != want.keys():
        miss, extra = len(want.keys() - got.keys()), len(got.keys() - want.keys())
        return f"{name}: {miss} cells missing, {extra} extra"
    bad = [k for k in want if not same_value(got[k], want[k])]
    return f"{name}: {len(bad)} values differ" if bad else None


def check_knn(name: str, got: list[tuple[int, int, int, float]], want):
    g = {(p, x, y): d for p, x, y, d in got}
    w = {(p, x, y): d for p, x, y, d in want}
    if len(g) != len(got) or g.keys() != w.keys():
        return f"{name}: {len(w.keys() - g.keys())} neighbours missing, {len(g.keys() - w.keys())} extra"
    if any(abs(g[k] - w[k]) > 1e-9 * max(1.0, w[k]) for k in w):
        return f"{name}: neighbour distances differ"
    return None


def same_value(a, b) -> bool:
    """Equal layer values, where None and NaN both mean a hole."""
    if a is None or b is None:
        return a is None and (b is None or np.isnan(b))
    return float(a) == float(b) or (np.isnan(float(a)) and np.isnan(float(b)))


# ---------------------------------------------------------------------------
# dedup: planted groups, exact Jaccard
# ---------------------------------------------------------------------------


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams; a text shorter than n words is one shingle."""
    toks = text.strip(" ").split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def sql_round6(x: float) -> float:
    """SQL ``round(x, 6)``: half-up on the shortest decimal form of ``x``."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def jaccard(a: str, b: str, n: int = 3) -> float:
    """Exact n-gram Jaccard, rounded as the SQL verify step rounds it."""
    sa, sb = shingles(a, n), shingles(b, n)
    return sql_round6(len(sa & sb) / len(sa | sb))


def check_exact_groups(got: list[tuple[int, int]], groups: list[np.ndarray]):
    """``got`` rows are ``(keep_id, n_dups)``; planted groups are id arrays."""
    want = sorted((int(g.min()), len(g)) for g in groups)
    if sorted(got) != want:
        return f"exact_duplicates: {len(got)} groups reported, {len(want)} planted (or sizes differ)"
    return None


def check_candidates(cands: set[tuple[int, int]], groups: list[np.ndarray]):
    """Identical texts have identical signatures, so every pair inside a
    planted exact group must be an LSH candidate."""
    for g in groups:
        ids = sorted(int(x) for x in g)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                if (ids[i], ids[j]) not in cands:
                    return f"lsh_candidate_pairs: exact pair {(ids[i], ids[j])} missing"
    return None


def check_jaccard(got: dict[tuple[int, int], float], cands, text_of, threshold: float, n: int = 3):
    """The verified pairs are exactly the candidates whose recomputed
    Jaccard reaches ``threshold``, each reported to 6 decimals."""
    want = {}
    for a, b in cands:
        j = jaccard(text_of(a), text_of(b), n)
        if j >= threshold:
            want[(a, b)] = j
    if got.keys() != want.keys():
        return (
            f"ngram_jaccard_pairs: {len(want.keys() - got.keys())} pairs missing, "
            f"{len(got.keys() - want.keys())} extra"
        )
    bad = [p for p in want if got[p] != want[p]]
    return f"ngram_jaccard_pairs: {len(bad)} Jaccard values differ" if bad else None


def check_simhash_groups(hex_of: dict[int, str], n_docs: int, groups: list[np.ndarray]):
    if len(hex_of) != n_docs:
        return f"simhash64_table: {len(hex_of)} rows for {n_docs} docs"
    for g in groups:
        if len({hex_of[int(i)] for i in g}) != 1:
            return f"simhash64_table: identical texts {g.tolist()} hash differently"
    return None
