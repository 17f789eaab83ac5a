"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k as one codegen'd pass (zip_with +
aggregate — no Python, no UDF). Scale path: sign-LSH bucketing with
deterministic md5-derived hyperplanes (plan-time literal arrays, so the
same planes are reproducible in the DuckDB oracle and across runs), probing
only the query's bucket ring. Embedding near-dup pairs reuse the buckets as
candidate generation.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column, decimals: int = 6) -> Column:
    """Cosine similarity rounded to ``decimals`` (stable across engines)."""
    return F.round(dot(a, b) / (norm(a) * norm(b)), decimals)


def _scored_arrow(
    embeddings: DataFrame,
    query_vec: list[float],
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One ``mapInArrow`` scoring pass: per vector the query dot product,
    the squared self-norm, and (when ``planes`` is non-empty) the sign-LSH
    bucket — all in a numpy kernel over the flat Arrow list buffer.

    Why not Catalyst: the HOF ``aggregate(zip_with(...))`` dot product is
    interpreted per ELEMENT (boxed doubles on the JVM heap), and the
    codegen'd ``element_at``-chain alternative measured 2-3x WORSE (the
    64-term expression trees per plane blow past codegen limits). The
    kernel does the same arithmetic in C at a fraction of the cost
    (measured 1.08s -> 0.46s for the 6-plane ANN scan at bench sf1.0).

    FP-exactness contract: accumulation loops SEQUENTIALLY over dimensions
    (``acc += v[:, i] * q[i]``), reproducing the HOF's left-to-right
    summation order bit-for-bit — NOT a numpy ``dot``/``sum``, whose
    pairwise/SIMD summation would differ in the last bit and flip rounded
    values on ties. Division/rounding stay in Catalyst (callers), so
    rounding semantics are Spark's. Differential-tested: full-scan buckets
    and rounded sims identical to the HOF formulation.

    Contract: fixed-dimension, null-free vectors (dim = len(query_vec)) —
    the embedding-table format this module defines.
    """
    import numpy as np
    import pyarrow as pa

    P = np.array(planes, dtype=np.float64) if planes else None
    qn = np.array(query_vec, dtype=np.float64)
    dim = len(query_vec)
    n_planes = len(planes)
    id_type = dict(embeddings.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, bucket long, dotq double, normsq double"

    def _score(batches):
        for b in batches:
            t = pa.Table.from_batches([b])
            if t.num_rows == 0:
                continue
            ids = b.column(id_col)
            lst = t.column(vec_col)
            arr = lst.combine_chunks() if isinstance(lst, pa.ChunkedArray) else lst
            flat = arr.flatten().to_numpy().astype(np.float64, copy=False)
            V = flat.reshape(len(ids), dim)
            n = len(ids)
            dq = np.zeros(n)
            ns = np.zeros(n)
            dps = [np.zeros(n) for _ in range(n_planes)]
            for i in range(dim):  # sequential over dims: exact HOF FP order
                vi = V[:, i]
                dq += vi * qn[i]
                ns += vi * vi
                for p in range(n_planes):
                    dps[p] += vi * P[p, i]
            bucket = np.zeros(n, dtype=np.int64)
            for p in range(n_planes):
                bucket |= (dps[p] >= 0).astype(np.int64) << p
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(bucket), pa.array(dq), pa.array(ns)],
                names=[id_col, "bucket", "dotq", "normsq"],
            )

    # small single-row-group embedding tables scan as ONE non-empty task;
    # spread before the kernel (see dedup._spread)
    from .dedup import _spread

    return _spread(embeddings.select(id_col, vec_col)).mapInArrow(_score, out_schema)


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: one Arrow-kernel scoring scan
    (:func:`_scored_arrow`), then partial top-k per partition via Spark's
    ORDER BY + LIMIT (TakeOrderedAndProject — no full sort shuffle).
    Deterministic tie-break on id."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    sc = _scored_arrow(embeddings, query_vec, [], id_col, vec_col)
    sim = F.round(F.col("dotq") / (F.sqrt(F.col("normsq")) * norm(q)), 6)
    return (
        sc.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5(seed, plane, dim-index) — no RNG
    state, identical in any engine/run (the plan embeds them as literals)."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:4], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit p = (vec . plane_p) >= 0."""
    out = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        pl = F.array(*[F.lit(v) for v in plane])
        out = out + F.when(dot(vec, pl) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return out


def ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    ``max_hamming`` bits of the query's bucket (bucket ring probe). At scale
    the bucket column is precomputed and the table is partitioned by it, so
    the probe is a pruned scan of 1 + n_planes partitions instead of 100 TB.
    """
    dim = len(query_vec)
    planes = hyperplanes(dim, n_planes, seed)
    qb = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, plane)) >= 0:
            qb |= 1 << p
    probe = _probe_ring(qb, n_planes, max_hamming)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    # bucket + query-dot + self-norm in ONE Arrow kernel scan (same values
    # as the HOF formulation bit-for-bit — see _scored_arrow)
    sc = _scored_arrow(embeddings, query_vec, planes, id_col, vec_col)
    sim = F.round(F.col("dotq") / (F.sqrt(F.col("normsq")) * norm(q)), 6)
    return (
        sc.filter(F.col("bucket").isin(probe))
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def _probe_ring(qb: int, n_planes: int, max_hamming: int) -> list[int]:
    """Multi-probe bucket ring: all buckets within ``max_hamming`` bit flips."""
    probe = [qb]
    if max_hamming >= 1:
        probe += [qb ^ (1 << p) for p in range(n_planes)]
    if max_hamming >= 2:
        probe += [
            qb ^ (1 << p) ^ (1 << r) for p in range(n_planes) for r in range(p + 1, n_planes)
        ]
    return probe


def write_bucketed(
    embeddings: DataFrame,
    path: str,
    n_planes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> None:
    """Precompute the ANN index: LSH bucket per vector, written as a
    bucket-partitioned parquet table. This is the 100 TB path the query-time
    scan cannot be: ``ann_topk_bucketed`` reads only the probed partitions
    (partition pruning on the ``bucket`` directory key — 1 + n_planes
    directories out of 2^n_planes), never the full table."""
    if dim is None:
        dim = embeddings.select(F.size(vec_col)).first()[0]
    planes = hyperplanes(dim, n_planes, seed)
    b = embeddings.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))
    # one directory per bucket; within a bucket, files stay row-grouped for
    # the scan. repartition by bucket so each partition writes one directory.
    b.repartition("bucket").write.mode("overwrite").partitionBy("bucket").parquet(path)


def ann_topk_bucketed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_hamming: int = 1,
) -> DataFrame:
    """ANN top-k over a ``write_bucketed`` index: the bucket ring filter is a
    partition-pruning predicate on the parquet directory key, so only the
    probed buckets are read (check ``.explain``: the scan's partitionFilters
    carry ``bucket IN (...)``)."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qb = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, plane)) >= 0:
            qb |= 1 << p
    probe = _probe_ring(qb, n_planes, max_hamming)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    df = spark.read.parquet(path)
    return (
        df.filter(F.col("bucket").isin(probe))
        .select(F.col(id_col), cosine(F.col(vec_col), q).alias("sim"))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def band_keys(vec: Column, planes: list[list[float]], bands: int) -> list[Column]:
    """Split the sign signature over ``planes`` into ``bands`` integer band
    keys (len(planes)/bands bits each)."""
    rows = len(planes) // bands
    keys = []
    for b in range(bands):
        out = F.lit(0).cast("long")
        for j in range(rows):
            pl = F.array(*[F.lit(v) for v in planes[b * rows + j]])
            out = out + F.when(dot(vec, pl) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        keys.append(out)
    return keys


def embedding_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    bands: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: candidates from banded sign-LSH
    equi-self-joins, verified by exact cosine >= threshold.

    ``n_planes`` is the PER-BAND key width and ``bands`` the number of
    independent bands (total signature = bands * n_planes planes). Bands
    trade recall for candidate volume: a pair is a candidate if ANY band
    key matches. The DEFAULTS are the corpus-scale setting (16-bit keys x
    4 bands): 65536 bucket values per band keeps each equi-join bucket
    ~n/65536 — sub-quadratic at 10^9 vectors (guard-tested) — and 4 bands
    recover the recall the wider key costs. Small exploratory corpora may
    prefer narrower keys (e.g. n_planes=6, bands=2) for recall at tiny n,
    as the sf0.01 driver query does explicitly.
    """
    dim = embeddings.select(F.size(vec_col)).first()[0]
    planes = hyperplanes(dim, bands * n_planes, seed)
    keys = band_keys(F.col(vec_col), planes, bands)
    b = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("band"), k.alias("key")) for i, k in enumerate(keys)])
        ).alias("bk"),
    ).select("id", "v", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = b.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"), "band", "key")
    c = b.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"), "band", "key")
    return (
        a.join(c, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("v_a"), F.col("v_b")).alias("sim"))
        .filter(F.col("sim") >= threshold)
        .distinct()
    )
