"""Text-analysis, dedup, and similarity operator units."""

import pytest
from pyspark.sql import functions as F

from aardvark_geometry_quadtree_spark.operators import dedup as D
from aardvark_geometry_quadtree_spark.operators import similarity as S
from aardvark_geometry_quadtree_spark.operators import textstats as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup
        (2, "the quick brown fox jumps over the lazy dog and walks away fast"),  # near dup
        (3, "der schnelle braune fuchs springt und der hund und die katze"),
        (4, "completely different content about spark query engines here now"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_token_count(spark, docs):
    got = {r["doc_id"]: r["n"] for r in docs.select("doc_id", T.token_count(F.col("text")).alias("n")).collect()}
    assert got[0] == 13
    assert got[5] == 0


def test_lang_id(spark, docs):
    got = {r["doc_id"]: r["l"] for r in docs.select("doc_id", T.lang_id(F.col("text")).alias("l")).collect()}
    assert got[0] == "en"
    assert got[3] == "de"
    assert got[5] == "und"


def test_quality_monotone_in_length(spark):
    df = spark.createDataFrame(
        [(0, "short text here"), (1, " ".join(["reasonable words with spacing"] * 30))],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["q"] for r in df.select("doc_id", T.quality_score(F.col("text")).alias("q")).collect()}
    assert 0.0 <= got[0] < got[1] <= 1.0


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "  hello world "), (2, "hello worlds")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["fp"] for r in df.select("doc_id", T.fingerprint(F.col("text")).alias("fp")).collect()}
    assert got[0] == got[1]
    assert got[0] != got[2]


def test_exact_duplicates(docs):
    dups = D.exact_duplicates(docs).collect()
    assert len(dups) == 1
    assert dups[0]["keep_id"] == 0 and dups[0]["n_dups"] == 2


def test_minhash_table_and_lsh(docs):
    mh = D.minhash_table(docs, k=8)
    assert mh.count() == 6
    pairs = {(r["id_a"], r["id_b"]) for r in D.lsh_candidate_pairs(docs, k=8, bands=4).collect()}
    assert (0, 1) in pairs  # exact dups always collide in every band
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.ngram_jaccard_pairs(docs, D.lsh_candidate_pairs(docs, k=8, bands=4)).collect()}
    assert jac[(0, 1)] == 1.0
    if (0, 2) in jac:
        assert 0.5 < jac[(0, 2)] < 1.0


def test_simhash_near_for_near_dups(docs):
    sh = {r["doc_id"]: r["s"] for r in docs.select("doc_id", D.simhash16(F.col("text")).alias("s")).collect()}
    ham = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[4]).count("1")
    assert ham <= ham_far
    assert sh[0] == sh[1]


def test_simhash_dup_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in D.simhash_dup_pairs(docs, max_hamming=2).collect()}
    assert (0, 1) in pairs


def test_brute_force_topk(spark):
    rows = [(i, [1.0 if j == i % 4 else 0.1 for j in range(4)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = S.brute_force_topk(emb, [1.0, 0.1, 0.1, 0.1], k=5)
    got = top.collect()
    assert len(got) == 5
    assert got[0]["sim"] == 1.0  # vec 0 matches the query exactly
    assert got[0]["vec_id"] == 0


def test_ann_matches_brute_force_top1(spark):
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    q = [float((3 * 7 + j * 3) % 11 - 5) for j in range(8)]  # = vec 3's values
    bf = S.brute_force_topk(emb, q, k=1).collect()[0]
    ann = S.ann_topk(emb, q, k=1, n_planes=4).collect()[0]
    assert ann["vec_id"] == bf["vec_id"]
    assert ann["sim"] == bf["sim"] == 1.0


@pytest.mark.parametrize("id_type", ["int", "string"])
def test_topk_keeps_non_bigint_id_type(spark, id_type):
    """The scoring kernel's id column takes the input's type: int and
    string ids come back unchanged through both top-k paths."""
    conv = int if id_type == "int" else (lambda i: f"v{i:02d}")
    rows = [(conv(i), [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, f"vec_id {id_type}, embedding array<float>")
    q = rows[3][1]
    bf = S.brute_force_topk(emb, q, k=3)
    ann = S.ann_topk(emb, q, k=3, n_planes=4)
    for df in (bf, ann):
        assert dict(df.dtypes)["vec_id"] == id_type
        top = df.collect()
        assert top[0]["vec_id"] == conv(3) and top[0]["sim"] == 1.0


def test_embedding_dup_pairs(spark):
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.999, 0.01, 0.0]), (2, [0.0, 1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in S.embedding_dup_pairs(emb, threshold=0.95, n_planes=3).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs


def test_simhash_candidate_volume_subquadratic(spark):
    """Guard: on a skewed corpus (every doc shares boilerplate tokens) the
    banded 16-bit candidate join must stay far below the all-pairs count —
    the round-1 8-bit half-keys degenerated to O(n^2/256)."""
    n = 400
    # skew: every doc shares the same 3 hot boilerplate tokens, but content
    # is otherwise distinct (12 unique tokens) — NOT near-dups, so a good
    # LSH should produce almost no candidates despite the hot tokens
    uniq = ", ' ', ".join(f"md5(cast(id * {m} as string))" for m in
                          (1, 7, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47))
    docs = spark.range(n).selectExpr(
        "id as doc_id",
        f"concat('the of and ', {uniq}) as text",
    )
    t = D.simhash64_table(docs)
    # candidate volume = sum over (band, key) buckets of C(sz, 2)
    from pyspark.sql import functions as F
    parts = [t.select(F.col(f"sh{w}").alias("key"), F.lit(w).alias("band")) for w in range(4)]
    keys = parts[0]
    for p in parts[1:]:
        keys = keys.unionByName(p)
    buckets = keys.groupBy("band", "key").count().filter("count > 1")
    cand = buckets.selectExpr("sum(count * (count - 1) / 2) as c").collect()[0]["c"] or 0
    all_pairs = n * (n - 1) / 2
    assert cand < 0.01 * all_pairs, (cand, all_pairs)


def test_embedding_band_candidate_volume_subquadratic(spark):
    """Same guard for the banded sign-LSH embedding keys (16 planes/band)."""
    import math

    from pyspark.sql import functions as F

    from aardvark_geometry_quadtree_spark.operators.similarity import band_keys, hyperplanes

    n, dim, bands, planes_per = 300, 32, 4, 16
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.pmod(F.xxhash64(F.col("id"), F.lit(d)), F.lit(2000)) / 1000.0 - 1.0)
            for d in range(dim)
        ]).alias("embedding"),
    )
    planes = hyperplanes(dim, bands * planes_per)
    keys = band_keys(F.col("embedding"), planes, bands)
    ex = emb.select(
        F.explode(F.array(*[F.struct(F.lit(i).alias("band"), k.alias("key"))
                            for i, k in enumerate(keys)])).alias("bk")
    ).select("bk.band", "bk.key")
    buckets = ex.groupBy("band", "key").count().filter("count > 1")
    cand = buckets.selectExpr("sum(count * (count - 1) / 2) as c").collect()[0]["c"] or 0
    assert cand < 0.02 * (n * (n - 1) / 2) * bands, cand
    _ = math


def test_ann_bucketed_index_matches_ring_probe(spark, tmp_path):
    """write_bucketed + ann_topk_bucketed: the precomputed partition-pruned
    index returns the same top-k as the query-time ring probe, and the scan
    carries a bucket partition filter."""
    import math

    from pyspark.sql import functions as F

    from aardvark_geometry_quadtree_spark.operators.similarity import (
        ann_topk, ann_topk_bucketed, write_bucketed)

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.pmod(F.xxhash64(F.col("id"), F.lit(d)), F.lit(2000)) / 1000.0 - 1.0)
            for d in range(16)
        ]).alias("embedding"),
    )
    q = [math.sin(d * 0.3) for d in range(16)]
    path = str(tmp_path / "annidx")
    write_bucketed(emb, path, n_planes=5)
    a = [(r.vec_id, r.sim) for r in ann_topk_bucketed(spark, path, q, k=5, n_planes=5).collect()]
    b = [(r.vec_id, r.sim) for r in ann_topk(emb, q, k=5, n_planes=5).collect()]
    assert a == b and len(a) == 5
    df = ann_topk_bucketed(spark, path, q, k=5, n_planes=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_winnow_fingerprints_guarantee_and_golden(spark):
    """Winnowing: (a) deterministic golden vs a literal Python recompute,
    (b) the k+w-1 guarantee — docs sharing a long substring share at least
    one fingerprint; unrelated docs (here) share none."""
    import hashlib

    from aardvark_geometry_quadtree_spark.operators.textstats import winnow_fingerprints

    k, w = 5, 4
    shared = "the winnowing guarantee holds for shared spans"
    rows = [
        (0, f"prefix alpha {shared} suffix one"),
        (1, f"other beginning {shared} different tail"),
        (2, "completely unrelated content with zero overlap at all"),
        (3, "tiny"),      # shorter than k -> no fingerprints (absent)
        (4, "sixchr"),    # k <= len < k+w-1 -> single-window fingerprint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: list(r["fingerprints"]) for r in winnow_fingerprints(df, k=k, w=w).collect()}

    def py_winnow(text):
        t = " ".join(text.lower().strip().split())
        if len(t) < k:
            return []
        hs = [int(hashlib.md5(t[i:i + k].encode()).hexdigest()[:12], 16) for i in range(len(t) - k + 1)]
        if len(hs) < w:
            return sorted({min(hs)})
        return sorted({min(hs[i:i + w]) for i in range(len(hs) - w + 1)})

    for i, text in rows:
        if i == 3:
            assert i not in got
        else:
            assert got[i] == py_winnow(text), i
    assert set(got[0]) & set(got[1])        # shared span -> shared fingerprint
    assert not (set(got[0]) & set(got[2]))  # unrelated -> disjoint (here)
    assert len(got[4]) == 1


def test_embedding_dup_pairs_defaults_are_corpus_scale():
    """Regression pin (round-2 verdict): defaults must be the 16-bit x 4-band
    scale setting, not the O(n^2/256) toy key."""
    import inspect

    sig = inspect.signature(S.embedding_dup_pairs)
    assert sig.parameters["n_planes"].default == 16
    assert sig.parameters["bands"].default == 4


def test_word_shingles_regex_equivalence(spark):
    """r6 optimization guard: the single-regex-pass shingle extraction must
    reproduce the former arrays_zip formulation exactly, including whitespace
    edge cases (trim strips only spaces, so leading/trailing tabs/newlines
    produce empty edge tokens that join into the shingles)."""

    def shingles_zip(text, n=3):  # the pre-r6 reference formulation
        w = F.split(F.trim(text), r"\s+")
        shifted = [
            F.slice(w, i + 1, F.greatest(F.size(w) - i, F.lit(0))).alias(f"t{i}")
            for i in range(n)
        ]
        z = F.slice(F.arrays_zip(*shifted), 1, F.greatest(F.size(w) - (n - 1), F.lit(1)))
        grams = F.transform(z, lambda s: F.concat_ws(" ", *[s[f"t{i}"] for i in range(n)]))
        return F.when(F.size(w) >= n, grams).otherwise(F.array(F.concat_ws(" ", w)))

    cases = [
        "", " ", "a", "a b", "a b c", "a b c d", "  a  b   c ", "\tfoo bar baz",
        "foo \t", "a\nb\nc\nd", "x " * 200, " lead", "trail ", "\t\t", "a  b",
        "one two three four five",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "doc_id long, text string")
    for n in (2, 3, 4):
        cmp = df.select(
            shingles_zip(F.col("text"), n).alias("old"),
            D.word_shingles(F.col("text"), n).alias("new"),
        )
        assert cmp.filter(F.col("old") != F.col("new")).count() == 0, f"n={n}"


def test_minhash_regex_shingle_equivalence(docs):
    """r6 optimization guard: minhash_table over the regex shingle pass must
    equal the per-instance md5 formulation over the pre-r6 zip-shingles
    bit-for-bit (the signature pipeline itself is unchanged; word_shingles
    is the optimized piece)."""
    k = 4
    ex = docs.select(F.col("doc_id"), F.explode(D.word_shingles(F.col("text"))).alias("_s"))
    ref = ex.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.col("_s"), F.lit(f"#{i}")))).alias(f"mh_{i}")
            for i in range(k)
        ]
    )
    got = D.minhash_table(docs, k=k)
    assert ref.exceptAll(got).count() == 0 and got.exceptAll(ref).count() == 0


def test_simhash_kernel_equivalence(spark, docs):
    """r6 optimization guard: the mapInArrow simhash kernel must equal the
    explode + 64-bit-sum aggregate formulation bit-for-bit, including the
    null-text drop and empty-token edge cases."""

    def ref_simhash(df, id_col="doc_id", text_col="text"):
        toks = F.split(F.trim(F.col(text_col)), r"\s+")
        ex = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("_t"))
        hexcol = F.md5(F.col("_t"))
        ex = ex.select(
            "id",
            *[
                F.conv(F.substring(hexcol, 4 * w + 1, 4), 16, 10).cast("long").alias(f"_w{w}")
                for w in range(4)
            ],
        )
        aggs = []
        for b in range(64):
            w, off = divmod(b, 16)
            aggs.append(F.sum((F.shiftright(F.col(f"_w{w}"), off) % 2) * 2 - 1).alias(f"_b{b}"))
        g = ex.groupBy("id").agg(*aggs)
        words = []
        for w in range(4):
            acc = F.lit(0).cast("long")
            for off in range(16):
                acc = acc + F.when(F.col(f"_b{w*16+off}") >= 0, F.lit(1 << off)).otherwise(
                    F.lit(0)
                )
            words.append(acc.alias(f"sh{w}"))
        out = g.select("id", *words)
        hexs = F.concat(*[F.lpad(F.lower(F.hex(F.col(f"sh{w}"))), 4, "0") for w in (3, 2, 1, 0)])
        return out.withColumn("simhash_hex", hexs).withColumnRenamed("id", id_col)

    edge = spark.createDataFrame(
        [(0, None), (1, ""), (2, " "), (3, "\tx y"), (4, "a")], "doc_id long, text string"
    )
    for df in (docs, edge):
        ref, got = ref_simhash(df), D.simhash64_table(df)
        assert ref.exceptAll(got).count() == 0 and got.exceptAll(ref).count() == 0
        assert ref.count() == got.count()
