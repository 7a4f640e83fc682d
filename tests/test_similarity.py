"""Similarity search: brute-force exactness vs numpy oracle; LSH recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastpasta_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _numpy_topk(rows, query_ids, k):
    ids = [r.vec_id for r in rows]
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    out = {}
    for qi, q in enumerate(ids):
        if q not in query_ids:
            continue
        sims = (mat @ mat[qi]) / (norms * norms[qi])
        order = sorted(
            (i for i in range(len(ids)) if i != qi),
            key=lambda i: (-round(sims[i], 6), ids[i]),
        )[:k]
        out[q] = [(ids[i], round(sims[i], 6)) for i in order]
    return out


def test_cosine_topk_matches_numpy(spark, embeddings):
    queries = embeddings.limit(12)
    got_rows = similarity.cosine_topk(embeddings, queries, k=5).collect()
    got = {}
    for r in sorted(got_rows, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.sim))
    rows = embeddings.collect()
    qids = {r.vec_id for r in queries.collect()}
    expected = _numpy_topk(rows, qids, 5)
    assert got.keys() == expected.keys()
    for q in got:
        assert [n for n, _ in got[q]] == [n for n, _ in expected[q]], q
        for (_, a), (_, b) in zip(got[q], expected[q]):
            assert abs(a - b) < 1e-5


def test_lsh_ann_recall(spark, embeddings):
    queries = embeddings.limit(20)
    exact = similarity.cosine_topk(embeddings, queries, k=10).collect()
    approx = similarity.lsh_ann_topk(embeddings, queries, dim=64, k=10,
                                     n_planes=4, n_tables=8).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # near-random synthetic embeddings are LSH's worst case; 8 tables of
    # 4 planes measured ~0.6 recall here (clustered real embeddings do
    # far better). The gate guards against regressions, not absolutes.
    assert recall > 0.4, recall
    # every approx neighbor shares the query's bucket — sanity of bucketing
    assert len(approx_set) > 0


def test_lsh_bucket_deterministic(spark, embeddings):
    a = similarity.with_lsh_bucket(embeddings, dim=64, n_planes=6)
    b = similarity.with_lsh_bucket(embeddings.repartition(7), dim=64, n_planes=6)
    ra = sorted((r.vec_id, r.lsh_bucket) for r in a.collect())
    rb = sorted((r.vec_id, r.lsh_bucket) for r in b.collect())
    assert ra == rb
    n_buckets = len({x[1] for x in ra})
    assert n_buckets > 8  # buckets actually spread


def test_ivf_ann_recall(spark, embeddings):
    from pyspark.sql import functions as F

    queries = embeddings.filter(F.col("vec_id") < 15)
    exact = similarity.cosine_topk(embeddings, queries, k=5).collect()
    approx = similarity.ivf_topk(embeddings, queries, k=5,
                                 n_lists=8, nprobe=4).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, recall  # nprobe=4 of 8 lists
    # approx sims are EXACT cosines (never fabricated)
    exact_sims = {(r.query_id, r.neighbor_id): r.sim for r in exact}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_sims:
            assert r.sim == exact_sims[(r.query_id, r.neighbor_id)]


def test_ivf_centroids_deterministic(spark, embeddings):
    a = similarity.ivf_centroids(embeddings, 8).collect()
    b = similarity.ivf_centroids(embeddings.repartition(7), 8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_embedding_near_duplicates(spark, embeddings):
    from pyspark.sql import functions as F

    # inject exact copies of 10 vectors -> sim 1.0 pairs must surface
    copies = embeddings.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    df = embeddings.select("vec_id", "embedding").unionByName(copies)
    pairs = similarity.embedding_near_duplicates(
        df, threshold=0.999, dim=64, n_planes=6, n_tables=6).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    expected = {(i, i + 1_000_000) for i in range(10)}
    # LSH with 6 tables on identical vectors: identical vectors share
    # every bucket, so ALL injected pairs must be found
    assert expected <= found
    assert all(r.sim >= 0.999 for r in pairs)


def test_kmeans_matches_numpy_replay(spark):
    # independent Lloyd's replay in numpy: seeded init (smallest md5 of
    # id), argmax cosine w/ list_id tie-break, 6dp-rounded means
    import numpy as np

    from fastpasta_spark.functions.hashing import py_md5_hash
    from fastpasta_spark.operators.similarity import kmeans_assign

    rng = np.random.RandomState(3)
    vecs = {i: rng.randn(8).astype("float32") for i in range(60)}
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>")
    k, iters = 4, 2
    got = {r.vec_id: (r.list_id, r.sim)
           for r in kmeans_assign(emb, k=k, iters=iters).collect()}

    def cos(a, b):
        a = np.asarray(a, dtype=np.float64); b = np.asarray(b, dtype=np.float64)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    init_order = sorted(vecs, key=lambda i: (py_md5_hash(str(i)), i))[:k]
    cents = [np.asarray(vecs[i], dtype=np.float64) for i in init_order]

    def assign_all():
        out = {}
        for i, v in vecs.items():
            sims = [cos(v, c) for c in cents]
            best = max(range(k), key=lambda j: (sims[j], -j))
            out[i] = best
        return out

    for _ in range(iters):
        a = assign_all()
        for j in range(k):
            members = [vecs[i] for i, lj in a.items() if lj == j]
            if members:
                cents[j] = np.round(
                    np.mean(np.asarray(members, dtype=np.float64), axis=0), 6)
    final = assign_all()
    for i in vecs:
        assert got[i][0] == final[i], i
        assert abs(got[i][1] - round(cos(vecs[i], cents[final[i]]), 6)) < 2e-6, i


def test_kmeans_partition_invariant(spark):
    from fastpasta_spark.operators.similarity import kmeans_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sorted(map(tuple, kmeans_assign(emb, k=4, iters=1).collect()))
    b = sorted(map(tuple, kmeans_assign(emb.repartition(7), k=4,
                                        iters=1).collect()))
    assert a == b


def test_kmeans_semdedup_composition(spark):
    # SemDeDup shape: cluster, then near-dup only WITHIN clusters —
    # exact copies must land in the same cluster with sim 1.0 to its
    # centroid's argmax (they are identical vectors)
    from fastpasta_spark.operators.similarity import kmeans_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding")
    copies = emb.filter("vec_id < 5").selectExpr(
        "vec_id + 1000000 AS vec_id", "embedding")
    got = {r.vec_id: r.list_id
           for r in kmeans_assign(emb.unionByName(copies), k=4,
                                  iters=1).collect()}
    for i in range(5):
        assert got[i] == got[i + 1000000]


def test_semantic_duplicates_finds_copies_within_clusters(spark):
    from fastpasta_spark.functions.cache import release_tracked
    from fastpasta_spark.operators.similarity import semantic_duplicates

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding")
    copies = emb.filter("vec_id < 8").selectExpr(
        "vec_id + 1000000 AS vec_id", "embedding")
    pairs = semantic_duplicates(emb.unionByName(copies), threshold=0.999,
                                k=4, iters=1).collect()
    got = {(r.id_a, r.id_b): r.sim for r in pairs}
    for i in range(8):
        assert (i, i + 1000000) in got, i
        assert got[(i, i + 1000000)] == 1.0
    release_tracked()


def test_semantic_duplicates_hot_cluster_cap(spark):
    from fastpasta_spark.functions.cache import release_tracked
    from fastpasta_spark.operators.similarity import semantic_duplicates

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding")
    # cap below every cluster size -> all clusters dropped -> no pairs
    assert semantic_duplicates(emb, threshold=0.0, k=2, iters=1,
                               max_cluster=1).count() == 0
    release_tracked()


def test_kmeans_empty_corpus_raises(spark):
    import pytest

    from fastpasta_spark.operators.similarity import kmeans_fit

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no vectors"):
        kmeans_fit(empty, k=4)


def test_ivf_topk_empty_corpus(spark):
    # no centroids: the codebook is an empty (0, 0) matrix, so every
    # vector lands in no list and there are no neighbours — no raise
    schema = "vec_id long, embedding array<float>"
    empty = spark.createDataFrame([], schema)
    assert similarity.ivf_topk(empty, empty, k=3, n_lists=4,
                               nprobe=2).collect() == []
    queries = spark.createDataFrame([(1, [1.0, 0.0]), (2, None)], schema)
    assert similarity.ivf_topk(empty, queries, k=3, n_lists=4,
                               nprobe=2).collect() == []


def test_kmeans_k_exceeds_corpus(spark):
    # fewer vectors than k: the codebook just has fewer centroids
    from fastpasta_spark.operators.similarity import kmeans_assign

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>")
    got = kmeans_assign(emb, k=8, iters=1).collect()
    assert len(got) == 2
    assert {r.list_id for r in got} <= {0, 1}


# ---------------------------------------------------------------------------
# JVM-side references. The Arrow kernels replaced these literal-SQL
# forms (lambda-bearing expressions never reach codegen, so the literal
# forms lost at every codebook size measured, BENCH/CODEBOOK.md); they
# stay here as the in-engine reference the parity tests compare with.
# The DuckDB oracles in __spark_entry__ remain the cross-engine one.
# ---------------------------------------------------------------------------

# try_divide, not '/': under ANSI mode (Spark 4 default) even DOUBLE
# 0.0/0.0 raises DIVIDE_BY_ZERO, so a single all-zero embedding would
# crash every literal cosine path; try_divide degrades it to NULL sim,
# which threshold filters and DESC orderings (nulls last) already handle.
# nanvl(.., NULL): try_divide only NULLs a ZERO divisor — a genuine NaN
# component (float('nan') in the array, not a NULL element) propagates
# NaN through the aggregates and NaN/NaN stays NaN, which compares
# GREATER than any threshold in Spark; the Arrow kernels emit NULL for
# NaN-component vectors, so the reference must too.
COSINE_EXPR = (
    "nanvl(try_divide(aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * y), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), "
    "sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * v)) * "
    "sqrt(aggregate({b}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * v))), "
    "CAST(NULL AS DOUBLE))"
)


def _bucket_expr(vec_col: str, dim: int, n_planes: int, table: int) -> str:
    planes = similarity._projection_matrix(dim, n_planes, table)
    lits = ", ".join(
        "array(" + ", ".join(f"CAST({v:.9f} AS DOUBLE)" for v in row) + ")"
        for row in planes
    )
    # nanvl(dot, -1): a genuine NaN component makes the projection NaN,
    # and NaN > 0 is TRUE in Spark (NaN sorts above everything) — which
    # would put NaN vectors in the all-ONES-signs bucket while the numpy
    # twin (NaN > 0 is False) lands them on the all-zero-signs offset
    # bucket like every other degraded row. Coerce NaN to a negative dot
    # so both paths agree; NULL dots (interior NULL element) already
    # contribute 0 via IF(NULL > 0).
    return (
        f"aggregate(sequence(0, {n_planes - 1}), {table * (1 << n_planes)}L, "
        f"(acc, p) -> acc + "
        f"IF(nanvl(aggregate(zip_with(element_at(array({lits}), p + 1), {vec_col}, "
        "(w, x) -> w * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), "
        "(a, v) -> a + v), CAST(-1.0 AS DOUBLE)) > 0, shiftleft(1L, p), 0L))"
    )


def _literal_lsh_buckets(df, dim, n_planes, n_tables):
    """Reference for similarity.with_lsh_buckets."""
    exprs = ", ".join(
        _bucket_expr("embedding", dim, n_planes, t) for t in range(n_tables)
    )
    return df.withColumn("lsh_bucket", F.explode(F.expr(f"array({exprs})")))


def _cent_lit(centroids) -> str:
    return ", ".join(
        "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vec) + ")"
        for _, vec in centroids
    )


def _literal_assign_lists(df, centroids, nprobe, vec_col):
    """Reference for similarity._assign_lists."""
    # coalesce NULL negsim (corrupt vector OR degenerate zero centroid,
    # reachable since COSINE_EXPR's try_divide) to +inf so it ranks
    # LAST: struct array_sort puts a NULL field FIRST, which would let
    # a single zero centroid win every argmax; the Arrow twin's argsort
    # already sorts the equivalent NaN last, and ties at +inf fall back
    # to list_id order on both paths (all-degenerate -> codebook order)
    ranked = (
        "slice(array_sort(transform(array({cents}), (c, i) -> "
        "named_struct('negsim', coalesce(-({cos}), "
        "CAST('Infinity' AS DOUBLE)), 'list_id', i))), 1, {nprobe})"
    ).format(cents=_cent_lit(centroids), cos=COSINE_EXPR.format(a=vec_col, b="c"),
             nprobe=nprobe)
    if nprobe == 1:
        return df.withColumn(
            "list_id", F.expr(f"element_at({ranked}, 1).list_id"))
    return df.withColumn(
        "list_id", F.explode(F.expr(f"transform({ranked}, s -> s.list_id)")))


def _literal_centroid_sim(centroids):
    """Reference for similarity._centroid_sim_udf over (_vec, list_id)."""
    return F.expr(COSINE_EXPR.format(
        a="_vec", b=f"element_at(array({_cent_lit(centroids)}), list_id + 1)"))


def _vecs_df(spark, n, dim, seed=7):
    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_assign_lists_arrow_matches_literal(spark):
    df = _vecs_df(spark, 60, 16).select(
        "vec_id", F.col("embedding").alias("_vec"))
    cent = similarity.kmeans_fit(
        _vecs_df(spark, 60, 16), k=6, iters=1)
    lit = sorted((r.vec_id, r.list_id) for r in _literal_assign_lists(
        df, cent, nprobe=2, vec_col="_vec").collect())
    arrow = sorted((r.vec_id, r.list_id) for r in similarity._assign_lists(
        df, cent, nprobe=2, vec_col="_vec").collect())
    assert lit == arrow


def test_kmeans_assign_arrow_matches_literal(spark, monkeypatch):
    df = _vecs_df(spark, 50, 12, seed=11)
    arrow = sorted((r.vec_id, r.list_id, r.sim)
                   for r in similarity.kmeans_assign(df, k=5, iters=1).collect())
    # the whole fit and the final sims on the JVM references
    # (kmeans_assign scores the (_vec, list_id) columns)
    monkeypatch.setattr(similarity, "_assign_lists", _literal_assign_lists)
    monkeypatch.setattr(similarity, "_centroid_sim_udf",
                        lambda cent: lambda _v, _l: _literal_centroid_sim(cent))
    lit = sorted((r.vec_id, r.list_id, r.sim)
                 for r in similarity.kmeans_assign(df, k=5, iters=1).collect())
    assert [x[:2] for x in lit] == [x[:2] for x in arrow]
    for a, b in zip(lit, arrow):
        assert abs(a[2] - b[2]) < 2e-6  # 6dp rounding on both paths


def test_lsh_buckets_arrow_matches_literal(spark):
    df = _vecs_df(spark, 40, 8, seed=13)
    lit = sorted((r.vec_id, r.lsh_bucket) for r in _literal_lsh_buckets(
        df, 8, 4, 3).collect())
    arrow = sorted((r.vec_id, r.lsh_bucket) for r in similarity.with_lsh_buckets(
        df, dim=8, n_planes=4, n_tables=3).collect())
    assert lit == arrow
    one = sorted((r.vec_id, r.lsh_bucket) for r in similarity.with_lsh_bucket(
        df, dim=8, n_planes=4, table=2).collect())
    one_lit = sorted((r.vec_id, r.b) for r in df.select(
        "vec_id", F.expr(_bucket_expr("embedding", 8, 4, 2)).alias("b"))
        .collect())
    assert one == one_lit


def test_large_codebook_compiles_and_self_assigns(spark):
    # k=256, dim=256 (65,536 codebook weights, a SemDeDup-scale shape)
    # through the Arrow kernels end to end. Every corpus
    # vector IS a centroid (ivf_centroids samples k=n of them), so each
    # must assign to itself with sim ~ 1.
    df = _vecs_df(spark, 256, 256, seed=17)
    cent = sorted(
        (r.list_id, [float(v) for v in r.centroid])
        for r in similarity.ivf_centroids(df, 256).collect())
    assert len(cent) == 256
    assigned = similarity._assign_lists(
        df.select("vec_id", similarity.F.col("embedding").alias("_vec")),
        cent, nprobe=1, vec_col="_vec")
    sim = similarity._centroid_sim_udf(cent)(
        similarity.F.col("_vec"), similarity.F.col("list_id"))
    rows = assigned.select("vec_id", "list_id",
                           similarity.F.round(sim, 6).alias("sim")).collect()
    assert len(rows) == 256
    assert all(r.sim >= 0.999999 for r in rows), min(r.sim for r in rows)
    # distinct centroids of a 256-dim gaussian -> all self-assignments
    assert len({r.list_id for r in rows}) == 256


def test_semantic_duplicates_recall_vs_brute_force(spark):
    """End-to-end recall of the SemDeDup composition (kmeans clustering
    + within-cluster exact cosine) against the brute-force pair set on
    a corpus with planted near-duplicate pairs. The components are
    tested individually; this pins the COMPOSITION's recall."""
    rng = np.random.default_rng(23)
    base = rng.normal(size=(12, 16))
    rows = []
    vid = 0
    for b in base:
        for _ in range(3):  # 3 close variants of each base vector
            v = b + rng.normal(scale=0.01, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # brute-force oracle: all pairs with cosine >= threshold
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)
    truth = {(i, j) for i in range(vid) for j in range(i + 1, vid)
             if round(sims[i, j], 6) >= 0.95}
    assert len(truth) >= 12  # the planted variants are near-dups

    got = {(r.id_a, r.id_b) for r in similarity.semantic_duplicates(
        df, threshold=0.95, k=8, iters=2).collect()}
    # no false positives: every reported pair is exact-cosine verified
    assert got <= truth
    # recall: clustering should co-locate most planted variant pairs
    recall = len(got & truth) / len(truth)
    assert recall >= 0.6, recall


def test_null_and_ragged_vectors_literal_arrow_parity(spark):
    """Null/ragged embeddings must take the JVM references' degraded
    path in the Arrow kernels: the all-zero-signs LSH bucket (table
    offset) / the first nprobe list_ids (stable sort over all-NULL
    negsim) with NULL sim. Also guards the original regression: one bad
    row must not crash the whole Arrow batch."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, None), (2, [1.0, 2.0]),
            (3, [0.0, 1.0, 0.0, 0.0]), (4, []),
            # correct length, interior NULL element: literal dot/cosine
            # aggregates go NULL; the Arrow twin sees NaN components
            (5, [1.0, None, 0.0, 0.0]),
            # true zero vector: under ANSI mode a bare '/' would THROW
            # DIVIDE_BY_ZERO on the literal path — try_divide degrades
            # it to NULL sim, and the UDF twin must match (not NaN,
            # which compares greater than any threshold in Spark)
            (6, [0.0, 0.0, 0.0, 0.0]),
            # GENUINE NaN component (not a NULL element): the literal
            # aggregates propagate NaN, and NaN > 0 / NaN > threshold
            # are TRUE in Spark — without the nanvl guards this row took
            # the all-ONES-signs bucket on the literal path (numpy: the
            # all-zero offset bucket) and leaked past threshold filters
            (7, [float("nan"), 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    vdf = df.select("vec_id", F.col("embedding").alias("_vec"))

    def snapshot(assign_lists, lsh_buckets):
        assign1 = sorted((r.vec_id, r.list_id) for r in assign_lists(
            vdf, cent, 1, "_vec").collect())
        assign2 = sorted((r.vec_id, r.list_id) for r in assign_lists(
            vdf, cent, 2, "_vec").collect())
        buckets = sorted((r.vec_id, r.lsh_bucket) for r in lsh_buckets(
            df, 4, 2, 2).collect())
        return assign1, assign2, buckets

    lit = snapshot(_literal_assign_lists, _literal_lsh_buckets)
    arrow = snapshot(similarity._assign_lists, similarity.with_lsh_buckets)
    assert lit == arrow

    # degraded-row semantics, pinned explicitly: invalid vectors land in
    # list 0 / the per-table offset buckets (0 and 1<<2 = 4)
    a1 = dict(arrow[0])
    assert a1[0] == 0 and a1[3] == 1
    assert a1[1] == 0 and a1[2] == 0 and a1[4] == 0
    assert a1[5] == 0 and a1[6] == 0 and a1[7] == 0
    bk = {}
    for vid, b in arrow[2]:
        bk.setdefault(vid, set()).add(b)
    assert bk[1] == bk[2] == bk[4] == {0, 4}
    assert bk[5] == bk[6] == bk[7] == {0, 4}

    # the sim column (kmeans_assign's kernel and its reference): SQL
    # NULL — not NaN — on both for corrupt vectors
    assigned = similarity._assign_lists(vdf, cent, nprobe=1,
                                        vec_col="_vec")
    arrow_sim = {r.vec_id: r.sim for r in assigned.select(
        "vec_id", similarity._centroid_sim_udf(cent)(
            F.col("_vec"), F.col("list_id")).alias("sim")).collect()}
    lit_sim = {r.vec_id: r.sim for r in assigned.select(
        "vec_id", _literal_centroid_sim(cent).alias("sim")).collect()}
    for vid in (1, 2, 4, 5, 6):
        assert arrow_sim[vid] is None and lit_sim[vid] is None
    for vid in (0, 3):
        assert abs(arrow_sim[vid] - lit_sim[vid]) < 1e-9


def test_cosine_topk_survives_zero_vector(spark):
    """ANSI mode: a single all-zero embedding used to crash EVERY
    literal cosine path with DIVIDE_BY_ZERO (0.0/0.0 throws for DOUBLE
    too); try_divide degrades it to NULL sim, which the DESC ordering
    (nulls last) and threshold filters already handle."""
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0]),
            (3, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = similarity.cosine_topk(df, df, k=3).collect()
    assert len(got) == 12  # 4 queries x 3 neighbors, no crash
    # the zero vector ranks LAST (NULL sim) for every query
    for r in got:
        if r.neighbor_id == 2:
            assert r.sim is None and r.rank == 3

    pairs = similarity.semantic_duplicates(
        df, threshold=0.9, k=2, iters=1).collect()
    assert all(2 not in (p.id_a, p.id_b) for p in pairs)


def test_kmeans_zero_vector_does_not_poison_assignment(spark):
    """A zero vector seeded as an initial centroid makes every cosine
    to it NULL (try_divide); struct array_sort puts a NULL field FIRST,
    so without the +inf coalesce that one degenerate centroid won every
    argmax and ALL vectors collapsed into list 0 with NULL sim. Valid
    vectors must keep real assignments and sims."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0]),
         (3, [0.5, 0.5])],
        "vec_id long, embedding array<float>")
    got = {r.vec_id: (r.list_id, r.sim)
           for r in similarity.kmeans_assign(df, k=2, iters=1).collect()}
    # the zero vector degrades alone: list 0 by codebook order, NULL sim
    assert got[2][1] is None
    # every valid vector has a REAL sim (no NULL-centroid collapse)
    for vid in (0, 1, 3):
        assert got[vid][1] is not None and got[vid][1] > 0.7, got

    # parity with the JVM reference, a zero centroid in the codebook
    cent = [(0, [0.0, 0.0]), (1, [1.0, 0.0])]
    vdf = df.select("vec_id", F.col("embedding").alias("_vec"))
    lit = sorted((r.vec_id, r.list_id) for r in _literal_assign_lists(
        vdf, cent, nprobe=1, vec_col="_vec").collect())
    arrow = sorted((r.vec_id, r.list_id) for r in similarity._assign_lists(
        vdf, cent, nprobe=1, vec_col="_vec").collect())
    assert lit == arrow
    # valid vectors pick the REAL centroid over the degenerate one
    d = dict(arrow)
    assert d[0] == 1 and d[3] == 1


def test_literal_cosine_nan_components_yield_null(spark):
    """Round-5 advice: the reference COSINE_EXPR must emit SQL NULL (not
    NaN) for vectors with genuine NaN components — try_divide only
    NULLs a zero divisor, and NaN compares GREATER than any threshold
    in Spark, so an unguarded NaN sim leaks past threshold filters."""
    rows = [(0, [float("nan"), 1.0], [1.0, 0.0]),
            (1, [1.0, 0.0], [1.0, 0.0])]
    df = spark.createDataFrame(rows, "i long, a array<float>, b array<float>")
    sim = similarity.F.expr(COSINE_EXPR.format(a="a", b="b"))
    out = {r.i: r.sim for r in df.select("i", sim.alias("sim")).collect()}
    assert out[0] is None
    assert abs(out[1] - 1.0) < 1e-9
    # threshold filter must NOT pass the NaN row
    assert df.filter(sim > 0.5).count() == 1


def test_pair_cosine_arrow_matches_literal(spark, embeddings):
    """Round-8: pair scoring moved from the interpreted COSINE_EXPR HOF
    to the Arrow numpy twin (cosine_sim_col). The NULL contract must
    match the literal expression EXACTLY on every degraded shape —
    NULL vec, ragged pair, interior NULL element, genuine NaN, Inf,
    zero vector — and real-data sims must agree at the 6 dp rounding
    every consumer applies."""
    from pyspark.sql import functions as F

    rows = [
        (0, [1.0, 2.0, 3.0], [3.0, 2.0, 1.0]),        # plain
        (1, None, [1.0, 0.0, 0.0]),                   # NULL a
        (2, [1.0, 0.0, 0.0], None),                   # NULL b
        (3, [1.0, 2.0], [1.0, 2.0, 3.0]),             # ragged
        (4, [1.0, None, 0.0], [1.0, 1.0, 1.0]),       # interior NULL
        (5, [float("nan"), 1.0, 0.0], [1.0, 1.0, 1.0]),  # NaN comp
        (6, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),        # zero vec
        (7, [float("inf"), 1.0, 0.0], [1.0, 1.0, 1.0]),  # Inf comp
        (8, [], []),                                  # empty pair
        (9, [-1.0, 2.0, -3.0], [0.5, -0.25, 8.0]),    # negative sim
    ]
    df = spark.createDataFrame(
        rows, "i long, a array<float>, b array<float>")
    lit = {r.i: r.sim for r in df.select("i", F.round(
        F.expr(COSINE_EXPR.format(a="a", b="b")), 6)
        .alias("sim")).collect()}
    arrow = {r.i: r.sim for r in df.select("i", F.round(
        similarity.cosine_sim_col("a", "b"), 6).alias("sim")).collect()}
    assert set(lit) == set(arrow)
    for i in lit:
        if lit[i] is None:
            assert arrow[i] is None, i
        else:
            assert arrow[i] is not None and abs(lit[i] - arrow[i]) < 1e-9, i
    # NULL rows are exactly the degraded shapes
    assert {i for i in lit if lit[i] is None} == {1, 2, 3, 4, 5, 6, 7, 8}

    # real-data agreement at the 6 dp consumer rounding
    pairs = (embeddings.limit(40).alias("x")
             .join(embeddings.limit(40).alias("y"),
                   F.col("x.vec_id") < F.col("y.vec_id")))
    both = pairs.select(
        F.col("x.vec_id").alias("ia"), F.col("y.vec_id").alias("ib"),
        F.round(F.expr(COSINE_EXPR.format(
            a="x.embedding", b="y.embedding")), 6).alias("s_lit"),
        F.round(similarity.cosine_sim_col("x.embedding", "y.embedding"),
                6).alias("s_arrow"),
    ).collect()
    assert len(both) > 100
    for r in both:
        assert r.s_lit == r.s_arrow, (r.ia, r.ib)


def test_cosine_topk_matrix_path_matches_pair_path(spark, monkeypatch):
    """Round-8: cosine_topk collects small query sets and scores them
    as a closure matrix (one scan, no join). Must agree row-for-row
    with the pair-join fallback on hostile shapes: NULL ids, NULL/
    ragged/NaN/zero vectors on either side."""
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.5, 0.5, 0.0]), (2, None),
            (3, [1.0, 2.0]), (4, [0.0, 0.0, 0.0]),
            (5, [float("nan"), 1.0, 0.0]), (None, [1.0, 1.0, 1.0]),
            (7, [0.2, 0.9, 0.4]), (8, [0.9, 0.1, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter((similarity.F.col("vec_id") < 6)
                        | similarity.F.col("vec_id").isNull())

    fast = sorted(map(tuple, similarity.cosine_topk(
        df, queries, k=4).collect()))
    monkeypatch.setattr(similarity, "QUERY_MATRIX_MAX", 0)
    pair = sorted(map(tuple, similarity.cosine_topk(
        df, queries, k=4).collect()))
    assert fast == pair
    assert len(fast) > 0


def test_corpus_count_memoized_per_dataframe(spark):
    """Default-knob callers re-passing the SAME corpus DataFrame must
    pay the sizing count() once (ADVICE r6: per-call latency in loops)."""
    from fastpasta_spark.operators import similarity as S

    df = spark.range(10)
    assert S._counted(df) == 10
    df.count = lambda: (_ for _ in ()).throw(  # any recount would raise
        AssertionError("count() re-ran for a memoized DataFrame"))
    assert S._counted(df) == 10
    # a DIFFERENT frame (even equal content) is its own cache entry
    assert S._counted(spark.range(10)) == 10


def test_lsh_ann_matrix_path_matches_join_path(spark, monkeypatch):
    """Round-8: lsh_ann_topk scores small query sets with a zero-join
    Arrow matrix pass (bucket intersection inside the UDF). Must agree
    row-for-row with the bucket-join fallback on hostile shapes —
    NULL ids, NULL/ragged/NaN/zero vectors on either side (degenerate
    vectors land in the zero-sign offset buckets on BOTH paths and
    surface as candidates with NULL sims)."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.5, 0.5, 0.0, 0.1]),
            (2, None), (3, [1.0, 2.0]), (4, [0.0, 0.0, 0.0, 0.0]),
            (5, [float("nan"), 1.0, 0.0, 0.0]), (None, [1.0] * 4),
            (7, [0.2, 0.9, 0.4, -0.3]), (8, [0.9, 0.1, 0.1, 0.2]),
            (9, [-0.4, 0.8, 0.0, 0.6]), (10, [0.3, -0.2, 0.7, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter((similarity.F.col("vec_id") < 6)
                        | similarity.F.col("vec_id").isNull())

    fast = sorted(map(tuple, similarity.lsh_ann_topk(
        df, queries, dim=4, k=3, n_planes=2, n_tables=3).collect()))
    monkeypatch.setattr(similarity, "QUERY_MATRIX_MAX", 0)
    join = sorted(map(tuple, similarity.lsh_ann_topk(
        df, queries, dim=4, k=3, n_planes=2, n_tables=3).collect()))
    assert fast == join
    assert len(fast) > 0
