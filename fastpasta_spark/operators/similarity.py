"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k, LSH- and IVF-bucketed approximate top-k, and
embedding / semantic (k-means) near-duplicates. Every vector kernel is
an Arrow-batched numpy UDF in float64: pair cosines, query-matrix
cosines, LSH bucket ids, codebook assignment and centroid sims.
Lambda-bearing SQL (zip_with/aggregate) is interpreted per element and
never reaches codegen, so the vector arithmetic runs in numpy.
Projection planes derive from the portable md5 hash, so bucketing is
deterministic across engines and runs. Codebooks, projection planes and
small query sets ride in the kernels' closures: no join, no shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import weakref

from fastpasta_spark.functions.cache import tracked_persist

from fastpasta_spark.functions.hashing import py_md5_hash


def _pair_cosine_udf():
    """Arrow-batched numpy cosine over a (vec, vec) column pair — the
    one pair-scoring path.

    Lambda-bearing SQL expressions are NOT whole-stage-codegen'd: every
    element of every zip_with/aggregate is an interpreted expression
    eval, measured ~17 us per dim-64 cosine, which made every pair-
    scoring query (cosine_topk, lsh_ann, embedding_near_dup) compute-
    bound on expression interpretation. One einsum per Arrow batch does
    the same math in float64.

    NULL-semantics contract (that of the JVM reference cosine in
    tests/test_similarity.py, pinned by
    test_pair_cosine_arrow_matches_literal): NULL when either vector is
    NULL, lengths differ or are 0, any component is NULL/NaN/Inf, or
    the norm product is 0. Never NaN: NaN compares GREATER than any
    threshold in Spark. Every consumer rounds to 6 dp before use.
    """

    @F.pandas_udf("double")
    def pcos(aa: pd.Series, bb: pd.Series) -> pd.Series:
        va, vb = aa.tolist(), bb.tolist()
        m = len(va)
        out: list = [None] * m
        groups: dict[int, list[int]] = {}
        for i in range(m):
            x, y = va[i], vb[i]
            if x is None or y is None:
                continue
            lx = len(x)
            if lx == 0 or lx != len(y):
                continue
            groups.setdefault(lx, []).append(i)
        for _dim, idx in groups.items():
            a = np.array([va[i] for i in idx], dtype=np.float64)
            b = np.array([vb[i] for i in idx], dtype=np.float64)
            dot = np.einsum("ij,ij->i", a, b)
            den = (np.sqrt(np.einsum("ij,ij->i", a, a))
                   * np.sqrt(np.einsum("ij,ij->i", b, b)))
            with np.errstate(invalid="ignore", divide="ignore",
                             over="ignore"):
                r = dot / den
            ok = np.isfinite(r) & (den > 0)
            for j, i in enumerate(idx):
                if ok[j]:
                    out[i] = float(r[j])
        return pd.Series(out, dtype=object)

    return pcos


def cosine_sim_col(a: str, b: str):
    """Cosine similarity Column between two array columns, computed by
    the Arrow numpy kernel (_pair_cosine_udf)."""
    return _pair_cosine_udf()(F.col(a), F.col(b))


#: cosine_topk collects the query vectors to the driver (they are
#: small by contract — the old path broadcast them anyway, which is the
#: same driver-memory bound) and scores each corpus row against the
#: whole query matrix in one Arrow batch pass. Past this many queries
#: the probe falls back to the pair-join path. Why: the pair join
#: materializes BOTH vectors per (query, corpus) pair through the
#: Python boundary — n_corpus * n_queries * dim floats (~400 MB at the
#: sf1.0 bench shape) — while the matrix path ships each corpus vector
#: ONCE and returns n_queries doubles per row (~5 MB).
QUERY_MATRIX_MAX = 4096


def _matrix_sims_udf(qvecs: list):
    """pandas UDF: corpus vec -> array of cosines against the collected
    query vectors (None entries reproduce cosine_sim_col's NULL
    contract per pair: NULL/ragged/NaN/Inf vector on either side, or a
    zero norm product)."""
    qn = len(qvecs)
    by_dim: dict[int, list[int]] = {}
    for j, qv in enumerate(qvecs):
        if qv is None or len(qv) == 0:
            continue
        by_dim.setdefault(len(qv), []).append(j)
    mats = {}
    for dim, idx in by_dim.items():
        m = np.array([qvecs[j] for j in idx], dtype=np.float64)
        with np.errstate(over="ignore"):
            norms = np.sqrt(np.einsum("ij,ij->i", m, m))
        mats[dim] = (idx, m, norms)

    @F.pandas_udf("array<double>")
    def msims(cc: pd.Series) -> pd.Series:
        vc = cc.tolist()
        m = len(vc)
        none_row = [None] * qn
        out: list = [none_row] * m
        groups: dict[int, list[int]] = {}
        for i in range(m):
            v = vc[i]
            if v is None or len(v) == 0 or len(v) not in mats:
                continue
            groups.setdefault(len(v), []).append(i)
        for dim, rows in groups.items():
            idx, qm, qnorm = mats[dim]
            cm = np.array([vc[i] for i in rows], dtype=np.float64)
            with np.errstate(invalid="ignore", divide="ignore",
                             over="ignore"):
                cnorm = np.sqrt(np.einsum("ij,ij->i", cm, cm))
                sims = (cm @ qm.T) / (cnorm[:, None] * qnorm[None, :])
                den_ok = (cnorm[:, None] * qnorm[None, :]) > 0
            ok = np.isfinite(sims) & den_ok
            for r, i in enumerate(rows):
                row = [None] * qn
                for jj, j in enumerate(idx):
                    if ok[r, jj]:
                        row[j] = float(sims[r, jj])
                out[i] = row
        return pd.Series(out, dtype=object)

    return msims


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries must be small (up to QUERY_MATRIX_MAX they are collected
    and scored as a closure matrix — one corpus scan, no join at all;
    larger query sets fall back to a broadcast pair join). Returns
    (query_id, neighbor_id, rank, sim) with deterministic tie-break on
    neighbor_id. Self-matches are excluded.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    # LIMIT-probed collect (the media-guard pattern): the probe IS the
    # collect in the good case — no extra count job, bounded driver pull
    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).limit(QUERY_MATRIX_MAX + 1).collect()
    # rows whose query_id is NULL can never satisfy the pair join's
    # (query_id != neighbor_id) condition — drop them up front; an
    # empty/oversized query set falls through to the pair join (which
    # also preserves the degenerate empty-result schema exactly)
    if len(qrows) <= QUERY_MATRIX_MAX and any(
            r.query_id is not None for r in qrows):
        qrows = [r for r in qrows if r.query_id is not None]
        qids = [r.query_id for r in qrows]
        qvecs = [list(r.q_vec) if r.q_vec is not None else None
                 for r in qrows]
        sims = _matrix_sims_udf(qvecs)(F.col("c_vec"))
        id_type = queries.schema[id_col].dataType.simpleString()
        qid_arr = F.array(*[F.lit(q) for q in qids]).cast(
            f"array<{id_type}>")
        scored = (
            c.select("neighbor_id", F.posexplode(sims).alias("_p", "_s"))
            .select(F.get(qid_arr, F.col("_p")).alias("query_id"),
                    "neighbor_id", F.round("_s", 6).alias("sim"))
            .filter(F.col("query_id") != F.col("neighbor_id"))
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "sim")
        )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    sim = cosine_sim_col("q_vec", "c_vec")
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(sim, 6).alias("sim"))
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def _projection_matrix(dim: int, n_planes: int, table: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from the portable hash:
    component (p, d) = md5-derived value mapped to [-1, 1)."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = py_md5_hash(f"plane:{table}:{p}:{d}")
            row.append((h % 2_000_003) / 1_000_001.5 - 1.0)
        planes.append(row)
    return planes


def _lsh_planes(dim: int, n_planes: int, tables) -> tuple:
    """(planes (T, P, dim), table offsets (T,), sign weights (P,)) for
    the given hash tables. Each plane weight is rounded to 9 decimals,
    the precision the DuckDB oracle inlines, so a projection within
    ~1e-9 of zero takes the same sign on both engines. Offsets
    table * 2^n_planes keep the bucket ids of different tables
    disjoint."""
    mats = np.array([[[float(f"{v:.9f}") for v in row]
                      for row in _projection_matrix(dim, n_planes, t)]
                     for t in tables], dtype=np.float64)
    offsets = np.array([t << n_planes for t in tables], dtype=np.int64)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    return mats, offsets, weights


def _lsh_bucket_ids(mask: np.ndarray, v: np.ndarray, planes: tuple
                    ) -> np.ndarray:
    """(len(mask), T) bucket ids: bit p of a table's id is set where
    the projection onto plane p is > 0 (a NaN projection is not).
    ``v`` holds the rows where ``mask`` is set (see _safe_matrix);
    every other row (NULL, ragged or empty vector) keeps the
    all-zero-signs bucket, i.e. the table offset."""
    mats, offsets, weights = planes
    ids = np.tile(offsets, (len(mask), 1))
    if len(v):
        signs = np.einsum("nd,tpd->ntp", v, mats) > 0   # (n, T, P)
        ids[mask] = (signs * weights[None, None, :]).sum(axis=2) \
            + offsets[None, :]
    return ids


def _lsh_bucket_udf(dim: int, n_planes: int, tables: list[int]):
    """pandas UDF: embedding -> [bucket id per table] (md5-derived
    planes, _lsh_bucket_ids's sign rule and degraded-row buckets)."""
    from pyspark.sql import types as T

    planes = _lsh_planes(dim, n_planes, tables)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        mask, v = _safe_matrix(vecs.tolist(), dim)
        return pd.Series(list(_lsh_bucket_ids(mask, v, planes)),
                         dtype=object)

    return buckets


def with_lsh_bucket(
    df: DataFrame, dim: int, n_planes: int = 8, vec_col: str = "embedding",
    out_col: str = "lsh_bucket", table: int = 0,
) -> DataFrame:
    """Sign-random-projection bucket id as a column (one hash table),
    computed by the Arrow kernel _lsh_bucket_udf. Bucket ids of
    different tables are disjoint (offset by table * 2^n_planes).
    """
    return df.withColumn(out_col, F.get(
        _lsh_bucket_udf(dim, n_planes, [table])(F.col(vec_col)), F.lit(0)))


def with_lsh_buckets(
    df: DataFrame, dim: int, n_planes: int, n_tables: int,
    vec_col: str = "embedding", out_col: str = "lsh_bucket",
) -> DataFrame:
    """Multi-table LSH: one row per (vector, table) with that table's
    bucket id — candidates are unioned across tables (standard L-tables
    construction; raises recall at the cost of L bucket joins). One
    Arrow pass computes every table's id."""
    return df.withColumn(out_col, F.explode(
        _lsh_bucket_udf(dim, n_planes, list(range(n_tables)))(
            F.col(vec_col))))


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    max_bucket: int = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH buckets generate
    candidates, the EXACT cosine filters them (so reported pairs are
    never false positives; recall vs the brute-force pair set is what
    n_tables buys). Returns (id_a, id_b, sim) with id_a < id_b.

    Scale: the self-join runs within buckets only; buckets larger than
    max_bucket are dropped via groupBy + broadcast anti-join (the same
    |bucket|^2 lever as dedup.lsh_candidate_pairs — a giant bucket means
    a degenerate projection region, its pairs are overwhelmingly
    below-threshold noise).
    """
    b = with_lsh_buckets(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")),
        dim, n_planes, n_tables, vec_col="_vec", out_col="bucket",
    )
    b = tracked_persist(b)
    hot = (b.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bsz"))
           .filter(F.col("_bsz") > max_bucket).select("bucket"))
    b = b.join(F.broadcast(hot), "bucket", "left_anti")
    x, y = b.alias("x"), b.alias("y")
    sim = cosine_sim_col("x._vec", "y._vec")
    return (
        x.join(y, (F.col("x.bucket") == F.col("y.bucket"))
               & (F.col("x._id") < F.col("y._id")))
        .select(F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b"),
                F.round(sim, 6).alias("sim"))
        .filter(F.col("sim") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.first("sim").alias("sim"))
    )


def ivf_centroids(corpus: DataFrame, n_lists: int,
                  id_col: str = "vec_id", vec_col: str = "embedding"
                  ) -> DataFrame:
    """Deterministic coarse quantizer: the n_lists corpus vectors with
    the smallest portable hash of their id become the centroids (a
    seeded sample — the IVF analogue of k-means init; at 100 TB you
    would train real k-means on a sample, same downstream shape).
    Returns (list_id, centroid). orderBy+limit plans as a distributed
    TakeOrderedAndProject — per-partition top-n then a tiny driver
    merge, never a single-partition global sort."""
    from fastpasta_spark.functions.hashing import spark_md5_hash

    h = F.expr(spark_md5_hash("cast(_id as string)"))
    top = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("centroid"))
        .withColumn("_h", h)
        .orderBy(F.col("_h").asc(), F.col("_id").asc())
        .limit(n_lists)
    )
    from pyspark.sql import Window as W

    # rank the n_lists survivors (tiny) into stable 0-based list ids
    w = W.orderBy(F.col("_h").asc(), F.col("_id").asc())
    return (
        top.withColumn("list_id", F.row_number().over(w) - 1)
        .select("list_id", "centroid")
    )


def _codebook_matrix(centroids: list) -> np.ndarray:
    """(k, dim) float64 matrix; row index == list_id (the codebook
    kernels rely on ivf_centroids' 0-based contiguous list_ids). An
    empty codebook (empty corpus) is (0, 0): still 2-D, so the kernels
    assign every row to no list."""
    assert [lid for lid, _ in centroids] == list(range(len(centroids))), \
        "codebook list_ids must be contiguous 0-based"
    if not centroids:
        return np.empty((0, 0), dtype=np.float64)
    return np.array([v for _, v in centroids], dtype=np.float64)


def _safe_matrix(vals: list, dim: int):
    """(valid_mask, (n_valid, dim) float64 matrix) from a list of
    embeddings — rows that are NULL or the wrong length are masked out
    instead of crashing the whole Arrow batch; each kernel gives them
    its own degraded result. A NULL element becomes a NaN component."""
    mask = np.array([v is not None and len(v) == dim for v in vals],
                    dtype=bool)
    good = [vals[i] for i in np.nonzero(mask)[0]]
    v = (np.array(good, dtype=np.float64) if good
         else np.empty((0, dim), dtype=np.float64))
    return mask, v


def _assign_udf(centroids: list, nprobe: int):
    """pandas UDF: embedding -> the nprobe nearest list_ids (cosine,
    ties broken toward the LOWER list_id by a stable argsort)."""
    from pyspark.sql import types as T

    mat = _codebook_matrix(centroids)
    cnorm = np.sqrt((mat * mat).sum(axis=1))

    # NULL/ragged/empty embeddings, and every sim that is NaN (zero
    # vector, zero centroid, NaN component): NaN ranks last, and a row
    # with no valid sim keeps codebook order (list_ids 0..nprobe-1) —
    # the JVM reference's order (pinned in test_similarity on null /
    # short / long / empty / interior-NULL / zero / NaN vectors)
    invalid = np.arange(min(nprobe, len(mat)), dtype=np.int32)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        mask, v = _safe_matrix(vecs.tolist(), mat.shape[1])
        out: list = [invalid] * len(vecs)
        if len(v):
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = (v @ mat.T) / (np.sqrt((v * v).sum(axis=1, keepdims=True))
                                      * cnorm[None, :])
            order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            for pos, row in zip(np.nonzero(mask)[0], order.astype(np.int32)):
                out[pos] = row
        return pd.Series(out, dtype=object)

    return assign


def _assign_lists(df: DataFrame, centroids: list, nprobe: int,
                  vec_col: str) -> DataFrame:
    """Attach the nprobe nearest list_ids to every row (one row per
    list_id when nprobe > 1).

    The codebook (n_lists rows, collected once on the driver like any
    quantizer codebook) rides in the Arrow kernel's closure, so the
    argmax is one scan with no shuffle and no per-row join. A
    window-rank formulation would exchange the whole corpus just to
    rank n_lists candidates per row.
    """
    ranked = _assign_udf(centroids, nprobe)(F.col(vec_col))
    if nprobe == 1:
        return df.withColumn("list_id", F.get(ranked, F.lit(0)))
    return df.withColumn("list_id", F.explode(ranked))


# corpus-sized knob defaults need a count() job; LOOP CALLERS should
# pass the knobs explicitly (docstrings below), but when they re-pass
# the SAME DataFrame object, memoize the count so only the first call
# pays the job. Weak keys: the cache never pins a DataFrame alive.
_corpus_counts: "weakref.WeakKeyDictionary[DataFrame, int]" = (
    weakref.WeakKeyDictionary())


def _counted(corpus: DataFrame) -> int:
    n = _corpus_counts.get(corpus)
    if n is None:
        n = corpus.count()
        _corpus_counts[corpus] = n
    return n


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int | None = None,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k. LOOP CALLERS: pass n_lists AND nprobe
    explicitly — the corpus-sized defaults cost one count() job per
    new DataFrame object (memoized per object) and shift with N.

    Corpus vectors are inverted-listed under
    their nearest centroid; each query scans only its nprobe nearest
    lists. The scale path to brute force's full cross product — the
    candidate set shrinks ~n_lists/nprobe-fold, and on a real deployment
    the corpus assignment is written once as a list_id-partitioned table
    (queries then prune partitions). Recall vs cosine_topk is measured
    in tests.

    n_lists/nprobe default to CORPUS-SIZED values (one count() job):
    n_lists ~ sqrt(N) clamped to [16, 4096], nprobe = n_lists/8 floored
    at 4 — a fixed default is wrong in both directions (16 lists
    over-scans a 100k corpus; 64 lists starve a 200-vector one: recall
    0.46 measured). The sqrt rule reproduces the empirically-pinned
    sweet spot at 100k x 256 clustered (BENCH/ANN_RECALL.md: 64-128
    lists / nprobe 8 read recall@10 0.97). Pass both explicitly to skip
    the count.
    """
    if n_lists is None or nprobe is None:
        n_corpus = _counted(corpus)
        if n_lists is None:
            n_lists = min(4096, max(16, int(round(n_corpus ** 0.5))))
        if nprobe is None:
            nprobe = max(4, n_lists // 8)
    from pyspark.sql import Window as W

    # the codebook is tiny and bounded (n_lists rows) — collecting it is
    # the standard quantizer step, not a data-dependent driver pull
    cent = sorted(
        ((r.list_id, list(r.centroid))
         for r in ivf_centroids(corpus, n_lists, id_col, vec_col).collect()),
    )  # row i == list_id (0-based by construction)
    c = _assign_lists(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("c_vec")),
        cent, nprobe=1, vec_col="c_vec")
    q = _assign_lists(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec")),
        cent, nprobe=nprobe, vec_col="q_vec")
    sim = cosine_sim_col("q_vec", "c_vec")
    scored = (
        c.join(F.broadcast(q), (c["list_id"] == q["list_id"])
               & (F.col("query_id") != F.col("neighbor_id")))
        .select("query_id", "neighbor_id", F.round(sim, 6).alias("sim"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def kmeans_fit(corpus: DataFrame, k: int = 16, iters: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding",
               dp: int = 6) -> list:
    """Distributed spherical k-means (Lloyd's) — the trained-quantizer
    upgrade to ivf_centroids' seeded sample, and the clustering step of
    SemDeDup-style semantic dedup.

    Scale shape per iteration (the only data-sized work):
      * assignment — argmax-cosine against the centroid codebook in
        the Arrow kernel's closure, one scan (no shuffle, no join;
        same `_assign_lists` machinery as IVF)
      * update — posexplode to (list_id, pos, val) and ONE map-side-
        combined groupBy(list_id, pos).avg; k*dim tiny rows reach the
        driver (the codebook update, bounded like any quantizer
        artifact, NOT data-sized)
    Means round to ``dp`` decimals so the fit replays bit-identically
    in the DuckDB oracle (cross-engine double-sum order differs at
    ~1e-15; the rounding quantum absorbs it). Cosine argmax is
    scale-invariant, so means need no normalization (spherical
    k-means). Empty clusters keep their previous centroid.

    Returns [(list_id, centroid list[float])] sorted by list_id.
    """
    cent = sorted(
        (r.list_id, [float(v) for v in r.centroid])
        for r in ivf_centroids(corpus, k, id_col, vec_col).collect())
    if not cent:
        # an empty codebook has no dimension; the assignment kernel
        # would otherwise fail far from the real cause
        raise ValueError("kmeans_fit: corpus has no vectors")
    src = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
    for _ in range(iters):
        assigned = _assign_lists(src, cent, nprobe=1, vec_col="_vec")
        rows = (
            assigned.select("list_id", F.posexplode("_vec").alias("pos", "val"))
            .groupBy("list_id", "pos")
            .agg(F.round(F.avg(F.col("val").cast("double")), dp).alias("m"))
            .collect()
        )
        by_list: dict[int, dict[int, float]] = {}
        for r in rows:
            by_list.setdefault(r.list_id, {})[r.pos] = r.m
        cent = [
            (lid, [by_list[lid][p] for p in range(len(vec))])
            if lid in by_list else (lid, vec)
            for lid, vec in cent
        ]
    return cent


def kmeans_assign(corpus: DataFrame, k: int = 16, iters: int = 2,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  dp: int = 6) -> DataFrame:
    """Fit spherical k-means and return every vector's cluster:
    (id_col, list_id, sim) with sim = cosine to its centroid. The
    SemDeDup front half — follow with within-cluster
    embedding_near_duplicates to prune semantic duplicates without an
    all-pairs join."""
    cent = kmeans_fit(corpus, k, iters, id_col, vec_col, dp)
    assigned = _assign_lists(
        corpus.select(F.col(id_col), F.col(vec_col).alias("_vec")),
        cent, nprobe=1, vec_col="_vec")
    sim_col = _centroid_sim_udf(cent)(F.col("_vec"), F.col("list_id"))
    return assigned.select(
        id_col, "list_id", F.round(sim_col, 6).alias("sim"))


def _centroid_sim_udf(centroids: list):
    """pandas UDF (embedding, list_id) -> cosine to that centroid, NULL
    (never NaN) where the cosine is degenerate: NULL, ragged or empty
    vector, NULL or NaN component, or a zero norm product."""
    mat = _codebook_matrix(centroids)
    cnorm = np.sqrt((mat * mat).sum(axis=1))

    @F.pandas_udf("double")
    def csim(vecs: pd.Series, lids: pd.Series) -> pd.Series:
        mask, v = _safe_matrix(vecs.tolist(), mat.shape[1])
        out = np.full(len(vecs), np.nan)
        if len(v):
            li = lids.to_numpy()[mask].astype(np.int64)
            c = mat[li]
            num = (v * c).sum(axis=1)
            den = np.sqrt((v * v).sum(axis=1)) * cnorm[li]
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = num / den
            # NaN must not leak — it compares GREATER than any
            # threshold in Spark
            pos = np.nonzero(mask)[0]
            ok = ~np.isnan(v).any(axis=1) & (den > 0)
            out[pos[ok]] = sims[ok]
            mask[pos[~ok]] = False
        res: list = [None if not m else s for m, s in zip(mask, out)]
        return pd.Series(res, dtype=object)

    return csim


def semantic_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    k: int = 16,
    iters: int = 2,
    max_cluster: int = 2000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: spherical k-means
    clusters the corpus, then the exact cosine self-join runs WITHIN
    clusters only — pair volume drops from N^2 to sum(|cluster|^2),
    with clusters larger than ``max_cluster`` dropped before the join
    (the same degenerate-region lever as every LSH bucket join; a giant
    cluster means the quantizer collapsed there and its pairs are
    below-threshold noise). Returns (id_a, id_b, sim, list_id) with
    id_a < id_b and sim >= threshold.
    """
    assigned = tracked_persist(kmeans_assign(
        corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    ).select(id_col, "list_id"))
    vecs = corpus.select(F.col(id_col), F.col(vec_col).alias("_vec"))
    members = assigned.join(vecs, id_col)
    if max_cluster is not None:
        hot = (assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("_n"))
               .filter(F.col("_n") > max_cluster).select("list_id"))
        members = members.join(F.broadcast(hot), "list_id", "left_anti")
    a, b = members.alias("a"), members.alias("b")
    sim = cosine_sim_col("a._vec", "b._vec")
    return (
        a.join(b, (F.col("a.list_id") == F.col("b.list_id"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.round(sim, 6).alias("sim"),
                F.col("a.list_id").alias("list_id"))
        .filter(F.col("sim") >= threshold)
    )


def _lsh_matrix_sims_udf(qvecs: list, dim: int, n_planes: int,
                         n_tables: int):
    """pandas UDF: corpus vec -> array of per-query cosines, restricted
    to LSH-candidate pairs — the zero-join twin of the bucket-join path
    for SMALL query sets (round-8).

    Encoding (three states per (corpus row, query) cell):
      * not a candidate (no shared bucket)  -> 9.0   (out-of-range
        sentinel, filtered out; NaN cannot be the sentinel — pandas->
        Arrow conversion of an object column treats NaN as MISSING and
        it would arrive as NULL)
      * candidate, degenerate cosine        -> None  (kept as NULL sim,
        exactly the rows the pair path emitted with NULL sim)
      * candidate, valid cosine             -> float (always <= 1.0)

    Buckets are _lsh_bucket_udf's (the shared _lsh_planes and
    _lsh_bucket_ids; NULL/ragged vectors degrade to the per-table
    zero-sign offset buckets on BOTH sides). Candidate(r, j) = some
    table t with equal bucket ids — bucket ids are table-disjoint, so
    one equality test per table. Cosine NULL contract is
    _pair_cosine_udf's: NULL/ragged/NaN/Inf vector on either side, or
    a zero norm product.
    """
    planes = _lsh_planes(dim, n_planes, range(n_tables))

    def _dense(vals: list) -> tuple:
        # (valid mask, (len(vals), dim) matrix with zero rows where
        # invalid, bucket ids)
        ok, v = _safe_matrix(vals, dim)
        mat = np.zeros((len(vals), dim), dtype=np.float64)
        mat[ok] = v
        return ok, mat, _lsh_bucket_ids(ok, v, planes)

    q_ok, q_mat, qb = _dense(qvecs)                     # qb: (qn, T)
    with np.errstate(invalid="ignore", over="ignore"):
        q_norm = np.sqrt(np.einsum("ij,ij->i", q_mat, q_mat))
    # degenerate query cosine: invalid vec, non-finite components, or
    # zero norm -> NULL sim for every candidate pair
    q_sim_ok = q_ok & np.isfinite(q_mat).all(axis=1) & (q_norm > 0)

    @F.pandas_udf("array<double>")
    def lsims(cc: pd.Series) -> pd.Series:
        c_ok, c_mat, cb = _dense(cc.tolist())
        # candidate mask: shared bucket in any table (ids table-disjoint)
        cand = (cb[:, None, :] == qb[None, :, :]).any(axis=2)  # (m, qn)
        with np.errstate(invalid="ignore", divide="ignore",
                         over="ignore"):
            c_norm = np.sqrt(np.einsum("ij,ij->i", c_mat, c_mat))
            sims = (c_mat @ q_mat.T) / (c_norm[:, None] * q_norm[None, :])
        c_sim_ok = c_ok & np.isfinite(c_mat).all(axis=1) & (c_norm > 0)
        pair_ok = c_sim_ok[:, None] & q_sim_ok[None, :] & np.isfinite(sims)
        cells = sims.astype(object)
        cells[cand & ~pair_ok] = None
        cells[~cand] = 9.0
        return pd.Series([list(r) for r in cells], dtype=object)

    return lsims


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int | None = None,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: rank only within the query's LSH buckets,
    candidates unioned over n_tables hash tables. LOOP CALLERS: pass
    n_planes explicitly — the corpus-sized default costs one count()
    job per new DataFrame object (memoized per object) and shifts
    with N.

    Scale path: corpus bucketed once per table (could be written
    bucket-partitioned to Iceberg); each query joins its buckets only —
    candidate set shrinks ~2^n_planes/n_tables-fold vs brute force.
    Recall vs cosine_topk measured in tests.

    n_planes defaults CORPUS-SIZED (one count() job): enough planes to
    target ~100-vector buckets, clamped to [4, 16] — a fixed plane
    count is wrong in both directions (6 planes leave 1.5k-vector
    buckets at 100k, paying 5x wall for LESS recall than 10 planes:
    0.88@9.7s vs 0.916@1.9s, BENCH/ANN_RECALL.md; 10 planes shatter a
    200-vector corpus to recall 0.02). 8 tables is the measured recall
    lever. Pass n_planes explicitly to skip the count.
    """
    if n_planes is None:
        import math

        n_corpus = _counted(corpus)
        n_planes = min(16, max(4, round(math.log2(max(n_corpus, 1) / 100 + 1))))
    from pyspark.sql import Window as W

    # round-8: SMALL query sets (the common ANN probe shape) skip the
    # bucket join entirely — the LIMIT-probed collect (media-guard
    # pattern, no extra job in the good case) pulls the query vectors,
    # buckets are intersected inside ONE Arrow pass over the corpus,
    # and each corpus vector crosses the Python boundary once instead
    # of once per candidate pair. The join path (below) remains for
    # large query sets and is parity-pinned against this one.
    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).limit(QUERY_MATRIX_MAX + 1).collect()
    if len(qrows) <= QUERY_MATRIX_MAX and any(
            r.query_id is not None for r in qrows):
        # NULL query ids can never satisfy query_id != neighbor_id
        qrows = [r for r in qrows if r.query_id is not None]
        qids = [r.query_id for r in qrows]
        qvecs = [list(r.q_vec) if r.q_vec is not None else None
                 for r in qrows]
        sims = _lsh_matrix_sims_udf(qvecs, dim, n_planes, n_tables)(
            F.col("c_vec"))
        id_type = queries.schema[id_col].dataType.simpleString()
        qid_arr = F.array(*[F.lit(q) for q in qids]).cast(
            f"array<{id_type}>")
        scored = (
            corpus.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).alias("c_vec"))
            .select("neighbor_id", F.posexplode(sims).alias("_p", "_s"))
            # 9.0 = not a candidate (cosines are <= 1.0); NULL =
            # candidate with degenerate cosine (kept, ranked last like
            # the pair path's NULL sims)
            .filter(F.col("_s").isNull() | (F.col("_s") < 2.0))
            .select(F.get(qid_arr, F.col("_p")).alias("query_id"),
                    "neighbor_id", F.round("_s", 6).alias("sim"))
            .filter(F.col("query_id") != F.col("neighbor_id"))
        )
        w = W.partitionBy("query_id").orderBy(F.desc("sim"),
                                              F.asc("neighbor_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "sim")
        )

    cb = with_lsh_buckets(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("c_vec")),
        dim, n_planes, n_tables, vec_col="c_vec", out_col="c_bucket",
    )
    qb = with_lsh_buckets(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec")),
        dim, n_planes, n_tables, vec_col="q_vec", out_col="q_bucket",
    )
    sim = cosine_sim_col("q_vec", "c_vec")
    scored = (
        cb.join(F.broadcast(qb), (F.col("c_bucket") == F.col("q_bucket"))
                & (F.col("query_id") != F.col("neighbor_id")))
        .select("query_id", "neighbor_id", F.round(sim, 6).alias("sim"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )
