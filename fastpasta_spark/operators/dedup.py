"""Deduplication operators for training-data pipelines.

Beyond the reference's key-dedup (distinct FEE ids,
`/root/reference/fastpasta/src/stats/rdh_stats.rs:93-98`), a 100 TB
corpus needs CONTENT dedup. The shingle/minhash/simhash chains run as the
Arrow kernels of operators/arrowtext.py; every other hot path is
built-in Column expressions (whole-stage codegen). Hashes are the
portable md5-derived family (functions/hashing.py) so DuckDB oracles
reproduce them exactly.

Scale notes per operator are in each docstring — the common theme:
never shuffle document text; shuffle (hash, id) pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fastpasta_spark.functions.cache import tracked_persist
from fastpasta_spark.functions.hashing import spark_md5_hash, spark_tokens
from fastpasta_spark.operators.arrowtext import (
    minhash_signature_arrow,
    shingle_index_arrow,
    simhash_arrow,
)

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", max_ids: int = 100) -> DataFrame:
    """Exact content duplicates via content-hash groupBy.

    Scale: only (hash, id) shuffles; text never leaves the scan stage.
    The id list is capped at max_ids (first in sort order), and — the
    part that matters on a hot hash — the cap is applied BEFORE the
    aggregation buffer, not sliced after: ids past the cap enter
    collect_list as NULL (which collect_list skips), so the per-group
    buffer holds at most max_ids elements even when one boilerplate
    text repeats 10^6 times. dup_count stays exact (count over ALL
    rows of the group). The rank comes from a row_number window on the
    same key, so the window shuffle is REUSED by the aggregation (no
    second exchange; the trade is the window's spillable sort replacing
    map-side partial agg — bounded memory beats pre-aggregation here).
    max_ids=None keeps full lists (trusted-small corpora only).
    Returns (content_hash, dup_count, doc_ids sorted).
    """
    pairs = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
    if max_ids is None:
        ids = F.array_sort(F.collect_list(id_col))
    else:
        # nulls-last rank: non-null ids own ranks 1..k, so NULL ids can
        # never displace a collectable id from the capped sample
        w = Window.partitionBy("content_hash").orderBy(
            F.asc_nulls_last(id_col))
        pairs = pairs.withColumn("_rn", F.row_number().over(w))
        ids = F.array_sort(F.collect_list(
            F.when(F.col("_rn") <= max_ids, F.col(id_col))))
    return (
        pairs.groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            ids.alias("doc_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------------------
# shingles + MinHash + LSH
# ---------------------------------------------------------------------------


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id", bands: int = 8,
                        rows_per_band: int = 4,
                        minhash_col: str = "minhash",
                        max_bucket: int = 200) -> DataFrame:
    """Banded-LSH candidate pairs: band the signature, hash each band to a
    bucket, self-join within buckets.

    Scale levers (all applied):
      * buckets larger than max_bucket are dropped BEFORE the self-join —
        a giant bucket means a band of near-universal shingles
        (boilerplate); its pairs are noise and would cost |bucket|^2.
        The hot-bucket set comes from a groupBy+count (map-side partial
        agg) and is anti-joined back BROADCAST: the hot set is tiny by
        definition, so the exploded index is never window-sorted — a
        Window.partitionBy(bucket) here would shuffle AND sort every
        (bucket, doc) row just to compute a count
      * the similarity estimate is computed IN the join projection so
        only (doc_a, doc_b, est) ever shuffles afterwards
      * cross-band duplicates collapse via groupBy, not dropDuplicates
        over signature arrays
    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b.
    """
    band_exprs = [
        F.md5(F.concat_ws(",", F.lit(b), F.expr(
            f"concat_ws(',', slice({minhash_col}, {b * rows_per_band + 1}, "
            f"{rows_per_band}))"
        ))).alias("bucket")
        for b in range(bands)
    ]
    exploded = df.select(F.col(id_col), F.col(minhash_col),
                         F.explode(F.array(*band_exprs)).alias("bucket"))
    hot = (exploded.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bsz"))
           .filter(F.col("_bsz") > max_bucket).select("bucket"))
    buckets = exploded.join(F.broadcast(hot), "bucket", "left_anti")
    a = buckets.alias("a")
    b = buckets.alias("b")
    est = F.expr(
        f"size(filter(zip_with(a.{minhash_col}, b.{minhash_col}, "
        f"(x, y) -> x = y), v -> v)) / CAST(size(a.{minhash_col}) AS DOUBLE)"
    )
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
                est.alias("est_jaccard"))
        .groupBy("doc_a", "doc_b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


def minhash_near_duplicates(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3, k: int = 32,
                            bands: int = 8, threshold: float = 0.5) -> DataFrame:
    """shingle -> minhash -> LSH bands -> candidate pairs >= threshold.

    Signatures come from the Arrow kernel
    (arrowtext.minhash_signature_arrow). The signature table is
    persisted: it is tiny (k longs per doc) but referenced ~10x
    downstream (8 band exprs + both self-join sides), and without the
    materialization boundary the mapInArrow stage would re-run per
    consumer. At cluster scale you would write signatures to a bucketed
    table instead — same boundary, durable.
    """
    sig = tracked_persist(minhash_signature_arrow(
        df, k=k, n=n, id_col=id_col, text_col=text_col))
    pairs = lsh_candidate_pairs(sig, id_col, bands=bands, rows_per_band=k // bands)
    return pairs.filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (the verifier for LSH candidates; also standalone)
# ---------------------------------------------------------------------------


#: Default shingle document-frequency cap for jaccard_pairs. Sentinel:
#: when the caller does not pass max_df explicitly, a one-time warning
#: notes the df-capped semantics (round-4 advice: the default changed
#: from uncapped in round 3; callers who want old exact behavior pass
#: max_df=None, callers who accept the cap pass max_df=1000 and the
#: warning never fires). In-repo default-arg caller audit (r5): only
#: tests/test_dedup.py::test_jaccard_pairs_match_python, on 60 docs
#: where no shingle can exceed the cap — its exact-python oracle is
#: unaffected; every other caller passes max_df explicitly.
DEFAULT_MAX_DF = 1000
_MAX_DF_UNSET = -1
_warned_default_max_df = False


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, threshold: float = 0.5,
                  within_col: str | None = None,
                  max_df: int | None = _MAX_DF_UNSET) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing >=1 shingle.

    Scale: inverted-index join — explode distinct shingles, self-join on
    the shingle (only ids + one shingle key shuffle), count shared
    shingles per pair, then jaccard = shared / (|A| + |B| - shared).
    At web scale you run this ONLY on LSH candidates; standalone it's
    quadratic in the worst case (all docs sharing a shingle).

    The index (arrowtext.shingle_index_arrow) carries each shingle as
    its 60-bit md5-derived hash, not its string: the index shuffles
    fixed-width bigints instead of multi-word strings and the self-join
    compares longs — measured 3x faster end-to-end at sf0.1 with
    identical output (jaccard over hashed shingles equals jaccard over
    shingles absent 60-bit collisions, which need ~2^30 DISTINCT
    shingles to appear by birthday bound; oracles need no change since
    the OUTPUT values are identical).

    max_df caps a shingle's document frequency: shingles occurring in
    more than max_df docs are dropped from the INDEX (not from |A|/|B|)
    — the standard boilerplate-shingle mitigation; candidate-pair volume
    falls from sum(df^2) to sum(min(df, max_df)^2). With a cap the
    jaccard of pairs sharing mostly-common shingles is underestimated;
    document it as df-capped jaccard (oracle applies the same cap).
    The DEFAULT is capped (1000): one boilerplate shingle shared by 10^6
    docs otherwise makes a standalone call quadratic (10^12 join rows).
    Pass max_df=None to opt into the uncapped exact jaccard — only sane
    on small corpora or pre-filtered LSH candidates.
    within_col optionally restricts pairs to the same group (e.g. source).
    """
    if max_df == _MAX_DF_UNSET:
        global _warned_default_max_df
        if not _warned_default_max_df:
            _warned_default_max_df = True
            import warnings

            warnings.warn(
                "jaccard_pairs defaults to df-capped jaccard "
                f"(max_df={DEFAULT_MAX_DF}): pairs sharing shingles more "
                f"common than {DEFAULT_MAX_DF} docs are underestimated. "
                "Pass max_df=None for exact (quadratic-risk) jaccard, or "
                "max_df explicitly to silence this.", stacklevel=2)
        max_df = DEFAULT_MAX_DF
    inv = shingle_index_arrow(df, id_col, text_col, n,
                              within_col=within_col, with_count=True)
    # materialization boundary: the index feeds the df-cap groupBy AND
    # both self-join sides — without it each consumer recomputes the
    # tokenize+shingle+explode chain. At cluster scale, write it to a
    # table bucketed by shingle instead (same boundary, co-located join).
    inv = tracked_persist(inv)
    if max_df is not None:
        # shingles over the df cap are FEW by definition -> compute them
        # with a groupBy (map-side partial agg) and broadcast-anti-join
        # them away; the previous Window.partitionBy(shingle) shuffled
        # AND sorted the entire exploded (shingle, doc) index just to
        # count group sizes
        hot = (inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
               .filter(F.col("_df") > max_df).select("shingle"))
        # persist the CAPPED index too (round-8): without this boundary
        # each self-join side re-runs the anti-join over the raw cache
        # AND the two sort exchanges canonicalize differently (separate
        # broadcast subtrees), so the 2.6M-row index was exchanged+sorted
        # TWICE; a shared InMemoryRelation makes both sides' exchange
        # subtrees identical -> ReusedExchange, one sort
        inv = tracked_persist(inv.join(F.broadcast(hot), "shingle",
                                       "left_anti"))
    # deliberate sort-merge for the pair self-join (round-8, guide
    # §3.1): the planner's size estimate of the exploded index lies
    # low, so it BROADCAST one whole self-join side — a 2.6M-row hash
    # relation at sf1.0 (measured 8.7s vs 3.7s merge, 5.1s shuffled-
    # hash) and a driver/executor OOM at real scale. Sort-merge also
    # handles the many-to-many shingle keys with sorted runs instead
    # of per-key hash chains, and the two sides reuse ONE exchange
    # (ReusedExchange: same persisted lineage, same key).
    a, b = inv.alias("a"), inv.hint("merge").alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if within_col:
        cond = cond & (F.col(f"a.{within_col}") == F.col(f"b.{within_col}"))
    shared = (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        shared.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# segment-level dedup (paragraph dedup, CCNet/Dolma-style)
# ---------------------------------------------------------------------------


def segment_dedup(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", seg_tokens: int = 20) -> DataFrame:
    """Sub-document dedup: split each doc into consecutive ``seg_tokens``-
    token segments, keep only the corpus-wide FIRST occurrence of each
    segment (by (doc_id, seg_idx) order), and rebuild the cleaned text.

    The paragraph-dedup operator of web-corpus pipelines, generalized to
    fixed token windows (the corpus here has no paragraph breaks);
    removes boilerplate repeated ACROSS documents that whole-doc dedup
    cannot touch.

    Scale shape: segments shuffle as (60-bit hash, doc_id, seg_idx) —
    the segment TEXT stays with its row and never joins; the keeper set
    comes from a groupBy min (map-side partial agg), NOT a window over
    the exploded corpus; rebuild is one groupBy(doc_id). Docs whose
    every segment was seen earlier drop out entirely (n_kept = 0 rows
    are not emitted).

    Returns (doc_id, clean_text, n_kept, n_total).
    """
    toks = spark_tokens(text_col)
    # empty-token guard: sequence(0, -1) would yield [0, -1] (descending)
    chunks = (
        f"CASE WHEN size({toks}) = 0 THEN CAST(array() AS array<string>) "
        f"ELSE transform(sequence(0, int(ceil(size({toks}) / {seg_tokens}.0)) - 1), "
        f"i -> concat_ws(' ', slice({toks}, i * {seg_tokens} + 1, {seg_tokens}))) END"
    )
    # persist the exploded segments: they feed the keeper agg, the join
    # back AND the per-doc totals — without the boundary each consumer
    # re-runs the tokenize+chunk chain over the full text column
    segs = (
        df.select(F.col(id_col), F.posexplode(F.expr(chunks))
                  .alias("seg_idx", "seg"))
        .withColumn("h", F.expr(spark_md5_hash("seg")))
    )
    segs = tracked_persist(segs)
    keepers = segs.groupBy("h").agg(
        F.min(F.struct(id_col, "seg_idx")).alias("k"))
    kept = segs.join(
        keepers,
        (segs["h"] == keepers["h"])
        & (F.struct(segs[id_col], segs["seg_idx"]) == keepers["k"]),
    ).select(segs[id_col], "seg_idx", "seg")
    n_total = segs.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_total"))
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.expr("array_join(transform(array_sort(collect_list("
                   "struct(seg_idx, seg))), x -> x.seg), ' ')")
            .alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    return rebuilt.join(n_total, id_col).select(
        id_col, "clean_text", "n_kept", "n_total")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         bits: int = 32) -> DataFrame:
    """(id_col, simhash) SimHash fingerprints: for each bit b, the sign
    of the sum over DISTINCT tokens of (+1 if bit b of the 60-bit token
    hash is set else -1); token-free and NULL texts hash to 0. One
    vectorized Arrow pass (arrowtext.simhash_arrow), no shuffle;
    exact-integer parity with the Python twin is pinned in
    tests/test_dedup.py and with the DuckDB oracle by the `simhash`
    query of __spark_entry__.py. Near-dup detection groups by hamming
    bands of the fingerprint (simhash_duplicates)."""
    return simhash_arrow(df, id_col, text_col, bits)


def simhash_duplicates(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 32,
                       max_hamming: int = 3, bands: int = 4,
                       max_bucket: int = 200) -> DataFrame:
    """Near-dups by SimHash: band the fingerprint into `bands` chunks;
    pairs within hamming distance < bands must share >=1 exact band
    (pigeonhole) -> band-bucket join, then exact hamming filter.

    Recall invariant (enforced): full recall of the reported pair set
    requires ``max_hamming < bands`` — a pair differing in >= bands
    bits can miss every band, so raising max_hamming without raising
    bands would SILENTLY drop true pairs. Property-tested against
    brute-force hamming pairs (tests/test_dedup.py).

    max_bucket drops boilerplate band-buckets before the self-join (the
    |bucket|^2 killer), same lever as lsh_candidate_pairs."""
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= bands={bands} breaks the "
            "pigeonhole recall guarantee (a qualifying pair may share "
            "no band); raise bands alongside max_hamming")
    if bits % bands != 0:
        raise ValueError(
            f"bands={bands} must divide evenly into bits={bits}")
    # persist: the fingerprint is referenced by `bands` band exprs +
    # both join sides, and the Arrow kernel would re-run per consumer
    h = tracked_persist(simhash_fingerprints(df, id_col, text_col, bits))
    chunk = bits // bands
    band_cols = [
        F.expr(
            f"concat('{b}:', CAST(pmod(shiftright(simhash, {b * chunk}), "
            f"{1 << chunk}) AS STRING))"
        ).alias("bucket")
        for b in range(bands)
    ]
    buckets = h.select(F.col(id_col), F.col("simhash"),
                       F.explode(F.array(*band_cols)).alias("bucket"))
    if max_bucket is not None:
        hot = (buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bsz"))
               .filter(F.col("_bsz") > max_bucket).select("bucket"))
        buckets = buckets.join(F.broadcast(hot), "bucket", "left_anti")
    a, b2 = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(b2, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
                F.col("a.simhash").alias("h_a"), F.col("b.simhash").alias("h_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.expr(
        f"size(filter(sequence(0, {bits - 1}), "
        "b -> ((h_a >> b) % 2) <> ((h_b >> b) % 2)))"
    )
    return pairs.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (test-set contamination scan)
# ---------------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    text_col: str = "text",
    n: int = 5,
    min_overlap: int = 1,
    broadcast_index: bool = True,
) -> DataFrame:
    """Test-set decontamination: flag corpus documents sharing at least
    ``min_overlap`` distinct word n-gram shingles with any benchmark
    (eval-set) document — the standard pre-training hygiene scan.

    Scale: the benchmark side is tiny relative to the corpus (eval
    suites are thousands of docs against billions), so its hashed
    shingle index is BROADCAST — the corpus side is one scan + explode
    with no shuffle until the final (doc, bench) overlap count, and
    contaminated pairs are rare by construction. Shingles hash to
    60-bit longs before the join (same lever as jaccard_pairs: the
    broadcast table and join keys are fixed-width, and jaccard's
    collision bound applies).

    ``broadcast_index=False`` is the large-eval-set escape hatch (the
    same commitment split as referential_violations' broadcast_dim):
    the hint is dropped so the shingle join plans as a shuffle join —
    identical output, no executor-memory bound on the benchmark side.

    Returns (id_col, bench_id_col, overlap) where overlap counts the
    DISTINCT shared shingles (the shingle index de-dups per document,
    so a plain count over the join is already distinct).
    """
    def inv(df: DataFrame, out_id: str, src_id: str) -> DataFrame:
        # drop_empty: zero-token docs shingle to ['']; dropping it keeps
        # every empty corpus doc from "contaminating" against every
        # empty benchmark doc — and from an M*N pair blow-up on that one
        # hot key
        return shingle_index_arrow(
            df.select(F.col(src_id).alias(out_id), text_col), out_id,
            text_col, n, with_count=False, drop_empty=True)

    c_inv = inv(corpus, id_col, id_col)
    b_inv = inv(benchmark, bench_id_col, bench_id_col)
    if broadcast_index:
        b_inv = F.broadcast(b_inv)
    return (
        c_inv.join(b_inv, "shingle")
        .groupBy(id_col, bench_id_col)
        .agg(F.count(F.lit(1)).alias("overlap"))
        .filter(F.col("overlap") >= min_overlap)
    )


def _span_occurrences(df: DataFrame, id_col: str, text_col: str, n: int,
                      work_dir: str | None = None,
                      materialize: bool = True) -> DataFrame:
    """Positional n-token shingle occurrences (id, i, h) for the
    dup-span family, MATERIALIZED by default: in dup_spans /
    remove_dup_spans the occurrence set feeds two consumers (global
    counts + a flag join back), and without a boundary each would
    re-run the tokenize+shingle+hash chain over the full text column.
    ``materialize=False`` skips the persist for SINGLE-consumer callers
    (remove_contaminated_spans' one semi join) — caching a
    corpus-token-sized block for zero reuse is pure memory pressure.

    Default boundary is a tracked persist (functions/cache). With
    ``work_dir`` the occurrences round-trip through parquet instead
    (same lever as plans/check_all's work_dir): a 100-TB corpus has a
    corpus-token-sized occurrence set that would otherwise pin the
    block-manager cache — columnar files spill to disk for free and are
    released by deleting the directory, not by executor memory
    pressure. Rows with a NULL id are dropped (no document identity).
    """
    toks = spark_tokens(text_col)
    h = spark_md5_hash("concat_ws(' ', slice(toks, i + 1, " + str(n) + "))")
    zero = "CAST(array() AS array<struct<i: int, h: bigint>>)"
    shingles = (
        f"aggregate(array({toks}), {zero}, (acc, toks) -> "
        f"CASE WHEN coalesce(size(toks), 0) < {n} THEN {zero} "
        f"ELSE transform(sequence(0, size(toks) - {n}), "
        f"i -> named_struct('i', i, 'h', {h})) END)"
    )
    occ = (
        df.filter(F.col(id_col).isNotNull())
        .select(F.col(id_col), F.explode(F.expr(shingles)).alias("s"))
        .select(id_col, F.col("s.i").alias("i"), F.col("s.h").alias("h"))
    )
    if work_dir:
        # unique subdir per call: two calls sharing a work_dir (e.g.
        # dup_spans + remove_dup_spans, or two corpora) must not clobber
        # each other's materialization while a lazy consumer still
        # reads it — review finding
        import uuid

        path = f"{work_dir}/span_occ_{uuid.uuid4().hex}"
        occ.write.mode("overwrite").parquet(path)
        back = df.sparkSession.read.parquet(path)
        # the occ table is THIN (id, i, h): at moderate corpus sizes its
        # parquet packs into a couple of default 128MB input splits and
        # every downstream map stage runs near-serial (measured 129.6s
        # vs 23.8s persist at 500k docs; 45.6s with 8MB splits). Restore
        # the session's parallelism with one cheap round-robin shuffle
        # when the read under-splits; at true 100-TB scale the files
        # exceed the split size and this is a no-op.
        target = df.sparkSession.sparkContext.defaultParallelism
        if back.rdd.getNumPartitions() < target:
            back = back.repartition(target)
        return back
    return tracked_persist(occ) if materialize else occ


def dup_spans(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", n: int = 20,
              min_count: int = 2, work_dir: str | None = None) -> DataFrame:
    """Substring-level duplicate spans (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    granularity): every maximal token span of length >= ``n`` whose
    every ``n``-token window occurs at least ``min_count`` times in the
    corpus (counting all occurrences, within- and cross-document).
    Whole-doc and segment dedup miss these — a copied paragraph inside
    an otherwise unique page survives both.

    Mechanics: positional n-token shingles (NOT distinct — position
    matters), md5-derived 60-bit keys (functions/hashing, oracle-
    portable); a shingle occurrence is duplicated when its key's global
    count >= min_count; per doc, duplicated start positions i and j
    merge into one span when j - i <= n (their [i, i+n-1] windows
    overlap or touch), via gaps-and-islands over a per-doc window.
    Note the merge is by START GAP: tokens strictly between two merged
    windows may belong to interior windows that occur only once — a
    span guarantees its first and last n tokens are duplicated windows
    and no covered duplicated window is more than n starts from the
    next, not that every interior window repeats.

    Identity contract: ``id_col`` must identify a logical document.
    Rows SHARING an id are pooled as one document (their window
    positions count and merge together — the island window partitions
    by id); rows with a NULL id are dropped (their spans could not be
    attributed to any document).

    Scale shape: the shingle explode is linear in corpus tokens and
    shuffles only (key, id, start) — shingle TEXT never leaves the map
    side (hashed before the explode); counts ride a map-side-combined
    groupBy(key); flagging is one shuffle join back on the key (no
    pair join anywhere, so no quadratic blowup and no df cap needed);
    the island window partitions by doc — bounded by doc length. The
    token array is let-bound once per row (see bm25_scores in
    operators/textstats.py).

    Returns (id_col, span_start, span_end, n_shingles): token-index
    span [start, end] inclusive, plus how many duplicated windows
    merged into it. Docs shorter than ``n`` tokens emit nothing.
    ``work_dir`` spills the occurrence cache to parquet instead of the
    block manager (see _span_occurrences) — identical output.
    """
    if n < 2:
        raise ValueError(f"span shingle length n must be >= 2, got {n}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    occ = _span_occurrences(df, id_col, text_col, n, work_dir)
    dup_keys = (
        occ.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("h")
    )
    dup_occ = occ.join(dup_keys, "h").select(id_col, "i")
    w = Window.partitionBy(id_col).orderBy("i")
    islands = (
        dup_occ
        .withColumn("new_island",
                    F.when(F.col("i") - F.lag("i").over(w) <= n, 0)
                    .otherwise(1))
        .withColumn("island", F.sum("new_island").over(w))
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(F.min("i").alias("span_start"),
             (F.max("i") + n - 1).alias("span_end"),
             F.count(F.lit(1)).alias("n_shingles"))
        .select(F.col(id_col),
                F.col("span_start").cast("long").alias("span_start"),
                F.col("span_end").cast("long").alias("span_end"),
                F.col("n_shingles").cast("long").alias("n_shingles"))
    )


def remove_dup_spans(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 20,
                     min_count: int = 2,
                     work_dir: str | None = None) -> DataFrame:
    """Duplicate-span EXCISION — the Lee et al. 2022 end product that
    :func:`dup_spans` only detects: keep the corpus-wide FIRST
    occurrence (by ``(doc_id, start)`` order) of every duplicated
    ``n``-token window, cut every other occurrence's tokens, and
    rebuild each document's text from the surviving tokens.

    Semantics (window granularity, matching dup_spans' counting):
      * a window is duplicated when its key's global occurrence count
        >= ``min_count`` (within- and cross-document occurrences both
        count)
      * per duplicated key, the minimum ``(doc_id, start)`` occurrence
        is the keeper; all other occurrences are CUT occurrences
      * per document, cut occurrences merge into excision spans by the
        same start-gap rule as dup_spans (gap <= n -> the windows
        overlap or touch), and every token covered by a merged span is
        removed
      * the rebuilt text is the kept tokens joined by single spaces —
        the same token-stream rebuild as segment_dedup (original
        whitespace/punctuation does not survive tokenization).

    Identity contract: ``id_col`` must be UNIQUE per row (one row = one
    document) — the span join attaches each document's spans back to
    its text row, so duplicate ids would cross-apply spans between the
    rows sharing them (dup_spans' looser pooling contract does not
    carry over). Rows with a NULL id are dropped.

    Scale shape — keeper-join-shaped, NO pair join anywhere: the
    occurrence explode is linear in corpus tokens and shuffles only
    (key, id, start); keepers come from a map-side-combined
    groupBy(key) min, exactly segment_dedup's template; the island
    window partitions by document (bounded by doc length); span lists
    rejoin documents on the id — per-doc span arrays are bounded by
    doc length. The rebuild is one expression with the token array and
    the kept-token array each let-bound once per row (codegen does not
    subexpression-eliminate lambda-bearing subtrees). ``work_dir``
    spills the occurrence cache to parquet (see _span_occurrences).

    Returns one row per input document (NULL ids dropped):
    (id_col, clean_text, n_kept, n_total, n_cut_spans). Documents with
    nothing to cut return their token-rebuilt text unchanged; a fully
    duplicated non-keeper document returns clean_text = ''.
    """
    if n < 2:
        raise ValueError(f"span shingle length n must be >= 2, got {n}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    docs = df.filter(F.col(id_col).isNotNull())
    occ = _span_occurrences(docs, id_col, text_col, n, work_dir)
    dup_keys = (
        occ.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("h")
    )
    dup_occ = occ.join(dup_keys, "h").select(id_col, "i", "h")
    # corpus-wide first occurrence per key: groupBy min over a
    # (doc_id, start) struct — map-side combinable, never a window sort
    # over a hot key's 10^6 occurrences
    keepers = dup_occ.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("i"))).alias("k"))
    cut = (
        dup_occ.join(keepers, "h")
        .filter(F.struct(F.col(id_col), F.col("i")) != F.col("k"))
        .select(id_col, "i")
    )
    return _excise_spans(docs, cut, id_col, text_col, n)


def _excise_spans(docs: DataFrame, cut: DataFrame, id_col: str,
                  text_col: str, n: int) -> DataFrame:
    """Shared excision tail of the span-removal family: merge CUT
    window starts (id_col, i) into per-doc spans (same start-gap <= n
    islands as dup_spans), cut every covered token, rebuild the text
    from surviving tokens. The island window partitions by document
    (bounded by doc length); span lists rejoin documents on the id.
    Returns (id_col, clean_text, n_kept, n_total, n_cut_spans)."""
    w = Window.partitionBy(id_col).orderBy("i")
    islands = (
        cut.withColumn("new_island",
                       F.when(F.col("i") - F.lag("i").over(w) <= n, 0)
                       .otherwise(1))
        .withColumn("island", F.sum("new_island").over(w))
    )
    spans = (
        islands.groupBy(id_col, "island")
        .agg(F.min("i").alias("s"), (F.max("i") + n - 1).alias("e"))
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct(
            F.col("s").cast("int").alias("s"),
            F.col("e").cast("int").alias("e")))).alias("_spc"),
        F.count(F.lit(1)).alias("_nspans"),
    )
    joined = docs.join(per_doc, id_col, "left").withColumn(
        "_spc",
        F.coalesce(F.col("_spc"),
                   F.expr("CAST(array() AS array<struct<s: int, e: int>>)")))
    # rebuild: spans are sorted, disjoint and non-adjacent (consecutive
    # islands are > n starts apart, so the inter-span gap is >= 1
    # token), so the kept tokens are the size(_spc)+1 slices between
    # them: segment k runs [prev_end+1, next_start), with prev_end = -1
    # before the first span and next_start = size(toks) after the last
    toks = spark_tokens(text_col)
    seg_start = "IF(k = 0, 0, element_at(_spc, k).e + 1)"
    seg_end = "IF(k = size(_spc), size(toks), element_at(_spc, k + 1).s)"
    kept = (f"flatten(transform(sequence(0, size(_spc)), k -> "
            f"slice(toks, {seg_start} + 1, "
            f"greatest({seg_end} - ({seg_start}), 0))))")
    zero = "named_struct('clean_text', '', 'n_kept', 0, 'n_total', 0)"
    rebuild = (
        f"aggregate(array(coalesce({toks}, CAST(array() AS array<string>))), "
        f"{zero}, (acc, toks) -> aggregate(array({kept}), acc, "
        f"(a2, kept) -> named_struct("
        f"'clean_text', array_join(kept, ' '), "
        f"'n_kept', size(kept), 'n_total', size(toks))))"
    )
    return (
        joined.withColumn("_rb", F.expr(rebuild))
        .select(
            F.col(id_col),
            F.col("_rb.clean_text").alias("clean_text"),
            F.col("_rb.n_kept").cast("long").alias("n_kept"),
            F.col("_rb.n_total").cast("long").alias("n_total"),
            F.coalesce(F.col("_nspans"), F.lit(0)).cast("long")
            .alias("n_cut_spans"),
        )
    )


def remove_contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    text_col: str = "text",
    n: int = 13,
    work_dir: str | None = None,
    broadcast_index: bool = True,
) -> DataFrame:
    """SURGICAL decontamination: excise every ``n``-token window of the
    corpus that also occurs in the benchmark/eval set, and rebuild the
    text — the span-level counterpart of :func:`decontaminate` (which
    only REPORTS contaminated docs; dropping whole documents over one
    leaked sentence wastes the rest of the document). Default n=13
    is the classic 13-gram decontamination granularity.

    Semantics: a corpus window is cut when its hash occurs ANYWHERE in
    the benchmark (positional windows, same tokenizer + portable md5
    as the dup-span family); cut windows merge into per-doc spans by
    the start-gap <= n island rule and every covered token is removed.
    Unlike remove_dup_spans there is no keeper — eval text never
    survives in the training corpus. The rebuilt text is the kept
    tokens joined by single spaces.

    Identity contract: ``id_col`` unique per corpus row, NULL ids
    dropped (same as remove_dup_spans).

    Scale shape: the benchmark window-key set is DISTINCT hashes —
    bounded by eval-set tokens, tiny next to the corpus — joined to the
    corpus occurrences as a (broadcast by default) semi join; no pair
    join, no corpus shuffle beyond the occurrence explode's (id, i, h)
    rows. ``broadcast_index=False`` is the shuffle escape hatch for
    eval sets past broadcast scale (same lever as decontaminate).
    ``work_dir`` spills the corpus occurrence cache to parquet.
    """
    if n < 2:
        raise ValueError(f"span shingle length n must be >= 2, got {n}")
    docs = corpus.filter(F.col(id_col).isNotNull())
    # ONE consumer each (the semi join / the distinct) — no persist
    occ = _span_occurrences(docs, id_col, text_col, n, work_dir,
                            materialize=False)
    bench_keys = (
        _span_occurrences(
            benchmark.filter(F.col(bench_id_col).isNotNull()),
            bench_id_col, text_col, n, materialize=False)
        .select("h").distinct()
    )
    if broadcast_index:
        bench_keys = F.broadcast(bench_keys)
    cut = occ.join(bench_keys, "h", "leftsemi").select(id_col, "i")
    return _excise_spans(docs, cut, id_col, text_col, n)
