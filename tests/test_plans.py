"""Physical-plan assertions — the optimizer contract.

The prompt-level requirement: filters reach the parquet scan
(PushedFilters), column pruning happens (ReadSchema), small dims
broadcast (BroadcastHashJoin), hot paths stay in whole-stage codegen,
and the fused pass adds NO shuffle. These tests pin that contract so a
regression (e.g. an operator change that breaks pushdown) fails CI,
not a 100 TB run.
"""

import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def executed_plan_of(df) -> str:
    """Finalized (post-AQE) physical plan — shows WholeStageCodegen spans."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def n_exchanges(plan: str) -> int:
    """Count Exchange NODES (formatted explain prints each node twice:
    once in the tree, once as a '(n) Exchange' detail header)."""
    return len(re.findall(r"\n\(\d+\) Exchange", plan))


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


def test_filter_pushdown_reaches_scan(spark, lineitem):
    df = lineitem.filter(F.col("l_shipdate") <= "2001-06-30").select(
        "l_orderkey", "l_quantity")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark, lineitem):
    df = lineitem.select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    # ReadSchema must contain ONLY the projected columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_media_ref_rows_scan_prunes_text(spark, tmp_path):
    """The referential check's second scan must NOT read spans.text —
    at 100 TB text is most of the bytes. posexplode over the raw struct
    defeats nested-schema pruning; media_ref_rows extracts the subfield
    arrays first (GetArrayStructFields) so the parquet ReadSchema keeps
    only kind/media_ref/offset."""
    from fastpasta_spark.plans.check_all import media_ref_rows
    from fastpasta_spark.sources.synth import CorpusConfig, corpus_df

    path = str(tmp_path / "docs")
    corpus_df(spark, CorpusConfig(n_docs=30)).write.parquet(path)
    plan = plan_of(media_ref_rows(spark.read.parquet(path)))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "media_ref" in read_schema and "kind" in read_schema
    assert "text" not in read_schema


def test_media_ref_rows_null_offset_normalizes_to_minus_one(spark):
    """NULL span offsets surface as -1 in ref rows (and so in E110
    violations) — the violation-table convention the old Arrow-pass 'r'
    emission used (fill_null -> -1) and the E120 drift branch still
    uses; raw NULL would also reorder the (doc_id, offset) sort."""
    from fastpasta_spark.plans.check_all import media_ref_rows

    docs = spark.createDataFrame(
        [("d1", [{"kind": "media", "text": None, "media_ref": "mX",
                  "offset": None},
                 {"kind": "media", "text": None, "media_ref": "mY",
                  "offset": 7}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    rows = {r.message: (r.span_idx, r.offset)
            for r in media_ref_rows(docs).collect()}
    assert rows == {"mX": (0, -1), "mY": (1, 7)}


def test_media_dim_join_is_broadcast(spark):
    """The STANDALONE columnar referential form (dangling_refs driver
    query, streaming validator) keeps its broadcast anti-join shape;
    check_all itself no longer joins at all — its E110 check rides the
    fused pass against a broadcast media-id set (BENCH/REFS_INPASS.md),
    so its violations plan must contain NO anti-join (a LeftAnti here
    means the second corpus scan crept back in)."""
    from fastpasta_spark.plans.check_all import (
        _referential_branch,
        check_all,
        media_ref_rows,
    )
    from fastpasta_spark.sources.synth import CorpusConfig, corpus_df, media_df

    cfg = CorpusConfig(n_docs=50)
    docs, media = corpus_df(spark, cfg), media_df(spark, cfg)
    standalone = plan_of(_referential_branch(media_ref_rows(docs), media))
    # strict: the anti-join is an equi-join on media_id and must stay a
    # hash join — a nested-loop here is O(refs x media)
    assert "BroadcastHashJoin" in standalone
    assert "LeftAnti" in standalone

    plan = plan_of(check_all(docs, media).violations)
    assert "LeftAnti" not in plan


def test_fused_pass_has_no_shuffle(spark):
    from fastpasta_spark.operators.sequence import sequence_pass
    from fastpasta_spark.sources.synth import CorpusConfig, corpus_df

    out = sequence_pass(corpus_df(spark, CorpusConfig(n_docs=50)), fused=True)
    plan = plan_of(out)
    assert "Exchange" not in plan  # embarrassingly parallel: zero shuffles


def test_agg_uses_whole_stage_codegen_and_partial_agg(spark, lineitem):
    df = lineitem.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    # partial (map-side) aggregation before the exchange
    plan = plan_of(df)
    assert len(re.findall(r"\n\(\d+\) HashAggregate", plan)) >= 2
    # codegen spans appear in the finalized (executed) plan as `*(n)`
    assert re.search(r"\*\(\d+\)", executed_plan_of(df))


def test_topk_window_single_shuffle(spark, lineitem):
    from pyspark.sql import Window as W

    w = W.partitionBy("l_suppkey").orderBy(F.desc("l_extendedprice"))
    df = lineitem.withColumn("rnk", F.row_number().over(w)).filter("rnk <= 3")
    assert n_exchanges(plan_of(df)) == 1  # one hash-partitioning, no extra


def test_cosine_topk_never_shuffles_corpus(spark):
    """Round-8: small query sets are collected and scored as a closure
    matrix — the corpus side sees NO join at all (one scan + the
    window's own exchange); larger sets fall back to a broadcast pair
    join (still never shuffling the corpus by a join key)."""
    from fastpasta_spark.operators import similarity
    from fastpasta_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(cosine_topk(emb, emb.limit(5), k=3))
    assert "Join" not in plan
    # the only repartitioning is the window's, keyed by query_id
    import re as _re
    keys = _re.findall(r"hashpartitioning\((\w+)", plan)
    assert keys and set(keys) == {"query_id"}, keys

    import pytest as _pytest
    mp = _pytest.MonkeyPatch()
    try:
        mp.setattr(similarity, "QUERY_MATRIX_MAX", 0)
        plan = plan_of(cosine_topk(emb, emb.limit(5), k=3))
    finally:
        mp.undo()
    assert ("BroadcastNestedLoopJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_dedup_shuffles_hashes_not_text(spark):
    from fastpasta_spark.operators.dedup import exact_duplicates

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string"))
    plan = plan_of(exact_duplicates(d))
    # the shuffle is keyed on the content hash — text never leaves the
    # scan stage (partial agg collapses it before the exchange)
    assert re.search(r"Arguments: hashpartitioning\(content_hash", plan)
    # collect_list makes it an ObjectHashAggregate; partial + final
    assert len(re.findall(r"\n\(\d+\) (?:Object)?HashAggregate", plan)) >= 2


def test_period_check_single_shuffle_and_pushdown(spark):
    # the flat-table trigger-period check is ONE keyed exchange (the lag
    # window); the event_type filter reaches the parquet scan
    from pyspark.sql import functions as F

    from fastpasta_spark.operators.running import period_violations

    # another module caches events.parquet; the pushdown assertion needs
    # the real parquet scan in the plan, not an InMemoryRelation hit
    spark.catalog.clearCache()
    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet").filter(
        F.col("event_type") == "click")
    out = period_violations(
        e.withColumn("bc", F.pmod(F.col("event_id"), F.lit(3564))),
        key="user_id", order=["event_id"], bc_col="bc", period=17)
    plan = plan_of(out)
    assert n_exchanges(plan) == 1
    assert "PushedFilters" in plan and "event_type" in plan


def test_jaccard_cap_has_no_window_over_index(spark):
    # the df cap is a groupBy + broadcast anti-join, NOT a Window sort
    # over the exploded (shingle, doc) index
    from fastpasta_spark.operators.dedup import jaccard_pairs

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "source")
    out = jaccard_pairs(d, threshold=0.1, within_col="source", max_df=50)
    plan = plan_of(out)
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two same-bucketed tables join per-bucket local: zero Exchange
    (the 100 TB signature-store join pattern, sources/bucketed.py)."""
    from fastpasta_spark.sources.bucketed import colocated_join, write_bucketed

    a = spark.range(2000).select(F.col("id").alias("doc_id"),
                                 (F.col("id") * 2).alias("va"))
    b = spark.range(2000).select(F.col("id").alias("doc_id"),
                                 (F.col("id") * 3).alias("vb"))
    write_bucketed(a, "bk_a", n_buckets=8, path=str(tmp_path / "a"))
    write_bucketed(b, "bk_b", n_buckets=8, path=str(tmp_path / "b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "bk_a", "bk_b")
        plan = plan_of(joined)
        assert n_exchanges(plan) == 0, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 2000
        # contrast: the un-bucketed same join shuffles both sides
        plain = a.join(b, "doc_id")
        assert n_exchanges(plan_of(plain)) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_hashed_jaccard_index_joins_on_longs(spark):
    """The jaccard inverted index self-join key is the 60-bit shingle
    hash (bigint), not the raw shingle string — and no Window appears."""
    from fastpasta_spark.operators.dedup import jaccard_pairs

    d = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string")
    plan = plan_of(jaccard_pairs(d, threshold=0.1, max_df=10))
    assert "Window" not in plan
    assert "shingle#" in plan or "shingle" in plan


def test_connected_components_rounds_are_checkpointed(spark):
    """CC labels come from a localCheckpoint scan, not a 30-round lineage
    chain: the final plan must be shallow (no iteration blowup)."""
    from fastpasta_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    cc = connected_components(pairs)
    plan = cc._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan


def test_decontaminate_broadcasts_benchmark(spark):
    from fastpasta_spark.operators.dedup import decontaminate

    corpus = spark.range(0, 1000).selectExpr(
        "id as doc_id", "concat('alpha beta gamma delta epsilon ', id) as text")
    bench = spark.range(0, 10).selectExpr(
        "id as bench_id", "concat('alpha beta gamma delta epsilon ', id) as text")
    plan = (decontaminate(corpus, bench, n=5)
            ._jdf.queryExecution().executedPlan().toString())
    # the eval-set shingle index is broadcast; the corpus side never
    # shuffles before the join (only the final pair-count aggregates)
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan


def test_unigram_scoring_is_map_only(spark):
    from fastpasta_spark.operators.textstats import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a a")], "doc_id long, text string")
    plan = (unigram_logprob(df, vocab_k=10)
            ._jdf.queryExecution().executedPlan().toString())
    # model building collects tiny artifacts in separate jobs; the
    # returned SCORING dataframe is a pure projection — zero exchanges
    assert "Exchange" not in plan


def test_kmeans_assignment_is_shuffle_free(spark):
    # the per-row argmax against the centroid codebook (carried in the
    # Arrow kernel's closure) must stay in the scan's stage — no
    # Exchange, no join (the scale property that makes each Lloyd
    # iteration one scan)
    from fastpasta_spark.operators.similarity import (
        _assign_lists,
        ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .select("vec_id", F.col("embedding").alias("_vec"))
    cent = sorted((r.list_id, [float(v) for v in r.centroid])
                  for r in ivf_centroids(emb, 4, vec_col="_vec").collect())
    assigned = _assign_lists(emb, cent, nprobe=1, vec_col="_vec")
    plan = plan_of(assigned)
    assert n_exchanges(plan) == 0
    assert "Join" not in plan


def test_semantic_dup_hot_cluster_drop_is_broadcast_anti(spark):
    from fastpasta_spark.functions.cache import release_tracked
    from fastpasta_spark.operators.similarity import semantic_duplicates

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .select("vec_id", "embedding")
    pairs = semantic_duplicates(emb, threshold=0.99, k=4, iters=1,
                                max_cluster=50)
    plan = plan_of(pairs)
    assert re.search(r"Broadcast.*Join.*LeftAnti", plan) or \
        ("LeftAnti" in plan and "Broadcast" in plan)
    release_tracked()


def test_bm25_scoring_is_map_only(spark):
    from fastpasta_spark.operators.textstats import bm25_scores

    df = spark.createDataFrame(
        [(1, "hash join"), (2, "scan scan")], "doc_id long, text string")
    plan = (bm25_scores(df, ["hash", "scan"])
            ._jdf.queryExecution().executedPlan().toString())
    # pass 1 (N/avgdl/df stats) is a separate tree-agg job; the
    # returned SCORING dataframe is filter + project — zero exchanges
    assert "Exchange" not in plan


def test_dsir_scoring_is_map_only(spark):
    from pyspark.sql import functions as F

    from fastpasta_spark.operators.textstats import dsir_weights

    df = spark.createDataFrame(
        [(1, "hash join", "en"), (2, "scan", "de")],
        "doc_id long, text string, lang string")
    plan = (dsir_weights(df, F.col("lang") == "en", buckets=8)
            ._jdf.queryExecution().executedPlan().toString())
    # the bounded bucket-profile groupBy is a separate job; the
    # returned SCORING dataframe is a pure projection over the
    # constant-folded log-ratio array — zero exchanges
    assert "Exchange" not in plan


def test_dup_spans_window_is_per_doc_and_no_cartesian(spark):
    from fastpasta_spark.operators.dedup import dup_spans
    from fastpasta_spark.functions.cache import release_tracked

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string")
    plan = executed_plan_of(dup_spans(df, n=3))
    release_tracked()
    # the island merge must ride a PER-DOC window (bounded by doc
    # length), never a global one, and nothing may plan cartesian
    assert re.search(r"Window \[[^\]]*\], \[doc_id", plan), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_importance_resample_is_map_plus_topk(spark):
    """importance_resample must plan as a pure map (key expr) feeding
    TakeOrderedAndProject — per-partition k-row heaps merged on the
    driver; no Exchange of the corpus, no global Sort."""
    from fastpasta_spark.operators.sampling import importance_resample

    df = spark.createDataFrame(
        [(i, float(i % 5)) for i in range(100)], "doc_id long, w double")
    plan = (importance_resample(df, "w", k=10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
