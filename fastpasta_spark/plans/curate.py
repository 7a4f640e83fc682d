"""Corpus curation plan — the end-to-end composition a training-data
pipeline runs over the validated corpus:

  1. quality gate      : content-aware filters (quality score, language)
  2. dedup resolution  : exact + near-dup pairs -> connected components
                         -> keep ONE canonical doc per cluster
  3. token budget      : keep the best documents until a token target

The reference stops at validation (its output is a verdict + stats,
`/root/reference/fastpasta/src/lib.rs:101-159`); curation is the
training-pipeline extension the prompt mandates, composed entirely from
the tested operators (textstats, dedup, graph).

Scale notes:
  * one textstats pass computes quality/lang/tokens in a single Arrow
    pass (operators/textstats.with_textstats); the gated survivor
    set is persisted once and feeds pair generation, the keeper
    anti-join and the output
  * dedup edges never carry text — (hash, id) pairs only
  * the token budget has two modes: `exact_budget=True` does the
    deterministic cumulative-sum-over-global-order (ONE-partition
    window — correct and oracle-matchable, fine up to ~10^8 survivor
    rows of 3 small columns, wrong at 10^12); the default scale path
    picks a TOKEN-WEIGHTED quality cutoff from a 1000-bin quality
    histogram (one shuffle of <=1001 tiny rows, cumulative walk on the
    driver) — budget met to bin granularity, no global sort, plan
    stays embarrassingly parallel
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fastpasta_spark.functions.cache import tracked_persist
from fastpasta_spark.functions.hashing import spark_md5_hash
from fastpasta_spark.operators.dedup import jaccard_pairs
from fastpasta_spark.operators.graph import duplicate_clusters
from fastpasta_spark.operators.textstats import with_textstats


@dataclass
class CurateResult:
    kept: DataFrame      # surviving docs + (n_tokens, quality, lang_pred)
    summary: DataFrame   # one row: funnel counts


def exact_dup_star_edges(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Exact-duplicate PAIR edges as a STAR: every member of a
    content-hash group links to the group's minimum id. n-1 edges per
    group (like a path) but diameter 2 — a 10^6-copy boilerplate family
    converges in two label-propagation rounds instead of 10^6."""
    hub = F.min(id_col).over(Window.partitionBy(F.md5(text_col)))
    return (
        df.select(hub.alias("doc_a"), F.col(id_col).alias("doc_b"))
        .filter(F.col("doc_a") != F.col("doc_b"))
    )


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.25,
    langs: tuple[str, ...] | None = None,
    jaccard_threshold: float = 0.5,
    max_df: int = 200,
    token_budget: int | None = None,
    exact_budget: bool = False,
    scoring=None,
    min_scores: dict[str, float] | None = None,
    rank_col: str = "quality",
    gopher: bool = False,
) -> CurateResult:
    """Quality gate -> dedup keeper -> token budget. See module doc.

    ``gopher=True`` additionally requires the Gopher rule battery
    (textstats.gopher_rules, Rae et al. 2021) to pass — the standard
    document-level filters (length/word-shape/bullet/ellipsis/stopword
    presence) applied in the same scan as the other gates; the kept
    output keeps ``gopher_flags`` for auditability.

    Fitted signals: pass a ``ScoringModel`` (textstats.fit_scoring_model)
    as ``scoring`` and its score columns (avg_logprob / bm25 /
    dsir_logratio) are computed in the same scan as the textstats and
    become gate- and rank-able: ``min_scores`` maps score column ->
    minimum (NULL score fails the gate — an unscorable doc is not a
    keeper), and ``rank_col`` picks which column the token budget ranks
    by (default the stateless quality heuristic). The model is fit ONCE
    by the caller on a reference slice; applying it here adds zero jobs
    and zero shuffles (bounded literals in pure column exprs), so the
    funnel's plan shape is unchanged at 100 TB.

    Budget ranking by an arbitrary signal: exact mode orders by
    (rank_col DESC NULLS LAST, id). The scale mode generalizes the
    1000-bin histogram cutoff to the OBSERVED [min, max] of rank_col
    (one extra pair of scalars in the same agg); NULL-ranked docs rank
    below every real bin (md5-sub-binned so the cut can fill leftover
    budget from the NULL mass instead of dropping it wholesale — the
    scale-mode mirror of NULLS LAST), and docs tying on rank share a
    bin the cut cannot separate — budget overshoot at bin granularity
    is the documented contract.
    """
    stats = with_textstats(docs.select(id_col, text_col), text_col)
    if scoring is not None:
        stats = scoring.apply(stats)
    if gopher and "gopher_pass" not in stats.columns:
        # not already fitted via the 'gopher' signal — compute the
        # battery here; INT 0/1 like the fitted signal so gopher_pass
        # stays min_scores/rank_col-able in either configuration
        from fastpasta_spark.operators.textstats import gopher_rules

        stats = gopher_rules(stats, text_col).withColumn(
            "gopher_pass", F.col("gopher_pass").cast("int"))
    gated = stats.filter(F.col("quality") >= min_quality)
    if langs:
        gated = gated.filter(F.col("lang_pred").isin(*langs))
    if gopher:
        # keep the column: min_scores/rank_col may reference it, and
        # survivors carry it (with gopher_flags when computed here)
        gated = gated.filter(F.col("gopher_pass") == 1)
    for c, v in (min_scores or {}).items():
        gated = gated.filter(F.col(c).isNotNull() & (F.col(c) >= v))
    gated = tracked_persist(gated)

    pairs = exact_dup_star_edges(gated, id_col, text_col).unionByName(
        jaccard_pairs(gated, id_col, text_col,
                      threshold=jaccard_threshold, max_df=max_df)
        .select("doc_a", "doc_b")
    )
    losers = (
        duplicate_clusters(pairs)
        .filter(~F.col("is_keeper"))
        .select(F.col("node").alias(id_col))
    )
    unique = tracked_persist(gated.join(losers, id_col, "left_anti"))

    kept = unique
    if token_budget is not None:
        if exact_budget:
            w = Window.orderBy(
                F.desc_nulls_last(rank_col), id_col).rowsBetween(
                Window.unboundedPreceding, Window.currentRow)
            kept = (
                unique.withColumn("_cum", F.sum("n_tokens").over(w))
                .filter(F.col("_cum") <= token_budget)
                .drop("_cum")
            )
        else:
            agg = unique.agg(
                F.sum("n_tokens").alias("_t"),
                F.min(rank_col).alias("_lo"),
                F.max(rank_col).alias("_hi"),
            ).first()
            total = agg["_t"] or 0
            lo, hi = agg["_lo"], agg["_hi"]
            if total > token_budget:
                # TOKEN-weighted rank cutoff, not a doc-count quantile
                # (when length correlates with rank a doc quantile can
                # overshoot the token budget arbitrarily): bucketize
                # rank_col into 1000 bins over its observed [lo, hi],
                # aggregate token mass per bin, walk the cumulative sum
                # from the top. One shuffle of tiny (bin, tokens) rows;
                # no global sort of documents.
                #
                # NULL-ranked docs mirror exact mode's NULLS LAST: they
                # occupy pseudo-bins BELOW every real bin, sub-binned by
                # the deterministic md5 gate of their id, so when the
                # ranked mass alone is under budget the walk continues
                # INTO the NULL mass and fills the budget (review
                # finding: bin -1 as a single all-or-nothing group
                # silently discarded the whole NULL mass). All ranked
                # docs tying (hi == lo, or all-NULL ranks) collapse to
                # one bin 0 — the cut cannot separate ties; overshoot
                # at bin granularity is the documented contract.
                if lo is None or hi is None or hi == lo:
                    ranked_bin = F.lit(0)
                else:
                    width = (hi - lo) / 1000.0
                    ranked_bin = F.least(
                        F.lit(999),
                        F.floor((F.col(rank_col) - F.lit(lo))
                                / F.lit(width)))
                null_bin = F.expr(
                    f"-1 - pmod({spark_md5_hash(f'cast({id_col} as string)')}, "
                    "1000)")
                qb = F.when(F.col(rank_col).isNull(), null_bin).otherwise(
                    ranked_bin).cast("int")
                bins = (
                    unique.groupBy(qb.alias("_qb"))
                    .agg(F.sum("n_tokens").alias("_t"))
                    .collect()
                )
                cum, cut_bin = 0, None
                for r in sorted(bins, key=lambda r: -r["_qb"]):
                    cum += r["_t"]
                    cut_bin = r["_qb"]
                    if cum >= token_budget:
                        break
                if cut_bin is not None:
                    kept = unique.filter(qb >= cut_bin)

    summary = (
        docs.select(F.count(F.lit(1)).alias("n_input"))
        .crossJoin(gated.select(F.count(F.lit(1)).alias("n_gated")))
        .crossJoin(unique.select(F.count(F.lit(1)).alias("n_unique")))
        .crossJoin(kept.select(
            F.count(F.lit(1)).alias("n_kept"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("kept_tokens")))
    )
    return CurateResult(kept=kept, summary=summary)


def dsir_resample(
    docs: DataFrame,
    target_filter,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 512,
    temperature: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """DSIR end-to-end (Xie et al. 2023): importance weights against a
    target slice, then deterministic weight-proportional resampling —
    returns the min(k, n) docs drawn without replacement with
    probability proportional to ``exp(dsir_logratio / temperature)``,
    i.e. the importance-resampled training subset, with the
    ``dsir_logratio`` column appended.

    Composition of two scan-shaped operators: ``dsir_weights`` (one
    bounded-profile shuffle + a map-only scoring pass) into
    ``importance_resample`` (pure map + TakeOrderedAndProject top-k) —
    no extra jobs, no corpus shuffle, deterministic on any cluster.
    Token-free docs (NULL dsir_logratio) are never sampled.
    """
    from fastpasta_spark.operators.sampling import importance_resample
    from fastpasta_spark.operators.textstats import dsir_weights

    scored = dsir_weights(docs, target_filter, id_col=id_col,
                          text_col=text_col, buckets=buckets, append=True)
    return importance_resample(scored, "dsir_logratio", k, id_col=id_col,
                               seed=seed, temperature=temperature)
