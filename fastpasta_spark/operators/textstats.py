"""Text analysis for training-data curation: language-ID, quality
scoring, token counting, document fingerprinting.

Pure Column expressions (codegen, no UDFs) except the fused
with_textstats pass, which is an Arrow kernel (operators/arrowtext.py);
DuckDB-oracle twins live in __spark_entry__.py. The per-column profiling mirrors the
reference's stats side (null rates / min-max / histograms,
`/root/reference/fastpasta/src/stats/`): these operators extend it to
content-aware profiling a data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastpasta_spark.functions.hashing import spark_tokens
from fastpasta_spark.operators.arrowtext import textstats_arrow

# tiny per-language stopword lists for the n-gram/stopword heuristic —
# deliberately small so the oracle SQL stays readable
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "que", "por"],
}


def token_count(df: DataFrame, text_col: str = "text",
                out_col: str = "n_tokens") -> DataFrame:
    """Whitespace-ish token count (the BPE-ish regex split)."""
    return df.withColumn(out_col, F.expr(f"size({spark_tokens(text_col)})"))


def stopword_ratio_expr(text_col: str, lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    toks = spark_tokens(text_col)
    return (
        f"CAST(size(filter({toks}, t -> t IN ({words}))) AS DOUBLE) / "
        f"greatest(size({toks}), 1)"
    )


def language_id(df: DataFrame, text_col: str = "text",
                out_col: str = "lang_pred") -> DataFrame:
    """Stopword-ratio language ID: argmax over per-language ratios,
    'unk' when every ratio is 0. Deterministic tie-break by language
    order (en, de, fr, es)."""
    langs = list(STOPWORDS)
    ratios = [stopword_ratio_expr(text_col, lg) for lg in langs]
    best = "greatest(" + ", ".join(ratios) + ")"
    pick = "CASE "
    for lg, r in zip(langs, ratios):
        pick += f"WHEN {r} = {best} AND {best} > 0 THEN '{lg}' "
    pick += "ELSE 'unk' END"
    return df.withColumn(out_col, F.expr(pick))


def _quality_expr(text_col: str = "text") -> str:
    tc = f"coalesce({text_col}, '')"
    toks = spark_tokens(tc)
    n_chars = f"length({tc})"
    n_toks = f"greatest(size({toks}), 1)"
    mean_wl = f"CAST({n_chars} AS DOUBLE) / {n_toks}"
    alpha_ratio = (
        f"CAST(length(regexp_replace(lower({tc}), '[^a-z]', '')) AS DOUBLE)"
        f" / greatest({n_chars}, 1)"
    )
    sw = stopword_ratio_expr(tc, "en")
    return (
        f"round((IF({n_chars} BETWEEN 50 AND 5000, 0.25, 0.0) + "
        f"IF({mean_wl} BETWEEN 3.0 AND 12.0, 0.25, 0.0) + "
        f"0.25 * least({alpha_ratio} * 1.25, 1.0) + "
        f"0.25 * least({sw} * 5.0, 1.0)), 6)"
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  out_col: str = "quality") -> DataFrame:
    """Heuristic quality in [0,1]: length band + mean word length band +
    alpha ratio + English stopword presence. Same formula in the oracle.
    Null text scores 0 (treated as empty)."""
    return df.withColumn(out_col, F.expr(_quality_expr(text_col)))


def fingerprint(df: DataFrame, text_col: str = "text",
                out_col: str = "fingerprint") -> DataFrame:
    """Content fingerprint: rolling polynomial hash over the normalized
    token stream (order-sensitive, whitespace/punct-insensitive) —
    the dedup-key analogue of a rolling document hash.

    Modulus 2^31-1 (Mersenne): acc*1000003 (<2^51) + 48-bit token hash
    stays below 2^63, so the arithmetic is overflow-free under ANSI
    BIGINT in both Spark and DuckDB."""
    toks = spark_tokens(text_col)
    expr = (
        f"aggregate({toks}, 7L, (acc, t) -> "
        f"pmod(acc * 1000003 + cast(conv(substr(md5(t), 1, 12), 16, 10) as bigint), "
        "2147483647))"
    )
    return df.withColumn(out_col, F.expr(expr))


def with_textstats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All four stats (n_tokens, quality, fingerprint, lang_pred) in ONE
    pass: the Arrow kernel arrowtext.textstats_arrow tokenizes each row
    once and computes the same math as the individual operators above
    (pinned against them in tests/test_textstats.py, and against the
    DuckDB oracle by the `textstats` query of __spark_entry__.py). NULL
    text gives (0, 0.25, 0, 'unk'); the individual operators give
    (NULL, 0.0, NULL, 'unk').
    """
    return textstats_arrow(df, text_col)


def repetition_ratio(df: DataFrame, text_col: str = "text", n: int = 2,
                     out_col: str = "rep_ratio") -> DataFrame:
    """Intra-document repetition: 1 - distinct/total word n-grams — the
    Gopher/FineWeb-style duplicate-n-gram quality gate (a doc repeating
    itself scores near 1). Pure Column exprs; 0 when fewer than n
    tokens (a single gram cannot repeat)."""
    toks = spark_tokens(text_col)
    grams = (
        f"CASE WHEN size({toks}) < {n} THEN CAST(array() AS array<string>) "
        f"ELSE transform(sequence(0, size({toks}) - {n}), "
        f"i -> concat_ws(' ', slice({toks}, i + 1, {n}))) END"
    )
    expr = (
        f"round(IF(size({grams}) = 0, CAST(0 AS DOUBLE), "
        f"1.0 - CAST(size(array_distinct({grams})) AS DOUBLE) / size({grams})), 6)"
    )
    return df.withColumn(out_col, F.expr(expr))


# simple shared-regex PII/pattern census — identical RE semantics in
# Java (Spark) and RE2 (DuckDB): character classes + quantifiers only
PATTERNS = {
    "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "urls": r"https?://[^\s]+",
    "long_numbers": r"[0-9]{8,}",
}


def pattern_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc counts of PII-ish patterns (emails, URLs, long digit
    runs) — the redaction/filter census step of a curation pipeline.
    `regexp_count` is JVM-side; patterns avoid constructs where Java
    and RE2 semantics diverge (no backrefs, no lookaround)."""
    out = df
    for name, pat in PATTERNS.items():
        # lit pattern, not an expr-embedded literal: SQL string escaping
        # would silently eat regex backslashes
        out = out.withColumn(
            f"n_{name}",
            F.regexp_count(F.coalesce(F.col(text_col), F.lit("")), F.lit(pat)))
    return out


# replacement tokens per pattern (ORDER MATTERS and is shared with the
# DuckDB oracle: emails first — an email would otherwise lose its
# domain-digit runs to the number pass; urls before numbers for the
# same reason; numbers last)
REDACTIONS = [
    ("emails", "[EMAIL]"),
    ("urls", "[URL]"),
    ("long_numbers", "[NUM]"),
]


def redact_patterns(df: DataFrame, text_col: str = "text",
                    out_col: str | None = None) -> DataFrame:
    """PII-ish redaction: replace emails / URLs / long digit runs with
    placeholder tokens — the acting counterpart of pattern_counts'
    census (curation pipelines redact or drop, never just count).
    Pure chained regexp_replace, JVM-side, embarrassingly parallel;
    same portable RE subset as PATTERNS so the DuckDB oracle replays
    the exact replacement order. NULL text stays NULL.
    """
    out_col = out_col or text_col
    expr = F.col(text_col)
    for name, token in REDACTIONS:
        expr = F.regexp_replace(expr, F.lit(PATTERNS[name]), F.lit(token))
    return df.withColumn(out_col, expr)


def profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-corpus text profile (one row): counts, null rate, length
    stats — the doc-table face of the reference's stats report."""
    return df.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col(text_col).isNull().cast("long")).alias("null_texts"),
        F.min(F.length(text_col)).alias("min_len"),
        F.max(F.length(text_col)).alias("max_len"),
        F.round(F.avg(F.length(text_col)), 4).alias("avg_len"),
        F.sum(F.expr(f"size({spark_tokens(text_col)})")).alias("total_tokens"),
    )


def top_tokens(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Corpus vocabulary head: (token, cnt, rank) for the k most
    frequent tokens — the vocab-coverage probe a tokenizer-training or
    data-mix audit starts from.

    Scale: explode + groupBy(token) rides map-side partial aggregation
    (shuffle traffic ~ distinct tokens per partition, not token
    occurrences); the top-k plans as TakeOrderedAndProject —
    per-partition heaps merged on the driver, never a global sort. The
    rank window runs AFTER the limit, over k rows. Deterministic
    tie-break: (cnt desc, token asc).
    """
    from pyspark.sql import Window as W

    counts = (
        df.select(F.explode(F.expr(spark_tokens(text_col))).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token")).limit(k)
    )
    w = W.orderBy(F.desc("cnt"), F.asc("token"))
    return counts.withColumn("rank", F.row_number().over(w)).select(
        "token", F.col("cnt").cast("long").alias("cnt"), "rank")


def _assert_sql_safe_tokens(vocab) -> None:
    """The vocab head is spliced into a SQL map() literal; that is safe
    ONLY because spark_tokens restricts tokens to [a-z0-9]. If a future
    tokenizer lets a quote/backslash through, fail loudly instead of
    producing a parse error or an expression injection."""
    import re as _re

    bad = [t for t in vocab if not _re.fullmatch(r"[a-z0-9]+", t or "")]
    if bad:
        raise ValueError(
            "unigram vocab tokens must match [a-z0-9]+ for SQL-literal "
            f"embedding; tokenizer produced {bad[:3]!r}")


def unigram_logprob(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", vocab_k: int = 2000,
                    dp: int = 4, append: bool = False) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram model — the LM-fluency curation signal (the unigram analogue
    of KenLM perplexity filtering): gibberish and OOV-dense documents
    score low.

    Model: Laplace-smoothed p(t) = (cnt(t) + 1) / (total + V + 1) over
    the TOP-``vocab_k`` vocabulary (V = modeled types, +1 OOV type);
    every rarer token is OOV and scores the floor 1 / (total + V + 1).

    Scale shape: the model is two bounded artifacts — a scalar total and
    the TakeOrdered vocab head — collected like any quantizer codebook.
    Scoring is then a per-row expression over a broadcast token->logp
    map literal: the token stream is never exploded, never shuffled,
    and hot stopwords cannot skew anything. MEASURED (BENCH/SCORING.md):
    the map-literal lookup is NOT a per-token linear scan in practice —
    27M tokens score in a flat ~2.25s at vocab_k 100, 1000 and 10000
    alike (Spark 4 evaluates GetMapValue on a foldable map in ~O(1)),
    and an md5-hash-bucketed array-literal probe benched 1.7x SLOWER
    (the per-token md5 dominates). Keep vocab_k <= ~10^5 for literal
    SIZE (plan/codegen bloat), not lookup cost; for a 10^6-type vocab,
    switch the scoring side to explode + broadcast-hash-join against
    the vocab DF + per-doc re-agg (still shuffle-free on the probe
    side, one map-side-combined groupBy on ``id_col``).

    Returns (id_col, n_tokens, avg_logprob); empty/null text -> NULL
    score, n_tokens 0. ``vocab_k`` defaults to 2000 — kept EQUAL to
    :func:`fit_scoring_model`'s default so both surfaces score alike.
    """
    # round-8 note: an Arrow-kernel scoring twin was BUILT and A/B'd
    # (min-of-4, sf1.0, interleaved): expression 1.40-1.57s vs Arrow
    # 1.55-1.75s — the foldable-map lookup + ln is already fast and the
    # fit's explode+groupBy dominates, so the kernel only added a
    # Python round trip. Rejected with evidence (OPTIMIZATION_r08.md),
    # matching the round-7 map-vs-array finding: this scoring path's
    # cost is NOT in per-token expression interpretation.
    if append:
        return df.withColumn(
            "avg_logprob", F.expr(_fit_unigram_expr(df, text_col,
                                                    vocab_k, dp)))
    # round-8: ONE tokenization per row. Emitting n_tokens and the
    # score as separate projection expressions evaluated the tokenize
    # chain twice (and the old IF/divisor form four times — lambda-
    # bearing exprs are never subexpression-eliminated, CLAUDE.md);
    # here a single let-bound struct computes both from one bound
    # token array, and inline() is a Generate node, which
    # CollapseProject cannot merge through — so the struct expression
    # is evaluated exactly once per row.
    pmap, floor = _fit_unigram_parts(df, text_col, vocab_k)
    toks = spark_tokens(text_col)
    row = (
        f"inline(array(aggregate(array({toks}), "
        f"named_struct('n_tokens', CAST(0 AS BIGINT), "
        f"'avg_logprob', CAST(NULL AS DOUBLE)), (acc, ts) -> "
        f"named_struct("
        f"'n_tokens', CAST(coalesce(size(ts), 0) AS BIGINT), "
        f"'avg_logprob', round(IF(coalesce(size(ts), 0) = 0, "
        f"CAST(NULL AS DOUBLE), "
        f"aggregate(ts, CAST(0.0 AS DOUBLE), (a2, t) -> "
        f"a2 + ln(coalesce(element_at({pmap}, t), "
        f"CAST({floor!r} AS DOUBLE)))) / coalesce(size(ts), 0)), "
        f"{dp})))))"
    )
    return df.select(F.col(id_col), F.expr(row))


def _fit_unigram_expr(ref: DataFrame, text_col: str, vocab_k: int,
                      dp: int) -> str:
    """Fit the unigram model's bounded artifacts on ``ref`` (a scalar
    total + the TakeOrdered vocab head) and return the self-contained
    per-row score expression over a token->p map literal.

    The flat map literal is deliberate: an md5-hash-bucketed
    array-literal probe (the DSIR array trick adapted to exact token
    keys) was built and benched 1.7x SLOWER at 27M tokens / vocab_k
    10^4, and the map lookup measured FLAT across vocab_k 100..10^4 —
    see BENCH/SCORING.md round-7 entry."""
    pmap, floor = _fit_unigram_parts(ref, text_col, vocab_k)
    toks = spark_tokens(text_col)
    # round-8: single let-bound tree — the old form referenced the
    # tokenize chain three times (IF guard, aggregate, divisor) and
    # codegen evaluated it three times per row
    return (
        f"aggregate(array({toks}), CAST(NULL AS DOUBLE), (acc, ts) -> "
        f"round(IF(coalesce(size(ts), 0) = 0, CAST(NULL AS DOUBLE), "
        f"aggregate(ts, CAST(0.0 AS DOUBLE), (a2, t) -> "
        f"a2 + ln(coalesce(element_at({pmap}, t), "
        f"CAST({floor!r} AS DOUBLE)))) / coalesce(size(ts), 0)), {dp}))"
    )


def _fit_unigram_parts(ref: DataFrame, text_col: str,
                       vocab_k: int) -> tuple[str, float]:
    """Fit the unigram model artifacts in ONE tokenize pass and return
    (token->p map-literal SQL, OOV floor probability).

    The token counts are persisted once and serve BOTH bounded
    artifacts: the scalar total (sum of counts) and the TakeOrdered
    vocab head — the round-7 fit paid a second full tokenize+scan job
    just to sum size(tokens)."""
    from fastpasta_spark.functions.cache import (
        tracked_persist,
        untrack_release,
    )

    toks = spark_tokens(text_col)
    counts = tracked_persist(
        ref.select(F.explode(F.expr(toks)).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))
    try:
        total = counts.agg(F.sum("cnt")).first()[0] or 0
        head = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(vocab_k)
        vocab = {r["token"]: r["cnt"] for r in head.collect()}
    finally:
        # the fit fully consumes the counts here — release immediately
        untrack_release(counts)
    _assert_sql_safe_tokens(vocab)
    denom = float(total + len(vocab) + 1)
    floor = 1.0 / denom
    items = ", ".join(
        f"'{t}', CAST({(c + 1) / denom!r} AS DOUBLE)"
        for t, c in sorted(vocab.items()))
    pmap = f"map({items})" if vocab else "map('', CAST(0.0 AS DOUBLE))"
    return pmap, floor


def _bm25_null_score_expr(dp: int) -> str:
    """bm25 column from the bound (n, score) struct `_bm`: NULL = no
    query term present. Single source for operator + ScoringModel."""
    return (f"IF(_bm.score > 0.0D, round(_bm.score, {dp}), "
            "CAST(NULL AS DOUBLE))")


def _dsir_score_expr(dp: int) -> str:
    """dsir_logratio column from the bound (n, s) struct `_ds`: NULL
    for token-free text. Single source for operator + ScoringModel."""
    return (f"IF(_ds.n = 0, CAST(NULL AS DOUBLE), "
            f"round(_ds.s / _ds.n, {dp}))")


def validate_bm25_query(query_terms: list[str], k1: float = 1.2,
                        b: float = 0.75) -> None:
    """Pure-python parameter validation shared by bm25_scores and the
    CLI's pre-Spark flag check (fail before the JVM starts)."""
    if not query_terms:
        raise ValueError("bm25_scores needs at least one query term")
    if len(query_terms) > 32:
        raise ValueError(
            f"bm25_scores query set capped at 32 terms "
            f"(got {len(query_terms)}): each term adds a per-row "
            "filter() over the token array; build an inverted index "
            "for ad-hoc many-term search instead")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("bm25_scores query terms must be distinct")
    _assert_sql_safe_tokens(query_terms)
    if not (k1 > 0 and 0 <= b <= 1):
        raise ValueError(f"bm25 params out of range: k1={k1}, b={b}")


def bm25_scores(df: DataFrame, query_terms: list[str],
                id_col: str = "doc_id", text_col: str = "text",
                k1: float = 1.2, b: float = 0.75, dp: int = 6,
                append: bool = False) -> DataFrame:
    """Per-document BM25 relevance against a fixed query-term set — the
    keyword-relevance curation/search primitive (targeted subcorpus
    pulls: "every doc about X"). Robertson/Lucene idf variant
    ``ln((N - df + 0.5)/(df + 0.5) + 1)`` (always positive).

    Scale shape: TWO corpus passes, no data-sized exchange. Pass 1
    reduces each row to a tiny struct (dl + one 0/1 flag per term) and
    aggregates it globally — the partial/final split exchanges ONE
    bounded row per partition (N, total tokens, per-term df). Pass 2
    scores each row with a literal-idf expression — no explode, no
    join, zero exchanges (plan-pinned); the inverted index a search
    engine would build is pointless when the query set is known up
    front. Both passes bind the token array ONCE per row via the
    1-element-aggregate let-binding ``aggregate(array(<tokens>), zero,
    (acc, toks) -> <body using toks>)``: SQL lambdas cannot name an
    intermediate, and codegen does NOT subexpression-eliminate
    lambda-bearing subtrees, so naive per-term expressions re-tokenize
    |terms|+1 times.

    Default output: (id_col, n_tokens, bm25 rounded to ``dp``),
    matching docs only — the always-positive idf makes score > 0
    equivalent to "contains a query term", so non-matching docs are
    dropped by the score predicate with no extra tokenization.
    With ``append=True``: every input row and column is kept and one
    ``bm25`` column is added (NULL = no query term present).
    Empty/null text never matches. k1/b are the classic BM25 free
    parameters (tf saturation / length normalization).
    """
    validate_bm25_query(query_terms, k1, b)

    row2 = _fit_bm25_row_expr(df, query_terms, text_col, k1, b)
    if row2 is None:  # empty or token-free corpus: nothing can match
        if append:
            return df.withColumn("bm25", F.lit(None).cast("double"))
        return df.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("n_tokens"),
            F.lit(None).cast("double").alias("bm25"),
        ).limit(0)
    if append:
        return (
            df.withColumn("_bm", F.expr(row2))
            .withColumn("bm25", F.expr(_bm25_null_score_expr(dp)))
            .drop("_bm")
        )
    return (
        df.select(F.col(id_col), F.expr(row2).alias("_bm"))
        # score > 0 <=> at least one query term present (idf > 0 always)
        .filter(F.col("_bm.score") > 0.0)
        .select(
            F.col(id_col),
            F.col("_bm.n").alias("n_tokens"),
            F.round(F.col("_bm.score"), dp).alias("bm25"),
        )
    )


def _fit_bm25_row_expr(ref: DataFrame, query_terms: list[str],
                       text_col: str, k1: float, b: float) -> str | None:
    """Fit the BM25 stats (N, avgdl, per-term df — one tree-aggregate of
    per-row tiny structs) on ``ref`` and return the per-row
    (n, score)-struct expression, or None for an empty/token-free
    reference (nothing can ever match)."""
    toks = spark_tokens(text_col)
    flags = ", ".join(
        f"'c{i}', IF(coalesce(array_contains(toks, '{t}'), false), 1L, 0L)"
        for i, t in enumerate(query_terms))
    zero1 = ("named_struct('dl', 0L, " + ", ".join(
        f"'c{i}', 0L" for i in range(len(query_terms))) + ")")
    row1 = (f"aggregate(array({toks}), {zero1}, (acc, toks) -> "
            f"named_struct('dl', cast(coalesce(size(toks), 0) as long), "
            f"{flags}))")
    stats = ref.select(F.expr(row1).alias("s")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("s.dl").alias("total_tokens"),
        *[F.sum(f"s.c{i}").alias(f"df_{i}")
          for i in range(len(query_terms))],
    ).first()
    n_docs = stats["n_docs"]
    total = stats["total_tokens"] or 0
    if n_docs == 0 or total == 0:
        return None
    avgdl = total / n_docs  # > 0 here; the dl/avgdl literal below is safe

    import math

    dl = "cast(coalesce(size(toks), 0) as double)"
    terms_sql = []
    for i, t in enumerate(query_terms):
        idf = math.log((n_docs - stats[f"df_{i}"] + 0.5)
                       / (stats[f"df_{i}"] + 0.5) + 1.0)
        tf = f"cast(coalesce(size(filter(toks, x -> x = '{t}')), 0) as double)"
        # denominator >= k1 * (1 - b) > 0 unless b = 1; with b = 1 it is
        # tf + k1 * dl / avgdl, still > 0 whenever tf > 0 (dl >= tf) —
        # and tf = 0 contributes 0 via the IF, never a 0/0.
        terms_sql.append(
            f"IF({tf} = 0.0D, 0.0D, CAST({idf!r} AS DOUBLE) * {tf} "
            f"* CAST({k1 + 1.0!r} AS DOUBLE) / ({tf} + CAST({k1!r} AS DOUBLE) "
            f"* (CAST({1.0 - b!r} AS DOUBLE) + CAST({b!r} AS DOUBLE) "
            f"* {dl} / CAST({avgdl!r} AS DOUBLE))))")
    zero2 = "named_struct('n', 0L, 'score', CAST(0.0 AS DOUBLE))"
    return (f"aggregate(array({toks}), {zero2}, (acc, toks) -> "
            f"named_struct('n', cast(coalesce(size(toks), 0) as long), "
            f"'score', {' + '.join(terms_sql)}))")


def validate_dsir_buckets(buckets: int) -> None:
    """Pure-python parameter validation shared by dsir_weights and the
    CLI's pre-Spark flag check."""
    if buckets < 2 or buckets > 65536:
        raise ValueError(f"buckets must be in [2, 65536], got {buckets}")


def dsir_weights(df: DataFrame, target_filter, id_col: str = "doc_id",
                 text_col: str = "text", buckets: int = 512,
                 dp: int = 6, append: bool = False) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every doc by
    how much more likely its hashed-unigram profile is under a TARGET
    distribution (``df.filter(target_filter)``) than under the raw
    corpus, i.e. mean over tokens of
    ``ln p_target(bucket(tok)) - ln p_raw(bucket(tok))`` with
    Laplace-smoothed bucket probabilities. High scores = target-like
    docs; feed into stratified/exact-k sampling for importance
    resampling.

    Scale shape: ONE profile job — explode tokens, md5-bucket
    (functions/hashing, oracle-portable), groupBy(bucket) with map-side
    combine, so the exchange carries at most ``buckets`` rows per map
    partition regardless of corpus size; target and raw counts come
    from the SAME pass via a conditional sum (the target subset is
    never re-scanned). The collected profile is a bounded artifact
    (<= buckets rows) folded driver-side into a CONSTANT length-
    ``buckets`` double array literal (constant-folded once, O(1)
    element_at per token — unlike a map literal's linear scan), then
    scoring is a map-only second pass: no explode, no join, no shuffle.

    Returns (id_col, n_tokens, dsir_logratio rounded to ``dp``) for
    EVERY input row; empty/null text -> n_tokens 0, NULL score. With
    ``append=True`` all input columns are kept and only a
    ``dsir_logratio`` column is added.
    """
    validate_dsir_buckets(buckets)

    row = _fit_dsir_row_expr(df, target_filter, text_col, buckets)
    score = _dsir_score_expr(dp)
    if append:
        return (
            df.withColumn("_ds", F.expr(row))
            .withColumn("dsir_logratio", F.expr(score))
            .drop("_ds")
        )
    return (
        df.select(F.col(id_col), F.expr(row).alias("_ds"))
        .select(
            F.col(id_col),
            F.col("_ds.n").alias("n_tokens"),
            F.expr(score).alias("dsir_logratio"),
        )
    )


def _fit_dsir_row_expr(ref: DataFrame, target_filter, text_col: str,
                       buckets: int) -> str:
    """Fit the DSIR bucket profile on ``ref`` (one bounded groupBy) and
    return the per-row (n, s)-struct expression over a constant-folded
    log-ratio array."""
    from fastpasta_spark.functions.hashing import spark_md5_hash

    toks = spark_tokens(text_col)

    def bucket(col: str) -> str:
        return f"pmod({spark_md5_hash(col)}, {buckets})"

    is_target = F.when(target_filter, F.lit(1)).otherwise(F.lit(0))
    prof = (
        ref.select(F.explode(F.expr(toks)).alias("token"),
                   is_target.alias("is_t"))
        .select(F.expr(bucket("token")).alias("b"), "is_t")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_raw"), F.sum("is_t").alias("c_tgt"))
        .collect()
    )
    raw_counts = [0] * buckets
    tgt_counts = [0] * buckets
    for r in prof:
        raw_counts[r["b"]] = r["c_raw"]
        tgt_counts[r["b"]] = r["c_tgt"]
    t_raw = sum(raw_counts)
    t_tgt = sum(tgt_counts)

    import math

    lrs = [
        math.log((tgt_counts[i] + 1.0) / (t_tgt + buckets))
        - math.log((raw_counts[i] + 1.0) / (t_raw + buckets))
        for i in range(buckets)
    ]
    arr = "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in lrs) + ")"
    # element_at is 1-based; pmod output is in [0, buckets) so the +1
    # index can never be out of bounds (ANSI-safe).
    tok_lr = f"element_at({arr}, cast({bucket('t')} as int) + 1)"
    # bind the token array once per row (1-element-aggregate let-binding,
    # see bm25_scores) instead of tokenizing for n and again for the sum
    zero = "named_struct('n', 0L, 's', CAST(0.0 AS DOUBLE))"
    return (f"aggregate(array({toks}), {zero}, (acc, toks) -> "
            f"named_struct('n', cast(coalesce(size(toks), 0) as long), "
            f"'s', aggregate(toks, CAST(0.0 AS DOUBLE), "
            f"(acc2, t) -> acc2 + {tok_lr})))")


# Gopher rule battery (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", App. A) — the
# industry-standard document-level quality filters. Word semantics are
# WHITESPACE tokens (Gopher counts words, not the [a-z0-9] curation
# tokens), lines split on \n. Thresholds are the paper's.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_RULES = ("word_count", "mean_word_len", "symbol_ratio",
                "bullet_lines", "ellipsis_lines", "alpha_words",
                "stop_words")


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the Gopher quality-filter battery: ``gopher_flags`` (the
    array of FAILED rule names, in GOPHER_RULES order) and
    ``gopher_pass`` (no rule failed). A 100-TB curation run drops or
    quarantines flagged docs before any expensive dedup work.

    Rules (doc FAILS when):
      word_count     n_words outside [50, 100_000]
      mean_word_len  mean word length outside [3, 10]
      symbol_ratio   ('#' + '...') occurrences / n_words > 0.1
      bullet_lines   > 90% of lines start with a bullet (-, *, •)
      ellipsis_lines > 30% of lines end with '...'
      alpha_words    < 80% of words contain an alphabetic character
      stop_words     fewer than 2 distinct Gopher stop words present

    Whitespace contract (engine == python twin, review-pinned): words
    split on ASCII whitespace (Java regex \\s = [ \\t\\n\\x0B\\f\\r] —
    NBSP and other unicode spaces are NOT separators on either side),
    lines split on \\n and STRIPPED of ASCII whitespace at both edges
    before the empty/bullet/ellipsis checks (so CRLF text and
    tab-padded bullets classify identically in both implementations).

    Scale shape: one pure-Column expression per row — words and lines
    are each bound ONCE via the 1-element-aggregate let-binding (see
    bm25_scores: codegen does not subexpression-eliminate
    lambda-bearing subtrees), no UDF, no shuffle, applies to batch or
    streaming frames alike. NULL text fails word_count/alpha_words/
    stop_words (it has no words), like the empty document it is.
    """
    tc = f"coalesce({text_col}, '')"
    words = f"filter(split({tc}, '\\\\s+'), w -> w <> '')"
    # ASCII-whitespace strip per line (trim() strips only spaces and
    # would diverge from the twin on \r / \t edges — review finding)
    strip = "regexp_replace(x, '(^\\\\s+)|(\\\\s+$)', '')"
    lines = (f"filter(transform(split({tc}, '\\n'), x -> {strip}), "
             "l -> l <> '')")
    nw = "greatest(size(words), 1)"
    nl = "greatest(size(lines), 1)"
    sw_hits = " + ".join(
        f"IF(array_contains(words, '{w}'), 1, 0)" for w in GOPHER_STOPWORDS)
    checks = {
        "word_count": "size(words) < 50 OR size(words) > 100000",
        "mean_word_len": (
            f"aggregate(words, 0L, (a, w) -> a + length(w)) / CAST({nw} AS "
            "DOUBLE) NOT BETWEEN 3.0 AND 10.0"),
        "symbol_ratio": (
            f"(regexp_count({tc}, '#') + regexp_count({tc}, '\\\\.\\\\.\\\\.'))"
            f" / CAST({nw} AS DOUBLE) > 0.1"),
        "bullet_lines": (
            "size(filter(lines, l -> l RLIKE '^[-*\\u2022]')) "
            f"/ CAST({nl} AS DOUBLE) > 0.9"),
        "ellipsis_lines": (
            "size(filter(lines, l -> l RLIKE '\\\\.\\\\.\\\\.$')) "
            f"/ CAST({nl} AS DOUBLE) > 0.3"),
        "alpha_words": (
            "size(filter(words, w -> w RLIKE '[A-Za-z]')) "
            f"/ CAST({nw} AS DOUBLE) < 0.8"),
        "stop_words": f"({sw_hits}) < 2",
    }
    flags = ("filter(array(" + ", ".join(
        f"IF({checks[r]}, '{r}', NULL)" for r in GOPHER_RULES)
        + "), f -> f IS NOT NULL)")
    # bind words, then lines, once per row (nested 1-element aggregates)
    expr = (f"aggregate(array({words}), CAST(array() AS array<string>), "
            f"(acc, words) -> aggregate(array({lines}), acc, "
            f"(a2, lines) -> {flags}))")
    out = df.withColumn("gopher_flags", F.expr(expr))
    return out.withColumn("gopher_pass", F.size("gopher_flags") == 0)


def py_gopher_flags(text: str | None) -> list[str]:
    """Pure-python twin of gopher_rules (test/fuzz oracle). Mirrors the
    engine's ASCII-whitespace contract EXPLICITLY: Java regex \\s is
    [ \\t\\n\\x0B\\f\\r] while Python's \\s also matches NBSP/unicode
    spaces — the twin must use the ASCII class or the two disagree on
    real web text (review finding)."""
    import re

    _ws = "[ \t\n\x0b\f\r]"
    t = text or ""
    words = [w for w in re.split(f"{_ws}+", t) if w]
    lines = [s for s in
             (re.sub(f"(^{_ws}+)|({_ws}+$)", "", ln)
              for ln in t.split("\n")) if s]
    nw, nl = max(len(words), 1), max(len(lines), 1)
    mean_wl = sum(len(w) for w in words) / nw
    sym = len(re.findall("#", t)) + len(re.findall(r"\.\.\.", t))
    bullets = sum(1 for ln in lines if re.match(r"^[-*•]", ln))
    ellip = sum(1 for ln in lines if re.search(r"\.\.\.$", ln))
    alpha = sum(1 for w in words if re.search("[A-Za-z]", w))
    stops = sum(1 for w in GOPHER_STOPWORDS if w in words)
    fails = {
        "word_count": len(words) < 50 or len(words) > 100_000,
        "mean_word_len": not (3.0 <= mean_wl <= 10.0),
        "symbol_ratio": sym / nw > 0.1,
        "bullet_lines": bullets / nl > 0.9,
        "ellipsis_lines": ellip / nl > 0.3,
        "alpha_words": alpha / nw < 0.8,
        "stop_words": stops < 2,
    }
    return [r for r in GOPHER_RULES if fails[r]]


class ScoringModel:
    """Fitted curation-signal models as pure column transforms.

    Built by :func:`fit_scoring_model` from a REFERENCE corpus; every
    model artifact is a bounded literal baked into an expression, so
    ``apply`` adds score columns to ANY same-schema frame — batch or
    Structured Streaming (no fit-time jobs, no state, no shuffle) —
    without rescanning the reference. The 100-TB shape: fit once on a
    sample/reference slice, apply to the full corpus and to live
    streams; per-call operators (bm25_scores etc.) refit per call.
    """

    def __init__(self, transforms):
        self._transforms = transforms  # list of (out_col, df -> df)

    @property
    def columns(self) -> list[str]:
        return [c for c, _ in self._transforms]

    def apply(self, df: DataFrame) -> DataFrame:
        for _, fn in self._transforms:
            df = fn(df)
        return df


def fit_scoring_model(ref: DataFrame, signals: list[str],
                      text_col: str = "text", terms: list[str] | None = None,
                      target_filter=None, vocab_k: int = 2000,
                      buckets: int = 512, k1: float = 1.2, b: float = 0.75,
                      dp: int = 6) -> ScoringModel:
    """Fit the requested curation signals on ``ref`` and return a
    :class:`ScoringModel`. Signals: ``quality`` (stateless heuristic),
    ``gopher`` (stateless rule battery -> ``gopher_pass`` as INT 0/1,
    gate with ``min_scores={"gopher_pass": 1}``),
    ``lm`` (unigram fluency under ref's model -> ``avg_logprob``),
    ``bm25`` (needs ``terms``; ref supplies N/avgdl/df -> ``bm25``,
    NULL = no term present), ``dsir`` (needs ``target_filter``; ref
    supplies the bucket profile -> ``dsir_logratio``).

    ``vocab_k`` defaults to 2000, deliberately EQUAL to
    :func:`unigram_logprob`'s default so the same corpus yields the
    same ``avg_logprob`` through either surface (operator call or
    fitted model / CLI ``score --signals lm``).
    """
    known = ("quality", "gopher", "lm", "bm25", "dsir")
    bad = [s for s in signals if s not in known]
    if bad:
        raise ValueError(f"unknown signals {bad}; pick from {known}")
    if not signals:
        raise ValueError("fit_scoring_model needs at least one signal")
    transforms = []
    for s in dict.fromkeys(signals):
        if s == "quality":
            e = _quality_expr(text_col)
            transforms.append(
                ("quality",
                 lambda df, e=e: df.withColumn("quality", F.expr(e))))
        elif s == "gopher":
            # stateless like quality; emitted as INT 0/1 so the numeric
            # min_scores gate family (curate, score_stream) can require
            # {"gopher_pass": 1}. Flag detail lives in gopher_rules /
            # curate(gopher=True).
            transforms.append(
                ("gopher_pass",
                 lambda df: gopher_rules(df, text_col)
                 .withColumn("gopher_pass", F.col("gopher_pass")
                             .cast("int"))
                 .drop("gopher_flags")))
        elif s == "lm":
            e = _fit_unigram_expr(ref, text_col, vocab_k, dp)
            transforms.append(
                ("avg_logprob",
                 lambda df, e=e: df.withColumn("avg_logprob", F.expr(e))))
        elif s == "bm25":
            if not terms:
                raise ValueError("bm25 signal needs query terms")
            validate_bm25_query(terms, k1, b)
            row = _fit_bm25_row_expr(ref, terms, text_col, k1, b)
            if row is None:  # token-free reference: nothing ever matches
                transforms.append(
                    ("bm25", lambda df: df.withColumn(
                        "bm25", F.lit(None).cast("double"))))
            else:
                score = _bm25_null_score_expr(dp)
                transforms.append(
                    ("bm25",
                     lambda df, row=row, score=score: (
                         df.withColumn("_bm", F.expr(row))
                         .withColumn("bm25", F.expr(score)).drop("_bm"))))
        else:  # dsir
            if target_filter is None:
                raise ValueError("dsir signal needs a target_filter")
            validate_dsir_buckets(buckets)
            row = _fit_dsir_row_expr(ref, target_filter, text_col, buckets)
            score = _dsir_score_expr(dp)
            transforms.append(
                ("dsir_logratio",
                 lambda df, row=row, score=score: (
                     df.withColumn("_ds", F.expr(row))
                     .withColumn("dsir_logratio", F.expr(score))
                     .drop("_ds"))))
    return ScoringModel(transforms)
