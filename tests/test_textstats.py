"""Text-analysis operators vs python oracles on real documents."""

import pytest

from fastpasta_spark.functions.hashing import py_md5_hash, py_tokens
from fastpasta_spark.operators import textstats

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def test_token_count(documents):
    got = {r.doc_id: r.n_tokens for r in textstats.token_count(documents).collect()}
    for r in documents.collect():
        assert got[r.doc_id] == len(py_tokens(r.text)), r.doc_id


def test_fingerprint_matches_python(documents):
    got = {r.doc_id: r.fingerprint
           for r in textstats.fingerprint(documents.limit(30)).collect()}
    M = 2147483647
    for r in documents.limit(30).collect():
        acc = 7
        for t in py_tokens(r.text):
            acc = (acc * 1000003 + int(
                __import__("hashlib").md5(t.encode()).hexdigest()[:12], 16)) % M
        assert got[r.doc_id] == acc, r.doc_id


def test_language_id_on_real_language_samples(spark):
    # the testdata's lang column is decorative (same vocab for every
    # label), so use constructed sentences per language instead
    samples = [
        ("en", "the cat sat on the mat and it is a good day for the walk"),
        ("de", "der hund ist ein tier und die katze ist nicht mit der maus"),
        ("fr", "le chien est un animal et la maison est pour les enfants"),
        ("es", "el perro es un animal y la casa es por los gatos una vida"),
        ("unk", "xyzzy qwerty asdf zxcv plugh foobar"),
    ]
    df = spark.createDataFrame(samples, "lang string, text string")
    got = {r.lang: r.lang_pred for r in textstats.language_id(df).collect()}
    assert got == {lang: lang for lang, _ in samples}


def test_language_id_applies_to_corpus(documents):
    rows = textstats.language_id(documents).select("lang_pred").collect()
    # synthetic corpus is English token soup: en or unk, never crashes
    assert {r.lang_pred for r in rows} <= {"en", "unk"}


def test_quality_score_range(documents):
    rows = textstats.quality_score(documents).select("quality").collect()
    assert all(0.0 <= r.quality <= 1.0 for r in rows)
    assert len({r.quality for r in rows}) > 3  # not constant


def test_profile(documents):
    p = textstats.profile(documents).collect()[0]
    assert p.docs == documents.count()
    assert p.null_texts == 0
    assert p.min_len > 0 and p.max_len >= p.min_len


def test_with_textstats_equals_individual_ops(spark, documents):
    """The Arrow kernel behind with_textstats == the individual JVM ops
    on the real table PLUS hostile rows: empty text, unicode (code-point
    length, astral chars, Kelvin sign lowering into ASCII k), folds,
    ties. NULL text is pinned separately: the fused pass gives
    (0, 0.25, 0, 'unk') where the individual ops give
    (NULL, 0.0, NULL, 'unk')."""
    from pyspark.sql import functions as F

    from fastpasta_spark.operators.textstats import (
        fingerprint,
        language_id,
        quality_score,
        token_count,
        with_textstats,
    )

    hostile = spark.createDataFrame(
        [(900001, None), (900002, ""), (900003, "   \t\n  "),
         (900004, "the of and to in a is it that for"),   # all stopwords
         (900005, "der die und le la el es de que"),      # lang tie mix
         (900006, "café 中文 \U0001F600 naïve"),  # astral
         (900007, "Kelvin İstanbul A1B2"),      # K, dotted I
         (900008, "x" * 6000), (900009, "ab " * 100)],
        "doc_id long, text string")
    d = documents.select(F.col("doc_id").cast("long"), "text") \
        .unionByName(hostile)
    cols = ("doc_id", "n_tokens", "quality", "fingerprint", "lang_pred")
    fused = {r[0]: tuple(r[1:])
             for r in with_textstats(d).select(*cols).collect()}
    chained = {r[0]: tuple(r[1:]) for r in language_id(fingerprint(
        quality_score(token_count(d)))).select(*cols).collect()}
    assert fused.pop(900001) == (0, 0.25, 0, "unk")
    assert chained.pop(900001) == (None, 0.0, None, "unk")
    assert fused == chained
    assert fused[900002][0] == 0 and fused[900002][3] == "unk"


def test_repetition_ratio_and_patterns(spark):
    from fastpasta_spark.operators.textstats import pattern_counts, repetition_ratio

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),        # 3 bigrams, 1 distinct
            (2, "all words here are unique"),  # 0 repetition
            (3, "hi"),                         # < n tokens -> 0
            (4, "mail a@b.co and http://x.y/z plus 123456789"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r
            for r in pattern_counts(repetition_ratio(docs)).collect()}
    assert abs(rows[1]["rep_ratio"] - (1 - 1 / 3)) < 1e-6
    assert rows[2]["rep_ratio"] == 0.0
    assert rows[3]["rep_ratio"] == 0.0
    assert (rows[4]["n_emails"], rows[4]["n_urls"], rows[4]["n_long_numbers"]) \
        == (1, 1, 1)


def test_top_tokens_counts_and_rank(spark):
    from fastpasta_spark.operators.textstats import top_tokens

    df = spark.createDataFrame(
        [("apple banana apple",), ("banana apple cherry",), (None,)],
        "text string")
    rows = [(r.token, r.cnt, r.rank) for r in top_tokens(df, k=2).collect()]
    assert rows == [("apple", 3, 1), ("banana", 2, 2)]


def test_top_tokens_tie_break_deterministic(spark):
    from fastpasta_spark.operators.textstats import top_tokens

    df = spark.createDataFrame([("b a",), ("a b",)], "text string")
    rows = [(r.token, r.rank) for r in top_tokens(df, k=2).collect()]
    assert rows == [("a", 1), ("b", 2)]  # equal counts -> token asc


def test_unigram_logprob_model(spark):
    import math

    from fastpasta_spark.operators.textstats import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a zz"), (3, None)],
        "doc_id long, text string")
    rows = {r.doc_id: (r.n_tokens, r.avg_logprob)
            for r in unigram_logprob(df, vocab_k=2).collect()}
    # corpus: a x3, b x1, zz x1; head(k=2) = {a:3, b:1}; total=5, V=2
    # denom = 5 + 2 + 1 = 8; p(a)=4/8, p(b)=2/8, OOV floor = 1/8
    lp = lambda p: math.log(p)
    assert rows[1] == (3, round((2 * lp(0.5) + lp(0.25)) / 3, 4))
    assert rows[2] == (2, round((lp(0.5) + lp(0.125)) / 2, 4))
    assert rows[3] == (0, None)


def test_tokenizer_triple_agrees_on_hostile_unicode(spark):
    """spark_tokens == duckdb_tokens == py_tokens on inputs where the
    engines' Unicode case mappings disagree (lower('İ') differs between
    Java/Python and DuckDB) — the split-before-lower portability fix."""
    import duckdb

    from fastpasta_spark.functions.hashing import (
        duckdb_tokens, py_tokens, spark_tokens)

    hostile = ["İstanbul", "STRASSE ß", "K kelvin-sign", "ﬁnance ﬂight",
               "mixed𝔘𝔫𝔦ASCII99", "uPPer MiXeD cAsE 42", "A-B_C.D"]
    df = spark.createDataFrame([(t,) for t in hostile], "text string")
    got = {r.text: list(r.toks) for r in df.selectExpr(
        "text", f"{spark_tokens('text')} as toks").collect()}
    con = duckdb.connect()
    for t in hostile:
        d = con.execute(
            f"SELECT {duckdb_tokens('text')} FROM (SELECT ?::VARCHAR AS text)",
            [t]).fetchone()[0]
        assert got[t] == list(d) == py_tokens(t), t


def test_unigram_vocab_sql_safety_guard():
    # the vocab head is embedded as a SQL map() literal — only safe
    # while tokens stay [a-z0-9]; a tokenizer change that lets a quote
    # or backslash through must fail loudly, not inject
    import pytest

    from fastpasta_spark.operators.textstats import _assert_sql_safe_tokens

    _assert_sql_safe_tokens({"ok1": 3, "alpha": 1})
    for bad in ("it's", 'a"b', "a\\b", "", None, "café"):
        with pytest.raises(ValueError, match="SQL-literal"):
            _assert_sql_safe_tokens({bad: 1})


def test_redact_patterns(spark):
    from fastpasta_spark.operators.textstats import redact_patterns

    rows = [
        (1, "mail alice@example.com and see https://x.co/p?id=12345678 now"),
        (2, "card 1234567890123456 ok"),
        (3, None),
        (4, "clean text stays untouched"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in redact_patterns(df).collect()}
    # email redacted BEFORE the number pass (order matters: the URL is
    # consumed whole incl. its digit run)
    assert got[1] == "mail [EMAIL] and see [URL] now"
    assert got[2] == "card [NUM] ok"
    assert got[3] is None
    assert got[4] == "clean text stays untouched"
    # out_col keeps the original when asked
    both = redact_patterns(df, out_col="clean").collect()
    assert all(r.text == dict(rows)[r.doc_id] for r in both)


def _py_bm25(docs, terms, k1=1.2, b=0.75, dp=6):
    """Pure-python BM25 twin (Robertson +1 idf), docs = [(id, text)]."""
    import math

    toks = {i: py_tokens(t) for i, t in docs}
    n = len(docs)
    total = sum(len(v) for v in toks.values())
    avgdl = total / n
    dfs = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for i, tv in toks.items():
        if not any(t in tv for t in terms):
            continue
        s = 0.0
        for t in terms:
            tf = float(tv.count(t))
            if tf == 0.0:
                continue
            idf = math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            s += idf * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * len(tv) / avgdl))
        out[i] = (len(tv), round(s, dp))
    return out


def test_bm25_matches_python_oracle(documents):
    terms = ["dup", "hash", "window", "merge"]
    got = {r.doc_id: (r.n_tokens, r.bm25)
           for r in textstats.bm25_scores(documents, terms).collect()}
    docs = [(r.doc_id, r.text) for r in documents.collect()]
    assert got == _py_bm25(docs, terms)
    assert got, "corpus should contain at least one matching doc"


def test_bm25_null_empty_and_nonmatching_docs_are_dropped(spark):
    df = spark.createDataFrame(
        [(1, "hash join hash"), (2, None), (3, ""), (4, "scan only here")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.bm25)
           for r in textstats.bm25_scores(df, ["hash", "join"]).collect()}
    assert set(got) == {1}
    assert got == _py_bm25([(r[0], r[1]) for r in df.collect()],
                           ["hash", "join"])


def test_bm25_empty_corpus_and_param_validation(spark):
    import pytest as _pytest

    df = spark.createDataFrame([], "doc_id long, text string")
    out = textstats.bm25_scores(df, ["hash"])
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "n_tokens", "bm25"]
    full = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    for bad_terms in ([], ["hash", "hash"], ["bad term"], ["O'Neill"],
                      [f"t{i}" for i in range(33)]):
        with _pytest.raises(ValueError):
            textstats.bm25_scores(full, bad_terms)
    with _pytest.raises(ValueError):
        textstats.bm25_scores(full, ["x"], k1=0.0)
    with _pytest.raises(ValueError):
        textstats.bm25_scores(full, ["x"], b=1.5)


def _py_dsir(docs, buckets, dp=6):
    """Pure-python DSIR twin, docs = [(id, text, target_bool)]."""
    import math

    bmap = lambda t: py_md5_hash(t) % buckets
    raw = [0] * buckets
    tgt = [0] * buckets
    toks = {}
    for i, text, is_t in docs:
        toks[i] = py_tokens(text)
        for t in toks[i]:
            raw[bmap(t)] += 1
            if is_t:
                tgt[bmap(t)] += 1
    t_raw, t_tgt = sum(raw), sum(tgt)
    lr = [math.log((tgt[j] + 1.0) / (t_tgt + buckets))
          - math.log((raw[j] + 1.0) / (t_raw + buckets))
          for j in range(buckets)]
    out = {}
    for i, text, _ in docs:
        tv = toks[i]
        if not tv:
            out[i] = (0, None)
        else:
            out[i] = (len(tv), round(sum(lr[bmap(t)] for t in tv) / len(tv), dp))
    return out


def test_dsir_matches_python_oracle(documents):
    from pyspark.sql import functions as F

    got = {r.doc_id: (r.n_tokens, r.dsir_logratio)
           for r in textstats.dsir_weights(
               documents, F.col("lang") == "en", buckets=32).collect()}
    docs = [(r.doc_id, r.text, r.lang == "en") for r in documents.collect()]
    assert got == _py_dsir(docs, 32)
    assert got, "corpus should produce weights"


def test_dsir_null_text_null_target_and_validation(spark):
    import pytest as _pytest

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "hash join", "en"), (2, None, None), (3, "", "de"),
         (4, "hash hash hash", None)],
        "doc_id long, text string, lang string")
    got = {r.doc_id: (r.n_tokens, r.dsir_logratio)
           for r in textstats.dsir_weights(
               df, F.col("lang") == "en", buckets=16).collect()}
    docs = [(r.doc_id, r.text, r.lang == "en") for r in df.collect()]
    assert got == _py_dsir(docs, 16)
    assert got[2] == (0, None) and got[3] == (0, None)
    for bad in (1, 65537):
        with _pytest.raises(ValueError):
            textstats.dsir_weights(df, F.col("lang") == "en", buckets=bad)


def test_dsir_logratio_table_is_constant_folded(documents):
    """The per-bucket log-ratio table must reach the executor as ONE
    folded literal array (O(1) element_at per token), never a
    per-row CreateArray of `buckets` casts."""
    from pyspark.sql import functions as F

    out = textstats.dsir_weights(documents, F.col("lang") == "en", buckets=32)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "element_at([" in plan, "literal array was not constant-folded"
    assert "element_at(array(" not in plan


def test_bm25_and_dsir_append_mode(spark):
    """append=True keeps every row and column, adding only the score
    column (NULL bm25 = no term; the projection mode's values match)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "hash join hash", "en"), (2, None, None),
         (3, "scan only", "de")],
        "doc_id long, text string, lang string")
    a = {r.doc_id: r for r in textstats.bm25_scores(
        df, ["hash"], append=True).collect()}
    assert set(a) == {1, 2, 3}
    assert set(a[1].asDict()) == {"doc_id", "text", "lang", "bm25"}
    proj = {r.doc_id: r.bm25
            for r in textstats.bm25_scores(df, ["hash"]).collect()}
    assert a[1].bm25 == proj[1] and a[2].bm25 is None and a[3].bm25 is None

    d = {r.doc_id: r for r in textstats.dsir_weights(
        df, F.col("lang") == "en", buckets=16, append=True).collect()}
    assert set(d[1].asDict()) == {"doc_id", "text", "lang", "dsir_logratio"}
    dproj = {r.doc_id: r.dsir_logratio for r in textstats.dsir_weights(
        df, F.col("lang") == "en", buckets=16).collect()}
    assert all(d[i].dsir_logratio == dproj[i] for i in (1, 2, 3))

    u = {r.doc_id: r for r in textstats.unigram_logprob(
        df, vocab_k=5, append=True).collect()}
    assert set(u[1].asDict()) == {"doc_id", "text", "lang", "avg_logprob"}
    uproj = {r.doc_id: r.avg_logprob
             for r in textstats.unigram_logprob(df, vocab_k=5).collect()}
    assert all(u[i].avg_logprob == uproj[i] for i in (1, 2, 3))


def test_bm25_and_dsir_property_match_twins(spark):
    """Property: for random small corpora (hostile token mixes, null/
    empty text, all-target / no-target splits), both scoring operators
    equal their pure-python twins exactly."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    token = st.sampled_from(["hash", "join", "scan", "a", "x9", "dup"])
    text = st.one_of(
        st.none(),
        st.just(""),
        st.lists(token, min_size=1, max_size=12).map(" ".join),
        # separators/case the tokenizer must fold identically
        st.lists(token, min_size=1, max_size=6).map(
            lambda ts: "  ".join(t.upper() for t in ts) + "!!"),
    )

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        texts=st.lists(text, min_size=1, max_size=12),
        langs=st.lists(st.sampled_from(["en", "de", None]),
                       min_size=12, max_size=12),
        terms=st.sets(token, min_size=1, max_size=3).map(sorted),
        buckets=st.sampled_from([2, 8, 32]),
    )
    def check(texts, langs, terms, buckets):
        rows = [(i, t, langs[i]) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        got_b = {r.doc_id: (r.n_tokens, r.bm25)
                 for r in textstats.bm25_scores(df, list(terms)).collect()}
        assert got_b == _py_bm25([(i, t) for i, t, _ in rows], list(terms))
        got_d = {r.doc_id: (r.n_tokens, r.dsir_logratio)
                 for r in textstats.dsir_weights(
                     df, F.col("lang") == "en", buckets=buckets).collect()}
        assert got_d == _py_dsir(
            [(i, t, lg == "en") for i, t, lg in rows], buckets)

    check()


def test_scoring_model_matches_per_call_operators(spark, documents):
    """fit_scoring_model(ref).apply(ref) must equal each per-call
    operator run on the same frame (same fit inputs => same literals)."""
    from pyspark.sql import functions as F

    ref = documents.select("doc_id", "text", "lang")
    model = textstats.fit_scoring_model(
        ref, ["quality", "lm", "bm25", "dsir"],
        terms=["dup", "hash"], target_filter=F.col("lang") == "en",
        vocab_k=100, buckets=32)
    assert model.columns == ["quality", "avg_logprob", "bm25",
                             "dsir_logratio"]
    got = {r.doc_id: (r.quality, r.avg_logprob, r.bm25, r.dsir_logratio)
           for r in model.apply(ref).collect()}
    q = {r.doc_id: r.quality
         for r in textstats.quality_score(ref).collect()}
    lm = {r.doc_id: r.avg_logprob
          for r in textstats.unigram_logprob(ref, vocab_k=100, dp=6).collect()}
    bm = {r.doc_id: r.bm25
          for r in textstats.bm25_scores(ref, ["dup", "hash"]).collect()}
    ds = {r.doc_id: r.dsir_logratio
          for r in textstats.dsir_weights(
              ref, F.col("lang") == "en", buckets=32).collect()}
    for i, (gq, glm, gbm, gds) in got.items():
        assert (gq, glm, gds) == (q[i], lm[i], ds[i]), i
        assert gbm == bm.get(i), i  # NULL where the operator drops the row


def test_scoring_model_applies_to_unseen_frame_and_validates(spark, documents):
    import pytest as _pytest

    from pyspark.sql import functions as F

    ref = documents.select("doc_id", "text", "lang")
    model = textstats.fit_scoring_model(ref, ["lm"], vocab_k=50)
    fresh = spark.createDataFrame(
        [(900001, "hash join table scan", "en"), (900002, None, None)],
        "doc_id long, text string, lang string")
    rows = {r.doc_id: r.avg_logprob for r in model.apply(fresh).collect()}
    assert rows[900001] is not None and rows[900002] is None
    for bad in (dict(signals=[]), dict(signals=["nope"]),
                dict(signals=["bm25"]),
                dict(signals=["dsir"])):
        with _pytest.raises(ValueError):
            textstats.fit_scoring_model(ref, **bad)


def test_scoring_model_applies_to_stream(spark, tmp_path, documents):
    """The fitted model is pure column expressions, so it must apply
    directly to a Structured Streaming frame and agree with batch."""
    from pyspark.sql import functions as F

    ref = documents.select("doc_id", "text", "lang")
    model = textstats.fit_scoring_model(
        ref, ["quality", "lm"], vocab_k=50)
    in_dir = str(tmp_path / "in")
    ref.repartition(2).write.parquet(in_dir)
    stream = spark.readStream.schema(ref.schema).parquet(in_dir)
    q = (model.apply(stream)
         .select("doc_id", "quality", "avg_logprob")
         .writeStream.format("memory").queryName("scored_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.doc_id: (r.quality, r.avg_logprob)
           for r in spark.sql("SELECT * FROM scored_stream").collect()}
    exp = {r.doc_id: (r.quality, r.avg_logprob)
           for r in model.apply(ref)
           .select("doc_id", "quality", "avg_logprob").collect()}
    assert got == exp and len(got) == ref.count()


def test_scoring_model_lm_default_matches_operator(documents):
    """fit_scoring_model's lm signal and the standalone unigram_logprob
    share the vocab_k=2000 default — the same corpus must yield the
    same avg_logprob through either surface (round-6 advice)."""
    from pyspark.sql import functions as F

    model = textstats.fit_scoring_model(documents, ["lm"], dp=6)
    via_model = model.apply(documents.select("doc_id", "text"))
    via_op = textstats.unigram_logprob(documents, dp=6)
    mism = (via_model.select("doc_id", "avg_logprob").alias("a")
            .join(via_op.select("doc_id", "avg_logprob").alias("b"), "doc_id")
            .filter("NOT (a.avg_logprob <=> b.avg_logprob)").count())
    assert mism == 0


def test_gopher_rules_match_python_twin(spark):
    from fastpasta_spark.operators.textstats import (
        gopher_rules,
        py_gopher_flags,
    )

    good = ("the data pipeline will be checked to make sure that we have "
            "a long enough document with plenty of ordinary words in it "
            "and that none of the gopher rules fire on it at all because "
            "it is just plain english prose written for this test case "
            "with more than fifty words of reasonable average length okay")
    docs = [
        (1, good),
        (2, "short doc"),                              # word_count
        (3, None),                                      # empty
        (4, "### " * 60),                               # symbols, no alpha
        (5, "\n".join("- bullet line item" for _ in range(20))),
        (6, "\n".join("trailing dots..." for _ in range(20))),
        (7, " ".join("1234" for _ in range(80))),       # numeric words
        (8, good.upper()),                              # stopwords case-sens
        (9, ("supercalifragilistic " * 60)),            # mean_word_len high
    ]
    got = {r.doc_id: (list(r.gopher_flags), r.gopher_pass)
           for r in gopher_rules(
               spark.createDataFrame(docs, "doc_id long, text string"))
           .collect()}
    for i, t in docs:
        want = py_gopher_flags(t)
        assert got[i] == (want, not want), (i, got[i], want)
    assert got[1] == ([], True)          # the good doc passes everything
    assert "word_count" in got[2][0]
    assert "alpha_words" in got[4][0] and "symbol_ratio" in got[4][0]
    assert "bullet_lines" in got[5][0]
    assert "ellipsis_lines" in got[6][0]
    assert "alpha_words" in got[7][0]
    assert "stop_words" in got[8][0]     # Gopher stopwords are lowercase
    assert "mean_word_len" in got[9][0]


def test_gopher_rules_hostile_property(spark):
    import random

    from fastpasta_spark.operators.textstats import (
        gopher_rules,
        py_gopher_flags,
    )

    rng = random.Random(7)
    pool = ["the", "of", "and", "•", "- x", "...", "#", "1234",
            "word", "\n", "écu", "日本語", "O'Neill", "x" * 40,
            # line-edge whitespace traps (ASCII-strip contract): CRLF,
            # tab-led bullets, NBSP/ideographic-space "separators"
            "a...\r\n", "\t- y", "n\u00a0b", "\u3000", "- z\r"]
    docs = [(i, None if i % 17 == 0 else
             " ".join(rng.choices(pool, k=rng.randrange(0, 120))))
            for i in range(300)]
    got = {r.doc_id: list(r.gopher_flags)
           for r in gopher_rules(
               spark.createDataFrame(docs, "doc_id long, text string"))
           .collect()}
    for i, t in docs:
        assert got[i] == py_gopher_flags(t), (i, t, got[i])
