"""End-to-end check_all: engine violations must match the pure-Python
oracle row-for-row (the reference's golden-file integration tests,
`fastpasta/tests/fastpasta_1_hbf_bad_its_payload.rs:15-50`, assert exact
error positions/codes/counts — we assert full row equality)."""

import pytest

from fastpasta_spark import schema as S
from fastpasta_spark.functions.fsm import stateless_doc_checks, validate_spans
from fastpasta_spark.plans.check_all import check_all
from fastpasta_spark.sources.synth import CorpusConfig, corpus_df, media_df

CFG = CorpusConfig(n_docs=400, corrupt_per_mille=250, dup_per_mille=40)
# compiles a warm check all flow may still pay (see the codegen test)
WARM_COMPILES_MAX = 12


@pytest.fixture(scope="module")
def result(spark):
    docs = corpus_df(spark, CFG)
    media = media_df(spark, CFG)
    return docs, media, check_all(docs, media)


def _python_oracle(docs_rows, media_ids):
    """Independent full-check oracle over collected rows."""
    viol = []
    seen: dict[str, int] = {}
    for r in docs_rows:
        tuples = [(s.kind, s.text, s.media_ref, s.offset) for s in (r.spans or [])]
        for si, off, code, sev, msg in stateless_doc_checks(r.doc_id, tuples or None):
            viol.append((r.doc_id, si, off, code, sev, msg))
        for si, off, code, sev, msg in validate_spans(tuples):
            viol.append((r.doc_id, si, off, code, sev, msg))
        for si, (kind, text, ref, off) in enumerate(tuples):
            if kind == S.KIND_MEDIA and ref and ref not in media_ids:
                viol.append((r.doc_id, si, off, S.E110_DANGLING_REF, S.SEV_ERROR,
                             f"media_ref not found in media table: {ref}"))
        seen[r.doc_id] = seen.get(r.doc_id, 0) + 1
    for doc_id, n in seen.items():
        if n > 1:
            viol.append((doc_id, None, -1, S.E100_DUPLICATE_KEY, S.SEV_ERROR,
                         f"duplicate doc_id seen {n} times"))
    return viol


def _key(v):
    return (v[0] or "", -2 if v[1] is None else v[1], v[2], v[3], v[5])


def test_violations_match_python_oracle(result):
    docs, media, res = result
    got = [
        (r.doc_id, r.span_idx, r.offset, r.check_code, r.severity, r.message)
        for r in res.violations.collect()
    ]
    expected = _python_oracle(docs.collect(), {m.media_id for m in media.collect()})
    assert sorted(got, key=_key) == sorted(expected, key=_key)
    assert len(got) > 20


def test_metrics_consistent(result):
    docs, _, res = result
    m = {r.name: r.value for r in res.metrics.collect()}
    n_rows = docs.count()
    assert m["docs_seen"] == n_rows
    assert m["doc_id_distinct_exact"] == CFG.n_docs
    assert abs(m["doc_id_distinct_hll"] - CFG.n_docs) / CFG.n_docs < 0.05
    assert m["total_errors"] == sum(
        v for k, v in m.items() if k.startswith("error_count_")
    )
    kind_total = sum(v for k, v in m.items() if k.startswith("kind_count_"))
    assert kind_total == m["spans_seen"]


@pytest.fixture(scope="module")
def hostile(spark):
    """Clean synth docs plus three ids a string sentinel for NULL would
    merge: NULL, "\\x00null_doc_id" and "\\x00". All three carry
    errors; NULL and "\\x00" also share the E12 code."""
    cfg = CorpusConfig(n_docs=37)
    docs = corpus_df(spark, cfg)
    spans = docs.first().spans
    extra = spark.createDataFrame(
        [(None, []), ("\x00null_doc_id", spans), ("\x00", [])],
        S.DOCS_SCHEMA)
    docs = docs.unionByName(extra)
    media = media_df(spark, cfg)
    return docs, media, check_all(docs, media)


def _assert_verdicts_partition(docs, res):
    """One verdict row per distinct key, NULL included; FAIL exactly on
    the keys carrying a non-WARNING violation."""
    keys = {r.doc_id for r in docs.select("doc_id").collect()}
    rows = res.passed.collect()
    assert len(rows) == len(keys)
    verdicts = {r.doc_id: r.verdict for r in rows}
    assert set(verdicts) == keys
    failing = {r.doc_id for r in res.violations.collect()
               if r.severity != "WARNING"}
    assert failing == {d for d, v in verdicts.items() if v == "FAIL"}


def test_verdicts_partition_docs(result):
    docs, _, res = result
    verdicts = {r.doc_id: r.verdict for r in res.passed.collect()}
    assert len(verdicts) == CFG.n_docs  # every distinct doc gets a verdict
    _assert_verdicts_partition(docs, res)


def test_verdicts_partition_hostile_doc_ids(hostile):
    docs, _, res = hostile
    _assert_verdicts_partition(docs, res)  # 40 keys -> 40 verdict rows
    fails = {r.doc_id for r in res.passed.collect() if r.verdict == "FAIL"}
    assert fails == {None, "\x00null_doc_id", "\x00"}


def test_hll_sketch_skips_null_id(hostile):
    # the distinct-id sketch counts the 39 non-NULL keys (37 synth ids,
    # "\x00null_doc_id", "\x00"), not the NULL key: at this size the
    # sketch is exact, so a counted NULL would read 40
    _, _, res = hostile
    m = {r.name: r.value for r in res.metrics.collect()}
    assert m["doc_id_distinct_exact"] == 39
    assert abs(m["doc_id_distinct_hll"] - 39) / 39 < 0.05
    assert m["doc_id_distinct_hll"] == 39


def test_codegen_cache_holds_a_flow(spark, tmp_path):
    """get_spark sizes the codegen cache (a static conf) so a warm check
    all flow reuses the classes the first flow compiled, also after the
    session compiled 120 unrelated classes in between — more than the
    default 100-entry cache holds, which then recompiled the whole flow.
    The few classes a warm flow may still compile are whole-stage
    classes that AQE numbered differently (codegenStageId follows the
    order in which query stages finish)."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from fastpasta_spark.plans.report import golden_diff, read_stats, write_stats

    assert spark.sparkContext.getConf().get(
        "spark.sql.codegen.cache.maxEntries") == "1000"
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    cfg = CorpusConfig(n_docs=300, corrupt_per_mille=100, dup_per_mille=10)
    docs, media = corpus_df(spark, cfg), media_df(spark, cfg)
    stats = str(tmp_path / "stats.json")

    def flow() -> int:
        c0 = compiles.getCount()
        res = check_all(docs, media)
        res.violations.write.mode("overwrite").parquet(str(tmp_path / "v"))
        res.passed.write.mode("overwrite").parquet(str(tmp_path / "p"))
        write_stats(res.metrics, stats)
        assert golden_diff(res.metrics, read_stats(spark, stats)).collect() == []
        res.release()
        return compiles.getCount() - c0

    flow()
    second = flow()
    # two classes per one-row projection, constants no flow uses
    c0 = compiles.getCount()
    reduce(DataFrame.unionByName, [
        spark.range(0, 1, 1, 1).select((F.col("id") * k + k).alias("x"))
        for k in range(1_000_003, 1_000_063)]).collect()
    assert compiles.getCount() - c0 >= 120
    third = flow()
    assert second <= WARM_COMPILES_MAX and third <= WARM_COMPILES_MAX, \
        (second, third)


def test_error_attribution_counts_null_key_once(hostile):
    # NULL is its own key: it must neither merge with a real "\x00" doc
    # (docs_with_errors, error_docs_E12) nor vanish
    _, _, res = hostile
    m = {r.name: r.value for r in res.metrics.collect()}
    assert m["docs_with_errors"] == 3
    assert m["error_docs_E12"] == 2      # NULL and "\x00"
    assert m["error_docs_E13"] == 2      # "\x00" and "\x00null_doc_id"
    assert m["error_docs_E10"] == 1      # NULL


def test_clean_corpus_no_errors(spark):
    cfg = CorpusConfig(n_docs=120)
    res = check_all(corpus_df(spark, cfg), media_df(spark, cfg))
    assert res.violations.count() == 0
    assert res.passed.filter("verdict = 'FAIL'").count() == 0


def test_work_dir_materialization(spark, tmp_path):
    cfg = CorpusConfig(n_docs=100, corrupt_per_mille=200)
    docs, media = corpus_df(spark, cfg), media_df(spark, cfg)
    res_mem = check_all(docs, media)
    res_disk = check_all(docs, media, work_dir=str(tmp_path / "work"))
    a = sorted(map(tuple, res_mem.violations.collect()))
    b = sorted(map(tuple, res_disk.violations.collect()))
    assert a == b


def test_max_errors_cap(spark):
    cfg = CorpusConfig(n_docs=200, corrupt_per_mille=400)
    res = check_all(corpus_df(spark, cfg), media_df(spark, cfg), max_errors=5)
    assert res.violations.count() == 5


def test_failfast_stops_early_and_matches_full(spark):
    from fastpasta_spark.plans.check_all import run_failfast

    cfg = CorpusConfig(n_docs=300, corrupt_per_mille=500)
    docs, media = corpus_df(spark, cfg), media_df(spark, cfg)
    viol, done, total = run_failfast(docs, media, max_errors=10, n_slices=8)
    # corrupt corpus: budget exhausted before all slices run
    assert done < 8 and total >= 10
    assert viol.count() == total
    # the processed slices' violations are a subset of the full run's
    full = {tuple(r) for r in check_all(docs, media).violations.collect()}
    assert {tuple(r) for r in viol.collect()} <= full


def test_failfast_clean_corpus_processes_all(spark):
    from fastpasta_spark.plans.check_all import run_failfast

    cfg = CorpusConfig(n_docs=60)
    _, done, total = run_failfast(
        corpus_df(spark, cfg), media_df(spark, cfg), max_errors=5, n_slices=4)
    assert done == 4 and total == 0


def test_error_attribution_metrics(result):
    # per-key attribution (error_stats.rs:13-55 analogue): docs_with_errors
    # equals the distinct error-carrying doc set; codes_distinct matches
    docs, _, res = result
    m = {r.name: r.value for r in res.metrics.collect()}
    rows = res.violations.filter("severity <> 'WARNING'").collect()
    assert m["docs_with_errors"] == len({r.doc_id for r in rows})
    assert m["error_codes_distinct"] == len({r.check_code for r in rows})
    # per-code form: error_docs_X counts each doc once however many
    # times code X fired in it (includes WARNING-severity codes — the
    # rollup is over the full violation table like error_count_X)
    all_rows = res.violations.collect()
    by_code: dict[str, set] = {}
    for r in all_rows:
        by_code.setdefault(r.check_code, set()).add(r.doc_id)
    for code, doc_set in by_code.items():
        assert m[f"error_docs_{code}"] == len(doc_set), code
        assert m[f"error_docs_{code}"] <= m[f"error_count_{code}"]


def test_max_errors_does_not_flip_verdicts(spark):
    # the cap limits the RETURNED table only; verdicts (and so any
    # --passed-out quarantine) must come from the uncapped set
    cfg = CorpusConfig(n_docs=200, corrupt_per_mille=400)
    docs, media = corpus_df(spark, cfg), media_df(spark, cfg)
    full = check_all(docs, media)
    capped = check_all(docs, media, max_errors=3)
    assert capped.violations.count() == 3
    assert sorted(map(tuple, capped.passed.collect())) == \
           sorted(map(tuple, full.passed.collect()))


def test_dangling_refs_oracle_parity_on_null_doc_id(spark, tmp_path):
    """Hostile input the driver corpora never contain: a NULL doc_id.
    The engine's from_documents CASE (`WHEN pmod(md5(NULL),10) = 0 ...`)
    falls through to the media branch and keeps the last media span, so
    the DuckDB oracle's WHERE must use `IS NOT TRUE` — a bare
    `NOT (mut = 0 AND i = n-1)` silently drops that span on NULL mut."""
    import duckdb

    import __spark_entry__ as entry
    from fastpasta_spark.functions.hashing import py_md5_hash

    # 4th token (i = 3 = n-1) whose ref slot dangles (>= 64): both sides
    # must emit an E110 row for it even on the NULL-doc_id row
    word = next(w for w in (f"w{i}" for i in range(1000))
                if py_md5_hash(w) % 72 >= 64)
    text = f"alpha beta gamma {word}"
    df = spark.createDataFrame(
        [(None, text, "en", "s", len(text)),
         (7, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{out}/documents.parquet")

    got = sorted(((r.doc_id, r.span_idx, r.offset, r.check_code, r.message)
                  for r in entry._q_dangling_refs(spark, out).collect()),
                 key=str)
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{out}/documents.parquet/*.parquet')")
    want = sorted(((r["doc_id"], r["span_idx"], r["offset"],
                    r["check_code"], r["message"])
                   for r in con.sql(entry._sql_dangling_refs())
                   .arrow().to_pylist()), key=str)
    assert got == want
    assert any(d is None for d, *_ in got)  # the divergent span is present


def test_pass_emitted_e110_matches_columnar_anti_join(spark):
    """The in-scan E110 emit (fused pass + broadcast media-id set) and
    the standalone columnar derivation (media_ref_rows -> anti-join,
    used by the dangling_refs driver query and streaming) must stay in
    lockstep row-for-row — they are two implementations of the same
    referential check."""
    from fastpasta_spark.plans.check_all import (
        _referential_branch,
        media_ref_rows,
    )

    cfg = CorpusConfig(n_docs=600, corrupt_per_mille=120, dup_per_mille=10)
    docs = corpus_df(spark, cfg)
    media = media_df(spark, cfg)
    n_by_case = []
    for m in (media, media.limit(0)):  # empty media: every ref dangles
        res = check_all(docs, m)
        got = sorted(tuple(r) for r in
                     res.violations.filter("check_code = 'E110'").collect())
        want = sorted(tuple(r) for r in
                      _referential_branch(media_ref_rows(docs), m).collect())
        assert got == want
        n_by_case.append(len(got))
    # the corpus has media spans, so the empty-media case must fire a
    # strict superset of the real-media case
    assert n_by_case[1] > n_by_case[0] >= 0 and n_by_case[1] > 0
    # no media table -> referential check off entirely
    assert check_all(docs, None).violations.filter(
        "check_code = 'E110'").count() == 0


def test_e110_fires_on_grammar_clean_screened_doc(spark):
    """The clean-doc pre-screen gates only the FSM loop; a doc the
    screen certifies grammar-clean can still carry a dangling ref and
    MUST get its E110 (the emit is batch-level, screen-independent)."""
    from fastpasta_spark.operators.sequence import (
        sequence_pass,
        split_sequence_output,
    )

    # one perfectly grammar-clean doc whose media ref dangles
    rows = [("d1", [
        {"kind": "hdr", "text": "page=0,lanes=0,chips=0", "media_ref": None, "offset": 0},
        {"kind": "media", "text": None, "media_ref": "m_missing", "offset": 1},
        {"kind": "trailer", "text": "done=1", "media_ref": None, "offset": 2},
    ])]
    docs = spark.createDataFrame(rows, S.DOCS_SCHEMA)
    out = sequence_pass(docs, fused=True, valid_media_ids=frozenset({"m_ok"}))
    viol, _ = split_sequence_output(out)
    got = [(r.check_code, r.span_idx, r.message) for r in viol.collect()]
    assert ("E110", 1, "media_ref not found in media table: m_missing") in got
    # and with the ref present in the set, nothing fires
    out_ok = sequence_pass(docs, fused=True,
                           valid_media_ids=frozenset({"m_missing"}))
    v_ok, _ = split_sequence_output(out_ok)
    assert v_ok.filter("check_code = 'E110'").count() == 0


def test_stateless_twin_e110_semantics():
    """functions/fsm.stateless_doc_checks(valid_media_ids=) — the pure
    twin of the pass's E110 emit: empty ref stays E72 (never both),
    non-media refs stay E73, no set -> check off."""
    spans = [("media", None, "m_ok", 0),      # valid ref
             ("media", None, "m_bad", 1),     # dangling -> E110
             ("media", None, "", 2),          # empty -> E72 only
             ("text", "x", "m_bad", 3)]       # non-media ref -> E73 only
    got = stateless_doc_checks("d1", spans, valid_media_ids={"m_ok"})
    codes = [(i, c) for i, _, c, _, _ in got]
    assert (1, S.E110_DANGLING_REF) in codes
    assert (2, S.E72_MEDIA_REF_MISSING) in codes
    assert (2, S.E110_DANGLING_REF) not in codes
    assert (3, S.E73_UNEXPECTED_REF) in codes
    assert (3, S.E110_DANGLING_REF) not in codes
    assert (0, S.E110_DANGLING_REF) not in codes
    # without the set: no E110 at all (battery unchanged)
    assert all(c != S.E110_DANGLING_REF
               for _, _, c, _, _ in stateless_doc_checks("d1", spans))


# ---- media-id broadcast size guard (the 100-TB referential fallback) ----

def _viol_rows(df):
    rows = [
        (r.doc_id, r.span_idx, r.offset, r.check_code, r.severity, r.message)
        for r in df.collect()
    ]
    return sorted(rows, key=_key)


def test_media_bc_guard_trips_without_collecting_domain(result):
    """Past max_ids the probe returns None — it never pulls more than
    max_ids+1 distinct ids to the driver (LIMIT-bounded), and under the
    cap it returns the broadcast set unchanged."""
    from fastpasta_spark.plans.check_all import media_id_broadcast

    _, media, _ = result
    assert media_id_broadcast(media, max_ids=1) is None
    bc = media_id_broadcast(media, max_ids=10_000_000, track=False)
    assert bc is not None
    assert frozenset(m.media_id for m in media.collect()) <= bc.value
    bc.unpersist()


def test_check_all_guarded_fallback_row_parity(result, monkeypatch):
    """check_all under a forced-low FASTPASTA_MEDIA_BC_MAX must produce
    the IDENTICAL violation table and metrics via the columnar anti-join
    fallback — and the fallback plan must actually contain the anti-join
    (no in-pass broadcast path ran)."""
    from fastpasta_spark.plans.check_all import check_all, media_id_broadcast

    docs, media, res_bc = result
    monkeypatch.setenv("FASTPASTA_MEDIA_BC_MAX", "1")
    assert media_id_broadcast(media, track=False) is None  # guard live
    res_fb = check_all(docs, media)
    try:
        assert _viol_rows(res_fb.violations) == _viol_rows(res_bc.violations)
        assert ({(r.name, r.value) for r in res_fb.metrics.collect()}
                == {(r.name, r.value) for r in res_bc.metrics.collect()})
        assert ({(r.doc_id, r.verdict) for r in res_fb.passed.collect()}
                == {(r.doc_id, r.verdict) for r in res_bc.passed.collect()})
        # plan pin: the fallback violations carry a LeftAnti join (the
        # columnar branch); the broadcast-path violations carry none,
        # and the fallback's anti-join is NOT a forced broadcast (the
        # dim tripped the guard — AQE picks the strategy at runtime)
        fb_plan = res_fb.violations._jdf.queryExecution().toString()
        bc_plan = res_bc.violations._jdf.queryExecution().toString()
        assert "LeftAnti" in fb_plan
        assert "LeftAnti" not in bc_plan
    finally:
        res_fb.release()


def test_run_failfast_guarded_parity(spark, monkeypatch):
    """run_failfast under the tripped guard probes ONCE, then every
    slice runs referential='columnar' — same violations as unguarded."""
    from fastpasta_spark.plans.check_all import run_failfast
    from fastpasta_spark.sources.synth import media_df

    from pyspark.sql import functions as F

    cfg = CorpusConfig(n_docs=80, corrupt_per_mille=300, dup_per_mille=40)
    docs, media = corpus_df(spark, cfg), media_df(spark, cfg)
    # drop one actually-referenced id from the dim so E110 must fire
    a_ref = (docs.selectExpr("explode(spans.media_ref) AS r")
             .where("r IS NOT NULL AND r <> ''").limit(1).collect())[0].r
    media = media.filter(F.col("media_id") != a_ref)
    viol_bc, done_bc, total_bc = run_failfast(
        docs, media, max_errors=10**9, n_slices=3)
    rows_bc = _viol_rows(viol_bc)
    monkeypatch.setenv("FASTPASTA_MEDIA_BC_MAX", "1")
    viol_fb, done_fb, total_fb = run_failfast(
        docs, media, max_errors=10**9, n_slices=3)
    assert (done_fb, total_fb) == (done_bc, total_bc)
    assert _viol_rows(viol_fb) == rows_bc
    assert any(r[3] == "E110" for r in rows_bc)  # referential exercised
