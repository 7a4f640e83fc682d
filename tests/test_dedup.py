"""Dedup operators vs pure-Python oracles on the real testdata tables."""

import itertools

import pytest
from pyspark.sql import functions as F

from fastpasta_spark.functions.hashing import py_md5_hash, py_tokens
from fastpasta_spark.operators import dedup

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .withColumn("doc_id", F.col("doc_id").cast("string"))
        .cache()
    )


def _py_shingles(text, n=3):
    toks = py_tokens(text)
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _py_minhash(text, k=8, n=3):
    """Python twin of the minhash kernel; NULL text -> NULL signature."""
    from fastpasta_spark.functions.hashing import mix_constants, py_mix

    if text is None:
        return None
    hs = [py_md5_hash(s) for s in _py_shingles(text, n)]
    return [min(py_mix(h, a, b) for h in hs) for a, b in mix_constants(k)]


def _py_simhash(text, bits=32):
    """Python twin of the simhash kernel: per bit b, the sign of the sum
    over DISTINCT tokens of +1/-1 by bit b of the 60-bit token hash."""
    hs = [py_md5_hash(t) for t in set(py_tokens(text))]
    return sum(1 << b for b in range(bits)
               if sum(1 if h >> b & 1 else -1 for h in hs) > 0)


def test_exact_duplicates(spark, documents):
    # inject known duplicates
    dup = documents.limit(3).withColumn(
        "doc_id", F.concat(F.col("doc_id"), F.lit(100000))
    )
    df = documents.unionByName(dup)
    got = dedup.exact_duplicates(df).collect()
    assert len(got) == 3
    assert all(r.dup_count == 2 for r in got)


def test_minhash_matches_python(spark, documents):
    from fastpasta_spark.operators.arrowtext import minhash_signature_arrow

    d = documents.limit(20)
    got = {r.doc_id: r.minhash
           for r in minhash_signature_arrow(d, k=8, n=3).collect()}
    for r in d.collect():
        assert got[r.doc_id] == _py_minhash(r.text), r.doc_id


def test_exact_duplicates_hot_hash_capped(spark):
    # one text duplicated 20k times: dup_count exact, id list capped —
    # the reducer for the hot content hash must not build a giant array
    hot = spark.range(0, 20_000).selectExpr(
        "concat('h', id) AS doc_id", "'same boilerplate text' AS text")
    other = spark.range(0, 50).selectExpr(
        "concat('u', id) AS doc_id", "concat('unique ', id) AS text")
    got = dedup.exact_duplicates(hot.unionByName(other), max_ids=25).collect()
    assert len(got) == 1
    assert got[0].dup_count == 20_000
    assert len(got[0].doc_ids) == 25
    assert got[0].doc_ids == sorted(got[0].doc_ids)


def test_exact_duplicates_bounded_buffer_plan(spark):
    # the collect_list input must be the rank-guarded conditional (NULL
    # past the cap -> skipped by collect_list), i.e. the BUFFER is
    # bounded pre-aggregation, not sliced post-hoc (round-2 verdict #1)
    df = spark.createDataFrame([("a", "t")], "doc_id string, text string")
    plan = dedup.exact_duplicates(df, max_ids=7)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "collect_list(CASE WHEN" in plan
    assert "slice(" not in plan


def test_exact_duplicates_null_ids_dont_displace(spark):
    # NULL ids count toward dup_count but never occupy a capped slot
    rows = [(None, "x"), (None, "x"), ("b", "x"), ("a", "x"), ("c", "x")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = dedup.exact_duplicates(df, max_ids=2).collect()
    assert len(got) == 1
    assert got[0].dup_count == 5
    assert got[0].doc_ids == ["a", "b"]


def test_jaccard_pairs_match_python(spark, documents):
    df = documents.limit(60)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(df, threshold=0.05).collect()
    }
    rows = df.collect()
    sh = {r.doc_id: _py_shingles(r.text) for r in rows}
    expected = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        inter = len(sh[a] & sh[b])
        if inter:
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if round(j, 6) >= 0.05:
                expected[(a, b)] = round(j, 6)
    assert got.keys() == expected.keys()
    for k in got:
        assert abs(got[k] - expected[k]) < 1e-6


def test_lsh_finds_near_duplicates(spark, documents):
    # a doc paired with a lightly perturbed copy must surface as candidate
    base = documents.limit(10)
    perturbed = base.withColumn(
        "doc_id", F.concat(F.col("doc_id"), F.lit("_copy"))
    ).withColumn("text", F.concat(F.col("text"), F.lit(" extra token")))
    df = base.unionByName(perturbed)
    pairs = dedup.minhash_near_duplicates(df, threshold=0.5).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    for r in base.collect():
        assert (r.doc_id, f"{r.doc_id}_copy") in found


def test_simhash_deterministic_and_near(spark, documents):
    df = documents.limit(10)
    near = df.withColumn("doc_id", F.concat("doc_id", F.lit("_c"))) \
             .withColumn("text", F.concat("text", F.lit(" zz")))
    both = df.unionByName(near)
    # max_hamming=6 needs bands > 6 for full recall (pigeonhole); 8
    # divides bits=32 evenly — the old bands=4 default here was exactly
    # the silent-recall-loss case the ValueError guard now rejects
    dups = dedup.simhash_duplicates(both, max_hamming=6, bands=8).collect()
    found = {(r.doc_a, r.doc_b) for r in dups}
    hits = sum((r.doc_id, f"{r.doc_id}_c") in found for r in df.collect())
    assert hits >= 8  # simhash is approximate; near-identical docs collide
    # determinism
    h1 = dedup.simhash_fingerprints(df).collect()
    h2 = dedup.simhash_fingerprints(df.repartition(5)).collect()
    assert sorted(map(tuple, h1)) == sorted(map(tuple, h2))


def test_segment_dedup_first_seen_wins(spark):
    from fastpasta_spark.operators.dedup import segment_dedup

    w = lambda a, b: " ".join(f"w{i}" for i in range(a, b))
    docs = spark.createDataFrame(
        [
            (1, w(0, 25)),            # 3 segments (10, 10, 5)
            (2, w(0, 25)),            # exact copy -> vanishes entirely
            (3, w(0, 10) + " " + w(100, 115)),  # shares seg 0 with doc 1
            (4, ""),                  # no tokens -> no segments -> dropped
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in segment_dedup(docs, seg_tokens=10).collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["n_kept"] == 3 and rows[1]["n_total"] == 3
    assert rows[1]["clean_text"] == w(0, 25)
    # doc 3 lost its first (shared) segment, kept its unique tail
    assert rows[3]["n_kept"] == 2 and rows[3]["n_total"] == 3
    assert rows[3]["clean_text"].startswith("w100")


def test_decontaminate_flags_overlap(spark):
    from fastpasta_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),   # contains bench 5-grams
         (2, "totally unrelated words live here now"),
         (3, "alpha beta gamma delta epsilon")],       # exactly one 5-gram shared
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "bench_id long, text string")
    got = {(r.doc_id, r.bench_id): r.overlap
           for r in decontaminate(corpus, bench, n=5, min_overlap=1,
                                  bench_id_col="bench_id").collect()}
    # doc 1: shingles {a b g d e, b g d e z} -> overlap 2; doc 3: 1; doc 2: none
    assert got == {(1, 100): 2, (3, 100): 1}

    got2 = {r.doc_id for r in
            decontaminate(corpus, bench, n=5, min_overlap=2,
                          bench_id_col="bench_id").collect()}
    assert got2 == {1}


def test_decontaminate_ignores_empty_docs(spark):
    from fastpasta_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "alpha beta gamma delta epsilon")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, ""), (101, "alpha beta gamma delta epsilon")],
        "bench_id long, text string")
    got = {(r.doc_id, r.bench_id) for r in
           decontaminate(corpus, bench, n=5, min_overlap=1,
                         bench_id_col="bench_id").collect()}
    # empty/whitespace/null docs never pair with the empty bench doc
    assert got == {(4, 101)}


def test_simhash_band_invariant_guard(spark):
    df = spark.createDataFrame([("a", "x")], "doc_id string, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_duplicates(df, max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="divide"):
        dedup.simhash_duplicates(df, bits=32, bands=5, max_hamming=3)


def test_simhash_banding_recall_property():
    # pigeonhole recall: ANY pair with hamming <= max_hamming < bands
    # shares at least one exact band chunk — the invariant the band-
    # bucket join's completeness rests on. Pure-python model of the
    # banding arithmetic in simhash_duplicates (same chunking exprs).
    from hypothesis import given, settings
    from hypothesis import strategies as st

    bits, bands = 32, 4
    chunk = bits // bands

    def band_vals(h):
        return [(h >> (b * chunk)) % (1 << chunk) for b in range(bands)]

    @settings(max_examples=300, deadline=None)
    @given(st.integers(0, (1 << bits) - 1),
           st.sets(st.integers(0, bits - 1), max_size=bands - 1))
    def check(h, flip_bits):
        # construct a partner within hamming <= bands-1 (covers every
        # max_hamming < bands), assert >= 1 shared band
        h2 = h
        for b in flip_bits:
            h2 ^= 1 << b
        hamming = bin(h ^ h2).count("1")
        assert hamming <= bands - 1
        shared = sum(x == y for x, y in zip(band_vals(h), band_vals(h2)))
        assert shared >= 1

    check()


def test_simhash_duplicates_match_bruteforce(spark):
    # end-to-end: engine pair set == brute-force hamming pairs (no
    # hot-bucket drop at this size)
    texts = [
        "alpha bravo charlie delta echo foxtrot",
        "alpha bravo charlie delta echo foxtrot",          # exact dup
        "alpha bravo charlie delta echo golf",             # near dup
        "completely different words entirely here now",
        "alpha bravo charlie delta echo foxtrot hotel",    # near dup
    ]
    df = spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(texts)],
        "doc_id string, text string")
    fps = {r.doc_id: r.simhash
           for r in dedup.simhash_fingerprints(df, bits=32).collect()}
    expected = set()
    for a in fps:
        for b in fps:
            if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3:
                expected.add((a, b))
    got = {(r.doc_a, r.doc_b) for r in dedup.simhash_duplicates(
        df, max_hamming=3, max_bucket=None if False else 200).collect()}
    assert got == expected
    assert ("d0", "d1") in got  # the exact dup is definitely in there


def _py_dup_spans(rows, n, min_count=2):
    """Pure-python twin of dedup.dup_spans, rows = [(id, text)].
    Same identity contract: NULL ids dropped, same-id rows pooled."""
    from collections import Counter

    occ, cnt = {}, Counter()
    for i, t in rows:
        if i is None:
            continue
        tv = py_tokens(t)
        ss = ([(j, py_md5_hash(" ".join(tv[j:j + n])))
               for j in range(len(tv) - n + 1)] if len(tv) >= n else [])
        occ.setdefault(i, []).extend(ss)
        for _, h in ss:
            cnt[h] += 1
    out = []
    for i, ss in occ.items():
        dups = sorted(j for j, h in ss if cnt[h] >= min_count)
        if not dups:
            continue
        start = prev = dups[0]
        k = 1
        for j in dups[1:]:
            if j - prev <= n:
                prev, k = j, k + 1
            else:
                out.append((i, start, prev + n - 1, k))
                start, prev, k = j, j, 1
        out.append((i, start, prev + n - 1, k))
    return sorted(out)


def test_dup_spans_matches_python_twin(spark):
    rows = [
        # shared 10-gram twice in doc 1 (within-doc repeat) + in doc 2
        (1, "a b c d e f g h i j unique one two three a b c d e f g h i j"),
        (2, "x y a b c d e f g h i j z w"),
        (3, "totally different content here nothing shared with anyone at all"),
        (4, None),
        (5, "short"),
        # exact duplicate pair -> full-doc span in both
        (6, "p q r s t u v w aa bb cc dd"),
        (7, "p q r s t u v w aa bb cc dd"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted((r.doc_id, r.span_start, r.span_end, r.n_shingles)
                 for r in dedup.dup_spans(df, n=10).collect())
    assert got == _py_dup_spans(rows, 10)
    ids = {g[0] for g in got}
    assert {1, 2, 6, 7} <= ids and not {3, 4, 5} & ids
    # the exact-dup pair's span covers the whole 12-token doc
    assert (6, 0, 11, 3) in got and (7, 0, 11, 3) in got


def test_dup_spans_island_merge_and_gaps(spark):
    # two dup regions in one doc separated by > n unique tokens must
    # stay two spans; overlapping/adjacent windows merge into one
    shared = "a b c d e f g h i j"
    gap = " ".join(f"u{k}" for k in range(15))
    rows = [
        (1, f"{shared} {gap} {shared}"),
        (2, f"{shared} {shared}"),   # back-to-back -> merges into one
        (3, f"{shared} kk {shared}"),  # 1 unique token between -> 2 spans
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted((r.doc_id, r.span_start, r.span_end, r.n_shingles)
                 for r in dedup.dup_spans(df, n=10).collect())
    assert got == _py_dup_spans(rows, 10)
    assert len([g for g in got if g[0] == 1]) == 2  # gap keeps 2 islands
    assert (2, 0, 19, 2) in got                     # merged whole-doc span
    assert len([g for g in got if g[0] == 3]) == 2  # unique token splits


def test_dup_spans_validation(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n must be >= 2"):
        dedup.dup_spans(df, n=1)
    with pytest.raises(ValueError, match="min_count must be >= 2"):
        dedup.dup_spans(df, min_count=1)


def test_dup_spans_property_matches_twin(spark):
    """Property: random small corpora from a tiny vocab (forcing both
    genuine repeats and near-misses), random n — engine == twin."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    token = st.sampled_from(["a", "b", "c", "d"])
    text = st.one_of(
        st.none(),
        st.lists(token, min_size=0, max_size=14).map(" ".join),
    )

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(texts=st.lists(text, min_size=1, max_size=8),
           ids=st.lists(st.one_of(st.none(),
                                  st.integers(min_value=0, max_value=4)),
                        min_size=8, max_size=8),
           n=st.integers(min_value=2, max_value=5))
    def check(texts, ids, n):
        # hostile identity space: duplicate ids (pooled as one logical
        # doc) and NULL ids (dropped) per the operator contract
        rows = [(ids[j], t) for j, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted((r.doc_id, r.span_start, r.span_end, r.n_shingles)
                     for r in dedup.dup_spans(df, n=n).collect())
        assert got == _py_dup_spans(rows, n)

    check()


def _py_remove_dup_spans(rows, n, min_count=2):
    """Pure-python twin of dedup.remove_dup_spans, rows = [(id, text)]
    with UNIQUE non-null-or-None ids (the operator contract). Returns
    sorted (id, clean_text, n_kept, n_total, n_cut_spans)."""
    from collections import Counter

    toks, occ, cnt = {}, {}, Counter()
    for i, t in rows:
        if i is None:
            continue
        tv = py_tokens(t)
        toks[i] = tv
        ss = ([(j, " ".join(tv[j:j + n])) for j in range(len(tv) - n + 1)]
              if len(tv) >= n else [])
        occ[i] = ss
        for _, s in ss:
            cnt[s] += 1
    # corpus-wide first occurrence per duplicated key: iterate docs in
    # id order, starts ascending within each doc -> first sighting is
    # the (doc_id, start) minimum
    keeper = {}
    for i in sorted(occ):
        for j, s in occ[i]:
            if cnt[s] >= min_count and s not in keeper:
                keeper[s] = (i, j)
    out = []
    for i in occ:
        tv = toks[i]
        cut_starts = sorted(j for j, s in occ[i]
                            if cnt[s] >= min_count and keeper[s] != (i, j))
        islands = []
        for j in cut_starts:
            if islands and j - islands[-1][1] <= n:
                islands[-1][1] = j
            else:
                islands.append([j, j])
        cutset = set()
        for a, b in islands:
            cutset.update(range(a, b + n))
        kept = [tv[p] for p in range(len(tv)) if p not in cutset]
        out.append((i, " ".join(kept), len(kept), len(tv), len(islands)))
    return sorted(out)


_RDS_COLS = ("doc_id", "clean_text", "n_kept", "n_total", "n_cut_spans")


def _rds_rows(res):
    return sorted(tuple(r[c] for c in _RDS_COLS) for r in res.collect())


def test_remove_dup_spans_keeps_first_occurrence(spark):
    rows = [
        # doc 1 owns the corpus-wide first occurrence of the shared
        # 10-gram (and repeats it within-doc: the repeat is cut)
        (1, "a b c d e f g h i j unique one two three a b c d e f g h i j"),
        (2, "x y a b c d e f g h i j z w"),
        (3, "totally different content here nothing shared with anyone at all"),
        (4, None),
        (5, "short"),
        # exact duplicate pair: 6 is the keeper, 7 is fully excised
        (6, "p q r s t u v w aa bb cc dd"),
        (7, "p q r s t u v w aa bb cc dd"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = _rds_rows(dedup.remove_dup_spans(df, n=10))
    assert got == _py_remove_dup_spans(rows, 10)
    by_id = {g[0]: g for g in got}
    assert by_id[4] == (4, "", 0, 0, 0)        # NULL text -> empty, kept
    # untouched docs come back token-rebuilt, zero spans cut
    assert by_id[3] == (3, rows[2][1], 10, 10, 0)
    assert by_id[5] == (5, "short", 1, 1, 0)
    # keeper of the exact pair survives byte-identical; the dup empties
    assert by_id[6] == (6, "p q r s t u v w aa bb cc dd", 12, 12, 0)
    assert by_id[7] == (7, "", 0, 12, 1)
    # doc 1 keeps its first copy, loses the within-doc repeat; doc 2's
    # cross-doc copy is cut but its unique frame survives
    assert by_id[1][1].startswith("a b c d e f g h i j unique one two three")
    assert by_id[2][1] == "x y z w"


def test_remove_dup_spans_validation(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n must be >= 2"):
        dedup.remove_dup_spans(df, n=1)
    with pytest.raises(ValueError, match="min_count must be >= 2"):
        dedup.remove_dup_spans(df, min_count=1)


def test_remove_dup_spans_property_matches_twin(spark):
    """Property: random small corpora from a tiny vocab, random n —
    byte-exact rebuilt text vs the pure-python twin."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    token = st.sampled_from(["a", "b", "c", "d"])
    text = st.one_of(
        st.none(),
        st.lists(token, min_size=0, max_size=14).map(" ".join),
    )

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(texts=st.lists(text, min_size=1, max_size=8),
           n=st.integers(min_value=2, max_value=5),
           drop=st.booleans())
    def check(texts, n, drop):
        # unique ids per the rebuild contract; one optional NULL id
        rows = [(None if drop and j == 0 else j, t)
                for j, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = _rds_rows(dedup.remove_dup_spans(df, n=n))
        assert got == _py_remove_dup_spans(rows, n)

    check()


def test_dup_span_family_work_dir_parity(spark, tmp_path):
    """work_dir (parquet occurrence spill) must be row-identical to the
    default tracked-persist path for BOTH dup_spans and
    remove_dup_spans."""
    rows = [
        (1, "a b c d e f g h i j k l a b c d e f g h i j"),
        (2, "z z a b c d e f g h i j q"),
        (3, "p q r s t u v w aa bb cc dd"),
        (4, "p q r s t u v w aa bb cc dd"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans_mem = sorted(map(tuple, dedup.dup_spans(df, n=10).collect()))
    spans_disk = sorted(map(tuple, dedup.dup_spans(
        df, n=10, work_dir=str(tmp_path / "ds")).collect()))
    assert spans_mem == spans_disk and spans_mem
    rm_mem = _rds_rows(dedup.remove_dup_spans(df, n=10))
    rm_disk = _rds_rows(dedup.remove_dup_spans(
        df, n=10, work_dir=str(tmp_path / "rds")))
    assert rm_mem == rm_disk and rm_mem


def test_decontaminate_shuffle_path_matches_broadcast(spark):
    """broadcast_index=False (the large-eval-set escape hatch) must be
    row-identical to the broadcast form, and only the broadcast form
    may carry the broadcast hint in its optimized plan."""
    from fastpasta_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "totally unrelated words live here now"),
         (3, "alpha beta gamma delta epsilon"),
         (4, None)],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta"),
         (101, "")],
        "bench_id long, text string")
    bc = decontaminate(corpus, bench, n=5, min_overlap=1,
                       bench_id_col="bench_id")
    sh = decontaminate(corpus, bench, n=5, min_overlap=1,
                       bench_id_col="bench_id", broadcast_index=False)
    assert sorted(map(tuple, bc.collect())) == sorted(map(tuple, sh.collect()))
    assert "ResolvedHint" in bc._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in sh._jdf.queryExecution().analyzed().toString()


def test_span_work_dir_shared_by_two_calls_no_clobber(spark, tmp_path):
    """Two span-family calls sharing one work_dir must not overwrite
    each other's materialized occurrences while a lazy consumer still
    reads them (unique per-call subdirs)."""
    from fastpasta_spark.operators.dedup import dup_spans, remove_dup_spans

    w = str(tmp_path / "shared")
    para = "alpha beta gamma delta " * 8
    d1 = spark.createDataFrame(
        [(1, para + "one"), (2, para + "two")], "doc_id long, text string")
    d2 = spark.createDataFrame(
        [(9, "totally different words here " * 10)],
        "doc_id long, text string")
    r1 = dup_spans(d1, n=8, work_dir=w)           # lazy
    r2 = remove_dup_spans(d2, n=8, work_dir=w)    # second call, same dir
    got1 = r1.collect()                            # consume AFTER r2 built
    assert got1 and all(r["doc_id"] in (1, 2) for r in got1)
    assert all(r["doc_id"] == 9 for r in r2.collect())


def _py_remove_contaminated(rows, bench, n):
    """Pure-python twin of dedup.remove_contaminated_spans;
    rows = [(id, text)] unique non-None ids, bench = [text]."""
    bench_keys = set()
    for t in bench:
        tv = py_tokens(t)
        for j in range(len(tv) - n + 1):
            bench_keys.add(" ".join(tv[j:j + n]))
    out = []
    for i, t in rows:
        if i is None:
            continue
        tv = py_tokens(t)
        cut_starts = [j for j in range(len(tv) - n + 1)
                      if " ".join(tv[j:j + n]) in bench_keys]
        islands = []
        for j in cut_starts:
            if islands and j - islands[-1][1] <= n:
                islands[-1][1] = j
            else:
                islands.append([j, j])
        cutset = set()
        for a, b in islands:
            cutset.update(range(a, b + n))
        kept = [tv[p] for p in range(len(tv)) if p not in cutset]
        out.append((i, " ".join(kept), len(kept), len(tv), len(islands)))
    return sorted(out)


def test_remove_contaminated_spans_excises_eval_text(spark):
    from fastpasta_spark.operators.dedup import remove_contaminated_spans

    eval_q = "what is the capital of france and when was it founded"
    clean = ("training data about completely unrelated topics with many "
             "ordinary words that never appear in the benchmark at all")
    leaked = f"some prefix text here {eval_q} and then a suffix follows"
    corpus = spark.createDataFrame(
        [(1, leaked), (2, clean), (3, None), (None, leaked)],
        "doc_id long, text string")
    bench = spark.createDataFrame([(100, eval_q)],
                                  "bench_id long, text string")
    got = {r.doc_id: r for r in remove_contaminated_spans(
        corpus, bench, n=5).collect()}
    assert set(got) == {1, 2, 3}           # NULL id dropped
    assert "capital" not in got[1].clean_text
    assert got[1].clean_text.startswith("some prefix")
    assert got[1].n_cut_spans == 1 and got[1].n_kept < got[1].n_total
    assert got[2].clean_text == " ".join(py_tokens(clean))  # untouched
    assert got[3] == (3, "", 0, 0, 0)       # NULL text -> empty rebuild
    want = _py_remove_contaminated(
        [(1, leaked), (2, clean), (3, None)], [eval_q], 5)
    assert sorted((r.doc_id, r.clean_text, r.n_kept, r.n_total,
                   r.n_cut_spans) for r in got.values()) == want


def test_remove_contaminated_spans_property_and_shuffle_parity(spark):
    import random

    from fastpasta_spark.operators.dedup import remove_contaminated_spans

    rng = random.Random(11)
    vocab = "a b c d e f g h i j k".split()
    bench = [" ".join(rng.choices(vocab, k=rng.randrange(4, 15)))
             for _ in range(6)]
    rows = []
    for i in range(60):
        body = " ".join(rng.choices(vocab, k=rng.randrange(0, 30)))
        if rng.random() < 0.5:  # embed an eval snippet mid-document
            b = rng.choice(bench)
            body = f"{body} {b} {body}"
        rows.append((i, body if rng.random() > 0.05 else None))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    bdf = spark.createDataFrame([(i, t) for i, t in enumerate(bench)],
                                "bench_id long, text string")
    want = _py_remove_contaminated(rows, bench, 4)
    for bc in (True, False):
        got = sorted(
            (r.doc_id, r.clean_text, r.n_kept, r.n_total, r.n_cut_spans)
            for r in remove_contaminated_spans(
                corpus, bdf, n=4, broadcast_index=bc).collect())
        assert got == want, f"broadcast_index={bc}"


# ---------------------------------------------------------------------------
# Arrow text kernels (operators/arrowtext.py) vs the Python twins —
# exact-integer parity on hostile text
# ---------------------------------------------------------------------------

HOSTILE_ROWS = [
    (0, "the quick brown fox jumps over the lazy dog", "s0"),
    (1, "", "s0"),                       # empty -> [''] shingle
    (2, None, "s0"),                     # NULL text
    (3, "one two", "s1"),                # < n tokens
    (4, "ONE two THREE four FIVE six", "s1"),     # case fold
    (5, "tabs\tand\nnewlines  and   runs!!!", "s1"),
    (6, "unicode éü中文 mixed ascii words here", "s1"),
    (7, "repeat repeat repeat repeat repeat repeat", "s0"),
    (8, "numbers 123 456 789 0 mixed a1b2c3 tokens", "s0"),
    (9, "x " * 50, "s1"),                # long run, duplicate shingles
    (10, "İstanbul Iı dotted undotted", "s0"),  # fold edge
    (11, "a-b_c.d,e;f:g h", "s1"),       # separators only between chars
    (12, "!!! ... 中文 —", "s0"),         # non-empty but token-free
]


@pytest.fixture(scope="module")
def hostile(spark):
    return spark.createDataFrame(
        HOSTILE_ROWS, "doc_id long, text string, source string").cache()


def _py_index(n, drop_empty):
    """Python twin of the hashed shingle index: {doc_id: shingle set};
    NULL text has no entry (no index rows)."""
    return {i: {s for s in _py_shingles(t, n) if s or not drop_empty}
            for i, t, _src in HOSTILE_ROWS if t is not None}


def test_minhash_arrow_matches_python(spark, hostile):
    from fastpasta_spark.operators.arrowtext import minhash_signature_arrow

    got = {r.doc_id: r.minhash
           for r in minhash_signature_arrow(hostile, k=8, n=3).collect()}
    assert got == {i: _py_minhash(t) for i, t, _src in HOSTILE_ROWS}
    # NULL text -> NULL signature; empty text -> the '' shingle's
    assert got[2] is None and got[1] is not None


def test_simhash_arrow_matches_python(spark, hostile):
    got = {r.doc_id: r.simhash for r in
           dedup.simhash_fingerprints(hostile, bits=32).collect()}
    assert got == {i: _py_simhash(t) for i, t, _src in HOSTILE_ROWS}
    # token-free docs (empty, NULL, punctuation/non-ASCII only) hash to 0
    assert got[1] == got[2] == got[12] == 0


def test_shingle_index_arrow_matches_python(spark, hostile):
    from fastpasta_spark.operators.arrowtext import shingle_index_arrow

    # jaccard form: n_sh + within passthrough, '' kept
    got = sorted(map(tuple, shingle_index_arrow(
        hostile, "doc_id", "text", 3, within_col="source",
        with_count=True).collect()))
    src = {i: g for i, _t, g in HOSTILE_ROWS}
    assert got == sorted((i, len(sh), src[i], py_md5_hash(s))
                         for i, sh in _py_index(3, False).items()
                         for s in sh)
    assert [r for r in got if r[0] == 1] == [(1, 1, "s0", py_md5_hash(""))]

    # decontam form: no count, '' dropped
    got5 = sorted(map(tuple, shingle_index_arrow(
        hostile, "doc_id", "text", 5, with_count=False,
        drop_empty=True).collect()))
    assert got5 == sorted((i, py_md5_hash(s))
                          for i, sh in _py_index(5, True).items()
                          for s in sh)
    ids = {r[0] for r in got + got5}
    assert 2 not in ids                   # NULL text: no index rows
    assert 1 not in {r[0] for r in got5}  # empty text: '' dropped


def test_jaccard_and_decontam_arrow_path_parity(spark, hostile):
    """End-to-end: jaccard_pairs, decontaminate and
    minhash_near_duplicates on hostile text equal their Python twins."""
    src = {i: g for i, _t, g in HOSTILE_ROWS}
    sh3 = _py_index(3, False)
    jac = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.jaccard_pairs(
        hostile, threshold=0.01, within_col="source", max_df=200).collect()}
    want = {}
    for a, b in itertools.combinations(sorted(sh3), 2):
        inter = len(sh3[a] & sh3[b])
        if src[a] == src[b] and inter:
            j = inter / (len(sh3[a]) + len(sh3[b]) - inter)
            if round(j, 6) >= 0.01:
                want[(a, b)] = j
    assert jac.keys() == want.keys() and len(jac) > 0
    assert all(abs(jac[p] - want[p]) < 1e-6 for p in jac)

    bench = hostile.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("bench_id"), "text")
    dec = sorted(map(tuple, dedup.decontaminate(
        hostile, bench, n=3, min_overlap=1).collect()))
    sh3d = _py_index(3, True)
    assert dec == sorted(
        (c, b, len(sh3d[c] & sh3d[b]))
        for c in sh3d for b in sh3d if b < 4 and sh3d[c] & sh3d[b])
    assert dec

    lsh = {(r.doc_a, r.doc_b): r.est_jaccard
           for r in dedup.minhash_near_duplicates(
               hostile, threshold=0.2).collect()}
    sig = {i: _py_minhash(t, k=32) for i, t, _src in HOSTILE_ROWS
           if t is not None}
    want_lsh = {}
    for a, b in itertools.combinations(sorted(sig), 2):
        if any(sig[a][j:j + 4] == sig[b][j:j + 4] for j in range(0, 32, 4)):
            est = sum(x == y for x, y in zip(sig[a], sig[b])) / 32
            if est >= 0.2:
                want_lsh[(a, b)] = est
    assert lsh == want_lsh
