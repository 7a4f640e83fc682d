"""Arrow-batched kernels for the tokenize/shingle/hash work of the text
operators: dedup's minhash, simhash and shingle index, and
textstats.with_textstats.

Lambda-bearing SQL expressions (transform/filter/aggregate) never reach
whole-stage codegen — every array element is an interpreted expression
eval — and shingle pipelines additionally re-evaluate the token
expression inside per-shingle lambdas. These mapInArrow kernels do the
work as what it fundamentally is: one tokenize+md5 pass per row.

They compute the portable md5-derived integers: tokenization is
`functions/hashing.py_tokens` (the fuzz-pinned python twin of
`spark_tokens` — hostile-text parity across 3 seeds x 30k docs x 7
legs, scripts/fuzz_scoring.py), hashes are `py_md5_hash`'s 60-bit md5
prefix, and the minhash mix family is the same
`(h % MIX_MOD) * a + b % MIX_MOD` affine arithmetic in exact int64.
Every output is an INTEGER, so each kernel is an exact twin of the
Python twins and DuckDB oracle — bit-exact, not float-rounded — pinned
per operator in tests/test_dedup.py and tests/test_textstats.py.

Heavy init (mix constants, numpy arrays) happens once per task before
the batch loop (guide §4.5); a module-level shingle-hash cache
amortizes md5 across batches of a reused worker.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastpasta_spark.functions.hashing import (
    MIX_MOD,
    mix_constants,
    py_tokens,
)

# worker-lifetime md5 memo (spark.python.worker.reuse keeps it across
# tasks); bounded like sequence.py's kv_cache so a high-entropy corpus
# cannot grow it without limit
_HASH_CACHE_MAX = 1 << 20
_hash_cache: dict[str, int] = {}


def _h60(s: str) -> int:
    """60-bit md5 prefix — py_md5_hash inlined with a memo."""
    h = _hash_cache.get(s)
    if h is None:
        if len(_hash_cache) > _HASH_CACHE_MAX:
            _hash_cache.clear()
        h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        _hash_cache[s] = h
    return h


def _shingles(text, n: int) -> list[str] | None:
    """DISTINCT word n-gram shingles in first-occurrence order — exact
    twin of the Python twins and DuckDB oracle: fewer than n tokens
    yields the single joined-tokens shingle ('' for EMPTY text), while
    NULL text yields None (no shingle set at all, not ['']); callers
    emit a NULL signature / no index rows for it."""
    if text is None:
        return None
    toks = py_tokens(text)
    if len(toks) < n:
        return [" ".join(toks)]
    return list(dict.fromkeys(
        " ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)))


def minhash_signature_arrow(df: DataFrame, k: int = 32, n: int = 3,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            out_col: str = "minhash") -> DataFrame:
    """(id_col, minhash array<bigint>) — k-permutation MinHash over the
    DISTINCT shingle set, exact twin of the Python twins and DuckDB
    oracle: ONE md5 per shingle, then k affine mixes mod MIX_MOD
    (functions/hashing.py mix family), min per permutation. NULL text
    gives a NULL signature.

    Being a physical mapInArrow node it is a natural ProjectionCollapse
    boundary — downstream band/element references read the
    materialized column instead of re-inlining the shingle chain. Each
    consumer of an unpersisted result still re-runs the stage, so
    multi-consumer callers persist it (dedup.minhash_near_duplicates).
    """
    consts = mix_constants(k)
    a_vec = np.array([a for a, _ in consts], dtype=np.int64)
    b_vec = np.array([b for _, b in consts], dtype=np.int64)
    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, {out_col} array<bigint>"

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            texts = batch.column(text_col).to_pylist()
            res: list = [None] * len(texts)
            for i, t in enumerate(texts):
                sh = _shingles(t, n)
                if sh is None:  # NULL text -> NULL signature array
                    continue
                hs = np.fromiter((_h60(s) for s in sh), np.int64, len(sh))
                mixed = ((hs[:, None] % MIX_MOD) * a_vec[None, :]
                         + b_vec[None, :]) % MIX_MOD
                res[i] = mixed.min(axis=0)
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col),
                 pa.array(res, type=pa.list_(pa.int64()))],
                names=[id_col, out_col])

    return df.select(id_col, text_col).mapInArrow(fn, schema)


def simhash_arrow(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", bits: int = 32,
                  out_col: str = "simhash") -> DataFrame:
    """(id_col, simhash bigint) — exact twin of the Python twins and
    DuckDB oracle: per bit b, sign of sum over DISTINCT tokens of (+1
    if bit b of the 60-bit token hash set else -1); token-free docs
    (NULL text included) hash to 0."""
    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, {out_col} bigint"
    weights = (1 << np.arange(bits)).astype(np.int64)
    shifts = np.arange(bits, dtype=np.int64)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            texts = batch.column(text_col).to_pylist()
            m = len(texts)
            res = np.zeros(m, dtype=np.int64)
            for i, t in enumerate(texts):
                toks = list(dict.fromkeys(py_tokens(t)))
                if not toks:
                    continue
                hs = np.fromiter((_h60(s) for s in toks), np.int64,
                                 len(toks))
                signs = (((hs[:, None] >> shifts[None, :]) & 1) * 2 - 1)
                res[i] = int(weights[signs.sum(axis=0) > 0].sum())
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), pa.array(res)],
                names=[id_col, out_col])

    return df.select(id_col, text_col).mapInArrow(fn, schema)


_FP_CACHE: dict[str, int] = {}


def _h48(s: str) -> int:
    """48-bit md5 prefix (12 hex chars) — the fingerprint token hash."""
    h = _FP_CACHE.get(s)
    if h is None:
        if len(_FP_CACHE) > _HASH_CACHE_MAX:
            _FP_CACHE.clear()
        h = int(hashlib.md5(s.encode()).hexdigest()[:12], 16)
        _FP_CACHE[s] = h
    return h


def _round_half_up(x: float, dp: int = 6) -> float:
    """Twin of Spark round(double, dp): HALF_UP on the shortest decimal
    representation (java BigDecimal.valueOf == python repr())."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp),
                                           rounding=ROUND_HALF_UP))


def textstats_arrow(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The kernel behind textstats.with_textstats — all input columns
    plus (n_tokens, quality, fingerprint, lang_pred) computed in one
    Python pass per batch; exact twin of the Python twins and DuckDB
    oracle, and of textstats' individual JVM operators on non-NULL text.

    Semantics replicated precisely (pinned in tests/test_textstats.py):
    n_chars counts CODE POINTS (Spark length() is UTF8String.numChars,
    same as Python len — NOT Java String.length's UTF-16 units); the
    alpha ratio counts [a-z] after lowercasing; quality terms sum
    left-to-right and round HALF_UP on the shortest-repr decimal (Spark
    round); ratio/best equality for lang_pred compares the identical
    IEEE doubles; fingerprint is the exact 48-bit-md5 rolling hash mod
    2^31-1. NULL text gives n_tokens 0, fingerprint 0, quality 0.25
    (the stopword term counts as satisfied while the alpha term stays
    0) and lang_pred 'unk'.
    """
    from fastpasta_spark.operators.textstats import STOPWORDS

    import re as _re

    langs = list(STOPWORDS)
    swsets = [frozenset(STOPWORDS[lg]) for lg in langs]
    sw_arrays = [pa.array(sorted(s)) for s in swsets]
    az = _re.compile("[a-z]")
    in_schema = df.schema
    parts = [f"{f.name} {f.dataType.simpleString()}" for f in in_schema]
    schema = ", ".join(parts + ["n_tokens int", "quality double",
                                "fingerprint bigint", "lang_pred string"])
    names = [f.name for f in in_schema]
    mod = 2147483647
    K = 1000003

    def _slow_row(t: str) -> tuple[int, float, int, str]:
        """The original per-row python path — kept verbatim for
        non-ASCII rows, where python str.lower()/len vs the Arrow
        utf8_* kernels could disagree on exotic case mappings."""
        toks = py_tokens(t)
        nt = len(toks)
        denom = max(nt, 1)
        ratios = [sum(1 for w in toks if w in s) / denom for s in swsets]
        best = max(ratios)
        lg = langs[ratios.index(best)] if best > 0 else "unk"
        n_chars = len(t)  # Spark length() = code points
        mean_wl = float(n_chars) / denom
        alpha = len(az.findall(t.lower())) / max(n_chars, 1)
        q = ((0.25 if 50 <= n_chars <= 5000 else 0.0)
             + (0.25 if 3.0 <= mean_wl <= 12.0 else 0.0)
             + 0.25 * min(alpha * 1.25, 1.0)
             + 0.25 * min(ratios[0] * 5.0, 1.0))
        acc = 7
        for w in toks:
            acc = (acc * K + _h48(w)) % mod
        return nt, _round_half_up(q, 6), acc, lg

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ta = batch.column(text_col)
            m = len(ta)
            n_toks = np.zeros(m, dtype=np.int64)
            quality = np.zeros(m, dtype=np.float64)
            fprint = np.zeros(m, dtype=np.int64)
            lang: list = ["unk"] * m
            # round-8: ASCII rows (the bulk of any real batch) run a
            # fully vectorized pipeline — ascii_lower IS translate(A-Z)
            # and utf8_length IS len() on ASCII, so the arrow kernels
            # are exact twins there; non-ASCII rows keep the per-row
            # python path so hostile unicode parity is untouched.
            # and_kleene: FALSE & NULL is a definite FALSE (plain and_
            # would yield NULL for null-text rows and break to_numpy)
            fast = (pc.and_kleene(pc.is_valid(ta), pc.string_is_ascii(ta))
                    .to_numpy(zero_copy_only=False).astype(bool))
            slow_idx = np.nonzero(~fast)[0]
            if slow_idx.size:
                vals = ta.to_pylist()
                for i in slow_idx:
                    t = vals[i]
                    if t is None:
                        # NULL-coerced-to-0 ints + least()-skipped term
                        quality[i] = 0.25
                        continue
                    n_toks[i], quality[i], fprint[i], lang[i] = _slow_row(t)
            fi = np.nonzero(fast)[0]
            if fi.size:
                sub = pc.take(ta, pa.array(fi))
                folded = pc.ascii_lower(sub)
                lst = pc.split_pattern_regex(folded, "[^a-z0-9]+")
                flat = pc.list_flatten(lst)
                counts_all = pc.list_value_length(lst).to_numpy()
                row_of = np.repeat(np.arange(fi.size), counts_all)
                keep = pc.not_equal(flat, "").to_numpy(
                    zero_copy_only=False).astype(bool)
                trow = row_of[keep]
                nt = np.bincount(trow, minlength=fi.size).astype(np.int64)
                tokens = flat.filter(pa.array(keep))
                denom = np.maximum(nt, 1).astype(np.float64)
                ratios = np.empty((len(sw_arrays), fi.size),
                                  dtype=np.float64)
                for j, swa in enumerate(sw_arrays):
                    hit = pc.is_in(tokens, value_set=swa).to_numpy(
                        zero_copy_only=False).astype(bool)
                    ratios[j] = np.bincount(
                        trow[hit], minlength=fi.size) / denom
                best = ratios.max(axis=0)
                pick = ratios.argmax(axis=0)  # first max, like .index()
                n_chars = pc.utf8_length(sub).to_numpy().astype(np.int64)
                mean_wl = n_chars / denom
                alpha_cnt = pc.utf8_length(pc.replace_substring_regex(
                    folded, "[^a-z]", "")).to_numpy()
                alpha = alpha_cnt / np.maximum(n_chars, 1)
                # identical left-to-right term order as the scalar path
                q = (np.where((n_chars >= 50) & (n_chars <= 5000),
                              0.25, 0.0)
                     + np.where((mean_wl >= 3.0) & (mean_wl <= 12.0),
                                0.25, 0.0)
                     + 0.25 * np.minimum(alpha * 1.25, 1.0)
                     + 0.25 * np.minimum(ratios[0] * 5.0, 1.0))
                # rolling fingerprint, closed form: acc_n = (7*K^n +
                # sum_i h_i * K^(n-1-i)) mod m — per-term products stay
                # under 2^62 ((h%m)*P < 2^31 * 2^31) and per-row sums
                # under 2^53, so int64 / exact-float64 arithmetic holds
                max_n = int(nt.max()) if fi.size else 0
                P = np.empty(max_n + 1, dtype=np.int64)
                P[0] = 1
                for e in range(1, max_n + 1):
                    P[e] = (P[e - 1] * K) % mod
                toks_py = tokens.to_pylist()
                hs = np.fromiter((_h48(s) for s in toks_py), np.int64,
                                 len(toks_py))
                starts = np.zeros(fi.size, dtype=np.int64)
                if fi.size > 1:
                    np.cumsum(nt[:-1], out=starts[1:])
                pos = np.arange(len(toks_py), dtype=np.int64) - starts[trow]
                expo = nt[trow] - 1 - pos
                contrib = ((hs % mod) * P[expo]) % mod
                sums = np.bincount(trow, weights=contrib,
                                   minlength=fi.size).astype(np.int64)
                fp = (7 * P[nt] % mod + sums) % mod
                n_toks[fi] = nt
                fprint[fi] = fp
                for j, i in enumerate(fi):
                    quality[i] = _round_half_up(float(q[j]), 6)
                    if best[j] > 0:
                        lang[i] = langs[pick[j]]
            yield pa.RecordBatch.from_arrays(
                [batch.column(j) for j in range(batch.num_columns)]
                + [pa.array(n_toks, pa.int32()),
                   pa.array(quality, pa.float64()),
                   pa.array(fprint, pa.int64()),
                   pa.array(lang, pa.string())],
                names=names + ["n_tokens", "quality", "fingerprint",
                               "lang_pred"])

    return df.mapInArrow(fn, schema)


def shingle_index_arrow(df: DataFrame, id_col: str, text_col: str,
                        n: int, within_col: str | None = None,
                        with_count: bool = True,
                        drop_empty: bool = False,
                        out_col: str = "shingle") -> DataFrame:
    """Exploded hashed-shingle inverted index — exact twin of the Python
    twins and DuckDB oracle — for ``dedup.jaccard_pairs``
    (with_count=True: carries n_sh = DISTINCT shingle count) and
    ``dedup.decontaminate`` (drop_empty=True: the '' shingle of
    token-free docs is dropped BEFORE hashing). NULL text emits no rows.
    Output: (id_col[, n_sh][, within_col], out_col bigint)."""
    dtypes = dict(df.dtypes)
    parts = [f"{id_col} {dtypes[id_col]}"]
    if with_count:
        parts.append("n_sh int")
    if within_col:
        parts.append(f"{within_col} {dtypes[within_col]}")
    parts.append(f"{out_col} bigint")
    schema = ", ".join(parts)
    in_cols = [id_col] + ([within_col] if within_col else []) + [text_col]

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            texts = batch.column(text_col).to_pylist()
            m = len(texts)
            counts = np.empty(m, dtype=np.int64)
            hashes: list[int] = []
            for i, t in enumerate(texts):
                sh = _shingles(t, n)
                if sh is None:  # NULL text: explode(NULL) emits no rows
                    counts[i] = 0
                    continue
                if drop_empty:
                    sh = [s for s in sh if s]
                counts[i] = len(sh)
                hashes.extend(_h60(s) for s in sh)
            idx = pa.array(np.repeat(np.arange(m), counts))
            cols = [pc.take(batch.column(id_col), idx)]
            names = [id_col]
            if with_count:
                cols.append(pa.array(
                    np.repeat(counts, counts).astype(np.int32)))
                names.append("n_sh")
            if within_col:
                cols.append(pc.take(batch.column(within_col), idx))
                names.append(within_col)
            cols.append(pa.array(np.array(hashes, dtype=np.int64)))
            names.append(out_col)
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.select(*in_cols).mapInArrow(fn, schema)
