"""Seeded benchmark inputs, generated once and cached on disk.

Every input is a pure function of (workload, seed, GENERATOR_VERSION,
INPUT_VERSION). It is written under ``<checkout>/.perfbench/inputs`` with
a ``meta.json`` marker that is written last, so an interrupted
generation is redone rather than read half-written. Generation time is
recorded in the marker as information; it is never part of a timed
metric.

The interleaved-docs corpora (checkall_batch and its streaming drain) come from
``fastpasta_spark.sources.synth`` at the BENCH/BASELINE doc shape. While
generating, the pure-Python reference checks (``functions.fsm``) run over
every row, so each corpus carries its expected statistics: the golden
stats file that ``golden_diff`` must match, and the per-code totals the
streaming sink must hold. The curation tables (curate_docs) are built
here with numpy; their expected query results are pinned in
``curate_expected.json`` (see ``oracle.py``).
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from fastpasta_spark import schema as S
from fastpasta_spark.functions.fsm import stateless_doc_checks, validate_spans
from fastpasta_spark.sources import synth
from fastpasta_spark.sources.synth import GENERATOR_VERSION, CorpusConfig

# bump when the generators below change what a seed generates (the
# cache keys already carry the input sizes)
INPUT_VERSION = 1
# seeds kept per workload; older ones are deleted
KEEP_SEEDS = 24

CHECKALL_DOCS = 20_000
CHECKALL_FILES = 16
STREAM_FILES = 40
STREAM_DOCS_PER_FILE = 150
STREAM_WARMUP_FILES = 2

CURATE_BASE_DOCS = 5_000
CURATE_BASE_VECS = 2_000
CURATE_COPIES = 2
CURATE_VARIANTS = 3

_SPANS_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32())]))
_HIST_EDGES = np.array([0, 8, 16, 32, 64, 128, 256, 512, 1024])


def corpus_config(n_docs: int, seed: int) -> CorpusConfig:
    """The BENCH/BASELINE doc shape: 4-8 frames x 5-12 content spans,
    5% corrupt docs, 0.5% duplicate-key rows."""
    return CorpusConfig(n_docs=n_docs, seed=seed, corrupt_per_mille=50,
                        dup_per_mille=5, min_frames=4, max_frames=8,
                        min_content=5, max_content=12)


def _cache_root(root: str) -> str:
    return os.path.join(root, ".perfbench", "inputs",
                        f"g{GENERATOR_VERSION}-i{INPUT_VERSION}")


def _cached(root: str, workload: str, key: str, build) -> tuple[str, dict]:
    """Return (dir, meta) for an input, building it on a miss."""
    base = os.path.join(_cache_root(root), workload)
    path = os.path.join(base, key)
    marker = os.path.join(path, "meta.json")
    if os.path.exists(marker):
        os.utime(path)
        with open(marker) as f:
            return path, json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    t0 = time.perf_counter()
    meta = build(path)
    meta["generate_s"] = time.perf_counter() - t0
    with open(marker, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    _evict(base)
    return path, meta


def _evict(base: str) -> None:
    entries = sorted((os.path.getmtime(os.path.join(base, d)), d)
                     for d in os.listdir(base))
    for _, d in entries[:-KEEP_SEEDS]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)


# --------------------------------------------------------------------------
# interleaved-docs corpora + pure-Python expectations
# --------------------------------------------------------------------------


class _Expect:
    """Accumulates what check_all must report, from the reference checks."""

    def __init__(self) -> None:
        self.code_rows: dict[str, int] = {}
        self.code_docs: dict[str, set] = {}
        self.failed_docs: set = set()
        self.fail_codes: set = set()
        self.key_rows: dict[str, int] = {}
        self.stats: dict[str, float] = {}
        self.text_min: float | None = None
        self.text_max: float | None = None

    def violation(self, doc_id: str, code: str, sev: str) -> None:
        self.code_rows[code] = self.code_rows.get(code, 0) + 1
        self.code_docs.setdefault(code, set()).add(doc_id)
        if sev != S.SEV_WARNING:
            self.failed_docs.add(doc_id)
            self.fail_codes.add(code)

    def stat(self, name: str, v: float) -> None:
        self.stats[name] = self.stats.get(name, 0.0) + v

    def row(self, doc_id: str, spans: list[dict], media_ids: frozenset) -> None:
        tuples = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in spans]
        for _, _, code, sev, _ in stateless_doc_checks(
                doc_id, tuples or None, valid_media_ids=media_ids):
            self.violation(doc_id, code, sev)
        for _, _, code, sev, _ in validate_spans(tuples):
            self.violation(doc_id, code, sev)
        self.key_rows[doc_id] = self.key_rows.get(doc_id, 0) + 1
        self.stat("docs_seen", 1)
        self.stat("spans_seen", len(tuples))
        for kind, text, _, _ in tuples:
            name = kind if kind in S.VALID_KINDS else "invalid"
            self.stat(f"kind_count_{name}", 1)
            if kind != S.KIND_TEXT:
                continue
            if text is None:
                self.stat("text_null_count", 1)
                continue
            self.stats.setdefault("text_null_count", 0.0)
            n = len(text)
            self.stat("text_len_sum", n)
            self.text_min = n if self.text_min is None else min(self.text_min, n)
            self.text_max = n if self.text_max is None else max(self.text_max, n)
            b = int(np.searchsorted(_HIST_EDGES, n, side="right")) - 1
            self.stat(f"text_len_hist_ge_{_HIST_EDGES[b]}", 1)

    def merge(self, other: "_Expect") -> None:
        for k, v in other.code_rows.items():
            self.code_rows[k] = self.code_rows.get(k, 0) + v
        for k, v in other.code_docs.items():
            self.code_docs.setdefault(k, set()).update(v)
        self.failed_docs |= other.failed_docs
        self.fail_codes |= other.fail_codes
        for k, v in other.key_rows.items():
            self.key_rows[k] = self.key_rows.get(k, 0) + v
        for k, v in other.stats.items():
            self.stat(k, v)
        for attr, pick in (("text_min", min), ("text_max", max)):
            a, b = getattr(self, attr), getattr(other, attr)
            setattr(self, attr, b if a is None else a if b is None else pick(a, b))

    def golden(self) -> dict[str, float]:
        """Every metric check_all reports, as the reference predicts it.
        The HLL estimate is pinned to the exact count; golden_diff
        compares it within its own tolerance."""
        for doc_id, n in self.key_rows.items():
            if n > 1:
                self.violation(doc_id, S.E100_DUPLICATE_KEY, S.SEV_ERROR)
        g = dict(self.stats)
        if self.text_min is not None:
            g["text_len_min"] = float(self.text_min)
            g["text_len_max"] = float(self.text_max)
        for code, n in self.code_rows.items():
            g[f"error_count_{code}"] = float(n)
            g[f"error_docs_{code}"] = float(len(self.code_docs[code]))
        g["total_errors"] = float(sum(self.code_rows.values()))
        g["docs_with_errors"] = float(len(self.failed_docs))
        g["error_codes_distinct"] = float(len(self.fail_codes))
        distinct = float(len(self.key_rows))
        g["doc_id_distinct_exact"] = distinct
        g["doc_id_distinct_hll"] = distinct
        return g


def _logical_index(i: int, cfg: CorpusConfig) -> int:
    """Row i of corpus_df: rows past n_docs repeat an existing doc."""
    if i < cfg.n_docs:
        return i
    return synth.splitmix64(cfg.seed + i) % cfg.n_docs


def _write_rows(job: tuple) -> _Expect:
    cfg, lo, hi, path = job
    media_ids = frozenset(f"m{i}" for i in range(cfg.n_media))
    exp = _Expect()
    ids, spans = [], []
    for i in range(lo, hi):
        doc_id, sp, _ = synth.gen_doc(_logical_index(i, cfg), cfg)
        exp.row(doc_id, sp, media_ids)
        ids.append(doc_id)
        spans.append(sp)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.string()),
                             "spans": pa.array(spans, _SPANS_TYPE)}), path)
    return exp


def _write_corpus(cfg: CorpusConfig, out_dir: str, n_files: int) -> _Expect:
    """Write corpus_df(cfg)'s rows as n_files parquet files (row order
    kept) and return the reference expectations over all of them."""
    os.makedirs(out_dir, exist_ok=True)
    total = cfg.n_docs + cfg.n_docs * cfg.dup_per_mille // 1000
    cuts = np.linspace(0, total, n_files + 1).astype(int)
    jobs = [(cfg, int(cuts[f]), int(cuts[f + 1]),
             os.path.join(out_dir, f"part-{f:05d}.parquet"))
            for f in range(n_files)]
    procs = max(1, min(4, len(os.sched_getaffinity(0))))
    # fork: this runs before the Spark session and before any thread of
    # this process exists; spawn would leave a semaphore-tracker process
    # running until exit
    pool = multiprocessing.get_context("fork").Pool(procs)
    try:
        parts = pool.map(_write_rows, jobs)
    finally:
        pool.close()
        pool.join()
    exp = _Expect()
    for p in parts:
        exp.merge(p)
    return exp


def checkall_input(root: str, seed: int) -> tuple[str, dict]:
    """checkall_batch: one corpus directory + its pinned golden stats."""
    def build(path: str) -> dict:
        cfg = corpus_config(CHECKALL_DOCS, seed)
        exp = _write_corpus(cfg, os.path.join(path, "docs"), CHECKALL_FILES)
        golden = exp.golden()
        with open(os.path.join(path, "golden.json"), "w") as f:
            json.dump(golden, f, indent=1, sort_keys=True)
        return {"n_docs": cfg.n_docs, "n_rows": int(golden["docs_seen"]),
                "n_media": cfg.n_media}
    return _cached(root, "checkall_batch",
                   f"n{CHECKALL_DOCS}-f{CHECKALL_FILES}-seed{seed}", build)


def stream_input(root: str, seed: int) -> tuple[str, dict]:
    """The streaming drain of traced checkall_batch runs: many small files
    and their expected per-code violation totals, plus a few files of
    another corpus for the warm-up drain. The warm-up corpus is the same
    for every seed, so it is generated once."""
    def build_warmup(path: str) -> dict:
        warm = corpus_config(STREAM_WARMUP_FILES * STREAM_DOCS_PER_FILE, 0)
        _write_corpus(warm, os.path.join(path, "files"), STREAM_WARMUP_FILES)
        return {}

    def build(path: str) -> dict:
        n = STREAM_FILES * STREAM_DOCS_PER_FILE
        cfg = corpus_config(n, seed)
        exp = _write_corpus(cfg, os.path.join(path, "files"), STREAM_FILES)
        golden = exp.golden()
        return {"n_docs": n, "n_rows": int(golden["docs_seen"]),
                "n_files": STREAM_FILES, "n_media": cfg.n_media,
                "code_rows": {c: int(golden[f"error_count_{c}"])
                              for c in exp.code_rows}}
    shape = f"{STREAM_DOCS_PER_FILE}x"
    warmup, _ = _cached(root, "stream_warmup",
                        f"{shape}{STREAM_WARMUP_FILES}", build_warmup)
    path, meta = _cached(root, "stream_validate",
                         f"{shape}{STREAM_FILES}-seed{seed}", build)
    return path, {**meta, "warmup": os.path.join(warmup, "files")}


# --------------------------------------------------------------------------
# curation tables
# --------------------------------------------------------------------------

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ("en", "de", "fr", "es", "zh")


def _base_documents(rng: np.random.Generator) -> dict:
    """sf0.1-shaped documents: 10-100 words over a 30-word vocabulary,
    20 sources, 41% 'en'; 4% near-duplicates (a few words replaced,
    one by the rare word 'dup') and 0.2% exact copies of an earlier doc
    of the same source."""
    n = CURATE_BASE_DOCS
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i >= 40 and u < 0.042:
            j = i - 20 * int(rng.integers(1, i // 20 + 1))
            words = texts[j].split(" ")
            if u >= 0.002:
                for _ in range(int(rng.integers(1, 4))):
                    words[int(rng.integers(len(words)))] = (
                        _WORDS[int(rng.integers(len(_WORDS)))])
                words[int(rng.integers(len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[w] for w in
                                  rng.integers(len(_WORDS), size=k)))
    langs = np.where(rng.random(n) < 0.41, 0, rng.integers(1, 5, size=n))
    return {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": [_LANGS[k] for k in langs],
            "source": [f"src{i % 20}" for i in range(n)]}


def _base_embeddings(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    n, dim, k = CURATE_BASE_VECS, 64, 10
    centers = rng.normal(size=(k, dim))
    labels = rng.integers(k, size=n).astype(np.int32)
    vecs = centers[labels] + 1.5 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels


def _rotate(text: str, r: int) -> str:
    """scripts/gen_scaled_sf.rotate_text for one text, copied so the pinned
    curation oracles stay valid if that script changes."""
    w = text.split(" ")
    r %= len(w)
    return " ".join(w[r:] + w[:r])


def write_curation_tables(out_dir: str, variant: int) -> dict:
    """documents/embeddings replicated CURATE_COPIES times, the scheme of
    scripts/gen_scaled_sf.py: copy i shifts ids by i * base size and
    rotates every text by r_i words and every vector by r_i positions.
    The variant picks the base tables and the rotations r_i."""
    rng = np.random.default_rng(20_000 + variant)
    docs = _base_documents(rng)
    vecs, labels = _base_embeddings(rng)
    rots = [0] + [int(r) for r in rng.integers(1, 10, size=CURATE_COPIES - 1)]
    d_cols: dict[str, list] = {"doc_id": [], "text": [], "lang": [],
                               "source": []}
    e_ids, e_vecs, e_labels = [], [], []
    for i, r in enumerate(rots):
        d_cols["doc_id"].append(docs["doc_id"] + i * CURATE_BASE_DOCS)
        d_cols["text"] += [_rotate(t, r) for t in docs["text"]]
        d_cols["lang"] += docs["lang"]
        d_cols["source"] += docs["source"]
        e_ids.append(np.arange(CURATE_BASE_VECS, dtype=np.int64)
                     + i * CURATE_BASE_VECS)
        e_vecs.append(np.roll(vecs, r, axis=1))
        e_labels.append(labels)
    os.makedirs(out_dir, exist_ok=True)
    text = pa.array(d_cols["text"], pa.string())
    pq.write_table(pa.table({
        "doc_id": pa.array(np.concatenate(d_cols["doc_id"])),
        "text": text,
        "lang": pa.array(d_cols["lang"], pa.string()),
        "source": pa.array(d_cols["source"], pa.string()),
        "n_chars": pc.utf8_length(text).cast(pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    mat = np.concatenate(e_vecs)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(mat.ravel(), pa.float32()), mat.shape[1]
    ).cast(pa.list_(pa.float32()))
    pq.write_table(pa.table({
        "vec_id": pa.array(np.concatenate(e_ids)),
        "embedding": emb,
        "label": pa.array(np.concatenate(e_labels), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {"n_docs": len(text), "n_vecs": int(mat.shape[0]),
            "rotations": rots}


def curate_input(root: str, seed: int) -> tuple[str, dict]:
    variant = seed % CURATE_VARIANTS

    def build(path: str) -> dict:
        meta = write_curation_tables(path, variant)
        meta["variant"] = variant
        return meta
    return _cached(root, "curate_docs", f"variant{variant}", build)
