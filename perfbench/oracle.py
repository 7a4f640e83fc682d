"""Expected results of the curation queries, pinned from their DuckDB
oracles (and, for cosine_topk, from an exact-arithmetic reference).

The oracle SQL (``__spark_entry__.oracle_sql()``) takes minutes per input
at the curate_docs scale, far more than one benchmark run may spend, so
the expected row count and order-insensitive value hash of each query
are computed here once per input variant and committed as
``curate_expected.json``. Rows are normalised exactly as
scripts/oracle_check.py does (floats to 6 decimals, columns sorted by
name, rows sorted); the normalisation is copied, not imported, so the
committed hashes stay valid if that script changes.

cosine_topk is the one query not pinned from DuckDB. Both the query and
its oracle round each cosine to 6 decimals and then to 4. When the first
rounding lands on a 4-decimal tie such as 0.51965, Spark rounds the
decimal tie half up (0.5197) while DuckDB rounds the binary double
nearest it, which lies just below the tie (0.5196); the two engines
disagree although both compute the same cosine. ``exact_cosine_topk``
evaluates the query's definition with exact rational dot products and
decimal rounding, so a tie rounds as the query's ROUND says it does.

Regenerate after changing the curation inputs (inputs.INPUT_VERSION) or
a query's semantics:

    python3 perfbench/oracle.py            # all variants
    python3 perfbench/oracle.py 0 2        # some variants
    python3 perfbench/oracle.py --only cosine_topk   # some queries
"""

from __future__ import annotations

import argparse
import decimal
import hashlib
import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "curate_expected.json")

QUERIES = ("textstats", "minhash_signatures", "simhash", "jaccard_pairs",
           "dup_clusters", "cosine_topk", "lsh_ann", "decontam",
           "unigram_lm", "curation")


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _exact_ints(row) -> list[int]:
    """float32 values as exact integers in units of 2**-149, the
    smallest float32 subnormal."""
    out = []
    for x in row:
        num, den = float(x).as_integer_ratio()
        out.append(num * ((1 << 149) // den))
    return out


def exact_cosine_topk(table_dir: str, n_queries: int = 20,
                      k: int = 5) -> list[tuple]:
    """The rows of the cosine_topk query (``__spark_entry__``): for each
    vector with vec_id < n_queries, its k nearest other vectors ranked
    by the cosine rounded to 6 decimals (ties by neighbor id), the
    cosine then rounded to 4. Rounding is decimal, half away from zero,
    on the exact cosine of the float32 inputs. numpy float64 cosines
    only pick the candidates, with a margin far above their error."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(table_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_pylist()
    mat = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    m64 = mat.astype(np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", m64, m64))
    ctx = decimal.Context(prec=60)
    six, four = decimal.Decimal("1e-6"), decimal.Decimal("1e-4")
    rows = []
    for qi in [i for i, v in enumerate(ids) if v < n_queries]:
        approx = m64 @ m64[qi] / (norms * norms[qi])
        approx[qi] = -np.inf
        cut = np.sort(approx)[-k] - 4e-6
        q = _exact_ints(mat[qi])
        qq = sum(a * a for a in q)
        scored = []
        for j in np.flatnonzero(approx >= cut):
            c = _exact_ints(mat[j])
            dot = sum(a * b for a, b in zip(q, c))
            cos = ctx.divide(decimal.Decimal(dot),
                             ctx.sqrt(decimal.Decimal(qq * sum(b * b for b in c))))
            r6 = cos.quantize(six, rounding=decimal.ROUND_HALF_UP)
            # a float64 evaluation may land on either side of a 6-decimal
            # boundary this close: the expected row would be a guess
            if abs(abs(cos - r6) - six / 2) < decimal.Decimal("1e-12"):
                raise RuntimeError(f"cosine {ids[qi]}-{ids[j]} = {cos} sits "
                                   "on a 6-decimal rounding boundary")
            scored.append((-r6, ids[j], r6))
        scored.sort()
        for rank, (_, nid, r6) in enumerate(scored[:k], start=1):
            rows.append((ids[qi], nid, rank,
                         float(r6.quantize(four, rounding=decimal.ROUND_HALF_UP))))
    return rows


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    import duckdb

    import __spark_entry__ as entry
    import inputs

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("variants", nargs="*", type=int)
    ap.add_argument("--only", default=",".join(QUERIES),
                    help="comma-separated queries to re-pin")
    args = ap.parse_args(argv)
    queries = args.only.split(",")
    variants = args.variants or list(range(inputs.CURATE_VARIANTS))
    out = load_expected() if os.path.exists(EXPECTED) else {}
    out["input_version"] = inputs.INPUT_VERSION
    sqls = entry.oracle_sql()
    for v in variants:
        with tempfile.TemporaryDirectory() as d:
            meta = inputs.write_curation_tables(d, v)
            con = duckdb.connect()
            for t in ("documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{d}/{t}.parquet')")
            res = out.get(str(v), {}).get("queries", {})
            for q in queries:
                t0 = time.perf_counter()
                if q == "cosine_topk":
                    rows = exact_cosine_topk(d)
                    cols = ["query_id", "neighbor_id", "rank", "sim"]
                else:
                    rel = con.sql(sqls[q])
                    cols = rel.columns
                    rows = [tuple(r.values()) for r in rel.arrow().to_pylist()]
                res[q] = {"rows": len(rows), "hash": value_hash(rows, cols)}
                print(f"variant {v} {q}: {len(rows)} rows "
                      f"({time.perf_counter() - t0:.1f}s)", file=sys.stderr)
            con.close()
        out[str(v)] = {"rotations": meta["rotations"], "queries": res}
        with open(EXPECTED, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
