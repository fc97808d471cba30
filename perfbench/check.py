"""Output check for one benchmark run.

Queries with a ``SparkEntry.oracleSql`` entry are compared with DuckDB
over the same generated inputs: columns sorted by name, rows sorted,
floats equal within 1e-9 (relative or absolute), everything else equal
as text. Queries without an oracle are checked against exact answers
DuckDB computes over the same inputs, on every seed (``PROPERTIES``).
They are also reduced to a row count and a content hash; where
``reference.json`` holds a pair for the (workload, seed) at the same
CPU count (sampling operators depend on the partitioning, which follows
the core count), recorded at the commit that defined the benchmark, the
run must reproduce it. A query with neither an oracle, a property check
nor a reference fails as unchecked.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import numpy as np

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
REFERENCE = os.path.join(HERE, "reference.json")
FLOAT_TOL = 1e-9
# Rounding step of the 4-decimal scores the approximate queries report.
SCORE_TOL = 1e-4 + 1e-9
# Least share of the exact answer an approximate query must find.
MIN_RECALL = 0.9


def load_reference():
    with open(REFERENCE) as f:
        return json.load(f)


def _canon(v):
    """Text form of one cell for hashing: floats to 9 significant digits
    (shuffle order may move the last bits of an aggregate), lists
    element-wise."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (float, np.floating)):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if v is None:
        return "null"
    return str(v)


def content_hash(df):
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(_canon(r[c]) for c in cols)
                  for r in df[cols].to_dict("records"))
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return h.hexdigest()[:16]


def compare(got, want):
    """None if the frames agree, else the first difference."""
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = list(got.columns)
    g = got.sort_values(by=cols).reset_index(drop=True)
    w = want.sort_values(by=cols).reset_index(drop=True)
    for c in cols:
        gv, wv = g[c], w[c]
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            a = gv.astype(float).to_numpy()
            b = wv.astype(float).to_numpy()
            bad = ~(np.isclose(a, b, rtol=FLOAT_TOL, atol=FLOAT_TOL)
                    | (np.isnan(a) & np.isnan(b)))
        else:
            bad = (gv.astype(str) != wv.astype(str)).to_numpy()
        if bad.any():
            i = int(bad.argmax())
            return f"col {c} row {i}: got={gv[i]!r} want={wv[i]!r}"
    return None


# Rewrites of graft's n-gram Jaccard oracle for _minhash_pairs: compute
# each document's grams once, and score only the pairs in ``pairs``.
# As written, the oracle takes minutes on the corpus.
ORACLE_REWRITES = [
    ("WITH g AS (", "WITH g AS MATERIALIZED ("),
    ("FROM g a JOIN g b ON a.doc_id < b.doc_id",
     "FROM pairs p JOIN g a ON a.doc_id = p.doc_id_1 "
     "JOIN g b ON b.doc_id = p.doc_id_2 AND a.doc_id < b.doc_id"),
]


def _planted(ids_1, ids_2):
    """Whether two ids are copies of one base row of the corpus."""
    return (ids_1 % gen.OFFSET) == (ids_2 % gen.OFFSET)


def _minhash_pairs(con, got, oracles):
    """MinHash LSH near-duplicates: every reported pair is an exact
    n-gram Jaccard near-duplicate with its exact score, and the pairs
    found hold at least MIN_RECALL of the exact near-duplicate pairs
    among each base document's planted copies."""
    sql = oracles["dedup_ngram_jaccard"]
    for old, new in ORACLE_REWRITES:
        if old not in sql:
            return f"the dedup_ngram_jaccard oracle no longer holds {old!r}"
        sql = sql.replace(old, new)
    con.register("got", got)
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE pairs AS
        SELECT doc_id_1, doc_id_2 FROM got
        UNION
        SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b
          ON a.doc_id < b.doc_id AND a.doc_id % {gen.OFFSET} = b.doc_id % {gen.OFFSET}""")
    con.unregister("got")
    exact = con.execute(sql).fetchdf()
    m = got.merge(exact, on=["doc_id_1", "doc_id_2"], how="left",
                  suffixes=("", "_exact"), indicator=True)
    missing = m[m["_merge"] != "both"]
    if len(missing):
        r = missing.iloc[0]
        return f"pair ({r.doc_id_1}, {r.doc_id_2}) is not an exact near-duplicate pair"
    off = (m["jaccard"] - m["jaccard_exact"]).abs() > SCORE_TOL
    if off.any():
        r = m[off].iloc[0]
        return f"pair ({r.doc_id_1}, {r.doc_id_2}): jaccard {r.jaccard} != {r.jaccard_exact}"
    planted = exact[_planted(exact.doc_id_1, exact.doc_id_2)]
    found = len(got.merge(planted, on=["doc_id_1", "doc_id_2"]))
    if not len(planted) or found < MIN_RECALL * len(planted):
        return f"found {found} of {len(planted)} planted near-duplicate pairs"
    return None


def _ann_topk(con, got, oracles):
    """Approximate top-k: each query gets as many ranked rows as the exact
    top-k, every reported cosine is the pair's exact cosine, and the
    results hold at least MIN_RECALL of the planted copies of each query
    vector that the exact top-k holds."""
    exact = con.execute(oracles["ann_cosine_topk"]).fetchdf()
    want = exact.groupby("query_id").size().to_dict()
    have = got.groupby("query_id").size().to_dict()
    if have != want:
        return f"rows per query {have} != exact {want}"
    con.register("got", got)
    scored = con.execute("""
        SELECT g.query_id, g.vec_id, g.cosine,
               list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])) AS exact
        FROM got g JOIN embeddings q ON q.vec_id = g.query_id
                   JOIN embeddings c ON c.vec_id = g.vec_id""").fetchdf()
    con.unregister("got")
    if len(scored) != len(got):
        return "reported ids missing from embeddings"
    off = (scored["cosine"] - scored["exact"]).abs() > SCORE_TOL
    if off.any():
        r = scored[off].iloc[0]
        return f"query {r.query_id} vec {r.vec_id}: cosine {r.cosine} != {r.exact:.6f}"
    planted = exact[_planted(exact.query_id, exact.vec_id)]
    found = len(got.merge(planted, on=["query_id", "vec_id"]))
    if not len(planted) or found < MIN_RECALL * len(planted):
        return f"found {found} of {len(planted)} planted neighbours in the exact top-k"
    return None


# No-oracle query -> check against the exact answer (None if it holds).
PROPERTIES = {"dedup_minhash": _minhash_pairs, "ann_ivfpq": _ann_topk}


def reference_key(seed, cpus):
    return f"{seed}/cpus{cpus}"


def check_outputs(workload, seed, cpus, inputs, out, queries, reference):
    """Check every query's dumped output.

    Returns ``(failures, summaries)``: failures maps a query to the
    reason it failed; summaries maps each no-oracle query to its
    ``[rows, hash]``.
    """
    con = duckdb.connect()
    for name in sorted(os.listdir(inputs)):
        if name.endswith(".parquet"):
            t = name[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(inputs, name)}')")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    expected = reference.get(workload, {}).get(reference_key(seed, cpus), {})
    failures, summaries = {}, {}
    for q in queries:
        files = glob.glob(os.path.join(out, "outputs", q, "*.parquet"))
        if not files:
            failures[q] = "no output dumped"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            if q in oracles:
                diff = compare(got, con.execute(oracles[q]).fetchdf())
                if diff:
                    failures[q] = f"differs from the DuckDB oracle: {diff}"
            else:
                summaries[q] = [len(got), content_hash(got)]
                diff = PROPERTIES[q](con, got, oracles) if q in PROPERTIES else None
                if diff:
                    failures[q] = f"differs from the exact answer: {diff}"
                elif q in expected and expected[q] != summaries[q]:
                    failures[q] = (f"rows/hash {summaries[q]} != reference "
                                   f"{expected[q]}")
                elif q not in PROPERTIES and q not in expected:
                    failures[q] = "unchecked: no oracle, property check or reference"
        except Exception as e:  # a failed check is a failed query
            failures[q] = f"check error: {type(e).__name__}: {e}"
    con.close()
    return failures, summaries
