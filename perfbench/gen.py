"""Seeded input generation for the benchmark workloads.

Every workload's tables derive from the sf0.01 catalog vendored under
``perfbench/data/sf0.01``. The seed picks row order, the planted
duplicate rows of the DQ catalog and the perturbation of each corpus
replica, so the same (workload, seed) always yields the same bytes.
Generated catalogs are cached under the work directory by
(workload, seed); ``manifest.json`` is written last and marks a
complete catalog.
"""
import json
import os
import shutil

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.01")
# Bumped whenever the generator's output changes, so stale caches rebuild.
GEN_VERSION = 3

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Row identity per table: what the seeded order and planted duplicates hash.
ROW_ID = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey, l_linenumber", "events": "event_id",
    "documents": "doc_id", "embeddings": "vec_id",
}
# DQ catalog: share of orders/lineitem rows planted a second time.
DUP_PER_MILLE = 5
# Corpus replica i shifts every id by i * 2^33, as graft.tools.ScaleUp does.
OFFSET = 1 << 33
# LLM corpus: replicas of documents/embeddings, and what each non-base
# document copy becomes (per mille): exact copy, near-duplicate (one
# word dropped), or a distinct document (words re-mapped through a
# per-replica vocabulary permutation).
LLM_FACTOR = 4
EXACT_PER_MILLE = 100
NEAR_PER_MILLE = 300
VECTOR_NOISE = 0.05


def _base(t):
    return f"read_parquet('{BASE}/{t}.parquet')"


def _copy(con, sql, path, order):
    """Write ``sql`` as one parquet file, rows ordered by ``order``."""
    con.execute(f"COPY (SELECT * FROM ({sql}) ORDER BY {order}) "
                f"TO '{path}' (FORMAT parquet)")


def _gen_dq_small(con, out, seed):
    """The seeded sf0.01 catalog: base rows in seeded order, plus a
    planted second copy of DUP_PER_MILLE of the orders/lineitem rows."""
    for t in TABLES:
        rid = ROW_ID[t]
        sql = f"SELECT * FROM {_base(t)}"
        if t in ("orders", "lineitem"):
            sql += (f" UNION ALL SELECT * FROM {_base(t)}"
                    f" WHERE hash({seed}, 'dup', {rid}) % 1000 < {DUP_PER_MILLE}")
        _copy(con, sql, f"{out}/{t}.parquet", order=f"hash({seed}, {rid})")


def _gen_llm_corpus(con, out, seed):
    # vocabulary permutation per replica for the "distinct" copies
    con.execute(f"""
        CREATE TEMP TABLE vocab AS
        SELECT w, row_number() OVER (ORDER BY w) - 1 AS i
        FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
              FROM {_base('documents')})""")
    con.execute(f"""
        CREATE TEMP TABLE cipher AS
        SELECT rep, a.w AS w, b.w AS w2
        FROM range(1, {LLM_FACTOR}) r(rep), vocab a, vocab b
        WHERE b.i = (a.i + hash({seed}, rep) % (SELECT count(*) - 1 FROM vocab) + 1)
                    % (SELECT count(*) FROM vocab)""")
    con.execute(f"""
        CREATE TEMP TABLE copies AS
        SELECT d.*, rep, hash({seed}, 'kind', doc_id, rep) % 1000 AS u
        FROM {_base('documents')} d, range(1, {LLM_FACTOR}) r(rep)""")
    # near: drop the word at a seeded position; distinct: map every word
    # through the replica's vocabulary permutation
    con.execute(f"""
        CREATE TEMP TABLE words AS
        SELECT doc_id, rep, pos, w FROM (
          SELECT doc_id, rep, u, unnest(string_split(text, ' ')) AS w,
                 generate_subscripts(string_split(text, ' '), 1) AS pos,
                 len(string_split(text, ' ')) AS n
          FROM copies WHERE u >= {EXACT_PER_MILLE})
        WHERE u >= {EXACT_PER_MILLE + NEAR_PER_MILLE}
           OR pos <> hash({seed}, 'drop', doc_id, rep) % n + 1""")
    con.execute(f"""
        CREATE TEMP TABLE rewritten AS
        SELECT w.doc_id, w.rep,
               string_agg(CASE WHEN c.u >= {EXACT_PER_MILLE + NEAR_PER_MILLE}
                               THEN x.w2 ELSE w.w END, ' ' ORDER BY w.pos) AS text
        FROM words w JOIN copies c USING (doc_id, rep)
        LEFT JOIN cipher x ON x.rep = w.rep AND x.w = w.w
        GROUP BY w.doc_id, w.rep""")
    docs = f"""
        SELECT doc_id, text, lang, source, n_chars FROM {_base('documents')}
        UNION ALL
        SELECT c.doc_id + c.rep * {OFFSET} AS doc_id,
               coalesce(r.text, c.text) AS text, c.lang, c.source,
               length(coalesce(r.text, c.text))::BIGINT AS n_chars
        FROM copies c LEFT JOIN rewritten r USING (doc_id, rep)"""
    _copy(con, docs, f"{out}/documents.parquet", order=f"hash({seed}, doc_id)")
    # embeddings: replica r is the base vector plus seeded uniform noise,
    # so each base vector is the centre of a cluster of LLM_FACTOR points
    vecs = f"""
        SELECT vec_id, embedding, label FROM {_base('embeddings')}
        UNION ALL
        SELECT vec_id + rep * {OFFSET} AS vec_id,
               list_transform(list_zip(embedding, range(len(embedding))),
                 z -> (z[1] + {VECTOR_NOISE} * (2.0 * (hash({seed}, vec_id, rep, z[2])
                        % 1000000) / 1000000.0 - 1.0))::FLOAT) AS embedding,
               label
        FROM {_base('embeddings')}, range(1, {LLM_FACTOR}) r(rep)"""
    _copy(con, vecs, f"{out}/embeddings.parquet", order=f"hash({seed}, vec_id)")
    kinds = con.execute(f"""
        SELECT count(*) FILTER (WHERE u < {EXACT_PER_MILLE}),
               count(*) FILTER (WHERE u >= {EXACT_PER_MILLE}
                                  AND u < {EXACT_PER_MILLE + NEAR_PER_MILLE}),
               count(*) FROM copies""").fetchone()
    return {"exact_copies": kinds[0], "near_dup_copies": kinds[1],
            "replica_copies": kinds[2]}


GENERATORS = {"dq_small": _gen_dq_small, "llm_corpus": _gen_llm_corpus}


def describe(con, out):
    """Row count, bytes and file count of every table in ``out``."""
    tables = {}
    for name in sorted(os.listdir(out)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(out, name)
        rows = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        tables[name[:-len(".parquet")]] = {
            "rows": rows, "bytes": os.path.getsize(path), "files": 1}
    return tables


def ensure(workload, seed, cache_dir):
    """Generate (or reuse) the inputs of ``workload`` for ``seed``.

    Returns ``(input_dir, manifest)``.
    """
    out = os.path.join(cache_dir, f"{workload}-seed{seed}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest.get("gen_version") == GEN_VERSION:
            return out, manifest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    planted = GENERATORS[workload](con, out, seed) or {}
    manifest = {"gen_version": GEN_VERSION, "workload": workload, "seed": seed,
                "base": "sf0.01", "tables": describe(con, out)}
    if workload == "dq_small":
        planted["duplicate_rows"] = {
            t: manifest["tables"][t]["rows"]
               - con.execute(f"SELECT count(*) FROM {_base(t)}").fetchone()[0]
            for t in ("orders", "lineitem")}
    else:
        docs = manifest["tables"]["documents"]["rows"]
        planted["near_dup_share"] = round(planted["near_dup_copies"] / docs, 4)
        planted["exact_dup_share"] = round(planted["exact_copies"] / docs, 4)
    manifest["planted"] = planted
    con.close()
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(manifest_path + ".tmp", manifest_path)
    return out, manifest
