"""Expected outputs and output digests, computed with DuckDB independently of
the code under test.

* Per-document triples come from the frozen oracle SQL that ``graft.Verify``
  emits (``oracle_sql.json``): ``q_scored_triples`` for the rule runner and
  ``q_injected_triples`` for the KG build. They are computed once per text
  pool and relabelled per seed; a seeded sample of each seed's generated docs
  is re-run through the oracle SQL directly, so the relabelling is checked on
  every run.
* The near-dup clusters of each KG crawl are ``q_dedup_clusters`` run over
  that crawl.
* No oracle query covers fusing injected triples, the snapshot delta, or the
  runner's bucketed sink. The fuse and delta expectations are the SQL below,
  written from the ``KgFusion`` contract (support = distinct docs, max score,
  min doc, +100 milli per extra witness capped at 5, argmax over
  (fused_milli, support, obj)). The sink is checked as the set of
  (doc_id, subj, pred, obj) rows, which must equal the distinct oracle rows.

A digest is the row count plus the sum of 64-bit hashes of each row's
'|'-joined text form, so it does not depend on row order or file layout.
"""
import os

import duckdb

DIGEST = "SELECT count(*) AS n, coalesce(sum(hash(concat_ws('|', {cols}))), 0)::VARCHAR AS h FROM {src}"

# (column list, glob under the run's output dir) of each committed table.
RUNNER_TABLES = {"triples": ("doc_id, subj, pred, obj", "triples/*/*.parquet")}
KG_COLS = "subj, pred, obj, support, max_milli, first_doc, fused_milli, is_best"
DELTA_COLS = "subj, pred, obj, old_support, new_support, status"
CLUSTER_COLS = "doc_id, cluster, keep"
KG_TABLES = {
    "clusters0": (CLUSTER_COLS, "clusters/snap=0/*.parquet"),
    "clusters1": (CLUSTER_COLS, "clusters/snap=1/*.parquet"),
    "snap0": (KG_COLS, "snapshots/snap=0/*.parquet"),
    "snap1": (KG_COLS, "snapshots/snap=1/*.parquet"),
    "delta1": (DELTA_COLS, "deltas/snap=1/*.parquet"),
}

WSUPPORT_MILLI = 100
SUPPORT_CAP = 5


def connect(threads=4):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    return con


def digest(con, cols, src):
    n, h = con.execute(DIGEST.format(cols=cols, src=src)).fetchone()
    return [int(n), h]


def digest_output(out_dir, tables):
    """Digest of each table a run committed under ``out_dir``."""
    con = connect()
    res = {}
    for name, (cols, glob) in tables.items():
        path = os.path.join(out_dir, glob)
        res[name] = digest(con, cols, f"read_parquet('{path}')")
    return res


def pool_oracle(pool_dir, sql):
    """Runs one frozen oracle query over a pool's documents.parquet once."""
    con = connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pool_dir}/documents.parquet')")
    out = os.path.join(pool_dir, "oracle.parquet")
    con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
    return out


def _relabelled(con, mapping, oracle_file, cols):
    """The pool oracle's rows relabelled by a seed's doc_id -> pool_idx map."""
    return (f"(SELECT m.doc_id, {', '.join('o.' + c for c in cols)} "
            f"FROM read_parquet('{mapping}') m "
            f"JOIN read_parquet('{oracle_file}') o ON o.doc_id = m.pool_idx)")


def spot_check(docs_dir, mapping, oracle_file, sql, cols, doc_ids):
    """Re-runs the oracle SQL over the generated docs ``doc_ids`` and compares
    it with the relabelled pool rows of the same docs. Returns None or an error."""
    con = connect()
    ids = ", ".join(str(int(i)) for i in doc_ids)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/documents.parquet') "
                f"WHERE doc_id IN ({ids})")
    sel = ", ".join(["doc_id"] + cols)
    direct = digest(con, sel, f"(SELECT DISTINCT {sel} FROM ({sql}))")
    rel = _relabelled(con, mapping, oracle_file, cols)
    mapped = digest(con, sel, f"(SELECT DISTINCT {sel} FROM {rel} WHERE doc_id IN ({ids}))")
    if direct != mapped:
        return f"oracle over generated docs {direct} != relabelled pool rows {mapped}"
    return None


def runner_expected(mapping, oracle_file):
    con = connect()
    rel = _relabelled(con, mapping, oracle_file, ["subj", "pred", "obj"])
    src = f"(SELECT DISTINCT doc_id, subj, pred, obj FROM {rel})"
    return {"triples": digest(con, RUNNER_TABLES["triples"][0], src)}


def _fused_sql(per_doc, same_as):
    """KgFusion.fuse over ``per_doc`` after the sameAs remap."""
    canon = " UNION ALL ".join(
        f"SELECT '{a}' AS v, '{min(a, b)}' AS comp UNION ALL SELECT '{b}', '{min(a, b)}'"
        for a, b in same_as)
    return f"""
      WITH canon AS (SELECT DISTINCT v, comp FROM ({canon})),
      remapped AS (
        SELECT d.doc_id, coalesce(cs.comp, d.subj) AS subj, d.pred,
               coalesce(co.comp, d.obj) AS obj, d.score_milli
        FROM {per_doc} d
        LEFT JOIN canon cs ON cs.v = d.subj
        LEFT JOIN canon co ON co.v = d.obj
        WHERE coalesce(cs.comp, d.subj) <> coalesce(co.comp, d.obj)),
      core AS (
        SELECT subj, pred, obj, count(DISTINCT doc_id) AS support,
               max(score_milli) AS max_milli, min(doc_id) AS first_doc
        FROM remapped GROUP BY subj, pred, obj),
      fused AS (
        SELECT *, max_milli + {WSUPPORT_MILLI} * least(support - 1, {SUPPORT_CAP}) AS fused_milli
        FROM core)
      SELECT subj, pred, obj, support, max_milli, first_doc, fused_milli,
             CASE WHEN row_number() OVER (PARTITION BY subj, pred
                    ORDER BY fused_milli DESC, support DESC, obj DESC) = 1
                  THEN 1 ELSE 0 END AS is_best
      FROM fused"""


def kg_expected(crawls, mappings, oracle_file, dedup_sql, same_as):
    """Expected near-dup clusters of both crawls, fused snapshots 0 and 1 of
    their kept docs and the 0 -> 1 delta; also the number of per-doc triples
    fused over both snapshots."""
    con = connect()
    cols = ["subj", "pred", "obj", "score_milli"]
    for s, (crawl, m) in enumerate(zip(crawls, mappings)):
        con.execute(f"CREATE OR REPLACE VIEW documents AS "
                    f"SELECT * FROM read_parquet('{crawl}/documents.parquet')")
        con.execute(f"CREATE TABLE clusters{s} AS {dedup_sql}")
        con.execute(f"CREATE TABLE per_doc{s} AS SELECT * FROM {_relabelled(con, m, oracle_file, cols)} "
                    f"WHERE doc_id IN (SELECT doc_id FROM clusters{s} WHERE keep)")
        con.execute(f"CREATE TABLE snap{s} AS {_fused_sql(f'per_doc{s}', same_as)}")
    con.execute("""
      CREATE TABLE delta1 AS
      SELECT coalesce(o.subj, n.subj) AS subj, coalesce(o.pred, n.pred) AS pred,
             coalesce(o.obj, n.obj) AS obj,
             coalesce(o.support, -1) AS old_support, coalesce(n.support, -1) AS new_support,
             CASE WHEN o.support IS NULL THEN 'added' WHEN n.support IS NULL THEN 'removed'
                  WHEN o.support <> n.support THEN 'support_changed' ELSE 'stable' END AS status
      FROM snap0 o FULL OUTER JOIN snap1 n
        ON o.subj = n.subj AND o.pred = n.pred AND o.obj = n.obj""")
    res = {name: digest(con, cols_, name) for name, (cols_, _) in KG_TABLES.items()}
    per_doc_rows = sum(con.execute(f"SELECT count(*) FROM per_doc{s}").fetchone()[0]
                       for s in range(len(mappings)))
    return res, int(per_doc_rows)


def planted_recall(pairs):
    """Share of planted copies that landed in their original's cluster, over
    (clusters glob, planted table) pairs."""
    con = connect()
    found = total = 0
    for clusters_glob, planted_file in pairs:
        f, t = con.execute(f"""
          SELECT count(*) FILTER (WHERE c.cluster = o.cluster), count(*)
          FROM read_parquet('{planted_file}') p
          LEFT JOIN read_parquet('{clusters_glob}') c ON c.doc_id = p.copy_id
          LEFT JOIN read_parquet('{clusters_glob}') o ON o.doc_id = p.orig_id""").fetchone()
        found += f
        total += t
    return found / total if total else 0.0
