"""Seeded input generator for the graft benchmark.

Every workload's input is drawn from the synthetic document corpus shipped in
``perfbench/data/documents.parquet`` (5,000 docs over a 31-word vocabulary, 16
of whose words are entity aliases). Inputs are written as a
``documents.parquet`` table with the corpus schema, so graft reads them through
its own public readers (``Pages.fromDocuments``, ``Corpora.normDocs``).

The triple-extraction output of a document is a function of its text alone, so
each workload draws its docs from a fixed text *pool* under fresh doc ids: the
expected per-doc triples of a seed are then the pool's oracle output
relabelled by the seed's id -> pool-text mapping (see ``expected.py``).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "data", "documents.parquet")

# Single tokens that start or make up an alias of the fixture gazetteer
# (measured as the input's alias density).
ALIAS_TOKENS = {"spark", "hash", "merge", "customer", "vector", "window",
                "stream", "table", "query", "join", "scan", "filter", "sort",
                "batch", "column", "group", "data"}
# Pools do not depend on the run seed.
KG_POOL_DOCS = 900

# Per-seed sizes of each workload.
DENSE_DOCS = 1000
KG_DOCS = 700
KG_CHURN = 0.2
KG_PLANTED = 0.1
KG_MIN_TOKENS = 13  # a copy drops 3 tokens and must stay a near-dup
# KG crawl ids start above 20: q_dedup_clusters plants its own copies of
# doc_id < 20, and graft is given exactly the generated crawl.
KG_ID_BASE = 100
KG_COPY_BASE = (2_000_000, 3_000_000)

# The sameAs fixture of q_kg_pipeline (Gazetteer.kgTriples, predicate P460).
SAME_AS = [("Q2", "Q3"), ("Q31", "Q30")]

# Input sizes by workload, part of every cache key.
SIZES = {
    "docred_dense": {"docs": DENSE_DOCS},
    "kg_increment": {"docs": KG_DOCS, "churn": KG_CHURN, "planted": KG_PLANTED,
                     "pool": KG_POOL_DOCS},
}


def corpus():
    t = pq.read_table(CORPUS).to_pandas()
    return t.sort_values("doc_id").reset_index(drop=True)


def write_docs(path, doc_ids, texts, langs, sources):
    """Write one documents.parquet with the corpus schema."""
    os.makedirs(path, exist_ok=True)
    texts = list(texts)
    table = pa.table({
        "doc_id": pa.array(np.asarray(doc_ids, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(list(langs), type=pa.string()),
        "source": pa.array(list(sources), type=pa.string()),
        "n_chars": pa.array([len(s) for s in texts], type=pa.int64()),
    })
    pq.write_table(table, os.path.join(path, "documents.parquet"))


def _columns(c):
    return {"text": list(c.text), "lang": list(c.lang), "source": list(c.source)}


def dense_pool():
    """The dense text pool: the corpus itself (short, entity-dense docs)."""
    return _columns(corpus())


def near_copy(text):
    """A planted near copy: the text without its first 3 tokens."""
    return " ".join(text.split(" ")[3:])


def kg_pool():
    """KG_POOL_DOCS distinct dense docs, then the near copy of each, so that
    pool index KG_POOL_DOCS + i holds the copy of index i."""
    c = _columns(corpus().iloc[:KG_POOL_DOCS])
    return {k: v + ([near_copy(t) for t in v] if k == "text" else v) for k, v in c.items()}


POOLS = {"dense": dense_pool, "kg": kg_pool}
POOL_PARAMS = {"dense": {}, "kg": {"docs": KG_POOL_DOCS}}


def pool_key(name):
    import hashlib
    return hashlib.sha256(json.dumps(POOL_PARAMS[name], sort_keys=True).encode()).hexdigest()[:12]


def read_pool(pool_dir):
    t = pq.read_table(os.path.join(pool_dir, "documents.parquet")).to_pandas()
    t = t.sort_values("doc_id")
    return {"text": list(t.text), "lang": list(t.lang), "source": list(t.source)}


def write_pool(name, path):
    """Writes pool `name` with doc_id = pool index."""
    p = POOLS[name]()
    write_docs(path, range(len(p["text"])), p["text"], p["lang"], p["source"])


def _write_mapping(path, doc_ids, pool_idx):
    pq.write_table(pa.table({"doc_id": pa.array(np.asarray(doc_ids, dtype=np.int64)),
                             "pool_idx": pa.array(np.asarray(pool_idx, dtype=np.int64))}), path)


def _text_props(texts):
    toks = [t.split(" ") for t in texts]
    n = sum(len(t) for t in toks)
    alias = sum(1 for t in toks for w in t if w in ALIAS_TOKENS)
    return {"docs": len(texts), "tokens_per_doc": n / len(texts), "alias_density": alias / n}


def resample(pool, n, rng, out_dir):
    """n pool texts drawn with replacement under fresh doc ids."""
    idx = rng.integers(len(pool["text"]), size=n)
    ids = np.arange(n)
    texts = [pool["text"][i] for i in idx]
    write_docs(out_dir, ids, texts, [pool["lang"][i] for i in idx],
               [pool["source"][i] for i in idx])
    return ids, idx, texts


def generate(workload, seed, out_dir, pool_dir=None):
    """Writes the workload's input for `seed` under out_dir, drawing from the
    pool written in pool_dir; returns its measured input properties."""
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    props = {"seed": seed}
    if workload == "docred_dense":
        pool = read_pool(pool_dir)
        ids, idx, texts = resample(pool, DENSE_DOCS, rng, out_dir)
        _write_mapping(os.path.join(out_dir, "mapping.parquet"), ids, idx)
        props.update(_text_props(texts))
    elif workload == "kg_increment":
        pool = read_pool(pool_dir)
        n, n_churn = KG_DOCS, int(round(KG_CHURN * KG_DOCS))
        # distinct texts: snapshot 1 keeps all but n_churn of snapshot 0's
        # docs and gains n_churn docs no crawl had before
        order = rng.permutation(KG_POOL_DOCS)[:n + n_churn]
        base0 = order[:n]
        leave = np.sort(rng.choice(n, size=n_churn, replace=False))
        stay = np.setdiff1d(np.arange(n), leave)
        bases = [(KG_ID_BASE + np.arange(n), base0),
                 (np.concatenate([KG_ID_BASE + stay, KG_ID_BASE + n + np.arange(n_churn)]),
                  np.concatenate([base0[stay], order[n:]]))]
        all_texts, planted = [], 0
        for snap, (ids, idx) in enumerate(bases):
            long_enough = [j for j, i in enumerate(idx)
                           if len(pool["text"][i].split(" ")) >= KG_MIN_TOKENS]
            n_plant = int(round(KG_PLANTED * len(ids)))
            orig = np.sort(rng.choice(long_enough, size=n_plant, replace=False))
            copy_ids = KG_COPY_BASE[snap] + np.arange(n_plant)
            all_ids = np.concatenate([ids, copy_ids])
            all_idx = np.concatenate([idx, KG_POOL_DOCS + idx[orig]])
            texts = [pool["text"][i] for i in all_idx]
            d = os.path.join(out_dir, f"snap{snap}")
            write_docs(d, all_ids, texts, [pool["lang"][i] for i in all_idx],
                       [pool["source"][i] for i in all_idx])
            _write_mapping(os.path.join(out_dir, f"mapping{snap}.parquet"), all_ids, all_idx)
            pq.write_table(pa.table({"copy_id": pa.array(copy_ids.astype(np.int64)),
                                     "orig_id": pa.array(ids[orig].astype(np.int64))}),
                           os.path.join(out_dir, f"planted{snap}.parquet"))
            all_texts += texts
            planted += n_plant
        pq.write_table(pa.table({"a": [a for a, _ in SAME_AS], "b": [b for _, b in SAME_AS]}),
                       os.path.join(out_dir, "sameas.parquet"))
        props.update(_text_props(all_texts))
        props["churn_share"] = n_churn / n
        props["planted_share"] = planted / len(all_texts)
    else:
        raise ValueError(f"unknown workload {workload}")
    props["files"] = sum(len([f for f in fs if f == "documents.parquet"])
                         for _, _, fs in os.walk(out_dir))
    return props
