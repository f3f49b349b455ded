"""Seeded input generators for the workflow benchmark.

Every workload's inputs are derived from one integer seed; the same seed
gives byte-identical files (and therefore identical digests). graft only
ever sees the files written here. The planted properties are module
constants so the correctness checks and the run record can refer to them.

    python3 perfbench/gen.py --workload etl_daily --seed 1 --out DIR
"""

import argparse
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- etl_daily -------------------------------------------------------------
ETL_DAYS = 6                   # days in the source
ETL_EVENTS_PER_DAY = 4000
ETL_USERS = 400
ETL_EVENT_TYPES = ("click", "view", "purchase", "error", "login")
ETL_NAN_DAY = 3                # index of the planted all-NaN day (DQ rejects it)
ETL_LATE_DAYS = (1, 4)         # days that receive late events
ETL_LATE_PER_DAY = 800
ETL_START = dt.date(2024, 3, 1)

# ---- corpus_graph: corpus preparation --------------------------------------
CORPUS_BASE_DOCS = 900        # original documents (before planted copies)
CORPUS_SOURCES = 20            # src0 is the held-aside eval source
CORPUS_EVAL_SOURCE = "src0"
CORPUS_EXACT_DUP_SHARE = 0.10  # shares of the final corpus
CORPUS_NEAR_DUP_SHARE = 0.10
CORPUS_CONTAM_SHARE = 0.05
CORPUS_VOCAB = 3000
CORPUS_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

# ---- ann_lifecycle ---------------------------------------------------------
ANN_DIM = 64
ANN_CLUSTERS = 48
ANN_LATENT = 6                 # intrinsic dimension within a cluster
ANN_BASE = 3000                # vectors in the initial build
ANN_APPEND_BATCHES = 1
ANN_APPEND_BATCH = 500
ANN_DELETES = 1                # erasure operations per cycle
ANN_DELETE_IDS = 50            # ids erased per operation
ANN_QUERIES = 20               # queries per batch

# ---- corpus_graph: graph walks ---------------------------------------------
# graft's graph operators run on the driver below an edge-count threshold
# (1M by default) and as distributed loops above it. The benchmark lowers
# the thresholds to these values so that one affordable graph lands on
# each side of them.
GRAPH_LOCAL_EDGE_THRESHOLD = 6000
GRAPH_LOCAL_NODE_THRESHOLD = 1000   # PageRank's node-count tier
GRAPH_SMALL = (1500, 4000)         # (nodes, edges): driver paths
GRAPH_LARGE = (3000, 9000)         # above both thresholds: distributed loops
GRAPH_ZIPF = 1.6                   # endpoint skew


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _write_json(obj, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, indent=1)


def digest(root):
    """sha256 over every file under root (relative path + bytes), sorted."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _events(rng, day_index, n, first_id, late=False):
    day = ETL_START + dt.timedelta(days=day_index)
    base_us = (day - dt.date(1970, 1, 1)).days * 86_400_000_000
    # late events land in the second half of their day, so some of them
    # are the latest row of their key and the L2 merge must replace rows
    lo = 43_200_000_000 if late else 0
    offs = np.sort(rng.integers(lo, 86_400_000_000, size=n))
    users = (rng.zipf(1.3, size=n) - 1) % ETL_USERS
    types = rng.integers(0, len(ETL_EVENT_TYPES), size=n)
    values = np.round(rng.normal(20.0, 8.0, size=n), 2)
    if day_index == ETL_NAN_DAY and not late:
        values = np.full(n, np.nan)
    ks = rng.integers(0, 100, size=n)
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": (base_us + offs).astype("datetime64[us]"),
        "user_id": users.astype(np.int64),
        "event_type": [ETL_EVENT_TYPES[t] for t in types],
        "value": values,
        "props": ['{"k": %d}' % k for k in ks],
    }


_EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def _concat(parts):
    return pa.Table.from_pydict(
        {k: np.concatenate([p[k] for p in parts]) if k in ("event_id", "ts", "user_id", "value")
         else sum((p[k] for p in parts), []) for k in _EVENT_SCHEMA.names},
        schema=_EVENT_SCHEMA)


def gen_etl(rng, out):
    parts, next_id = [], 0
    for d in range(ETL_DAYS):
        parts.append(_events(rng, d, ETL_EVENTS_PER_DAY, next_id))
        next_id += ETL_EVENTS_PER_DAY
    _write(_concat(parts), os.path.join(out, "src", "events.parquet", "part-00000.parquet"))
    late, next_id = [], 10_000_000
    for d in ETL_LATE_DAYS:
        late.append(_events(rng, d, ETL_LATE_PER_DAY, next_id, late=True))
        next_id += ETL_LATE_PER_DAY
    _write(_concat(late), os.path.join(out, "late", "part-late.parquet"))
    days = [str(ETL_START + dt.timedelta(days=d)) for d in range(ETL_DAYS)]
    meta = {"days": days, "nan_day": days[ETL_NAN_DAY],
            "late_days": [days[d] for d in ETL_LATE_DAYS],
            "n_events": ETL_DAYS * ETL_EVENTS_PER_DAY,
            "n_late": len(ETL_LATE_DAYS) * ETL_LATE_PER_DAY}
    _write_json(meta, os.path.join(out, "meta.json"))
    return {"etl.source_rows": meta["n_events"], "etl.late_rows": meta["n_late"],
            "etl.days": ETL_DAYS}


def _sentence(rng, words, n):
    idx = rng.integers(0, len(words), size=n)
    toks = [words[i] for i in idx]
    for j in range(0, n, 4):          # stopwords keep the quality score up
        toks[j] = CORPUS_STOPWORDS[idx[j] % len(CORPUS_STOPWORDS)]
    return " ".join(toks)


def gen_corpus(rng, out):
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "de"]
    vocab = sorted({"".join(rng.choice(syll, size=int(rng.integers(2, 4))))
                    for _ in range(CORPUS_VOCAB * 2)})[:CORPUS_VOCAB]
    n_final = int(round(CORPUS_BASE_DOCS / (1 - CORPUS_EXACT_DUP_SHARE
                                            - CORPUS_NEAR_DUP_SHARE - CORPUS_CONTAM_SHARE)))
    docs = []    # (text, source)
    for i in range(CORPUS_BASE_DOCS):
        src = "src%d" % (i % CORPUS_SOURCES)
        docs.append((_sentence(rng, vocab, int(rng.integers(60, 140))), src))
    train_ids = [i for i, (_, s) in enumerate(docs) if s != CORPUS_EVAL_SOURCE]
    eval_ids = [i for i, (_, s) in enumerate(docs) if s == CORPUS_EVAL_SOURCE]
    exact_pairs, near_pairs, contaminated = [], [], []
    for _ in range(int(n_final * CORPUS_EXACT_DUP_SHARE)):
        o = int(rng.choice(train_ids))
        exact_pairs.append([o, len(docs)])
        docs.append(docs[o])
    for _ in range(int(n_final * CORPUS_NEAR_DUP_SHARE)):
        o = int(rng.choice(train_ids))
        toks = docs[o][0].split(" ")
        for j in rng.choice(len(toks), size=max(1, len(toks) // 25), replace=False):
            toks[j] = vocab[int(rng.integers(0, len(vocab)))]
        near_pairs.append([o, len(docs)])
        docs.append((" ".join(toks), docs[o][1]))
    for _ in range(int(n_final * CORPUS_CONTAM_SHARE)):
        e = int(rng.choice(eval_ids))
        src = "src%d" % int(rng.integers(1, CORPUS_SOURCES))
        text = _sentence(rng, vocab, 30) + " " + docs[e][0] + " " + _sentence(rng, vocab, 30)
        contaminated.append(len(docs))
        docs.append((text, src))
    # shuffle doc ids so planted copies are not all at the tail
    perm = rng.permutation(len(docs))
    new_id = {int(old): int(new) for new, old in enumerate(perm)}
    rows = [None] * len(docs)
    for old, (text, src) in enumerate(docs):
        rows[new_id[old]] = (text, src)
    table = pa.Table.from_pydict({
        "doc_id": pa.array(range(len(rows)), pa.int64()),
        "text": [r[0] for r in rows],
        "lang": ["en"] * len(rows),
        "source": [r[1] for r in rows],
        "n_chars": pa.array([len(r[0]) for r in rows], pa.int64())})
    _write(table, os.path.join(out, "docs.parquet", "part-00000.parquet"))
    planted = {
        "exact_pairs": [[new_id[a], new_id[b]] for a, b in exact_pairs],
        "near_pairs": [[new_id[a], new_id[b]] for a, b in near_pairs],
        "contaminated": [new_id[c] for c in contaminated],
        "eval_source": CORPUS_EVAL_SOURCE, "n_docs": len(rows)}
    _write_json(planted, os.path.join(out, "planted.json"))
    n = len(rows)
    return {"corpus.docs": n,
            "corpus.planted.exact_dup": round(len(exact_pairs) / n, 4),
            "corpus.planted.near_dup": round(len(near_pairs) / n, 4),
            "corpus.planted.contaminated": round(len(contaminated) / n, 4)}


def _vectors(rng, centers, bases, n):
    """Clustered vectors of low intrinsic dimension: a cluster centre plus a
    point of the cluster's own ANN_LATENT-dimensional subspace, plus noise."""
    c = rng.integers(0, len(centers), size=n)
    z = rng.normal(0.0, 0.25, size=(n, ANN_LATENT))
    v = centers[c] + np.einsum("nl,nld->nd", z, bases[c]) \
        + rng.normal(0.0, 0.01, size=(n, ANN_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def _vector_table(ids, v):
    emb = pa.array(list(v), pa.list_(pa.float32()))
    return pa.Table.from_pydict({"vec_id": pa.array(ids, pa.int64()), "embedding": emb})


def gen_ann(rng, out):
    centers = rng.normal(0.0, 1.0, size=(ANN_CLUSTERS, ANN_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    bases = rng.normal(0.0, 1.0, size=(ANN_CLUSTERS, ANN_LATENT, ANN_DIM)) / np.sqrt(ANN_DIM)
    base = _vectors(rng, centers, bases, ANN_BASE)
    # erasures target base vectors; queries are base vectors never erased
    perm = rng.permutation(ANN_BASE)
    deletes = [sorted(int(x) for x in perm[i * ANN_DELETE_IDS:(i + 1) * ANN_DELETE_IDS])
               for i in range(ANN_DELETES)]
    queries = sorted(int(x) for x in perm[ANN_DELETES * ANN_DELETE_IDS:][:ANN_QUERIES])
    # each append batch opens with a twin (same embedding, new id) of an
    # anchor: a query vector of random direction, outside every cluster.
    # Its PQ code is then shared by no other vector, so the twin is the
    # minimum-ADC candidate and, at cosine 1, the anchor's rank-1 hit. A
    # cluster member's code is shared by many vectors, and the ADC stage
    # breaks those ties by id, against the later-appended twin.
    anchors = queries[:ANN_APPEND_BATCHES]
    a = rng.normal(0.0, 1.0, size=(len(anchors), ANN_DIM))
    base[anchors] = (a / np.linalg.norm(a, axis=1, keepdims=True)).astype(np.float32)
    _write(_vector_table(np.arange(ANN_BASE), base),
           os.path.join(out, "base.parquet", "part-00000.parquet"))
    twins, next_id = [], ANN_BASE
    for b in range(ANN_APPEND_BATCHES):
        v = _vectors(rng, centers, bases, ANN_APPEND_BATCH)
        v[0] = base[anchors[b]]
        twins.append([anchors[b], next_id])
        _write(_vector_table(np.arange(next_id, next_id + ANN_APPEND_BATCH), v),
               os.path.join(out, "append_%d.parquet" % b, "part-00000.parquet"))
        next_id += ANN_APPEND_BATCH
    meta = {"dim": ANN_DIM, "base": ANN_BASE, "append_batches": ANN_APPEND_BATCHES,
            "append_batch": ANN_APPEND_BATCH, "deletes": deletes, "queries": queries,
            "twins": twins}
    _write_json(meta, os.path.join(out, "meta.json"))
    return {"ann.base_vectors": ANN_BASE,
            "ann.appended_vectors": ANN_APPEND_BATCHES * ANN_APPEND_BATCH,
            "ann.erased_ids": ANN_DELETES * ANN_DELETE_IDS}


def _skewed_edges(rng, nodes, edges):
    """Distinct undirected (u, v) pairs, u < v, one endpoint Zipf-skewed, so
    a few hub nodes carry much of the degree."""
    got = np.empty((0, 2), dtype=np.int64)
    while len(got) < edges:
        k = 2 * edges
        a = (rng.zipf(GRAPH_ZIPF, size=k) - 1) % nodes
        b = rng.integers(0, nodes, size=k)
        pair = np.stack([np.minimum(a, b), np.maximum(a, b)], axis=1)
        pair = pair[pair[:, 0] != pair[:, 1]]
        got = np.unique(np.concatenate([got, pair]), axis=0)
    keep = np.sort(rng.choice(len(got), size=edges, replace=False))
    return got[keep]


def gen_graph(rng, out):
    stats = {}
    for name, (nodes, edges) in (("small", GRAPH_SMALL), ("large", GRAPH_LARGE)):
        e = _skewed_edges(rng, nodes, edges)
        _write(pa.Table.from_pydict({"u": pa.array(e[:, 0], pa.int64()),
                                     "v": pa.array(e[:, 1], pa.int64())}),
               os.path.join(out, "graph_%s.parquet" % name, "part-00000.parquet"))
        stats["graph.%s.edges" % name] = len(e)
        stats["graph.%s.nodes" % name] = len(np.unique(e))
    _write_json({"local_edge_threshold": GRAPH_LOCAL_EDGE_THRESHOLD,
                 "local_node_threshold": GRAPH_LOCAL_NODE_THRESHOLD},
                os.path.join(out, "graph.json"))
    return stats


def gen_corpus_graph(rng, out):
    stats = gen_corpus(rng, out)
    stats.update(gen_graph(rng, out))
    return stats


GENERATORS = {"etl_daily": gen_etl, "corpus_graph": gen_corpus_graph,
              "ann_lifecycle": gen_ann}


def generate(workload, seed, out):
    """Write the workload's inputs under out; return (digest, planted stats)."""
    # one stream per workload, so adding a workload never shifts another's inputs
    salt = sorted(GENERATORS).index(workload)
    rng = np.random.default_rng([seed, salt])
    stats = GENERATORS[workload](rng, out)
    return digest(out), stats


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    d, stats = generate(a.workload, a.seed, a.out)
    print(json.dumps({"digest": d, **stats}))


if __name__ == "__main__":
    main()
