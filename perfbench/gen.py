"""Seeded input generator for the benchmark.

Every input a workload feeds the library comes from here: fixtures,
query vectors, lexical term lists, the add stream and the order of
operations. The same (workload, seed, size) always writes the same files.
Generation is not timed by the benchmark.

    python3 perfbench/gen.py <workload> <seed> <size> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per profile. "full" is what the recorded benchmark runs; "smoke"
# is a tiny profile for the benchmark's own tests.
SIZES = {
    "full": {
        "ann_serve": dict(rows=3000, dim=64, clusters=32, docs=2000, vocab=3000,
                          blocks=40, recall_queries=32),
        "ingest_serve": dict(rows=1000, adds=1000, add_batch=500, dim=64,
                             clusters=32, blocks=40, recall_queries=32),
        "dedup_pipeline": dict(shards=12, base_docs=450, clouds=2, cloud_size=180,
                               near_frac=0.15, lm_docs=1500, vocab=3000),
    },
    "smoke": {
        "ann_serve": dict(rows=600, dim=16, clusters=8, docs=300, vocab=300,
                          blocks=8, recall_queries=8),
        "ingest_serve": dict(rows=300, adds=200, add_batch=50, dim=16,
                             clusters=8, blocks=8, recall_queries=8),
        "dedup_pipeline": dict(shards=3, base_docs=120, clouds=1, cloud_size=80,
                               near_frac=0.15, lm_docs=200, vocab=300),
    },
}

# Serve families and the skewed batch sizes. The schedule is a sequence
# of blocks; each block serves every family once, in a seeded order, and
# family i serves BATCH_SLOTS[(i + block) % 5] queries. The sizes a family
# sees rotate from block to block, and every seed runs the same mix of
# (family, size) pairs, so runs on different seeds compare.
FAMILIES = ["hnsw", "vamana", "ivf", "spann", "ta"]
INGEST_FAMILIES = ["ivf", "hnsw", "vamana"]
BATCH_SLOTS = [1, 1, 2, 4, 16]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _vec_table(ids, vecs, labels=None, id_col="vec_id", vec_col="embedding"):
    cols = {id_col: pa.array(ids, pa.int64()),
            vec_col: pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32()))}
    if labels is not None:
        cols["label"] = pa.array(labels, pa.int32())
    return pa.table(cols)


def _clustered(rng, n, dim, clusters):
    centers = rng.normal(0.0, 1.0, (clusters, dim)) / np.sqrt(dim)
    lab = rng.integers(0, clusters, n)
    vecs = centers[lab] + rng.normal(0.0, 0.35, (n, dim)) / np.sqrt(dim)
    return vecs.astype(np.float32), lab


def _perturbed(rng, base, n):
    """Fresh query vectors near (not equal to) corpus rows."""
    pick = rng.integers(0, len(base), n)
    noise = rng.normal(0.0, 0.1, (n, base.shape[1])) / np.sqrt(base.shape[1])
    return (base[pick] + noise).astype(np.float32)


def _zipf_words(rng, vocab, n):
    """Term ids drawn Zipf-style (s = 1.1) over a fixed vocabulary."""
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -1.1
    p /= p.sum()
    return rng.choice(vocab, size=n, p=p)


def _word(i):
    return "t%d" % i


def _docs_text(rng, vocab, n, lo=30, hi=90):
    lens = rng.integers(lo, hi, n)
    words = _zipf_words(rng, vocab, int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(_word(w) for w in words[pos:pos + ln]))
        pos += ln
    return out


def _serve_schedule(rng, n_blocks, families):
    ops = []
    for block in range(n_blocks):
        for i in rng.permutation(len(families)):
            ops.append((families[i], BATCH_SLOTS[(i + block) % len(BATCH_SLOTS)]))
    return ops


def gen_ann(rng, out, z):
    vecs, lab = _clustered(rng, z["rows"], z["dim"], z["clusters"])
    _write(_vec_table(np.arange(z["rows"]), vecs, lab % 10), f"{out}/embeddings.parquet")
    texts = _docs_text(rng, z["vocab"], z["docs"])
    _write(pa.table({"doc_id": pa.array(np.arange(z["docs"]), pa.int64()),
                     "text": pa.array(texts, pa.string())}), f"{out}/documents.parquet")
    sched = _serve_schedule(rng, z["blocks"], FAMILIES)
    # one query id range per op; vector and lexical pools are separate
    vq_total = sum(s for f, s in sched if f != "ta") + z["recall_queries"]
    lq_total = sum(s for f, s in sched if f == "ta") + 8
    _write(_vec_table(np.arange(vq_total), _perturbed(rng, vecs, vq_total),
                      id_col="query_id", vec_col="qvec"), f"{out}/queries.parquet")
    qid, terms = [], []
    for q in range(lq_total):
        n_terms = int(rng.integers(2, 7))
        ws = sorted(set(_zipf_words(rng, z["vocab"], n_terms).tolist()))
        qid += [q] * len(ws)
        terms += [_word(w) for w in ws]
    _write(pa.table({"query_id": pa.array(qid, pa.int64()),
                     "term": pa.array(terms, pa.string())}), f"{out}/lexical.parquet")
    ops, vpos, lpos = [], z["recall_queries"], 8
    for f, s in sched:
        if f == "ta":
            ops.append([f, s, lpos]); lpos += s
        else:
            ops.append([f, s, vpos]); vpos += s
    return {"ops": ops, "block": len(FAMILIES), "recall_queries": z["recall_queries"],
            "rows": z["rows"], "dim": z["dim"], "docs": z["docs"], "lexical_check_queries": 8}


def gen_ingest(rng, out, z):
    n = z["rows"] + z["adds"]
    vecs, lab = _clustered(rng, n, z["dim"], z["clusters"])
    _write(_vec_table(np.arange(z["rows"]), vecs[:z["rows"]], lab[:z["rows"]] % 10),
           f"{out}/embeddings.parquet")
    _write(_vec_table(np.arange(z["rows"], n), vecs[z["rows"]:], lab[z["rows"]:] % 10),
           f"{out}/adds.parquet")
    sched = _serve_schedule(rng, z["blocks"], INGEST_FAMILIES)
    total = sum(s for _, s in sched) + z["recall_queries"]
    _write(_vec_table(np.arange(total), _perturbed(rng, vecs, total),
                      id_col="query_id", vec_col="qvec"), f"{out}/queries.parquet")
    ops, pos = [], z["recall_queries"]
    for f, s in sched:
        ops.append([f, s, pos]); pos += s
    return {"ops": ops, "block": len(INGEST_FAMILIES), "recall_queries": z["recall_queries"],
            "rows": z["rows"], "adds": z["adds"], "add_batch": z["add_batch"], "dim": z["dim"]}


def _near_dup(rng, text):
    """Swap one adjacent word pair: most 3-shingles survive."""
    w = text.split()
    i = int(rng.integers(1, len(w) - 2))
    w[i], w[i + 1] = w[i + 1], w[i]
    return " ".join(w)


def gen_dedup(rng, out, z):
    shards, planted = [], []
    next_id = 0
    for s in range(z["shards"]):
        texts = _docs_text(rng, z["vocab"], z["base_docs"])
        ids = list(range(next_id, next_id + len(texts)))
        verb, near = [], []
        # boilerplate clouds: a few texts replicated verbatim many times
        for c in range(z["clouds"]):
            src = ids[c]
            for _ in range(z["cloud_size"]):
                verb.append((src, texts[c]))
        # word-swapped near duplicates of a share of the other base docs
        n_near = int(z["near_frac"] * z["base_docs"])
        for src_i in rng.choice(np.arange(z["clouds"], z["base_docs"]), n_near, replace=False):
            near.append((ids[src_i], _near_dup(rng, texts[src_i])))
        all_ids, all_texts = list(ids), list(texts)
        nid = next_id + len(texts)
        for kind, rows in (("verbatim", verb), ("near", near)):
            for src, txt in rows:
                all_ids.append(nid); all_texts.append(txt)
                planted.append([s, src, nid, kind]); nid += 1
        perm = rng.permutation(len(all_ids))
        ids_p = [all_ids[i] for i in perm]
        texts_p = [all_texts[i] for i in perm]
        _write(pa.table({"doc_id": pa.array(ids_p, pa.int64()),
                         "text": pa.array(texts_p, pa.string())}), f"{out}/shard{s}.parquet")
        # gate statistics the MinHash collapse switch reads, from the data
        groups = {}
        for t in texts_p:
            groups[t] = groups.get(t, 0) + 1
        n = len(texts_p)
        shards.append({"docs": n, "distinct_ratio": len(groups) / n,
                       "sum_g2_over_n": sum(g * g for g in groups.values()) / n})
        next_id = nid
    lm = _docs_text(rng, z["vocab"], z["lm_docs"])
    _write(pa.table({"doc_id": pa.array(np.arange(z["lm_docs"]), pa.int64()),
                     "text": pa.array(lm, pa.string())}), f"{out}/lm_corpus.parquet")
    return {"shards": shards, "planted": planted,
            "verbatim_share": z["clouds"] * z["cloud_size"] / shards[0]["docs"]}


def generate(workload, seed, size, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(SIZES["full"]).index(workload)])
    z = SIZES[size][workload]
    meta = {"ann_serve": gen_ann, "ingest_serve": gen_ingest,
            "dedup_pipeline": gen_dedup}[workload](rng, out, z)
    meta["sizes"] = z
    meta["workload"], meta["seed"], meta["size"] = workload, seed, size
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f)
    return meta


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4])
