"""Seeded input generators for the three benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the
benchmark's ``--seed`` and writes only plain files (text or parquet); the
engine sees nothing but those files. Each returns a small dict of facts
about what it wrote (sizes, planted ground truth) that the checkers use.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Letters only (Unicode category L, precomposed), so the reference
# tokenizer (runs of non-letters split words) sees each word whole.
LETTERS = list("abcdefghijklmnopqrstuvwxyz"
               "éèêëüößçñøåæœ"
               "αβγδεζηθλμπσω"
               "бвгджзклмнпрст")
# Non-letter separators; a repeated entry is drawn more often.
SEPARATORS = [" ", " ", " ", " ", ", ", ". ", "\n", " — ", " 1984 ", "; ", "!\n"]

WORDCOUNT = dict(files=64, total_bytes=8 << 20, vocab=60_000, zipf_s=1.1)
NEARDUP = dict(docs=5_000, dup_frac=0.2, vocab=3_000, zipf_s=0.9,
               min_len=60, max_len=140)
KNN = dict(vectors=20_000, dim=64, clusters=48, pool=256, recall_sample=64,
           k=5)


def zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def distinct_words(rng, n, min_len=2, max_len=10):
    """``n`` distinct random words over LETTERS."""
    letters = np.array(LETTERS)
    words, seen = [], set()
    while len(words) < n:
        for ln in rng.integers(min_len, max_len + 1, size=n):
            w = "".join(letters[rng.integers(0, len(letters), size=ln)])
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def gen_wordcount(rng, out_dir, files, total_bytes, vocab, zipf_s):
    """A multi-file whole-text corpus with a Zipf vocabulary."""
    os.makedirs(out_dir, exist_ok=True)
    words = np.array(distinct_words(rng, vocab), dtype=object)
    p = zipf_weights(vocab, zipf_s)
    seps = np.array(SEPARATORS, dtype=object)
    word_bytes = np.array([len(w.encode()) for w in words])
    sep_bytes = np.mean([len(s.encode()) for s in SEPARATORS])
    tokens_per_file = int(total_bytes / files / (p @ word_bytes + sep_bytes))
    paths, nbytes, nchars = [], 0, 0
    for i in range(files):
        idx = rng.choice(vocab, size=tokens_per_file, p=p)
        sep = seps[rng.integers(0, len(seps), size=tokens_per_file)]
        text = "".join(w + s for w, s in zip(words[idx], sep))
        path = os.path.join(out_dir, f"part-{i:03d}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        nbytes += len(text.encode())
        nchars += len(text)
        paths.append(path)
    return {"files": paths, "bytes": nbytes, "chars": nchars,
            "tokens": tokens_per_file * files}


def _draw_set(rng, p, size):
    """``size`` distinct token ids drawn by weight ``p``."""
    out = np.unique(rng.choice(len(p), size=size * 2, p=p))
    while len(out) < size:
        out = np.union1d(out, rng.choice(len(p), size=size, p=p))
    return rng.permutation(out)[:size]


def jaccard(a, b):
    a, b = set(a), set(b)
    return len(a & b) / len(a | b)


def gen_neardup(rng, out_dir, docs, dup_frac, vocab, zipf_s, min_len, max_len):
    """Documents whose token sets form planted near-duplicate groups.

    A group is a base document plus copies, each copy made from an earlier
    member (so some groups are chains: a copy of a copy) by swapping about
    3 % of its tokens, which keeps every copy at exact token-set Jaccard
    >= 0.9 to its parent. Documents are otherwise independent Zipf draws,
    far below 0.9 from each other. Ground truth: each document's cluster id
    is the minimum doc_id of its group (itself for a singleton).
    """
    os.makedirs(out_dir, exist_ok=True)
    p = zipf_weights(vocab, zipf_s)
    sets, group_of = [], []
    n_dup = int(docs * dup_frac)
    g = 0
    while len(sets) < n_dup:
        members = [_draw_set(rng, p, int(rng.integers(min_len, max_len + 1)))]
        for _ in range(int(rng.integers(2, 7)) - 1):
            parent = members[int(rng.integers(0, len(members)))]
            swap = max(1, int(0.03 * len(parent)))
            keep = rng.permutation(parent)[swap:]
            others = np.setdiff1d(np.arange(vocab), parent)
            fresh = rng.choice(others, size=swap, replace=False,
                               p=p[others] / p[others].sum())
            child = np.concatenate([keep, fresh])
            assert jaccard(parent, child) >= 0.92
            members.append(child)
        sets.extend(members)
        group_of.extend([g] * len(members))
        g += 1
    while len(sets) < docs:
        sets.append(_draw_set(rng, p, int(rng.integers(min_len, max_len + 1))))
        group_of.append(g)
        g += 1
    ids = rng.permutation(len(sets)).astype(np.int64)
    cluster = {}
    for doc_id, grp in zip(ids, group_of):
        cluster[grp] = min(cluster.get(grp, doc_id), doc_id)
    truth = {int(d): int(cluster[grp]) for d, grp in zip(ids, group_of)}
    texts = [" ".join(f"t{t}" for t in s) for s in sets]
    pq.write_table(pa.table({"doc_id": ids, "text": texts}),
                   os.path.join(out_dir, "documents.parquet"))
    return {"docs": len(sets), "dup_docs": n_dup, "groups": g, "truth": truth}


def gen_knn(rng, out_dir, vectors, dim, clusters, pool, recall_sample, k):
    """Clustered float embeddings, a disjoint query pool, and exact top-k.

    Corpus ids are 0..vectors-1 and query ids start at 10**9: the indexed
    search drops any match whose query_id equals its vec_id, so the two id
    ranges must not meet. Exact top-k is by cosine over the float vectors
    for the first ``recall_sample`` queries of the pool.
    """
    os.makedirs(out_dir, exist_ok=True)
    centers = rng.normal(size=(clusters, dim))

    def draw(n):
        c = rng.integers(0, clusters, size=n)
        return (centers[c] + 0.6 * rng.normal(size=(n, dim))).astype(np.float32)

    corpus, queries = draw(vectors), draw(pool)
    qids = np.arange(pool, dtype=np.int64) + 10**9

    def write(name, ids, vecs):
        emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim)
        pq.write_table(
            pa.table({"vec_id": ids, "embedding": emb.cast(pa.list_(pa.float32()))}),
            os.path.join(out_dir, name), row_group_size=vectors // 8)

    write("embeddings.parquet", np.arange(vectors, dtype=np.int64), corpus)
    write("queries.parquet", qids, queries)
    unit = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries[:recall_sample]
    sims = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ unit.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    exact = {int(qids[i]): [int(v) for v in top[i]] for i in range(len(q))}
    return {"vectors": vectors, "pool": pool, "k": k, "exact_topk": exact}
