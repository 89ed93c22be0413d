"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical files (`python3 perfbench/selftest.py` checks this).
Inputs are written once per (workload, seed) under the cache directory
given by the caller and reused by later runs with that seed.

- `text`: Zipf-distributed words as line-safe text shards in the
  reference's layout (`shards/input-001.txt`, ...), the same lines as a
  `documents` table, and the exact word tally kept while writing
  (`tally.tsv`).
- `vecs`: an `embeddings` table of 64-dimensional vectors with planted
  near-duplicate groups.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. Changing any of them changes the benchmark.
# mr_job has the shape of the reference's one measured job (about 100k
# lines, about 4 MB in five line-safe shards, 13,077 distinct words):
# nearly every vocabulary word occurs, so the vocabulary size sets the
# distinct-key count.
SIZES = {
    "mr_job": {"lines": 100_000, "words_per_line": (4, 8), "vocab": 13_100, "shards": 5},
    "iterative": {"vecs": 2_000, "max_random_cos": 0.40},
}

LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = np.array([0.41, 0.14, 0.15, 0.15, 0.15])


def _syllable_words(rng, n):
    """n distinct lowercase words built from consonant-vowel syllables."""
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    sylls = [c + v for c in cons for v in vows]
    out, seen = [], set()
    while len(out) < n:
        k = int(rng.integers(1, 5))
        w = "".join(sylls[int(i)] for i in rng.integers(0, len(sylls), size=k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_ids(rng, vocab, size, s=1.05):
    p = 1.0 / np.arange(1, vocab + 1) ** s
    return rng.choice(vocab, size=size, p=p / p.sum())


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=64 * 1024)


def _docs_table(rng, texts):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)].tolist()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def gen_text(seed, out, lines, words_per_line, vocab, shards):
    rng = np.random.default_rng([seed, 1])
    words = np.array(_syllable_words(rng, vocab))
    lens = rng.integers(words_per_line[0], words_per_line[1] + 1, size=lines)
    ids = _zipf_ids(rng, vocab, int(lens.sum()))
    tally = np.bincount(ids, minlength=vocab)
    toks = words[ids].astype(object)
    # mixed case and punctuation exercise the map's normalisation
    caps = rng.random(len(ids)) < 0.08
    toks[caps] = [t.capitalize() for t in toks[caps]]
    punct = rng.random(len(ids)) < 0.12
    toks[punct] = toks[punct] + np.array([",", ".", ";", "!", "?"])[rng.integers(0, 5, size=int(punct.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(toks[bounds[i]:bounds[i + 1]]) for i in range(lines)]

    # line-safe shards of about the same size: a shard ends at the first
    # line end past its share of the bytes
    os.makedirs(f"{out}/shards")
    ends = np.cumsum([len(t) + 1 for t in texts])
    cuts = np.searchsorted(ends, ends[-1] * np.arange(1, shards) / shards) + 1
    for i, (a, b) in enumerate(zip([0, *cuts], [*cuts, lines]), 1):
        with open(f"{out}/shards/input-{i:03d}.txt", "w") as f:
            f.writelines(t + "\n" for t in texts[a:b])
    _write(_docs_table(rng, texts), f"{out}/documents.parquet")
    with open(f"{out}/tally.tsv", "w") as f:
        for w, c in sorted(zip(words.tolist(), tally.tolist())):
            if c:
                f.write(f"{w}\t{c}\n")


def _unit(x):
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _random_vectors(rng, n, max_cos):
    """n Gaussian 64-d vectors, no two of which reach cosine max_cos
    (rejection sampling), so every pair above it is planted."""
    kept = np.empty((0, 64))
    while len(kept) < n:
        cand = rng.standard_normal((max(64, (n - len(kept)) * 2), 64))
        u = _unit(cand)
        ok = np.ones(len(cand), bool)
        if len(kept):
            ok &= (u @ _unit(kept).T).max(axis=1) < max_cos
        gram = u @ u.T
        for i in range(len(u) - 1):  # greedy within the batch
            if ok[i]:
                ok[i + 1:] &= gram[i, i + 1:] < max_cos
        kept = np.vstack([kept, cand[ok]])[:n]
    return kept


def gen_vecs(seed, out, vecs, max_random_cos):
    """Embeddings with planted near-duplicate groups: a planted copy adds
    Gaussian noise of 1% of the vector's norm (cosine above 0.999).
    Groups hold 2-4 members."""
    rng = np.random.default_rng([seed, 3])
    n_vbase = int(vecs * 0.9)
    base = _random_vectors(rng, n_vbase, max_random_cos)
    rows = list(base)
    while len(rows) < vecs:
        b = int(rng.integers(0, n_vbase))
        for _ in range(int(rng.integers(1, min(3, vecs - len(rows)) + 1))):
            rows.append(base[b] + 0.01 * np.linalg.norm(base[b]) / 8 * rng.standard_normal(64))
    # planted copies land at random ids
    emb = np.array(rows, dtype=np.float32)[rng.permutation(vecs)]
    _write(pa.table({
        "vec_id": pa.array(np.arange(vecs, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=vecs, dtype=np.int32)),
    }), f"{out}/embeddings.parquet")


def generate(workload, seed, out):
    """Writes the inputs of `workload` for `seed` into the new directory `out`."""
    s = SIZES[workload]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "mr_job":
        gen_text(seed, tmp, **s)
    elif workload == "iterative":
        gen_vecs(seed, tmp, **s)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    os.rename(tmp, out)
