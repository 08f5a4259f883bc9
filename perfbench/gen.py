"""Seeded inputs and oracles for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same corpus, the same query draw and the same planted duplicates. The
package under test only ever sees the parquet files written from these
arrays; the oracles stay on the benchmark side.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVAL_DOCS = 10  # decontaminate_bloom treats docs 0-9 as the eval suite


def vocabulary(size: int = 2000) -> tuple[list[str], np.ndarray]:
    """A fixed word list with Zipf(1) frequencies, stopwords first. The
    fixture's 30-word salad makes almost every pair of documents a
    trigram near-duplicate; with this one only planted pairs are."""
    rng = np.random.default_rng(0)
    letters = np.array(list("etaoinshrdlcumwfgypbvkjxqz"))
    freq = np.array([12.7, 9.1, 8.2, 7.5, 7.0, 6.7, 6.3, 6.1, 6.0, 4.3, 4.0,
                     2.8, 2.8, 2.4, 2.4, 2.2, 2.0, 2.0, 1.9, 1.5, 1.0, 0.8,
                     0.15, 0.15, 0.1, 0.07])
    words = list(STOPWORDS)
    seen = set(words)
    while len(words) < size:
        w = "".join(rng.choice(letters, rng.integers(2, 10), p=freq / freq.sum()))
        if w not in seen:
            seen.add(w)
            words.append(w)
    p = 1.0 / np.arange(1, size + 1)
    return words, p / p.sum()


def _unit(a: np.ndarray) -> np.ndarray:
    return a / np.linalg.norm(a, axis=-1, keepdims=True)


def _embeddings_table(x: np.ndarray, labels: np.ndarray) -> pa.Table:
    """The fixture `embeddings` schema: vec_id bigint, embedding
    array<float>, label int."""
    n, d = x.shape
    flat = pa.array(np.ascontiguousarray(x, dtype=np.float32).ravel())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * d + 1, d, dtype=np.int32)), flat)
    return pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                     "embedding": emb,
                     "label": pa.array(labels.astype(np.int32))})


def planted_corpus(seed: int, n: int, dim: int, clusters: int,
                   latent: int = 32) -> tuple[np.ndarray, np.ndarray]:
    """Unit vectors with planted clusters on a low-dimensional manifold.

    Latent points come from a Gaussian mixture (one centre per planted
    cluster) and are lifted to ``dim`` by a fixed random map, plus a
    little isotropic noise. Clusters give IVF lists something to find;
    the shared latent space keeps them connected, as real text
    embeddings are, so a graph index is not split into islands."""
    rng = np.random.default_rng([seed, 1])
    centres = rng.standard_normal((clusters, latent))
    labels = rng.integers(0, clusters, n)
    z = centres[labels] + rng.standard_normal((n, latent))
    lift = rng.standard_normal((latent, dim))
    noise = 0.05 * math.sqrt(latent) * rng.standard_normal((n, dim))
    x = _unit(z @ lift + noise).astype(np.float32)
    return x, labels


def query_draw(seed: int, corpus: np.ndarray, n: int) -> np.ndarray:
    """Queries near corpus points (the reference self-queries row 0;
    here a seeded sample of rows, slightly perturbed)."""
    rng = np.random.default_rng([seed, 2])
    rows = rng.choice(len(corpus), size=n, replace=False)
    jitter = _unit(rng.standard_normal((n, corpus.shape[1])))
    return _unit(corpus[rows] + 0.05 * jitter).astype(np.float32)


def exact_topk(corpus: np.ndarray, queries: np.ndarray,
               k: int) -> tuple[np.ndarray, np.ndarray]:
    """numpy exact top-k by dot-product distance 1 - <x, q> in float64,
    ties to the smaller id: (ids[q, k], distances[q, k])."""
    dist = 1.0 - corpus.astype(np.float64) @ queries.astype(np.float64).T
    ids = np.empty((len(queries), k), dtype=np.int64)
    for j in range(len(queries)):
        ids[j] = np.lexsort((np.arange(len(corpus)), dist[:, j]))[:k]
    return ids, np.take_along_axis(dist.T, ids, axis=1)


def write_vectors(path: str, x: np.ndarray, labels: np.ndarray) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(_embeddings_table(x, labels),
                   os.path.join(path, "embeddings.parquet"),
                   row_group_size=1024)


def documents(seed: int, n: int, n_dup_pairs: int,
              n_contaminated: int) -> tuple[pa.Table, set, set]:
    """The fixture `documents` schema (doc_id, text, lang, source,
    n_chars), with planted near-duplicate pairs and planted eval-set
    contamination.

    A near-duplicate copies a long document and changes one word, so
    its character 5-gram Jaccard with the original stays near 0.9. A
    sixth of the pairs sit below doc_id 150, where the clustering stage
    looks. A contaminated document carries an 8-word span copied from
    one of the eval documents. Sizes and plant counts do not depend on
    the seed, so neither does the work. Returns (table, planted dup pairs as
    (lo, hi), contaminated doc ids)."""
    rng = np.random.default_rng([seed, 3])
    vocab, freq = vocabulary()
    lengths = rng.integers(8, 91, size=n)
    lengths[:EVAL_DOCS] = rng.integers(60, 91, size=EVAL_DOCS)
    flat = np.array(vocab)[rng.choice(len(vocab), size=lengths.sum(), p=freq)]
    words = [list(w) for w in np.split(flat, np.cumsum(lengths)[:-1])]
    rank = {w: i for i, w in enumerate(vocab)}
    long_docs = np.array([i for i in range(EVAL_DOCS, n) if len(words[i]) >= 60])
    low = long_docs[long_docs < 150]
    n_low = min(n_dup_pairs // 6, len(low) // 2)
    picks = np.concatenate([
        rng.choice(low, size=2 * n_low, replace=False),
        rng.choice(np.setdiff1d(long_docs, low),
                   size=2 * (n_dup_pairs - n_low), replace=False)])
    pairs = set()
    for src, dst in zip(picks[::2].tolist(), picks[1::2].tolist()):
        copy = list(words[src])
        pos = int(rng.integers(0, len(copy)))
        copy[pos] = vocab[(rank[copy[pos]] + 1) % len(vocab)]
        words[dst] = copy
        pairs.add((min(src, dst), max(src, dst)))
    # Contaminated hosts are long documents; each carries an 8-word span
    # from the head of eval doc (j mod 10), near its own head, so both
    # sides fall inside the 256-character view the substring stage reads.
    planted = {i for p in pairs for i in p}
    free = np.setdiff1d(long_docs, list(planted))
    contaminated = set()
    for j, i in enumerate(rng.choice(free, size=n_contaminated, replace=False).tolist()):
        ev = words[j % EVAL_DOCS]
        start, at = int(rng.integers(0, 10)), int(rng.integers(0, 10))
        words[i] = words[i][:at] + ev[start:start + 8] + words[i][at:]
        contaminated.add(i)
    texts = [" ".join(w) for w in words]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return table, pairs, contaminated


def shingles(words: list[str], n: int = 5) -> set[str]:
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def contaminated_exact(texts: list[str], n: int = 5) -> set[int]:
    """Docs (id >= EVAL_DOCS) sharing any word n-gram with the eval docs:
    the exact answer decontamination must cover."""
    bench = set().union(*(shingles(t.split(), n) for t in texts[:EVAL_DOCS]))
    return {i for i in range(EVAL_DOCS, len(texts))
            if shingles(texts[i].split(), n) & bench}


def char_jaccard(a: str, b: str, n: int = 5) -> float:
    ga = {a[i:i + n] for i in range(len(a) - n + 1)}
    gb = {b[i:i + n] for i in range(len(b) - n + 1)}
    return len(ga & gb) / len(ga | gb)


def write_curation_inputs(path: str, docs: pa.Table, seed: int,
                          n_vectors: int) -> None:
    """A generated sf-dir: `documents` plus a small 64-dim `embeddings`
    table for the similarity-graph stages (they read vec_id < 200)."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(docs, os.path.join(path, "documents.parquet"))
    x, labels = planted_corpus(seed, n_vectors, 64, clusters=10, latent=16)
    pq.write_table(_embeddings_table(x, labels),
                   os.path.join(path, "embeddings.parquet"))


def canon_hash(df) -> tuple[int, str]:
    """Order-insensitive hash of a result frame: columns sorted by name,
    cells canonicalised (ints width-free, floats exact), rows sorted."""
    cols = sorted(df.columns)

    def cell(v) -> str:
        if v is None:
            return "~"
        if isinstance(v, (bool, np.bool_)):
            return f"b{bool(v)}"
        if isinstance(v, (int, np.integer)):
            return f"i{int(v)}"
        if isinstance(v, (float, np.floating)):
            return "~" if math.isnan(v) else f"f{float(v)!r}"
        return f"s{v!r}"

    rows = sorted("|".join(cell(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(("\t".join(cols) + "\n" + "\n".join(rows)).encode())
    return len(rows), h.hexdigest()
