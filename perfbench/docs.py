"""Seeded text corpus and embedding set for the dedup workload.

Documents draw words from a Zipf-distributed vocabulary, so frequent
shingles are shared by many documents (the fan-out the n-gram self-join
pays for). Planted on top of the base documents:

- exact duplicates: a copy of a base document with changed case and
  spacing, which normalization must see through;
- near duplicates: a copy with a few words substituted.

Embeddings form equal clusters of unit vectors plus planted near-copies
(a base vector plus small noise), so SemDeDup's pair work is the same
for every seed. Every planted text pair is recorded, so the checks can
assert that nothing planted is missed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHINGLE_N = 3


@dataclass
class Corpus:
    docs_path: str
    vecs_path: str
    n_docs: int
    n_vecs: int
    texts: list[str]
    # planted exact groups: sorted member ids, the keeper is the lowest
    exact_groups: list[list[int]]
    near_pairs: list[tuple[int, int]]  # (base id, near copy id)


def shingle_set(text: str, n: int = SHINGLE_N) -> set[str]:
    """The program's shingle definition in plain Python: normalized
    (whitespace-collapsed, lower-cased) word n-grams."""
    toks = " ".join(text.split()).lower().split(" ")
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return round(len(sa & sb) / len(sa | sb), 6)


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    syll = np.array(
        [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"], dtype=object
    )
    words = set()
    while len(words) < size:
        k = int(rng.integers(1, 4))
        words.add("".join(rng.choice(syll, size=k)))
    return np.array(sorted(words), dtype=object)


def generate(
    root: str,
    seed: int,
    n_base: int,
    exact_frac: float,
    near_frac: float,
    zipf_s: float,
    n_vecs: int,
    dim: int,
    near_vec_frac: float,
    n_clusters: int,
    vocab_size: int = 20000,
    doc_words: tuple[int, int] = (40, 120),
    near_subst: tuple[int, int] = (1, 6),
) -> Corpus:
    """Write ``docs.parquet`` (doc_id, text) and ``vecs.parquet``
    (vec_id, embedding) under ``root``; the same seed writes the same
    rows."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, vocab_size)
    p = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
    p /= p.sum()

    texts: list[str] = []
    for _ in range(n_base):
        n = int(rng.integers(*doc_words))
        texts.append(" ".join(vocab[rng.choice(vocab_size, size=n, p=p)]))

    exact_groups: dict[int, list[int]] = {}
    for base in rng.choice(n_base, size=int(n_base * exact_frac), replace=False):
        words = texts[base].split(" ")
        # normalization must fold case and whitespace runs together
        j = int(rng.integers(len(words)))
        words[j] = words[j].upper()
        texts.append("  ".join(words[:3]) + " " + " ".join(words[3:]) + " ")
        exact_groups.setdefault(int(base), [int(base)]).append(len(texts) - 1)

    near_pairs = []
    for base in rng.choice(n_base, size=int(n_base * near_frac), replace=False):
        words = texts[base].split(" ")
        for j in rng.choice(len(words), size=int(rng.integers(*near_subst)), replace=False):
            # a vocabulary word of equal rank band keeps the Zipf shape;
            # the suffix guarantees the word really changes
            words[j] = vocab[int(rng.integers(vocab_size))] + "x"
        texts.append(" ".join(words))
        near_pairs.append((int(base), len(texts) - 1))

    # shuffle ids so duplicates are not adjacent to their originals
    order = rng.permutation(len(texts))
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[order] = np.arange(len(texts))
    texts = [texts[i] for i in order]
    exact = [sorted(int(new_id[i]) for i in g) for g in exact_groups.values()]
    near = [tuple(sorted((int(new_id[a]), int(new_id[b])))) for a, b in near_pairs]

    os.makedirs(root, exist_ok=True)
    docs_path = os.path.join(root, "docs.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(np.arange(len(texts)), pa.int64()), "text": texts}),
        docs_path,
    )

    # vector i belongs to cluster i % n_clusters, so the first
    # n_clusters ids (the quantizer's initial centroids) hold one member
    # of every cluster and every seed yields equal clusters; members sit
    # at cosine ~0.5 from each other, planted copies at ~0.997
    n_near = int(n_vecs * near_vec_frac)
    n_base_vecs = n_vecs - n_near
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    member_noise = 1.0 / np.sqrt(dim)
    base_vecs = centers[np.arange(n_base_vecs) % n_clusters]
    base_vecs = base_vecs + member_noise * rng.standard_normal((n_base_vecs, dim))
    src = rng.permutation(n_base_vecs)[:n_near]
    near_vecs = base_vecs[src] + 0.1 * member_noise * rng.standard_normal((n_near, dim))
    vecs = np.vstack([base_vecs, near_vecs])
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = np.round(vecs, 6)
    vecs_path = os.path.join(root, "vecs.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float64())),
            }
        ),
        vecs_path,
    )
    return Corpus(docs_path, vecs_path, len(texts), n_vecs, texts, exact, near)
