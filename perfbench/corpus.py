"""Seeded document corpus with planted near-duplicate families.

Each family is 2-5 lightly edited copies of one base document; the
rest of the corpus is unrelated documents.  Words come from a fixed
20k-word vocabulary under a Zipf-like law, so common words repeat
across documents the way they do in text.  Doc ids are a seeded
permutation, so family members are not adjacent ids.

Alongside the corpus the generator returns the exact truth the
dedup_corpus workload checks against: every pair whose word-3-shingle
Jaccard is at least the threshold, computed in Python within each
family (documents of different families share essentially no
3-shingles, and the check fails loudly if the engine finds one).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB_SIZE = 20_000
SHINGLE_K = 3


def shingles(words: list[str], k: int = SHINGLE_K) -> set[str]:
    """Distinct word k-shingles, as ``operators/dedup.word_shingles``
    builds them: a document shorter than k words is one shingle."""
    if len(words) < k:
        return {" ".join(words)}
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


def jaccard_at_least(a: set[str], b: set[str], threshold: float) -> bool:
    """|a & b| / |a | b| >= threshold, exact for threshold 0.5.

    The engine compares a ratio rounded to 6 decimals; with fewer than
    500k shingles per pair the only ratio within 1e-6 of 0.5 is 0.5
    itself, so the integer test agrees with the engine.
    """
    inter = len(a & b)
    union = len(a) + len(b) - inter
    if threshold == 0.5:
        return 2 * inter >= union
    return inter / union >= threshold


def _edit(rng, words: list[str], vocab: np.ndarray, n_edits: int) -> list[str]:
    out = list(words)
    for _ in range(n_edits):
        op = rng.integers(0, 3)
        pos = int(rng.integers(0, len(out)))
        word = str(vocab[rng.integers(0, len(vocab))])
        if op == 0:
            out[pos] = word
        elif op == 1 and len(out) > 4:
            del out[pos]
        else:
            out.insert(pos, word)
    return out


def generate(
    n_docs: int, seed: int, family_share: float = 0.5, threshold: float = 0.5
) -> tuple[pd.DataFrame, pd.Series, set[tuple[int, int]]]:
    """``(docs, family, truth_pairs)``.

    ``docs`` is a (doc_id long, text string) frame; ``family`` maps
    doc_id -> family id (singleton documents get their own family);
    ``truth_pairs`` holds every (a, b), a < b, whose shingle Jaccard
    is at least ``threshold``.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:05d}" for i in range(VOCAB_SIZE)])
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 0.8
    weights /= weights.sum()

    def base_doc() -> list[str]:
        n = int(rng.integers(30, 80))
        return [str(w) for w in rng.choice(vocab, size=n, p=weights)]

    texts: list[list[str]] = []
    fam: list[int] = []
    n_family_docs = int(n_docs * family_share)
    family = 0
    while len(texts) < n_family_docs:
        size = min(int(rng.integers(2, 6)), n_family_docs - len(texts))
        base = base_doc()
        for _ in range(size):
            texts.append(_edit(rng, base, vocab, int(rng.integers(0, 5))))
            fam.append(family)
        family += 1
    while len(texts) < n_docs:
        texts.append(base_doc())
        fam.append(family)
        family += 1

    ids = rng.permutation(n_docs).astype(np.int64)
    docs = pd.DataFrame({"doc_id": ids, "text": [" ".join(t) for t in texts]})
    family_of = pd.Series(fam, index=ids, name="family")

    truth: set[tuple[int, int]] = set()
    members: dict[int, list[int]] = {}
    for pos, f in enumerate(fam):
        members.setdefault(f, []).append(pos)
    for group in members.values():
        sh = [shingles(texts[p]) for p in group]
        for i in range(len(group)):
            for j in range(i + 1, len(group)):
                if jaccard_at_least(sh[i], sh[j], threshold):
                    a, b = int(ids[group[i]]), int(ids[group[j]])
                    truth.add((min(a, b), max(a, b)))
    return docs, family_of, truth
