"""Exact Python references for the word 3-gram Jaccard queries.

They compute what the registry's DuckDB oracles for
``dedup_ngram_jaccard`` and ``pipeline_clean_corpus`` compute (same
tokenization, same 6-decimal snap, same exact connected components), but
with a prefix-filtered all-pairs join instead of a self-join over every
shingle occurrence. ``python3 perfbench/check_reference.py`` compares both
against the DuckDB oracles on the benchmark's tables.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

THRESHOLD = 0.8
# Lowest raw Jaccard whose 6-decimal snap still reads >= THRESHOLD.
_RAW_FLOOR = THRESHOLD - 5e-7


def _words(text: str) -> list[str]:
    """Tokens as the registry's DuckDB oracle splits them (lower, collapse
    whitespace, trim, split on single spaces)."""
    return re.sub(r"\s+", " ", text).strip().lower().split(" ")


def oracle_shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram set exactly as the registry's DuckDB oracle builds it."""
    words = _words(text)
    return {" ".join(words[i:i + n]) for i in range(max(len(words) - n + 1, 0))}


def snapped_jaccard(a: set, b: set) -> float:
    """Jaccard with the oracle's 6-decimal snap."""
    common = len(a & b)
    union = len(a) + len(b) - common
    return float(np.floor(common / union * 1e6 + 0.5) / 1e6) if union else 0.0


def jaccard_pairs(doc_ids, texts) -> pd.DataFrame:
    """``(doc_a, doc_b, jaccard)`` for every pair at snapped Jaccard >= 0.8."""
    sets = [oracle_shingles(t) if t is not None else set() for t in texts]
    freq = Counter(g for s in sets for g in s)
    # prefix filter: two sets at Jaccard >= t share a token among the first
    # |s| - ceil(t*|s|) + 1 tokens of each under one global (rare-first) order
    index: dict[str, list[int]] = defaultdict(list)
    out = []
    for i in sorted(range(len(sets)), key=lambda k: len(sets[k])):
        s = sets[i]
        if not s:
            continue
        ordered = sorted(s, key=lambda g: (freq[g], g))
        prefix = ordered[: len(s) - math.ceil(_RAW_FLOOR * len(s)) + 1]
        cands = {j for g in prefix for j in index[g]}
        for j in cands:
            jac = snapped_jaccard(s, sets[j])
            if jac >= THRESHOLD:
                a, b = sorted((doc_ids[i], doc_ids[j]))
                out.append((a, b, jac))
        for g in prefix:
            index[g].append(i)
    return pd.DataFrame(
        {
            "doc_a": np.array([p[0] for p in out], dtype=np.int64),
            "doc_b": np.array([p[1] for p in out], dtype=np.int64),
            "jaccard": np.array([p[2] for p in out], dtype=np.float64),
        }
    )


def clean_corpus(doc_ids, texts, pairs: pd.DataFrame) -> pd.DataFrame:
    """Kept ``(doc_id, n_tokens)``: at least 30 tokens, and either in no
    near-duplicate pair or the minimum id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    keep_id, keep_n = [], []
    for d, t in zip(doc_ids, texts):
        n = len(_words(t))
        if n >= 30 and (d not in parent or find(d) == d):
            keep_id.append(d)
            keep_n.append(n)
    return pd.DataFrame(
        {"doc_id": np.array(keep_id, dtype=np.int64),
         "n_tokens": np.array(keep_n, dtype=np.int64)}
    )
