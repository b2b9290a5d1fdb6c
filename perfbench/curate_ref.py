"""Plain-Python reference for ``plans.llm_curation.curate_and_pack``.

It computes what ``queries._curate_pack_oracle()`` computes in DuckDB, step
for step: benchmark decontamination on distinct token 4-grams, the quality
gate, MinHash-LSH candidates (8 hashes, 4 bands of 2, buckets above 256
skipped), exact 3-shingle Jaccard verification, connected components
(canonical = smallest id) and budget-256 sequence packing. The DuckDB
oracle needs minutes for a corpus large enough that per-document work
dominates a run; this runs in seconds. perfbench/tests/test_curate_ref.py
checks that both agree on generated corpora.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

import numpy as np

BENCH_SOURCE = "src19"
STOPWORDS = frozenset(["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"])
MINHASH_MOD = 2147483647
# the permutation family of operators.dedup (PERM_A/PERM_B, first 8)
PERM_A = (1000000007, 998244353, 754974721, 167772161,
          469762049, 1107296257, 2013265921, 1224736769)
PERM_B = (972663749, 423434567, 876543211, 123456791,
          314159265, 271828183, 161803399, 141421357)
_WS = re.compile(r"\s+")
_NON_ALNUM = re.compile(r"[^a-zA-Z0-9]")


def tokens(text: str) -> list[str]:
    return [t for t in _WS.split(text.strip(" ").lower()) if t]


def grams(toks: list[str], n: int) -> list[str]:
    """Distinct n-grams; shorter docs give their whole text as one gram."""
    if len(toks) < n:
        return [" ".join(toks)]
    return list(dict.fromkeys(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)))


def h64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def quality(text: str, toks: list[str]) -> float:
    n = len(toks)
    stop = sum(t in STOPWORDS for t in toks) / n if n else 0.0
    alnum = len(_NON_ALNUM.sub("", text)) / len(text) if text else 0.0
    return _round6((0.4 if 10 <= n <= 1000 else 0.0) + stop * 0.3 + alnum * 0.3)


def curate_and_pack(doc_id, text, source, *, quality_threshold=0.5,
                    jaccard_threshold=0.5, budget=256) -> list[tuple[int, int, int]]:
    """Rows (doc_id, n_tokens, seq_id) sorted by doc_id."""
    toks = [tokens(t) for t in text]
    bench = {g for i, s in enumerate(source) if s == BENCH_SOURCE for g in grams(toks[i], 4)}
    kept = [i for i, s in enumerate(source)
            if s != BENCH_SOURCE
            and not any(g in bench for g in grams(toks[i], 4))
            and quality(text[i], toks[i]) >= quality_threshold]

    a = np.array(PERM_A, np.int64)
    b = np.array(PERM_B, np.int64)
    shingles, buckets = {}, defaultdict(list)
    for i in kept:
        sh = grams(toks[i], 3)
        shingles[i] = frozenset(sh)
        h = np.array([h64(s) % MINHASH_MOD for s in sh], np.int64)
        mh = ((h[:, None] * a[None, :] + b[None, :]) % MINHASH_MOD).min(axis=0)
        for band in range(4):
            key = h64(f"{mh[2 * band]}_{mh[2 * band + 1]}")
            buckets[(band, key)].append(doc_id[i])
    row = {doc_id[i]: i for i in kept}
    cand = set()
    for ids in buckets.values():
        if len(ids) <= 256:
            ids = sorted(ids)
            cand.update((x, y) for k, x in enumerate(ids) for y in ids[k + 1:] if x < y)

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for x, y in cand:
        sx, sy = shingles[row[x]], shingles[row[y]]
        inter = len(sx & sy)
        union = len(sx) + len(sy) - inter
        if union and _round6(inter / union) >= jaccard_threshold:
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
    final = sorted(doc_id[i] for i in kept if find(doc_id[i]) == doc_id[i])
    out, total = [], 0
    for d in final:
        n = len(toks[row[d]])
        out.append((int(d), n, total // budget))
        total += n
    return out
