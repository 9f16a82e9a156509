"""Reference twin for the benchmark's output checks.

Plain-Python recomputation of the candidate indexers the default pipeline
runs, working from the pipeline's own ``preprocessed`` and
``gt_preprocessed`` strings (so preprocessing itself is not re-derived):

- cosine top-k over binary TF-IDF with the engine's conventions
  (``idf = ln((N+1)/(df+1))``, out-of-vocabulary tokens add ``max_idf`` to
  the norm, threshold ``score > lower_bound``, top-k by score then gt_uid
  descending), for word tokens and for character 2-grams with first-char
  blocking;
- sorted-neighbourhood (SNI) pairs: dense rank over the sorted union of
  name keys and GT keys, pairs within ``w`` positions, score
  ``1 - |offset| / (w + 1)``.

Comparisons are tie-aware: a pair whose reference score equals the k-th
score (within ``EPS``) may or may not be in the engine's top-k.
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

EPS = 1e-9
_NON_ALNUM = re.compile(r"[\W_]+")
_SPACE = re.compile(r"[ \t\n\x0b\f\r]")


def word_tokens(s: str) -> set[str]:
    return {t for t in _NON_ALNUM.split(s) if t}


def char_2grams(s: str) -> set[str]:
    return {s[i:i + 2] for i in range(max(len(s) - 1, 1))}


def first_char(s: str) -> str:
    return _SPACE.sub("", s)[:1]


class CosineTwin:
    """TF-IDF cosine top-k over a GT of ``(gt_uid, gt_preprocessed)``."""

    def __init__(self, gt: list[tuple[int, str]], tokenize, k=10, lower_bound=0.5,
                 block=None):
        self.tokenize, self.k, self.lb, self.block = tokenize, k, lower_bound, block
        docs = [(g, tokenize(s), block(s) if block else None) for g, s in gt]
        df: dict[str, int] = defaultdict(int)
        for _, toks, _ in docs:
            for t in toks:
                df[t] += 1
        n = len(docs)
        self.idf = {t: math.log((n + 1) / (c + 1)) for t, c in df.items()}
        self.max_idf = max(self.idf.values(), default=0.0)
        self.postings: dict[str, list[tuple[int, float, str | None]]] = defaultdict(list)
        for g, toks, b in docs:
            for t, w in self._weights(toks).items():
                self.postings[t].append((g, w, b))

    def _weights(self, toks: set[str]) -> dict[str, float]:
        ws = {t: self.idf.get(t, self.max_idf) for t in toks}
        norm = math.sqrt(sum(w * w for w in ws.values()))
        if norm == 0:
            return {}
        return {t: w / norm for t, w in ws.items() if t in self.idf}

    def scores(self, s: str) -> dict[int, float]:
        """Every GT candidate above the threshold, with its score."""
        b = self.block(s) if self.block else None
        acc: dict[int, float] = defaultdict(float)
        for t, w in self._weights(self.tokenize(s)).items():
            for g, gw, gb in self.postings.get(t, ()):
                if gb == b:
                    acc[g] += w * gw
        return {g: v for g, v in acc.items() if v > self.lb - EPS}

    def check(self, s: str, got: dict[int, float]) -> str | None:
        """Compare one name's engine candidates ``{gt_uid: score}`` with the
        reference top-k; returns a reason string on mismatch."""
        for g, v in got.items():
            if not 0.0 < v <= 1.0 + EPS:
                return f"score {v!r} for gt_uid {g} outside (0, 1]"
        ref = self.scores(s)
        for g, v in got.items():
            if g not in ref or abs(ref[g] - v) > 1e-6:
                return f"gt_uid {g} score {v!r}, reference {ref.get(g)!r}"
        ranked = sorted(ref.values(), reverse=True)
        sure = [v for v in ranked if v > self.lb + EPS]
        kth = ranked[self.k - 1] if len(ranked) >= self.k else self.lb
        below = [g for g in got if ref[g] < kth - EPS]
        if below:
            return f"gt_uid {below[0]} scores below the k-th reference score {kth!r}"
        must = {g for g, v in ref.items() if v > kth + EPS and v > self.lb + EPS}
        if must - got.keys():
            return f"missing gt_uids {sorted(must - got.keys())[:5]}"
        want = min(self.k, len(sure))
        if not want <= len(got) <= min(self.k, len(ranked)):
            return f"{len(got)} candidates, reference expects {want}..{self.k}"
        return None


def sni_pairs(name_keys: dict[int, str], gt_keys: list[tuple[int, str]], w: int,
              topn_per_key: int = 10) -> dict[tuple[int, int], int]:
    """All SNI pairs ``{(uid, gt_uid): offset}``.  ``gt_keys`` is capped at
    ``topn_per_key`` rows per identical key (lowest gt_uid first), as the
    engine's skew guard does."""
    by_key: dict[str, list[int]] = defaultdict(list)
    for g, key in sorted(gt_keys, key=lambda r: r[1]):
        by_key[key].append(g)
    for key in by_key:
        by_key[key] = sorted(by_key[key])[:topn_per_key]
    # Spark sorts strings by UTF-8 bytes, which is code point order.
    ordered = sorted(set(name_keys.values()) | by_key.keys())
    rank = {key: i for i, key in enumerate(ordered)}
    out: dict[tuple[int, int], int] = {}
    for uid, key in name_keys.items():
        r = rank[key]
        for off in range(-w, w + 1):
            if 0 <= r + off < len(ordered):
                for g in by_key.get(ordered[r + off], ()):
                    out[(uid, g)] = off
    return out
