"""Seeded synthetic company-name data for the benchmark.

Everything here is plain Python driven by one ``random.Random(seed)``, so
the same seed gives the same rows on every machine.  The generator owns
the input properties the matcher's behaviour depends on:

- token skew: core words are drawn from a Zipf-weighted vocabulary, and a
  share of names carries a hot word ("holding", "group", "bank", ...) or a
  legal form; both make the inverted-index token join uneven;
- noised share: the share of names-to-match that differ from their
  ground-truth (GT) name by typos, dropped or added words or legal forms;
- miss share: the share of names whose entity is not in the GT at all;
- names per account: names-to-match come in accounts of 1-6 names that
  all belong to one entity, each with an account frequency.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

FREQ_COL = "counterparty_account_count_distinct"

HOT_WORDS = ["holding", "group", "bank", "international", "trading",
             "services", "capital", "partners"]
LEGAL_FORMS = ["B.V.", "N.V.", "Ltd", "GmbH", "Inc.", "S.A.", "LLC", "PLC", "AG"]
_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "z", "br", "st", "tr", "gr", "kl", "pl", "sh", "ch"]
_VOWELS = ["a", "e", "i", "o", "u", "au", "ei", "oo"]
_CODAS = ["", "", "", "n", "r", "s", "l", "x", "nt", "rk"]
_ALNUM = re.compile(r"[^0-9a-z]+")


NOISED_SHARE = 0.7  # names-to-match that differ from their GT name
MISS_SHARE = 0.2  # accounts whose entity is not in the GT
HOT_SHARE = 0.35  # names carrying a hot word
LEGAL_SHARE = 0.6  # names carrying a legal form
VOCAB_SIZE = 3000
ZIPF_S = 1.05
MAX_ACCOUNT = 6


@dataclass(frozen=True)
class Spec:
    n_gt: int
    n_names: int


@dataclass
class Data:
    gt: list[tuple[str, int]]  # (name, id)
    # (name, id or None, account, frequency, noised)
    names: list[tuple[str, int | None, str, int, bool]]


def norm_tokens(name: str) -> list[str]:
    return [t for t in _ALNUM.split(name.lower()) if t]


def _word(rng: random.Random) -> str:
    return "".join(
        rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
        for _ in range(rng.choice((2, 2, 3)))
    )


class _Names:
    def __init__(self, rng: random.Random):
        self.rng = rng
        words: list[str] = []
        seen: set[str] = set(HOT_WORDS)
        while len(words) < VOCAB_SIZE:
            w = _word(rng)
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = words
        self.cum = []
        acc = 0.0
        for r in range(1, len(words) + 1):
            acc += 1.0 / r ** ZIPF_S
            self.cum.append(acc)

    def fresh(self) -> str:
        rng = self.rng
        n_core = rng.choice((1, 2, 2, 2, 3, 3))
        toks = [w.capitalize() for w in rng.choices(self.words, cum_weights=self.cum, k=n_core)]
        if rng.random() < HOT_SHARE:
            toks.append(rng.choice(HOT_WORDS).capitalize())
        if rng.random() < LEGAL_SHARE:
            toks.append(rng.choice(LEGAL_FORMS))
        return " ".join(toks)


def _typo(rng: random.Random, word: str) -> str:
    if len(word) < 4:
        return word + rng.choice("aeiou")
    i = rng.randrange(1, len(word) - 1)
    op = rng.randrange(4)
    if op == 0:
        return word[:i] + word[i + 1:]
    if op == 1:
        return word[:i] + rng.choice("abcdefghiklmnoprstuvz") + word[i:]
    if op == 2:
        return word[:i] + rng.choice("abcdefghiklmnoprstuvz") + word[i + 1:]
    return word[:i - 1] + word[i] + word[i - 1] + word[i + 1:]


def _noise(rng: random.Random, name: str) -> str:
    """One to two visible edits; the result always differs from ``name``
    after lower-casing and punctuation stripping."""
    for _ in range(10):
        toks = name.split(" ")
        for _ in range(rng.choice((1, 1, 2))):
            op = rng.randrange(5)
            legal = [i for i, t in enumerate(toks) if t in LEGAL_FORMS]
            if op == 0 or op == 1:
                i = rng.randrange(len(toks))
                if toks[i] not in LEGAL_FORMS:
                    toks[i] = _typo(rng, toks[i])
            elif op == 2 and len(toks) > 1:
                del toks[rng.randrange(len(toks))]
            elif op == 3 and legal:
                toks[legal[0]] = rng.choice(LEGAL_FORMS)
            else:
                toks.append(rng.choice([w.capitalize() for w in HOT_WORDS] + LEGAL_FORMS))
        out = " ".join(toks)
        if norm_tokens(out) != norm_tokens(name) and norm_tokens(out):
            return out
    return name + " Co"


def generate(spec: Spec, seed: int) -> Data:
    rng = random.Random(seed)
    g = _Names(rng)
    gt: list[tuple[str, int]] = []
    keys: set[str] = set()
    while len(gt) < spec.n_gt:
        name = g.fresh()
        key = " ".join(norm_tokens(name))
        if key not in keys:
            keys.add(key)
            gt.append((name, len(gt)))
    names: list[tuple[str, int | None, str, int, bool]] = []
    n_acc = 0
    while len(names) < spec.n_names:
        size = min(MAX_ACCOUNT, 1 + int(rng.expovariate(1 / 1.5)))
        size = min(size, spec.n_names - len(names))
        account = f"acc{n_acc:06d}"
        n_acc += 1
        if rng.random() < MISS_SHARE:
            base = g.fresh()
            while " ".join(norm_tokens(base)) in keys:
                base = g.fresh()
            eid = None
        else:
            base, eid = gt[rng.randrange(len(gt))]
        for _ in range(size):
            noised = rng.random() < NOISED_SHARE
            name = _noise(rng, base) if noised else base
            freq = 1 + int(rng.paretovariate(1.2)) % 50
            names.append((name, eid, account, freq, noised))
    return Data(gt=gt, names=names)


def properties(data: Data) -> dict[str, float]:
    """Measured input properties of one generated data set."""
    df: dict[str, int] = {}
    for name, _ in data.gt:
        for t in set(norm_tokens(name)):
            df[t] = df.get(t, 0) + 1
    hot = {t for t, c in df.items() if c > 0.01 * len(data.gt)}
    n = len(data.names)
    accounts = {a for _, _, a, _, _ in data.names}
    return {
        "hot_token_share": sum(
            1 for nm, *_ in data.names if hot & set(norm_tokens(nm))
        ) / n,
        "noised_share": sum(1 for *_, z in data.names if z) / n,
        "miss_share": sum(1 for _, e, *_ in data.names if e is None) / n,
        "names_per_account": n / len(accounts),
    }


def split(data: Data, sizes: list[int]) -> list[list[tuple]]:
    """Cut the names list into consecutive slices of the given sizes,
    never splitting an account across slices."""
    out, i = [], 0
    for size in sizes:
        j = min(i + size, len(data.names))
        while 0 < j < len(data.names) and data.names[j][2] == data.names[j - 1][2]:
            j += 1
        out.append(data.names[i:j])
        i = j
    return out
