"""Seeded input generators and pure-Python references.

Everything here is a function of the workload seed: the same seed gives
byte-identical input files and the same reference answers. Nothing in
this module touches Spark, so the references are independent of the
engine they check.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import numpy as np

_WORD = re.compile(r"[a-z\-_]+")
_NUMBER = re.compile(r"[-+]?[0-9]+[.]?[0-9]*")


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) so that, e.g., batch 7
    is the same whether or not batches 0-6 were generated first."""
    return np.random.default_rng([seed, *stream])


def vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lower-case words of 2-10 letters (object array)."""
    out: dict[str, None] = {}
    while len(out) < n:
        m = 2 * (n - len(out)) + 16
        lengths = np.clip(rng.poisson(6, m), 2, 10)
        letters = rng.integers(ord("a"), ord("z") + 1, (m, 10), dtype=np.uint8)
        letters[np.arange(10)[None, :] >= lengths[:, None]] = 0
        # the S10 view drops the trailing NUL padding
        for w in letters.view("S10").ravel():
            out.setdefault(w.decode(), None)
            if len(out) == n:
                break
    return np.array(list(out), dtype=object)


def numbers(n: int) -> np.ndarray:
    """``n`` distinct number tokens, most natural first: small integers,
    then decimals and signed values (all match the engine's number
    pattern)."""
    ints = [str(i) for i in range(int(n * 0.7))]
    rest = n - len(ints)
    dec = [f"{i // 10}.{i % 10}" for i in range(rest // 2)]
    signed = [f"-{i}" for i in range(1, rest - len(dec) + 1)]
    return np.array(ints + dec + signed, dtype=object)


def zipf_sample(rng: np.random.Generator, n_ranks: int, s: float, size) -> np.ndarray:
    """Rank indices in ``[0, n_ranks)`` with P(rank k) proportional to
    ``(k + 1) ** -s``."""
    cdf = np.cumsum(np.arange(1, n_ranks + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n_ranks - 1)


def zipf_documents(
    rng: np.random.Generator,
    n_docs: int,
    vocab: np.ndarray,
    nums: np.ndarray,
    s: float = 1.1,
    number_share: float = 0.2,
    other_share: float = 0.03,
    min_tokens: int = 12,
    max_tokens: int = 28,
) -> list[str]:
    """Documents of Zipf-distributed tokens: ``number_share`` number
    tokens, ``other_share`` tokens matching neither category (capitalised
    or punctuated words, which break co-occurrence windows as in real
    text), the rest lower-case words."""
    lengths = rng.integers(min_tokens, max_tokens + 1, n_docs)
    total = int(lengths.sum())
    kind = rng.random(total)
    toks = vocab[zipf_sample(rng, len(vocab), s, total)]
    is_num = kind < number_share
    toks[is_num] = nums[zipf_sample(rng, len(nums), s, int(is_num.sum()))]
    other = kind > 1.0 - other_share
    toks[other] = [
        t.capitalize() if i % 2 else t + ","
        for i, t in enumerate(toks[other])
    ]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    return [" ".join(toks[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]


def write_jsonl(path: str, rows: list[tuple[int, str]]) -> None:
    """Write ``(doc_id, text)`` rows as one JSON-lines part file under
    directory ``path``."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.jsonl"), "w") as fh:
        fh.writelines(json.dumps({"doc_id": i, "text": t}) + "\n" for i, t in rows)


# ---------------------------------------------------------------- corpus


def category(tok: str) -> str | None:
    if _WORD.fullmatch(tok):
        return "word"
    if _NUMBER.fullmatch(tok):
        return "number"
    return None


class CorpusReference:
    """Pure-Python recount of the paper's suite over a list of documents:
    token counts, top-K, forward pairs within ``m`` and symmetric stripes,
    with the engine's token contract (single-space split, empty and
    uncategorised tokens keep their positions but never pair)."""

    def __init__(self, docs: list[str]):
        self.docs = docs
        self._cats = [
            [(t, category(t)) for t in d.split(" ")] for d in docs
        ]

    def token_counts(self) -> Counter:
        return Counter(
            (c, t) for doc in self._cats for t, c in doc if c is not None
        )

    def top_k(self, k: int) -> list[tuple[str, int]]:
        ranked = sorted(
            ((t, n) for (_, t), n in self.token_counts().items()),
            key=lambda tn: (-tn[1], tn[0]),
        )
        return ranked[:k]

    def pair_counts(self, m: int) -> Counter:
        out: Counter = Counter()
        for doc in self._cats:
            for i, (t, c) in enumerate(doc):
                if c is None:
                    continue
                for d in range(1, m + 1):
                    if i + d < len(doc) and doc[i + d][1] == c:
                        out[(c, t, doc[i + d][0])] += 1
        return out

    def stripe_summary(self, m: int) -> tuple[int, int, int]:
        """``(stripes, neighbour entries, mass)`` of ``stripes(m)`` with
        empty stripes kept: one stripe per distinct categorised token."""
        pairs = self.pair_counts(m)
        entries = set()
        for c, a, b in pairs:
            entries.add((c, a, b))
            entries.add((c, b, a))
        return len(self.token_counts()), len(entries), 2 * sum(pairs.values())


# -------------------------------------------------------------- near-dup


def near_copy(rng: np.random.Generator, text: str, vocab: np.ndarray) -> str:
    """A planted near-duplicate: one token replaced (3-shingle Jaccard
    about 0.9 for the document lengths used here)."""
    toks = text.split(" ")
    toks[int(rng.integers(len(toks)))] = vocab[int(rng.integers(len(vocab)))]
    return " ".join(toks)


# ------------------------------------------------------------- embedding


def gaussian_mixture(
    rng: np.random.Generator, centres: np.ndarray, n: int, sigma: float
) -> np.ndarray:
    """``n`` points drawn around randomly chosen ``centres``."""
    labels = rng.integers(len(centres), size=n)
    return centres[labels] + rng.normal(0.0, sigma, (n, centres.shape[1]))


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> list[list[int]]:
    """Exact cosine top-``k`` corpus row ids per query, ties broken on the
    lower id (the engine's order)."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    ids = np.arange(len(corpus))
    return [np.lexsort((ids, -row))[:k].tolist() for row in qn @ cn.T]
