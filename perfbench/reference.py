"""Independent reference answers, computed in plain Python from the
generated corpus. Nothing here imports the engine: tokenization is the
``[a-z0-9]+`` split of :func:`gen.tokens`, BM25 follows Lucene 8's
``BM25Similarity`` (no ``(k1+1)`` factor, SmallFloat-quantized document
lengths, float32 per-clause scores summed in double), and the
statistics operations are counted token by token.

Each ``check_*`` function takes the engine's output for one operation
and returns ``None`` when it matches, else a one-line reason.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np

from gen import tokens

K1 = 1.2
B = 0.75
SCORE_TOL = 1e-5
WINDOW = 3  # cooc_window's default left/right context


# ------------------------------------------------ Lucene SmallFloat norms


def _long_to_int4(i: int) -> int:
    bits = i.bit_length()
    if bits < 4:
        return i
    shift = bits - 4
    return ((i >> shift) & 0x07) | ((shift + 1) << 3)


def _int4_to_long(i: int) -> int:
    bits = i & 0x07
    shift = (i >> 3) - 1
    return bits if shift == -1 else (bits | 0x08) << shift


_FREE = 255 - _long_to_int4(2**31 - 1)


def quantized_len(dl: int) -> int:
    """The length Lucene sees after the 1-byte norm round trip."""
    if dl < _FREE:
        return dl
    return _FREE + _int4_to_long(_long_to_int4(dl - _FREE))


# ------------------------------------------------------------ the corpus


class Reference:
    """Token lists and statistics of one corpus version, keyed by
    (repo, path)."""

    def __init__(self, rows: list[dict]):
        self.keys = [(r["repo"], r["path"]) for r in rows]
        self.repo = [r["repo"] for r in rows]
        self.toks = [tokens(r["content"]) for r in rows]
        self.tf = [Counter(t) for t in self.toks]
        self.df: Counter = Counter()
        for c in self.tf:
            self.df.update(c.keys())
        lens = [len(t) for t in self.toks if t]
        self.n_docs = len(lens)
        self.avgdl = sum(lens) / len(lens)
        self.qlen = [quantized_len(len(t)) for t in self.toks]
        self.vocab = sorted(self.df)

    # -------------------------------------------------------- ranked ops
    def expand(self, prefix: str) -> list[str]:
        return [t for t in self.vocab if t.startswith(prefix)]

    def bm25(self, query: str, k: int) -> list[tuple[tuple, float]]:
        """Top-k ((repo, path), score) for the +/-/* grammar the
        benchmark generates: bare terms are SHOULD, ``+t`` MUST, ``-t``
        MUST_NOT, ``p*`` expands to SHOULD terms."""
        should, must, must_not = [], [], []
        for w in query.split():
            if w.startswith("+"):
                must.append(w[1:])
            elif w.startswith("-"):
                must_not.append(w[1:])
            elif w.endswith("*"):
                should.extend(self.expand(w[:-1]))
            else:
                should.append(w)
        terms = must + should
        idf = {
            t: math.log(1 + (self.n_docs - self.df[t] + 0.5) / (self.df[t] + 0.5))
            for t in set(terms)
        }
        scored = []
        for i, c in enumerate(self.tf):
            if any(c[t] == 0 for t in must) or any(c[t] for t in must_not):
                continue
            score, hit = 0.0, False
            for t in terms:
                f = c[t]
                if not f:
                    continue
                hit = True
                norm = K1 * (1 - B + B * self.qlen[i] / self.avgdl)
                score += float(np.float32(idf[t] * f / (f + norm)))
            if hit:
                scored.append((self.keys[i], score))
        scored.sort(key=lambda x: -x[1])
        return scored[: k + 32]  # extra rows resolve ties at the cut

    def phrase(self, terms: list[str]) -> dict[tuple, int]:
        n = len(terms)
        out = {}
        for key, toks in zip(self.keys, self.toks):
            f = sum(1 for j in range(len(toks) - n + 1) if toks[j:j + n] == terms)
            if f:
                out[key] = f
        return out

    # ---------------------------------------------------- statistics ops
    def term_list(self, repo: str) -> dict[str, tuple[int, int]]:
        occs: Counter = Counter()
        docs: Counter = Counter()
        for r, c in zip(self.repo, self.tf):
            if r == repo:
                occs.update(c)
                docs.update(c.keys())
        return {t: (occs[t], docs[t]) for t in occs}

    def kwic_hits(self, term: str) -> int:
        return sum(c[term] for c in self.tf)

    def cooc(self, pivot: str) -> dict[str, tuple[int, int]]:
        freq: Counter = Counter()
        hits: defaultdict = defaultdict(set)
        for key, toks in zip(self.keys, self.toks):
            window: set[int] = set()
            for p, t in enumerate(toks):
                if t == pivot:
                    window.update(range(p - WINDOW, p + WINDOW + 1))
            for p in window:
                if 0 <= p < len(toks) and toks[p] != pivot:
                    freq[toks[p]] += 1
                    hits[toks[p]].add(key)
        return {t: (freq[t], len(hits[t])) for t in freq}


# ---------------------------------------------------------------- checks


def check_ranked(ref: Reference, query: str, got: list, k: int) -> str | None:
    """``got``: engine top-k as [[repo, path], score] rows, score
    descending. Doc sets must agree except among docs tied (within
    tolerance) with the k-th score."""
    want = ref.bm25(query, k)
    if len(got) != min(k, len(want)):
        return f"{len(got)} hits, reference has {min(k, len(want))}"
    score = dict(want)
    kth = want[len(got) - 1][1] if got else 0.0
    for key, s in got:
        key = tuple(key)
        if key not in score:
            return f"doc {key} not a reference hit"
        if abs(score[key] - s) > SCORE_TOL * max(1.0, abs(s)):
            return f"doc {key} scored {s}, reference {score[key]}"
    got_keys = {tuple(key) for key, _ in got}
    for key, s in want[: len(got)]:
        if key not in got_keys and s > kth + SCORE_TOL * max(1.0, kth):
            return f"reference hit {key} ({s}) missing"
    return None


def check_phrase(ref: Reference, terms: list[str], got: list) -> str | None:
    want = ref.phrase(terms)
    have = {tuple(key): f for key, f in got}
    if have != want:
        return f"phrase {terms}: {len(have)} docs, reference {len(want)}"
    return None


def check_term_list(ref: Reference, repo: str, got: list) -> str | None:
    want = ref.term_list(repo)
    have = {t: (o, d) for t, o, d in got}
    if have != want:
        return f"term list of {repo}: {len(have)} terms, reference {len(want)}"
    return None


def check_kwic(ref: Reference, term: str, got: list) -> str | None:
    want = ref.kwic_hits(term)
    if len(got) != want or any(h.lower() != term for h in got):
        return f"kwic {term}: {len(got)} lines, reference {want}"
    return None


def check_cooc(ref: Reference, pivot: str, got: list) -> str | None:
    want = ref.cooc(pivot)
    have = {t: (f, h) for t, f, h in got}
    if have != want:
        return f"cooc {pivot}: {len(have)} terms, reference {len(want)}"
    return None

