"""Seeded input generators: the code corpus, the query sequence and the
commit sequence. Everything here is plain Python + NumPy and depends only
on the seed, so the same seed gives byte-identical inputs.

Corpus shape (why each property is there):

* code-like text over a Zipf vocabulary of about a thousand identifiers
  (the build's merge rounds cost time per distinct term), with punctuation, mixed case and snake_case joins, so tokenization,
  lowercasing and the vocabulary-sized build stages do real work;
* identifiers are ``stem + suffix`` over fixed-length stems, so a
  ``stem*`` wildcard expands to about ten vocabulary terms;
* lognormal document lengths, so segments and tasks are uneven as in a
  real repository;
* repos own contiguous path ranges and doc ids are dense-ranked by
  (repo, path), so a commit to one repo touches its one or two docId-range
  segments plus the tail segment that takes added files, and the
  O(touched-segments) update path has segments to skip.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np

TOKEN_RE = re.compile(r"[a-z0-9]+")
KEYWORDS = [
    "def", "self", "return", "if", "import", "for", "in", "none", "class",
    "from", "not", "else", "true", "false", "and", "with", "as", "try",
]
CONSONANTS = "bcdfghklmnprstvz"
VOWELS = "aeiou"
SUFFIXES = [
    "", "er", "ed", "ing", "s", "or", "al", "ion", "x", "2", "id", "list",
    "map", "set", "fn", "ctx",
]
SEPARATORS = [" ", " ", " ", ", ", ".", "(", ") ", " = ", "\n    ", "_", ": "]
EXTS = ["py", "java", "go", "rs", "md"]


@dataclass
class CorpusSpec:
    n_docs: int = 600
    n_stems: int = 60
    zipf_s: float = 1.1
    len_mu: float = 4.3
    len_sigma: float = 0.7
    min_len: int = 8
    max_len: int = 1500
    repo_docs: int = 64


@dataclass
class Corpus:
    """Generated documents plus what the reference checks need."""

    vocab: list[str]
    zipf_p: np.ndarray
    rows: list[dict] = field(default_factory=list)


def _stems(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct four-letter CVCV stems (fixed length, so no stem is
    a prefix of another and ``stem*`` expands to exactly its own terms)."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        s = "".join(
            rng.choice(list(CONSONANTS if i % 2 == 0 else VOWELS))
            for i in range(4)
        )
        if s not in seen and s not in KEYWORDS:
            seen.add(s)
            out.append(s)
    return out


def vocabulary(rng: np.random.Generator, n_stems: int) -> list[str]:
    """Keywords first (the Zipf head, like real code), then every
    ``stem + suffix`` identifier in a seeded rank order."""
    idents = [s + x for s in _stems(rng, n_stems) for x in SUFFIXES]
    order = rng.permutation(len(idents))
    return KEYWORDS + [idents[i] for i in order]


def _render(rng: np.random.Generator, words: list[str]) -> str:
    """Join tokens with code-like separators and casing; the tokenizer
    (lowercase, split on ``[^a-z0-9]+``) recovers exactly ``words``."""
    seps = rng.integers(0, len(SEPARATORS), size=len(words))
    case = rng.random(len(words))
    parts: list[str] = []
    for w, s, c in zip(words, seps, case):
        if c < 0.1:
            w = w.capitalize()
        elif c < 0.13:
            w = w.upper()
        parts.append(w)
        parts.append(SEPARATORS[s])
    return "".join(parts[:-1]) + "\n"


def doc_text(rng: np.random.Generator, spec: CorpusSpec, p: np.ndarray,
             vocab: list[str]) -> str:
    n = int(np.clip(np.exp(rng.normal(spec.len_mu, spec.len_sigma)),
                    spec.min_len, spec.max_len))
    return _render(rng, [vocab[t] for t in rng.choice(len(vocab), size=n, p=p)])


def make_corpus(seed: int, spec: CorpusSpec) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng, spec.n_stems)
    w = 1.0 / np.arange(1, len(vocab) + 1) ** spec.zipf_s
    p = w / w.sum()
    corpus = Corpus(vocab=vocab, zipf_p=p)
    n_repos = max(1, spec.n_docs // spec.repo_docs)
    # lognormal repo sizes summing to n_docs: some repos span two
    # segments, most sit inside one
    sizes = np.exp(rng.normal(0.0, 0.5, size=n_repos))
    sizes = np.maximum(1, np.floor(sizes / sizes.sum() * spec.n_docs)).astype(int)
    sizes[-1] += spec.n_docs - int(sizes.sum())
    i = 0
    for r, size in enumerate(sizes):
        for f in range(int(size)):
            corpus.rows.append(
                {
                    "repo": f"org{r % 5}/repo{r:04d}",
                    "path": f"src/m{f // 16:03d}/f{f:05d}.{EXTS[i % len(EXTS)]}",
                    "commit": f"{rng.integers(0, 2**32):08x}",
                    "lang": EXTS[i % len(EXTS)],
                    "content": doc_text(rng, spec, p, vocab),
                }
            )
            i += 1
    return corpus


def tokens(text: str) -> list[str]:
    """The simple analysis chain in plain Python: lowercase, then the
    maximal ``[a-z0-9]+`` runs in order."""
    return TOKEN_RE.findall(text.lower())


# ---------------------------------------------------------------- queries


@dataclass
class Op:
    kind: str  # or, must, wildcard, phrase, term_list, kwic, cooc
    arg: object
    head: bool


# One cycle of the closed loop: 7 ranked and 3 statistics operations
# (70 % / 30 %), head and tail terms alternating. A fixed class order
# keeps every run's mix the same, so a run's medians move with the
# engine and not with which classes the seed happened to draw.
CYCLE = [
    ("or", True), ("term_list", True), ("or", False), ("must", True),
    ("kwic", None), ("wildcard", False), ("phrase", True), ("cooc", None),
    ("must", False), ("phrase", False),
]
RANKED = ("or", "must", "wildcard", "phrase")


def term_classes(rows: list[dict]) -> tuple[list[str], list[str], dict]:
    """(head, tail, df): head terms have df > 10 % of the documents, tail
    terms df <= 0.5 % (at least one document). At a few hundred documents
    a 0.1 % cut would leave only df = 1 terms, which a Zipf vocabulary of
    about a thousand terms barely has."""
    df: dict[str, int] = {}
    for r in rows:
        for t in set(tokens(r["content"])):
            df[t] = df.get(t, 0) + 1
    n = len(rows)
    head = sorted(t for t, d in df.items() if d > 0.10 * n)
    tail = sorted(t for t, d in df.items() if d <= max(1, round(0.005 * n)))
    return head, tail, df


def make_ops(seed: int, rows: list[dict], n_ops: int) -> list[Op]:
    """A seeded closed-loop operation sequence following :data:`CYCLE`:
    OR, MUST/MUST_NOT, wildcard and phrase queries, and the statistics
    operations (term list of one repo, KWIC, co-occurrence window). The
    seed picks the terms; half of them come from the Zipf head and half
    from the tail, so a pruning change acts on one half only."""
    rng = np.random.default_rng([seed, 2])
    head, tail, df = term_classes(rows)
    stems: dict[str, int] = {}
    for t in df:
        if len(t) > 4 and t[:4].isalpha() and t not in KEYWORDS:
            stems[t[:4]] = stems.get(t[:4], 0) + 1
    wild = sorted(s for s, c in stems.items() if 8 <= c <= 12) or sorted(stems)
    repos = sorted({r["repo"] for r in rows})
    docs_tok = [tokens(r["content"]) for r in rows]

    def pick(pool: list[str], k: int) -> list[str]:
        return [pool[i] for i in rng.choice(len(pool), size=k, replace=False)]

    def phrase(is_head: bool) -> list[str]:
        pool = set(head if is_head else tail)
        while True:
            toks = docs_tok[int(rng.integers(len(docs_tok)))]
            starts = [j for j in range(len(toks) - 1) if toks[j] in pool]
            if starts:
                j = starts[int(rng.integers(len(starts)))]
                return toks[j:j + 2]

    ops: list[Op] = []
    for i in range(n_ops):
        kind, is_head = CYCLE[i % len(CYCLE)]
        if is_head is None:  # stats pivots alternate head/tail per cycle
            is_head = (i // len(CYCLE)) % 2 == 0
        pool = head if is_head else tail
        if kind == "or":
            arg = " ".join(pick(pool, 3))
        elif kind == "must":
            a, b = pick(pool, 2)
            neg = pick(head, 1)[0]
            while neg in (a, b):
                neg = pick(head, 1)[0]
            arg = f"+{a} {b} -{neg}"
        elif kind == "wildcard":
            arg = pick(wild, 1)[0] + "*"
        elif kind == "phrase":
            arg = phrase(is_head)
        elif kind == "term_list":
            arg = pick(repos, 1)[0]
        else:
            arg = pick(pool, 1)[0]
        ops.append(Op(kind, arg, is_head))
    return ops


# ---------------------------------------------------------------- commits


COMMIT_FILES = 8


@dataclass
class Commit:
    repo: str
    upserts: list[dict]  # modified and added files, full rows
    deleted: list[tuple[str, str]]  # (repo, path) keys, committed as empty


def make_commits(seed: int, corpus: Corpus, spec: CorpusSpec,
                 n_commits: int) -> list[Commit]:
    """Seeded commits, each confined to one repo: about 60 % modified
    files, 25 % added files (new paths, appended after the current max
    doc id) and 15 % deleted files. A deleted file is committed as an
    empty document, since the streaming sink merges upserts by
    (repo, path) and takes no delete keys."""
    rng = np.random.default_rng([seed, 3])
    files = COMMIT_FILES
    live: dict[str, list[str]] = {}
    for r in corpus.rows:
        live.setdefault(r["repo"], []).append(r["path"])
    repos = sorted(live)
    added = 0
    out: list[Commit] = []
    for c in range(n_commits):
        repo = repos[int(rng.integers(len(repos)))]
        paths = live[repo]
        n_mod = min(len(paths), int(round(files * 0.6)))
        n_del = min(len(paths) - n_mod, int(round(files * 0.15)))
        n_add = files - n_mod - n_del
        chosen = [paths[i] for i in rng.choice(len(paths), size=n_mod + n_del,
                                               replace=False)]
        mod, dele = chosen[:n_mod], chosen[n_mod:]
        upserts = []
        for path in mod:
            upserts.append(_row(rng, spec, corpus, repo, path))
        for _ in range(n_add):
            path = f"src/new/c{c:04d}_{added:05d}.py"
            added += 1
            upserts.append(_row(rng, spec, corpus, repo, path))
            paths.append(path)
        for path in dele:
            paths.remove(path)
        out.append(Commit(repo, upserts, [(repo, p) for p in dele]))
    return out


def _row(rng, spec, corpus, repo, path) -> dict:
    return {
        "repo": repo,
        "path": path,
        "commit": f"{rng.integers(0, 2**32):08x}",
        "lang": path.rsplit(".", 1)[-1],
        "content": doc_text(rng, spec, corpus.zipf_p, corpus.vocab),
    }
