"""Query-string parser.

Reproduces the operator grammar of ``Alix.query``
(``/root/reference/java/alix/lucene/Alix.java:687-756``):

* ``+word``  → MUST        (ops parsed at ``Alix.java:714-728``)
* ``-word``  → MUST_NOT
* ``word``   → SHOULD
* ``word*``  → wildcard prefix expansion (``Alix.java:731-734``)
* a query with only MUST_NOT clauses matches all documents minus the
  exclusions (``MatchAllDocsQuery`` base, ``Alix.java:746-754``).

The query string is tokenized by the same simple chain as the corpus so a
query term always normalizes exactly like an indexed term ("same analyzer"
principle, ``Alix.java:698``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_WORD_RE = re.compile(r"([+-]?)([A-Za-z0-9']+)(\*?)")


@dataclass
class ParsedQuery:
    should: list[str] = field(default_factory=list)
    must: list[str] = field(default_factory=list)
    must_not: list[str] = field(default_factory=list)
    # prefixes, each expanded against the vocabulary at planning time
    wildcards: list[str] = field(default_factory=list)
    # True if the ORIGINAL query string contained wildcards — survives
    # expansion (which clears `wildcards`), so consumers can tell a
    # no-match expansion (empty BooleanQuery) from a malformed query
    had_wildcards: bool = False

    @property
    def positive_terms(self) -> list[str]:
        return self.must + self.should


def normalize_term(raw: str) -> str:
    """Apply the simple analysis chain to one query token."""
    return re.sub(r"[^a-z0-9]+", "", raw.lower())


def parse(q: str) -> ParsedQuery:
    out = ParsedQuery()
    for op, word, star in _WORD_RE.findall(q):
        term = normalize_term(word)
        if not term:
            continue
        if star:
            # wildcard: only positive occurrence supported (as in reference,
            # where WildcardQuery is added with the parsed occur flag; we
            # keep prefix-positive which covers Alix's UI usage)
            out.wildcards.append(term)
        elif op == "+":
            out.must.append(term)
        elif op == "-":
            out.must_not.append(term)
        else:
            out.should.append(term)
    out.had_wildcards = bool(out.wildcards)
    return out
