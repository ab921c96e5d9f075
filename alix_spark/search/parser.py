"""Query-string parser.

Reproduces the operator grammar of ``Alix.query``
(``/root/reference/java/alix/lucene/Alix.java:687-756``):

* ``+word``  → MUST        (ops parsed at ``Alix.java:714-728``)
* ``-word``  → MUST_NOT
* ``word``   → SHOULD
* ``word*``  → wildcard prefix expansion (``Alix.java:731-734``)
* a query with only MUST_NOT clauses matches all documents minus the
  exclusions (``MatchAllDocsQuery`` base, ``Alix.java:746-754``).

Each whitespace-separated word is tokenized by the index's own simple
chain (:func:`alix_spark.analysis.simple.split_text`), so a query term
always normalizes exactly like an indexed term ("same analyzer"
principle, ``Alix.java:698``): ``don't`` queries the indexed ``don`` and
``t``. Every token of a word keeps the word's operator, and a trailing
``*`` makes the word's last token a prefix.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from alix_spark.analysis.simple import split_text


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


def parse(q: str) -> ParsedQuery:
    out = ParsedQuery()
    clauses = {"+": out.must, "-": out.must_not}
    for word in q.split():
        terms = split_text(word)
        if terms and word.endswith("*"):
            # wildcard: only positive occurrence supported (as in reference,
            # where WildcardQuery is added with the parsed occur flag; we
            # keep prefix-positive which covers Alix's UI usage)
            out.wildcards.append(terms.pop())
        clauses.get(word[0], out.should).extend(terms)
    out.had_wildcards = bool(out.wildcards)
    return out
