"""Dismax user-query parser: phrases and +/- operators.

The reference passes the raw ``text`` param UNESCAPED into Solr's dismax
parser (SearchServlet.scala:79-88 sets only ``defType=dismax``; only fq
values go through ``escapeQueryChars``, SearchServlet.scala:138). Dismax
(SolrPluginUtils.partialEscape + stripUnbalancedQuotes) deliberately
escapes every Lucene metacharacter EXCEPT three user-facing operators:

  * balanced double quotes  -> phrase query
  * ``+`` glued to a term/phrase -> MUST   (required clause)
  * ``-`` glued to a term/phrase -> MUST_NOT (prohibited clause)

so ``+"block max" wand -lucene`` is reachable surface of the reference's
``GET /filesearch`` endpoint. This module parses exactly that grammar
into occur-tagged clauses; scoring semantics live in
operators/wand.py (_score_boolean_physical) and
operators/query.py (score_phrase, combine_clause_rows).

Parity notes vs Lucene/Solr:
  * odd number of quotes -> all quotes stripped
    (SolrPluginUtils.stripUnbalancedQuotes).
  * ``+``/``-`` count as operators only when immediately followed by a
    non-space character (partialEscape escapes a trailing/lone sign).
  * a quoted segment whose analysis yields one token degrades to a plain
    term clause; zero tokens -> clause dropped (all-stopword phrase).
  * an UNQUOTED word the analyzer splits into several tokens (camelCase,
    snake_case) contributes one clause per token, all carrying the
    word's occur flag. For SHOULD that is the engine's existing OR
    semantics; for MUST/MUST_NOT it is a conjunction/union over the
    parts — deterministic and strictly well-defined, where Lucene's
    graph-query behavior depends on analyzer internals.
  * positions are indices into the stopword-FILTERED token stream on
    both the index and query side; Lucene's position-increment gaps are
    not modeled. The reference deploys an EMPTY stopwords.txt
    (schema.xml:507), so in its configuration the two schemes coincide.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Iterable

from ..functions.tokenizer import LUCENE_STOPWORDS, tokenize_py

SHOULD, MUST, MUST_NOT = "should", "must", "must_not"

# a quoted segment (with optional glued sign), or a bare run of
# non-space non-quote chars — the bare-word branch must NOT consume a
# quote, else a balanced phrase glued to a preceding token
# (`foo"bar baz"`) would lose its positional semantics (quotes are
# balanced here: odd counts were stripped before matching)
_SEGMENT_RE = re.compile(r'([+-]?)"([^"]*)"|([^\s"]+)')


@dataclass(frozen=True)
class Clause:
    """One boolean clause: ``terms`` is the analyzed token sequence
    (len >= 2 means a positional phrase), ``occur`` is should/must/must_not."""

    terms: tuple[str, ...]
    occur: str

    @property
    def is_phrase(self) -> bool:
        return len(self.terms) >= 2


def _occur_of(sign: str) -> str:
    return {"+": MUST, "-": MUST_NOT}.get(sign, SHOULD)


def parse_dismax(text: str, stopwords: Iterable[str] = LUCENE_STOPWORDS,
                 ) -> list[Clause]:
    """Parse user text into deduplicated, order-preserving clauses."""
    if not text:
        return []
    if text.count('"') % 2 != 0:
        text = text.replace('"', " ")

    out: list[Clause] = []
    seen: set[tuple[tuple[str, ...], str]] = set()

    def emit(terms: tuple[str, ...], occur: str) -> None:
        if terms and (terms, occur) not in seen:
            seen.add((terms, occur))
            out.append(Clause(terms, occur))

    for m in _SEGMENT_RE.finditer(text):
        if m.group(2) is not None:  # quoted segment
            toks = tuple(tokenize_py(m.group(2), stopwords))
            emit(toks, _occur_of(m.group(1)))
            continue
        word = m.group(3)
        sign = ""
        # operator only when glued to a following character
        if word[0] in "+-" and len(word) > 1:
            sign, word = word[0], word[1:]
        for t in tokenize_py(word, stopwords):
            emit((t,), _occur_of(sign))
    return out


def is_plain_or(clauses: list[Clause]) -> bool:
    """True when the query is what rounds 1-2 supported: a bag of
    single-term SHOULD clauses — the one-pass bucket-local top-k path."""
    return all(c.occur == SHOULD and not c.is_phrase for c in clauses)


def plain_terms(clauses: list[Clause]) -> list[str]:
    return [c.terms[0] for c in clauses if c.occur == SHOULD and not c.is_phrase]
