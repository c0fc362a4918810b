"""Lucene/Solr query-string parser + executor.

The reference's users speak Solr query syntax (rawrepo-solr-indexer
delegates queries to Solr; IndexerIT probes with `field:term` strings)
— this module lets them paste those strings at the ftidx engine:

    idx.query_string('+code.content:merge -slow "group by"~2 boost^2')

Supported grammar (the subset the reference's observed surface plus
the first things a Solr user reaches for):

- ``term`` — optional (should) clause; contributes score when present
- ``+term`` / ``-term`` — required / prohibited
- ``field:term`` — per-clause field override (default field otherwise)
- ``"a b c"`` — exact phrase (positional verification, required)
- ``"a b"~N`` — unordered proximity within N token positions
- ``term^2.5`` — boost: scales the clause's BM25 contribution
- ``term~`` / ``term~1`` — fuzzy: expands to vocabulary terms within
  N edits (default 2, Lucene's default) and scores as their
  disjunction, each variant with its own idf (Lucene MultiTermQuery
  boolean rewrite); for +/-, the clause's presence is the UNION of
  the variants (a required fuzzy term needs any one variant)
- ``pre*`` / ``t?rm`` — wildcard (Lucene WildcardQuery): expands to
  matching vocabulary terms (df-ranked, capped at 50) and matches
  their UNION with CONSTANT score boost × 1.0 per doc — the classic
  Solr multi-term rewrite; pure-wildcard patterns (``*``) are dropped
- ``field:[a TO b]`` / ``{a TO b}`` — term range (TermRangeQuery),
  inclusive/exclusive, ``*`` = open bound; constant-score like
  wildcard, expansion term-ordered and capped at 1024 (unbounded
  METADATA ranges belong in ``topk_where``, which stays distributed)
- ``field:"a b"~N`` — all of the above compose

Semantics (documented deviations from full Lucene, chosen to keep
execution a single pass over cached postings):

- Non-negated phrases are REQUIRED (Lucene would let a bare phrase be
  optional; a should-phrase needs per-doc phrase frequency to score,
  which the positional verifier doesn't produce).
- A phrase scores as the BM25 sum of its terms (same rule as
  :meth:`ftidx.index.FtIndex.phrase_topk`), scaled by its boost.
- If the query has no required clause, a doc qualifies by matching at
  least one should clause (standard OR behavior).

Execution: every query string is one :class:`ftidx.wand.ScorePlan`,
routed and run like ``topk``'s — on the driver over the term cache,
or per bucket inside the executors beyond the driver-scoring doc
budget. Term clauses keep their occur and boost, a fuzzy clause's
variants are one group, a phrase is a PHRASE or NEAR doc set (its
terms required clauses), and a wildcard or range is an ANY doc set
whose constant is its boost. The executor verifies each phrase from
the positions rows it reads.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_CLAUSE_RE = re.compile(
    r'([+-]?)'                                  # occur
    r'(?:([A-Za-z0-9_.]+):)?'                   # field override
    r'(?:([\[{])\s*(\S+)\s+TO\s+(\S+)\s*([\]}])'  # range [a TO b] / {a TO b}
    r'|"([^"]*)"(?:~(\d+))?'                    # phrase, optional slop
    r'|([^\s"^~]+)(?:~(\d*))?)'                 # or bare term, opt. fuzzy
    r'(?:\^(\d+(?:\.\d+)?))?'                   # boost
)


@dataclass
class Clause:
    occur: str                      # '', '+', '-'
    field: str | None               # None → default field
    terms: list[str]                # 1 for a term clause, ≥1 for phrase
    is_phrase: bool = False
    slop: int = 0                   # 0 = exact adjacency
    boost: float = 1.0
    fuzzy: int | None = None        # edit distance; None = not fuzzy
    wildcard: bool = False          # term contains * or ?
    # (lo, hi, include_lo, include_hi); None bound = open ([a TO *])
    range: tuple[str | None, str | None, bool, bool] | None = None


def parse_query(q: str) -> list[Clause]:
    """Parse a query string into clauses. Unparseable fragments
    (stray quotes, bare operators) are dropped rather than raised —
    the lenient behavior a search box needs."""
    clauses: list[Clause] = []
    for m in _CLAUSE_RE.finditer(q):
        (occur, fld, r_open, r_lo, r_hi, r_close,
         phrase, slop, term, fz, boost) = m.groups()
        if r_open is not None:
            lo = None if r_lo == "*" else r_lo.lower()
            hi = None if r_hi == "*" else r_hi.lower()
            clauses.append(Clause(occur, fld, [],
                                  boost=float(boost or 1.0),
                                  range=(lo, hi, r_open == "[",
                                         r_close == "]")))
        elif phrase is not None:
            terms = [t for t in re.split(r"\s+", phrase.lower()) if t]
            if not terms:
                continue
            clauses.append(Clause(occur, fld, terms, is_phrase=len(terms) > 1,
                                  slop=int(slop or 0),
                                  boost=float(boost or 1.0)))
        elif term:
            fuzzy = None if fz is None else int(fz or 2)  # bare ~ → 2
            wild = fuzzy is None and any(c in term for c in "*?")
            if wild and not term.strip("*?"):
                continue  # pure-wildcard (match-all) is not a term clause
            clauses.append(Clause(occur, fld, [term.lower()],
                                  boost=float(boost or 1.0), fuzzy=fuzzy,
                                  wildcard=wild))
    return clauses


def execute(idx, q: str, k: int = 10,
            default_field: str = "code.content",
            min_match: int | None = None,
            kernel: str = "auto") -> list[tuple[int, float]]:
    """Run a parsed query against an :class:`ftidx.index.FtIndex`.

    One plan scores every non-prohibited term clause (boost-scaled,
    per-field idf/avgdl); required clauses and sets must match,
    prohibited ones must not. ``min_match`` is Solr/edismax ``mm`` over
    the OPTIONAL (should) clauses: a doc must match at least that many
    of them, on top of every required clause — phrases here are always
    required (see module docstring), so mm never counts them. The plan
    goes to :meth:`~ftidx.index.FtIndex._score_plan`, which picks the
    executor by the df probe.

    ``kernel="auto"`` lets the evaluator MaxScore-prune what it can (a
    pure disjunction on one field); ``kernel="exhaustive"`` scores
    every match on the driver — the reference the pruned page is
    checked against, bit-identical by construction."""
    from ftidx.wand import (ANY, MUST, MUST_NOT, NEAR, PHRASE, SHOULD, Clause,
                            DocSet, ScorePlan)

    if k <= 0:
        return []
    clauses = parse_query(q)
    if not clauses:
        return []

    plan_clauses: list[Clause] = []
    sets: list[DocSet] = []
    for i, c in enumerate(clauses):
        fld = c.field or default_field
        occur = {"+": MUST, "-": MUST_NOT}.get(c.occur, SHOULD)
        if c.is_phrase:
            # a phrase is required unless negated, and scores as the
            # boost-scaled BM25 sum of its (required) terms
            sets.append(DocSet(fld, tuple(c.terms), NEAR if c.slop > 0 else PHRASE,
                               c.slop, 0.0, MUST_NOT if occur == MUST_NOT else MUST))
            if occur != MUST_NOT:
                plan_clauses += [Clause(fld, t, c.boost, MUST) for t in c.terms]
            continue
        if c.fuzzy is not None:
            # expansion cap = 50, Lucene FuzzyQuery's maxExpansions
            # default; fuzzy_terms ranks (distance, df DESC), so the
            # cap keeps the closest/most-frequent variants. The
            # variants are one group: each scores with its own idf
            # (MultiTermQuery boolean rewrite), any one satisfies +/-.
            variants = [t for t, _, _ in
                        idx.fuzzy_terms(c.terms[0], field=fld,
                                        max_dist=c.fuzzy, limit=50)]
        elif c.wildcard:
            variants = [t for t, _ in idx.wildcard_terms(c.terms[0], field=fld)]
        elif c.range is not None:
            lo, hi, ilo, ihi = c.range
            variants = [t for t, _ in
                        idx.range_terms(lo, hi, field=fld,
                                        include_lo=ilo, include_hi=ihi)]
        else:
            plan_clauses.append(Clause(fld, c.terms[0], c.boost, occur))
            continue
        if not variants:
            if occur == MUST:
                return []  # a required multi-term clause matching nothing
            continue
        if c.fuzzy is not None:
            plan_clauses += [Clause(fld, t, c.boost, occur, str(i)) for t in variants]
        else:
            # Lucene's CONSTANT_SCORE rewrite for WildcardQuery /
            # TermRangeQuery: the variants' union matches as one unit
            # and adds boost × 1.0 per doc, not BM25
            sets.append(DocSet(fld, tuple(variants), ANY, 0, c.boost, occur))

    plan = ScorePlan(tuple(plan_clauses), mm=min_match or 0, sets=tuple(sets))
    return idx._score_plan(plan, k, exhaustive=kernel == "exhaustive")
