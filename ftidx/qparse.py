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
  :meth:`ftidx.index.FtIndex.phrase_topk`).
- If the query has no required clause, a doc qualifies by matching at
  least one should clause (standard OR behavior).

Execution mirrors the serving topk path: one postings fetch for the
union of terms (cache-warm), one positions fetch for the phrases,
numpy accumulation with per-clause presence masks — no per-row Python,
no Spark job per clause.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

import numpy as np

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

    One cached-postings accumulation scores every non-prohibited term
    clause (boost-scaled, per-field idf/avgdl); required clauses and
    phrase verifications become numpy masks over the candidate ids;
    prohibited terms/phrases mask out. ``min_match`` is Solr/edismax
    ``mm`` over the OPTIONAL (should) term clauses: a doc must match at
    least that many of them, on top of every required clause — phrases
    here are always required (see module docstring), so mm never
    counts them.

    ``kernel="auto"`` routes PURE-DISJUNCTION queries (every clause an
    optional term clause on one field — the search-box common case)
    through the pruned MaxScore kernel
    (:func:`ftidx.wand.score_block_max`): boosts fold into each term's
    idf, which also keys the kernel's memoised contributions and upper
    bounds, so pruning stays exact; the exhaustive path below
    accumulates in the identical (df, term) order with the identical
    scaled-idf arithmetic, making the two paths bit-identical — pinned
    by the fuzz rank-identity test.
    Pruning is unsound under +/- masks, phrases, mm≥2 or multi-field
    scoring, so anything else falls through to the exhaustive path
    (``kernel="exhaustive"`` forces it)."""
    from ftidx.positions import near_docs, phrase_docs
    from ftidx.wand import _scatter_add, bm25_contrib

    if k <= 0:
        return []
    clauses = parse_query(q)
    if not clauses:
        return []

    if (kernel == "auto"
            and (min_match is None or min_match <= 1)
            and all(c.occur == "" and not c.is_phrase and c.fuzzy is None
                    and not c.wildcard and c.range is None for c in clauses)
            and len({c.field or default_field for c in clauses}) == 1):
        from ftidx.wand import TermList, score_block_max

        fld = clauses[0].field or default_field
        boosts: dict[str, float] = {}
        for c in clauses:
            boosts[c.terms[0]] = boosts.get(c.terms[0], 0.0) + c.boost
        lists, avgdl = idx._term_lists(sorted(boosts), fld)
        if not lists:
            return []
        weighted = [TermList(tl.term, tl.rows, boosts[tl.term] * tl.idf)
                    for tl in lists]
        tombs = idx._tombstones
        ids, scores = score_block_max(weighted, avgdl, k + len(tombs))
        return idx._live_topk(ids, scores, k, tombs)

    # single-term "phrases" act as plain term clauses
    for c in clauses:
        if not c.is_phrase and len(c.terms) == 1:
            c.is_phrase = False

    term_clauses = [c for c in clauses
                    if not c.is_phrase and c.fuzzy is None
                    and not c.wildcard and c.range is None]
    phrase_clauses = [c for c in clauses if c.is_phrase]

    # --- fuzzy expansion (term~N) ----------------------------------------
    # each fuzzy clause expands to its vocabulary variants (one cheap
    # column-pruned vocab scan per UNKNOWN term — fuzzy_terms); variants
    # score as a disjunction with their own idfs, while +/- presence is
    # the UNION of the variants (any one satisfies / prohibits)
    fuzzy_specs: list[tuple[str, str, list[str], float]] = []
    for c in clauses:
        if c.is_phrase or c.fuzzy is None:
            continue
        fld = c.field or default_field
        # expansion cap = 50, Lucene FuzzyQuery's maxExpansions
        # default; fuzzy_terms ranks (distance, df DESC), so the cap
        # keeps the closest/most-frequent variants — same policy
        variants = [t for t, _, _ in
                    idx.fuzzy_terms(c.terms[0], field=fld,
                                    max_dist=c.fuzzy, limit=50)]
        if not variants:
            if c.occur == "+":
                return []  # required fuzzy term with no variant anywhere
            continue
        fuzzy_specs.append((c.occur, fld, variants, c.boost))

    # --- constant-score multi-term expansion (wildcard / range) ----------
    # Lucene's CONSTANT_SCORE rewrite for WildcardQuery/TermRangeQuery:
    # the clause matches the UNION of its vocabulary variants' postings
    # and contributes boost × 1.0 per matching doc (not BM25 — the
    # classic Solr behavior for multi-term queries); one cheap
    # (term, df)-pruned vocab scan per clause for the expansion
    const_specs: list[tuple[str, str, list[str], float]] = []
    for c in clauses:
        if c.wildcard:
            fld = c.field or default_field
            variants = [t for t, _ in
                        idx.wildcard_terms(c.terms[0], field=fld)]
        elif c.range is not None:
            fld = c.field or default_field
            lo, hi, ilo, ihi = c.range
            variants = [t for t, _ in
                        idx.range_terms(lo, hi, field=fld,
                                        include_lo=ilo, include_hi=ihi)]
        else:
            continue
        if not variants:
            if c.occur == "+":
                return []  # required multi-term clause matching nothing
            continue
        const_specs.append((c.occur, fld, variants, c.boost))

    # --- phrase verification (positional) -------------------------------
    must_sets: list[set[int]] = []      # each must contain the doc
    not_sets: list[set[int]] = []      # doc must be in none
    for c in phrase_clauses:
        fld = c.field or default_field
        by_term = idx._positions_by_term(sorted(set(c.terms)), fld)
        docs = (near_docs(by_term, c.terms, c.slop) if c.slop > 0
                else phrase_docs(by_term, c.terms))
        s = set(int(d) for d in docs)
        (not_sets if c.occur == "-" else must_sets).append(s)

    # --- term scoring over cached postings ------------------------------
    # group scored terms by field so each field keeps its own stats
    pos_terms: dict[str, list[Clause]] = {}
    for c in term_clauses:
        if c.occur != "-":
            pos_terms.setdefault(c.field or default_field, []).append(c)
    # phrase terms contribute to scoring too (non-negated phrases)
    phrase_score_terms: dict[str, list[str]] = {}
    for c in phrase_clauses:
        if c.occur != "-":
            phrase_score_terms.setdefault(
                c.field or default_field, []).extend(c.terms)
    # fuzzy variants score like should-terms (skip prohibited groups)
    fuzzy_score: dict[str, dict[str, float]] = {}
    for occur, fld, variants, boost in fuzzy_specs:
        if occur != "-":
            d = fuzzy_score.setdefault(fld, {})
            for t in variants:
                d[t] = d.get(t, 0.0) + boost

    per_term: list[tuple[np.ndarray, np.ndarray]] = []
    presence: list[tuple[str, np.ndarray]] = []   # (occur, ids) per term clause
    decoded: dict[tuple[str, str], np.ndarray] = {}
    for fld in sorted(set(pos_terms) | set(phrase_score_terms)
                      | set(fuzzy_score)
                      | {f for _, f, _, _ in fuzzy_specs}
                      | {f for _, f, _, _ in const_specs}):
        wanted = sorted({t for c in pos_terms.get(fld, []) for t in c.terms}
                        | set(phrase_score_terms.get(fld, []))
                        | set(fuzzy_score.get(fld, {}))
                        | {t for occ, f2, vs, _ in fuzzy_specs
                           if f2 == fld for t in vs}
                        | {t for occ, f2, vs, _ in const_specs
                           if f2 == fld for t in vs})
        lists, avgdl = idx._term_lists(wanted, fld)
        by_name = {tl.term: tl for tl in lists}
        boosts: dict[str, float] = dict(fuzzy_score.get(fld, {}))
        for c in pos_terms.get(fld, []):
            boosts[c.terms[0]] = boosts.get(c.terms[0], 0.0) + c.boost
        for t in phrase_score_terms.get(fld, []):
            boosts[t] = boosts.get(t, 0.0) + 1.0
        # (df, term) accumulation order + idf-folded boost: the exact
        # arithmetic score_block_max runs, so the MaxScore path above
        # is bit-identical to this path on pure disjunctions
        for t, w in sorted(boosts.items(),
                           key=lambda kv: (by_name[kv[0]].df
                                           if kv[0] in by_name else 0,
                                           kv[0])):
            tl = by_name.get(t)
            if tl is None:
                continue
            ids, tfs, dls = tl.decode_all()
            decoded[(fld, t)] = ids
            per_term.append((ids, bm25_contrib(tfs, dls, w * tl.idf, avgdl)))
        # prohibited fuzzy groups need ids but never scores; constant-
        # score groups (any occur) need ids — their scoring is the flat
        # boost applied over the union below, never per-term BM25
        need_ids = [(f2, vs) for occ, f2, vs, _ in fuzzy_specs
                    if occ == "-"]
        need_ids += [(f2, vs) for _, f2, vs, _ in const_specs]
        for f2, vs in need_ids:
            if f2 == fld:
                for t in vs:
                    if (fld, t) not in decoded:
                        tl = by_name.get(t)
                        if tl is not None:
                            decoded[(fld, t)] = tl.decode_all()[0]
        for c in pos_terms.get(fld, []):
            tl = by_name.get(c.terms[0])
            ids = tl.decode_all()[0] if tl is not None else np.empty(0, np.uint64)
            presence.append((c.occur, ids))

    # fuzzy presence: the union of the group's variant ids as ONE clause
    for occur, fld, variants, _ in fuzzy_specs:
        arrs = [decoded[(fld, t)] for t in variants
                if (fld, t) in decoded and decoded[(fld, t)].size]
        ids = (np.unique(np.concatenate(arrs)) if arrs
               else np.empty(0, np.uint64))
        presence.append((occur, ids))

    # constant-score groups (wildcard / range): the variant-id union is
    # ONE presence clause, and non-prohibited groups add boost × 1.0 to
    # every doc in the union — which also admits those docs to the
    # candidate pool (a lone `pre*` query still returns results)
    for occur, fld, variants, boost in const_specs:
        arrs = [decoded[(fld, t)] for t in variants
                if (fld, t) in decoded and decoded[(fld, t)].size]
        ids = (np.unique(np.concatenate(arrs)) if arrs
               else np.empty(0, np.uint64))
        presence.append((occur, ids))
        if occur != "-" and ids.size:
            per_term.append((ids, np.full(ids.size, boost)))

    # prohibited term clauses (never scored)
    for c in term_clauses:
        if c.occur == "-":
            fld = c.field or default_field
            lists, _ = idx._term_lists(c.terms, fld)
            ids = lists[0].decode_all()[0] if lists else np.empty(0, np.uint64)
            presence.append(("-", ids))

    uniq, scores, _ = _scatter_add(per_term)
    mask = np.ones(uniq.size, dtype=bool)
    for occur, ids in presence:
        if occur == "+":
            mask &= np.isin(uniq, ids)
        elif occur == "-" and ids.size:
            mask &= ~np.isin(uniq, ids)
    if min_match is not None and min_match > 0:
        cnt = np.zeros(uniq.size, dtype=np.int64)
        for occur, ids in presence:
            if occur == "":
                cnt += np.isin(uniq, ids)
        mask &= cnt >= min_match
    u64 = uniq.astype(np.int64)
    for s in must_sets:
        mask &= np.isin(u64, np.fromiter(s, np.int64, len(s))) if s else False
    for s in not_sets:
        if s:
            mask &= ~np.isin(u64, np.fromiter(s, np.int64, len(s)))

    return idx._live_topk(uniq[mask], scores[mask], k)
