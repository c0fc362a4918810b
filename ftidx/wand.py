"""Top-k BM25 scoring over compressed postings — pure numpy.

The retrieval capability the reference delegates to Solr (Q5/Q7 in
SURVEY §2: SolrQuery at IndexerIT.java:98-105 + default ranking).

Every BM25 accumulation in ftidx runs through this module. How a
query's term contributions combine into a doc score is written once,
as a :class:`ScorePlan` (clauses of field, term, weight and occur,
synonym-class clauses, optional dismax groups, a minimum-should-match
floor, phrase, proximity and term-union doc sets, and an id filter),
and evaluated once, by
:func:`run_plan` — on the driver over cached ``TermList``s or per
bucket inside an executor, with the same arithmetic in the same order,
so the two executors return bit-identical scores.

- :func:`run_plan` — the one evaluator: boolean admission (should /
  must / must-not / mm), weighted sums, per-group dismax and
  score-only clauses, set constants, the id filter (Solr's
  ``{!terms f=id}`` filter query: rerank, LTR features and pinned docs
  score only the docs they name), then the exact (score DESC, doc_id
  ASC) cut. Pure-should single-field unfiltered plans with a ``k``
  take MaxScore.
- :func:`score_block_max` — the pruned top-k: exact MaxScore (Turtle &
  Flood 1995). Lists whose summed bounds cannot reach the top k are
  probed, never sorted; in numpy only such whole-list skips pay.
- :func:`score_exhaustive` — the unpruned top-k. The verification
  oracle ``kernel="exhaustive"`` names.
- :func:`merge_group` — folds a synonym/stem class clause (a
  :class:`Clause` with ``members``) into one pseudo-term (tf summed, dl
  shared, df = size of the union) that scores like any other list;
  each executor merges the members it reads and takes the class's
  global union df.

Contributions are memoised per cached segment row, so a warm query
neither decodes nor recomputes BM25. Every evaluator adds them in one
fixed order, (global df, field, term), so scores are bit-identical
across kernels and executors. Tombstones are not this module's
concern: callers drop them from the uncut (or k + pending-tombstones)
output before their final cut.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np

from ftidx import BM25_B, BM25_K1
from ftidx.codec import delta_decode, varint_decode


def bm25_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_contrib(tfs: np.ndarray, dls: np.ndarray, idf: float, avgdl: float,
                 k1: float = BM25_K1, b: float = BM25_B) -> np.ndarray:
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _topk_order(ids: np.ndarray, scores: np.ndarray, k: int) -> np.ndarray:
    """Positions of the exact top-k, (score DESC, doc_id ASC)."""
    n = ids.size
    if n == 0 or k <= 0:
        return np.empty(0, np.intp)
    if k < n:
        kth_val = np.partition(scores, n - k)[n - k]
        cand = np.flatnonzero(scores >= kth_val)  # all ties included
    else:
        cand = np.arange(n)
    return cand[np.lexsort((ids[cand], -scores[cand]))][:k]


def _topk_from_scores(ids: np.ndarray, scores: np.ndarray, k: int):
    """Exact top-k with (score DESC, doc_id ASC) tie-break."""
    if ids.size == 0 or k <= 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.float64)
    order = _topk_order(ids, scores, k)
    return ids[order], scores[order]


class TermList:
    """Posting list for one (term, field), decoded on demand — possibly
    several bucket-segment rows (disjoint doc_id ranges)."""

    def __init__(self, term: str, rows: list[dict], idf: float):
        self.term = term
        self.rows = rows
        self.idf = idf
        self.df = sum(int(r["df"]) for r in rows)

    @staticmethod
    def _row_arrays(r: dict):
        """Decode one segment row, memoized into the row dict itself.

        Rows handed to the serving path come from FtIndex's driver-side
        term cache and are reused across queries; stashing the decoded
        arrays there turns every warm query's varint/delta decode into a
        dict lookup (decode dominated warm latency on high-df terms).
        The memo dies with the cache entry (LRU eviction / refresh())."""
        dec = r.get("_dec")
        if dec is None:
            dec = (
                delta_decode(varint_decode(r["doc_ids"])),
                varint_decode(r["tfs"]),
                varint_decode(r["dls"]),
            )
            r["_dec"] = dec
        return dec

    def decode_all(self):
        if not self.rows:
            z = np.empty(0, np.uint64)
            return z, z, z
        parts = [self._row_arrays(r) for r in self.rows]
        ids = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        dls = np.concatenate([p[2] for p in parts])
        return ids, tfs, dls

    def contribs(self, avgdl: float) -> list[tuple[np.ndarray, np.ndarray, float]]:
        """Per segment row: (ids, BM25 contributions, max contribution),
        memoised into the row dict like ``_dec``. Keyed on (idf, avgdl),
        so a boosted idf (qparse ``term^w``) or a global one (FtShards)
        recomputes instead of reading another caller's values."""
        key = (self.idf, avgdl)
        out = []
        for r in self.rows:
            memo = r.get("_bm25")
            if memo is None or memo[0] != key:
                ids, tfs, dls = self._row_arrays(r)
                c = bm25_contrib(tfs, dls, self.idf, avgdl)
                memo = (key, ids, c, float(c.max()) if c.size else 0.0)
                r["_bm25"] = memo
            out.append(memo[1:])
        return out


def _list_arrays(rows) -> tuple[np.ndarray, np.ndarray]:
    """One list's (ids, contributions) from its :meth:`TermList.contribs`."""
    if len(rows) == 1:
        return rows[0][0], rows[0][1]
    return (np.concatenate([r[0] for r in rows] or [np.empty(0, np.uint64)]),
            np.concatenate([r[1] for r in rows] or [np.empty(0)]))


def _term_contribs(lists: list[TermList],
                   avgdl: float) -> list[tuple[np.ndarray, np.ndarray]]:
    """Per-list (ids, BM25 contribution), in (df, term) order."""
    return [_list_arrays(tl.contribs(avgdl))
            for tl in sorted(lists, key=lambda t: (t.df, t.term))]


def _unique_inverse(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``np.unique(ids, return_inverse=True)`` through a stable argsort:
    the ids are concatenated sorted runs (one per segment row), which
    timsort merges in close to linear time."""
    order = np.argsort(ids, kind="stable")
    srt = ids[order]
    first = np.empty(srt.size, dtype=bool)
    first[:1] = True
    np.not_equal(srt[1:], srt[:-1], out=first[1:])
    inv = np.empty(srt.size, dtype=np.intp)
    inv[order] = np.cumsum(first) - 1
    return srt[first], inv


def _scatter_add(per_term):
    """The one BM25 scatter-add: (ids, contribs) pairs → (unique ids
    ascending, summed scores, inverse index into the unique ids). Each
    doc's sum starts from 0.0 and runs in the order of ``per_term``."""
    all_ids = (np.concatenate([ids for ids, _ in per_term]) if per_term
               else np.empty(0, np.uint64))
    if all_ids.size == 0:
        return all_ids, np.empty(0, np.float64), np.empty(0, np.intp)
    all_contrib = np.concatenate([c for _, c in per_term])
    uniq, inv = _unique_inverse(all_ids)
    # bincount is the vectorized scatter-add (np.add.at is an order of
    # magnitude slower on large inputs)
    return uniq, np.bincount(inv, weights=all_contrib, minlength=uniq.size), inv


def _accumulate(per_term, k: int):
    uniq, scores, _ = _scatter_add(per_term)
    return _topk_from_scores(uniq, scores, k)


def merge_group(term: str, lists: list[TermList]) -> TermList:
    """One pseudo-term from a synonym / stem class (Solr
    SynonymGraphFilter at query time): a doc's tf is the sum of its
    member tfs, its dl is shared by every member, and df is the size of
    the members' union. The caller sets ``idf`` (from this df, or from a
    global df across shards). The result is pre-decoded and scores like
    any fetched list."""
    ids, tfs, dls = (np.concatenate(a) for a in
                     zip(*(tl.decode_all() for tl in lists)))
    uids, inv = np.unique(ids, return_inverse=True)
    utf = np.bincount(inv, weights=tfs, minlength=uids.size)
    udl = np.zeros(uids.size, dls.dtype)
    udl[inv] = dls
    return TermList(term, [{"df": uids.size, "_dec": (uids, utf, udl)}], 0.0)


def score_exhaustive(lists: list[TermList], avgdl: float, k: int):
    if k <= 0:
        return np.empty(0, np.uint64), np.empty(0, np.float64)
    return _accumulate(_term_contribs(lists, avgdl), k)


# Cost rule of the probe plan, in units of one posting through the
# scatter-add (concatenate, stable argsort, bincount). Fitted on a 4-core
# x86 host over five query classes of the synth corpus at 10k and 100k
# docs: it picked the faster plan on 357 of 365 queries.
PROBE_COST = 0.25     # one candidate binary-searched in one row
ROW_PROBE_COST = 256  # the numpy calls that probe one row


def _nonessential(lists: list[TermList], rows: list, k: int) -> set[int]:
    """MaxScore's non-essential lists: the longest prefix by upper bound
    (max contribution) whose summed bound is strictly below θ, the k-th
    best contribution of the rarest list with k postings, which bounds
    the k-th best score from below. Empty when the scatter-add is the
    only exact plan or the cheaper one. Needs non-negative idfs (boosts
    are) and one row per doc per term (streaming drops re-delivered docs)."""
    # the postings the caller holds, not the df: a bucket holds only its
    # share of a list whose df is global
    seed = next((i for i, r in enumerate(rows)
                 if sum(ids.size for ids, _, _ in r) >= k), None)
    if len(lists) == 1 or seed is None:
        return set()
    c = _list_arrays(rows[seed])[1]
    theta = np.partition(c, c.size - k)[c.size - k]
    ub = [max((m for _, _, m in r), default=0.0) for r in rows]
    out: set[int] = set()
    for i in sorted(range(len(lists)), key=ub.__getitem__):
        # summed in (df, term) order, the order a doc's score is added
        # in, so rounding cannot lift a score over the bound
        bound = 0.0
        for j in range(len(lists)):
            if j in out or j == i:
                bound += ub[j]
        if not bound < theta:
            break
        out.add(i)
    ess_df = sum(tl.df for i, tl in enumerate(lists) if i not in out)
    probes = sum(PROBE_COST * ess_df + ROW_PROBE_COST * len(rows[i]) for i in out)
    return out if probes < sum(lists[i].df for i in out) else set()


def score_block_max(lists: list[TermList], avgdl: float, k: int):
    """Exact MaxScore top-k (Turtle & Flood 1995) over memoised BM25
    contributions; the name stays from the block-max kernel it replaced.

    Candidates are the union of the essential lists (see
    :func:`_nonessential`); each non-essential row is probed for them
    with ``searchsorted`` over its own id range. Each candidate's
    contributions are added from 0.0 in (df, term) order, the sequence
    :func:`score_exhaustive` adds, so ids and scores are bit-identical
    to it."""
    if not lists or k <= 0:
        return np.empty(0, np.uint64), np.empty(0, np.float64)
    lists = sorted(lists, key=lambda t: (t.df, t.term))
    rows = [tl.contribs(avgdl) for tl in lists]
    nonessential = _nonessential(lists, rows, k)
    if not nonessential:
        return _accumulate([_list_arrays(r) for r in rows], k)
    essential = [_list_arrays(r) for i, r in enumerate(rows)
                 if i not in nonessential]
    cand, inv = _unique_inverse(np.concatenate([ids for ids, _ in essential]))
    # a probed candidate absent from a row adds 0.0, which leaves its
    # partial sum unchanged; fewer numpy calls per row than selecting hits
    slots = np.arange(cand.size)
    idx_parts, c_parts = [], []
    ess = iter(essential)
    off = 0
    for i, r in enumerate(rows):
        if i not in nonessential:
            _, c = next(ess)
            idx_parts.append(inv[off:off + c.size])
            c_parts.append(c)
            off += c.size
            continue
        live = [(ids, c) for ids, c, _ in r if ids.size]
        lo = cand.searchsorted([ids[0] for ids, _ in live], "left").tolist()
        hi = cand.searchsorted([ids[-1] for ids, _ in live], "right").tolist()
        for (ids, c), a, b in zip(live, lo, hi):
            if a < b:
                sub = cand[a:b]
                pos = ids.searchsorted(sub)
                idx_parts.append(slots[a:b])
                c_parts.append(np.where(ids[pos] == sub, c[pos], 0.0))
    scores = np.bincount(np.concatenate(idx_parts),
                         weights=np.concatenate(c_parts), minlength=cand.size)
    return _topk_from_scores(cand, scores, k)


SHOULD, MUST, MUST_NOT, SCORE = "should", "must", "must_not", "score"


class Clause(NamedTuple):
    """One (field, term) list of a :class:`ScorePlan`, its BM25 scaled
    by ``weight`` (folded into the idf, as a Lucene boost is). ``occur``
    is SHOULD, MUST, MUST_NOT (never scored), or SCORE: added to docs
    the other clauses admit, admitting none itself (edismax ``bq`` under
    its required main query). Clauses sharing a ``group`` are one
    dismax unit. A clause with ``members`` is a synonym class (Solr
    SynonymGraphFilter at query time): the members' lists merged into
    one pseudo-term (:func:`merge_group`) named ``term``, read under
    :attr:`key`."""
    field: str
    term: str
    weight: float = 1.0
    occur: str = SHOULD
    group: str | None = None
    members: tuple[str, ...] = ()

    @property
    def key(self) -> str:
        """The list the clause reads: its term or, for a class, the term
        and members joined by NUL — a name no indexed term has, that
        sorts among other keys as the class's term does."""
        return "\0".join((self.term, *self.members)) if self.members else self.term


PHRASE, NEAR, ANY = "phrase", "near", "any"


class DocSet(NamedTuple):
    """The docs of ``field`` holding ``terms`` as an exact phrase
    (PHRASE), within ``window`` positions, unordered (NEAR), or holding
    any of them (ANY: a wildcard's or range's variants). ``occur`` as
    for a :class:`Clause`, but never SCORE. A ``weight`` adds a constant
    per admitted member after the BM25 sum (ConstantScoreQuery): itself
    for ANY, times the Σ idf of the distinct terms in term order for a
    phrase (as Lucene's PhraseQuery weighs one)."""
    field: str
    terms: tuple[str, ...]
    kind: str = PHRASE
    window: int = 0
    weight: float = 0.0
    occur: str = MUST


class ScorePlan(NamedTuple):
    """How a query's term contributions combine into a doc score.

    A *unit* is a group's clauses, one ungrouped clause or one set; it
    matches a doc when any of its lists holds the doc (a set: when the
    doc is a member). A doc is admitted when it matches every MUST
    unit, no MUST_NOT list or set, and at least ``mm`` SHOULD units
    (at least one when the plan has no MUST unit). Its score is the
    sum of its ungrouped clauses' contributions plus, per group,
    ``best + tie·(sum − best)`` over the group's per-field sums
    (Lucene's DisjunctionMaxQuery), plus the set constants in order.
    Repeated (group, field, term) clauses add their weights; a
    weight-0 clause only admits. With ``ids``, only those docs are
    admitted."""
    clauses: tuple[Clause, ...]
    tie: float = 0.0
    mm: int = 0
    sets: tuple[DocSet, ...] = ()
    ids: tuple[int, ...] | None = None

    @classmethod
    def bag(cls, terms, field: str, occur: str = SHOULD, exclude=(),
            mm: int = 0) -> "ScorePlan":
        """Bag-of-words over one field: every term with ``occur``, every
        ``exclude`` term MUST_NOT."""
        clauses = [Clause(field, t, 1.0, occur) for t in dict.fromkeys(terms)]
        if exclude:
            clauses += [Clause(field, t, 0.0, MUST_NOT) for t in dict.fromkeys(exclude)]
        return cls(tuple(clauses), 0.0, mm)

    def pairs(self) -> list[tuple[str, str]]:
        """Every (field, term) the plan reads: clauses (a class's
        members), then sets."""
        return ([(c.field, t) for c in self.clauses for t in c.members or (c.term,)]
                + [(s.field, t) for s in self.sets for t in s.terms])

    def classes(self) -> list[Clause]:
        """The synonym-class clauses."""
        return [c for c in self.clauses if c.members]

    def terms_by_field(self) -> dict[str, list[str]]:
        """{field: sorted terms} over every clause and set, fields sorted."""
        out: dict[str, dict] = {}
        for f, t in self.pairs():
            out.setdefault(f, {})[t] = None
        return {f: sorted(out[f]) for f in sorted(out)}


def merge_classes(plan: ScorePlan,
                  lists_by_field: dict[str, dict[str, TermList]]) -> list[tuple[str, TermList]]:
    """Add each class clause's pseudo-term, merged from the members in
    ``lists_by_field``, under its :attr:`Clause.key`: (field, list)
    pairs whose df and idf the executor sets (the union df it reads, or
    the global one)."""
    out = []
    for c in plan.classes():
        have = lists_by_field.get(c.field, {})
        if present := [have[m] for m in c.members if m in have]:
            have[c.key] = merge_group(c.key, present)
            out.append((c.field, have[c.key]))
    return out


def _weighted(tl: TermList, weight: float) -> TermList:
    """``tl`` with ``weight`` folded into its idf; df (the sum order) kept."""
    if weight == 1.0:
        return tl
    out = TermList(tl.term, tl.rows, weight * tl.idf)
    out.df = tl.df
    return out


def _no_docs():
    return np.empty(0, np.uint64), np.empty(0), np.empty(0)


def run_plan(plan: ScorePlan, lists_by_field: dict[str, dict[str, TermList]],
             avgdl_by_field: dict[str, float], k: int | None = None,
             verified=()):
    """Evaluate ``plan``: (ids, scores, base) of the admitted docs,
    ``base`` being the score without SCORE clauses (``scores`` itself
    when there are none). Uncut (ids ascending) when ``k`` is None,
    else the exact (score DESC, doc_id ASC) top-k.

    ``lists_by_field[field][term]`` is the term's list on whatever the
    caller reads (the whole index on the driver, one bucket in an
    executor), with the GLOBAL idf and the GLOBAL df: lists add in
    (df, field, term) order, so both executors sum each doc alike.
    ``verified[i]`` holds a PHRASE or NEAR set's members, verified by
    the executor from the positions rows it reads.
    Class clauses read their merged list under :attr:`Clause.key`
    (:func:`merge_classes`). A pure-should plan over one field with
    positive weights, mm ≤ 1, no set, no id filter and a ``k`` takes
    MaxScore (:func:`score_block_max`), bit-identical to the
    scatter-add."""
    if k is not None and k <= 0:
        return _no_docs()
    field = plan.clauses[0].field if plan.clauses else None
    pruned = k is not None and plan.mm <= 1 and not plan.sets and plan.ids is None
    weights: dict[tuple, float] = {}
    for c in plan.clauses:
        pruned = pruned and (c.occur == SHOULD and c.group is None
                             and c.weight > 0 and c.field == field)
        if (c.occur != MUST_NOT and c.weight != 0.0
                and c.key in lists_by_field.get(c.field, ())):
            key = (c.group, c.occur == SCORE, c.field, c.key)
            weights[key] = weights.get(key, 0.0) + c.weight
    if pruned:
        ids, scores = score_block_max(
            [_weighted(lists_by_field[f][t], w) for (_, _, f, t), w in weights.items()],
            avgdl_by_field.get(field, 1.0), k)
        return ids, scores, scores

    # one id universe over every scored or admitting list; scored lists
    # first, in (df, field, term) order — the order each doc's sum runs
    arrays, slot = [], {}
    ungrouped, extra, groups = [], [], {}
    for _, g, is_score, f, tl in sorted(
            ((lists_by_field[f][t].df, f, t, g is not None, g or "", s), g, s, f,
             _weighted(lists_by_field[f][t], w))
            for (g, s, f, t), w in weights.items()):
        slot.setdefault((f, tl.term), len(arrays))
        if is_score:
            extra.append(len(arrays))
        elif g is None:
            ungrouped.append(len(arrays))
        else:
            groups.setdefault(g, {}).setdefault(f, []).append(len(arrays))
        arrays.append(_list_arrays(tl.contribs(avgdl_by_field[f])))
    units: dict = {}
    for i, c in enumerate(plan.clauses):
        if c.occur not in (SHOULD, MUST):
            continue
        units.setdefault(i if c.group is None else ("g", c.group),
                         (c.occur, []))[1].append((c.field, c.key))
        if ((c.field, c.key) not in slot  # weight 0: admits without scoring
                and c.key in lists_by_field.get(c.field, ())):
            slot[(c.field, c.key)] = len(arrays)
            arrays.append((lists_by_field[c.field][c.key].decode_all()[0], None))
    members = []
    for i, s in enumerate(plan.sets):  # an admitting set's members join the universe
        have = lists_by_field.get(s.field, {})
        members.append(np.concatenate(
            [have[t].decode_all()[0] for t in s.terms if t in have] + [np.empty(0, np.uint64)])
            if s.kind == ANY else np.asarray(verified[i]).astype(np.uint64))
        if s.occur != MUST_NOT:
            slot[("set", i)] = len(arrays)
            arrays.append((members[i], None))
            units[("set", i)] = (s.occur, [("set", i)])
    if not arrays or not units:
        return _no_docs()
    uniq, inv = _unique_inverse(np.concatenate([ids for ids, _ in arrays]))
    bounds = np.cumsum([0] + [ids.size for ids, _ in arrays])
    n = uniq.size

    def scatter(pick, scored=True) -> np.ndarray:
        if not pick:
            return np.zeros(n)
        idx = np.concatenate([inv[bounds[i]:bounds[i + 1]] for i in pick])
        if not scored:
            return np.bincount(idx, minlength=n) > 0
        return np.bincount(idx, minlength=n,
                           weights=np.concatenate([arrays[i][1] for i in pick]))

    base = scatter(ungrouped)
    for g in sorted(groups):
        per_field = [scatter(groups[g][f]) for f in sorted(groups[g])]
        best, total = per_field[0].copy(), per_field[0].copy()
        for fs in per_field[1:]:
            np.maximum(best, fs, out=best)
            total += fs
        base += best + plan.tie * (total - best)
    for i, s in enumerate(plan.sets):  # set constants, after the BM25 sum
        if s.weight and s.occur != MUST_NOT:
            hit = scatter([slot[("set", i)]], scored=False)
            if hit.any():
                lists = lists_by_field[s.field]
                base[hit] += s.weight if s.kind == ANY else s.weight * float(
                    sum(lists[t].idf for t in sorted(set(s.terms))))
    scores = base + scatter(extra) if extra else base

    def matches(fts) -> np.ndarray:
        pick = [slot[ft] for ft in fts if ft in slot]
        return scatter(pick, scored=False) if pick else np.zeros(n, bool)

    musts = [fts for occ, fts in units.values() if occ == MUST]
    floor = plan.mm if musts else max(plan.mm, 1)
    mask = None
    for fts in musts:
        mask = matches(fts) if mask is None else mask & matches(fts)
    if floor > 1 or (floor == 1 and (musts or extra)):
        count = np.zeros(n, np.int64)
        for occ, fts in units.values():
            if occ == SHOULD:
                count += matches(fts)
        mask = count >= floor if mask is None else mask & (count >= floor)
    excluded = [lists_by_field[c.field][c.key].decode_all()[0] for c in plan.clauses
                if c.occur == MUST_NOT and c.key in lists_by_field.get(c.field, ())]
    for xids in excluded + [x for s, x in zip(plan.sets, members) if s.occur == MUST_NOT]:
        if xids.size:
            keep = ~np.isin(uniq, xids)
            mask = keep if mask is None else mask & keep
    if plan.ids is not None:
        keep = np.isin(uniq, np.asarray(plan.ids, np.uint64))
        mask = keep if mask is None else mask & keep
    if mask is not None:
        uniq, scores, base = uniq[mask], scores[mask], base[mask]
    if k is not None:
        order = _topk_order(uniq, scores, k)
        uniq, scores, base = uniq[order], scores[order], base[order]
    return uniq, scores, base
