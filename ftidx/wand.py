"""Top-k BM25 scoring kernels over compressed postings — pure numpy.

The retrieval capability the reference delegates to Solr (Q5/Q7 in
SURVEY §2: SolrQuery at IndexerIT.java:98-105 + default ranking).

Every BM25 accumulation in ftidx runs through this module, whether the
caller is the driver (``FtIndex``/``FtShards``/``qparse``) or a
per-bucket executor closure:

- :func:`score_all` — the one uncut scorer: every list's memoised
  contributions, one vectorized scatter-add, and every matching doc
  with its score and the number of lists it matched. Callers that need
  every match (reranking, positional filters, per-bucket scoring) use
  it directly.
- :func:`score_exhaustive` — :func:`score_all`'s scatter-add plus the
  exact (score DESC, doc_id ASC) top-k cut. The verification oracle.
- :func:`score_boolean` — :func:`score_all` plus :func:`filter_matches`
  (AND / minimum-should-match / exclusion) before the cut.
- :func:`score_weighted_fields` / :func:`score_dismax` — the per-field
  contributions of :func:`score_all`, combined as a weighted sum or as
  best-field + tie × rest.
- :func:`merge_group` — folds a synonym/stem class into one pseudo-term
  (tf summed, dl shared, df = size of the union) that scores like any
  other list.
- :func:`score_block_max` — the pruned top-k: exact MaxScore (Turtle &
  Flood 1995). Lists whose summed bounds cannot reach the top k are
  probed, never sorted; in numpy only such whole-list skips pay.

Contributions are memoised per cached segment row, so a warm query
neither decodes nor recomputes BM25. Every kernel adds them in one
fixed order, (df, term), so scores are bit-identical across kernels.
Tombstones are not this module's concern: callers drop them from the
uncut (or k + pending-tombstones) output before their final cut.
"""

from __future__ import annotations

import math

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


def _topk_from_scores(ids: np.ndarray, scores: np.ndarray, k: int):
    """Exact top-k with (score DESC, doc_id ASC) tie-break."""
    n = ids.size
    if n == 0 or k <= 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.float64)
    if k < n:
        kth_val = np.partition(scores, n - k)[n - k]
        cand = np.flatnonzero(scores >= kth_val)  # all ties included
    else:
        cand = np.arange(n)
    order = cand[np.lexsort((ids[cand], -scores[cand]))][:k]
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


def _term_contribs(lists: list[TermList], avgdl: float,
                   weight: float = 1.0) -> list[tuple[np.ndarray, np.ndarray]]:
    """Per-list (ids, weight × BM25 contribution), in (df, term) order."""
    out = []
    for tl in sorted(lists, key=lambda t: (t.df, t.term)):
        ids, c = _list_arrays(tl.contribs(avgdl))
        out.append((ids, c if weight == 1.0 else weight * c))
    return out


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


def score_all(lists: list[TermList], avgdl: float, weight: float = 1.0):
    """Uncut BM25 over ``lists``: (ids ascending, scores, n_matched),
    where ``n_matched[i]`` counts the lists containing ``ids[i]`` (a doc
    lives in one segment per term, so this is its matched-term count).
    ``weight`` scales every contribution (a field's ``qf`` weight)."""
    uniq, scores, inv = _scatter_add(_term_contribs(lists, avgdl, weight))
    return uniq, scores, np.bincount(inv, minlength=uniq.size)


def filter_matches(ids: np.ndarray, scores: np.ndarray, n_matched: np.ndarray,
                   floor: int = 1, exclude_lists: list[TermList] | None = None):
    """Boolean cut over :func:`score_all` output: keep docs matching at
    least ``floor`` query terms (all of them for AND, ``mm`` for
    minimum-should-match) and none of ``exclude_lists``."""
    mask = n_matched >= floor if floor > 1 else np.ones(ids.size, dtype=bool)
    for xl in exclude_lists or ():
        xids, _, _ = xl.decode_all()
        if xids.size:
            mask &= ~np.isin(ids, xids)
    return ids[mask], scores[mask]


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


def score_weighted_fields(field_lists, k: int):
    """Multi-field weighted BM25 (the edismax ``qf`` analog): score =
    Σ_fields w_f · BM25_f(doc) — each field keeps its own idf/avgdl
    statistics, the weight scales the field's contribution.

    ``field_lists``: iterable of (weight, lists, avgdl) triples.
    Unpruned: MaxScore's bounds are per field."""
    if k <= 0:
        return np.empty(0, np.uint64), np.empty(0, np.float64)
    return _accumulate([p for weight, lists, avgdl in field_lists
                        for p in _term_contribs(lists, avgdl, weight)], k)


def score_dismax(field_lists, k: int, tie: float = 0.0):
    """Disjunction-max across fields (Solr/dismax ``tie``): a doc's
    score is its BEST field score plus ``tie`` × the other fields'
    scores — ``tie=0`` is pure dismax (a doc matching one field twice
    beats a doc matching two fields weakly only if its best field
    wins), ``tie=1`` degenerates to :func:`score_weighted_fields`' sum.

    ``field_lists``: iterable of (weight, lists, avgdl) triples, one
    per field. Vectorized: each field's :func:`score_all`, aligned on
    one id universe, then ``max + tie·(sum − max)`` column-wise."""
    if k <= 0:
        return np.empty(0, np.uint64), np.empty(0, np.float64)
    per_field = [score_all(lists, avgdl, weight)[:2]
                 for weight, lists, avgdl in field_lists]
    per_field = [(ids, s) for ids, s in per_field if ids.size]
    if not per_field:
        return np.empty(0, np.uint64), np.empty(0, np.float64)
    uniq = np.unique(np.concatenate([ids for ids, _ in per_field]))
    best = np.zeros(uniq.size, np.float64)
    total = np.zeros(uniq.size, np.float64)
    for ids, fscore in per_field:
        aligned = np.zeros(uniq.size, np.float64)
        aligned[np.searchsorted(uniq, ids)] = fscore
        np.maximum(best, aligned, out=best)
        total += aligned
    combined = best + tie * (total - best)
    return _topk_from_scores(uniq, combined, k)


def score_boolean(lists: list[TermList], avgdl: float, k: int,
                  require_all: bool = False,
                  exclude_lists: list[TermList] | None = None,
                  min_match: int | None = None):
    """Boolean-filtered BM25 top-k: optional conjunctive semantics
    (doc must contain EVERY query term), minimum-should-match
    (``min_match=m``: doc must contain at least m of the query terms —
    Solr/edismax ``mm``) and term exclusion (Solr's ``+must -not``
    surface beyond plain OR). Scoring is the same BM25 sum over the
    matched query terms; the boolean part only shrinks the candidate
    set, so it composes with the cached decode like the exhaustive
    kernel. Unpruned: MaxScore bounds OR scores, which is unsound
    under a cardinality filter."""
    if k <= 0 or not lists:
        return np.empty(0, np.uint64), np.empty(0, np.float64)
    floor = len(lists) if require_all else (min_match or 1)
    ids, scores = filter_matches(*score_all(lists, avgdl), floor=floor,
                                 exclude_lists=exclude_lists)
    return _topk_from_scores(ids, scores, k)


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
    seed = next((i for i, tl in enumerate(lists) if tl.df >= k), None)
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
