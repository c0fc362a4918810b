"""SolrTextTagger analog (Solr's ``/tag`` TaggerRequestHandler):
dictionary phrase spotting in caller text.

Solr builds an FST over an indexed field's values and, given a posted
document, emits every dictionary phrase occurring in it — the NER-ish
"which of my catalog entries does this text mention" handler, with
``overlaps=`` controlling how competing tags resolve. Reference
behavior: https://solr.apache.org/guide/ (Tagger handler) — the
LONGEST_DOMINANT_RIGHT default keeps, left to right, the longest tag
not overlapping an already-kept tag.

This analog tokenizes dictionary values and text with the same word
rule the engine's SQL-parity surfaces use (``[a-z0-9_]+`` on the
lowercased string), matches phrases at token granularity via a token
trie (the FST stand-in — dictionary-sized, built once and memoized on
the handle), and reports both token spans and character offsets.
Serving-path pure Python: no Spark job per request; the only Spark
work is the ONE distinct-values scan when the dictionary comes from an
index column (:func:`from_index_column`).

Corpus-side, :func:`tag_corpus` applies the same tagger to every doc
of a DataFrame through one broadcast + ``mapInPandas`` pass — the
"annotate 10^12 docs against a catalog" shape where the dictionary is
small and the corpus never leaves the executors.
"""

from __future__ import annotations

import re

from ftidx.schema import read_table

_WORD_RE = re.compile(r"[a-z0-9_]+")


def _spans(text: str) -> list[tuple[str, int, int]]:
    """Lowercased word tokens with character offsets."""
    return [(m.group(0), m.start(), m.end())
            for m in _WORD_RE.finditer(text.lower())]


class TextTagger:
    """Token-trie phrase tagger over a fixed dictionary.

    ``phrases`` maps a value string to its token tuple; values whose
    tokenization collides keep the lexicographically FIRST value
    (deterministic, and mirrors Solr tagging by the stored value of
    the first matching dictionary doc)."""

    def __init__(self, values: list[str]):
        self.trie: dict = {}
        for value in sorted(set(values)):
            toks = tuple(t for t, _, _ in _spans(value))
            if not toks:
                continue
            node = self.trie
            for t in toks:
                node = node.setdefault(t, {})
            node.setdefault(None, value)  # first value wins

    def tag(self, text: str,
            overlaps: str = "LONGEST_DOMINANT_RIGHT") -> list[dict]:
        """All dictionary phrase occurrences in ``text``.

        ``overlaps="ALL"`` returns every match (including nested and
        overlapping); ``"LONGEST_DOMINANT_RIGHT"`` (Solr default)
        iteratively emits the longest tag (character length, ties to
        the RIGHT-most), removes everything overlapping it, and
        repeats — Solr's documented cluster-resolution rule, which is
        NOT a left-to-right greedy (a longer tag starting later beats
        a shorter earlier one it overlaps). Each tag:
        ``{start, end, startOffset, endOffset, value}`` — token span
        [start, end) plus character offsets."""
        if overlaps not in ("ALL", "LONGEST_DOMINANT_RIGHT"):
            raise ValueError(f"unsupported overlaps mode {overlaps!r}")
        toks = _spans(text)
        matches: list[tuple[int, int, str]] = []
        for i in range(len(toks)):
            node = self.trie
            j = i
            while j < len(toks) and toks[j][0] in node:
                node = node[toks[j][0]]
                j += 1
                if None in node:
                    matches.append((i, j, node[None]))
        if overlaps == "LONGEST_DOMINANT_RIGHT":
            kept: list[tuple[int, int, str]] = []
            pool = list(matches)
            while pool:
                best = max(pool, key=lambda m: (
                    toks[m[1] - 1][2] - toks[m[0]][1], m[0]))
                kept.append(best)
                pool = [m for m in pool
                        if m[1] <= best[0] or m[0] >= best[1]]
            matches = sorted(kept)
        return [{"start": i, "end": j,
                 "startOffset": toks[i][1], "endOffset": toks[j - 1][2],
                 "value": v} for i, j, v in matches]


def from_index_column(idx, column: str = "repo") -> TextTagger:
    """Build the dictionary from an index's stored column — Solr's
    tagger field. One distinct-values scan (column-pruned); the
    dictionary is metadata-cardinality, not corpus-sized."""
    rows = (read_table(idx.spark, idx.path, "docs")
            .select(column).distinct().collect())
    return TextTagger([r[column] for r in rows if r[column] is not None])


def tag_corpus(docs, tagger: TextTagger, text_col: str = "text",
               id_col: str = "doc_id"):
    """Distributed tagging: one (doc_id, value, n, first_start) row per
    (doc, kept tag value). The trie ships once per executor via the
    closure (dictionary-sized); docs never leave their partitions —
    one ``mapInPandas`` pass, no shuffle before the caller's own
    aggregation."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = {"doc_id": [], "value": [], "n": [], "first_start": []}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                counts: dict[str, list] = {}
                for tg in tagger.tag(text):
                    ent = counts.setdefault(tg["value"],
                                            [0, tg["startOffset"]])
                    ent[0] += 1
                for v, (n, first) in counts.items():
                    out["doc_id"].append(did)
                    out["value"].append(v)
                    out["n"].append(n)
                    out["first_start"].append(first)
            yield pd.DataFrame(out)

    return docs.select(id_col, text_col).mapInPandas(
        run, schema="doc_id long, value string, n long, first_start long")
