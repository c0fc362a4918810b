"""Distributed byte-pair-encoding tokenizer training and encoding —
the tokenizer-learning step of a pre-training pipeline, done the way
BPE is actually trained at scale: on the WORD-COUNT table, never the
raw corpus.

The classic observation (Sennrich et al. 2016): BPE statistics are a
pure function of the corpus's (word, count) table, which is
vocabulary-sized (10^6-10^8 rows at 100 TB), not corpus-sized
(10^12+ tokens). So the expensive part — ONE pass over the text — is
a single map-side-combinable groupBy, and every merge iteration after
that runs on the small table:

    per round: pair counts = one groupBy over the word table's
    adjacent symbol pairs (weighted by word count); argmax = ONE row
    to the driver (count DESC, pair ASC tie-break, fully
    deterministic); apply-merge = an Arrow kernel over the word
    table's symbol arrays.

``mapInPandas`` hosts the merge/encode kernels (per-row list
surgery has no codegen form); everything corpus-sized stays in
codegen. Encoding documents against a learned merge list broadcasts
the rank dict (model-sized) and applies the standard lowest-rank-
first merge loop per word, memoized per distinct word inside each
Arrow batch.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ftidx.textops import TOKEN_SPLIT

END = "</w>"  # end-of-word marker, the Sennrich convention


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The one corpus-sized pass: (word, n) over the SQL-parity
    tokenizer. Map-side combinable; output is vocabulary-sized."""
    return (
        docs.select(F.explode(
            F.split(F.lower(F.col(text_col)), TOKEN_SPLIT)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    )


def _init_symbols(words: DataFrame) -> DataFrame:
    """word -> its character-symbol array with the end marker:
    'low' -> [l, o, w</w>]. Pure codegen (split + array surgery)."""
    chars = F.split(F.col("word"), "")
    syms = F.concat(
        F.slice(chars, 1, F.size(chars) - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit(END))),
    )
    return words.select("word", "n", syms.alias("syms"))


def _pair_counts(symtab: DataFrame) -> DataFrame:
    """Adjacent-pair counts weighted by word count: explode each
    word's (sym[i], sym[i+1]) pairs — arrays_zip against the shifted
    array keeps it codegen — then one groupBy."""
    shifted = F.slice(F.col("syms"), 2, F.size("syms") - 1)
    pairs = F.arrays_zip(
        F.slice(F.col("syms"), 1, F.size("syms") - 1).alias("a"),
        shifted.alias("b"),
    )
    return (
        symtab.filter(F.size("syms") >= 2)
        .select("n", F.explode(pairs).alias("p"))
        .select("n", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b").agg(F.sum("n").alias("cnt"))
    )


def _merge_kernel(a: str, b: str):
    """Arrow kernel replacing every adjacent (a, b) with a+b in each
    symbol array (left-to-right, non-overlapping — the BPE rule)."""
    ab = a + b

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for syms in pdf["syms"]:
                res, i, m = [], 0, len(syms)
                while i < m:
                    if i + 1 < m and syms[i] == a and syms[i + 1] == b:
                        res.append(ab)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                out.append(res)
            yield pd.DataFrame(
                {"word": pdf["word"], "n": pdf["n"], "syms": out})

    return kern


_SYMTAB_SCHEMA = "word string, n long, syms array<string>"


def _train_on_word_counts(pairs: list[tuple[str, int]],
                          n_merges: int) -> list[tuple[str, str]]:
    """The merge loop on a COLLECTED (word, n) table — plain Python,
    same statistics and the same (count DESC, a ASC, b ASC) argmax as
    the distributed loop (Python str comparison == Spark's binary
    UTF-8 order: UTF-8 byte order is code-point order)."""
    tab: list[tuple[int, list[str]]] = []
    for word, n in pairs:
        syms = list(word[:-1]) + [word[-1] + END]
        tab.append((n, syms))
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        cnt: dict[tuple[str, str], int] = {}
        for n, syms in tab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                cnt[p] = cnt.get(p, 0) + n
        if not cnt:
            break
        a, b = min(cnt, key=lambda p: (-cnt[p], p[0], p[1]))
        merges.append((a, b))
        ab = a + b
        for row in tab:
            syms = row[1]
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i:i + 2] = [ab]
                i += 1
    return merges


def train_bpe(docs: DataFrame, n_merges: int = 50,
              text_col: str = "text",
              driver_side: bool = False) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from ``docs``. Deterministic: the
    argmax tie-break is (count DESC, a ASC, b ASC), so the merge list
    is a pure function of the corpus.

    Scale shape: after the one corpus pass (word_counts), every
    iteration touches only the cached vocabulary-sized symbol table —
    a groupBy (pair counts), a 1-row TakeOrdered to the driver (the
    argmax), and one Arrow kernel pass. localCheckpoint every few
    rounds truncates the growing lineage exactly like the
    connected-components loop in :mod:`ftidx.dedup`.

    ``driver_side=True`` changes WHERE the merge loop runs, not what
    it computes: one corpus pass + ONE collect of the
    vocabulary-sized word-count table, then the loop in driver
    memory — pinned bit-identical to the distributed path (and to the
    pure-Python reference in tests/test_bpe.py).  Crossover: the
    distributed loop costs ~3 Spark jobs per merge, so a real 32k-
    merge vocabulary is ~10^5 sequential jobs — days of scheduler
    round-trips for state that is only vocabulary-sized (the same
    observation :mod:`ftidx.unigram` exploits).  Prefer driver_side
    whenever the distinct-word table fits driver memory (10^6-10^8
    rows — it does on any sane driver); keep the distributed loop for
    a pathological vocabulary or for plan-shape tests."""
    if driver_side:
        rows = word_counts(docs, text_col).collect()
        return _train_on_word_counts(
            [(r["word"], r["n"]) for r in rows], n_merges)
    symtab = _init_symbols(word_counts(docs, text_col)).cache()
    symtab.count()  # materialize before the loop
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        top = (_pair_counts(symtab)
               .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
               .limit(1).collect())
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        nxt = symtab.mapInPandas(_merge_kernel(a, b), schema=_SYMTAB_SCHEMA)
        if (i + 1) % 8 == 0:
            nxt = nxt.localCheckpoint()
        nxt = nxt.cache()
        nxt.count()
        symtab.unpersist()
        symtab = nxt
    symtab.unpersist()
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard BPE encode: repeatedly merge the lowest-rank adjacent
    pair until none applies."""
    syms = list(word[:-1]) + [word[-1] + END] if word else []
    while len(syms) >= 2:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]],
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Tokenize every document with a learned merge list: (doc_id,
    n_words, n_bpe_tokens) — the REAL subword token count a token
    budget / sequence packer should use, replacing the ceil(len/4)
    proxy in :func:`ftidx.textops.token_counts`.

    Scale shape: the rank dict is model-sized and ships inside the
    kernel closure (broadcast-equivalent); the corpus streams through
    ONE mapInPandas with a per-batch word memo — in natural text the
    distinct-word count per batch is far below the token count, so
    the Python word-encode runs once per distinct word, not once per
    token."""
    import re

    ranks = {p: i for i, p in enumerate(merges)}
    splitter = re.compile(TOKEN_SPLIT)

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}
        for pdf in batches:
            ids, n_words, n_toks = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = [] if text is None else \
                    [w for w in splitter.split(str(text).lower()) if w]
                total = 0
                for w in words:
                    got = memo.get(w)
                    if got is None:
                        got = len(_encode_word(w, ranks))
                        memo[w] = got
                    total += got
                ids.append(doc_id)
                n_words.append(len(words))
                n_toks.append(total)
            yield pd.DataFrame({"doc_id": ids, "n_words": n_words,
                                "n_bpe_tokens": n_toks})

    src = docs.select(F.col(id_col).alias("doc_id"),
                      F.col(text_col).alias("text"))
    return src.mapInPandas(
        kern, schema="doc_id long, n_words long, n_bpe_tokens long")


def merges_to_json(merges: list[tuple[str, str]]) -> str:
    """Serialize a trained merge list to JSON (ordered — rank IS the
    position), the shape a tokenizer registry stores."""
    import json

    return json.dumps({"type": "bpe", "merges": [list(m) for m in merges]})


def merges_from_json(s: str) -> list[tuple[str, str]]:
    import json

    obj = json.loads(s)
    if not isinstance(obj, dict) or obj.get("type") != "bpe" \
            or not isinstance(obj.get("merges"), list):
        raise ValueError('expected {"type": "bpe", "merges": [[a,b]…]}')
    out = []
    for m in obj["merges"]:
        if (not isinstance(m, list) or len(m) != 2
                or not all(isinstance(x, str) and x for x in m)):
            raise ValueError(f"bad merge entry {m!r}")
        out.append((m[0], m[1]))
    return out
