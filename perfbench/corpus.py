"""Seeded inputs: which synthetic files a run indexes, and its query streams.

The seed picks a file-id range of the deterministic ``ftidx.synth``
corpus and shuffles every query stream.  The engine only ever sees the
generated source rows and query terms.

Term classes of the synth corpus (see ``ftidx/synth.py``):

- ``fat``: 2–3 of the five hot terms, each in ~90% of docs;
- ``thin``: one ``rareterm*`` (100 files share one) plus one
  ``handler*`` term (~3% of docs);
- ``cold``: one ``rareterm*`` or ``uniquemarker*`` (one file) never
  queried before in the run.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass

import pandas as pd

from ftidx.schema import SOURCE_SCHEMA
from ftidx.synth import HOT_TERMS, MID_TERMS, gen_row

# rareterm{i // 100:05d} and uniquemarker{i:07d} keep their width below this
MAX_FILE_ID = 10_000_000
K_RANGE = range(5, 51)


@dataclass(frozen=True)
class Sizes:
    base_files: int      # the index every workload queries
    warmup_files: int    # the small build that starts Python workers
    batch_files: int     # files per streamed micro-batch
    setup_reps: int      # set-ups per run; setup_s is their median
    ingest_rounds: int   # ingest_serve: writer rounds, one batch each
    tokenize_rows: int   # rows in the tokenize probe's pandas sample


FULL = Sizes(base_files=10_000, warmup_files=500, batch_files=2_000,
             setup_reps=3, ingest_rounds=2, tokenize_rows=5_000)
SMOKE = Sizes(base_files=1_500, warmup_files=200, batch_files=200,
              setup_reps=2, ingest_rounds=2, tokenize_rows=500)


def rare_term(i: int) -> str:
    return f"rareterm{i // 100:05d}"


def marker_term(i: int) -> str:
    return f"uniquemarker{i:07d}"


def has_marker(i: int) -> bool:
    """File i carries a unique marker and is indexed (not a tombstone)."""
    return i % 97 == 0 and i % 53 != 0


class Layout:
    """File-id ranges of one run: warm-up, base index, streamed batches."""

    def __init__(self, seed: int, sizes: Sizes):
        need = (sizes.warmup_files + sizes.base_files
                + sizes.ingest_rounds * sizes.batch_files)
        lo = random.Random(seed).randrange((MAX_FILE_ID - need) // 100) * 100
        self.warmup = range(lo, lo + sizes.warmup_files)
        self.base = range(self.warmup.stop, self.warmup.stop + sizes.base_files)
        self._batch_files = sizes.batch_files

    def batch(self, r: int) -> range:
        start = self.base.stop + r * self._batch_files
        return range(start, start + self._batch_files)

    def rare_terms(self) -> list[str]:
        return sorted({rare_term(i) for i in self.base})

    def base_markers(self) -> list[str]:
        return [marker_term(i) for i in self.base if has_marker(i)]

    def batch_marker(self, r: int) -> str:
        return marker_term(next(i for i in self.batch(r) if has_marker(i)))


def source_frame(spark, ids: range, partitions: int = 8):
    """The synth rows for file ids ``ids`` (``synth_source`` always starts
    at id 0; the seeded range needs its own start)."""

    def gen(batches):
        for pdf in batches:
            out = pd.DataFrame([gen_row(int(i)) for i in pdf["id"]])
            out["modified"] = pd.to_datetime(out["modified"])
            yield out

    return spark.range(ids.start, ids.stop, 1, partitions).mapInPandas(
        gen, schema=SOURCE_SCHEMA)


def tokenize_sample(ids: range) -> pd.DataFrame:
    """Driver-side pandas rows in the shape ``tokenize_tf_batch`` reads."""
    rows = pd.DataFrame([gen_row(i) for i in ids])
    rows.insert(0, "doc_id", list(ids))
    return rows[["doc_id", "content", "lang", "repo", "path"]]


# --- query streams: lists of (class, terms, k), no (terms, k) repeats ---

def fat_stream(rng: random.Random) -> list[tuple]:
    keys = [("fat", list(t), k)
            for n in (2, 3) for t in itertools.permutations(HOT_TERMS, n)
            for k in K_RANGE]
    rng.shuffle(keys)
    return keys


def thin_stream(rng: random.Random, rare: list[str],
                handlers: list[str] = MID_TERMS) -> list[tuple]:
    keys = [("thin", [r, h] if flip else [h, r], k)
            for r in rare for h in handlers for flip in (0, 1) for k in K_RANGE]
    rng.shuffle(keys)
    return keys


def interleave(a: list, b: list) -> list:
    return [q for pair in zip(a, b) for q in pair]


def cold_stream(rng: random.Random, terms: list[str]) -> list[tuple]:
    """Each query names one of ``terms``, each used once."""
    terms = terms[:]
    rng.shuffle(terms)
    return [("cold", [t], rng.choice(K_RANGE)) for t in terms]
