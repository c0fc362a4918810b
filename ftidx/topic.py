"""Solr ``topic()`` stream — checkpointed pub-sub over an index.

Solr's ``topic(checkpointCollection, collection, q=…, id=…)`` is the
one streaming-expression source with STATE: each call delivers the
documents that matched ``q`` and arrived since the previous call,
persisting a checkpoint so independent polls form an at-least-once
subscription (Solr checkpoints per-shard max ``_version_``;
solr.apache.org streaming-expressions docs). The reference delegates
this, like every query feature, to Solr (pom.xml:32-36).

The Spark-first reading: this index's monotone "version" is the
streamed-delta EPOCH id — ``delta_doclen/batch=<epoch>`` is an
append-only sequence between compactions (ftidx.streaming writes one
dir per micro-batch epoch, never rewriting an earlier one). So the
checkpoint is ``{build_id, epochs_delivered}``:

- first poll: the FULL current match set (base + every delta epoch),
  checkpointing the epoch ids present;
- later polls: the match set restricted (one semi-join) to doc_ids of
  epochs NOT yet in the checkpoint — only new arrivals ship;
- at-least-once, exactly Solr's contract: a tier merge
  (``maintenance.merge_delta_tier``) folds delivered epochs into a
  fresh reserved-range epoch, whose docs re-deliver once (duplicates,
  never losses); ``upsert`` rewrites the base and bumps
  ``build_id``, after which epoch bookkeeping is meaningless — the
  poll REFUSES with a resubscribe message instead of silently
  re-delivering a 10^12-doc base (Solr topics likewise break when the
  collection is reindexed);
- ``maintenance.compact`` folds the epochs into the base without a new
  ``build_id`` and appends their ids to ``_folded_epochs.json``, one
  entry per compaction; the checkpoint also holds how many entries it
  has seen. A poll whose checkpoint held every epoch folded since then
  carries on; one that never saw a folded epoch REFUSES with the same
  resubscribe message, since those docs no longer stand apart from the
  base. That includes a tier-merged epoch folded before it was polled,
  even when every epoch merged into it was delivered — a refusal,
  never a loss. A folded id is free again afterwards: an epoch that
  reuses it (the next tier merge, a restarted stream) is new.

Scale shape: a poll is one term-pruned postings decode
(``FtIndex._matched_ids`` — pushdown scan, executor-side varint
decode) semi-joined with the new epochs' doclen doc_ids (a scan of
exactly the new ``batch=`` dirs, never the old ones). Nothing
corpus-sized reaches the driver; checkpoint state is O(polls) ints.
"""
from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ftidx.maintenance import fold_log
from ftidx.schema import batch_dirs, read_table


def _epochs(index) -> list[int]:
    return sorted(int(p.name.split("=", 1)[1])
                  for p in batch_dirs(index.path / "delta_doclen"))


def _build_id(index) -> str:
    man = index.path / "_manifest.json"
    return json.loads(man.read_text()).get("build_id", "") \
        if man.exists() else ""


def topic_poll(index, topic_id: str, terms: list[str],
               checkpoint_dir: str, *, field: str = "code.content",
               fl: list[str] | None = None) -> DataFrame:
    """One poll of topic ``topic_id``: the docs matching ANY of
    ``terms`` (tombstones dropped) that arrived since the last poll,
    as a DataFrame of ``doc_id`` plus any ``fl`` stored columns
    (left-joined from the base docs table; docs still in uncompacted
    deltas have no stored row yet and carry NULL ``fl`` values — they
    re-enrich on a later fetch, Solr's fl-over-uncommitted analog).

    The checkpoint advances BEFORE the caller consumes the result
    (Solr's topic does the same — its checkpoint collection updates as
    the stream is read), so a consumer that crashes mid-read misses
    that delivery: pair polls with durable sinks, or resubscribe.
    """
    if not terms:
        raise ValueError("topic_poll: empty term list")
    ck_dir = Path(checkpoint_dir)
    ck_dir.mkdir(parents=True, exist_ok=True)
    ck_path = ck_dir / f"{topic_id}.json"
    build_id = _build_id(index)
    current = _epochs(index)
    folds = fold_log(index.path)

    matched = index._matched_ids(terms, field)
    if ck_path.exists():
        state = json.loads(ck_path.read_text())
        if state.get("build_id") != build_id:
            raise ValueError(
                f"topic {topic_id!r}: index build_id changed "
                f"({state.get('build_id')!r} -> {build_id!r}) — the base "
                "was rewritten (upsert), so epoch "
                "bookkeeping no longer identifies new docs; delete the "
                "checkpoint and resubscribe (first poll re-delivers the "
                "full match set)")
        delivered = set(state.get("epochs", []))
        for folded in folds[state.get("folds", 0):]:
            lost = folded - delivered
            if lost:
                raise ValueError(
                    f"topic {topic_id!r}: compaction folded epoch(s) "
                    f"{sorted(lost)} into the base before this topic polled "
                    "them, so their docs no longer stand apart from the "
                    "base; delete the checkpoint and resubscribe (first "
                    "poll re-delivers the full match set)")
            # their dirs are gone, so a later epoch may reuse the ids
            delivered -= folded
        new = [e for e in current if e not in delivered]
        if not new:
            out = matched.limit(0)
        else:
            new_ids = (read_table(index.spark, index.path, "delta_doclen")
                       .filter(F.col("batch").isin(new))
                       .select("doc_id").distinct())
            out = matched.join(new_ids, "doc_id", "semi")
    else:
        out = matched
    # every epoch present is delivered now; an epoch a tier merge
    # removed re-delivers through the merged one
    state = {"build_id": build_id, "epochs": current, "folds": len(folds),
             "topic_id": topic_id}
    if fl:
        docs = read_table(index.spark, index.path, "docs")
        cols = [c for c in fl if c != "doc_id"]
        out = out.join(docs.select("doc_id", *cols), "doc_id", "left")
    ck_path.write_text(json.dumps(state))
    return out
