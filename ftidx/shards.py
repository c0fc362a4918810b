"""Sharded (distributed) search over independent index shards.

The reference delegates serving to a single Solr core; at 10^12 files
one core cannot hold the postings, so real deployments run SolrCloud
with ``shards=`` fan-out and a merge step. This module is that analog
for ftidx: N independently built indexes (disjoint corpus slices) are
queried as one.

Two-phase query, the pattern every distributed search engine uses
(SolrCloud ExactStatsCache, ES DFS_QUERY_THEN_FETCH):

1. **Stats phase** — per-term document frequency and per-field
   (n_docs, total_len) are gathered from every shard and summed into
   GLOBAL statistics. Scoring each shard with its *local* df/avgdl
   would make a doc's score depend on which shard it landed on;
   with global stats the ranking is layout-invariant (proved by
   ``tests/test_shards.py``: 2-shard merge == monolithic index,
   score-identical).
2. **Query phase** — each shard runs the same
   :class:`~ftidx.wand.ScorePlan` through its own executors
   (``FtIndex._score_plan(plan, k, stats=global)``: on the driver over
   its term cache, or per bucket beyond its driver-scoring budget)
   with the global idf/avgdl, returns its local top candidates, and
   the coordinator merge-sorts by (score DESC, shard, doc_id). The
   stats phase reads each shard's dfs where that shard scores the
   plan (``FtIndex._plan_dfs``), so a warm query runs no Spark job.

doc_ids are only unique *within* a shard (batch builds assign
``bucket<<40 | rank`` independently per build), so every result row
carries its shard ordinal; ``topk`` returns (shard, doc_id, score).

On a real cluster each phase is one scatter-gather RPC round; here the
"shards" share a driver but keep fully separate index directories,
caches and tombstone sets — nothing is shared except this wrapper.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ftidx.schema import read_table
from ftidx.wand import MUST, SHOULD, ScorePlan, bm25_idf


class FtShards:
    """Search handle over a list of :class:`ftidx.index.FtIndex`."""

    def __init__(self, shards: list):
        if not shards:
            raise ValueError("FtShards needs at least one shard")
        self.shards = list(shards)

    @classmethod
    def open(cls, spark, paths: list[str]) -> "FtShards":
        from ftidx.index import open_index

        return cls([open_index(spark, p) for p in paths])

    # -- phase 1: global statistics --------------------------------------
    def global_stats(self, field: str) -> tuple[int, float]:
        """(n_docs, avgdl) summed over shards — SolrCloud's exact
        distributed-idf statistics."""
        n_docs = 0
        total_len = 0.0
        for sh in self.shards:
            n, avgdl = sh.stats.get(field, (0, 1.0))
            n_docs += n
            total_len += n * avgdl
        return n_docs, (total_len / n_docs if n_docs else 1.0)

    def _plan_stats(self, plan: ScorePlan, routed: bool = False):
        """GLOBAL ({field: (n_docs, avgdl)}, {(field, term or class key):
        df}) for a plan — every shard's dfs, summed: the statistics
        every shard's executors score with (``stats=`` of
        :meth:`FtIndex._plan_df` and :meth:`FtIndex._score_plan`). A
        shard's dfs come from its df probe (``_bucket_dfs``) or, when
        ``routed``, from where it scores the plan (``_plan_dfs``)."""
        dfs: dict = {}
        for sh in self.shards:
            for key, d in (sh._plan_dfs(plan) if routed else sh._bucket_dfs(plan)).items():
                dfs[key] = dfs.get(key, 0) + d
        return {f: self.global_stats(f) for f in plan.terms_by_field()}, dfs

    def _score_pages(self, plan: ScorePlan, k: int) -> list[tuple[int, int, float]]:
        """Exact global top-k of ``plan`` as (shard, doc_id, score): each
        shard's live top-k under the global statistics (a superset of
        its share of the global top-k), merged by (score DESC, shard
        ASC, doc_id ASC)."""
        if k <= 0 or not plan.clauses:
            return []
        stats = self._plan_stats(plan, routed=True)
        merged = [(-sc, si, d) for si, sh in enumerate(self.shards)
                  for d, sc in sh._score_plan(plan, k, stats=stats)]
        merged.sort()
        return [(si, d, -sc) for sc, si, d in merged[:k]]

    # -- phase 2: score + merge ------------------------------------------
    def topk(self, terms: list[str], k: int = 10,
             field: str = "code.content", require_all: bool = False,
             ) -> list[tuple[int, int, float]]:
        """Global top-k as (shard, doc_id, score), scored with GLOBAL
        idf/avgdl so the ranking matches a monolithic index over the
        union corpus (ties broken score DESC, shard ASC, doc_id ASC —
        the one place shard layout shows: a monolithic build breaks the
        same-score tie by its own doc ids)."""
        return self._score_pages(
            ScorePlan.bag(terms, field, MUST if require_all else SHOULD), k)

    def count(self, terms: list[str], field: str = "code.content") -> int:
        """Total matching docs across shards (numFound): each shard's
        routed match count (``FtIndex._count_plan``), summed."""
        return sum(sh._count_plan(ScorePlan.bag(terms, field)) for sh in self.shards)

    def facet_counts(self, terms: list[str], facet: str = "lang",
                     k_facets: int = 20,
                     field: str = "code.content") -> list[tuple[str, int]]:
        """Distributed faceting (SolrCloud facet merge): each shard
        aggregates its OWN match set into a complete constraint list,
        the coordinator sums counts per value and applies the global
        (count DESC, value ASC) order and cut.

        Complete per-shard lists make the merge EXACT — Solr's facet
        refinement protocol exists only for the truncated-list regime
        (facet.limit pushed down, a value top-k on one shard but not
        another under-counts). Facet cardinality is bounded by the
        vocabulary of the facet column, not the corpus, so shipping
        full lists is the right trade until cardinality itself is huge
        — at that point push ``k_facets`` down per shard and accept
        Solr's same approximation (documented, not silent)."""
        from collections import Counter

        agg: Counter = Counter()
        for sh in self.shards:
            rows = sh.facet_counts(terms, facet=facet,
                                   k_facets=(1 << 31) - 1,
                                   field=field).collect()
            for r in rows:
                agg[r["value"]] += int(r["n_docs"])
        ranked = sorted(agg.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k_facets]

    # -- distributed vocabulary components --------------------------------
    def _merge_vocab(self, per_shard: list[list[tuple[str, int]]],
                     sort: str, limit: int) -> list[tuple[str, int]]:
        """SolrCloud TermsComponent merge: per-shard (term, df) lists
        summed at the coordinator, global order re-applied, cut last.
        Exact whenever each shard ships its COMPLETE constraint list
        for the predicate (prefix/pattern/range prune the vocabulary
        shard-side, so the lists are small); a pushed-down per-shard
        top-k would under-count terms hot on one shard only — the same
        refinement caveat as :meth:`facet_counts`."""
        agg: dict[str, int] = {}
        for rows in per_shard:
            for t, df in rows:
                agg[t] = agg.get(t, 0) + int(df)
        key = ((lambda kv: (-kv[1], kv[0])) if sort == "count"
               else (lambda kv: kv[0]))
        return sorted(agg.items(), key=key)[:limit]

    def terms_enum(self, field: str = "code.content",
                   prefix: str | None = None, regex: str | None = None,
                   mincount: int = 1, limit: int = 10,
                   sort: str = "count") -> list[tuple[str, int]]:
        """Distributed /terms: each shard enumerates its full matching
        vocabulary (no shard-side limit — exactness over wire size),
        dfs sum globally, ``mincount`` applies to the GLOBAL df (a term
        below mincount on every shard can still clear it summed)."""
        per = [sh.terms_enum(field=field, prefix=prefix, regex=regex,
                             mincount=1, limit=(1 << 31) - 1, sort=sort)
               for sh in self.shards]
        merged = self._merge_vocab(per, sort, (1 << 31) - 1)
        return [(t, df) for t, df in merged if df >= mincount][:limit]

    def suggest_terms(self, prefix: str, field: str = "code.content",
                      limit: int = 10,
                      infix: bool = False) -> list[tuple[str, int]]:
        """Distributed suggester: prefix completion ranked by GLOBAL
        df (df DESC, term ASC). ``infix=True`` mirrors the monolithic
        AnalyzingInfixSuggester rank (prefix hits before pure-infix
        hits, then global df) — per-shard matches are complete (the
        contains predicate prunes shard-side), dfs sum exactly
        because doc sets are disjoint across shards."""
        if not prefix:
            return []
        per = [sh.suggest_terms(prefix, field=field, limit=(1 << 31) - 1,
                                infix=infix)
               for sh in self.shards]
        if not infix:
            return self._merge_vocab(per, "count", limit)
        agg: dict[str, int] = {}
        for lst in per:
            for t, df in lst:
                agg[t] = agg.get(t, 0) + df
        ranked = sorted(agg.items(),
                        key=lambda kv: (0 if kv[0].startswith(prefix)
                                        else 1, -kv[1], kv[0]))
        return ranked[:limit]

    def wildcard_terms(self, pattern: str, field: str = "code.content",
                       limit: int = 50) -> list[tuple[str, int]]:
        """Distributed wildcard expansion: per-shard pattern matches
        (complete lists — the pattern prunes shard-side), global df
        ranking under the same top-terms-rewrite cap."""
        per = [sh.wildcard_terms(pattern, field=field,
                                 limit=(1 << 31) - 1)
               for sh in self.shards]
        return self._merge_vocab(per, "count", limit)

    def phonetic_terms(self, term: str, field: str = "code.content",
                       limit: int = 50) -> list[tuple[str, int]]:
        """Distributed phonetic expansion: per-shard soundex matches
        (complete lists — the soundex equality prunes shard-side; the
        code is a pure function of the term, so shards always agree),
        dfs summed, global (df DESC, term ASC) rank re-applied."""
        per = [sh.phonetic_terms(term, field=field, limit=(1 << 31) - 1)
               for sh in self.shards]
        return self._merge_vocab(per, "count", limit)

    def stem_terms(self, term: str, field: str = "code.content",
                   limit: int = 50, algo: str = "porter"
                   ) -> list[tuple[str, int]]:
        """Distributed stemming expansion: per-shard stem-class matches
        (complete lists — the stem is a pure function of the term, so
        shards always agree on class membership), dfs summed, global
        (df DESC, term ASC) rank re-applied."""
        per = [sh.stem_terms(term, field=field, limit=(1 << 31) - 1,
                             algo=algo)
               for sh in self.shards]
        return self._merge_vocab(per, "count", limit)

    def stem_topk(self, terms: list[str], k: int = 10,
                  field: str = "code.content", algo: str = "porter"
                  ) -> list[tuple[int, int, float]]:
        """Distributed stemmed BM25 (the sharded twin of
        :meth:`FtIndex.stem_topk`): each query term scores as the
        synonym group of its GLOBAL stem class (expansion via
        :meth:`stem_terms`, so shards agree on membership), idf from
        the group's GLOBAL df (docs in ANY shard containing ANY
        member — per-shard unique counts sum exactly because docs are
        disjoint across shards), tf summed across members inside the
        owning shard, global avgdl — per-doc scores equal the
        monolithic stem_topk on the union corpus (pinned in tests).
        One plan of class clauses, scored by every shard's executors.
        Returns (shard, doc_id, score)."""
        from ftidx.index import class_plan

        if k <= 0 or not terms:
            return []
        groups = {t: [w for w, _ in self.stem_terms(
            t, field=field, limit=(1 << 31) - 1, algo=algo)] or [t] for t in terms}
        return self._score_pages(class_plan(groups, field), k)

    def ltr_rerank(self, terms: list[str], model, k: int = 10,
                   rerank_docs: int = 100, field: str = "code.content"
                   ) -> list[tuple[int, int, float]]:
        """Distributed LTR rescoring (SolrCloud ``rq={!ltr}``): the
        GLOBAL top ``rerank_docs`` (scored with global idf/avgdl via
        :meth:`topk`) are rescored by ``model`` and reordered (model
        score DESC, shard ASC, doc_id ASC) above the original-order
        tail — LTRRescorer semantics, coordinator-side. Per-doc
        features come from the one feature store :meth:`FtIndex.ltr_rerank`
        reads (``index.ltr_features``), each plan filtered to the head
        docs the owning shard holds (every doc lives in exactly one
        shard) and scored there with GLOBAL stats, so each feature
        value — and therefore
        each model score — equals the monolithic
        :meth:`FtIndex.ltr_rerank` on the union corpus (pinned in
        tests). Returns (shard, doc_id, score) triples."""
        from ftidx.index import ltr_features

        if k <= 0 or not terms:
            return []
        base = self.topk(terms, k=int(rerank_docs) + int(k), field=field)
        if not base:
            return []
        n = min(int(rerank_docs), len(base))
        # the head grouped by shard: ltr_features' order
        head = sorted(base[:n])
        parts = [(sh, [d for s2, d, _ in head if s2 == si])
                 for si, sh in enumerate(self.shards)]
        mscore = model.score_np(ltr_features(
            model.features(), terms, field, parts,
            np.array([s for _, _, s in head], np.float64),
            lambda plan: self._plan_stats(plan, routed=True)))
        order = sorted(range(n), key=lambda i: (-mscore[i], head[i][0], head[i][1]))
        out = [(head[i][0], head[i][1], float(mscore[i])) for i in order]
        return (out + base[n:])[:k]

    def fuzzy_terms(self, term: str, field: str = "code.content",
                    max_dist: int = 1, limit: int = 10
                    ) -> list[tuple[str, int, int]]:
        """Distributed fuzzy expansion: per-shard edit-distance matches
        (complete lists — the length band + distance prune shard-side),
        dfs summed, the monolithic (distance ASC, df DESC, term ASC)
        rank re-applied globally. Distance is a pure function of the
        term pair, so shards always agree on it."""
        agg: dict[str, tuple[int, int]] = {}
        for sh in self.shards:
            for t, df, dist in sh.fuzzy_terms(term, field=field,
                                              max_dist=max_dist,
                                              limit=(1 << 31) - 1):
                prev = agg.get(t)
                agg[t] = (prev[0] + df if prev else df, dist)
        ranked = sorted(agg.items(),
                        key=lambda kv: (kv[1][1], -kv[1][0], kv[0]))
        return [(t, df, dist) for t, (df, dist) in ranked[:limit]]

    def spellcheck(self, terms: list[str], field: str = "code.content",
                   max_dist: int = 2) -> dict:
        """Distributed spellcheck: a term present on ANY shard maps to
        itself with its GLOBAL df; absent terms take the best global
        fuzzy correction (:meth:`fuzzy_terms` rank) — the SolrCloud
        spellcheck.collate merge. Each shard's dfs come from its df
        probe (one job per shard, none once cached)."""
        out = []
        changed = False
        pairs = [(field, t) for t in terms]
        dfs = [sh._term_dfs(pairs) for sh in self.shards]
        for t in terms:
            gdf = sum(d[(field, t)] for d in dfs)
            if gdf > 0:
                out.append((t, t, gdf, 0))
                continue
            cands = self.fuzzy_terms(t, field=field, max_dist=max_dist,
                                     limit=1)
            if cands:
                c, df, dist = cands[0]
                out.append((t, c, df, dist))
                changed = changed or c != t
            else:
                out.append((t, t, 0, 0))
        return {"terms": out,
                "collation": " ".join(c for _, c, _, _ in out),
                "changed": changed}

    def spellcheck_wordbreak(self, terms: list[str],
                             field: str = "code.content",
                             min_part_len: int = 2,
                             limit: int = 3) -> dict:
        """Distributed WordBreakSolrSpellChecker: the candidate set is
        a pure function of the query, so every shard resolves the SAME
        lookups (one df probe each), dfs sum exactly (disjoint doc
        sets), and the shared assembly ranks identically to the
        monolithic index — pinned by test."""
        from ftidx.index import assemble_wordbreak, wordbreak_candidates

        qs = [t.lower() for t in terms]
        pairs = [(field, t) for t in wordbreak_candidates(qs, min_part_len)]
        dfs: dict[str, int] = {}
        for sh in self.shards:
            for (_, t), df in sh._term_dfs(pairs).items():
                if df:
                    dfs[t] = dfs.get(t, 0) + df
        return assemble_wordbreak(qs, dfs, min_part_len, limit)

    # -- distributed analytics --------------------------------------------

    def significant_terms(self, terms: list[str],
                          field: str = "code.content", limit: int = 20,
                          min_doc_freq: float = 5.0,
                          max_doc_freq: float = 0.3,
                          min_term_length: int = 1):
        """Distributed significantTerms — EXACT, unlike Solr's
        distributed mode (which merges per-shard top candidates and
        can miss a term that is mid-ranked everywhere): each shard
        computes its full (term, fg_df, bg_df) aggregate (the same
        cogrouped blob intersection as the single-index path, no
        bounds applied shard-side), the partials union and sum in one
        vocabulary-sized shuffle, and bounds + JLH score + cut apply
        once with GLOBAL fg_n / bg_n. Returns the same
        (term, fg_df, bg_df, score) frame, layout-invariant (pinned
        by test: 2 shards == monolithic)."""
        from ftidx.index import _sig_score_cut

        parts, fg_n, bg_n = [], 0, 0
        for sh in self.shards:
            agg, n = sh._sig_aggregates(terms, field, min_term_length)
            parts.append(agg)
            fg_n += n
            bg_n += sh.stats.get(field, (0, 1.0))[0]
        spark = self.shards[0].spark
        if fg_n == 0 or bg_n == 0:
            return spark.createDataFrame(
                [], "term string, fg_df long, bg_df long, score double")
        uni = parts[0]
        for p in parts[1:]:
            uni = uni.unionByName(p)
        agg = uni.groupBy("term").agg(
            F.sum("fg_df").alias("fg_df"), F.sum("bg_df").alias("bg_df"))
        return _sig_score_cut(agg, fg_n, bg_n, limit,
                              min_doc_freq, max_doc_freq)

    def _scored_union(self, terms: list[str], field: str,
                      extra_cols: list):
        """Union of per-shard distributed scoring frames, every shard
        scored with GLOBAL idf/avgdl (the two-phase SolrCloud stats
        discipline — local stats would make a doc's score depend on
        its shard), each row tagged with its shard ordinal and joined
        to the named columns of its OWN docs table (ids are
        shard-local). The shared engine under the sharded
        :meth:`expand_topk` and :meth:`join_topk`."""
        plan = ScorePlan.bag(terms, field)
        stats = self._plan_stats(plan)
        frames = []
        for si, sh in enumerate(self.shards):
            docs = read_table(sh.spark, sh.path, "docs").select(
                "doc_id", *extra_cols)
            frames.append(
                sh._plan_df(plan, stats=stats)
                .join(docs, "doc_id")
                .withColumn("shard", F.lit(si)))
        uni = frames[0]
        for fr in frames[1:]:
            uni = uni.unionByName(fr)
        return uni

    def expand_topk(self, terms: list[str], group_col: str = "lang",
                    k: int = 10, expand_rows: int = 2,
                    field: str = "code.content"):
        """Distributed collapse + expand (Solr's collapse/expand under
        shards=): same semantics as FtIndex.expand_topk over the union
        corpus — global stats make per-doc scores shard-invariant
        (pinned by test), and the tie discipline extends the sharded
        rule: (score DESC, shard ASC, doc_id ASC). Returns the
        single-index frame plus the ``shard`` ordinal. The group
        window spans shards (one partitioned exchange of the match
        set), which is exactly what per-shard collapse cannot do —
        Solr documents collapse as unreliable when a group straddles
        shards; this path is exact."""
        from pyspark.sql import Window

        ranked = (
            self._scored_union(terms, field,
                               [F.col(group_col).alias("group_value")])
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("group_value").orderBy(
                    F.desc("score"), F.asc("shard"), F.asc("doc_id"))))
        )
        order = [F.desc("score"), F.asc("shard"), F.asc("doc_id")]
        head = Window.orderBy(*order)
        page = (ranked.filter(F.col("rn") == 1)
                .orderBy(*order).limit(k)
                .withColumn("hit_rank", F.row_number().over(head)))
        hits = page.select(
            "hit_rank", "group_value", F.lit("hit").alias("section"),
            F.lit(0).alias("member_rank"), "shard", "doc_id", "score")
        expand = (
            ranked.filter(
                (F.col("rn") >= 2) & (F.col("rn") <= expand_rows + 1))
            .join(F.broadcast(page.select("group_value", "hit_rank")),
                  "group_value")
            .select("hit_rank", "group_value",
                    F.lit("expand").alias("section"),
                    (F.col("rn") - 1).alias("member_rank"),
                    "shard", "doc_id", "score"))
        return hits.unionByName(expand)

    def parent_topk(self, terms: list[str], parent_col: str = "repo",
                    score_mode: str = "max", k: int = 10,
                    field: str = "code.content"):
        """Distributed {!parent} block join: parents ranked by the
        score-mode aggregate of their matching members across ALL
        shards — a parent whose members straddle shards aggregates
        correctly because the union happens BEFORE the groupBy (the
        one thing per-shard aggregation would get wrong; max/min/total
        would merge, avg would not). Global-stats scored; returns
        (parent, n_children, score) like the monolithic call."""
        return (
            self._parent_agg(terms, parent_col, score_mode, field)
            .withColumnRenamed("n_hits", "n_children")
            .orderBy(F.desc("score"), F.asc("parent"))
            .limit(k)
        )

    def _parent_agg(self, terms, parent_col, score_mode, field):
        aggs = {"max": F.max, "total": F.sum, "avg": F.avg, "min": F.min}
        if score_mode not in aggs:
            raise ValueError(f"score_mode must be one of {sorted(aggs)}")
        uni = self._scored_union(terms, field,
                                 [F.col(parent_col).alias("parent")])
        return (
            uni.groupBy("parent")
            .agg(F.count(F.lit(1)).alias("n_hits"),
                 aggs[score_mode]("score").alias("score"))
        )

    def child_topk(self, terms: list[str], parent_col: str = "repo",
                   score_mode: str = "max", k: int = 20,
                   field: str = "code.content"):
        """Distributed {!child} block join: every member doc of the
        matching parents across all shards, carrying the parent's
        cross-shard aggregate score. The parent frame (bounded by
        matching parents) broadcasts into each shard's docs scan;
        members surface regardless of which shard holds them.
        Returns (shard, doc_id, parent, n_hits, score)."""
        parents = self._parent_agg(terms, parent_col, score_mode, field)
        docs = None
        for si, sh in enumerate(self.shards):
            fr = (read_table(sh.spark, sh.path, "docs")
                  .select("doc_id", F.col(parent_col).alias("parent"))
                  .withColumn("shard", F.lit(si)))
            docs = fr if docs is None else docs.unionByName(fr)
        return (
            docs.join(F.broadcast(parents), "parent")
            .orderBy(F.desc("score"), F.asc("parent"),
                     F.asc("shard"), F.asc("doc_id"))
            .limit(k)
            .select("shard", "doc_id", "parent", "n_hits", "score")
        )

    def edismax(self, terms: list[str],
                qf: dict[str, float] | None = None, k: int = 10,
                tie: float = 0.0, mm: int = 0,
                bq: dict[str, float] | None = None,
                bf: str | None = None, boost: str | None = None):
        """The composed edismax request under shards= (SolrCloud's
        default parser): identical semantics to FtIndex.edismax over
        the union corpus — per-term dismax across qf fields, mm, bq,
        bf, boost — with every per-field statistic GLOBAL, so scores
        are shard-invariant (pinned by test). The same plan runs per
        bucket in every shard; bf/boost expressions evaluate against
        each doc's OWN shard's docs table (one union of column-pruned
        scans). Returns (shard, doc_id, score, final), tie discipline
        (final DESC, shard ASC, doc_id ASC)."""
        from ftidx.index import edismax_finish, edismax_plan

        plan = edismax_plan(terms, qf or {"code.content": 1.0}, tie, mm, bq)
        stats = self._plan_stats(plan)
        scored = docs = None
        for si, sh in enumerate(self.shards):
            fr = sh._plan_df(plan, stats=stats, base=True).withColumn(
                "shard", F.lit(si))
            scored = fr if scored is None else scored.unionByName(fr)
            if bf is not None or boost is not None:
                fr = read_table(sh.spark, sh.path, "docs").withColumn(
                    "shard", F.lit(si))
                docs = fr if docs is None else docs.unionByName(fr)
        return edismax_finish(scored, docs, ["shard", "doc_id"], bf, boost, k)

    def join_topk(self, inner_terms: list[str], outer_terms: list[str],
                  k: int = 10, join_col: str = "repo",
                  field: str = "code.content"):
        """Distributed join query ({!join} under shards=): the inner
        match set reduces to distinct join keys PER SHARD and the key
        union broadcasts into every shard's outer scoring — exact
        across shards (a doc joins on a key discovered in ANY shard),
        unlike Solr's {!join}, which is node-local under SolrCloud
        unless the from-collection is replicated everywhere; the
        broadcast of the distinct-key frame is this module's version
        of that replication, sized by distinct keys, not docs.
        Returns (shard, doc_id, join_col, score), global-stats scored,
        tie discipline (score DESC, shard ASC, doc_id ASC)."""
        parts = []
        for sh in self.shards:
            docs = read_table(sh.spark, sh.path, "docs")
            parts.append(
                docs.join(sh._matched_ids(inner_terms, field), "doc_id")
                .select(join_col))
        keys = parts[0]
        for p in parts[1:]:
            keys = keys.unionByName(p)
        keys = keys.distinct()
        outer = self._scored_union(outer_terms, field, [join_col])
        return (
            outer.join(F.broadcast(keys), join_col)
            .orderBy(F.desc("score"), F.asc("shard"), F.asc("doc_id"))
            .limit(k)
            .select("shard", "doc_id", join_col, "score")
        )

    def export(self, terms: list[str], sort: str, fl: list[str],
               field: str = "code.content"):
        """Distributed sorted export (Solr /export with shards=): each
        shard contributes its UNSORTED projected match frame (ids are
        shard-local, so a ``shard`` ordinal column is always
        prepended), the union makes ONE range-partitioned total sort —
        sorting per shard first would only duplicate work the global
        sort redoes. Tie discipline extends the single-index rule:
        (sort keys, shard ASC, doc_id ASC)."""
        from ftidx.index import _parse_sort_keys

        keys = _parse_sort_keys(sort)
        if not fl:
            raise ValueError("export requires fl= (Solr /export "
                             "contract)")
        frames = []
        for si, sh in enumerate(self.shards):
            frames.append(
                read_table(sh.spark, sh.path, "docs")
                .join(sh._matched_ids(terms, field), "doc_id")
                .withColumn("shard", F.lit(si)))
        uni = frames[0]
        for fr in frames[1:]:
            uni = uni.unionByName(fr)
        cols = ["shard"] + [c for c in fl if c != "shard"]
        return (uni.orderBy(*keys, F.asc("shard"), F.asc("doc_id"))
                .select(*cols))

    def knn(self, vector: list[float], k: int = 10,
            terms: list[str] | None = None,
            field: str = "code.content") -> list[tuple[int, int, float]]:
        """Distributed dense-vector top-k (SolrCloud knn scatter-
        gather): each shard returns its local k nearest over its OWN
        attached vector table (cosine is per-vector — no global
        statistics needed, so unlike BM25 there is no stats phase),
        the coordinator merge-sorts the ≤ n_shards·k candidates by
        (cosine DESC, shard ASC, doc_id ASC) and cuts at k — exact,
        the textbook top-k merge property. Returns
        (shard, doc_id, cosine) rows; every shard must have vectors
        attached (ValueError names the first one that has not)."""
        if k <= 0:
            return []
        merged = []
        for si, sh in enumerate(self.shards):
            if getattr(sh, "_vectors", None) is None:
                raise ValueError(
                    f"shard {si} has no vectors attached — call "
                    "attach_vectors on every shard first")
            for r in sh.knn(vector, k=k, terms=terms,
                            field=field).collect():
                merged.append((-float(r["cosine"]), si, int(r["doc_id"])))
        merged.sort()
        return [(si, d, -negc) for negc, si, d in merged[:k]]

    def facet_range(self, terms: list[str], facet: str,
                    start: float = 0, end: float = 1 << 30,
                    gap: float = 100, field: str = "code.content"
                    ) -> list[tuple[float, int]]:
        """Distributed range faceting: bucket boundaries are a pure
        function of (start, gap), so shards always agree on bucket
        identity — the coordinator just sums per-bucket counts
        (complete lists, bucket cardinality = (end-start)/gap, exact
        like facet_counts' merge). Returns ordered
        (bucket_start, n_docs), empty buckets omitted."""
        from collections import Counter

        agg: Counter = Counter()
        for sh in self.shards:
            for r in sh.facet_range(terms, facet=facet, start=start,
                                    end=end, gap=gap,
                                    field=field).collect():
                agg[float(r["bucket_start"])] += int(r["n_docs"])
        return sorted(agg.items())

    def facet_range_date(self, terms: list[str], start: str, end: str,
                         gap: str, facet: str = "modified",
                         field: str = "code.content"):
        """Distributed date range faceting — same agreement argument
        as :meth:`facet_range` (bucket starts derive from the shared
        (start, gap) date math), summed at the coordinator. Returns
        ordered (bucket_start datetime, n_docs)."""
        from collections import Counter

        agg: Counter = Counter()
        for sh in self.shards:
            for r in sh.facet_range_date(terms, start, end, gap,
                                         facet=facet,
                                         field=field).collect():
                agg[r["bucket_start"]] += int(r["n_docs"])
        return sorted(agg.items())

    def match_stats(self, terms: list[str], stat_col: str = "lang",
                    field: str = "code.content",
                    cardinality: bool = False, rsd: float = 0.01):
        """Distributed stats component (Solr stats.field over
        shards=…): every shard contributes its PROJECTED match frame
        (just the stat expression's column, evaluated shard-side with
        that shard's match set) and ONE aggregation runs over the
        union — which is why n_values stays the EXACT distinct count:
        per-shard distinct counts don't merge (the same value on two
        shards would double-count), but the unioned value stream
        feeds a single count_distinct. count/min/max/HLL would merge
        fine either way; the union costs the same single job and
        keeps every metric exact. Mirrors FtIndex.match_stats'
        output schema exactly."""
        import pyspark.sql.functions as F

        frames = []
        for sh in self.shards:
            matched = sh._matched_ids(terms, field)
            docs = read_table(sh.spark, sh.path, "docs")
            frames.append(
                docs.join(matched, "doc_id")
                .select(F.expr(stat_col).alias("_v")))
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        c = F.col("_v")
        aggs = [
            F.count(F.lit(1)).alias("n_matched"),
            F.count_distinct(c).alias("n_values"),
            F.min(c).alias("min_value"),
            F.max(c).alias("max_value"),
        ]
        if cardinality:
            aggs.append(F.approx_count_distinct(c, rsd=rsd)
                        .alias("cardinality"))
        return u.agg(*aggs)
    def topk_frange(self, terms, func, k=10, l=None, u=None,  # noqa: E741
                    incl_l=True, incl_u=True,
                    field="code.content", now_ms=None):
        """Sharded ``{!frange}`` (:meth:`FtIndex.topk_frange` over
        SolrCloud shards): the function-query FILTER evaluates on each
        shard's own docs/postings (per-doc facts are shard-local truth),
        corpus scalars resolve globally via :class:`_ShardsFQProvider`,
        and scoring uses global idf/avgdl — pinned per-doc identical to
        the monolithic index. Returns (shard, doc_id, score, fval) ranked
        (score DESC, shard ASC, doc_id ASC)."""
        from ftidx import funcquery as FQ

        if l is None and u is None:
            raise ValueError("frange needs l= and/or u=")
        plan = ScorePlan.bag(terms, field)
        stats = self._plan_stats(plan)
        cache: dict = {}
        frames = []
        for si, sh in enumerate(self.shards):
            prov = _ShardsFQProvider(sh, field, now_ms, self, cache)
            resolved = FQ.resolve(FQ.parse(func), prov, now_ms)
            val_sql = FQ.compile_spark(resolved, now_ms)
            docs = read_table(sh.spark, sh.path, "docs")
            for col_name, frame in prov.join_frames:
                docs = docs.join(frame, "doc_id", "left").withColumn(
                    col_name, F.coalesce(F.col(col_name), F.lit(0.0)))
            val = F.expr(val_sql).cast("double")
            cond = F.lit(True)
            if l is not None:
                cond = cond & (val >= float(l) if incl_l else val > float(l))
            if u is not None:
                cond = cond & (val <= float(u) if incl_u else val < float(u))
            keep = (docs.withColumn("fval", val).filter(cond)
                    .select("doc_id", "fval"))
            frames.append(
                sh._plan_df(plan, stats=stats)
                .join(keep, "doc_id")
                .withColumn("shard", F.lit(si)))
        uni = frames[0]
        for fr in frames[1:]:
            uni = uni.unionByName(fr)
        return (uni.orderBy(F.desc("score"), F.asc("shard"), F.asc("doc_id"))
                .limit(k).select("shard", "doc_id", "score", "fval"))



class _ShardsFQProvider:
    """Function-query resolution for the SHARDED surface: per-doc
    splices (termfreq/norm) come from the doc's OWN shard — a doc's
    postings and doclen live in exactly one shard, so shard-local
    frames are already the global truth — while every CORPUS-level
    scalar (docfreq / idf / ttf / maxdoc / numdocs, scale() bounds)
    computes ACROSS all shards (the SolrCloud ExactStatsCache
    discipline the sharded BM25 path already follows), memoized in a
    cache shared by every shard's resolution pass so N shards pay for
    each global statistic once."""

    def __init__(self, shard_idx, default_field: str, now_ms,
                 shards: "FtShards", cache: dict):
        from ftidx.index import _FuncQueryProvider

        self._local = _FuncQueryProvider(shard_idx, default_field, now_ms)
        self._shards = shards
        self._cache = cache
        self.default_field = default_field
        self.now_ms = now_ms

    @property
    def join_frames(self):
        return self._local.join_frames

    def termfreq_column(self, field: str, term: str):
        return self._local.termfreq_column(field, term)

    def norm_column(self, field: str):
        return self._local.norm_column(field)

    def scalar(self, call) -> float:
        from ftidx import funcquery as FQ
        from ftidx.index import _FuncQueryProvider

        key = ("scalar", call.name, str(call.args))
        if key in self._cache:
            return self._cache[key]
        if call.name in ("maxdoc", "numdocs"):
            n_docs, _ = self._shards.global_stats(self.default_field)
            v = float(n_docs)
        elif call.name in ("docfreq", "idf"):
            df_call = FQ.Call("docfreq", call.args)
            df_g = sum(
                _FuncQueryProvider(sh, self.default_field,
                                   self.now_ms).scalar(df_call)
                for sh in self._shards.shards)
            if call.name == "docfreq":
                v = float(df_g)
            elif df_g <= 0:
                v = 0.0
            else:
                n_docs, _ = self._shards.global_stats(call.args[0].name)
                v = float(bm25_idf(n_docs, int(df_g)))
        else:  # ttf: per-shard totals sum exactly
            v = sum(
                _FuncQueryProvider(sh, self.default_field,
                                   self.now_ms).scalar(call)
                for sh in self._shards.shards)
        self._cache[key] = v
        return v

    def minmax(self, x_node):
        from ftidx import funcquery as FQ
        from ftidx.index import _FuncQueryProvider

        key = ("minmax", FQ.compile_spark(x_node, self.now_ms))
        if key in self._cache:
            return self._cache[key]
        mns, mxs = [], []
        for sh in self._shards.shards:
            mn, mx = _FuncQueryProvider(
                sh, self.default_field, self.now_ms).minmax(x_node)
            mns.append(mn)
            mxs.append(mx)
        v = (min(mns), max(mxs))
        self._cache[key] = v
        return v
