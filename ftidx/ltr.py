"""Learning-to-rank (Solr LTR contrib parity: feature store, model
store, ``rq={!ltr model=... reRankDocs=N}`` rescoring).

Solr's LTR plugin defines named features (SolrFeature = any query's
score, FieldLengthFeature, ValueFeature, OriginalScoreFeature) in a
feature store, uploads a trained model — LinearModel or
MultipleAdditiveTreesModel — and rescores the top ``reRankDocs`` of
the main query with it (LTRRescorer). Solr does NOT train; training
happens offline. This module provides all three layers Spark-first:

- **Feature logging** (:func:`document_features`) — the corpus-wide
  feature frame (Solr ``fl=[features]`` logging): BM25 over the query
  terms, matched-term count, doc length, log-chars, lang flag. Pure
  DataFrame ops (one explode + two aggs), LEFT-joined so unmatched
  docs log zeros, every float rounded to 5 so the DuckDB oracle twin
  is value-identical.
- **Models** — :class:`LinearModel` and :class:`TreesModel`, each with
  THREE evaluation twins generated from the same structure: a Spark
  codegen Column (``score_col``), a DuckDB SQL expression
  (``score_sql``; nested CASE for trees), and a numpy kernel
  (``score_np``) for the driver-side serving path. One definition,
  three engines, byte-identical arithmetic order.
- **Training** (:func:`train_linear`) — closed-form ridge regression
  via the normal equations: ONE map-side aggregation computes the
  d(d+3)/2 + 2 scalar sums of X^T X / X^T y (d = |features|, single
  corpus pass, no shuffle beyond the final scalar agg), solved
  driver-side with numpy. Scales to any corpus size at fixed d.
- **Serving** — ``FtIndex.ltr_rerank`` / ``FtShards.ltr_rerank``
  (ftidx/index.py, ftidx/shards.py): the main query's top
  ``reRankDocs`` candidates get model scores over features from one
  feature store (``index.ltr_features``: plans filtered to the head, routed
  by the df probe like ``topk``, and ``dl`` from doclen), reordered
  LTRRescorer-style — the rescored head always precedes the
  original-order tail.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


# --------------------------------------------------------------------------
# models
# --------------------------------------------------------------------------

class LinearModel:
    """Solr LinearModel: score = Σ w_f · feature_f, weights iterated in
    insertion order so all three twins add in the same sequence (IEEE
    doubles: same order ⇒ same bits ⇒ same round(…, 5))."""

    def __init__(self, weights: dict[str, float]):
        if not weights:
            raise ValueError("LinearModel needs at least one weight")
        self.weights = dict(weights)

    def score_col(self) -> Column:
        it = iter(self.weights.items())
        f0, w0 = next(it)
        col = F.col(f0) * F.lit(float(w0))
        for f, w in it:
            col = col + F.col(f) * F.lit(float(w))
        return col

    def score_sql(self) -> str:
        # ::DOUBLE on every literal — DuckDB parses bare float literals
        # as DECIMAL and would fold w1*w2 exactly instead of in IEEE
        # doubles, breaking bit-identity with the codegen/numpy twins
        return " + ".join(f"({f} * ({float(w)!r})::DOUBLE)"
                          for f, w in self.weights.items())

    def score_np(self, feats: dict[str, np.ndarray]) -> np.ndarray:
        it = iter(self.weights.items())
        f0, w0 = next(it)
        out = feats[f0].astype(np.float64) * float(w0)
        for f, w in it:
            out = out + feats[f].astype(np.float64) * float(w)
        return out

    def features(self) -> set[str]:
        return set(self.weights)


@dataclass(frozen=True)
class Tree:
    """One regression-tree node (Solr MultipleAdditiveTreesModel):
    internal nodes split ``feature < threshold`` → left else right;
    leaves carry ``value``."""
    feature: str | None = None
    threshold: float = 0.0
    left: "Tree | None" = None
    right: "Tree | None" = None
    value: float = 0.0

    @property
    def is_leaf(self) -> bool:
        return self.feature is None


class TreesModel:
    """Solr MultipleAdditiveTreesModel: score = Σ tree_weight ·
    tree(x). Same three generated twins as LinearModel; the SQL twin
    is a nested CASE per tree, summed in tree order."""

    def __init__(self, trees: list[tuple[float, Tree]]):
        if not trees:
            raise ValueError("TreesModel needs at least one tree")
        self.trees = [(float(w), t) for w, t in trees]

    def _tree_col(self, node: Tree) -> Column:
        if node.is_leaf:
            return F.lit(float(node.value))
        return F.when(F.col(node.feature) < F.lit(float(node.threshold)),
                      self._tree_col(node.left)) \
                .otherwise(self._tree_col(node.right))

    def score_col(self) -> Column:
        cols = [F.lit(float(w)) * self._tree_col(t) for w, t in self.trees]
        out = cols[0]
        for c in cols[1:]:
            out = out + c
        return out

    def _tree_sql(self, node: Tree) -> str:
        if node.is_leaf:
            return f"({float(node.value)!r})::DOUBLE"
        return (f"CASE WHEN {node.feature} < "
                f"({float(node.threshold)!r})::DOUBLE "
                f"THEN {self._tree_sql(node.left)} "
                f"ELSE {self._tree_sql(node.right)} END")

    def score_sql(self) -> str:
        # ::DOUBLE everywhere for the same DECIMAL-folding reason as
        # LinearModel.score_sql
        return " + ".join(f"(({float(w)!r})::DOUBLE * {self._tree_sql(t)})"
                          for w, t in self.trees)

    def _tree_np(self, node: Tree, feats: dict[str, np.ndarray],
                 n: int) -> np.ndarray:
        if node.is_leaf:
            return np.full(n, float(node.value))
        cond = feats[node.feature].astype(np.float64) < float(node.threshold)
        return np.where(cond, self._tree_np(node.left, feats, n),
                        self._tree_np(node.right, feats, n))

    def score_np(self, feats: dict[str, np.ndarray]) -> np.ndarray:
        n = len(next(iter(feats.values())))
        out = np.zeros(n, np.float64)
        for w, t in self.trees:
            out = out + float(w) * self._tree_np(t, feats, n)
        return out

    def features(self) -> set[str]:
        out: set[str] = set()

        def walk(node: Tree) -> None:
            if not node.is_leaf:
                out.add(node.feature)
                walk(node.left)
                walk(node.right)

        for _, t in self.trees:
            walk(t)
        return out


# --------------------------------------------------------------------------
# model store JSON (Solr uploads models to /schema/model-store as JSON:
# {"class": "...LinearModel", "params": {"weights": {...}}} /
# {"class": "...MultipleAdditiveTreesModel", "params": {"trees": [
#   {"weight": w, "root": {"feature": f, "threshold": t,
#                          "left": {...}, "right": {"value": v}}}]}})
# --------------------------------------------------------------------------

def model_from_json(obj: dict):
    """Parse a Solr-shaped model-store JSON dict into a LinearModel or
    TreesModel. Raises ValueError on unknown class or malformed trees
    (the 400 path of the /ltr route)."""
    if not isinstance(obj, dict):
        raise ValueError("model must be a JSON object")
    cls = str(obj.get("class", ""))
    params = obj.get("params")
    if not isinstance(params, dict):
        raise ValueError("model needs a params object")
    if cls.endswith("LinearModel") or cls == "linear":
        weights = params.get("weights")
        if not isinstance(weights, dict) or not weights:
            raise ValueError("LinearModel params.weights must be a "
                             "non-empty object")
        return LinearModel({str(f): float(w) for f, w in weights.items()})
    if cls.endswith("MultipleAdditiveTreesModel") or cls == "trees":
        trees = params.get("trees")
        if not isinstance(trees, list) or not trees:
            raise ValueError("TreesModel params.trees must be a "
                             "non-empty array")

        def node(d) -> Tree:
            if not isinstance(d, dict):
                raise ValueError("tree node must be an object")
            if "value" in d:
                return Tree(value=float(d["value"]))
            if not all(k in d for k in ("feature", "threshold",
                                        "left", "right")):
                raise ValueError("internal node needs feature/threshold/"
                                 "left/right")
            return Tree(str(d["feature"]), float(d["threshold"]),
                        node(d["left"]), node(d["right"]))

        return TreesModel([(float(t.get("weight", 1.0)), node(t["root"]))
                           for t in trees])
    raise ValueError(f"unknown model class {cls!r}")


def model_to_json(model) -> dict:
    """Serialize a model back to the Solr model-store JSON shape
    (round-trips with :func:`model_from_json`)."""
    if isinstance(model, LinearModel):
        return {"class": "org.apache.solr.ltr.model.LinearModel",
                "params": {"weights": dict(model.weights)}}
    if isinstance(model, TreesModel):
        def node(t: Tree) -> dict:
            if t.is_leaf:
                return {"value": t.value}
            return {"feature": t.feature, "threshold": t.threshold,
                    "left": node(t.left), "right": node(t.right)}

        return {"class":
                "org.apache.solr.ltr.model.MultipleAdditiveTreesModel",
                "params": {"trees": [{"weight": w, "root": node(t)}
                                     for w, t in model.trees]}}
    raise ValueError(f"not an LTR model: {type(model).__name__}")


# --------------------------------------------------------------------------
# feature logging (flat DataFrame path)
# --------------------------------------------------------------------------

def document_features(docs: DataFrame, terms: list[str],
                      k1: float = K1, b: float = B) -> DataFrame:
    """Corpus-wide feature frame (Solr feature logging,
    ``fl=[features store=...]``) over the documents table
    (doc_id, text, lang, n_chars):

    - ``f_bm25``  — BM25 score over ``terms`` (0.0 when unmatched)
    - ``f_matched`` — number of distinct query terms present
    - ``f_dl``    — token count (FieldLengthFeature)
    - ``f_logchars`` — ln(1 + n_chars) (ValueFeature over a stored
      numeric field)
    - ``f_lang_en``  — 1.0 if lang = 'en' (a categorical ValueFeature)

    One explode + two map-side-combinable aggs + broadcast stats; the
    corpus shuffles once on doc_id. Floats rounded to 5 so the DuckDB
    twin hashes identically."""
    tok = (docs.select("doc_id",
                       F.explode(F.split(F.lower("text"),
                                         "[^a-z0-9_]+")).alias("term"))
           .filter(F.col("term") != ""))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("f_dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   (F.sum("f_dl") / F.count(F.lit(1)))
                   .cast("double").alias("avgdl"))
    m = tf.filter(F.col("term").isin(list(terms)))
    dfreq = m.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    contrib = idf * F.col("tf") * F.lit(k1 + 1.0) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b)
                                   + F.lit(b) * F.col("f_dl") / F.col("avgdl")))
    scored = (m.join(F.broadcast(dfreq), "term")
              .join(dl, "doc_id").crossJoin(F.broadcast(stats))
              .withColumn("contrib", contrib)
              .groupBy("doc_id")
              .agg(F.round(F.sum("contrib"), 5).alias("f_bm25"),
                   F.countDistinct("term").cast("double").alias("f_matched")))
    return (docs.select("doc_id", "lang", "n_chars")
            .join(dl, "doc_id", "left")
            .join(scored, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("f_bm25", F.lit(0.0)).alias("f_bm25"),
                F.coalesce("f_matched", F.lit(0.0)).alias("f_matched"),
                F.coalesce(F.col("f_dl").cast("double"),
                           F.lit(0.0)).alias("f_dl"),
                F.round(F.log(F.lit(1.0) + F.col("n_chars")), 5)
                .alias("f_logchars"),
                F.when(F.col("lang") == "en", F.lit(1.0))
                .otherwise(F.lit(0.0)).alias("f_lang_en"),
            ))


def features_sql(terms: list[str], k1: float = K1, b: float = B) -> str:
    """DuckDB CTE twin of :func:`document_features` — same tokenizer
    split, same BM25 arithmetic, same rounds; yields a ``feats`` CTE
    body (caller wraps in WITH)."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
tok AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9_]+')) AS term
    FROM documents
  ) WHERE term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS f_dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, sum(f_dl)::DOUBLE / count(*) AS avgdl FROM dl),
m AS (SELECT * FROM tf WHERE term IN ({in_list})),
dfreq AS (SELECT term, count(*) AS df FROM m GROUP BY term),
scored AS (
  SELECT m.doc_id,
         round(sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * m.tf * {k1 + 1.0!r}
                   / (m.tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl.f_dl / s.avgdl))), 5)
           AS f_bm25,
         count(DISTINCT m.term)::DOUBLE AS f_matched
  FROM m JOIN dfreq d USING (term) JOIN dl USING (doc_id)
       CROSS JOIN stats s
  GROUP BY m.doc_id
),
feats AS (
  SELECT d.doc_id,
         coalesce(s.f_bm25, 0.0) AS f_bm25,
         coalesce(s.f_matched, 0.0) AS f_matched,
         coalesce(dl.f_dl::DOUBLE, 0.0) AS f_dl,
         round(ln(1.0 + d.n_chars), 5) AS f_logchars,
         CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS f_lang_en
  FROM documents d
  LEFT JOIN dl USING (doc_id)
  LEFT JOIN scored s ON s.doc_id = d.doc_id
)"""


def round5(col: Column) -> Column:
    """Deterministic 5-decimal round for the MODEL SCORE: features are
    already rounded to 5 decimals and weights/leaf values are short
    decimals, so the score lands on exact decimal half-boundaries at
    digit 6 SYSTEMATICALLY — where Spark's round(x, 5) (HALF_UP on the
    shortest decimal repr, BigDecimal.valueOf) and DuckDB's round
    (binary value) disagree by 1e-5.  Scaling to integer magnitude
    first makes the tie representable: x·1e5 at a true decimal tie IS
    exactly N.5 in binary (|N| < 2^51), and round-to-integer of N.5 is
    half-away-from-zero in BOTH engines.  round5_sql/round5_np are the
    oracle/serving twins — one definition, three dialects."""
    return F.round(col * F.lit(1e5)) / F.lit(1e5)


def round5_sql(expr: str) -> str:
    return f"(round(({expr}) * 100000.0) / 100000.0)"


def round5_np(x: np.ndarray) -> np.ndarray:
    y = np.asarray(x, dtype=np.float64) * 1e5
    return np.copysign(np.floor(np.abs(y) + 0.5), y) / 1e5


def score_features(feats: DataFrame, model, out: str = "ltr_score") -> DataFrame:
    """Apply a model to a feature frame — one codegen expression, the
    Solr rescoring arithmetic run corpus-wide (feature-logging mode)."""
    return feats.withColumn(out, round5(model.score_col()))


# --------------------------------------------------------------------------
# training — closed-form ridge, one distributed pass
# --------------------------------------------------------------------------

def train_linear(feats: DataFrame, label_col: str,
                 feature_cols: list[str], l2: float = 0.0,
                 intercept: bool = True) -> tuple[LinearModel, float]:
    """Fit ridge regression by the normal equations. The ONLY
    distributed work is one aggregation of d(d+3)/2 + 2 scalar sums
    (Σ f_i f_j for i ≤ j, Σ f_i y, Σ y, n) — map-side combined, a
    few hundred bytes to the driver at any corpus size; the (d+1)²
    solve is numpy. Returns (LinearModel, intercept)."""
    d = len(feature_cols)
    if d == 0:
        raise ValueError("need at least one feature column")
    aggs = []
    for i in range(d):
        for j in range(i, d):
            aggs.append(F.sum(F.col(feature_cols[i])
                              * F.col(feature_cols[j])).alias(f"xx_{i}_{j}"))
        aggs.append(F.sum(F.col(feature_cols[i])
                          * F.col(label_col)).alias(f"xy_{i}"))
        aggs.append(F.sum(F.col(feature_cols[i])).alias(f"sx_{i}"))
    aggs += [F.sum(F.col(label_col)).alias("sy"),
             F.count(F.lit(1)).alias("n")]
    row = feats.agg(*aggs).collect()[0]

    n = float(row["n"])
    dim = d + (1 if intercept else 0)
    A = np.zeros((dim, dim))
    v = np.zeros(dim)
    for i in range(d):
        for j in range(i, d):
            A[i, j] = A[j, i] = float(row[f"xx_{i}_{j}"])
        v[i] = float(row[f"xy_{i}"])
        A[i, i] += float(l2)
    if intercept:
        for i in range(d):
            A[i, d] = A[d, i] = float(row[f"sx_{i}"])
        A[d, d] = n
        v[d] = float(row["sy"])
    w = np.linalg.solve(A, v)
    model = LinearModel({feature_cols[i]: float(w[i]) for i in range(d)})
    return model, (float(w[d]) if intercept else 0.0)
