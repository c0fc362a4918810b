"""Text-analysis operators for training-data curation: token counting,
quality scoring, language ID, document fingerprinting.

All pure DataFrame compositions (codegen'd, shuffle only where an agg
needs one); formulas use round() so the DuckDB oracle reproduces the
doubles exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT = "[^a-z0-9_]+"

# word-level language markers (the n-gram-profile approach at word
# granularity; deterministic + oracle-portable)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and"],
    "es": ["el", "la", "de", "y"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "la", "et", "les"],
}


def fold_text(docs: DataFrame, text_col: str = "text",
              out_col: str | None = None) -> DataFrame:
    """ASCII-fold a text column (Solr ASCIIFoldingFilterFactory as a
    corpus-normalization stage — the standard unicode-cleanup step a
    training pipeline runs BEFORE tokenization, so "café"/"cafe"
    variants collapse). Pure per-row codegen (ftidx.fold's translate +
    replace chain, no UDF, zero exchanges); ``out_col=None`` replaces
    the column in place."""
    from ftidx.fold import fold_expr

    return docs.withColumn(out_col or text_col,
                           fold_expr(F.col(text_col)))


def _tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT)).alias("term"),
        )
        .filter(F.col("term") != "")
    )


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens vs regex word tokens vs BPE-ish subword count
    (every run of ≤4 chars counts — a cheap proxy for byte-pair units:
    ceil(len/4) per word)."""
    ws = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != ""))
    words = F.filter(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT), lambda x: x != "")
    bpe = F.aggregate(
        words, F.lit(0), lambda acc, wd: acc + F.ceil(F.length(wd) / F.lit(4.0)).cast("int")
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        ws.alias("n_ws_tokens"),
        F.size(words).alias("n_word_tokens"),
        bpe.alias("n_bpe_tokens"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality heuristics: length, mean word length, distinct-token
    ratio, alnum ratio; combined score in [0, 1] (rounded)."""
    tok = _tokens(docs, text_col, id_col)
    stats = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("term").alias("n_uniq"),
        F.round(F.avg(F.length("term")), 5).alias("avg_token_len"),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).alias("n_chars"),
        F.length(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
        ).alias("_alnum_chars"),
    )
    j = base.join(stats, "doc_id", "left").fillna(
        {"n_tokens": 0, "n_uniq": 0, "avg_token_len": 0.0}
    )
    uniq_ratio = F.col("n_uniq") / F.greatest(F.col("n_tokens"), F.lit(1))
    # composite = 0.4·min(t,64)/64 + 0.3·u/t + 0.3·a/c, computed as ONE
    # division of exact integers (num/den over common denominator
    # 640·t·c) — a float sum of three rounded ratios differs between
    # engines by 1 ulp often enough to flip round(...,5) at scale
    # (observed at sf0.1), while a single BIGINT/BIGINT division is
    # IEEE-identical everywhere
    t = F.greatest(F.col("n_tokens"), F.lit(1)).cast("long")
    c = F.greatest(F.col("n_chars"), F.lit(1)).cast("long")
    u = F.col("n_uniq").cast("long")
    a = F.col("_alnum_chars").cast("long")
    m = F.least(F.col("n_tokens"), F.lit(64)).cast("long")
    num = F.lit(4) * m * t * c + F.lit(192) * u * c + F.lit(192) * a * t
    den = F.lit(640) * t * c
    # round-half-up at 5 decimals in INTEGER arithmetic: num/den can
    # land exactly on .xxxxx5 (it did: 1975680/3072000 = 0.643125) and
    # there Spark's round (decimal-string HALF_UP) and DuckDB's
    # (binary-double round) disagree; (num·10⁵ + den/2) div den is
    # exact and engine-identical (den is always even; fits long for
    # docs up to ~10⁶ chars × 5·10⁵ tokens)
    alnum_ratio = F.round(a.cast("double") / c.cast("double"), 5)
    j = j.withColumn("_qnum", num * F.lit(100_000) + (den / F.lit(2)).cast("long")) \
         .withColumn("_qden", den)
    score = (F.expr("_qnum div _qden").cast("double") / F.lit(100_000.0))
    return j.select(
        "doc_id", "n_chars", "n_tokens", "n_uniq", "avg_token_len",
        alnum_ratio.alias("alnum_ratio"),
        F.round(uniq_ratio, 5).alias("uniq_ratio"), score.alias("quality"),
    )


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-word language ID: argmax of marker hits per language,
    ties → lexicographically smaller lang, no hits → 'und'."""
    spark = docs.sparkSession
    markers = spark.createDataFrame(
        [(lang, m) for lang, ms in LANG_MARKERS.items() for m in ms],
        "cand_lang string, term string",
    )
    tok = _tokens(docs, text_col, id_col)
    hits = (
        tok.join(F.broadcast(markers), "term")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("cand_lang"))
    best = (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand_lang").alias("pred_lang"), "hits")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(best, "doc_id", "left")
        .fillna({"pred_lang": "und", "hits": 0})
    )


def fingerprints(docs: DataFrame, prefix_tokens: int = 8,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints: md5 of token-normalized text (whitespace/
    case canonicalized) + md5 of the first-k-token prefix (cheap
    rolling-hash analog for container-level dedup)."""
    words = F.filter(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT), lambda x: x != "")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.array_join(words, " ")).alias("fp_full"),
        F.md5(F.array_join(F.slice(words, 1, prefix_tokens), " ")).alias("fp_prefix"),
    )


def _ratio5_expr(num, den):
    """round-half-up(num/den, 5) as floor((num·2·10⁵ + den)/(2·den))
    — engine-identical where a native round() can flip on .xxxxx5
    boundaries (same instability class as quality_scores' composite).
    The operands stay exact in binary64 (≲2·10¹⁰ for any realistic
    doc), so IEEE correctly-rounded division + floor gives the same
    bits on Spark and DuckDB when the oracle mirrors this expression
    verbatim."""
    n = num.cast("double")
    d = den.cast("double")
    return (F.floor((n * F.lit(200_000.0) + d) / (d * F.lit(2.0)))
            / F.lit(100_000.0))


def chunk_tokens(docs: DataFrame, size: int = 64, stride: int = 48,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Passage chunking for training pipelines: overlapping
    token windows of ``size`` tokens every ``stride`` tokens (the
    covering set — the last chunk may be short), one row per chunk
    with a content hash for downstream chunk-level dedup.

    Pure array expressions (split → sequence → slice → md5), fully
    whole-stage-codegen; the explode multiplies rows by ~n/stride but
    never shuffles — chunking stays partition-local, which is the
    property that matters at 100 TB (chunk then write, no exchange).
    """
    words = F.filter(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT),
                     lambda x: x != "")
    d = docs.select(F.col(id_col).alias("doc_id"),
                    words.alias("_w")).withColumn("_n", F.size("_w"))
    d = d.filter(F.col("_n") > 0)
    last = F.when(
        F.col("_n") <= size, F.lit(0)
    ).otherwise(F.ceil((F.col("_n") - F.lit(size)) / F.lit(float(stride))).cast("int"))
    d = d.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), last)))
    start = F.col("chunk_idx") * stride
    return d.select(
        "doc_id",
        "chunk_idx",
        start.alias("start_token"),
        F.least(F.lit(size), F.col("_n") - start).cast("int").alias("n_tokens"),
        F.md5(F.array_join(F.slice("_w", start + 1, size), " ")).alias("chunk_hash"),
    )


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText family
    of filters): duplicate-token fraction, top-token fraction, and
    duplicate-bigram fraction per doc. High values flag boilerplate /
    degenerate generations before they reach a training set.

    Token stats ride one explode + two map-side-combinable aggs;
    bigram stats are pure array expressions (no second explode). All
    ratios use exact integer half-up rounding (see ``_ratio5_expr``)
    so the DuckDB oracle reproduces every double bit-for-bit."""
    tok = _tokens(docs, text_col, id_col)
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    per = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_uniq"),
        F.max("tf").alias("top_tf"),
    )
    words = F.filter(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT),
                     lambda x: x != "")
    big = docs.select(F.col(id_col).alias("doc_id"), words.alias("_w")).select(
        "doc_id",
        F.expr("transform(sequence(0, greatest(size(_w) - 2, -1)), "
               "i -> concat(_w[i], ' ', _w[i + 1]))").alias("_bg"),
    ).select(
        "doc_id",
        F.size("_bg").alias("n_bigrams"),
        F.size(F.array_distinct("_bg")).alias("n_uniq_bigrams"),
    )
    j = per.join(big, "doc_id")
    t = F.greatest(F.col("n_tokens"), F.lit(1))
    b = F.greatest(F.col("n_bigrams"), F.lit(1))
    return j.select(
        "doc_id", "n_tokens", "n_uniq", "top_tf", "n_bigrams",
        _ratio5_expr(F.col("n_tokens") - F.col("n_uniq"), t).alias("dup_token_ratio"),
        _ratio5_expr(F.col("top_tf"), t).alias("top_token_ratio"),
        _ratio5_expr(F.col("n_bigrams") - F.col("n_uniq_bigrams"), b).alias("dup_bigram_ratio"),
    )


EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
URL_RE = "https?://[^ \\t\\n]+"


def scrub_text(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """PII/link scrubbing: count and redact emails and URLs (the
    standard pre-training privacy pass). Emits per-doc redaction
    counts and the md5 of the scrubbed text (URLs first — an email
    inside a URL counts once, as the URL). Pure regexp column
    expressions — codegen'd, partition-local, no shuffle."""
    urls_gone = F.regexp_replace(F.col(text_col), URL_RE, "<URL>")
    clean = F.regexp_replace(urls_gone, EMAIL_RE, "<EMAIL>")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), 0)).alias("n_urls"),
        F.size(F.regexp_extract_all(urls_gone, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.md5(clean).alias("clean_hash"),
    )


def snippets(docs: DataFrame, terms: list[str], window: int = 40,
             text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Highlighting analog (Solr hl component): for docs containing ANY
    query term, a fixed-width snippet centered on the FIRST occurrence
    of the earliest-matching term (case-insensitive). Pure JVM column
    expressions — position via instr over lowered text, so the scan
    stays in whole-stage codegen; emits (id, first_pos, snippet).

    first_pos is 1-based (SQL position semantics); docs matching no
    term are dropped."""
    low = F.lower(F.col(text_col))
    # instr == 0 → no match; map to +inf analog so least() picks a hit
    BIG = 1 << 40
    positions = [
        F.when(F.instr(low, t.lower()) > 0, F.instr(low, t.lower()))
        .otherwise(F.lit(BIG))
        for t in sorted(set(terms))
    ]
    first_pos = F.least(*positions) if len(positions) > 1 else positions[0]
    start = F.greatest(F.lit(1), first_pos - F.lit(window))
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        .withColumn("first_pos", first_pos)
        .filter(F.col("first_pos") < BIG)
        .select(
            "doc_id",
            "first_pos",
            F.col(text_col).cast("string").substr(
                start, F.lit(2 * window)).alias("snippet"),
        )
    )

def hash_split(docs: DataFrame, weights: dict[str, float] | None = None,
               seed: int = 42, id_col: str = "doc_id") -> DataFrame:
    """Deterministic train/val/test assignment (the standard
    pre-training corpus split): each doc hashes to one of 256 bins via
    md5(id ':' seed); cumulative weight thresholds over the bin space
    pick the split. Pure column expressions — no shuffle, no state, and
    the SAME doc lands in the SAME split on any cluster, any partition
    layout, any engine (the bin formula is portable SQL: md5 + instr
    arithmetic, mirrored verbatim by the DuckDB oracle).

    Adding data never reassigns existing docs (hash-based, not
    rank-based) — the property that matters when a 100 TB corpus grows
    between training runs. Analog of the reference's deterministic
    doc-id synthesis discipline (Indexer.java uses stable ids so
    re-runs converge); here the stability is of the split assignment.
    """
    if weights is None:
        weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(weights.values())
    # bin in [0, 256) from the first two hex digits of the salted md5
    hexv = lambda i: (F.instr(F.lit("0123456789abcdef"),
                              F.substring(F.col("_h"), i, 1)) - 1)
    d = docs.withColumn(
        "_h", F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                                F.lit(str(seed)))))
    d = d.withColumn("_bin", (hexv(1) * 16 + hexv(2)).cast("int"))
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        thr = int(acc * 256)
        cond = F.col("_bin") < F.lit(thr)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    split = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return d.withColumn("split", split).drop("_h", "_bin")


def pack_sequences(docs: DataFrame, seq_len: int = 2048,
                   text_col: str = "text", id_col: str = "doc_id",
                   partitions: int = 32) -> DataFrame:
    """Sequence packing for LLM training: concatenate the corpus in
    doc-id order and cut fixed ``seq_len``-token training sequences;
    emit, per doc, its global token offset and the first/last sequence
    it lands in (a doc may span sequences — the standard
    concat-then-chunk packing, zero padding waste).

    The global running sum is the textbook scale trap: one
    ``Window.orderBy(id)`` collapses to a SINGLE partition at 10^12
    docs. Instead: range-repartition by id, cumsum WITHIN each
    partition (window keyed by partition id — parallel), collect only
    the P per-partition totals (a few KB at any corpus size), prefix-sum
    them on the driver, and broadcast-join the offsets back. Two narrow
    passes + one tiny broadcast — the same decomposition a cluster uses
    for parallel prefix-scan.
    """
    words = F.filter(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT),
                     lambda x: x != "")
    d = (docs.select(F.col(id_col).alias("doc_id"),
                     F.size(words).cast("long").alias("n_tokens"))
         .repartitionByRange(partitions, "doc_id")
         .withColumn("_pid", F.spark_partition_id()))
    w = (Window.partitionBy("_pid").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    d = d.withColumn("_cum", F.sum("n_tokens").over(w)).cache()
    totals = {r["_pid"]: r["tot"] for r in
              d.groupBy("_pid").agg(F.sum("n_tokens").alias("tot")).collect()}
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += int(totals[pid])
    off = docs.sparkSession.createDataFrame(offsets, "_pid int, _off long")
    start = F.col("_off") + F.col("_cum") - F.col("n_tokens")
    return (
        d.join(F.broadcast(off), "_pid")
        .filter(F.col("n_tokens") > 0)
        .select("doc_id", "n_tokens", start.alias("start_token"))
        # integer `div`, not floor(double /): exact past 2^53 total tokens
        .select(
            "doc_id", "n_tokens", "start_token",
            F.expr(f"start_token div {int(seq_len)}").alias("seq_first"),
            F.expr(f"(start_token + n_tokens - 1) div {int(seq_len)}")
             .alias("seq_last"),
        )
    )


def stratified_sample(docs: DataFrame, fractions: dict[str, float],
                      strata_col: str = "lang", seed: int = 42,
                      id_col: str = "doc_id",
                      default_fraction: float = 0.0) -> DataFrame:
    """Deterministic per-stratum sampling (the corpus-mixing step of a
    pre-training pipeline: "keep 80% of python, 20% of markdown, …").
    A doc is kept iff the first six hex digits of md5(id ':' seed) —
    a uniform draw in [0, 16^6) — fall below floor(fraction · 16^6)
    for its stratum. Pure column expressions: no shuffle, no state,
    no sampleBy's RNG-order dependence — the SAME doc survives on any
    cluster, any partition layout, any engine (the formula is portable
    SQL, mirrored digit-by-digit by the DuckDB oracle).

    Growing the corpus never flips existing docs in or out (hash-based,
    not rank-based), and raising a stratum's fraction strictly grows
    its sample — both properties rank-based samplers lose on re-runs.
    Strata absent from ``fractions`` fall to ``default_fraction``."""
    hexv = lambda i: (F.instr(F.lit("0123456789abcdef"),
                              F.substring(F.col("_h"), i, 1)) - 1)
    d = docs.withColumn(
        "_h", F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                                F.lit(str(seed)))))
    binv = hexv(1)
    for i in range(2, 7):
        binv = binv * 16 + hexv(i)
    thr = None
    space = 16 ** 6
    for name, frac in sorted(fractions.items()):
        t = F.lit(int(frac * space))
        cond = F.col(strata_col) == F.lit(name)
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    thr = F.lit(int(default_fraction * space)) if thr is None \
        else thr.otherwise(F.lit(int(default_fraction * space)))
    return (
        d.withColumn("_bin", binv.cast("long"))
        .filter(F.col("_bin") < thr)
        .drop("_h", "_bin")
    )


def unigram_loglik(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-doc mean unigram log-likelihood under the corpus's own MLE
    unigram model — the cheap perplexity proxy used to rank documents
    for quality filtering (a doc of common words scores high; rare-
    token noise, base64 blobs and wrong-language text score low).

    avg_ll(d) = Σ_t tf(d,t)·ln(cf(t)/total) / dl(d), rounded to 5.

    Scale shape: one tokenize pass feeds both the per-doc tf and the
    corpus cf aggregations (both map-side-combinable); the tf↔cf join
    is term-keyed — at 100 TB broadcast the top-V vocabulary instead
    and floor OOV terms, the standard truncation. No Python in the
    plan: explode + two groupBys + one join, all codegen'd."""
    tok = _tokens(docs, text_col, id_col)
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    cf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    return (
        tf.join(cf, "term").crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("dl"),
            F.round(
                (F.sum(F.col("tf") * F.log(F.col("cf")
                                           / F.col("total").cast("double")))
                 / F.sum("tf")), 5).alias("avg_ll"),
        )
    )


def collocations(docs: DataFrame, min_count: int = 5,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Adjacent-bigram collocation mining by pointwise mutual
    information — the corpus-analysis step that surfaces multi-word
    units ("new york", "machine learning") for tokenizer vocabulary
    design and boilerplate detection in a pre-training pipeline.

    pmi(a,b) = ln( (c_ab / N_bigrams) / ((c_a / N_tok) · (c_b / N_tok)) )

    over bigrams with c_ab ≥ ``min_count`` (threshold, not top-k: the
    result set is deterministic with no float-tie boundary). Returns
    (a, b, c_ab, pmi) rounded to 5.

    Scale shape: bigrams come from ``lead(term)`` over a per-doc
    window — one shuffle keyed by doc_id (bounded partitions: docs are
    the unit), NOT a positional self-join. Unigram and bigram counts
    are map-side-combinable groupBys; the two count joins are
    term-keyed against the post-threshold bigram set, which is tiny
    (collocations are the head of the distribution), so at 100 TB both
    joins broadcast the bigram side."""
    tok = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT))
            .alias("pos", "term"),
        )
        .filter(F.col("term") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    seq = (
        tok.withColumn("nxt", F.lead("term").over(w))
        .filter(F.col("nxt").isNotNull())
    )
    big = (
        seq.groupBy(F.col("term").alias("a"), F.col("nxt").alias("b"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    uni = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).cast("double").alias("n_tok"))
    n_big = seq.agg(F.count(F.lit(1)).cast("double").alias("n_big"))
    ua = uni.select(F.col("term").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("term").alias("b"), F.col("c").alias("c_b"))
    return (
        big.join(ua, "a").join(ub, "b")
        .crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(n_big))
        .select(
            "a", "b", "c_ab",
            F.round(F.log((F.col("c_ab") / F.col("n_big"))
                          / ((F.col("c_a") / F.col("n_tok"))
                             * (F.col("c_b") / F.col("n_tok")))), 5)
            .alias("pmi"),
        )
    )


def significant_terms(docs: DataFrame, group_col: str = "lang",
                      min_df: int = 5, k: int = 10,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Significant-terms analytics (the Solr significantTerms stream /
    ES significant_terms aggregation shape): for each group, the top-k
    terms most over-represented in that group vs the whole corpus,
    scored by document-frequency lift

        score(t, g) = (df_g(t) / n_g) / (df(t) / n)

    with df_g ≥ ``min_df`` to kill noise, score rounded to 5 BEFORE
    ranking so the per-group order (score DESC, term ASC) is stable
    across engines' float summation. Returns (group, term, df_g, df,
    score, rank), rank ≤ k. The corpus-analysis twin of language-ID:
    which tokens characterize a slice (a language, a source, a
    domain) — used to audit corpus mixes and spot boilerplate.

    Scale shape: one distinct (doc, term) pass feeds both the
    per-group and the global df aggregations (map-side combinable);
    the two count joins are term-keyed; group sizes and the corpus
    size broadcast. The final rank is a window partitioned by group —
    bounded state per group since only the post-min_df vocabulary
    enters."""
    dt = _tokens(docs, text_col, id_col).distinct()
    labels = docs.select(F.col(id_col).alias("doc_id"),
                         F.col(group_col).alias("grp"))
    dfg = (
        dt.join(labels, "doc_id")
        .groupBy("grp", "term").agg(F.count(F.lit(1)).alias("df_g"))
        .filter(F.col("df_g") >= min_df)
    )
    dfa = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ng = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_g"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    w = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("term"))
    return (
        dfg.join(dfa, "term").join(F.broadcast(ng), "grp")
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.round(
            (F.col("df_g") / F.col("n_g")) / (F.col("df") / F.col("n")), 5))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "term", "df_g", "df",
                "score", "rank")
    )


def passage_bm25(docs: DataFrame, terms: list[str], chunk_len: int = 64,
                 k: int = 10, k1: float = 1.2, b: float = 0.75,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """MaxP passage ranking — the standard long-document retrieval
    trick (score fixed-length token windows as pseudo-documents, rank
    each doc by its BEST passage), which keeps BM25 meaningful when
    documents are books or concatenated files: a 1M-token doc with one
    razor-relevant paragraph beats a mediocre-everywhere doc.

    Chunks are consecutive ``chunk_len``-token windows over the kept
    token sequence; BM25 statistics (df, avg length) are computed at
    CHUNK granularity; doc score = max over its chunks (ties → lowest
    chunk id), top-k docs by (score DESC, doc_id ASC). Returns
    (rank, doc_id, chunk, score_r).

    Scale shape: one per-doc window (row_number) is the only wide
    shuffle — identical cost to the sequence-packing operator; the
    chunk tf/length aggregations are map-side-combinable, the df side
    broadcasts (|terms| rows), and the final doc-max + top-k is one
    groupBy + TakeOrdered."""
    qterms = sorted(set(terms))
    tok = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT))
            .alias("pos", "term"),
        )
        .filter(F.col("term") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    seq = tok.withColumn(
        "chunk", F.floor((F.row_number().over(w) - 1) / chunk_len))
    cl = seq.groupBy("doc_id", "chunk").agg(F.count(F.lit(1)).alias("cl"))
    stats = cl.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        (F.sum("cl") / F.count(F.lit(1))).cast("double").alias("avgcl"),
    )
    m = (seq.filter(F.col("term").isin(qterms))
         .groupBy("doc_id", "chunk", "term")
         .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = m.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n_chunks") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    contrib = idf * F.col("tf") * F.lit(k1 + 1.0) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b)
                                   + F.lit(b) * F.col("cl") / F.col("avgcl"))
    )
    scored = (
        m.join(F.broadcast(dfreq), "term").join(cl, ["doc_id", "chunk"])
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", contrib)
        .groupBy("doc_id", "chunk")
        .agg(F.round(F.sum("contrib"), 5).alias("score_r"))
    )
    wd = Window.partitionBy("doc_id").orderBy(
        F.desc("score_r"), F.asc("chunk"))
    best = (scored.withColumn("rn", F.row_number().over(wd))
            .filter(F.col("rn") == 1).drop("rn"))
    # cut to k via TakeOrderedAndProject FIRST, then rank the k
    # survivors — a bare row_number window would single-partition the
    # whole match set (every doc containing a query term)
    wr = Window.orderBy(F.desc("score_r"), F.asc("doc_id"))
    return (
        best.orderBy(F.desc("score_r"), F.asc("doc_id")).limit(k)
        .withColumn("rank", F.row_number().over(wr))
        .select("rank", "doc_id", "chunk", "score_r")
    )


def top_fraction(docs: DataFrame, score_col: str, fraction: float = 0.2,
                 id_col: str = "doc_id") -> DataFrame:
    """Percentile quality gate: keep the top ``fraction`` of docs by
    ``score_col`` (ties → lower id wins a slot), i.e. "keep the best
    20%" — the relative-threshold companion to absolute quality
    cutoffs, robust to score-distribution drift between corpus dumps.

    keep count = floor(fraction · n); rank = row_number over
    (score DESC, id ASC), so the kept set is exact and deterministic.

    Scale shape: the sampled-threshold path — an approxQuantile sketch
    (one aggregation, KB to the driver) picks a score threshold with a
    1.5× safety margin; only the candidate superset that clears it is
    ranked, via :func:`_global_rank`'s parallel prefix-scan (range
    exchange + per-partition windows, never a single-partition sort).
    The result is still EXACT: if at least ``keep`` rows clear the
    threshold, the keep-th global score clears it too, so every true
    top-``keep`` row is a candidate and its candidate-rank equals its
    global rank (everything above it also cleared). When the sketch
    misses (pathological distributions), fall back to ranking the full
    projection — correctness never depends on the sketch."""
    proj = docs.select(id_col, score_col)
    n = proj.count()
    keep = int(n * fraction)
    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    if keep <= 0:
        return (proj.filter(F.lit(False))
                .withColumn("rank", F.lit(None).cast("long")))
    cand = proj
    if keep < n:
        q = max(0.0, 1.0 - min(1.0, fraction * 1.5))
        thr = proj.stat.approxQuantile(score_col, [q], 0.001)
        if thr:
            filtered = proj.filter(F.col(score_col) >= thr[0])
            if filtered.count() >= keep:
                cand = filtered
    return (_global_rank(cand, order)
            .filter(F.col("_grank") <= keep)
            .select(id_col, score_col, F.col("_grank").alias("rank")))


def mix_domains(docs: DataFrame, shares_permille: dict[str, int],
                total_docs: int, strata_col: str = "lang",
                seed: int = 42, id_col: str = "doc_id") -> DataFrame:
    """Domain-mixing resampler: downsample each domain so the output
    approximates a target mixture — "30% python, 50% markdown, 20%
    rest, ~N docs total", the step that turns a crawled corpus into a
    training mix with prescribed domain weights.

    Target shares are integer permille (exact arithmetic — float
    thresholds would round differently across engines). Each domain's
    keep-threshold over the md5 hash space is

        thr_d = min(space, space * share_d * total_docs // (1000 * n_d))

    computed in exact integers from one tiny count aggregation, then
    applied with the same hash rule as :func:`stratified_sample`: keep
    iff the first six md5 hex digits of ``id:seed`` fall below thr_d.
    Domains absent from ``shares_permille`` are dropped (thr 0).

    Deterministic and monotone: the same doc survives on any engine or
    partition layout, and raising a domain's share only ever adds docs.
    Scale shape: one map-side-combinable count per domain (KB result to
    the driver), then a pure column-expression filter — the corpus is
    never shuffled. A domain with fewer docs than its target keeps
    everything (thr capped at the full space) — oversampling/repeating
    is a separate epoch-construction concern."""
    counts = {
        r[strata_col]: r["n"]
        for r in docs.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    space = 16 ** 6
    hexv = lambda i: (F.instr(F.lit("0123456789abcdef"),
                              F.substring(F.col("_h"), i, 1)) - 1)
    d = docs.withColumn(
        "_h", F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                                F.lit(str(seed)))))
    binv = hexv(1)
    for i in range(2, 7):
        binv = binv * 16 + hexv(i)
    thr = None
    for name in sorted(counts):
        share = shares_permille.get(name, 0)
        t = min(space, space * share * total_docs // (1000 * counts[name]))
        cond = F.col(strata_col) == F.lit(name)
        thr = F.when(cond, F.lit(t)) if thr is None else thr.when(cond, F.lit(t))
    thr = F.lit(0) if thr is None else thr.otherwise(F.lit(0))
    return (
        d.withColumn("_bin", binv.cast("long"))
        .filter(F.col("_bin") < thr)
        .drop("_h", "_bin")
    )


def epoch_repeats(docs: DataFrame, repeats_permille: dict[str, int],
                  strata_col: str = "lang", seed: int = 42,
                  id_col: str = "doc_id") -> DataFrame:
    """Epoch construction with fractional oversampling: domain d's
    docs each appear ``repeats_permille[d] / 1000`` times per epoch —
    the whole part as guaranteed copies, the fractional part as one
    extra copy for the deterministic hash-fraction of docs (the same
    md5 rule as :func:`stratified_sample`, so WHICH docs get the extra
    copy is stable across engines and corpus growth). 2500 permille →
    every doc twice, and the hash-chosen 50% a third time; 500 → half
    the docs once; absent domains → zero copies (dropped).

    Output adds a ``copy`` index (1..n_copies) so downstream shuffling
    / packing can distinguish repeats. Pure column expressions + one
    explode — no shuffle, no driver state; output size is exactly
    Σ_d n_d · r_d / 1000 (± the hash rounding within each domain)."""
    space = 16 ** 6
    hexv = lambda i: (F.instr(F.lit("0123456789abcdef"),
                              F.substring(F.col("_h"), i, 1)) - 1)
    d = docs.withColumn(
        "_h", F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                                F.lit(str(seed)))))
    binv = hexv(1)
    for i in range(2, 7):
        binv = binv * 16 + hexv(i)
    whole = None
    fthr = None
    domains = sorted(repeats_permille)
    for name in domains:
        r = repeats_permille[name]
        cond = F.col(strata_col) == F.lit(name)
        w_lit, f_lit = F.lit(r // 1000), F.lit(space * (r % 1000) // 1000)
        whole = F.when(cond, w_lit) if whole is None else whole.when(cond, w_lit)
        fthr = F.when(cond, f_lit) if fthr is None else fthr.when(cond, f_lit)
    whole = F.lit(0) if whole is None else whole.otherwise(F.lit(0))
    fthr = F.lit(0) if fthr is None else fthr.otherwise(F.lit(0))
    n_copies = (whole + (binv.cast("long") < fthr).cast("int")).alias("_n")
    return (
        d.withColumn("_n", n_copies)
        .filter(F.col("_n") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(1), F.col("_n"))))
        .drop("_h", "_n")
    )


def multi_snippets(docs: DataFrame, term: str, n_snippets: int = 3,
                   window: int = 30, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Multi-fragment highlighting (Solr ``hl.snippets=N``): up to
    ``n_snippets`` fixed-width fragments per doc, one around each of
    the first N case-insensitive occurrences of ``term``, in document
    order. Emits (doc_id, snip_no 1..N, pos, snippet).

    Occurrence enumeration is N unrolled ``instr``-after-the-previous-
    hit steps — each next position references the previous as a plain
    column, so the plan stays a linear chain of whole-stage-codegen
    projections (no UDF, no explode-the-text, no regex engine), and
    the identical iterated-instr formula is portable SQL for the
    oracle. Fixed N keeps the operator a static expression tree — the
    same reason the PQ/IVF paths fix their loop counts."""
    t = term.lower().replace("'", "''")
    L = len(term)
    df = docs.select(F.col(id_col).alias("doc_id"),
                     F.col(text_col).cast("string").alias("_txt"))
    df = df.withColumn("p1", F.expr(f"instr(lower(_txt), '{t}')"))
    for i in range(2, n_snippets + 1):
        df = df.withColumn(
            f"p{i}",
            F.expr(
                f"CASE WHEN p{i-1} > 0 AND "
                f"instr(substring(lower(_txt), p{i-1} + {L}), '{t}') > 0 "
                f"THEN p{i-1} + {L} - 1 + "
                f"instr(substring(lower(_txt), p{i-1} + {L}), '{t}') "
                f"ELSE 0 END"))
    occ = F.array(*[
        F.struct(F.lit(i).alias("snip_no"), F.col(f"p{i}").alias("pos"))
        for i in range(1, n_snippets + 1)
    ])
    return (
        df.select("doc_id", "_txt", F.explode(occ).alias("o"))
        .filter(F.col("o.pos") > 0)
        .select(
            "doc_id",
            F.col("o.snip_no").alias("snip_no"),
            F.col("o.pos").alias("pos"),
            F.expr(f"substring(_txt, greatest(1, o.pos - {window}), "
                   f"{2 * window})").alias("snippet"),
        )
    )


def _global_rank(df: DataFrame, order_cols: list,
                 running_col: str | None = None,
                 partitions: int = 32) -> DataFrame:
    """Global 1-based ``row_number`` (and optional inclusive running
    sum) over a total order WITHOUT an ``Exchange SinglePartition`` —
    the parallel prefix-scan decomposition :func:`pack_sequences`
    pioneered, factored out for every op that needs a corpus-wide
    position. A bare ``Window.orderBy(...)`` (no partitionBy) plans as
    Exchange SinglePartition → Sort → Window: ONE task sorts and scans
    the entire corpus, the textbook 10^12-row killer. Instead:

      1. ``repartitionByRange`` on the order key — ascending key
         ranges land on ascending partition ids (Spark's
         RangePartitioner contract), so partition id IS the coarse
         rank;
      2. rank/cumsum WITHIN each partition — a window keyed by
         ``spark_partition_id()``, fully parallel;
      3. collect only the P per-partition (count, sum) rows — a few
         KB at any corpus size — prefix-sum them on the driver;
      4. broadcast-join the per-partition offsets back.

    ``order_cols`` may carry ``.desc()``; the induced total order must
    be UNIQUE (callers append the id column as tiebreak). Pass a
    NARROW projection — the frame is cached between the totals pass
    and the join. Returns the input columns plus ``_grank`` (global
    row_number, long) and, when ``running_col`` is given, ``_gcum``
    (inclusive running sum, long)."""
    d = (df.repartitionByRange(partitions, *order_cols)
         .withColumn("_pid", F.spark_partition_id()))
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    d = d.withColumn("_lrn", F.row_number().over(w).cast("long"))
    if running_col is not None:
        d = d.withColumn(
            "_lcum",
            F.sum(F.col(running_col).cast("long")).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    d = d.cache()
    aggs = [F.count(F.lit(1)).alias("_cnt")]
    if running_col is not None:
        aggs.append(F.sum(F.col(running_col).cast("long")).alias("_tot"))
    stats = d.groupBy("_pid").agg(*aggs).collect()
    offsets, acc_n, acc_s = [], 0, 0
    for r in sorted(stats, key=lambda r: r["_pid"]):
        offsets.append((int(r["_pid"]), acc_n, acc_s))
        acc_n += int(r["_cnt"])
        if running_col is not None:
            acc_s += int(r["_tot"] or 0)
    off = df.sparkSession.createDataFrame(
        offsets, "_pid int, _rnoff long, _sumoff long")
    d = (d.join(F.broadcast(off), "_pid")
         .withColumn("_grank", F.col("_rnoff") + F.col("_lrn")))
    if running_col is not None:
        d = d.withColumn("_gcum", F.col("_sumoff") + F.col("_lcum"))
    return d.drop("_pid", "_lrn", "_lcum", "_rnoff", "_sumoff")


def shuffle_corpus(docs: DataFrame, seed: int = 42,
                   id_col: str = "doc_id") -> DataFrame:
    """Deterministic corpus shuffle for training-epoch construction:
    global order = (md5(id ':' seed), id) — a reproducible pseudo-
    random permutation; a different seed gives an independent epoch
    order, and the same seed replays the same order on any engine or
    partition layout (unlike orderBy(rand()), whose order depends on
    the RNG stream per partition). Returns (position, doc_id).

    Scale shape: :func:`_global_rank`'s parallel prefix-scan over a
    two-column (hash, id) projection — range exchange + per-partition
    windows, never a single-partition sort; consumers that only need
    the order stream the range-sorted output and can skip the position
    column (it exists so the oracle can pin the permutation exactly)."""
    key = F.md5(F.concat_ws(
        ":", F.col(id_col).cast("string"), F.lit(str(seed))))
    base = docs.select(F.col(id_col).alias("doc_id"), key.alias("_k"))
    return (_global_rank(base, [F.col("_k"), F.col("doc_id")])
            .select(F.col("_grank").alias("position"),
                    F.col("doc_id").alias(id_col)))


def temperature_shares(counts: dict[str, int], tau: float = 0.5) -> dict[str, int]:
    """Integer permille shares ∝ n_d^tau — temperature-based domain
    rebalancing (the multilingual sampling rule of XLM-R/mT5: tau < 1
    upweights rare domains, tau = 1 keeps natural proportions).

    Engine-portable by construction for ``tau=0.5``: the weight is
    ``floor(sqrt(n) × 10^6)`` (IEEE sqrt is correctly rounded, so any
    engine computes the identical integer), and everything after is
    exact integer arithmetic — floor permille ``1000·w // Σw`` plus
    largest-remainder distribution of the deficit (remainder DESC,
    name ASC). Other tau values use ``n**tau`` (libm pow), which is
    NOT guaranteed bit-identical across engines — fine for pipelines,
    not for cross-engine hash equality."""
    import math

    wt = {
        k: int(math.floor(
            (math.sqrt(n) if tau == 0.5 else float(n) ** tau) * 10**6))
        for k, n in counts.items()
    }
    tot = sum(wt.values())
    if tot == 0:
        return {k: 0 for k in counts}
    fl = {k: 1000 * w // tot for k, w in wt.items()}
    rem = {k: 1000 * w % tot for k, w in wt.items()}
    deficit = 1000 - sum(fl.values())
    order = sorted(counts, key=lambda k: (-rem[k], k))
    return {k: fl[k] + (1 if i < deficit else 0)
            for i, k in enumerate(order)}


def mix_domains_temperature(docs: DataFrame, total_docs: int,
                            tau: float = 0.5, strata_col: str = "lang",
                            seed: int = 42,
                            id_col: str = "doc_id") -> DataFrame:
    """Temperature-mixed corpus: :func:`temperature_shares` derives the
    target permille from the observed domain counts, then
    :func:`mix_domains` applies them with its exact md5-threshold rule
    — one extra tiny count aggregation, the corpus still never
    shuffles."""
    counts = {
        r[strata_col]: int(r["n"])
        for r in docs.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    shares = temperature_shares(counts, tau)
    return mix_domains(docs, shares, total_docs, strata_col=strata_col,
                       seed=seed, id_col=id_col)


def _md5_uniform(id_expr, seed: int, digits: int = 6):
    """Deterministic uniform in (0, 1) from the engine's salted-md5
    hash rule (the same ``md5(id:seed)`` first-``digits``-hex-chars
    integer :func:`stratified_sample` / :func:`mix_domains` threshold
    against): u = (bin + 0.5) / 16^digits. Pure codegen expressions,
    portable verbatim to the SQL oracle — never ``rand()``, which no
    two engines (or even two runs) reproduce."""
    h = F.md5(F.concat_ws(":", id_expr.cast("string"), F.lit(str(seed))))
    # conv() parses the hex prefix in ONE expression — the equivalent
    # per-digit instr() chain re-inlines the md5 subexpression O(d²)
    # times (no codegen CSE), which blew whole-stage codegen past the
    # 64 KB method limit when two hash families met in one stage
    binv = F.conv(F.substring(h, 1, digits), 16, 10).cast("long")
    return (binv.cast("double") + F.lit(0.5)) / F.lit(float(16 ** digits))


def dsir_logratios(raw: DataFrame, target: DataFrame,
                   text_col: str = "text", id_col: str = "doc_id",
                   alpha: float = 0.5) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", unigram-feature
    variant): how much more likely is each raw doc under the TARGET
    corpus's unigram model than under the raw corpus's own —

        log w(d) = Σ_t tf(d,t) · [ln p_tgt(t) − ln p_raw(t)]

    with add-α smoothing over the UNION vocabulary V on both models,
    p(t) = (cf(t) + α) / (total + α·|V|), so target-OOV terms penalize
    smoothly instead of −∞. Returns (doc_id, dl, log_w_r) with the
    weight rounded to 5 (the engine's cross-engine float discipline).
    Weights are unnormalized by length (the paper's convention —
    callers wanting a per-token ratio divide by dl).

    Scale shape: one tokenize pass per corpus; cf aggregations are
    map-side-combinable; the per-term log-ratio table is VOCABULARY-
    sized and broadcasts into the raw tf join; the per-doc sum is one
    groupBy. The only driver traffic is the 3-number totals row. At
    100 TB truncate to the top-V union vocabulary and floor OOV mass
    — the paper's own hashed-feature approximation."""
    tok_r = _tokens(raw, text_col, id_col)
    tok_t = _tokens(target, text_col, id_col)
    cf_r = tok_r.groupBy("term").agg(F.count(F.lit(1)).alias("cf_raw"))
    cf_t = tok_t.groupBy("term").agg(F.count(F.lit(1)).alias("cf_tgt"))
    vocab = (
        cf_r.join(cf_t, "term", "full")
        .select("term",
                F.coalesce("cf_raw", F.lit(0)).alias("cf_raw"),
                F.coalesce("cf_tgt", F.lit(0)).alias("cf_tgt"))
    )
    tot = vocab.agg(F.sum("cf_raw").alias("tr"),
                    F.sum("cf_tgt").alias("tt"),
                    F.count(F.lit(1)).alias("v")).collect()[0]
    den_t = float(tot["tt"] + alpha * tot["v"])
    den_r = float(tot["tr"] + alpha * tot["v"])
    lr = vocab.select(
        "term",
        (F.log((F.col("cf_tgt") + F.lit(alpha)) / F.lit(den_t))
         - F.log((F.col("cf_raw") + F.lit(alpha)) / F.lit(den_r))
         ).alias("llr"))
    tf = tok_r.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.join(F.broadcast(lr), "term")
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("dl"),
             F.round(F.sum(F.col("tf") * F.col("llr")), 5).alias("log_w_r"))
    )


def dsir_select(raw: DataFrame, target: DataFrame, n_keep: int,
                text_col: str = "text", id_col: str = "doc_id",
                alpha: float = 0.5, seed: int = 42,
                gumbel: bool = True) -> DataFrame:
    """DSIR selection: keep ``n_keep`` raw docs by importance weight.
    With ``gumbel=True`` (the paper's resampling) each doc's key is
    log w(d) + Gumbel(0,1) noise and the top-``n_keep`` keys win —
    the Gumbel-top-k identity makes this EXACTLY sampling without
    replacement proportional to softmax(log w), yet fully
    deterministic here: the noise is −ln(−ln u) with u from the
    engine's salted-md5 uniform (:func:`_md5_uniform`), so the same
    doc set survives on any engine, layout, or rerun. ``gumbel=False``
    degrades to the hard top-n by weight (mode-seeking, less diverse —
    the ablation the paper argues against). Keys round to 5 before
    ranking (ties → lower id), the contract's cross-engine argmax
    discipline. Returns (doc_id, dl, log_w_r, sel_key_r, rank).

    Scale shape: :func:`dsir_logratios` plus one column expression and
    :func:`_global_rank`'s parallel prefix-scan over the (key, id)
    projection — range exchange + per-partition windows, never a
    single-partition sort; at 10^12 docs additionally prefilter with
    an approximate key threshold first (:func:`top_fraction`'s
    sampled-threshold path shows the pattern)."""
    w = dsir_logratios(raw, target, text_col=text_col, id_col=id_col,
                       alpha=alpha)
    if gumbel:
        u = _md5_uniform(F.col("doc_id"), seed)
        key = F.round(F.col("log_w_r") + (-F.log(-F.log(u))), 5)
    else:
        key = F.col("log_w_r")
    d = w.withColumn("sel_key_r", key)
    return (
        _global_rank(d, [F.col("sel_key_r").desc(), F.col("doc_id").asc()])
        .filter(F.col("_grank") <= n_keep)
        .select("doc_id", "dl", "log_w_r", "sel_key_r",
                F.col("_grank").alias("rank"))
    )


def shard_assignments(docs: DataFrame, n_shards: int, seed: int = 42,
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic dataset sharding — the write-out plan for a
    curated corpus as N training shards: docs take the
    :func:`shuffle_corpus` global pseudo-random order (salted md5,
    engine/layout-reproducible), then deal round-robin, so shard sizes
    balance to ±1 and each shard is itself a uniform sample of the
    corpus (contiguous range-slicing would let corpus ordering bias a
    shard). Returns (doc_id, position, shard, pos_in_shard) — enough
    for any writer to produce byte-identical shards on any engine.

    Scale shape: :func:`_global_rank`'s parallel prefix-scan over an
    (id, hash) projection — range exchange + per-partition windows +
    a KB-sized driver prefix-sum, never a single-partition sort; the
    shard arithmetic is pure column expressions (integer ``div``,
    exact past 2^53)."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    key = F.md5(F.concat_ws(
        ":", F.col(id_col).cast("string"), F.lit(str(seed))))
    base = docs.select(F.col(id_col).alias("doc_id"), key.alias("_k"))
    pos = F.col("_grank")
    return (_global_rank(base, [F.col("_k"), F.col("doc_id")])
            .select(
                "doc_id",
                pos.alias("position"),
                ((pos - 1) % n_shards).cast("int").alias("shard"),
                (F.expr(f"(_grank - 1) div {int(n_shards)}") + 1)
                .cast("long").alias("pos_in_shard"),
            ))


def take_token_budget(docs: DataFrame, budget_tokens: int,
                      text_col: str = "text", id_col: str = "doc_id",
                      seed: int = 42) -> DataFrame:
    """Token-budgeted corpus slice — "the first 1B tokens of the
    shuffled corpus", the standard way a training run consumes a
    curated dataset: walk the :func:`shuffle_corpus` deterministic
    order and keep whole docs while the RUNNING token total stays
    within ``budget_tokens``; the doc that would cross the budget is
    excluded (a training pipeline never truncates a doc mid-stream —
    packing handles intra-sequence splits). Token rule =
    :func:`token_counts`' word tokens (regex split), so the budget
    means the same thing as the corpus statistics. Returns (position,
    doc_id, n_tokens, cum_tokens) in stream order.

    Scale shape: :func:`_global_rank`'s parallel prefix-scan with a
    running sum over an (id, count, hash) projection — range exchange,
    per-partition cumsum, KB driver prefix-sum — never a single-
    partition window; the budget filter is a pure column predicate, so
    nothing downstream reads excluded docs."""
    n_tok = F.size(F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT),
        lambda x: x != ""))
    key = F.md5(F.concat_ws(
        ":", F.col(id_col).cast("string"), F.lit(str(seed))))
    base = docs.select(F.col(id_col).alias("doc_id"),
                       n_tok.cast("long").alias("n_tokens"),
                       key.alias("_k"))
    cum = _global_rank(base, [F.col("_k"), F.col("doc_id")],
                       running_col="n_tokens")
    return (cum.filter(F.col("_gcum") <= budget_tokens)
            .select(F.col("_grank").alias("position"), "doc_id",
                    "n_tokens", F.col("_gcum").alias("cum_tokens")))


def compression_ratio(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", level: int = 6) -> DataFrame:
    """Per-doc zlib compression ratio — the entropy-based quality
    signal web-scale curation pipelines use alongside the heuristic
    scores (:func:`quality_scores`): highly repetitive boilerplate
    compresses far below ~0.3, while random/binary junk stays near
    1.0; natural text and real code sit between. Returns
    (doc_id, n_bytes, n_compressed, ratio_r) with the ratio rounded
    to 5; empty/NULL docs get ratio 1.0 (nothing to judge).

    zlib has no SQL twin, so this op is pytest-covered rather than
    oracle-checked. Runs as an Arrow-batched ``mapInPandas`` kernel —
    per-batch stdlib zlib over the utf-8 bytes, no per-row Python UDF,
    no shuffle at all (embarrassingly parallel over whatever
    partitioning the corpus already has)."""
    import pandas as pd

    def kernel(batches):
        import zlib

        for pdf in batches:
            texts = pdf[text_col]
            n_raw, n_comp, ratios = [], [], []
            for t in texts:
                if t is None or t == "":
                    n_raw.append(0)
                    n_comp.append(0)
                    ratios.append(1.0)
                    continue
                b = t.encode("utf-8")
                c = len(zlib.compress(b, level))
                n_raw.append(len(b))
                n_comp.append(c)
                ratios.append(round(c / len(b), 5))
            yield pd.DataFrame({
                "doc_id": pdf[id_col],
                "n_bytes": pd.Series(n_raw, dtype="int64"),
                "n_compressed": pd.Series(n_comp, dtype="int64"),
                "ratio_r": pd.Series(ratios, dtype="float64"),
            })

    return docs.select(id_col, text_col).mapInPandas(
        kernel, schema="doc_id long, n_bytes long, n_compressed long, "
                       "ratio_r double")


def tag_rules(docs: DataFrame, rules: dict[str, list[str]],
              mode: str = "all", text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Percolator-style reverse search: registered rule queries match
    INCOMING documents (the Elasticsearch percolate idea, absent from
    Solr) — the routing/labeling step a curation pipeline runs at
    ingest ("looks like code", "mentions benchmark X", topic buckets).
    ``rules`` maps a label to its term list; ``mode="all"`` requires
    every term (conjunctive), ``"any"`` at least one. Output one
    (doc_id, rule, n_hit) row per match; a doc matches any number of
    rules.

    Scale shape: the rule table is user-registered (KB) and
    broadcasts onto the corpus's distinct (doc, term) pairs — terms
    are pre-filtered to the rules' union vocabulary, so the join
    input is the corpus' matching tokens only, and the match decision
    is one (doc, rule)-keyed count aggregation. No corpus shuffle
    beyond that aggregation; never a per-rule scan."""
    if mode not in ("all", "any"):
        raise ValueError(f"mode must be 'all' or 'any', got {mode!r}")
    if not rules:
        raise ValueError("rules must be non-empty")
    spark = docs.sparkSession
    # tokens are lowercased, so rule terms must be too — a rule
    # registered as "Spark" would otherwise silently never match
    rows = [(label, t, len({x.lower() for x in terms}))
            for label, terms in rules.items()
            for t in {x.lower() for x in terms}]
    rtab = spark.createDataFrame(
        rows, "rule string, term string, n_terms int")
    toks = (_tokens(docs, text_col, id_col)
            .select("doc_id", "term").distinct())
    hits = (
        toks.join(F.broadcast(rtab), "term")
        .groupBy("doc_id", "rule")
        .agg(F.count(F.lit(1)).alias("n_hit"),
             F.first("n_terms").alias("n_terms"))
    )
    if mode == "all":
        hits = hits.filter(F.col("n_hit") == F.col("n_terms"))
    return hits.select("doc_id", "rule", "n_hit")


def kl_divergence(docs: DataFrame, group_col: str = "lang",
                  base: str | None = None, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Domain-drift monitor: per-group KL divergence of each group's
    add-1-smoothed unigram distribution from the ``base`` group's (or
    from the whole corpus when ``base`` is None) —

        KL(g || base) = sum_t p_g(t) * ln(p_g(t) / p_base(t))

    over the corpus-wide vocabulary with Laplace smoothing on BOTH
    sides (so unseen terms contribute finitely). The number a mixing
    pipeline tracks per dump/domain to catch distribution shift
    before training does. Output (group, n_tokens, kl_r) rounded 5.

    Scale shape: two map-side-combinable count aggregations over one
    tokenize pass; the dense (term x group) grid is vocab x n_groups
    (model-sized — same shape as classify.nb_model) built with one
    LEFT join; the KL sum is a groups-sized aggregation. The corpus
    shuffles once, for the counts."""
    labeled = docs.select(F.col(id_col).alias("doc_id"),
                          F.col(group_col).alias("grp"), text_col)
    tok = _tokens(labeled, text_col, "doc_id").join(
        labeled.select("doc_id", "grp"), "doc_id")
    sparse = tok.groupBy("term", "grp").agg(F.count(F.lit(1)).alias("c"))
    totals = tok.groupBy("grp").agg(F.count(F.lit(1)).alias("t_g"))
    vocab = tok.select("term").distinct()
    v = vocab.count()
    if base is None:
        base_c = tok.groupBy("term").agg(F.count(F.lit(1)).alias("bc"))
        base_n = tok.count()
    else:
        base_tok = tok.filter(F.col("grp") == base)
        base_c = base_tok.groupBy("term").agg(F.count(F.lit(1)).alias("bc"))
        base_n = base_tok.count()
        if base_n == 0:
            raise ValueError(f"base group {base!r} has no tokens")
    grid = (
        vocab.crossJoin(totals)
        .join(sparse, ["term", "grp"], "left")
        .join(base_c, "term", "left")
    )
    p_g = (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0)) \
        / (F.col("t_g") + F.lit(float(v)))
    p_b = (F.coalesce(F.col("bc"), F.lit(0)) + F.lit(1.0)) \
        / (F.lit(float(base_n)) + F.lit(float(v)))
    return (
        grid.groupBy(F.col("grp").alias("group"))
        .agg(F.first("t_g").alias("n_tokens"),
             F.round(F.sum(p_g * F.log(p_g / p_b)), 5).alias("kl_r"))
    )


GOPHER_STOPWORDS = ["the", "and", "of", "to", "in"]


def gopher_rules(docs: DataFrame, *, min_words: int = 50,
                 max_words: int = 100_000, min_mean_wlen: float = 3.0,
                 max_mean_wlen: float = 10.0, min_alpha_ratio: float = 0.8,
                 max_bullet_ratio: float = 0.9,
                 max_ellipsis_ratio: float = 0.3, min_stopwords: int = 2,
                 stopwords: list[str] | None = None,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """The Gopher quality-rule bundle (Rae et al. 2021, Table A1's
    deterministic subset) — the canonical pre-training repetition-free
    document filter, emitting the per-rule evidence alongside the
    verdict so a pipeline can audit WHY a doc dropped:

    - word count in [min_words, max_words]
    - mean word length in [min_mean_wlen, max_mean_wlen]
    - fraction of words containing an alphabetic char >= min_alpha_ratio
    - fraction of lines starting with a bullet <= max_bullet_ratio
    - fraction of lines ending with an ellipsis <= max_ellipsis_ratio
    - at least min_stopwords DISTINCT stopwords present (the Gopher
      "stop word" sanity check; ``stopwords`` defaults to the paper's
      5-word English list — tune it to the corpus language/domain)

    Output: (doc_id, n_words, mean_wlen_r, alpha_ratio_r,
    bullet_ratio_r, ellipsis_ratio_r, n_stop, keep). Docs with zero
    words are emitted with keep=false (they fail min_words).

    Scale shape: ZERO shuffle — every metric is a per-row codegen
    expression over the word/line arrays (filter/aggregate/size
    higher-order functions), so the op is a mapper: it pipelines with
    whatever stage follows and never materializes tokens."""
    low = F.lower(F.col(text_col))
    words = F.filter(F.split(low, r"\s+"), lambda x: x != "")
    lines = F.split(low, "\n")
    n_words = F.size(words).cast("long")
    sum_wlen = F.aggregate(words, F.lit(0),
                           lambda acc, w: acc + F.length(w))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
    n_ellipsis = F.size(F.filter(lines, lambda l: l.endswith("...")))
    stop = [s.lower() for s in (stopwords or GOPHER_STOPWORDS)]
    n_stop = F.size(F.array_intersect(
        F.array_distinct(words),
        F.array(*[F.lit(s) for s in stop]))).cast("long")
    # ANSI mode (Spark 4 default) makes 0/0 THROW, not NULL — a
    # zero-word doc must yield NULL word metrics, not kill the job
    mean_wlen = F.round(F.when(n_words > 0, sum_wlen / n_words), 5)
    alpha_ratio = F.round(F.when(n_words > 0, n_alpha / n_words), 5)
    bullet_ratio = F.round(F.when(n_lines > 0, n_bullet / n_lines), 5)
    ellipsis_ratio = F.round(F.when(n_lines > 0, n_ellipsis / n_lines), 5)
    keep = (
        n_words.between(min_words, max_words)
        & mean_wlen.between(min_mean_wlen, max_mean_wlen)
        & (alpha_ratio >= min_alpha_ratio)
        & (bullet_ratio <= max_bullet_ratio)
        & (ellipsis_ratio <= max_ellipsis_ratio)
        & (n_stop >= min_stopwords)
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        mean_wlen.alias("mean_wlen_r"),
        alpha_ratio.alias("alpha_ratio_r"),
        bullet_ratio.alias("bullet_ratio_r"),
        ellipsis_ratio.alias("ellipsis_ratio_r"),
        n_stop.alias("n_stop"),
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


C4_POLICY_PHRASES = ["terms of use", "privacy policy", "cookie policy",
                     "uses cookies"]


def c4_rules(docs: DataFrame, *, min_words_per_line: int = 5,
             min_sentences: int = 3,
             badwords: list[str] | None = None,
             policy_phrases: list[str] | None = None,
             text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """The C4 cleaning-rule bundle (Raffel et al. 2020 §2.2's
    deterministic subset) — line-level retention plus page-level
    drops, emitting per-rule evidence beside the verdict (the
    :func:`gopher_rules` discipline):

    line filters (C4 "retained lines that…"):
    - end in a terminal punctuation mark (. ! ? or a closing quote)
    - contain at least ``min_words_per_line`` words
    - do not contain the word "javascript"

    page filters (C4 "removed any page that…"):
    - fewer than ``min_sentences`` sentences across the KEPT lines
      (sentence ≈ terminal-punct occurrence, C4's sentence proxy)
    - contains "lorem ipsum"
    - contains a curly brace ``{`` (code leakage into prose — N.B.
      inverted meaning on a source-code corpus; parameterize your
      pipeline accordingly)
    - contains a boilerplate policy phrase (``policy_phrases``)
    - contains a word from ``badwords`` (whole-token match; the
      paper's blocklist — parameterize to the corpus, empty default)

    Output: (doc_id, n_lines, n_kept_lines, n_sentences, has_lorem,
    has_brace, has_policy, has_badword, kept_md5, keep). ``kept_md5``
    hashes the retained text (lines joined with \\n) so downstream
    stages can verify the exact surviving content.

    Scale shape: ZERO shuffle — line split/filter/join and every page
    predicate are per-row codegen expressions (higher-order array
    functions + regexes); the op is a pure mapper like gopher_rules.
    """
    low = F.lower(F.col(text_col))
    lines = F.split(F.col(text_col), "\n")

    def _line_ok(l):
        t = F.trim(l)
        n = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != ""))
        # token boundaries via the engine's [a-z0-9_] token class, not
        # \b — keeps the Spark and DuckDB twins regex-dialect-identical
        return (t.rlike(r'[.!?]["”’]? *$')
                & (n >= min_words_per_line)
                & ~F.lower(t).rlike(
                    "(^|[^a-z0-9_])javascript([^a-z0-9_]|$)"))

    kept = F.filter(lines, _line_ok)
    kept_text = F.array_join(kept, "\n")
    n_sentences = F.length(
        F.regexp_replace(kept_text, r"[^.!?]", "")).cast("long")
    phrases = [p.lower() for p in (policy_phrases or C4_POLICY_PHRASES)]
    has_policy = None
    for p in phrases:
        c = low.contains(p)
        has_policy = c if has_policy is None else (has_policy | c)
    bad = [b.lower() for b in (badwords or [])]
    if bad:
        import re as _re

        pat = ("(^|[^a-z0-9_])("
               + "|".join(_re.escape(b) for b in bad)
               + ")([^a-z0-9_]|$)")
        has_badword = low.rlike(pat)
    else:
        has_badword = F.lit(False)
    has_lorem = low.contains("lorem ipsum")
    has_brace = F.col(text_col).contains("{")
    keep = (~has_lorem & ~has_brace & ~has_policy & ~has_badword
            & (n_sentences >= min_sentences))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        n_sentences.alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        has_policy.alias("has_policy"),
        has_badword.alias("has_badword"),
        F.md5(kept_text).alias("kept_md5"),
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


def winnow_fingerprints(docs: DataFrame, k: int = 5, w: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003 — the
    MOSS algorithm): hash every word k-gram, slide a window of ``w``
    consecutive hashes, select each window's MINIMUM (rightmost on
    ties), and keep the distinct selections. The guarantee the strided
    grams in :func:`ftidx.dedup.char_grams` lack: ANY shared run of
    ≥ w+k-1 words between two documents shares at least one selected
    fingerprint, while selection density stays ~2/(w+1) — robust
    span-level provenance/overlap detection at a fraction of the
    all-grams cost. Docs with fewer than k words emit nothing; docs
    with fewer than w grams emit their single overall minimum (the
    one-window degenerate case). Output (doc_id, pos, h) — 1-based
    gram position, portable md5 hash (string min order is the same
    everywhere).

    Scale shape: grams are per-row codegen (sequence → slice →
    concat_ws → md5 → posexplode); each gram replicates into ≤ w
    window memberships (w is small: the paper's 4-8) and ONE
    doc-keyed aggregation picks the per-window minima — per-doc state
    is bounded, the shuffle is the gram table × w, linear in corpus
    tokens."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    words = F.filter(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT),
                     lambda x: x != "")
    n_grams = F.size(words) - F.lit(k - 1)
    starts = F.sequence(F.lit(1), n_grams)
    grams = F.transform(
        starts, lambda i: F.md5(F.concat_ws(" ", F.slice(words, i, k))))
    g = (
        docs.select(F.col(id_col).alias("doc_id"),
                    n_grams.alias("n_grams"),
                    F.posexplode(grams).alias("p0", "h"))
        .filter(F.col("n_grams") >= 1)
        .select("doc_id", "n_grams",
                (F.col("p0") + 1).alias("gpos"), "h")
    )
    # window starts run 1 .. max(1, n_grams-w+1); gram gpos belongs to
    # windows [gpos-w+1, gpos] clipped to that range
    win_hi = F.greatest(F.lit(1), F.col("n_grams") - F.lit(w - 1))
    e = g.select(
        "doc_id", "gpos", "h",
        F.explode(F.sequence(
            F.greatest(F.lit(1), F.col("gpos") - F.lit(w - 1)),
            F.least(F.col("gpos"), win_hi))).alias("j"),
    )
    picked = (
        e.groupBy("doc_id", "j")
        .agg(F.min(F.struct(F.col("h"), (-F.col("gpos")).alias("ng")))
             .alias("m"))
        .select("doc_id", (-F.col("m.ng")).alias("pos"),
                F.col("m.h").alias("h"))
        .distinct()
    )
    return picked


def weighted_sample(df: DataFrame, n: int, weight_col: str,
                    id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006, the A-ES exponential-keys scheme): every row gets the key
    ``ln(u) / w`` with ``u`` the engine's salted-md5 uniform and ``w``
    its weight; the n LARGEST keys are exactly a weight-proportional
    sample without replacement — the one-pass, merge-able formulation
    of the sequential "spin a roulette wheel n times, removing
    winners" procedure, which cannot be distributed. The training-data
    use: draw a fixed-size corpus where a doc's inclusion probability
    is proportional to its token count (or quality score) instead of
    uniform per-doc.

    Rows with weight ≤ 0 or NULL are excluded (zero weight = never
    sampled; a negative weight is meaningless here). Keys are rounded
    to 5 decimals BEFORE the cut with id tie-break — the engine's
    cross-engine float discipline (ln() is libm-dependent in its last
    ulp) — making the sample a pure function of (id, seed, weight).

    Scale shape: the key is one codegen expression per row (no
    shuffle to compute it) and the cut is ``orderBy().limit(n)`` —
    TakeOrderedAndProject per-partition heaps, so the full corpus is
    never sorted and never moves; only ≤ n rows per partition reach
    the driver-side merge. Returns (rank, id, weight, key_r) in draw
    order (key DESC = first drawn)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from pyspark.sql import Window

    u = _md5_uniform(F.col(id_col), seed)
    w = F.col(weight_col).cast("double")
    key = F.round(F.log(u) / w, 5)
    base = (
        df.filter(w.isNotNull() & (w > 0))
        .select(F.col(id_col), w.alias("weight"), key.alias("key_r"))
        .orderBy(F.desc("key_r"), F.asc(id_col))
        .limit(int(n))
    )
    wr = Window.orderBy(F.desc("key_r"), F.asc(id_col))
    return base.withColumn("rank", F.row_number().over(wr)) \
        .select("rank", id_col, "weight", "key_r")


def mine_hard_negatives(docs: DataFrame, queries: DataFrame, k: int = 5,
                        positives: DataFrame | None = None,
                        k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Hard-negative mining for retrieval training (the BM25-negatives
    recipe of Karpukhin et al. 2020, DPR §4.2): for every training
    query, the top-``k`` BM25-ranked documents that are NOT among its
    labeled positives — the lexical near-misses a bi-encoder must
    learn to push below the positive. One call produces the negatives
    column for an entire training set.

    ``queries``: (query_id long, terms array<string>) — terms treated
    as a set (duplicates ignored). ``positives``: optional
    (query_id, doc_id) pairs anti-joined out; omitted = pure top-k.

    Scale shape: the corpus tokenizes ONCE whatever the query count;
    query terms explode to a (term, query_id) table that is BROADCAST
    against the tf rows (a training set's term vocabulary is tiny
    next to the corpus); scoring is one map-side-combinable
    (query_id, doc_id) agg; ranking is a window partitioned by
    query_id — every shuffle is keyed, no corpus-sized data ever
    passes through a single task. Scores round to 5 (the engine's
    cross-engine float discipline). Returns
    (query_id, rank, doc_id, score_r)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    tok = (docs.select("doc_id",
                       F.explode(F.split(F.lower("text"),
                                         "[^a-z0-9_]+")).alias("term"))
           .filter(F.col("term") != ""))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   (F.sum("dl") / F.count(F.lit(1)))
                   .cast("double").alias("avgdl"))
    qt = (queries.select("query_id",
                         F.explode("terms").alias("term")).distinct())
    # global df per term, over exactly the query vocabulary
    dfreq = (tf.join(F.broadcast(qt.select("term").distinct()), "term")
             .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    m = tf.join(F.broadcast(qt), "term")
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    contrib = idf * F.col("tf") * F.lit(k1 + 1.0) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b)
                                   + F.lit(b) * F.col("dl") / F.col("avgdl")))
    scored = (m.join(F.broadcast(dfreq), "term")
              .join(dl, "doc_id").crossJoin(F.broadcast(stats))
              .withColumn("contrib", contrib)
              .groupBy("query_id", "doc_id")
              .agg(F.round(F.sum("contrib"), 5).alias("score_r")))
    if positives is not None:
        scored = scored.join(positives.select("query_id", "doc_id"),
                             ["query_id", "doc_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(F.desc("score_r"),
                                               F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score_r"))


def stack_rules(docs: DataFrame, *, max_line_len: int = 1000,
                max_mean_line_len: float = 100.0,
                min_alnum_frac: float = 0.25,
                autogen_head_lines: int = 5,
                autogen_markers: list[str] | None = None,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """The Stack / StarCoderData code-file filter bundle (Kocetkov et
    al. 2022 §2; Li et al. 2023 §3.1's deterministic subset) — the
    source-code analog of :func:`gopher_rules`, emitting per-rule
    evidence beside the verdict:

    - longest line <= ``max_line_len`` chars (minified / generated
      bundles have kilobyte lines)
    - mean line length <= ``max_mean_line_len``
    - alphanumeric character fraction >= ``min_alnum_frac`` (drops
      encoded-data blobs: base64 walls pass, hex/binary dumps with
      heavy punctuation and whitespace do not)
    - no auto-generation marker in the first ``autogen_head_lines``
      lines ("auto-generated", "autogenerated", "generated by",
      "do not edit" — the published detector phrases)
    - not an XML document (``<?xml version=`` within the first 100
      chars — The Stack routes XML out of the code split)

    Output: (doc_id, n_lines, max_line_len, mean_line_r, alnum_frac_r,
    is_autogen, is_xml, keep).

    Scale shape: ZERO shuffle — every metric is a per-row codegen
    expression over the line array (transform/aggregate higher-order
    functions + one regexp strip); a pure mapper like gopher_rules, so
    it pipelines into whatever stage follows at any corpus size."""
    text = F.col(text_col)
    lines = F.split(text, "\n")
    line_lens = F.transform(lines, lambda l: F.length(l))
    n_lines = F.size(lines).cast("long")
    max_line = F.array_max(line_lens).cast("long")
    sum_len = F.aggregate(line_lens, F.lit(0),
                          lambda acc, x: acc + x)
    mean_line = F.round(F.when(n_lines > 0, sum_len / n_lines), 5)
    n_chars = F.length(text)
    n_alnum = F.length(F.regexp_replace(text, "[^A-Za-z0-9]", ""))
    alnum_frac = F.round(F.when(n_chars > 0, n_alnum / n_chars), 5)
    markers = [m.lower() for m in
               (autogen_markers or ["auto-generated", "autogenerated",
                                    "generated by", "do not edit"])]
    head = F.lower(F.array_join(
        F.slice(lines, 1, autogen_head_lines), "\n"))
    is_autogen = F.lit(False)  # an empty marker list disables the rule
    for m in markers:
        is_autogen = is_autogen | head.contains(m)
    is_xml = F.substring(text, 1, 100).contains("<?xml version=")
    keep = ((max_line <= max_line_len)
            & (mean_line <= max_mean_line_len)
            & (alnum_frac >= min_alnum_frac)
            & ~is_autogen & ~is_xml)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_lines.alias("n_lines"),
        max_line.alias("max_line_len"),
        mean_line.alias("mean_line_r"),
        alnum_frac.alias("alnum_frac_r"),
        is_autogen.alias("is_autogen"),
        is_xml.alias("is_xml"),
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


# Secret-detection patterns (The Stack / StarCoder PII pipeline's
# regex-detectable subset). Written in the common Java-regex/RE2
# dialect intersection: no lookarounds, no backreferences, explicit
# character classes — the SAME pattern strings drive the Spark
# expressions and any SQL-twin oracle.
AWS_KEY_RE = "AKIA[0-9A-Z]{16}"
PRIVATE_KEY_RE = "-----BEGIN [A-Z ]*PRIVATE KEY-----"
IPV4_RE = ("(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
           "(\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}")
ASSIGNED_SECRET_RE = ("(api_key|apikey|secret|token|passwd|password)"
                      "[ ]*[=:][ ]*[\"'][^\"']{8,}[\"']")


def scrub_secrets(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Code-secret scrubbing (The Stack v2 / StarCoder PII pass,
    Lozhkov et al. 2024 §4 — the deterministic regex-detectable
    subset): count and redact AWS access-key ids, PEM private-key
    headers, hardcoded assigned secrets (``api_key = "…"`` shapes,
    case-insensitive on the key name), and IPv4 literals, emitting
    per-doc counts and the md5 of the scrubbed text so downstream
    stages can verify the exact surviving content.

    Redaction order is fixed (AWS -> private key -> assigned ->
    IPv4), each replacing with an angle-bracket placeholder; counts
    are taken against the text as it stood when that rule ran, so an
    IPv4 inside an already-redacted secret counts once, as the
    secret. Pure regexp column expressions — codegen'd,
    partition-local, zero shuffle (the :func:`scrub_text`
    discipline, extended to the code-corpus secret families)."""
    text = F.col(text_col)
    aws_gone = F.regexp_replace(text, AWS_KEY_RE, "<AWSKEY>")
    pk_gone = F.regexp_replace(aws_gone, PRIVATE_KEY_RE, "<PRIVKEY>")
    asg_re = "(?i)" + ASSIGNED_SECRET_RE
    asg_gone = F.regexp_replace(pk_gone, asg_re, "<SECRET>")
    clean = F.regexp_replace(asg_gone, IPV4_RE, "<IP>")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.regexp_extract_all(text, F.lit(AWS_KEY_RE), 0))
        .cast("long").alias("n_aws"),
        F.size(F.regexp_extract_all(aws_gone, F.lit(PRIVATE_KEY_RE), 0))
        .cast("long").alias("n_privkey"),
        F.size(F.regexp_extract_all(pk_gone, F.lit(asg_re), 0))
        .cast("long").alias("n_assigned"),
        F.size(F.regexp_extract_all(asg_gone, F.lit(IPV4_RE), 0))
        .cast("long").alias("n_ipv4"),
        F.md5(clean).alias("clean_hash"),
    )


def license_phrase_re(frag: str) -> str:
    """Word-boundary regex for a license phrase fragment: bare
    containment tags 'unlicensed' (common in PROPRIETARY headers —
    "Unlicensed copying of this file is prohibited") as Unlicense
    with keep=true, the opposite of the permissive gate's documented
    conservative bias; 'permit licensee' would likewise contain
    'mit license'.  `(^|[^a-z0-9])frag($|[^a-z0-9])` is expressible
    identically in Java regex (Spark rlike) and RE2 (DuckDB
    regexp_matches), so the oracle compiler emits the same pattern."""
    import re as _re

    return "(^|[^a-z0-9])" + _re.escape(frag) + "($|[^a-z0-9])"


LICENSE_PHRASES = [
    # phrase fragments (lowercased word-boundary regex match, see
    # license_phrase_re) → canonical license id,
    # ordered MOST specific first: detection takes the first hit, so
    # "apache license" must not shadow "apache license, version 2.0"
    ("apache license, version 2.0", "Apache-2.0"),
    ("apache license version 2.0", "Apache-2.0"),
    ("gnu lesser general public license", "LGPL"),
    ("gnu affero general public license", "AGPL"),
    ("gnu general public license", "GPL"),
    ("mozilla public license", "MPL-2.0"),
    ("mit license", "MIT"),
    ("permission is hereby granted, free of charge", "MIT"),
    ("bsd 3-clause", "BSD-3-Clause"),
    ("bsd 2-clause", "BSD-2-Clause"),
    ("redistribution and use in source and binary forms", "BSD"),
    ("unlicense", "Unlicense"),
    ("creative commons", "CC"),
]

PERMISSIVE_LICENSES = {"Apache-2.0", "MIT", "BSD", "BSD-2-Clause",
                       "BSD-3-Clause", "Unlicense", "ISC", "0BSD",
                       "MPL-2.0"}

SPDX_RE = ("SPDX-License-Identifier:[ \\t]*"
           "([A-Za-z0-9.+-]+(?: (?:OR|AND|WITH) [A-Za-z0-9.+-]+)*)")


def license_tags(docs: DataFrame, *, head_lines: int = 30,
                 permissive: set[str] | None = None,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """License detection for code files (The Stack's license filter,
    Kocetkov et al. 2022 §3 — the gate that decides whether a file may
    enter a permissively-licensed corpus): an explicit
    ``SPDX-License-Identifier:`` tag anywhere in the first
    ``head_lines`` lines wins verbatim; otherwise the first matching
    header phrase (most-specific-first table, lowercased containment)
    names the license; otherwise NULL (no license detected — The
    Stack routes those to the non-permissive split).

    Output: (doc_id, spdx, phrase_license, license, permissive, keep)
    — ``keep`` is the permissive-corpus verdict: license detected AND
    in ``permissive`` (defaults to :data:`PERMISSIVE_LICENSES`). An
    SPDX EXPRESSION (``Apache-2.0 OR MIT``) is captured whole and
    kept verbatim, so it matches only if that exact string is in the
    allowlist — conservative by default; add the expressions you
    accept rather than having them parsed silently.

    Scale shape: ZERO shuffle — one head-slice + one regexp_extract +
    a fixed CASE chain of containments, all per-row codegen (the
    stack_rules discipline)."""
    allowed = permissive if permissive is not None else PERMISSIVE_LICENSES
    lines = F.split(F.col(text_col), "\n")
    head = F.array_join(F.slice(lines, 1, head_lines), "\n")
    spdx = F.regexp_extract(head, SPDX_RE, 1)
    spdx = F.when(spdx != "", spdx)          # '' → NULL
    low = F.lower(head)
    phrase = F.lit(None).cast("string")
    # build the CASE chain in REVERSE so the first table entry wins
    for frag, lic in reversed(LICENSE_PHRASES):
        phrase = F.when(low.rlike(license_phrase_re(frag)),
                        F.lit(lic)).otherwise(phrase)
    license_ = F.coalesce(spdx, phrase)
    perm = F.when(license_.isNull(), F.lit(False)).otherwise(
        license_.isin(*sorted(allowed)))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        spdx.alias("spdx"),
        phrase.alias("phrase_license"),
        license_.alias("license"),
        perm.alias("permissive"),
        perm.alias("keep"),
    )
