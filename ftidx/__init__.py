"""ftidx — PySpark-native full-text inverted index + BM25 top-k engine.

A from-scratch re-expression of the capability surface of
DBCDK/rawrepo-solr-indexer (reference at /root/reference, studied in
SURVEY.md): the record→search-document field-mapping pipeline
(Indexer.java:195-217, indexer.js:131-202) becomes a vectorized
code-aware tokenizer over a source-file table, and the Solr-delegated
index build + keyword retrieval (Indexer.java:224-229,
IndexerIT.java:98-105) becomes native posting-list construction
(delta-gap + varint), a salted shuffle merge, BM25 (k1=1.2, b=0.75)
document statistics, and MaxScore-pruned top-k scoring — all
DataFrame-first with Arrow-vectorized pandas UDFs on the slow path.

Nothing here is a port: the reference is a row-at-a-time Jakarta EE
queue drainer; this is a columnar, partition-parallel Spark job
designed for 10^12-file scale (see DESIGN notes in each module).
"""

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
