"""Content-hash cache pattern + fixture-graph cache release tests.

Pins the dedup-before-expensive-UDF cache pattern
(blarify services/embedding_service.py:109-144) and that the
`kg_queries` fixture-graph memos release every cached DataFrame.
"""

from __future__ import annotations


def test_content_hash_cache_computes_once_per_distinct(spark):
    """The expensive step's input is the deduped hash set, not the corpus:
    with duplicated texts, the UDF-side row count equals the number of
    DISTINCT contents while every doc still receives a feature."""
    from pyspark.sql import functions as F

    from blarify_spark.functions.udfs import ctx_embedding_udf

    docs = spark.createDataFrame(
        [(i, "same text here" if i % 2 else f"unique text {i}") for i in range(10)],
        "doc_id int, text string",
    )
    hashed = docs.select("doc_id", F.md5("text").alias("h"), "text")
    distinct = hashed.select("h", "text").dropDuplicates(["h"])
    assert distinct.count() == 6  # 5 unique + 1 shared
    feats = distinct.select(
        "h",
        ctx_embedding_udf(F.split("text", " ")).alias("emb"),
    )
    served = hashed.join(feats, "h").select("doc_id", "emb")
    assert served.count() == 10  # every doc served from 6 computations
    embs = {r["doc_id"]: tuple(r["emb"]) for r in served.collect()}
    assert embs[1] == embs[3] == embs[9]  # shared content, shared vector


def test_clear_kg_caches_unpersists_everything(spark):
    """VERDICT r04 #3: the module-level fixture-graph memos (_CACHE /
    _CACHE_WF / _CACHE2) must release every cached DataFrame on an
    explicit clear — no storage held for the session's lifetime."""
    from pyspark.sql import DataFrame

    from blarify_spark.operators import kg_queries as kq

    # populate all three memo layers
    kq._kg(spark)
    kq._kg_wf(spark)
    kq._kg_incr(spark)

    cached = [
        v
        for cache in (kq._CACHE, kq._CACHE_WF, kq._CACHE2)
        for entry in cache.values()
        for v in entry.values()
        if isinstance(v, DataFrame) and v.storageLevel.useMemory
    ]
    assert cached, "expected memoized DataFrames to be cached"

    kq.clear_kg_caches()
    assert not kq._CACHE and not kq._CACHE_WF and not kq._CACHE2
    for df in cached:
        assert not df.storageLevel.useMemory, "DataFrame still cached"
