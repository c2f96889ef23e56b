"""The engine's cross-call Spark state (es_loaders_spark.resources).

Every relation the engine keeps cached between calls must be released by
a public call, a caller's own cache must stay the caller's, and a
SparkSession restart must leave serving working.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from pyspark import StorageLevel

from es_loaders_spark import dsl
from es_loaders_spark.build import assign_doc_ids, build_index, release_doc_id_caches
from es_loaders_spark.phrase import phrase_docs, phrase_prefix_docs
from es_loaders_spark.querystring import release_query_string_caches
from es_loaders_spark.wand import evict_index, warm_index

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORDS = ["spark", "data", "index", "query", "table", "crawl", "token"]
# (doc_id, text): a fixed vocabulary walk in which every query below
# matches. The queries use disjoint term sets, so no two of them build the
# same plan: a leaked cache cannot hide behind a plan-matched release.
ROWS = [
    (i, " ".join(_WORDS[(i * k + k * k) % len(_WORDS)] for k in range(1, 9)))
    for i in range(40)
]
QS_PHRASE = {"query": {"query_string": {"query": '"index spark"', "serve": "index"}},
             "size": 50}
SPAN_NEAR = {"query": {"span_near": {
    "clauses": [{"span_term": {"text": "crawl"}}, {"span_term": {"text": "token"}}],
    "slop": 2, "in_order": False,
}}, "size": 50}


def test_assign_doc_ids_leaves_a_caller_cache_cached(spark):
    urls = spark.createDataFrame([(f"u{i:03d}",) for i in range(50)], "url string").cache()
    urls.count()
    out = assign_doc_ids(urls)
    assert sorted(r.doc_id for r in out.collect()) == list(range(50))
    assert urls.storageLevel != StorageLevel.NONE
    release_doc_id_caches(out)
    assert urls.storageLevel != StorageLevel.NONE
    urls.unpersist()


def test_release_and_evict_free_every_query_persist(spark, tmp_path):
    from es_loaders_spark.resources import WARM_INDEXES

    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_index(spark, docs, idx, n_shards=2)
    # start from empty pools: an LRU eviction of another test's entry
    # mid-count would hide a leak
    release_query_string_caches()
    WARM_INDEXES.clear()
    jsc = spark.sparkContext._jsc.sc()
    start = jsc.getPersistentRDDs().size()

    assert phrase_docs(spark, idx, "spark data").count() > 0
    assert phrase_prefix_docs(spark, idx, "table qu").count() > 0
    assert dsl.search(spark, docs, SPAN_NEAR, index_dir=idx).count() > 0
    assert dsl.search(spark, docs, QS_PHRASE, index_dir=idx).count() > 0
    warm_index(spark, idx)
    assert jsc.getPersistentRDDs().size() > start

    release_query_string_caches()
    evict_index(idx)
    assert jsc.getPersistentRDDs().size() == start


_RESTART_SCRIPT = textwrap.dedent("""
    import sys

    from pyspark.sql import functions as F

    from es_loaders_spark import dsl
    from es_loaders_spark.build import (
        assign_doc_ids, build_index, release_doc_id_caches)
    from es_loaders_spark.dedup import lsh_verified_pairs, release_dedup_caches
    from es_loaders_spark.querystring import release_query_string_caches
    from es_loaders_spark.session import get_spark
    from es_loaders_spark.wand import evict_index, topk, warm_index
    from tests.test_resources import QS_PHRASE, ROWS

    idx = sys.argv[1]

    def session():
        spark = get_spark("restart", cores=2, shuffle_partitions=4)
        return spark, spark.createDataFrame(ROWS, "doc_id long, text string")

    def ranking(spark):
        return [(r.doc_id, r.score) for r in topk(spark, idx, "spark data", k=5).collect()]

    def phrase_hits(spark, docs):
        return sorted(r.doc_id for r in dsl.search(spark, docs, QS_PHRASE, index_dir=idx).collect())

    spark, docs = session()
    build_index(spark, docs, idx, n_shards=2)
    warm_index(spark, idx)
    want, want_phrase = ranking(spark), phrase_hits(spark, docs)
    ids = assign_doc_ids(docs.select(F.concat(F.lit("u"), "doc_id").alias("url")))
    ids.count()
    lsh_verified_pairs(docs).count()
    spark.stop()

    spark, docs = session()
    assert want and ranking(spark) == want, (ranking(spark), want)
    assert want_phrase and phrase_hits(spark, docs) == want_phrase
    release_query_string_caches()
    release_dedup_caches()
    release_doc_id_caches(ids)
    release_doc_id_caches()
    evict_index(idx)
    spark.stop()
    print("RESTART OK")
""")


def test_session_restart_keeps_serving_and_releasing(tmp_path):
    """Warm an index, cache query/phrase, doc-id and dedup relations, stop
    the session, start a new one: the warm index re-serves the same
    ranking and every release call runs clean. Its own process, so the
    suite's shared session is untouched."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, str(tmp_path / "idx")],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0 and "RESTART OK" in proc.stdout, proc.stderr[-4000:]


def test_aux_pool_jobs_carry_no_build_label(spark, tmp_path):
    """build_index labels the jobs it runs on the shared driver pool; a
    later job on those pool threads must not be reported under one of
    them."""
    from es_loaders_spark.resources import AUX_POOL

    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    build_index(spark, docs, str(tmp_path / "idx"), n_shards=2)
    sc = spark.sparkContext
    # the thread's description is the one Spark attaches to a job it submits
    futures = [
        AUX_POOL.submit(sc.getLocalProperty, "spark.job.description")
        for _ in range(8)
    ]
    assert [f.result() for f in futures] == [None] * 8
