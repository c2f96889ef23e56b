"""Block-max WAND engine: rank-identity with exact scorer + real block skipping."""

from __future__ import annotations

import os

import numpy as np
import pytest

from es_loaders_spark.bm25 import bm25_topk
from es_loaders_spark.build import build_index
from es_loaders_spark.codec import encode_postings
from es_loaders_spark.postings import corpus_stats, doc_lengths, postings_long, term_df
from es_loaders_spark.wand import bmw_topk_kernel, idf, topk

QUERIES = [
    "spark query data",
    "the fast table scan",
    "customer order line window merge",
    "hash join",
    "the of and",          # pure stopwords — worst case
    "w0500 w0700",         # rare terms
    "zzz_not_a_term",      # OOV
    "spark",               # single term
]


@pytest.fixture(scope="module")
def built(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wand_index"))
    build_index(spark, documents, d, n_shards=4)
    postings = postings_long(documents).cache()
    dl = doc_lengths(documents).cache()
    tdf = term_df(postings).cache()
    stats = corpus_stats(dl)
    return d, postings, dl, tdf, stats


def test_wand_rank_identity_vs_exact(spark, built):
    d, postings, dl, tdf, stats = built
    for q in QUERIES:
        got = [(r["doc_id"], r["score"]) for r in topk(spark, d, q, k=10).collect()]
        want = [
            (r["doc_id"], r["score"])
            for r in bm25_topk(spark, postings, dl, tdf, stats, q, k=10).collect()
        ]
        assert [x for x, _ in got] == [x for x, _ in want], f"rank differs for {q!r}"
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-3, f"score mismatch for {q!r}"


def test_wand_k_variants(spark, built):
    d, postings, dl, tdf, stats = built
    for k in (1, 3, 100, 1000):
        got = [(r["doc_id"], r["score"]) for r in topk(spark, d, "spark data the", k=k).collect()]
        want = [
            (r["doc_id"], r["score"])
            for r in bm25_topk(spark, postings, dl, tdf, stats, "spark data the", k=k).collect()
        ]
        assert [x for x, _ in got] == [x for x, _ in want], f"k={k}"


def test_topk_batch_matches_per_query(spark, built):
    """msearch-analogue batch == N individual queries (SURVEY A9)."""
    from es_loaders_spark.wand import topk_batch

    d, postings, dl, tdf, stats = built
    batch = {f"q{i}": q for i, q in enumerate(QUERIES)}
    got = topk_batch(spark, d, batch, k=10).collect()
    by_query: dict = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in batch.items():
        want = [
            (i + 1, r["doc_id"], r["score"])
            for i, r in enumerate(topk(spark, d, q, k=10).collect())
        ]
        assert sorted(by_query.get(qid, [])) == want, f"batch differs for {q!r}"


def test_kernel_skips_blocks():
    """Selective term + stopword: most stopword blocks must be skipped."""
    rng = np.random.RandomState(0)
    n_docs = 50_000
    avgdl = 100.0
    dls = np.full(n_docs, 100, dtype=np.int64)

    # 'common' in every doc, tf=1; 'rare' in 50 docs with high tf
    common_docs = np.arange(n_docs, dtype=np.int64)
    common_tfs = np.ones(n_docs, dtype=np.int64)
    rare_docs = np.sort(rng.choice(n_docs, size=50, replace=False)).astype(np.int64)
    rare_tfs = np.full(50, 20, dtype=np.int64)

    term_blocks = {
        "common": [vars(b) for b in encode_postings(common_docs, common_tfs, dls)],
        "rare": [vars(b) for b in encode_postings(rare_docs, rare_tfs, dls[:50])],
    }
    term_idfs = {
        "common": idf(n_docs, n_docs),
        "rare": idf(n_docs, 50),
    }
    docs, scores, metrics = bmw_topk_kernel(
        term_blocks, term_idfs, common_docs, dls, avgdl, k=10
    )
    assert docs.size == 10
    # every top doc must contain 'rare' (its idf dwarfs 'common')
    assert set(docs).issubset(set(rare_docs.tolist()))
    assert metrics["decoded"] < metrics["total"] * 0.2, metrics  # real skipping

    # exactness: brute force over the same postings
    brute = np.zeros(n_docs)
    for t, blocks in term_blocks.items():
        from es_loaders_spark.codec import decode_postings
        d, tf = decode_postings(blocks)
        tfn = tf.astype(float) * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * 100 / avgdl))
        brute[d] += term_idfs[t] * tfn
    order = np.lexsort((np.arange(n_docs), -brute))[:10]
    assert list(docs) == list(order)
    assert np.allclose(scores, brute[order], atol=1e-9)


def test_build_warm_eagerly_populates_serving_cache(spark, documents, tmp_path_factory):
    """build_index(warm=True) must leave a CURRENT warm-index entry so the
    first interactive query skips cache materialization, and results match
    a cold index exactly."""
    import os as _os

    from es_loaders_spark.resources import WARM_INDEXES
    from es_loaders_spark.wand import _WarmIndex

    d = str(tmp_path_factory.mktemp("warmidx"))
    build_index(spark, documents, d, n_shards=4, warm=True)
    key = _os.path.abspath(d)
    cached = WARM_INDEXES.get(key)
    assert cached is not None and cached.token == _WarmIndex._snapshot_token(d)
    got = [(r["doc_id"], r["score"]) for r in topk(spark, d, "spark data", k=5).collect()]
    assert WARM_INDEXES.get(key) is cached  # the query reused the eager cache
    d2 = str(tmp_path_factory.mktemp("coldidx"))
    build_index(spark, documents, d2, n_shards=4)
    want = [(r["doc_id"], r["score"]) for r in topk(spark, d2, "spark data", k=5).collect()]
    assert got == want


def test_evict_index_releases_cache_and_requery_rebuilds(
    spark, documents, tmp_path_factory
):
    import os as _os

    from es_loaders_spark.resources import WARM_INDEXES
    from es_loaders_spark.wand import evict_index

    d = str(tmp_path_factory.mktemp("evictidx"))
    build_index(spark, documents, d, n_shards=4, warm=True)
    key = _os.path.abspath(d)
    assert WARM_INDEXES.get(key) is not None
    before = [(r["doc_id"], r["score"]) for r in topk(spark, d, "spark data", k=5).collect()]
    evict_index(d)
    assert WARM_INDEXES.get(key) is None
    evict_index(d)  # idempotent on a cold index
    # a later query on the still-live index rebuilds the cache and matches
    after = [(r["doc_id"], r["score"]) for r in topk(spark, d, "spark data", k=5).collect()]
    assert after == before and WARM_INDEXES.get(key) is not None


def test_kernel_large_k_exact():
    """k at and beyond T2's max_result_window (50000): the bounded-heap
    bookkeeping (pre-fill buffer, θ-gated entrants, sorted-merge seen)
    must stay exact vs brute force — including k > total matching docs."""
    rng = np.random.RandomState(1)
    n_docs = 60_000
    avgdl = 100.0
    dls = np.full(n_docs, 100, dtype=np.int64)
    all_docs = np.arange(n_docs, dtype=np.int64)
    stop_tfs = rng.randint(1, 5, n_docs).astype(np.int64)
    mid = np.sort(rng.choice(n_docs, 9_000, replace=False)).astype(np.int64)
    term_blocks = {
        "the": [vars(b) for b in encode_postings(all_docs, stop_tfs, dls)],
        "data": [vars(b) for b in encode_postings(mid, np.full(9_000, 3, dtype=np.int64), dls[mid])],
    }
    term_idfs = {"the": idf(n_docs, n_docs), "data": idf(n_docs, 9_000)}

    from es_loaders_spark.codec import decode_postings
    brute = np.zeros(n_docs)
    for t, blocks in term_blocks.items():
        d, tf = decode_postings(blocks)
        tfn = tf.astype(float) * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * 100 / avgdl))
        brute[d] += term_idfs[t] * tfn

    for k in (50_000, 70_000):  # at the cap; beyond the corpus size
        docs, scores, _ = bmw_topk_kernel(
            term_blocks, term_idfs, all_docs, dls, avgdl, k=k
        )
        order = np.lexsort((np.arange(n_docs), -np.round(brute, 4)))[:k]
        assert list(docs) == list(order)
        assert np.allclose(scores, brute[order], atol=1e-9)


def test_topk_merged_rank_identical(spark, documents, tmp_path_factory):
    """The merged (salted) table answers BM25 rank-identically to the
    per-shard WAND path — the merge artifact validated as a query path."""
    from es_loaders_spark.merge import merge_index
    from es_loaders_spark.wand import topk_merged

    d = str(tmp_path_factory.mktemp("merged_q_idx"))
    build_index(spark, documents, d, n_shards=4)
    merge_index(spark, d, hot_df_threshold=50, n_salts=4, n_buckets=8)
    for q in ["spark query data", "the fast scan", "w0005 the"]:
        a = [(r["doc_id"], r["score"]) for r in topk(spark, d, q, k=15).collect()]
        b = [(r["doc_id"], r["score"]) for r in topk_merged(spark, d, q, k=15).collect()]
        assert a == b, q


def test_serve_matches_cogroup_and_survives_mutations(spark, documents, built):
    """The single-stage serving path (warm cache + per-task shard reads)
    is rank-identical to the cogroup path, and the warm cache invalidates
    on deletes (snapshot-token check)."""
    d, *_ = built
    for q in QUERIES:
        a = [(r["doc_id"], r["score"])
             for r in topk(spark, d, q, k=10, mode="serve").collect()]
        b = [(r["doc_id"], r["score"])
             for r in topk(spark, d, q, k=10, mode="cogroup").collect()]
        assert a == b, q

    from pyspark.sql import functions as F

    from es_loaders_spark.deletes import delete_ids

    before = {r["doc_id"] for r in topk(spark, d, "spark query data", k=30).collect()}
    victims = sorted(before)[:3]
    delete_ids(spark, d, spark.createDataFrame([(i,) for i in victims], "doc_id long"))
    after = {r["doc_id"] for r in topk(spark, d, "spark query data", k=30).collect()}
    assert not (after & set(victims))
    a = [(r["doc_id"], r["score"])
         for r in topk(spark, d, "spark query data", k=10, mode="serve").collect()]
    b = [(r["doc_id"], r["score"])
         for r in topk(spark, d, "spark query data", k=10, mode="cogroup").collect()]
    assert a == b


def test_merged_kernel_prunes_blocks(spark, documents, tmp_path_factory):
    """The merged-table query path runs the block-max kernel (not the
    exhaustive scorer): on a stopword query the kernel decodes strictly
    fewer blocks than the term's total (VERDICT r02 #7)."""
    from pyspark.sql import functions as F

    from es_loaders_spark.build import build_index
    from es_loaders_spark.merge import merge_index
    from es_loaders_spark.wand import _TermCursor, bmw_topk_cursors, term_blocks_from_flat

    d = str(tmp_path_factory.mktemp("merged_prune"))
    build_index(spark, documents, d, n_shards=4)
    merge_index(spark, d, hot_df_threshold=50, n_salts=4, n_buckets=8)

    dls = spark.read.parquet(f"{d}/doclens").orderBy("doc_id").toPandas()
    import numpy as np

    doc_sorted = dls["doc_id"].to_numpy(dtype=np.int64)
    dl_sorted = dls["dl"].to_numpy(dtype=np.int64)
    import json as _json
    import os as _os

    with open(_os.path.join(d, "stats.json")) as f:
        stats = _json.load(f)
    terms = ["the", "data"]
    tdf = {
        r["term"]: int(r["df"])
        for r in spark.read.parquet(f"{d}/terms").filter(F.col("term").isin(terms)).collect()
    }
    idx_pdf = (
        spark.read.parquet(f"{d}/merged")
        .filter(F.col("term").isin(terms))
        .toPandas()
    )
    from es_loaders_spark.wand import idf as _idf

    cursors = [
        _TermCursor(blocks, _idf(stats["n_docs"], tdf[t]), stats["avgdl"])
        for t, blocks in term_blocks_from_flat(idx_pdf).items()
    ]
    _, _, metrics = bmw_topk_cursors(
        cursors, doc_sorted, dl_sorted, stats["avgdl"], 10
    )
    assert metrics["total"] > 0
    # at sf0.001 a stopword has only ~6 blocks, so block skipping may not
    # trigger; the candidate-pruning metric is the stable signal that the
    # block-max kernel (not the exhaustive scorer) ran over merged rows
    assert metrics["decoded"] <= metrics["total"], metrics
    assert metrics["scored"] < metrics["postings"], metrics


def test_warm_index_cache_is_bounded(spark, tmp_path_factory):
    """The warm-index pool evicts LRU beyond its cap (no unbounded
    persist leak)."""
    from es_loaders_spark.build import build_index
    from es_loaders_spark.resources import WARM_INDEXES
    from es_loaders_spark.wand import topk

    dirs = []
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(30)], "doc_id long, text string"
    )
    old_cap = WARM_INDEXES.cap
    WARM_INDEXES.cap = 2
    try:
        for i in range(3):
            d = str(tmp_path_factory.mktemp(f"warm{i}"))
            build_index(spark, docs, d, n_shards=2, positions=False)
            topk(spark, d, "alpha", k=3).collect()
            dirs.append(os.path.abspath(d))
        assert len(WARM_INDEXES) <= 2
        assert WARM_INDEXES.get(dirs[0]) is None  # oldest evicted
        # evicted index still queryable (re-warms on demand)
        assert topk(spark, dirs[0], "alpha", k=3).count() == 3
    finally:
        WARM_INDEXES.cap = old_cap


def test_sorted_segments_structure():
    """_SortedSegments (VERDICT r04 #7): set semantics identical to one
    sorted array; segment count stays logarithmic in inserted batches."""
    import numpy as np

    from es_loaders_spark.wand import _SortedSegments

    rng = np.random.RandomState(7)
    seen = _SortedSegments()
    reference: set[int] = set()
    for _ in range(200):
        batch = np.unique(rng.randint(0, 100_000, size=rng.randint(1, 400)))
        fresh = batch[~seen.contains(batch)]
        assert set(fresh.tolist()) == set(batch.tolist()) - reference
        seen.add(fresh)
        reference |= set(fresh.tolist())
    assert seen.size == len(reference)
    assert len(seen.segs) <= 2 * int(np.log2(seen.size)) + 2
    probe = np.arange(0, 100_000, 37, dtype=np.int64)
    got = seen.contains(probe)
    want = np.array([int(x) in reference for x in probe])
    assert np.array_equal(got, want)
