"""Time-travel BM25 queries over index generations (VERDICT r04 #8).

The catalog keeps Iceberg-style snapshot history (catalog.py:
snapshots/load(version=)); the index's data layout is append-only
between rewrites (each ``append_documents`` adds ``shards_gen{g}`` /
``doclens_gen{g}`` with a disjoint, higher docID range — Lucene
segments). Those two facts make the generation count a usable snapshot
axis: querying "as of generation g" reads exactly the gen dirs that
existed then, turning the r4 snapshot metadata into a reproducibility
guarantee — a pre-append result can be re-derived EXACTLY after the
append (pytest-asserted: ids AND scores).

What must be reconstructed (and why it can't just be read):
- per-term df: ``append_documents`` OVERWRITES the global terms table,
  so as-of dfs are re-summed from the generation subset's block-0 rows
  — restricted to the QUERY terms, so the cost is per-query-term, not
  vocab-wide;
- corpus stats: recomputed from the doclens subset (one cheap agg) —
  equal to the stats.json the build wrote at that generation;
- postings: term-pushdown block reads from the subset, decoded with the
  shared batch codec; scoring is the exact join scorer (bm25.py), which
  is rank-identical to the WAND serving path by the suite's standing
  invariant.

Limits (documented, loud): a rewrite (``compact_index``,
``merge_generations``) replaces generation dirs in place — afterwards
snapshots still DOCUMENT history (catalog.snapshots) but generations
that were merged away no longer resolve to readable data; this module
raises rather than serving a partial union. Current tombstones apply
(deletes are not versioned by generation); corpus stats keep their
as-of values, mirroring the live path's Lucene-style pre-delete stats.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analyze import tokenize_text
from .bm25 import bm25_topk
from .build import load_stats, term_dfs, union_parquet_dirs
from .codec import decode_blocks_flat_batch
from .deletes import filter_deleted
from .postings import CorpusStats


def _gen_subset(
    spark: SparkSession, index_dir: str, table: str, g: int
) -> DataFrame:
    dirs = [os.path.join(index_dir, table)] + [
        os.path.join(index_dir, f"{table}_gen{i}") for i in range(1, g)
    ]
    missing = [d for d in dirs if not os.path.exists(d)]
    if missing:
        raise RuntimeError(
            f"generations 1..{g} of {table!r} are not all readable "
            f"({missing} missing) — a compaction/merge rewrote them; "
            "snapshot metadata remains in catalog.snapshots() but the "
            "as-of data is gone"
        )
    return union_parquet_dirs(spark, dirs)


def topk_as_of(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    generations: int | None = None,
) -> DataFrame:
    """BM25 top-k as of an earlier generation count.

    ``generations=g`` queries the index exactly as it stood after its
    g-th visible state (base build = 1, each append +1); None = current
    (useful for parity checks). Returns (doc_id, score), identical —
    ids and rounded scores — to what ``wand.topk`` returned when the
    index actually had g generations.
    """
    stats = load_stats(index_dir)
    cur = int(stats.get("generations", 1))
    g = cur if generations is None else int(generations)
    if not 1 <= g <= cur:
        raise ValueError(
            f"generations must be in [1, {cur}] (current count); got {g}"
        )
    # the index's analysis chain applies as-of any generation (the chain
    # is immutable index config, recorded at build time in stats.json)
    from .wand import _query_terms

    terms = _query_terms(stats, query)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    shards = _gen_subset(spark, index_dir, "shards", g).filter(
        F.col("term").isin(terms)
    )
    # as-of dfs: summed exactly as the terms-table rebuild sums them at
    # append time
    tdf = term_dfs(shards)

    def decode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            d, t, off = decode_blocks_flat_batch(
                pdf["min_doc"].to_numpy(),
                pdf["docs_payload"].tolist(),
                pdf["tfs_payload"].tolist(),
            )
            if d.size:
                yield pd.DataFrame(
                    {
                        "term": np.repeat(pdf["term"].to_numpy(), np.diff(off)),
                        "doc_id": d,
                        "tf": t,
                    }
                )

    postings = shards.select(
        "term", "min_doc", "docs_payload", "tfs_payload"
    ).mapInPandas(decode, "term string, doc_id long, tf long")
    postings = filter_deleted(spark, index_dir, postings)

    dls = _gen_subset(spark, index_dir, "doclens", g).select("doc_id", "dl")
    agg = dls.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    cstats = CorpusStats(n_docs=int(agg["n"]), avgdl=float(agg["avgdl"] or 0.0))
    # pass the ANALYZED terms (chain-aware), not the raw string — bm25's
    # own tokenizer is the default grammar
    return bm25_topk(spark, postings, dls, tdf, cstats, terms, k)
