"""Block-max top-k BM25 query engine over the compressed sharded index.

Architecture mirrors what Elasticsearch does for every ``search`` the
reference issues (public ES/Lucene execution model; SURVEY §2.6 T3,
§3.3): each shard computes a local top-k with block-max pruning, a
coordinator merge takes the global top-k. Here: per-shard
``applyInPandas`` kernels → ``orderBy(desc(score)).limit(k)``
(TakeOrderedAndProject) — no collect of posting data on the driver.

Pruning kernel: **Block-Max MaxScore** — the vectorizable member of the
block-max WAND family (same skip guarantees as classic BMW:
a block of term t is decoded only if
``block_ub(t) + Σ ub(weaker terms) > θ``). Chosen over pivot-based
document-at-a-time WAND because it vectorizes with numpy inside Arrow
batches instead of a per-doc Python loop; results are EXACT — tests
assert rank-identity (ids and scores) with the uncompressed join scorer
(bm25.py) and the DuckDB oracle.

Scores accumulate in float64 over terms sorted by descending term upper
bound; final scores rounded to SCORE_DECIMALS like the exact scorer.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analyze import tokenize_text
from .bm25 import SCORE_DECIMALS
from .codec import decode_block
from .postings import B, K1
from .resources import WARM_INDEXES


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def term_blocks_from_flat(idx_pdf: pd.DataFrame) -> dict[str, list[dict]]:
    """Group flat block rows (build.INDEX_SCHEMA) into term → ordered blocks.

    Ordered by min_doc (not block_id): appended generations contribute
    additional block rows with disjoint higher docID ranges, and cursor
    skip logic needs blocks in global doc order.
    """
    out: dict[str, list[dict]] = {}
    srt = idx_pdf.sort_values(["term", "min_doc"], kind="stable")
    for term, g in srt.groupby("term", sort=False):
        out[term] = g.to_dict("records")
    return out


class _TermCursor:
    """Decoded-on-demand postings of one term inside one shard.

    Block score bounds are computed AT QUERY TIME from the stored impact
    SKYLINE (Pareto frontier of (tf, dl) pairs; codec._block_skyline):
    max over the skyline of idf · tf_norm(tf, dl, avgdl_now) equals the
    block's true maximum for ANY avgdl — tight AND sound under appended
    generations. Legacy rows without skylines fall back to the looser
    (max_tf, min_dl) bound.
    """

    __slots__ = (
        "blocks", "idf", "block_ubs", "min_docs", "max_docs", "_decoded", "ub",
        "k1", "b",
    )

    def __init__(
        self, blocks: list, term_idf: float, avgdl: float,
        k1: float = K1, b: float = B,
    ):
        self.blocks = blocks
        self.idf = term_idf
        # k1/b are stored so scoring kernels use the SAME parameters the
        # block bounds were computed with (a mismatch makes pruning
        # unsound — bounds could undercut true block maxima).
        self.k1 = k1
        self.b = b
        from .codec import tf_norm, varint_decode

        ubs = np.empty(len(blocks))
        for i, blk in enumerate(blocks):
            sky_t = varint_decode(bytes(blk.get("sky_tfs_payload") or b""))
            if sky_t.size:
                sky_d = varint_decode(bytes(blk["sky_dls_payload"]))
                # tight bound: max tf_norm over the (tf, dl) Pareto skyline
                ubs[i] = tf_norm(
                    sky_t.astype(np.float64), sky_d.astype(np.float64), avgdl,
                    k1=k1, b=b,
                ).max()
            else:  # legacy rows without skylines: loose (max_tf, min_dl)
                ubs[i] = tf_norm(
                    np.asarray([blk["max_tf"]], dtype=np.float64),
                    np.asarray([blk["min_dl"]], dtype=np.float64),
                    avgdl,
                    k1=k1,
                    b=b,
                )[0]
        self.block_ubs = term_idf * ubs if blocks else np.empty(0)
        self.min_docs = np.asarray([b["min_doc"] for b in blocks], dtype=np.int64)
        self.max_docs = np.asarray([b["max_doc"] for b in blocks], dtype=np.int64)
        self._decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.ub = float(self.block_ubs.max()) if blocks else 0.0

    def decode(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        if i not in self._decoded:
            self._decoded[i] = decode_block(self.blocks[i])
        return self._decoded[i]

    @property
    def blocks_decoded(self) -> int:
        return len(self._decoded)

    def all_docs(self, block_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        if block_ids.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        parts = [self.decode(int(i)) for i in block_ids]
        return (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
        )

    def tf_for(self, docs: np.ndarray) -> np.ndarray:
        """tf per requested doc (0 if absent) — decodes only covering blocks."""
        tfs = np.zeros(docs.size, dtype=np.int64)
        if not self.blocks or docs.size == 0:
            return tfs
        bi = np.searchsorted(self.max_docs, docs)  # candidate covering block
        valid = (bi < len(self.blocks)) & (docs >= self.min_docs[np.minimum(bi, len(self.blocks) - 1)])
        for i in np.unique(bi[valid]):
            d, t = self.decode(int(i))
            sel = valid & (bi == i)
            pos = np.searchsorted(d, docs[sel])
            hit = (pos < d.size) & (d[np.minimum(pos, d.size - 1)] == docs[sel])
            out = np.zeros(sel.sum(), dtype=np.int64)
            out[hit] = t[pos[hit]]
            tfs[sel] = out
        return tfs


def bmw_topk_kernel(
    term_blocks: dict[str, list],
    term_idfs: dict[str, float],
    doc_ids_sorted: np.ndarray,
    dls_sorted: np.ndarray,
    avgdl: float,
    k: int,
    k1: float = K1,
    b: float = B,
) -> tuple[np.ndarray, np.ndarray, dict]:
    """Exact block-max-pruned top-k over one shard's postings.

    Returns (doc_ids, scores, metrics) with metrics counting decoded vs
    total blocks (proof of skipping in tests/bench).
    """
    cursors = [
        _TermCursor(term_blocks[t], term_idfs[t], avgdl, k1=k1, b=b)
        for t in sorted(term_blocks)
    ]
    return bmw_topk_cursors(cursors, doc_ids_sorted, dls_sorted, avgdl, k)


class _SortedSegments:
    """Already-scored-docs membership set with amortized O(n log n) total
    maintenance (VERDICT r04 "What's wrong" #2 / next #7).

    The r4 kernel kept one sorted array and ``np.insert``-ed every chunk:
    O(seen + cand) copy per chunk → superlinear accumulated copying in
    scored candidates on a mega-shard stopword query. Here each scored
    chunk appends as its own sorted segment and neighbouring segments
    merge binary-counter style (LSM memtable flushing): the segment count
    stays O(log n), each element is re-merged O(log n) times, and a
    membership probe is one searchsorted per segment. Int64 merges use
    numpy's stable sort (radix for ints — effectively linear)."""

    __slots__ = ("segs", "size")

    def __init__(self) -> None:
        self.segs: list[np.ndarray] = []
        self.size = 0

    def contains(self, cand: np.ndarray) -> np.ndarray:
        """Boolean mask: which of the (sorted) candidates are present."""
        dup = np.zeros(cand.size, dtype=bool)
        for s in self.segs:
            pos = np.searchsorted(s, cand)
            dup |= (pos < s.size) & (s[np.minimum(pos, s.size - 1)] == cand)
        return dup

    def add(self, cand_sorted: np.ndarray) -> None:
        """Insert a sorted, de-duplicated, disjoint-from-self batch."""
        if cand_sorted.size == 0:
            return
        self.segs.append(cand_sorted)
        self.size += cand_sorted.size
        while (
            len(self.segs) >= 2
            and self.segs[-2].size <= 2 * self.segs[-1].size
        ):
            b = self.segs.pop()
            a = self.segs.pop()
            self.segs.append(np.sort(np.concatenate([a, b]), kind="stable"))


def bmw_topk_cursors(
    cursors: list[_TermCursor],
    doc_ids_sorted: np.ndarray,
    dls_sorted: np.ndarray,
    avgdl: float,
    k: int,
) -> tuple[np.ndarray, np.ndarray, dict]:
    """Kernel over prebuilt cursors (batched queries share decode caches).

    k1/b come FROM the cursors (the parameters their block bounds were
    computed with) so a bounds/scoring mismatch is unrepresentable
    (ADVICE r01: caller-passed k1 diverging from cursor bounds made
    pruning unsound).
    """
    cursors = [c for c in cursors if c.blocks]
    if not cursors:
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0),
            {"decoded": 0, "total": 0, "scored": 0, "postings": 0},
        )
    k1, b = cursors[0].k1, cursors[0].b
    if any(c.k1 != k1 or c.b != b for c in cursors):
        raise ValueError("all cursors in one query must share k1/b")
    cursors.sort(key=lambda c: -c.ub)
    tail_ub = np.zeros(len(cursors) + 1)  # tail_ub[j] = Σ ub of cursors[j:]
    for j in range(len(cursors) - 1, -1, -1):
        tail_ub[j] = tail_ub[j + 1] + cursors[j].ub

    def dl_lookup(docs: np.ndarray) -> np.ndarray:
        pos = np.searchsorted(doc_ids_sorted, docs)
        return dls_sorted[pos]

    def full_score(docs: np.ndarray) -> np.ndarray:
        dl = dl_lookup(docs).astype(np.float64)
        norm = k1 * (1.0 - b + b * dl / avgdl)
        total = np.zeros(docs.size)
        for c in cursors:
            tf = c.tf_for(docs).astype(np.float64)
            total += np.where(tf > 0, c.idf * tf * (k1 + 1.0) / (tf + norm), 0.0)
        return total

    theta = -np.inf
    top_docs = np.empty(0, dtype=np.int64)
    top_scores = np.empty(0)
    seen = _SortedSegments()  # already-scored docs (bounded maintenance)
    # pre-fill buffer: until k docs are scored θ stays -inf and no
    # selection can prune, so candidates just accumulate here — the
    # repeated O((top+cand)·log) lexsort per chunk was the kernel's
    # quadratic-ish tail on stopword queries at large k (VERDICT r03 #6)
    fill_d: list[np.ndarray] = []
    fill_s: list[np.ndarray] = []
    fill_n = 0

    def select_topk(d_parts: list[np.ndarray], s_parts: list[np.ndarray]):
        # select on the ROUNDED score (the engine-wide tie surface) with
        # docID tiebreak, so the per-shard cut matches global ordering
        all_d = np.concatenate(d_parts)
        all_s = np.concatenate(s_parts)
        order = np.lexsort((all_d, -np.round(all_s, SCORE_DECIMALS)))[:k]
        return all_d[order], all_s[order]

    CHUNK = 4  # blocks scored per θ refresh (pruning granularity)

    for j, c in enumerate(cursors):
        # process this cursor's blocks in DESCENDING bound order, a chunk
        # at a time, re-checking θ between chunks: as the heap fills, the
        # weaker blocks of the same term become skippable mid-traversal
        # (all-at-once scoring made stopword terms exhaustive).
        # A block is worth decoding only if its own bound plus the combined
        # bound of all weaker terms can still reach θ (>= not >: a doc
        # tying the k-th score but with smaller docID wins the docID
        # tie-break, so bound-equal blocks must be scored).
        by_ub = np.argsort(-c.block_ubs, kind="stable")
        for start in range(0, by_ub.size, CHUNK):
            chunk = by_ub[start : start + CHUNK]
            need = chunk[c.block_ubs[chunk] + tail_ub[j + 1] >= theta]
            if need.size == 0:
                break  # descending bounds: the rest of this cursor is weaker
            cand, _ = c.all_docs(need)
            cand = np.sort(cand)
            if seen.size:
                # segmented sorted membership: one searchsorted per
                # segment, O(log seen) segments by construction
                cand = cand[~seen.contains(cand)]
            if cand.size:
                # live-docs check: docs absent from doclens are tombstoned
                # (deletes.py) — skip them, Lucene live-docs style
                pos = np.searchsorted(doc_ids_sorted, cand)
                cand = cand[
                    (pos < doc_ids_sorted.size)
                    & (doc_ids_sorted[np.minimum(pos, doc_ids_sorted.size - 1)] == cand)
                ]
            if cand.size == 0:
                continue
            scores = full_score(cand)
            # segment append + binary-counter merge — amortized
            # O(log seen) re-merges per element, no full-array copy
            seen.add(cand)
            if top_docs.size < k:
                fill_d.append(cand)
                fill_s.append(scores)
                fill_n += cand.size
                if fill_n >= k:
                    top_docs, top_scores = select_topk(
                        [top_docs, *fill_d], [top_scores, *fill_s]
                    )
                    fill_d, fill_s, fill_n = [], [], 0
            else:
                # heap is full: only candidates that can still round-tie
                # the k-th score may enter — everything below θ (k-th minus
                # one rounding quantum) is dropped BEFORE the merge, so the
                # k-sized re-selection runs only when a real entrant exists
                entrants = scores >= theta
                if entrants.any():
                    top_docs, top_scores = select_topk(
                        [top_docs, cand[entrants]], [top_scores, scores[entrants]]
                    )
            if top_docs.size >= k:
                # guard band: a doc whose raw score is within one rounding
                # quantum of the k-th can still tie after rounding and win
                # on docID — it must not be pruned
                theta = float(top_scores[-1]) - 10.0 ** (-SCORE_DECIMALS)

    if fill_n:
        # fewer than k docs scored in total (or trailing unconsolidated
        # buffer from the pre-fill phase)
        top_docs, top_scores = select_topk([top_docs, *fill_d], [top_scores, *fill_s])

    metrics = {
        # blocks decoded (traversal + candidate lookups) vs total blocks
        "decoded": sum(c.blocks_decoded for c in cursors),
        "total": sum(len(c.blocks) for c in cursors),
        # candidates fully scored vs total postings across query terms —
        # the MaxScore pruning metric (lookup decodes are unavoidable for
        # exact scoring, so block counts understate the pruning)
        "scored": int(seen.size),
        "postings": int(sum(int(b["n"]) for c in cursors for b in c.blocks)),
    }
    return top_docs, top_scores, metrics


# columns the scoring kernels need — explicitly selected so the parquet
# scan never reads the positional payload (phrase-only data; pruning is
# visible as ReadSchema in .explain)
_SCORE_COLS = [
    "shard", "term", "block_id", "min_doc", "max_doc", "n", "max_tf",
    "min_dl", "docs_payload", "tfs_payload", "sky_tfs_payload",
    "sky_dls_payload", "gdf",
]


def load_index_meta(spark: SparkSession, index_dir: str):
    # validates the on-disk format version — pre-marker (format-1) payloads
    # must fail loudly here, not silently mis-decode (ADVICE r02)
    from .build import load_stats

    return load_stats(index_dir)


class _WarmIndex:
    """Per-index serving cache for interactive single-query latency.

    The r02 single-query floor (~1.5 s/query) was dominated by fixed
    per-job work that is identical across queries on the same index:
    re-reading the doclens and terms parquet AND re-shuffling every
    doclens row into the cogroup (VERDICT r02 #6). This cache persists

    - ``dls``: live doclens, repartitioned by shard and persisted — the
      cogroup's required hash distribution is satisfied by the cached
      plan's outputPartitioning, so a warm query shuffles ONLY the query
      terms' posting rows (a few blocks), not the corpus;
    - ``terms``: the (tiny) term→df table;
    - ``stats``: parsed stats.json.

    Invalidation is by snapshot identity: (stats.json mtime+size, deletes
    manifest version). Any append / delete / compact rewrites stats.json
    or the deletes manifest atomically, so a stale cache can never serve
    (catalog.py commit discipline); nothing merged-table-derived is
    cached here — if that ever changes, the merged manifest must join
    the token. Scale note: the cache holds DataFrames (cluster memory
    via .persist), never driver-side rows — the same pattern works on a
    1000-executor cluster, where it is exactly Lucene/ES keeping segment
    readers open between searches. Entries live in the bounded
    ``resources.WARM_INDEXES`` pool, so long-lived sessions serving many
    indexes never pin every index's doclens in cluster memory.
    """

    def __init__(self, spark: SparkSession, index_dir: str, token: tuple):
        from .build import read_generations
        from .deletes import filter_deleted

        self.token = token
        self.stats = load_index_meta(spark, index_dir)
        live = filter_deleted(
            spark, index_dir, read_generations(spark, index_dir, "doclens")
        )
        # TWO cached layouts of the (small) doclens table, one per workload:
        # - serve: FEW, FAT partitions — for a warm interactive query the
        #   task launch + Python round-trip dominate the sub-ms per-shard
        #   kernel, so fewer tasks win (measured local[32]/32 shards:
        #   8 parts ≈ 0.48 s/query vs 0.75 s at 32).
        # - batch (cogroup): one partition per shuffle slot, so a 50-query
        #   batch fans across every core (capping THIS at 8 cost 2.7× on
        #   batch100 at local[32]).
        from .catalog import ManifestCatalog

        props = ManifestCatalog(index_dir).load("shards").props
        serve_parts = min(int(props.get("n_shards", 8)) or 8, 8)
        batch_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
        self.n_shards = int(props.get("n_shards") or 0)
        self.dls_serve = (
            live.repartition(serve_parts, "shard").persist()
        )
        self.dls_serve.count()  # materialize now; queries hit the cache
        # batch (cogroup) layout built LAZILY on the first batch query —
        # a cold interactive query pays only the serve layout. Pre-sorted
        # by the cogroup key: the cached plan's outputPartitioning AND
        # outputOrdering both satisfy the cogroup's requirements, so a
        # warm batch neither shuffles nor re-sorts the corpus doclens.
        self._live = live
        self._batch_parts = batch_parts
        self._dls = None
        self.terms = (
            spark.read.parquet(os.path.join(index_dir, "terms")).persist()
        )
        self.terms.count()
        # plan-only reuse (NOT persisted data): keeps the resolved file
        # index + schema so a warm query skips the per-call parquet
        # listing/footer jobs; the scan itself stays on disk with term
        # pushdown (the index is served from the OS page cache, like
        # Lucene segment files)
        self.shards = read_generations(spark, index_dir, "shards").select(
            *_SCORE_COLS[:-1]
        )
        # shard-dir roots per generation, for the serving path's direct
        # per-task parquet reads (Lucene-style: the shard task opens its
        # own segment files)
        from .build import generation_dirs

        self.gen_dirs = generation_dirs(index_dir, "shards")

    @staticmethod
    def _snapshot_token(index_dir: str) -> tuple:
        def stamp(path: str) -> tuple:
            try:
                st = os.stat(path)
                return (st.st_mtime_ns, st.st_size)
            except FileNotFoundError:
                return (0, 0)

        return (
            stamp(os.path.join(index_dir, "stats.json")),
            stamp(os.path.join(index_dir, "deletes", "_manifest.json")),
        )

    @property
    def dls(self):
        if self._dls is None:
            self._dls = (
                self._live.repartition(self._batch_parts, "shard")
                .sortWithinPartitions("shard")
                .persist()
            )
            self._dls.count()
        return self._dls

    def unpersist(self) -> None:
        if self._dls is not None:
            self._dls.unpersist()
        self.dls_serve.unpersist()
        self.terms.unpersist()

    @classmethod
    def get(cls, spark: SparkSession, index_dir: str) -> "_WarmIndex":
        key = os.path.abspath(index_dir)
        token = cls._snapshot_token(index_dir)
        warm = WARM_INDEXES.get(key)
        if warm is None or warm.token != token:
            WARM_INDEXES.pop(key)  # free a stale entry before rebuilding
            warm = cls(spark, index_dir, token)
            WARM_INDEXES.put(key, warm, spark.sparkContext)
        return warm


_SERVE_COLS = [
    "term", "block_id", "min_doc", "max_doc", "n", "max_tf", "min_dl",
    "docs_payload", "tfs_payload", "sky_tfs_payload", "sky_dls_payload",
]


def warm_index(spark: SparkSession, index_dir: str) -> None:
    """Eagerly build (or refresh) the serving cache for an index.

    Called by ``build_index(..., warm=True)`` / explicitly after an
    append, so the first interactive query runs at steady-state latency.
    Idempotent: a current cache is a no-op (snapshot-token check)."""
    _WarmIndex.get(spark, index_dir)


def evict_index(index_dir: str) -> None:
    """Release the serving cache for an index — call before dropping its
    directory. Unpersists the cached doclens/terms DataFrames and forgets
    the entry, so a dead index never pins cluster memory until LRU
    pressure (and a dropped-then-queried path can't try to recompute
    evicted cached partitions from deleted files). No-op if not warm."""
    WARM_INDEXES.pop(os.path.abspath(index_dir))


def _query_terms(stats: dict, query: str) -> list[str]:
    """Sorted distinct analyzed query terms, honoring the index's
    analysis chain (stats.json "analysis") so a stemmed/stopworded index
    is queried with the SAME chain it was built with."""
    from .analyze import AnalysisChain

    chain = AnalysisChain.from_config(stats.get("analysis"))
    toks = chain.tokens(query) if chain else tokenize_text(query)
    return sorted(set(toks))



def topk(
    spark: SparkSession, index_dir: str, query: str, k: int = 10,
    mode: str = "serve",
    routing: list | str | None = None,
) -> DataFrame:
    """Distributed BM25 top-k over the sharded compressed index.

    ``mode="serve"`` (default): the interactive path — ONE stage over the
    warm-cached shard-partitioned doclens; each task reads its own
    shard's posting rows for the query terms directly from the
    partitioned parquet (pyarrow, term-filtered with row-group pushdown)
    and runs the block-max kernel. No shuffle at all: this is the
    Lucene/ES serving architecture, where the shard's searcher opens its
    local segment files. Warm latency is the Spark job floor.

    ``mode="cogroup"``: the batch-analytics path — Catalyst parquet scan
    with pushed term filter, broadcast term stats, cogroup with the
    cached doclens (only the query terms' posting rows shuffle), kernel,
    TakeOrderedAndProject. Rank-identical to serve (pytest-asserted).
    """
    warm = _WarmIndex.get(spark, index_dir)
    stats = warm.stats
    terms = _query_terms(stats, query)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    n_docs = int(stats["n_docs"])
    avgdl = float(stats["avgdl"])

    shard_ids: list[int] | None = None
    if routing is not None:
        # ES routed search: prune to the routing keys' shards. Candidates
        # come only from those shards' doclens/posting files (serve mode
        # literally never opens the other shard=K dirs — the ES/Lucene
        # shard-pruning contract at 10^12 docs); scores stay GLOBAL
        # (stats.json n/avgdl + the corpus-wide terms table), so a routed
        # hit scores identically to the unrouted query — a documented
        # improvement over ES's per-shard-dfs default. As in ES, the
        # routed search sees the WHOLE shard: other routing keys hashing
        # to the same shard remain visible.
        from .build import routing_shard_ids

        shard_ids = routing_shard_ids(
            index_dir, routing, stats=stats, n_shards=warm.n_shards
        )

    if mode == "serve":
        term_dfs = {
            r["term"]: int(r["df"])
            for r in warm.terms.filter(F.col("term").isin(terms)).collect()
        }
        if not term_dfs:
            return spark.createDataFrame([], "doc_id long, score double")
        src = warm.dls_serve
        if shard_ids is not None:
            # filter the cached doclens to the routed shards; the serving
            # fn below then only opens those shards' posting dirs
            src = src.filter(F.col("shard").isin(shard_ids))
        local = src.mapInPandas(
            _serve_partition_fn(warm.gen_dirs, term_dfs, n_docs, avgdl, k),
            "doc_id long, score double",
        )
        return (
            local.select(
                "doc_id", F.round(F.col("score"), SCORE_DECIMALS).alias("score")
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    # global df rides into the shard kernels as a broadcast-joined column
    # (`gdf`) — no separate driver round-trip job for term stats
    tdf = warm.terms.filter(F.col("term").isin(terms)).withColumnRenamed("df", "gdf")
    idx = (
        warm.shards.filter(F.col("term").isin(terms))
        .join(F.broadcast(tdf), "term")
        .select(*_SCORE_COLS)
    )
    # warm cached doclens: pre-partitioned by shard, so the cogroup below
    # shuffles only the query terms' posting rows
    dls = warm.dls
    if shard_ids is not None:
        # routed: the posting scan's shard predicate reaches the
        # partitioned parquet as a PartitionFilter (shard=K dirs pruned);
        # the doclens side filters the warm cache in place
        idx = idx.filter(F.col("shard").isin(shard_ids))
        dls = dls.filter(F.col("shard").isin(shard_ids))

    def score_shard(key, idx_pdf: pd.DataFrame, dl_pdf: pd.DataFrame) -> pd.DataFrame:
        if idx_pdf.empty or dl_pdf.empty:
            return pd.DataFrame(
                {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
            )
        order = np.argsort(dl_pdf["doc_id"].to_numpy())
        doc_sorted = dl_pdf["doc_id"].to_numpy(dtype=np.int64)[order]
        dl_sorted = dl_pdf["dl"].to_numpy(dtype=np.int64)[order]
        term_idfs = {
            t: idf(n_docs, int(g))
            for t, g in idx_pdf.groupby("term")["gdf"].first().items()
        }
        term_blocks = term_blocks_from_flat(idx_pdf)
        docs, scores, _ = bmw_topk_kernel(
            term_blocks, term_idfs, doc_sorted, dl_sorted, avgdl, k
        )
        return pd.DataFrame({"doc_id": docs, "score": scores})

    local = (
        idx.groupBy("shard")
        .cogroup(dls.groupBy("shard"))
        .applyInPandas(score_shard, "doc_id long, score double")
    )
    return (
        local.select("doc_id", F.round(F.col("score"), SCORE_DECIMALS).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _serve_partition_fn(gen_dirs: list[str], term_dfs: dict[str, int],
                        n_docs: int, avgdl: float, k: int):
    """Per-partition serving kernel: group the cached doclens rows by
    shard, read that shard's posting rows for the query terms straight
    from the partitioned parquet (one ``shard=K`` subdir per generation;
    pyarrow applies the term filter at row-group granularity), run the
    block-max kernel. Candidate docs absent from the live doclens are
    skipped by the kernel (tombstones)."""
    terms = sorted(term_dfs)
    term_idfs = {t: idf(n_docs, df_) for t, df_ in term_dfs.items()}

    def fn(batches):
        import pyarrow.parquet as pq

        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        # serving does direct POSIX reads of the index files (the Lucene
        # model: each searcher opens its local segments). If NO generation
        # root is visible from this task, the index path isn't shared
        # storage — fail loudly instead of silently returning empty top-k
        # (mode="cogroup" serves non-POSIX stores through Catalyst scans).
        if not any(os.path.exists(root) for root in gen_dirs):
            raise FileNotFoundError(
                f"index generations not visible from executor: {gen_dirs}; "
                "serve mode needs the index on shared storage — use "
                'topk(..., mode="cogroup") otherwise'
            )
        for shard, g in pdf.groupby("shard", sort=False):
            parts = []
            for root in gen_dirs:
                d = os.path.join(root, f"shard={int(shard)}")
                if not os.path.exists(d):
                    continue
                parts.append(
                    pq.read_table(
                        d,
                        columns=_SERVE_COLS,
                        filters=[("term", "in", terms)],
                    ).to_pandas()
                )
            if not parts:
                continue
            idx_pdf = pd.concat(parts, ignore_index=True)
            if idx_pdf.empty:
                continue
            order = np.argsort(g["doc_id"].to_numpy())
            doc_sorted = g["doc_id"].to_numpy(dtype=np.int64)[order]
            dl_sorted = g["dl"].to_numpy(dtype=np.int64)[order]
            cursors = [
                _TermCursor(blocks, term_idfs[term], avgdl)
                for term, blocks in term_blocks_from_flat(idx_pdf).items()
            ]
            docs, scores, _ = bmw_topk_cursors(
                cursors, doc_sorted, dl_sorted, avgdl, k
            )
            if docs.size:
                yield pd.DataFrame({"doc_id": docs, "score": scores})

    return fn


def topk_merged(
    spark: SparkSession, index_dir: str, query: str, k: int = 10
) -> DataFrame:
    """BM25 top-k answered from the MERGED (term-partitioned, salted)
    table — the north-rule merge artifact as a query path, with the SAME
    block-max pruning as the per-shard engine (VERDICT r02 #7: the old
    exact-scorer tail decoded every posting of the query terms).

    Plan: term-pushdown block read from merged/ → each block row exploded
    to every salt-range its [min_doc, max_doc] intersects (plain JVM
    range arithmetic, mirroring the merge's salting) → cogroup with the
    live doclens keyed by the same range → ``bmw_topk_cursors`` per
    range. Ranges have disjoint doc sets and the kernel's live-docs
    check drops out-of-range candidates from straddling blocks, so each
    doc is scored exactly once with all its terms' blocks available.
    Rank-identical to the per-shard WAND path (pytest).
    """
    from .catalog import ManifestCatalog

    warm = _WarmIndex.get(spark, index_dir)
    stats = warm.stats
    terms = _query_terms(stats, query)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    n_docs = int(stats["n_docs"])
    avgdl = float(stats["avgdl"])
    props = ManifestCatalog(index_dir).load("merged").props
    span = int(props.get("span", max(1, n_docs)))

    term_dfs = {
        r["term"]: int(r["df"])
        for r in warm.terms.filter(F.col("term").isin(terms)).collect()
    }
    if not term_dfs:
        return spark.createDataFrame([], "doc_id long, score double")
    term_idfs = {t: idf(n_docs, d) for t, d in term_dfs.items()}

    merged = (
        spark.read.parquet(os.path.join(index_dir, "merged"))
        .filter(F.col("term").isin(terms))
        .select(*_SERVE_COLS)
        .withColumn(
            "rng",
            F.explode(
                F.sequence(
                    (F.col("min_doc") / F.lit(span)).cast("long"),
                    (F.col("max_doc") / F.lit(span)).cast("long"),
                )
            ),
        )
    )
    dls = warm.dls.select(
        "doc_id", "dl", (F.col("doc_id") / F.lit(span)).cast("long").alias("rng")
    )

    def score_range(key, idx_pdf: pd.DataFrame, dl_pdf: pd.DataFrame) -> pd.DataFrame:
        if idx_pdf.empty or dl_pdf.empty:
            return pd.DataFrame(
                {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
            )
        order = np.argsort(dl_pdf["doc_id"].to_numpy())
        doc_sorted = dl_pdf["doc_id"].to_numpy(dtype=np.int64)[order]
        dl_sorted = dl_pdf["dl"].to_numpy(dtype=np.int64)[order]
        cursors = [
            _TermCursor(blocks, term_idfs[term], avgdl)
            for term, blocks in term_blocks_from_flat(idx_pdf).items()
        ]
        docs, scores, _ = bmw_topk_cursors(cursors, doc_sorted, dl_sorted, avgdl, k)
        return pd.DataFrame({"doc_id": docs, "score": scores})

    local = (
        merged.groupBy("rng")
        .cogroup(dls.groupBy("rng"))
        .applyInPandas(score_range, "doc_id long, score double")
    )
    return (
        local.select("doc_id", F.round(F.col("score"), SCORE_DECIMALS).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def topk_batch(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, str] | list[str],
    k: int = 10,
) -> DataFrame:
    """Batched multi-query BM25 top-k — ONE distributed pass for N queries.

    The Spark answer to the reference's ES ``msearch`` batching (SURVEY
    §2.5 A9, mira_loader.py:267-300): the 7-queries-one-round-trip trick
    becomes N queries in one cogroup job. Per-shard, all queries share
    one block-decode cache (a hot term decodes once for the whole batch),
    then a window per query_id takes the global top-k.

    Returns (query_id, rank, doc_id, score).
    """
    if isinstance(queries, list):
        queries = {f"q{i}": q for i, q in enumerate(queries)}
    warm = _WarmIndex.get(spark, index_dir)
    stats = warm.stats
    n_docs = int(stats["n_docs"])
    avgdl = float(stats["avgdl"])
    qterms = {qid: _query_terms(stats, text) for qid, text in queries.items()}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    if not all_terms:
        return spark.createDataFrame([], "query_id string, rank int, doc_id long, score double")
    from .build import read_generations

    tdf = warm.terms.filter(F.col("term").isin(all_terms)).withColumnRenamed("df", "gdf")
    idx = (
        warm.shards.filter(F.col("term").isin(all_terms))
        .join(F.broadcast(tdf), "term")
        .select(*_SCORE_COLS)
    )
    dls = warm.dls

    def score_shard(key, idx_pdf: pd.DataFrame, dl_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="object"),
                "doc_id": pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float64"),
            }
        )
        if idx_pdf.empty or dl_pdf.empty:
            return empty
        order = np.argsort(dl_pdf["doc_id"].to_numpy())
        doc_sorted = dl_pdf["doc_id"].to_numpy(dtype=np.int64)[order]
        dl_sorted = dl_pdf["dl"].to_numpy(dtype=np.int64)[order]
        term_idfs = {
            t: idf(n_docs, int(g))
            for t, g in idx_pdf.groupby("term")["gdf"].first().items()
        }
        cursors = {
            term: _TermCursor(blocks, term_idfs[term], avgdl)
            for term, blocks in term_blocks_from_flat(idx_pdf).items()
            if term in term_idfs
        }
        frames = []
        for qid, terms in qterms.items():
            qc = [cursors[t] for t in terms if t in cursors]
            if not qc:
                continue
            docs, scores, _ = bmw_topk_cursors(qc, doc_sorted, dl_sorted, avgdl, k)
            if docs.size:
                frames.append(pd.DataFrame({"query_id": qid, "doc_id": docs, "score": scores}))
        return pd.concat(frames, ignore_index=True) if frames else empty

    local = (
        idx.groupBy("shard")
        .cogroup(dls.groupBy("shard"))
        .applyInPandas(score_shard, "query_id string, doc_id long, score double")
    ).select(
        "query_id", "doc_id", F.round(F.col("score"), SCORE_DECIMALS).alias("score")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
