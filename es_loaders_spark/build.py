"""Partition-local inverted-index build with lineage checkpointing.

Replaces the reference's load pipeline (mira/mira_loader.py:82-228:
chunked scan → join → group → ES parallel_bulk) with a Spark-native
build (SURVEY §7 step 5):

1. deterministic docIDs (global rank of url — SURVEY §1.4: re-run and
   cluster-size invariant, unlike ES auto-IDs),
2. doc-shard assignment ``shard = doc_id % n_shards``,
3. per-shard ``applyInPandas``: tokenize → local posting lists → delta+
   varint blocks with block-max metadata (codec.py) — one shuffle total,
4. parquet partitioned by shard + atomic manifest commit with per-shard
   lineage/metrics (catalog.py); a killed build resumes by building only
   missing shards.

At 1000 executors each shard is one task; no driver-side loops, no
collect of data rows (only shard-id bookkeeping, O(n_shards)).
"""

from __future__ import annotations

import json
import os
import tempfile
import time

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .analyze import tokenize_texts
from .catalog import ManifestCatalog, PartitionEntry
from .codec import (
    decode_blocks_flat_batch,
    decode_positions_flat_batch,
    encode_blocks_flat,
)
from .resources import AUX_POOL, ID_ASSIGNMENTS

# FLAT index layout: one row per posting block. Nested array<struct>
# was ~10× slower through Arrow (per-block Python dicts); flat rows are
# native numpy/bytes columns, parquet-columnar, and make the merge's
# salt-range filtering a plain row predicate.
INDEX_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("block_id", T.IntegerType()),
        T.StructField("min_doc", T.LongType()),
        T.StructField("max_doc", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("max_tf", T.LongType()),
        T.StructField("min_dl", T.LongType()),
        T.StructField("docs_payload", T.BinaryType()),
        T.StructField("tfs_payload", T.BinaryType()),
        T.StructField("sky_tfs_payload", T.BinaryType()),
        T.StructField("sky_dls_payload", T.BinaryType()),
        T.StructField("pos_payload", T.BinaryType()),
    ]
)

DOCLEN_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("dl", T.IntegerType()),
    ]
)

# On-disk index format version, recorded in stats.json.
#   1 (implicit, pre-r02): raw varint payloads, no marker byte
#   2: marker-dispatched payloads (0x00 varint / 0x01 FOR bit-packed)
# Readers MUST refuse other versions: a format-1 docs_payload always
# starts 0x00 (first delta = 0), so decoding it as format 2 silently
# drops the first posting of every block (ADVICE r02).
INDEX_FORMAT = 2

# align_shards sub-shard id space per scan split: shard = split_id * stride
# + chunk_idx. 4096 chunks × 3k docs ≈ 12M docs per 128MB split — far past
# any real file; the last chunk absorbs overflow rather than wrapping.
_ALIGN_STRIDE = 4096
_ALIGN_CHUNK_DOCS = 3000  # docs per sub-shard (see the aligned build path)


def load_stats(index_dir: str) -> dict:
    """Read + validate stats.json. Fails loudly on a stale on-disk format
    instead of silently mis-decoding pre-marker payloads."""
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    fmt = int(stats.get("format", 1))
    if fmt != INDEX_FORMAT:
        raise ValueError(
            f"index at {index_dir} has on-disk format {fmt}; this engine reads "
            f"format {INDEX_FORMAT}. Rebuild the index (decoding format-{fmt} "
            "payloads as the marker-dispatched format would silently corrupt "
            "postings)."
        )
    return stats


def _write_json_atomic(path: str, obj: dict) -> None:
    """tmpfile + os.replace, same discipline as catalog.py's manifest commit
    (ADVICE r01: a crash mid-write must never corrupt stats.json)."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".json.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def assign_doc_ids(docs: DataFrame, url_col: str = "url") -> DataFrame:
    """doc_id = global rank of url (0-based) — deterministic at any parallelism.

    Scale path: range-repartition by url, per-partition local ranks, then
    add broadcast per-partition offsets — two light jobs, no global
    single-task window. The rank of a unique url in the total order does
    not depend on where range boundaries fall, so the assignment is
    stable across runs and cluster sizes (rank-identity prerequisite,
    SURVEY §1.4).
    """
    spark = docs.sparkSession
    # Persist the (url-only) input before range partitioning: the range
    # sampler and the shuffle job otherwise each evaluate the full input
    # subtree — on an opaque source (mapInPandas synthesis, a UDF-derived
    # column) that is TWO full passes for one assignment. The cache holds
    # just the projected url rows and is dropped as soon as the offsets
    # job has materialized the range-partitioned copy below. A caller's
    # own cache already serves both jobs and stays the caller's.
    owns_src = docs.storageLevel == StorageLevel.NONE
    src = docs.persist() if owns_src else docs
    try:
        parted = (
            src.repartitionByRange(
                max(spark.sparkContext.defaultParallelism, 2), F.col(url_col)
            )
            .withColumn("_pid", F.spark_partition_id())
            # persist is REQUIRED for correctness, not a cache hint: the
            # offsets job and the consuming job must see the SAME
            # range-partition membership (re-evaluating repartitionByRange
            # re-samples boundaries and AQE may re-plan, yielding
            # duplicate/unstable ids). In production the assignment is
            # materialized once to a table at ingest (SURVEY §1.4) —
            # callers should write the result out and read it back rather
            # than keep recomputing this plan.
            .persist()
        )
        # registered first, so release_doc_id_caches() frees it even if
        # the offsets job fails
        ID_ASSIGNMENTS.put(id(parted), parted, spark.sparkContext)
        counts = parted.groupBy("_pid").count().collect()
    finally:
        # parted is materialized now; consumers read ITS cache, never src
        if owns_src:
            src.unpersist()
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["count"]
    offsets_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offsets.items()], "_pid int, _offset long"
        )
    )
    local_rank = F.row_number().over(Window.partitionBy("_pid").orderBy(url_col)) - 1
    out = (
        parted.join(offsets_df, "_pid")
        .withColumn("doc_id", F.col("_offset") + local_rank)
        .drop("_pid", "_offset")
    )
    # per-result handle for release_doc_id_caches(result)
    out._persisted_source = parted
    return out


def term_dfs(shards: DataFrame) -> DataFrame:
    """(term, df): global term document frequencies (for idf) of a set of
    block rows — one groupBy over their block-0 rows."""
    return (
        shards.filter(F.col("block_id") == 0)  # df is per-(shard,term), on every block row
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )


def stats_record(
    prior: dict, *, n_docs: int, avgdl: float, max_doc_id: int, generations: int
) -> dict:
    """The stats.json commit: corpus stats and generation count, plus the
    index settings (positions, analysis chain, routing) and the applied
    batch records carried over from ``prior``."""
    return {
        "format": INDEX_FORMAT,
        "n_docs": int(n_docs),
        "avgdl": float(avgdl),
        "max_doc_id": int(max_doc_id),
        "generations": int(generations),
        "applied_batches": list(prior.get("applied_batches", [])),
        "batch_bases": dict(prior.get("batch_bases", {})),
        "positions": bool(prior.get("positions", True)),
        "analysis": prior.get("analysis"),
        "routing_field": prior.get("routing_field"),
    }


def _build_terms_table(spark, shards_dir: str, terms_dir: str):
    """Write the shard table's term dfs to ``terms_dir`` on the aux pool.
    The future yields (n_terms, wall_ms); the CALLER commits the manifest
    entry (commit order is part of the crash/resume contract)."""

    def job() -> tuple[int, int]:
        t0 = time.time()
        tdf = term_dfs(spark.read.parquet(shards_dir))
        tdf.write.mode("overwrite").parquet(terms_dir)
        n_terms = spark.read.parquet(terms_dir).count()
        return n_terms, int((time.time() - t0) * 1000)

    return AUX_POOL.submit(job, label="build_index: terms table")


def release_doc_id_caches(result: DataFrame | None = None) -> None:
    """Unpersist range-partitioned url tables that :func:`assign_doc_ids`
    keeps alive for id stability.

    With ``result`` (any DataFrame derived from one assign_doc_ids
    output that still carries ``_persisted_source``): release ONLY that
    assignment's persist. Without arguments: release EVERY outstanding
    assignment — only safe when no other assignment is still mid-flight
    (an un-materialized assignment whose persist is dropped would
    re-sample its range boundaries on recompute, destabilizing ids
    between actions). Safe to call repeatedly.
    """
    if result is not None:
        parted = getattr(result, "_persisted_source", None)
        if parted is None:
            # a transformed/derived DataFrame loses the attribute — a
            # silent no-op here would leave the persist pinned forever
            # while the caller believes it was freed (ADVICE r04)
            raise ValueError(
                "release_doc_id_caches(result) requires the EXACT "
                "DataFrame returned by assign_doc_ids (derived frames "
                "do not carry _persisted_source); pass that object, or "
                "call release_doc_id_caches() with no arguments to "
                "release every outstanding assignment"
            )
        ID_ASSIGNMENTS.pop(id(parted))
        return
    ID_ASSIGNMENTS.clear()


def _shard_col(
    docs: DataFrame, n_shards: int, routing_field: str | None, id_col: str
) -> Column:
    """Each document's shard, as a column of ``docs``: ``doc_id %
    n_shards``, or on a routed index the routing key's portable hash
    (ES document routing: every doc sharing a key lands in ONE shard and
    a routed query prunes to it — wand.topk(routing=...)).

    Routing keys must be STRING columns: the build side hashes Spark's
    cast-to-string rendering while the query side hashes Python's str()
    — for doubles (scientific notation) and booleans ("true" vs "True")
    the two renderings differ, silently pruning a routed query to the
    WRONG shard. ES routing values are strings too; cast explicitly at
    ingest to pick ONE rendering."""
    if routing_field is None:
        return F.pmod(F.col(id_col), F.lit(n_shards)).cast("int")
    if routing_field not in docs.columns:
        raise ValueError(
            f"routing_field {routing_field!r} is not a column of the "
            f"input ({docs.columns})"
        )
    dt = dict(docs.dtypes)[routing_field]
    if dt != "string":
        raise ValueError(
            f"routing_field {routing_field!r} must be a string column, "
            f"got {dt}: Spark's CAST and Python's str() render "
            "doubles/booleans differently, so build-side and query-side "
            "hashes would disagree — cast it to string at ingest"
        )
    return _routing_shard_col(routing_field, n_shards)


def routing_shard_ids(
    index_dir: str, routing, *, stats: dict | None = None,
    n_shards: int | None = None,
) -> list[int]:
    """Shard ids a routed request targets: the portable hash of each
    routing value mod the index's n_shards. THE one resolution contract
    (wand.topk passes its warm-cached stats/n_shards; cold callers let
    it read stats.json + the manifest). Refuses unrouted indexes — a
    routed request against a doc_id-sharded index would silently search
    the wrong shard — and non-string routing values: the routed column
    is string-typed (_shard_col), and str(True)="True" /
    str(1.5) would hash a rendering the index never stored."""
    stats = stats if stats is not None else load_stats(index_dir)
    if not stats.get("routing_field"):
        raise ValueError(
            f"index {index_dir} was not built with routing_field= — "
            "routed requests need a routed index"
        )
    if n_shards is None:
        n_shards = int(
            ManifestCatalog(index_dir).load("shards").props.get("n_shards")
            or 0
        )
    if n_shards <= 0:
        raise ValueError("index manifest lacks n_shards; rebuild")
    if isinstance(routing, str):
        vals = [routing]
    elif isinstance(routing, (list, tuple, set, frozenset)):
        vals = list(routing)
    else:
        raise ValueError(
            f"routing values must be strings (got {type(routing).__name__}"
            f" {routing!r}) — the routed column is string-typed"
        )
    if not vals:
        raise ValueError("routing= needs at least one routing value")
    bad = [v for v in vals if not isinstance(v, str)]
    if bad:
        raise ValueError(
            f"routing values must be strings (the routed column is "
            f"string-typed); got {bad[:3]!r}"
        )
    return sorted({routing_shard_id(v, n_shards) for v in vals})


def _routing_shard_col(col_name: str, n_shards: int):
    """Column expr: shard id for a routing key — the portable md5 hash
    (dedup.portable_hash60 of the stringified key) mod n_shards, so
    Python (`routing_shard_id`) and DuckDB compute the identical id.
    NULL keys raise in-task (ES's routing_required), not drop rows."""
    from .dedup import portable_hash60

    s = F.col(col_name).cast("string")
    return (
        F.when(
            s.isNull(),
            F.raise_error(
                F.lit(
                    f"NULL routing value in {col_name!r}: every document "
                    "of a routed index needs a routing key "
                    "(ES routing_required)"
                )
            ).cast("int"),
        )
        .otherwise(F.pmod(portable_hash60(s), F.lit(n_shards)).cast("int"))
    )


def routing_shard_id(value, n_shards: int) -> int:
    """Python twin of ``_routing_shard_col`` for query-side pruning:
    first 15 hex chars of md5(utf8(str(value))) as an int, mod n_shards
    (== dedup.portable_hash60 and its documented DuckDB expression)."""
    import hashlib

    h = int(hashlib.md5(str(value).encode("utf-8")).hexdigest()[:15], 16)
    return h % int(n_shards)


# pandas dtypes of INDEX_SCHEMA's numeric columns; the others hold str/bytes
_PD_DTYPES = {"integer": "int32", "long": "int64"}


def empty_block_rows() -> pd.DataFrame:
    """A shard without postings, as INDEX_SCHEMA rows."""
    return pd.DataFrame(
        {
            f.name: pd.Series(dtype=_PD_DTYPES.get(f.dataType.typeName(), "object"))
            for f in INDEX_SCHEMA.fields
        }
    )


def block_rows(
    shard: int,
    codes: np.ndarray,
    terms,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions: np.ndarray | None,
) -> pd.DataFrame:
    """One shard's postings as INDEX_SCHEMA block rows. Postings arrive
    grouped by term code (``terms[code]`` is the term) and doc-sorted
    within a term; a term's df is its posting count. ``positions``:
    token positions in posting order (None: a BM25-only index)."""
    seg = np.concatenate(
        [[0], np.flatnonzero(np.diff(codes)) + 1, [codes.size]]
    ).astype(np.int64)
    fb = encode_blocks_flat(doc_ids, tfs, dls, seg, positions=positions)
    seg_terms = np.asarray(terms, dtype=object)[codes[seg[:-1]]]
    t = fb["term_idx"]
    return pd.DataFrame(
        {
            "shard": np.full(t.size, shard, dtype=np.int32),
            "term": seg_terms[t],
            "df": np.diff(seg)[t],
            # block_id .. pos_payload: the codec's columns, by name
            **{f.name: fb[f.name] for f in INDEX_SCHEMA.fields[3:]},
        }
    )


def _build_shard_fn(
    doclens_dir: str | None = None, positions: bool = True, chain=None
):
    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        order = np.argsort(doc_ids)
        doc_ids = doc_ids[order]
        offsets, flat = tokenize_texts(pdf["text"].iloc[order].reset_index(drop=True))
        lens = np.diff(offsets)
        if chain is not None:
            # analysis chain (analyze.AnalysisChain): positions are
            # assigned BEFORE the stop filter (Lucene gap semantics),
            # dl counts survivors (Lucene norms), survivors are
            # synonym/stem mapped — all vectorized in the same fused pass
            raw_lens = lens
            docidx = np.repeat(
                np.arange(raw_lens.size, dtype=np.int64), raw_lens
            )
            pos_all = np.arange(flat.size, dtype=np.int64) - np.repeat(
                offsets[:-1], raw_lens
            )
            keep, mapped = chain.apply_numpy(flat)
            flat = mapped
            docidx = docidx[keep]
            _chain_pos = pos_all[keep]
            lens = np.bincount(
                docidx, minlength=raw_lens.size
            ).astype(np.int64)
        if doclens_dir is not None:
            # side-write this shard's doc lengths from the SAME tokenization
            # the postings use (one text pass total). Write to an attempt-
            # unique temp file and os.replace into the deterministic name:
            # sequential retries stay idempotent, and a speculative/zombie
            # attempt racing a retry can never leave a torn parquet file —
            # each attempt's bytes land whole, last rename wins (ADVICE r01).
            import tempfile as _tempfile

            import pyarrow as pa
            import pyarrow.parquet as pq

            d = os.path.join(doclens_dir, f"shard={shard}")
            os.makedirs(d, exist_ok=True)
            fd, tmp = _tempfile.mkstemp(dir=d, suffix=".parquet.tmp")
            os.close(fd)
            pq.write_table(
                pa.table({"doc_id": doc_ids, "dl": lens.astype(np.int32)}), tmp
            )
            os.replace(tmp, os.path.join(d, "data.parquet"))
        if flat.size == 0:
            return empty_block_rows()
        tok_doc = np.repeat(doc_ids, lens)
        tok_dl = np.repeat(lens, lens)

        # (term, doc) → tf, all-numpy: factorize terms, lexsort, run-length
        codes, uniques = pd.factorize(pd.Series(flat), sort=False)
        ordr = np.lexsort((tok_doc, codes))
        c, d, dls = codes[ordr], tok_doc[ordr], tok_dl[ordr]
        if positions:
            # in-document token position (0-based) — the positional index
            # payload (Lucene .prx analogue); lexsort is stable, so within
            # a (term, doc) run tokens keep document order = asc position.
            # Under a chain, positions were assigned pre-stop-filter
            # (gaps preserved, Lucene stop filter semantics).
            if chain is not None:
                tok_pos = _chain_pos
            else:
                tok_pos = np.arange(flat.size, dtype=np.int64) - np.repeat(
                    offsets[:-1], lens
                )
            pos_sorted = tok_pos[ordr]
        else:
            # BM25-only table: skip the positional encode + storage tax
            # entirely (phrase.py raises a clear error on such an index)
            pos_sorted = None
        new = np.empty(c.size, dtype=bool)
        new[0] = True
        new[1:] = (c[1:] != c[:-1]) | (d[1:] != d[:-1])
        starts = np.flatnonzero(new)
        tf = np.diff(np.append(starts, c.size))
        return block_rows(
            shard, c[starts], uniques, d[starts], tf, dls[starts], pos_sorted
        )

    return build_shard


def _classic_postings(docs: DataFrame, missing: list[int], kernel) -> DataFrame:
    """Block rows of the ``missing`` shards of ``docs`` (doc_id, text,
    shard): one shuffle by shard, then the encode kernel per shard."""
    return (
        docs.select("shard", "doc_id", "text")
        .filter(F.col("shard").isin(missing))
        .repartition(len(missing), "shard")
        .groupBy("shard")
        .applyInPandas(kernel, INDEX_SCHEMA)
    )


# Shared (shard)-keyed re-encode kernel: decode every block of the group,
# keep only docs present in the doclens side (the "live set" — survivors
# for compaction, everything for a generation merge), re-segment by term,
# re-encode. Generations have disjoint ascending docID ranges, so sorting
# by (term, min_doc) makes the concatenation doc-sorted globally.
def reencode_shard(key, idx_pdf: pd.DataFrame, dl_pdf: pd.DataFrame) -> pd.DataFrame:
    # dl_pdf empty = every doc in this shard tombstoned → no survivors
    # (keep_docs[np.minimum(pos_idx, -1)] on a size-0 array would raise:
    # numpy & does not short-circuit; ADVICE r02)
    if idx_pdf.empty or dl_pdf.empty:
        return empty_block_rows()
    keep_docs = np.sort(dl_pdf["doc_id"].to_numpy(dtype=np.int64))
    keep_dls = dl_pdf.sort_values("doc_id")["dl"].to_numpy(dtype=np.int64)
    # ONE vectorized pass for the whole shard (VERDICT r02 #3):
    # batch-decode all blocks (term-grouped, doc-sorted — generations
    # have disjoint ascending ranges), mask survivors, re-segment by
    # term, and re-encode every term's postings in one
    # encode_blocks_flat call.
    srt = idx_pdf.sort_values(["term", "min_doc"], kind="stable")
    d_flat, t_flat, off = decode_blocks_flat_batch(
        srt["min_doc"].to_numpy(), srt["docs_payload"].tolist(),
        srt["tfs_payload"].tolist(),
    )
    counts = np.diff(off)
    raw_pos = srt["pos_payload"].tolist()
    has_pos = all(p is not None and len(p) > 0 for p in raw_pos)
    pos_flat = (
        decode_positions_flat_batch(raw_pos, t_flat) if has_pos else None
    )
    codes, uniq_terms = pd.factorize(srt["term"], sort=False)
    post_code = np.repeat(codes, counts)

    pos_idx = np.searchsorted(keep_docs, d_flat)
    ok = (pos_idx < keep_docs.size) & (
        keep_docs[np.minimum(pos_idx, keep_docs.size - 1)] == d_flat
    )
    if not ok.any():
        return empty_block_rows()
    docs = d_flat[ok]
    return block_rows(
        int(key[0]),
        post_code[ok],
        uniq_terms,
        docs,
        t_flat[ok],
        keep_dls[np.searchsorted(keep_docs, docs)],
        pos_flat[np.repeat(ok, t_flat)] if has_pos else None,
    )


def rewrite_shards(
    shards: DataFrame, doclens: DataFrame, n_shards: int,
    shards_out: str, doclens_out: str,
) -> DataFrame:
    """Re-encode the block rows ``shards`` down to the live set
    ``doclens``: the doclens are written per shard and doc-sorted (as the
    build writes them), then every shard's blocks are decoded, cut to its
    live docs and encoded again, with each surviving posting's dl taken
    from the shard's doclens. Returns the written doclens table."""
    doclens.repartition(n_shards, "shard").sortWithinPartitions("doc_id").write.mode(
        "overwrite"
    ).partitionBy("shard").parquet(doclens_out)
    live = doclens.sparkSession.read.parquet(doclens_out)
    (
        shards.groupBy("shard")
        .cogroup(live.groupBy("shard"))
        .applyInPandas(reencode_shard, INDEX_SCHEMA)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(shards_out)
    )
    return live


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    n_shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    resume: bool = True,
    batch_tag: str | None = None,
    positions: bool = True,
    align_shards: bool = False,
    warm: bool = False,
    analysis: dict | None = None,
    routing_field: str | None = None,
) -> dict:
    """Build the sharded compressed index under ``index_dir``.

    ``analysis`` configures an opt-in analysis chain (stopwords /
    synonyms / stemmer — see analyze.AnalysisChain.from_config for the
    config shape). It is recorded in stats.json and inherited by
    ``append_documents`` and every query path; queries analyze their
    terms with the SAME chain, so a stemmed index answers "tables" and
    "table" identically, like an ES index with a custom analyzer.

    ``warm=True`` eagerly builds the serving cache (wand._WarmIndex) as
    the last step, so the FIRST interactive query after the build runs at
    steady-state latency instead of paying the cache materialization
    (~1 s measured; VERDICT r03 #8). Opt-in: batch-analytics builds that
    never serve interactively shouldn't pin doclens in cluster memory.

    Returns the stats dict. Idempotent: committed shards are skipped on
    re-run (manifest), partially-written shard dirs are cleaned first.
    ``stats.json`` is written LAST (atomically): its existence marks a
    complete build, so a crash mid-build can never leave an index that
    looks finished. ``batch_tag`` (streaming) is recorded in stats so a
    replayed micro-batch is a no-op (ADVICE r01 exactly-once fix).

    ``positions=False`` builds a BM25-only index: no positional payloads
    are computed or stored (the build's dominant encode cost after the
    postings themselves); phrase queries on such an index raise a clear
    error (phrase.py). The flag is recorded in stats.json and inherited
    by ``append_documents``.

    ``align_shards=True`` makes each INPUT SPLIT a shard (shard id =
    scan partition id) and builds postings with ``mapInPandas`` directly
    over the scan — the corpus' text bytes never enter a shuffle. This
    is the 100-TB ingest path: the classic mode's ``repartition(shard)``
    moves the whole corpus across the cluster once before tokenizing;
    aligned mode moves nothing (the merge stage later operates on the
    already-compressed postings, orders of magnitude smaller than the
    text). Shard membership then depends on the input file layout, but
    every query result is layout-invariant (doc-sorted blocks within a
    shard + global merge; rank-identity asserted across modes in
    tests). ``n_shards`` is ignored and replaced by the scan's actual
    split count.
    """
    cat = ManifestCatalog(index_dir)
    stats_path = os.path.join(index_dir, "stats.json")
    prior = None
    if os.path.exists(stats_path):
        prior = load_stats(index_dir)
        if batch_tag and batch_tag in prior.get("applied_batches", []):
            return prior
        positions = bool(prior.get("positions", True))
        analysis = prior.get("analysis")  # resume: the index's chain wins
        routing_field = prior.get("routing_field")  # and its routing
    if routing_field is not None and align_shards:
        raise ValueError(
            "routing_field assigns shards by the routing key; "
            "align_shards assigns them by scan split — pick one"
        )

    from .analyze import AnalysisChain

    chain = AnalysisChain.from_config(analysis)
    analysis = chain.to_config() if chain else None  # canonical form

    has_dl = "dl" in docs.columns  # precomputed token counts from ingest
    if has_dl and chain is not None:
        raise ValueError(
            "build_index(analysis=...): a precomputed 'dl' column counts "
            "RAW tokens, but the analysis chain changes doc lengths "
            "(stopwords drop) — drop the dl column and let the build "
            "count surviving tokens"
        )
    cols = [F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")]
    cols += [F.col("dl")] if has_dl else []
    if align_shards:
        # shard = scan split; ids assigned per-row at scan time, no shuffle
        docs = docs.select(*cols)
        n_shards = docs.rdd.getNumPartitions()
        # input-layout fingerprint: split planning is deterministic given
        # (files, maxPartitionBytes), so a resume is only sound while the
        # underlying files are unchanged. Same-count relayouts (rewritten
        # files reshuffling rows across split ids) would otherwise pass
        # the count guard and silently mis-resume.
        import hashlib as _hashlib

        align_fp = _hashlib.sha256(
            "\n".join(
                sorted(docs.inputFiles())
                + [
                    str(docs.sparkSession.conf.get("spark.sql.files.maxPartitionBytes")),
                    str(n_shards),
                ]
            ).encode()
        ).hexdigest()
        prior_fp = cat.load("shards").props.get("align_fingerprint")
        if prior_fp is not None and prior_fp != align_fp:
            raise RuntimeError(
                "aligned resume refused: the input's file layout changed "
                "since the first build attempt (fingerprint mismatch), so "
                "runtime split ids no longer correspond to committed "
                "shards. Rebuild into a fresh index dir, or use "
                "align_shards=False."
            )
        docs = docs.withColumn("shard", F.spark_partition_id().cast("int"))
    else:
        shard = _shard_col(docs, n_shards, routing_field, id_col)
        docs = docs.select(*cols, shard.alias("shard"))

    # --- stage 1: corpus stats — single-row agg; a precomputed `dl` column
    # (written at ingest) makes this a columnar scan with no tokenization.
    # Submitted from a driver thread so it overlaps the posting build's
    # job (guide §2.6: independent jobs back-fill each other's tails);
    # the result is only consumed after both complete. ---
    stats_future = None
    if prior is not None:
        stats = prior
    else:
        from .analyze import terms_array as _terms_array

        dl_col = (
            F.col("dl")
            if has_dl
            else F.size(_terms_array(F.col("text"), chain=chain))
        )

        def _stats_job():
            agg = docs.select("doc_id", dl_col.alias("dl")).agg(
                F.count("*").alias("n"),
                F.avg("dl").alias("avgdl"),
                F.max("doc_id").alias("max_id"),
            ).collect()[0]
            settings = {
                "positions": positions,
                "analysis": analysis,
                "routing_field": routing_field,
            }
            return stats_record(
                settings,
                n_docs=agg["n"],
                avgdl=agg["avgdl"] or 0.0,
                max_doc_id=agg["max_id"] if agg["max_id"] is not None else -1,
                generations=1,
            )

        stats_future = AUX_POOL.submit(
            _stats_job, label="build_index: corpus stats"
        )

    # --- stage 2: per-shard posting build — THE one heavy pass over text.
    # One shuffle by shard; the UDF tokenizes once, emits posting blocks,
    # and side-writes the shard's doclens file from the same tokens. ---
    doclens_dir = os.path.join(index_dir, "doclens")
    shards_dir = os.path.join(index_dir, "shards")
    terms_dir = os.path.join(index_dir, "terms")
    done = cat.committed_partitions("shards", "postings") if resume else set()
    missing = sorted(set(range(n_shards)) - done)
    terms_f = None
    if missing:
        div = _ALIGN_STRIDE if align_shards else 1
        cat.clean_uncommitted("shards", id_divisor=div)
        cat.clean_uncommitted("doclens", id_divisor=div)
        os.makedirs(doclens_dir, exist_ok=True)
        t0 = time.time()
        kernel = _build_shard_fn(doclens_dir, positions=positions, chain=chain)
        if align_shards:
            # zero-shuffle path: shards are carved out of each scan split
            # in-task. A split can be arbitrarily fat (128 MB parquet files
            # at 100 TB), so the task STREAMS its Arrow batches and cuts a
            # sub-shard every _ALIGN_CHUNK_DOCS docs — kernel group size
            # stays at the measured sweet spot (~3k docs; a 28k-doc group
            # regressed 15× under allocator/GC pressure), and task memory
            # is bounded by one chunk, not the split. Sub-shard id =
            # split_id * stride + chunk_idx.
            stride = _ALIGN_STRIDE

            allowed = frozenset(missing)

            def _run_partition(batches):
                buf: list[pd.DataFrame] = []
                n = 0
                sub = 0

                def cut(pdf_chunk: pd.DataFrame, sub_idx: int) -> pd.DataFrame:
                    pid = int(pdf_chunk["shard"].iloc[0])
                    if pid not in allowed:
                        # shard ids come from spark_partition_id() at
                        # EXECUTION time; n_shards was read from the plan
                        # in a separate action. If the runtime scan
                        # produced partitions outside the planned range
                        # (AQE flip, file-split change between plan and
                        # run, resume on a re-laid-out input), fail loudly
                        # in-task rather than drop rows (ADVICE r03 #1 —
                        # this covers RESUME too, which the driver-side
                        # fresh-build count guard cannot).
                        raise RuntimeError(
                            f"aligned build: runtime partition id {pid} is "
                            f"outside the planned build set (n_shards="
                            f"{n_shards}); input layout changed between "
                            "planning and execution — re-run on a settled "
                            "input or use align_shards=False"
                        )
                    out = pdf_chunk.assign(shard=pid * stride + sub_idx)
                    return kernel(out)

                for pdf in batches:
                    if not len(pdf):
                        continue
                    buf.append(pdf)
                    n += len(pdf)
                    if sub >= stride - 1:
                        # stride exhausted (pathological >stride*chunk split):
                        # the final sub-shard absorbs the remainder — keep
                        # APPENDING and concat once at flush (a concat per
                        # batch over the growing tail would be O(n²) copy)
                        continue
                    while n >= _ALIGN_CHUNK_DOCS and sub < stride - 1:
                        cat = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
                        yield cut(cat.iloc[:_ALIGN_CHUNK_DOCS], sub)
                        sub += 1
                        rest = cat.iloc[_ALIGN_CHUNK_DOCS:]
                        buf = [rest] if len(rest) else []
                        n = len(rest)
                if n:
                    yield cut(pd.concat(buf, ignore_index=True), sub)

            # filter only COMMITTED shards out; anything else (including an
            # out-of-range runtime partition id) flows to the kernel, which
            # raises on ids outside the planned set instead of dropping them
            built = docs.select("shard", "doc_id", "text")
            if done:
                built = built.filter(~F.col("shard").isin(sorted(done)))
            built = built.mapInPandas(_run_partition, INDEX_SCHEMA)
        else:
            built = _classic_postings(docs, missing, kernel)
        built.write.partitionBy("shard").mode("append").parquet(shards_dir)
        wall = int((time.time() - t0) * 1000)
        # manifest/lineage key: classic mode = the shard itself; aligned
        # mode = the SCAN SPLIT (resume granularity is a split — its
        # sub-shards land or are cleaned together)
        key = (
            F.floor(F.col("shard") / F.lit(_ALIGN_STRIDE)).cast("int")
            if align_shards
            else F.col("shard")
        )

        # the two lineage aggregates and the terms-table build (below)
        # are independent jobs over the just-written parquet: run them
        # concurrently from driver threads (guide §2.6). Commit ORDER is
        # unchanged — shards/doclens commit first, terms commits after —
        # so the crash/resume contract is exactly the serial one's.
        def _lineage_job():
            return {
                r["k"]: r
                for r in spark.read.parquet(shards_dir)
                .withColumn("k", key)
                .filter(F.col("k").isin(missing))
                .groupBy("k")
                .agg(
                    F.count_distinct("term").alias("terms"),
                    F.sum("n").alias("postings"),
                    F.sum(
                        F.length("docs_payload") + F.length("tfs_payload")
                    ).alias("bytes"),
                )
                .collect()
            }

        def _docs_per_shard_job():
            return {
                r["k"]: r["cnt"]
                for r in spark.read.parquet(doclens_dir)
                .withColumn("k", key)
                .filter(F.col("k").isin(missing))
                .groupBy("k")
                .agg(F.count("*").alias("cnt"))
                .collect()
            }

        lineage_f = AUX_POOL.submit(
            _lineage_job, label="build_index: shard lineage"
        )
        docs_per_shard_f = AUX_POOL.submit(
            _docs_per_shard_job, label="build_index: doclens lineage"
        )
        if not cat.committed_partitions("terms", "terms"):
            terms_f = _build_terms_table(spark, shards_dir, terms_dir)
        lineage = lineage_f.result()
        docs_per_shard = docs_per_shard_f.result()
        if stats_future is not None:
            stats = stats_future.result()
            stats_future = None
        if align_shards and len(missing) == n_shards:
            # Guard against plan/runtime partition-count divergence: shard ids
            # come from spark_partition_id() at EXECUTION time, but n_shards
            # was read from the plan in a separate action. If the runtime scan
            # produced more partitions (AQE coalesce flipped off, dynamic
            # file-split changes), rows in partitions >= n_shards would be
            # silently dropped by the isin(missing) filter while stats.n_docs
            # still counts them — fail loudly instead (ADVICE r03 #1).
            built_docs = sum(docs_per_shard.values())
            if built_docs != stats["n_docs"]:
                raise RuntimeError(
                    f"aligned build indexed {built_docs} docs but corpus stats "
                    f"counted {stats['n_docs']}: the scan's runtime partition "
                    f"count diverged from the planned shard count ({n_shards}). "
                    "Input layout must be stable across actions; rebuild with "
                    "align_shards=False or re-run on a settled input."
                )
        cat.commit(
            "shards",
            [
                PartitionEntry(
                    partition_id=s,
                    stage="postings",
                    input_rows=int(lineage[s]["postings"]) if s in lineage else 0,
                    docs=int(docs_per_shard.get(s, 0)),
                    terms=int(lineage[s]["terms"]) if s in lineage else 0,
                    bytes=int(lineage[s]["bytes"]) if s in lineage else 0,
                    wall_ms=wall,
                )
                for s in missing
            ],
            props={
                "n_shards": n_shards,
                "avgdl": stats["avgdl"],
                "n_docs": stats["n_docs"],
                "aligned": bool(align_shards),
                "align_stride": _ALIGN_STRIDE if align_shards else 1,
                **({"align_fingerprint": align_fp} if align_shards else {}),
            },
        )
        cat.commit(
            "doclens",
            [
                PartitionEntry(
                    partition_id=s,
                    stage="doclens",
                    input_rows=int(docs_per_shard.get(s, 0)),
                    docs=int(docs_per_shard.get(s, 0)),
                    terms=0,
                    bytes=0,
                    wall_ms=wall,
                )
                for s in missing
            ],
        )

    # --- stage 3: global term document frequencies (for idf). Usually
    # already built concurrently with the lineage aggregates above; the
    # manifest COMMIT happens here, strictly after the shards/doclens
    # commits, preserving the serial crash/resume contract. ---
    if not cat.committed_partitions("terms", "terms"):
        if terms_f is None:
            terms_f = _build_terms_table(spark, shards_dir, terms_dir)
        n_terms, terms_wall = terms_f.result()
        cat.commit(
            "terms",
            [
                PartitionEntry(
                    partition_id=0,
                    stage="terms",
                    input_rows=n_terms,
                    docs=0,
                    terms=n_terms,
                    bytes=0,
                    wall_ms=terms_wall,
                )
            ],
        )

    if stats_future is not None:  # no shards were missing (pure resume)
        stats = stats_future.result()

    # --- stats.json last: atomic write, existence == complete build ---
    if batch_tag and batch_tag not in stats.setdefault("applied_batches", []):
        stats["applied_batches"].append(batch_tag)
    _write_json_atomic(stats_path, stats)
    if warm:
        from .wand import warm_index

        warm_index(spark, index_dir)
    return stats


def generation_dirs(index_dir: str, table: str = "shards") -> list[str]:
    """All generation directories of an index table, gen-0 first.

    The segment model (Lucene-style): each ``append_documents`` call adds
    a generation with a disjoint, higher docID range. Readers union all
    generations; ``merge_index`` compacts them.
    """
    stats_path = os.path.join(index_dir, "stats.json")
    with open(stats_path) as f:
        gens = int(json.load(f).get("generations", 1))
    dirs = [os.path.join(index_dir, table)]
    dirs += [os.path.join(index_dir, f"{table}_gen{g}") for g in range(1, gens)]
    missing = [d for d in dirs if not os.path.exists(d)]
    if missing:
        # stats.json says these generations are committed; serving a
        # partial union would silently drop documents (e.g. a crash in
        # compact/merge's swap window) — fail loudly instead
        raise RuntimeError(
            f"index at {index_dir} declares {gens} generation(s) of "
            f"'{table}' but {missing} missing — crash mid-compaction/"
            "merge? Restore the directory or rebuild the index."
        )
    return dirs


def union_parquet_dirs(spark: SparkSession, dirs: list[str]) -> DataFrame:
    """Union scan over explicit parquet roots, one scan per root unioned
    by name (a single multi-root read trips Spark's partition discovery);
    filters/pruning push into each scan independently."""
    dfs = [spark.read.parquet(d) for d in dirs]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def read_generations(spark: SparkSession, index_dir: str, table: str = "shards") -> DataFrame:
    """Union scan over all generations of an index table."""
    return union_parquet_dirs(spark, generation_dirs(index_dir, table))


def append_documents(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    resume: bool = True,
    batch_tag: str | None = None,
) -> dict:
    """Append a new generation of documents to an existing index.

    Replaces the reference's incremental-load watermark + delete-then-
    reload dance (SURVEY §2.11 W6, mira/elasticsearch.py:96-127,211-225)
    with Lucene-style segments: the new docs (whose doc_ids MUST all
    exceed the index's current max — deterministic, append-only) are
    built into ``shards_gen{g}`` / ``doclens_gen{g}`` with the same shard
    function, corpus stats are updated, and term document frequencies are
    recomputed. Queries need no special handling: block score bounds are
    derived from stored (max_tf, min_dl) at query time under the NEW
    avgdl (codec.py), and cursors order blocks by min_doc across
    generations. ``merge_index`` remains the compaction path.

    Commit protocol (ADVICE r01): the terms table is recomputed over
    old + new generations FIRST; only then is ``stats.json`` replaced
    atomically (tmpfile + os.replace) with the bumped generation count —
    the single visibility point. A crash anywhere before that leaves the
    old index fully readable, and a re-run resumes via the shard manifest.
    ``batch_tag`` (recorded in stats inside the same atomic write) makes
    a replayed streaming micro-batch a no-op instead of a duplicate
    generation.
    """
    cat = ManifestCatalog(index_dir)
    stats_path = os.path.join(index_dir, "stats.json")
    stats = load_stats(index_dir)
    if batch_tag and batch_tag in stats.get("applied_batches", []):
        return stats
    props = cat.load("shards").props
    n_shards = int(props["n_shards"])
    gen = int(stats.get("generations", 1))
    positions = bool(stats.get("positions", True))
    # the index's analysis chain (stats.json) is inherited — appends
    # tokenize exactly like the original build did
    from .analyze import AnalysisChain

    chain = AnalysisChain.from_config(stats.get("analysis"))

    # a routed index's appends shard by the SAME routing hash, so the
    # routed-query pruning contract survives every generation
    shard = _shard_col(docs, n_shards, stats.get("routing_field"), id_col)
    docs = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"),
        shard.alias("shard"),
    )

    agg = docs.agg(
        F.count("*").alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    ).collect()[0]
    if agg["n"] == 0:
        return stats
    if int(agg["min_id"]) <= int(stats.get("max_doc_id", -1)):
        raise ValueError(
            f"appended doc_ids must exceed current max {stats.get('max_doc_id')}; "
            f"got min {agg['min_id']}"
        )

    table = f"shards_gen{gen}"
    doclens_dir = os.path.join(index_dir, f"doclens_gen{gen}")
    shards_dir = os.path.join(index_dir, table)
    done = cat.committed_partitions(table, "postings") if resume else set()
    missing = sorted(set(range(n_shards)) - done)
    dl_totals = None
    if missing:
        cat.clean_uncommitted(table)
        cat.clean_uncommitted(f"doclens_gen{gen}")
        os.makedirs(doclens_dir, exist_ok=True)
        t0 = time.time()
        kernel = _build_shard_fn(doclens_dir, positions=positions, chain=chain)
        built = _classic_postings(docs, missing, kernel)
        built.write.partitionBy("shard").mode("append").parquet(shards_dir)
        wall = int((time.time() - t0) * 1000)
        # ONE aggregate serves both the per-shard lineage counts and the
        # corpus-stats update below (the r6 path ran two jobs over the
        # same doclens parquet)
        shard_rows = (
            spark.read.parquet(doclens_dir)
            .groupBy("shard")
            .agg(F.count("*").alias("cnt"), F.sum("dl").alias("sdl"))
            .collect()
        )
        docs_per_shard = {r["shard"]: r["cnt"] for r in shard_rows}
        dl_totals = (
            sum(r["cnt"] for r in shard_rows),
            sum(r["sdl"] or 0 for r in shard_rows),
        )
        cat.commit(
            table,
            [
                PartitionEntry(
                    partition_id=s,
                    stage="postings",
                    input_rows=0,
                    docs=int(docs_per_shard.get(s, 0)),
                    terms=0,
                    bytes=0,
                    wall_ms=wall,
                )
                for s in missing
            ],
            props={"generation": gen},
        )

    # recompute global term document frequencies over ALL generations —
    # BEFORE the new generation becomes visible in stats.json, so queries
    # never see a bumped generation whose dfs are missing (wrong idf).
    # The union lists old generations (from current stats) + the new dir
    # explicitly, since read_generations only sees committed generations.
    all_gens = union_parquet_dirs(
        spark, generation_dirs(index_dir, "shards") + [shards_dir]
    )
    terms_f = AUX_POOL.submit(
        term_dfs(all_gens).write.mode("overwrite").parquet,
        os.path.join(index_dir, "terms"),
        label="append_documents: terms table",
    )
    # the corpus-stats aggregate (when not already folded into the shard
    # lineage above) overlaps the terms recompute; BOTH complete before
    # the stats.json visibility point below
    if dl_totals is None:
        dl_agg = (
            spark.read.parquet(doclens_dir)
            .agg(F.count("*").alias("n"), F.sum("dl").alias("sdl"))
            .collect()[0]
        )
        dl_totals = (int(dl_agg["n"]), int(dl_agg["sdl"] or 0))
    terms_f.result()
    cat.commit(
        "terms",
        [
            PartitionEntry(
                partition_id=gen,
                stage="terms",
                input_rows=0,
                docs=0,
                terms=0,
                bytes=0,
                wall_ms=0,
            )
        ],
    )

    # update corpus stats (weighted avgdl) + generation count — the ONE
    # atomic visibility point for the appended generation
    old_total_dl = stats["avgdl"] * stats["n_docs"]
    new_n = stats["n_docs"] + int(dl_totals[0])
    applied = list(stats.get("applied_batches", []))
    # per-tag first-assigned doc_id, recorded in the SAME atomic write as
    # the tag itself: update_by_query's crash replay recovers its id base
    # from here instead of guessing "last generation == my batch" (which
    # an unrelated append between crash and replay would silently break —
    # ADVICE r05, deletes.py:592)
    bases = dict(stats.get("batch_bases", {}))
    if batch_tag:
        applied.append(batch_tag)
        bases[batch_tag] = int(agg["min_id"])
    stats = stats_record(
        {**stats, "applied_batches": applied, "batch_bases": bases},
        n_docs=new_n,
        avgdl=(old_total_dl + float(dl_totals[1])) / max(new_n, 1),
        max_doc_id=agg["max_id"],
        generations=gen + 1,
    )
    _write_json_atomic(stats_path, stats)
    return stats


def reindex(
    spark: SparkSession,
    docs: DataFrame,
    src_dir: str,
    dst_dir: str,
    n_shards: int | None = None,
    analysis: dict | None | type(...) = ...,
    positions: bool | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """ES ``_reindex`` analogue: rebuild the index into ``dst_dir`` with
    (possibly) CHANGED settings — the only way to switch an analyzer in
    ES, and the same here (the analysis chain in stats.json is immutable
    index config, baked into every posting).

    ``docs`` is the source corpus table (this engine stores no _source;
    the reference's loaders likewise re-read their upstream tables).
    Tombstoned ids from ``src_dir`` are EXCLUDED — reindex materializes
    the live set, like ES reindexing from a source with deletes applied.
    Settings default to the source index's (positions, shard count);
    ``analysis`` defaults to the source's chain — pass a new config (or
    None for the default grammar) to change it. Returns dst stats.

    Scale shape: one full build over the live corpus (the unavoidable
    cost of re-analyzing — same as ES), map-only via the aligned build;
    the tombstone anti-join is a broadcast against the tiny delete set.
    """
    from .deletes import filter_deleted

    src = load_stats(src_dir)
    if os.path.abspath(src_dir) == os.path.abspath(dst_dir):
        raise ValueError(
            "reindex needs a fresh destination directory (in-place "
            "analyzer changes would corrupt readers mid-build)"
        )
    if os.path.exists(os.path.join(dst_dir, "stats.json")):
        raise ValueError(f"destination {dst_dir} already holds an index")
    # projecting to (doc_id, text) also drops any precomputed dl column —
    # it belongs to the OLD analysis and must never carry into the rebuild
    routing_field = src.get("routing_field")
    sel = [F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")]
    if routing_field is not None:
        # a routed source stays routed: the rebuild re-derives every
        # shard assignment from the routing column (which the corpus
        # table must therefore still carry)
        if routing_field not in docs.columns:
            raise ValueError(
                f"source index routes by {routing_field!r}; the reindex "
                f"corpus must carry that column ({docs.columns})"
            )
        sel.append(F.col(routing_field).alias(routing_field))
    live = filter_deleted(spark, src_dir, docs.select(*sel))
    from .catalog import ManifestCatalog

    try:
        src_shards = int(
            ManifestCatalog(src_dir).load("shards").props.get("n_shards", 0)
        ) or None
    except Exception:
        src_shards = None
    return build_index(
        spark,
        live,
        dst_dir,
        n_shards=int(n_shards or src_shards or 8),
        positions=bool(src.get("positions", True)) if positions is None else positions,
        analysis=src.get("analysis") if analysis is ... else analysis,
        routing_field=routing_field,
    )
