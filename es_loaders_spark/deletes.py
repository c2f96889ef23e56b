"""Document deletion: tombstones + delete_by_query + compaction.

The reference deletes documents with ES ``delete_by_query``
(mira/elasticsearch.py:255-274, term-filtered; driven by clean_analysis
at 211-225) and relies on index rebuilds otherwise. Lucene's model —
which ES uses underneath — is TOMBSTONES: deletes mark docs in a
live-docs bitmap; queries skip them; segment merges drop them
physically. Same model here:

- ``delete_ids`` / ``delete_by_term``: append doc_ids to the index's
  ``deletes`` tombstone table (manifest-committed parquet).
- Query paths (wand.topk/topk_batch, phrase.phrase_docs,
  merge.merged_postings) anti-join tombstones — deleted docs never
  surface. Corpus stats (n_docs/avgdl/df) keep their pre-delete values
  until compaction, exactly like Lucene's docCount between merges.
- ``compact_index``: physically rebuilds the shards/doclens/terms
  tables from the survivor set — afterwards the index is
  content-identical to a fresh build of the survivors (pytest asserts
  rank-identity), tombstones are cleared, generations reset to 1.

Scale notes: tombstone tables are tiny next to the index (doc_ids
only); the anti-joins broadcast under AQE. Compaction is one
(shard, term)-keyed shuffle — the same shape as the salted merge — and
runs decode → filter → re-encode fully vectorized per group.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import (
    _write_json_atomic,
    generation_dirs,
    load_stats,
    read_generations,
    rewrite_shards,
    stats_record,
    term_dfs,
    union_parquet_dirs,
)
from .catalog import ManifestCatalog, PartitionEntry
from .codec import decode_blocks_flat_batch


_ASIDE_SUFFIXES = ("_precompact", "_premerge")


def _recover_or_refuse(index_dir: str) -> None:
    """Crash recovery gate for compaction/merge retries (ADVICE r04).

    A compaction/merge crash in the swap window leaves declared
    generation dirs renamed aside (``*_precompact`` / ``*_premerge``).
    Sweeping those aside copies at entry — BEFORE checking the index is
    intact — turns the natural retry into permanent data loss: the
    backups are deleted first, then the job fails on the missing dirs.

    This gate runs before any sweep:

    - If the index is intact (``generation_dirs`` succeeds for shards
      and doclens and the terms table exists), return — the aside
      copies are superseded leftovers and sweeping them is safe.
    - Otherwise restore every aside copy over its original path. An
      occupant at the original path can only be a never-yet-visible
      install from the crashed run (stats.json — the visibility point —
      is written only after every install), so the aside copy is
      authoritative and the occupant is dropped.
    - If restoration still leaves the index broken, raise with a
      recovery message instead of sweeping anything.
    """
    import shutil

    def _intact() -> bool:
        try:
            generation_dirs(index_dir, "shards")
            generation_dirs(index_dir, "doclens")
        except (RuntimeError, OSError):
            return False
        return os.path.exists(os.path.join(index_dir, "terms"))

    if _intact():
        return
    restored: list[str] = []
    for name in sorted(os.listdir(index_dir)):
        suffix = next((s for s in _ASIDE_SUFFIXES if name.endswith(s)), None)
        if suffix is None:
            continue
        orig = os.path.join(index_dir, name[: -len(suffix)])
        if os.path.exists(orig):
            shutil.rmtree(orig)
        os.replace(os.path.join(index_dir, name), orig)
        restored.append(os.path.basename(orig))
    if not _intact():
        raise RuntimeError(
            f"index at {index_dir} is missing declared generation dirs "
            f"and the aside copies ({'/'.join(_ASIDE_SUFFIXES)}) cannot "
            f"restore it (restored: {restored or 'none'}). Refusing to "
            "sweep — restore the missing directories manually or rebuild."
        )


def tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Committed tombstone doc_ids, or None if nothing was deleted."""
    d = os.path.join(index_dir, "deletes")
    cat = ManifestCatalog(index_dir)
    if not cat.committed_partitions("deletes"):
        return None
    return spark.read.parquet(d).select("doc_id")


def filter_deleted(spark: SparkSession, index_dir: str, df: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Anti-join tombstones out of ``df`` (no-op when none exist)."""
    tomb = tombstones(spark, index_dir)
    if tomb is None:
        return df
    return df.join(
        tomb.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


def delete_ids(spark: SparkSession, index_dir: str, ids: DataFrame) -> int:
    """Tombstone the given doc_ids (idempotent: duplicates collapse).

    Returns the total number of tombstoned docs after the call.
    """
    cat = ManifestCatalog(index_dir)
    d = cat.table_dir("deletes")
    ids = ids.select(F.col(ids.columns[0]).cast("long").alias("doc_id")).distinct()
    existing = tombstones(spark, index_dir)
    if existing is not None:
        ids = ids.unionByName(existing).distinct()
    # collect-free commit: write new snapshot dir, manifest points at it
    version = cat.load("deletes").version + 1
    part = os.path.join(d, f"shard={version}")
    ids.coalesce(1).write.mode("overwrite").parquet(part)
    n = spark.read.parquet(part).count()
    # drop older snapshots (superseded) before committing the new one —
    # the parquet dir then holds exactly the latest full tombstone set
    for name in os.listdir(d):
        if name.startswith("shard=") and name != f"shard={version}":
            import shutil

            shutil.rmtree(os.path.join(d, name), ignore_errors=True)
    cat.commit(
        "deletes",
        [
            PartitionEntry(
                partition_id=version, stage="deletes", input_rows=n,
                docs=n, terms=0, bytes=0, wall_ms=0,
            )
        ],
    )
    return int(n)


def delete_by_term(spark: SparkSession, index_dir: str, term: str) -> int:
    """ES ``delete_by_query`` with a term filter (mira/elasticsearch.py:
    255-274): tombstone every doc whose postings contain ``term`` —
    answered FROM THE INDEX (term-pushdown block read), no text scan."""
    idx = (
        read_generations(spark, index_dir, "shards")
        .filter(F.col("term") == term)
        .select(
            "term", "min_doc", "max_doc", "n", "max_tf", "min_dl",
            "docs_payload", "tfs_payload",
        )
    )

    def decode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            d, _t, _off = decode_blocks_flat_batch(
                pdf["min_doc"].to_numpy(), pdf["docs_payload"].tolist(),
                pdf["tfs_payload"].tolist(),
            )
            if d.size:
                yield pd.DataFrame({"doc_id": d})

    ids = idx.mapInPandas(decode, "doc_id long")
    return delete_ids(spark, index_dir, ids)


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Physically drop tombstoned docs: rebuild shards/doclens/terms from
    the survivor set, clear tombstones, reset to one generation.

    Content-identical to a fresh build of the survivors (same codec, same
    block boundaries, exact per-posting dls for the skylines), so BM25
    top-k is rank-identical to a from-scratch index (pytest-asserted).
    stats.json is replaced LAST (atomic visibility point).
    """
    import shutil

    # crash-retry gate FIRST (ADVICE r04, high): if a previous compaction
    # died mid-swap, the *_precompact dirs are the only copy of the index —
    # and the shards manifest rode along with the renamed dir. Restore (or
    # refuse) before anything reads the index or sweeps the aside copies.
    _recover_or_refuse(index_dir)

    tomb = tombstones(spark, index_dir)
    stats_path = os.path.join(index_dir, "stats.json")
    stats = load_stats(index_dir)
    if tomb is None:
        return stats
    cat = ManifestCatalog(index_dir)
    n_shards = int(cat.load("shards").props["n_shards"])

    # now the index is provably intact: any remaining *_precompact dirs are
    # superseded leftovers of a compaction that crashed after its stats
    # commit — a fresh os.replace aside would collide with them, sweep
    for name in os.listdir(index_dir):
        if name.endswith("_precompact"):
            shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)

    # survivor doclens and postings
    new_doclens = os.path.join(index_dir, "doclens_compact")
    new_shards = os.path.join(index_dir, "shards_compact")
    dl_clean = rewrite_shards(
        read_generations(spark, index_dir, "shards"),
        read_generations(spark, index_dir, "doclens").join(
            tomb, "doc_id", "left_anti"
        ),
        n_shards, new_shards, new_doclens,
    )

    # new global stats + term dfs from the compacted tables
    agg = dl_clean.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    new_terms = os.path.join(index_dir, "terms_compact")
    term_dfs(spark.read.parquet(new_shards)).write.mode("overwrite").parquet(
        new_terms
    )

    # swap — crash-safe: NOTHING is deleted before the stats commit. Old
    # tables are renamed aside, the compacted tables move into place, the
    # atomic stats.json replace is the visibility point, and only then is
    # the aside state removed. A crash mid-swap leaves generation_dirs
    # raising loudly with every byte still on disk under *_precompact
    # (rename back to recover); a crash after the stats write leaves only
    # harmless leftovers, swept by the next compaction.
    aside: list[str] = []

    def _aside(path: str) -> None:
        if os.path.exists(path):
            os.replace(path, path + "_precompact")
            aside.append(path + "_precompact")

    for table in ("shards", "doclens"):
        for d in generation_dirs(index_dir, table):
            _aside(d)
    _aside(os.path.join(index_dir, "terms"))
    _aside(os.path.join(index_dir, "merged"))
    os.replace(new_shards, os.path.join(index_dir, "shards"))
    os.replace(new_doclens, os.path.join(index_dir, "doclens"))
    os.replace(new_terms, os.path.join(index_dir, "terms"))

    stats = stats_record(
        stats,
        n_docs=agg["n"],
        avgdl=agg["avgdl"] or 0.0,
        # doc_ids are NEVER reused: max_doc_id keeps its high-water mark
        # even if the top docs were deleted (append contract stays monotone)
        max_doc_id=stats.get("max_doc_id", -1),
        generations=1,
    )
    _write_json_atomic(stats_path, stats)
    # visible now — clear tombstones and sweep the aside state
    cat.drop("deletes")
    for d in aside:
        shutil.rmtree(d, ignore_errors=True)
    return stats


def merge_generations(
    spark: SparkSession, index_dir: str, min_generations: int = 3
) -> dict:
    """Tiered segment merge: collapse every APPENDED generation
    (``shards_gen1..gen{G-1}``) into a single generation, leaving the
    base generation (gen-0 — typically orders of magnitude larger)
    untouched. Lucene's tiered merge policy re-expressed for this index:
    merge cost is proportional to the small appended segments, never the
    base, so a streaming/append-heavy index keeps its per-query
    generation fan-in bounded without ever paying a full rewrite
    (``compact_index`` remains the full-rewrite path, which also drops
    tombstones — this merge deliberately preserves them).

    Logical content is UNCHANGED: the merged generation holds exactly the
    union of the appended generations' postings and doclens (generations
    have disjoint ascending docID ranges, so per-term concatenation in
    doc order is a pure re-blocking). n_docs, avgdl, global term dfs, the
    tombstone table, and the merged hot-term table are all unaffected —
    queries are rank-identical before/after (pytest-asserted).

    No-op unless at least ``min_generations`` (clamped to ≥1) appended
    generations exist. Single-writer, like Lucene's merge lock: do not
    run concurrently with an append.

    Crash safety — NOTHING is deleted before the new stats commit:
    1. merged tables are fully written to ``*_genmerge_tmp``;
    2. old generation dirs are RENAMED aside (``*_premerge``), the temps
       move into place as gen-1, the gen-1 manifest is committed;
    3. the atomic ``stats.json`` write (generations=2) is the visibility
       point;
    4. only then are the ``*_premerge`` dirs (and any orphaned
       ``shards_gen{i>=2}`` left by a crashed in-flight append — its
       data was never visible and the renumbering would otherwise let a
       future append "resume" onto it) deleted.
    A crash in step 2 leaves ``generation_dirs`` raising loudly with
    every byte still on disk under ``*_premerge``/``*_genmerge_tmp``
    (rename back to recover); a crash in step 4 leaves only harmless
    leftovers, which the next merge removes first.
    """
    import re
    import shutil

    # crash-retry gate FIRST (ADVICE r04, high): a merge that died in the
    # swap window left the appended generations only under *_premerge —
    # sweeping before this check would delete the sole surviving copy and
    # the *_genmerge_tmp merged copy, then fail on the missing gen dirs
    _recover_or_refuse(index_dir)

    min_generations = max(1, min_generations)
    stats = load_stats(index_dir)
    g = int(stats.get("generations", 1))
    if g - 1 < min_generations:
        return stats
    cat = ManifestCatalog(index_dir)
    n_shards = int(cat.load("shards").props["n_shards"])
    stats_path = os.path.join(index_dir, "stats.json")

    def _sweep_leftovers(max_gen: int) -> None:
        pat = re.compile(r"^(shards|doclens)_(gen(\d+)|genmerge_tmp)")
        for name in os.listdir(index_dir):
            m = pat.match(name)
            stale = name.endswith("_premerge") or (
                m and (m.group(3) is None or int(m.group(3) or 0) >= max_gen)
            )
            if stale:
                shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)

    # index proven intact by the entry gate: remaining aside dirs are
    # superseded leftovers — sweep them before fresh renames collide
    _sweep_leftovers(max_gen=g)  # prior crashed merges / abandoned appends

    shard_dirs = [os.path.join(index_dir, f"shards_gen{i}") for i in range(1, g)]
    dl_dirs = [os.path.join(index_dir, f"doclens_gen{i}") for i in range(1, g)]

    tmp_dl = os.path.join(index_dir, "doclens_genmerge_tmp")
    tmp_sh = os.path.join(index_dir, "shards_genmerge_tmp")
    dl_merged = rewrite_shards(
        union_parquet_dirs(spark, shard_dirs),
        union_parquet_dirs(spark, dl_dirs),
        n_shards, tmp_sh, tmp_dl,
    )
    docs_per_shard = {
        r["shard"]: r["cnt"]
        for r in dl_merged.groupBy("shard").agg(F.count("*").alias("cnt")).collect()
    }

    # step 2: rename aside (no deletes yet), install merged as gen-1
    for d in shard_dirs + dl_dirs:
        os.replace(d, d + "_premerge")
    os.replace(tmp_sh, os.path.join(index_dir, "shards_gen1"))
    os.replace(tmp_dl, os.path.join(index_dir, "doclens_gen1"))
    cat.commit(
        "shards_gen1",
        [
            PartitionEntry(
                partition_id=s,
                stage="postings",
                input_rows=0,
                docs=int(docs_per_shard.get(s, 0)),
                terms=0,
                bytes=0,
                wall_ms=0,
            )
            for s in range(n_shards)
        ],
        props={"generation": 1, "merged_from": g - 1},
    )

    # step 3: the atomic visibility point
    stats = dict(stats)
    stats["generations"] = 2
    _write_json_atomic(stats_path, stats)

    # step 4: now — and only now — delete the replaced generations and
    # any orphaned higher-numbered gen dirs
    _sweep_leftovers(max_gen=2)
    return stats


# ---------------------------------------------------------------------------
# _update_by_query — the document lifecycle's missing quarter
# ---------------------------------------------------------------------------

def id_map(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Committed (old_id, new_id) update mapping, or None if no doc was
    ever updated. Resolve an externally-held old doc_id to its current
    one by following the chain (old → new may itself be superseded)."""
    cat = ManifestCatalog(index_dir)
    if not cat.committed_partitions("id_map"):
        return None
    # select off the shard= snapshot-partition column the dir layout adds
    return spark.read.parquet(os.path.join(index_dir, "id_map")).select(
        "old_id", "new_id"
    )


def update_by_query(
    spark: SparkSession,
    index_dir: str,
    body: dict,
    docs: DataFrame,
    new_text,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_tag: str | None = None,
) -> dict:
    """ES ``_update_by_query`` analogue over the append-only index.

    ES rewrites matching documents in place (same ``_id``, version
    bump). This engine's index is immutable generations plus a global
    tombstone set (by design: postings never rewrite, doc_ids never
    reuse — that is what makes block metadata, caches and time-travel
    sound). An update therefore = reindex-under-fresh-ids:

    1. matching docs (``body["query"]``, same DSL as delete_by_query)
       are re-written with ``new_text`` (a Column over the doc row) and
       APPENDED as a new generation under fresh doc_ids
       (old-id rank + max_doc_id + 1 — deterministic);
    2. the old ids are tombstoned;
    3. the (old_id, new_id) pairs are committed to the ``id_map``
       catalog table so callers holding old ids can resolve forward.

    LOUD DEVIATION from ES: ``_id`` is NOT stable across an update —
    carry a stable business key as a column (the web corpus carries
    ``url``) or resolve through ``id_map``. In exchange the update is
    rank-exact: the post-update index is provably identical to a fresh
    build over the updated corpus (test_update_by_query).

    Crash/idempotence contract: the append commits first (with
    ``batch_tag`` recorded in stats.json, so a replay no-ops), the
    tombstones second (idempotent union). A crash between the two
    leaves BOTH versions transiently visible; re-running the same call
    completes the swap — at-least-once visibility of the new version,
    never loss of both.

    Ordering note: new ids come from a row_number over the MATCHED set
    only — a global sort of the updated rows, not the corpus. Updates
    that match a large fraction of a 10^12-doc corpus should go through
    a fresh build instead (same advice ES gives for full reindexes).
    """
    from pyspark.sql.window import Window

    from . import dsl as _dsl
    from .build import append_documents

    stats = load_stats(index_dir)
    applied = bool(batch_tag) and batch_tag in stats.get("applied_batches", [])
    matched = docs.filter(
        F.coalesce(_dsl.filter_expr(body.get("query", {}), id_col), F.lit(False))
    )
    if applied:
        # Replay after the append already committed (crash between the
        # append and the tombstone/id_map half): recompute the SAME new
        # ids the committed append assigned. append_documents records the
        # batch's first assigned id in stats["batch_bases"] inside the
        # same atomic write as the tag — recover from THAT, never from
        # "the last generation" (an unrelated append_documents between
        # the crash and the replay would make the last generation some
        # other batch and silently mis-map old ids — ADVICE r05).
        bases = stats.get("batch_bases", {})
        if batch_tag not in bases:
            raise RuntimeError(
                f"update_by_query replay: batch_tag {batch_tag!r} is in "
                "applied_batches but has no recorded base in "
                "stats['batch_bases'] (pre-base-recording index?); "
                "cannot safely recompute the committed id mapping — "
                "resolve via the id_map table or rebuild"
            )
        base = int(bases[batch_tag])
    else:
        base = int(stats["max_doc_id"]) + 1
    w = Window.orderBy(F.col(id_col))
    remapped = (
        matched.withColumn("_new_id", F.row_number().over(w) - 1 + F.lit(base))
        .withColumn(text_col, new_text)
    )
    pairs = remapped.select(
        F.col(id_col).cast("long").alias("old_id"),
        F.col("_new_id").cast("long").alias("new_id"),
    )
    n_updated = pairs.count()
    if n_updated == 0:
        return {"updated": 0, "stats": stats}

    new_docs = remapped.select(
        F.col("_new_id").alias(id_col),
        *[c for c in docs.columns if c != id_col],
    )
    stats = append_documents(
        spark, new_docs, index_dir, text_col=text_col, id_col=id_col,
        batch_tag=batch_tag,
    )

    # tombstone the old versions (idempotent)
    delete_ids(spark, index_dir, pairs.select("old_id"))

    # commit the forward mapping (same snapshot protocol as tombstones)
    cat = ManifestCatalog(index_dir)
    d = cat.table_dir("id_map")
    existing = id_map(spark, index_dir)
    allpairs = pairs if existing is None else pairs.unionByName(existing).distinct()
    version = cat.load("id_map").version + 1
    part = os.path.join(d, f"shard={version}")
    allpairs.coalesce(1).write.mode("overwrite").parquet(part)
    n = spark.read.parquet(part).count()
    for name in os.listdir(d):
        if name.startswith("shard=") and name != f"shard={version}":
            import shutil

            shutil.rmtree(os.path.join(d, name), ignore_errors=True)
    cat.commit(
        "id_map",
        [PartitionEntry(partition_id=version, stage="id_map",
                        input_rows=n, docs=n, terms=0, bytes=0, wall_ms=0)],
    )
    return {"updated": int(n_updated), "stats": stats}
