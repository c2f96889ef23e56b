"""Structured Streaming analogues of the reference's streaming surface.

The reference streams a matrix file in ordered 1e6-row chunks with
group-boundary carry-over state (mira/mira_loader.py:156-228, SURVEY
§2.11 W1-W4): rows of the last group in each chunk are withheld and
prepended to the next chunk so a group is never split. In Spark that
hand-rolled state machine is:

- batch: nothing — ``groupBy`` shuffles whole groups (SURVEY W2);
- streaming: a watermarked windowed aggregation, or
  ``applyInPandasWithState`` for the custom carry-over semantics.

Both provided here over a file/rate stream of ``events``-shaped rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling-window counts per event_type with late-data watermark.

    The streaming analogue of the reference's per-chunk accounting
    (mira_loader.py:220-228): counts become final once the watermark
    passes, replacing the explicit final-flush (W3).
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stateful_group_totals(stream: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Custom stateful operator: per-key running (n, total) across batches.

    The TRUE streaming analogue of the reference's group-boundary
    carry-over state (mira/mira_loader.py:156-196, SURVEY §2.11 W2): the
    reference withholds a split group's rows until the group is complete
    across chunk boundaries; here ``applyInPandasWithState`` carries the
    group's partial aggregate in managed GroupState across micro-batches
    and emits the updated total each batch (update semantics) — the last
    emission per key is the complete-group answer, no matter how the
    rows were split into batches.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    out_schema = StructType(
        [
            StructField("key", LongType()),
            StructField("n", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"key": [key[0]], "n": [n], "total_value": [total]})

    return (
        stream.select(F.col(key_col).alias("key"), "value")
        .groupBy("key")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def incremental_load(
    stream: DataFrame, out_dir: str, checkpoint_dir: str, trigger_once: bool = True
):
    """File-sink incremental load with exactly-once checkpointing.

    Spark's checkpoint + idempotent file sink replace the reference's
    date-high-watermark skip logic (is_dashboard_loaded,
    mira/elasticsearch.py:96-127, SURVEY W6).
    """
    writer = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_index_updates(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    available_now: bool = True,
    merge_every: int = 8,
    dedup_store_dir: str | None = None,
):
    """Continuously index a document stream: each micro-batch becomes a
    new index generation via ``build.append_documents``.

    The streaming analogue of the reference's incremental dashboard loads
    (SURVEY §2.11 W6): Spark's streaming checkpoint replaces the date
    high-watermark, and generation appends replace delete-then-reload.
    DocIDs are assigned monotonically per batch (current max_doc_id + the
    batch-local url rank), so cross-batch determinism holds for a given
    batch partitioning.

    Exactly-once: foreachBatch alone is only at-least-once (a batch whose
    append committed but whose checkpoint offset didn't is REPLAYED on
    restart). Each batch_id is therefore recorded in the index's
    stats.json inside the same atomic write that makes the generation
    visible (build.append_documents ``batch_tag``), so a replayed batch
    is a no-op — idempotent per batch_id, which upgrades the pipeline to
    effective exactly-once (ADVICE r01).

    The stream must carry (url, text) columns [or (doc_id, text) with
    caller-guaranteed monotone ids].

    ``merge_every``: once the index accumulates this many appended
    generations, the batch hook runs ``deletes.merge_generations``
    (tiered merge — collapses the per-batch segments into one, base
    untouched), bounding per-query generation fan-in for a long-running
    stream. The merge is rank-neutral and its stats.json commit is
    atomic, so a crash between append and merge just defers the merge to
    a later batch. 0 disables.

    ``dedup_store_dir``: when set, each micro-batch is also near-dup
    checked INCREMENTALLY against every previously ingested batch
    (dedup_store.append_dedup_store — new×all signature band join, the
    batch's text tokenized once, old text never re-read) and its
    signatures join the store; cumulative pairs accumulate under
    ``pairs_gen*`` (dedup_store.store_pairs). The store append is
    idempotent per batch_tag, exactly like the index append, so a
    replayed micro-batch cannot double-count pairs.
    """
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..build import append_documents, build_index, load_stats

    def process_batch(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        tag = f"batch-{batch_id}"
        stats_path = os.path.join(index_dir, "stats.json")
        stats = load_stats(index_dir) if os.path.exists(stats_path) else {}
        if tag in stats.get("applied_batches", []):
            return  # replayed micro-batch: already applied, no-op
        if "doc_id" not in batch_df.columns:
            base = int(stats.get("max_doc_id", -1))
            # batch-local rank; batches are small enough for a single-task
            # window (micro-batch sized), large backfills use build_index
            rank = F.row_number().over(Window.orderBy("url")) - 1
            batch_df = batch_df.withColumn("doc_id", F.lit(base + 1) + rank)
        batch_df = batch_df.select("doc_id", F.col(text_col).alias("text"))
        if dedup_store_dir is not None:
            from ..dedup_store import append_dedup_store, build_dedup_store

            if not os.path.exists(os.path.join(dedup_store_dir, "meta.json")):
                build_dedup_store(spark, batch_df, dedup_store_dir)
            else:
                append_dedup_store(
                    spark, batch_df, dedup_store_dir, batch_tag=tag
                )
        if not os.path.exists(stats_path):
            build_index(spark, batch_df, index_dir, n_shards=8, batch_tag=tag)
        else:
            append_documents(spark, batch_df, index_dir, batch_tag=tag)
            if merge_every:
                from ..deletes import merge_generations

                merge_generations(spark, index_dir, min_generations=merge_every)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ann_updates(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    kind: str = "ivf",
    available_now: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_planes: int = 8,
    seed: int = 42,
):
    """Continuously index an embedding stream into a built ANN index —
    the vector analogue of :func:`stream_index_updates` (a real pipeline
    re-embeds continuously; VERDICT r04 #5 made appends possible, this
    wires them to Structured Streaming).

    First non-empty micro-batch BUILDS the index (``kind``: "ivf" trains
    the coarse quantizer on it; "lsh" derives the hyperplanes from
    config); every later batch partition-appends with the index's own
    stored quantizer/planes (similarity.append_*_index), so probes see
    new vectors immediately and the index never rebuilds in-stream.

    Exactly-once: a replayed batch_id is skipped via an applied-batches
    marker committed AFTER the append; the crash window between append
    and marker is closed by the append itself being idempotent — the
    batch's rows are anti-joined against the vec_ids already present in
    the batch's TARGET partitions (assignment is deterministic, so a
    half-applied replay lands on the same partitions; the check is a
    partition-pruned id scan, never a full pass).
    """
    import json
    import os

    from pyspark.sql import functions as F

    if kind not in ("ivf", "lsh"):
        raise ValueError(f"kind must be ivf|lsh, got {kind!r}")
    marker_path = os.path.join(index_dir, "_applied_batches.json")

    def _applied() -> list:
        if not os.path.exists(marker_path):
            return []
        with open(marker_path) as f:
            return json.load(f)["batches"]

    def _mark(tag: str) -> None:
        tags = _applied() + [tag]
        tmp = marker_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batches": tags}, f)
        os.replace(tmp, marker_path)

    def process_batch(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        tag = f"batch-{batch_id}"
        if tag in _applied():
            return  # replayed micro-batch
        batch_df = batch_df.select(id_col, vec_col)
        from ..similarity import (
            _ann_meta,
            _hyperplanes,
            _ivf_centroid_matrix,
            append_ann_index,
            append_ivf_index,
            build_ann_index,
            build_ivf_index,
            ivf_assign_col,
            lsh_bucket_col,
        )

        is_ivf = os.path.exists(os.path.join(index_dir, "_centroids"))
        is_lsh = _ann_meta(index_dir) is not None
        if not (is_ivf or is_lsh):
            if kind == "ivf":
                build_ivf_index(
                    batch_df, index_dir, n_centroids=n_centroids,
                    seed=seed, id_col=id_col, vec_col=vec_col,
                )
            else:
                dim = len(batch_df.select(vec_col).first()[0])
                build_ann_index(
                    batch_df, index_dir, dim=dim, n_planes=n_planes,
                    seed=seed, vec_col=vec_col,
                )
            _mark(tag)
            return
        # idempotent append: drop rows already present in the batch's
        # target partitions (crash-window replay protection)
        if is_ivf:
            cents = _ivf_centroid_matrix(spark, index_dir)
            assigned = batch_df.withColumn(
                "_p", ivf_assign_col(F.col(vec_col), cents)
            )
            part_col = "list_id"
        else:
            meta = _ann_meta(index_dir)
            planes = _hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
            assigned = batch_df.withColumn(
                "_p", lsh_bucket_col(F.col(vec_col), planes)
            )
            part_col = "bucket"
        parts = [r["_p"] for r in assigned.select("_p").distinct().collect()]
        existing = (
            spark.read.parquet(index_dir)
            .filter(F.col(part_col).isin(parts))
            .select(id_col)
        )
        fresh = assigned.drop("_p").join(existing, id_col, "left_anti")
        if not fresh.isEmpty():
            if is_ivf:
                append_ivf_index(fresh, index_dir, vec_col=vec_col)
            else:
                append_ann_index(fresh, index_dir)
        _mark(tag)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
