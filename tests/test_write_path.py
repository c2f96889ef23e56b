"""On-disk fingerprint of the index write path.

build → append → merge → delete + compact, hashing after each step the
sorted logical rows of every ``shards*`` / ``doclens*`` table, the
``terms`` table and a canonical ``stats.json``. The expected hashes pin
the generation format: a refactor of the writers, or a new encode kernel,
must leave every one of them unchanged.

Classic sharding only: aligned shard ids follow the scan's split count,
which varies with the number of cores.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import functions as F

EXPECTED = {
    "build": {
        "doclens": "e9c56237fee1b7c01280f706662601ad6b2949325a2ad791c629771f11f6be6b",
        "shards": "8719fedac743984cdc287807b4d467658b522763285ff15b6e510082d93b29f7",
        "stats.json": "e79b2b96700616fc3fac69f16f758169cd5bffb41207be4d1e1463300902884c",
        "terms": "b62e63a61f47ac03e7eb6c09ee3ad34af97c2ce71d4ae373c9930adfceda4a1c",
    },
    "append": {
        "doclens": "e9c56237fee1b7c01280f706662601ad6b2949325a2ad791c629771f11f6be6b",
        "doclens_gen1": "1b2ad01c00ef5ae4b9e8172699ebb10c6ca86dcb368fde20534861377623aa27",
        "shards": "8719fedac743984cdc287807b4d467658b522763285ff15b6e510082d93b29f7",
        "shards_gen1": "7cf220852ed4f5b4cd3c521fb64db264a011bb9ecd4864fb320a32ed85b66d6a",
        "stats.json": "285983bd1a186d1f90a4b23cd189773971dde488b26d4f1d6d31c0b847ffd570",
        "terms": "6309d0b0585c8e29ed596b25741d2393cc2441dbd458732ae7de306b8d0adfa8",
    },
    "merge": {
        "doclens": "e9c56237fee1b7c01280f706662601ad6b2949325a2ad791c629771f11f6be6b",
        "doclens_gen1": "1b2ad01c00ef5ae4b9e8172699ebb10c6ca86dcb368fde20534861377623aa27",
        "shards": "8719fedac743984cdc287807b4d467658b522763285ff15b6e510082d93b29f7",
        "shards_gen1": "7cf220852ed4f5b4cd3c521fb64db264a011bb9ecd4864fb320a32ed85b66d6a",
        "stats.json": "285983bd1a186d1f90a4b23cd189773971dde488b26d4f1d6d31c0b847ffd570",
        "terms": "6309d0b0585c8e29ed596b25741d2393cc2441dbd458732ae7de306b8d0adfa8",
    },
    "compact": {
        "doclens": "2ea587a2be9f806481ea8c0aaec81e29feeb3718f6198edffccb95f5383a49cb",
        "shards": "c20848d0cd3126f73142648d935cbd3e10284c0a6a86779d0fff39e108dc7401",
        "stats.json": "7280e198685f0bc1c197329ef03e5af7f1400d7ff2d65446c3844d861cc1eb06",
        "terms": "f2c6f9f708c2ffca2c0e3c7ec77e61a5ae2739255147dcdc08a3e0f87eab3ef2",
    },
}


def _table_hash(spark, path: str) -> str:
    df = spark.read.parquet(path)
    rows = sorted(repr(tuple(r)) for r in df.collect())
    h = hashlib.sha256(repr(df.columns).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def _fingerprint(spark, index_dir: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(index_dir)):
        if name.startswith(("shards", "doclens")) or name == "terms":
            out[name] = _table_hash(spark, os.path.join(index_dir, name))
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.dumps(json.load(f), sort_keys=True)
    out["stats.json"] = hashlib.sha256(stats.encode()).hexdigest()
    return out


def test_write_path_fingerprint(spark, documents, tmp_path_factory):
    from es_loaders_spark.build import append_documents, build_index
    from es_loaders_spark.deletes import compact_index, delete_ids, merge_generations

    d = str(tmp_path_factory.mktemp("idx_fingerprint") / "i")
    build_index(spark, documents.filter(F.col("doc_id") < 350), d, n_shards=4)
    assert _fingerprint(spark, d) == EXPECTED["build"]
    append_documents(spark, documents.filter(F.col("doc_id") >= 350), d)
    assert _fingerprint(spark, d) == EXPECTED["append"]
    merge_generations(spark, d, min_generations=1)
    assert _fingerprint(spark, d) == EXPECTED["merge"]
    delete_ids(spark, d, spark.createDataFrame([(7,), (351,), (499,)], "doc_id long"))
    compact_index(spark, d)
    assert _fingerprint(spark, d) == EXPECTED["compact"]
