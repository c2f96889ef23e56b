"""The Spark state the engine keeps alive across calls, in one place.

Each family of cached relations (warm indexes, query_string / phrase /
span postings, dedup signatures, doc-id tables) lives in one
:class:`CachePool`, an LRU whose entries remember the SparkContext they
were made in. Releasing is best-effort, and an entry of a stopped context
is dropped without any JVM call, so serving survives a SparkSession
restart: the next request rebuilds what it needs. The module also owns
the driver-side thread pool that overlaps independent Spark jobs.
"""

from __future__ import annotations

from collections import OrderedDict
from concurrent.futures import Future, ThreadPoolExecutor
from typing import Any, Callable, Hashable

from py4j.protocol import Py4JError
from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame


def _alive(sc: SparkContext) -> bool:
    return sc._jsc is not None and SparkContext._active_spark_context is sc


def _release(sc: SparkContext, value: Any) -> None:
    # a stopped context took its caches with it; a failed release only
    # leaves a cache behind
    try:
        if _alive(sc):
            value.unpersist()
    except Py4JError:
        pass


class CachePool:
    """LRU of at most ``cap`` (None: any number) Spark-cached values:
    persisted DataFrames or objects with ``unpersist()``. Eviction,
    :meth:`pop` and :meth:`clear` release them; a released relation
    stays correct and recomputes if collected again."""

    def __init__(self, cap: int | None):
        self.cap = cap
        self._entries: OrderedDict[Hashable, tuple[SparkContext, Any]] = OrderedDict()

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key: Hashable) -> Any:
        """The value under ``key``, now most recently used; None when
        absent or made in a context that has since stopped."""
        entry = self._entries.get(key)
        if entry is None or not _alive(entry[0]):
            self._entries.pop(key, None)
            return None
        self._entries.move_to_end(key)
        return entry[1]

    def put(self, key: Hashable, value: Any, sc: SparkContext) -> None:
        self.pop(key)
        self._entries[key] = (sc, value)
        while self.cap is not None and len(self._entries) > self.cap:
            _release(*self._entries.popitem(last=False)[1])

    def pop(self, key: Hashable) -> None:
        entry = self._entries.pop(key, None)
        if entry is not None:
            _release(*entry)

    def clear(self) -> None:
        while self._entries:
            _release(*self._entries.popitem(last=False)[1])

    def persist(
        self, df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
    ) -> DataFrame:
        """Persist ``df`` keyed by its analyzed plan's semantic hash: a
        repeated plan touches the live entry rather than adding a duplicate
        whose eviction would (plan-matched) uncache it. The default level
        is serialized, so idle entries hold compact blocks and put less
        heap/GC drag on the queries in between."""
        key = df._jdf.queryExecution().analyzed().semanticHash()
        if self.get(key) is None:
            df = df.persist(level)
            self.put(key, df, df.sparkSession.sparkContext)
        return df


QUERY_PERSISTS = CachePool(cap=16)  # query_string, phrase and span_near
DEDUP_PERSISTS = CachePool(cap=4)  # the LSH pipelines' relations
WARM_INDEXES = CachePool(cap=8)  # wand._WarmIndex per absolute index dir
# assign_doc_ids' url tables: released only on request, since evicting one
# mid-assignment re-samples its range boundaries and changes the ids
ID_ASSIGNMENTS = CachePool(cap=None)


class JobPool:
    """Driver threads that overlap independent Spark jobs. A task runs
    under the job description given at submit (None: no description) and
    clears it afterwards: a pool thread's description is thread-local
    Spark state, so a label left behind would name every later job that
    thread runs."""

    def __init__(self, max_workers: int):
        self._pool = ThreadPoolExecutor(
            max_workers=max_workers, thread_name_prefix="spark-aux"
        )

    def submit(self, fn: Callable, *args, label: str | None = None) -> Future:
        def run():
            sc = SparkContext._active_spark_context
            sc.setJobDescription(label)
            try:
                return fn(*args)
            finally:
                sc.setJobDescription(None)

        return self._pool.submit(run)


# threads start on first submit; an orphaned future is just a Spark job
# that completes, so nothing needs shutting down on error paths
AUX_POOL = JobPool(max_workers=4)
