"""The benchmark's workloads: set-up, the measured closed loop, output checks.

Each workload is one client in one process that sends its next request
when the previous one has returned (a closed loop). Inputs come from the
seed only; the engine receives the generated tables.

- ``search``: read-only requests (match, query_string, agg, msearch)
  against one warm positional index.
- ``ingest_serve``: append batches beside ``match`` queries, with the
  tiered merge, tombstones and cache re-warm that a streaming ingest runs.

Both loops run in whole units (one pass over the request mix; one ingest
op and its queries), so a run's mix does not depend on where it stops.
Every request records its wall time, the Spark jobs it ran (read back from
the status store after the loop) and the CPU time of the Python workers.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np

import procstat
from tracing import Tracer

K = 10
# one unit of ``search``: the request kinds in loop order
SEARCH_UNIT = ["match", "query_string", "match", "agg", "msearch"]
SEARCH_DOCS = 8_000
CATALOG_PER_KIND = 48   # 3x the engine's 16-entry query_string persist pool
CATALOG_ZIPF_S = 1.1
MSEARCH_QUERIES = 50

INGEST_BASE_DOCS = 8_000
INGEST_BATCH_DOCS = 2_000
# merge as soon as 2 appended generations exist: after the untimed first
# append, every ingest op is append + merge, so every op does the same work
MERGE_MIN_GENERATIONS = 2
DELETES_PER_OP = 20
MATCHES_PER_INGEST = 3
LANGS = ["en", "fr", "es", "de", "zh"]


class Run:
    """State of one benchmark run: session, directories, seed, results."""

    def __init__(self, spark, work_dir: str, seed: int, seconds: float,
                 tracer: Tracer, cores: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.cores = cores
        self.rng = np.random.default_rng(seed)
        self.latency: dict[str, list[float]] = {}   # wall ms per request kind
        self.requests: list[dict] = []              # one record per request
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._jvm_pid = spark.sparkContext._gateway.proc.pid
        self.attempted = 0
        self.failed = 0
        self.index_dirs: list[str] = []
        self.extra: dict[str, float] = {}
        self.t0 = time.perf_counter()

    def log(self, what: str) -> None:
        """Progress on stderr: seconds since the session came up."""
        print(f"[{time.perf_counter() - self.t0:7.1f}s] {what}", file=sys.stderr, flush=True)

    def log_latencies(self) -> None:
        self.log(" ".join(f"{k} {[round(v) for v in vs]} ms" for k, vs in self.latency.items()))

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def request(self, kind: str, request_id: str, fn):
        """Run one request of the closed loop and time it; an exception is
        counted as a failure and the loop goes on. Kinds starting with
        ``warmup.`` are set-up work and are not reported."""
        self.attempted += 1
        rec = {"kind": kind, "first_job": self._dag.nextJobId(),
               "worker_cpu_s": self.worker_cpu_s(), "start": time.time()}
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}", request_id):
                out = fn()
        except Exception:  # noqa: BLE001 - the loop keeps running; counted
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        wall_ms = (time.perf_counter() - t0) * 1000.0
        rec.update(end=time.time(), last_job=self._dag.nextJobId(),
                   worker_cpu_ms=(self.worker_cpu_s() - rec.pop("worker_cpu_s")) * 1000.0)
        self.latency.setdefault(kind, []).append(wall_ms)
        self.requests.append(rec)
        return out

    def worker_cpu_s(self) -> float:
        """CPU seconds of the Python worker processes under the JVM."""
        return procstat.tree_cpu_s(procstat.tree_pids(self._jvm_pid)[1:])

    def check(self, what: str, ok: bool) -> None:
        """An output check; a wrong answer counts as a failed request."""
        if not ok:
            print(f"output check failed: {what}", file=sys.stderr)
            self.failed += 1


# ---------------------------------------------------------------- inputs


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** (-s)
    return p / p.sum()


def catalog_stream(length: int) -> list[int]:
    """Which catalog entry each successive request of a kind uses: Zipf
    over the catalog, so the head repeats and the tail misses. The
    sequence is the same for every seed (the seed picks the catalog's
    contents), so every run has the same repeat structure."""
    rng = np.random.default_rng(0)
    return rng.choice(CATALOG_PER_KIND, length,
                      p=zipf_probs(CATALOG_PER_KIND, CATALOG_ZIPF_S)).tolist()


def match_text(rng, vocab: list[str], n_terms: int) -> str:
    """``n_terms`` distinct terms drawn Zipf from the corpus vocabulary,
    so hot head terms and rare tail terms both appear."""
    p = zipf_probs(len(vocab), 1.0)
    terms: list[str] = []
    while len(terms) < n_terms:
        t = vocab[int(rng.choice(len(vocab), p=p))]
        if t not in terms:
            terms.append(t)
    return " ".join(terms)


def query_string_text(rng, vocab: list[str]) -> str:
    """Boolean, phrase, prefix, negated-field and range clauses."""
    a, b = rng.choice(vocab[:18], 2, replace=False)
    tail = vocab[18 + int(rng.integers(0, len(vocab) - 18))]
    prefix = f"w0{int(rng.integers(0, 10))}{int(rng.integers(0, 10))}*"
    lang = LANGS[int(rng.integers(0, len(LANGS)))]
    lo = int(rng.integers(1, 8)) * 100
    return (f'({tail} OR "{a} {b}")^2 AND {prefix} -lang:{lang} '
            f"n_chars:[{lo} TO {lo + 1500}]")


def agg_body(rng) -> dict:
    """The reference's dashboard request: size 0, a bool filter, and
    histogram ▸ histogram ▸ terms(size 1)."""
    return {
        "size": 0,
        "query": {"bool": {"filter": [
            {"term": {"lang": LANGS[int(rng.integers(0, len(LANGS)))]}},
            {"range": {"n_chars": {"gte": int(rng.integers(0, 6)) * 100}}},
        ]}},
        "aggs": {"agg_histogram_x": {
            "histogram": {"field": "n_chars", "interval": 500, "min_doc_count": 1},
            "aggs": {"agg_histogram_y": {
                "histogram": {"field": "dl", "interval": 100, "min_doc_count": 1},
                "aggs": {"agg_cat": {"terms": {"field": "lang", "size": 1}}},
            }},
        }},
    }


def write_parquet(table, path: str) -> None:
    """A parquet file Spark reads back: microsecond timestamps."""
    import pyarrow.parquet as pq

    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)


def write_html_pages(run: Run, n_pages: int) -> str:
    """A seeded synthesized web-page table, one parquet file per core."""
    import pyarrow as pa

    from es_loaders_spark.corpus import generate_pages_pdf

    path = run.path("html")
    os.makedirs(path)
    step = -(-n_pages // run.cores)
    for start in range(0, n_pages, step):
        pdf = generate_pages_pdf(start, min(step, n_pages - start), seed=run.seed)
        pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
        write_parquet(pa.Table.from_pandas(pdf.drop(columns="text"), preserve_index=False),
                      os.path.join(path, f"part-{start:012d}.parquet"))
    return path


def write_docs(run: Run, start: int, n: int, path: str) -> int:
    """Write docs ``start``..``start + n`` as one parquet file of the
    extracted-documents schema; returns their UTF-8 text bytes."""
    import pyarrow as pa

    from es_loaders_spark.corpus import generate_pages_pdf

    pdf = generate_pages_pdf(start, n, seed=run.seed)
    text = pdf["text"].astype(str)
    os.makedirs(path, exist_ok=True)
    write_parquet(pa.table({
        "doc_id": np.arange(start, start + n, dtype=np.int64),
        "text": text,
        "dl": text.str.split().str.len().astype("int32"),
        "lang": pdf["lang"].astype(str),
        "warc_ts": pdf["warc_ts"].dt.tz_localize("UTC"),
        "n_chars": text.str.len().astype("int32"),
    }), os.path.join(path, f"part-{start:012d}.parquet"))
    return int(text.str.encode("utf-8").str.len().sum())


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, files in os.walk(path) for f in files)


def build_from_html(run: Run, html_dir: str) -> tuple[str, str, dict]:
    """``bench.build_pipeline``'s call sequence over an html table: doc
    ids → extracted text + dl written as the ingest table → aligned
    positional ``build_index``. Returns (ingest dir, index dir, stats)."""
    from pyspark.sql import functions as F

    from es_loaders_spark.analyze import SPLIT_RE_JAVA
    from es_loaders_spark.build import assign_doc_ids, release_doc_id_caches
    from es_loaders_spark.extract import with_extracted_text

    spark, tr = run.spark, run.tracer
    pages = spark.read.parquet(html_dir)
    ingest_dir, idx = run.path("ingest"), run.path("index")
    with tr.span("build.assign_doc_ids"):
        ids = assign_doc_ids(pages.select("url"))
    with tr.span("extract.with_extracted_text"):
        (with_extracted_text(pages.join(F.broadcast(ids), "url"))
         .withColumn("dl", F.size(F.filter(
             F.split(F.lower(F.col("text")), SPLIT_RE_JAVA), lambda t: t != F.lit(""))))
         .select("doc_id", "text", "dl")
         .write.parquet(ingest_dir))
    release_doc_id_caches()
    stats = build(run, spark.read.parquet(ingest_dir), idx)
    n_input = spark.read.parquet(html_dir).count()
    run.check(f"stats.json n_docs {stats['n_docs']} == input rows {n_input}",
              int(stats["n_docs"]) == n_input)
    return ingest_dir, idx, stats


def build(run: Run, docs, idx: str) -> dict:
    """Aligned positional ``build_index`` (the engine's default format)."""
    from es_loaders_spark.build import build_index

    run.index_dirs.append(idx)
    with run.tracer.span("build.build_index"):
        t0 = time.perf_counter()
        stats = build_index(run.spark, docs, idx, n_shards=run.cores, align_shards=True)
        run.extra["build_docs_per_s"] = stats["n_docs"] / (time.perf_counter() - t0)
    run.log(f"built a {stats['n_docs']}-doc index")
    return stats


# ---------------------------------------------------------------- checks


class Oracle:
    """DuckDB over every indexed document. BM25 top-k comes from
    ``bm25_topk_oracle_sql`` with tombstoned documents dropped from the
    ranking: the engine's corpus statistics keep counting deleted
    documents until compaction, as Lucene's do."""

    def __init__(self, docs_pdf, deleted: set[int] = frozenset()):
        import duckdb

        self.deleted = deleted
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.register("documents", docs_pdf)

    def rows(self, sql: str) -> list[tuple[int, float]]:
        return [(int(d), float(s)) for d, s in self.con.execute(sql).fetchall()]

    def topk(self, q: str) -> list[tuple[int, float]]:
        from es_loaders_spark.bm25 import bm25_topk_oracle_sql

        rows = self.rows(bm25_topk_oracle_sql(q, k=K + len(self.deleted)))
        return [r for r in rows if r[0] not in self.deleted][:K]

    def query_string(self, q: str) -> list[tuple[int, float]]:
        from es_loaders_spark.querystring import query_string_oracle_sql

        return self.rows(query_string_oracle_sql(q, k=K))

    def close(self) -> None:
        self.con.close()


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    return ([d for d, _ in got] == [d for d, _ in want]
            and all(abs(a - b) < 1e-3 for (_, a), (_, b) in zip(got, want)))


def read_docs_pdf(dirs: list[str], columns: list[str]):
    import pandas as pd
    import pyarrow.parquet as pq

    return pd.concat([pq.read_table(d, columns=columns).to_pandas() for d in dirs],
                     ignore_index=True)


def agg_twin(docs_pdf, body: dict) -> set:
    """The dashboard aggregation as a plain pandas groupBy: per
    (n_chars bin, dl bin) the doc count of the most frequent lang."""
    flt = body["query"]["bool"]["filter"]
    d = docs_pdf[(docs_pdf["lang"] == flt[0]["term"]["lang"])
                 & (docs_pdf["n_chars"] >= flt[1]["range"]["n_chars"]["gte"])]
    counts = (d.assign(bx=d["n_chars"] // 500 * 500, by=d["dl"] // 100 * 100)
              .groupby(["bx", "by", "lang"]).size().reset_index(name="n")
              .sort_values(["bx", "by", "n", "lang"], ascending=[True, True, False, True])
              .drop_duplicates(["bx", "by"]))
    return {(float(r.bx), float(r.by), r.lang, int(r.n)) for r in counts.itertuples()}


def agg_rows(rows) -> set:
    return {(float(r["agg_histogram_x_key"]), float(r["agg_histogram_y_key"]),
             r["lang"], int(r["doc_count"])) for r in rows}


# ---------------------------------------------------------------- search


def search_workload(run: Run) -> None:
    from es_loaders_spark import dsl
    from es_loaders_spark.corpus import vocabulary
    from es_loaders_spark.wand import topk, topk_batch, warm_index

    spark, tr, rng = run.spark, run.tracer, run.rng
    t_setup = time.perf_counter()
    docs_dir = run.path("docs")
    step = -(-SEARCH_DOCS // run.cores)
    n_text = sum(write_docs(run, start, min(step, SEARCH_DOCS - start), docs_dir)
                 for start in range(0, SEARCH_DOCS, step))
    docs = spark.read.parquet(docs_dir).cache()
    idx = run.path("index")
    stats = build(run, docs.select("doc_id", "text"), idx)
    run.check(f"stats.json n_docs {stats['n_docs']} == {SEARCH_DOCS}",
              int(stats["n_docs"]) == SEARCH_DOCS)
    with tr.span("wand.warm_index"):
        warm_index(spark, idx)  # the serving cache, as build_index(warm=True) does

    vocab = vocabulary()
    # entry i of a match catalog has 1 + i % 5 terms
    catalog = {
        "match": [match_text(rng, vocab, 1 + i % 5) for i in range(CATALOG_PER_KIND)],
        "query_string": [query_string_text(rng, vocab) for _ in range(CATALOG_PER_KIND)],
        "agg": [agg_body(rng) for _ in range(CATALOG_PER_KIND)],
        "msearch": [[match_text(rng, vocab, 1 + i % 5) for i in range(MSEARCH_QUERIES)]
                    for _ in range(CATALOG_PER_KIND)],
    }

    def send(kind: str, i: int):
        req = catalog[kind][i]
        if kind == "match":
            with tr.span("wand.topk"):
                return [(r["doc_id"], r["score"]) for r in topk(spark, idx, req, k=K).collect()]
        if kind == "query_string":
            # "serve": "index" pins the index-served plan, which the
            # engine's auto-crossover picks only from 20k docs up
            body = {"query": {"query_string": {"query": req, "serve": "index"}}, "size": K}
            with tr.span("dsl.search.query_string"):
                return [(r["doc_id"], r["score"])
                        for r in dsl.search(spark, docs, body, index_dir=idx).collect()]
        if kind == "agg":
            with tr.span("dsl.search.agg"):
                return dsl.search(spark, docs, req).collect()
        with tr.span("wand.topk_batch"):
            rows = topk_batch(spark, idx, req, k=K).collect()
        out: dict[str, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return out

    # the first request of each kind pays one-time plan and JIT costs; it
    # is the catalog's most popular entry, which the measured loop repeats
    for kind in catalog:
        run.request(f"warmup.{kind}", "warmup", lambda k=kind: send(k, 0))
    run.extra["setup_s"] = time.perf_counter() - t_setup
    run.log("set up")

    tr.phase = "timed"
    stream = catalog_stream(10_000)
    seen = {(kind, 0) for kind in catalog}
    repeats = 0
    done: list[tuple[str, int, object]] = []
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < run.seconds or n % len(SEARCH_UNIT):
        kind = SEARCH_UNIT[n % len(SEARCH_UNIT)]
        i = stream[n]
        repeats += (kind, i) in seen
        seen.add((kind, i))
        out = run.request(kind, f"r{n}", lambda: send(kind, i))
        if out is not None:
            done.append((kind, i, out))
        n += 1
    tr.phase = "check"
    run.log_latencies()
    run.extra["search.repeat_share"] = repeats / n
    run.extra["index.bytes"] = dir_bytes(idx)
    run.extra["index.generations"] = 1
    run.extra["index_bytes_per_text_byte"] = run.extra["index.bytes"] / n_text

    # output checks on a seeded sample: one request of each kind
    docs_pdf = read_docs_pdf([docs_dir], ["doc_id", "text", "lang", "n_chars", "dl"])
    pick: dict[str, tuple[int, object]] = {}
    for j in rng.permutation(len(done)):
        kind, i, out = done[j]
        pick.setdefault(kind, (i, out))
    oracle = Oracle(docs_pdf)
    try:
        if "match" in pick:
            i, got = pick["match"]
            q = catalog["match"][i]
            run.check(f"match {q!r} vs DuckDB", same_ranking(got, oracle.topk(q)))
        if "msearch" in pick:
            i, got = pick["msearch"]
            qi = int(rng.integers(0, MSEARCH_QUERIES))
            q = catalog["msearch"][i][qi]
            run.check(f"msearch {q!r} vs DuckDB",
                      same_ranking(got.get(f"q{qi}", []), oracle.topk(q)))
        if "query_string" in pick:
            i, got = pick["query_string"]
            q = catalog["query_string"][i]
            run.check(f"query_string {q!r} vs DuckDB",
                      same_ranking(got, oracle.query_string(q)))
    finally:
        oracle.close()
    if "agg" in pick:
        i, got = pick["agg"]
        run.check("agg vs pandas groupBy", agg_rows(got) == agg_twin(docs_pdf, catalog["agg"][i]))
    docs.unpersist()


# ---------------------------------------------------------------- ingest_serve


def ingest_workload(run: Run) -> None:
    from es_loaders_spark.build import append_documents, load_stats
    from es_loaders_spark.corpus import vocabulary
    from es_loaders_spark.deletes import delete_ids, merge_generations
    from es_loaders_spark.wand import topk, warm_index

    spark, tr, rng = run.spark, run.tracer, run.rng
    t_setup = time.perf_counter()
    ingest_dir, idx, stats = build_from_html(run, write_html_pages(run, INGEST_BASE_DOCS))
    n_text = int(read_docs_pdf([ingest_dir], ["text"])["text"].str.encode("utf-8").str.len().sum())
    vocab = vocabulary()
    next_id = int(stats["n_docs"])
    live = set(range(next_id))
    deleted: set[int] = set()
    batches = [ingest_dir]
    asked: set[str] = set()

    def new_batch() -> str:
        """A 2k-doc batch of new pages, ids past the index's current max."""
        nonlocal next_id, n_text
        path = run.path(f"batch{len(batches):04d}")
        n_text += write_docs(run, next_id, INGEST_BATCH_DOCS, path)
        live.update(range(next_id, next_id + INGEST_BATCH_DOCS))
        next_id += INGEST_BATCH_DOCS
        batches.append(path)
        return path

    def ingest(path: str, victims: list[int]) -> bool:
        with tr.span("build.append_documents"):
            append_documents(spark, spark.read.parquet(path).select("doc_id", "text"), idx)
        with tr.span("deletes.merge_generations"):
            merge_generations(spark, idx, min_generations=MERGE_MIN_GENERATIONS)
        if victims:
            with tr.span("deletes.delete_ids"):
                delete_ids(spark, idx, spark.createDataFrame(
                    [(v,) for v in victims], "doc_id long"))
        with tr.span("wand.warm_index"):
            warm_index(spark, idx)
        return True

    def match(q: str):
        with tr.span("wand.topk"):
            return [(r["doc_id"], r["score"]) for r in topk(spark, idx, q, k=K).collect()]

    def fresh_query() -> str:
        """Every query of the run is distinct: no cache can answer it."""
        while True:
            q = match_text(rng, vocab, 1 + len(asked) % 5)
            if q not in asked:
                asked.add(q)
                return q

    # the first append pays one-time costs; after it every op also merges
    run.request("warmup.ingest", "warmup", lambda: ingest(new_batch(), []))
    run.request("warmup.match", "warmup", lambda: match(fresh_query()))
    run.extra["setup_s"] = time.perf_counter() - t_setup
    run.log("set up")

    tr.phase = "timed"
    last: list[tuple[str, object]] = []
    gens, sizes = [], []
    n_in = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < run.seconds or not gens:
        path = new_batch()  # generated before the op: handed over complete
        victims = rng.choice(sorted(live), DELETES_PER_OP, replace=False).tolist()
        if run.request("ingest", path, lambda: ingest(path, victims)):
            n_in += INGEST_BATCH_DOCS
            live.difference_update(victims)
            deleted.update(victims)
        gens.append(int(load_stats(idx).get("generations", 1)))
        sizes.append(dir_bytes(idx))
        last = []
        for m in range(MATCHES_PER_INGEST):
            q = fresh_query()
            got = run.request("match", f"{path}#{m}", lambda: match(q))
            if got is not None:
                last.append((q, got))
    tr.phase = "check"
    run.log_latencies()
    ingest_ms = sum(run.latency.get("ingest", []))
    run.extra["ingest_docs_per_s"] = n_in / (ingest_ms / 1000.0) if ingest_ms else 0.0
    run.extra["index.generations"] = float(np.mean(gens))
    run.extra["index.bytes"] = float(np.mean(sizes))
    run.extra["index_bytes_per_text_byte"] = dir_bytes(idx) / n_text

    # output checks: the last op's queries against the final index content
    oracle = Oracle(read_docs_pdf(batches, ["doc_id", "text"]), deleted)
    try:
        for q, got in last:
            run.check(f"post-ingest match {q!r} vs DuckDB", same_ranking(got, oracle.topk(q)))
    finally:
        oracle.close()


WORKLOADS = {"search": search_workload, "ingest_serve": ingest_workload}


def release(run: Run) -> None:
    """Drop the engine's caches for this run's indexes, then its files."""
    from es_loaders_spark.querystring import release_query_string_caches
    from es_loaders_spark.wand import evict_index

    for d in run.index_dirs:
        evict_index(d)
    release_query_string_caches()
    run.spark.catalog.clearCache()
    shutil.rmtree(run.work, ignore_errors=True)
