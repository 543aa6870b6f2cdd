"""The workloads, driving the engine's public functions the way a DIG
deployment does. Every call into an engine layer is wrapped in a tracer
span named ``<layer>.<call>``; with tracing off a span costs one
attribute check.

* ``kg_search`` - one closed-loop search client over a materialized
  glossary index and BM25 stats (the DIG UI user's path).
* ``stream_curate`` - a streaming curator draining a file-drop backlog
  through first-seen dedup into an extract + decontaminate + upsert
  callback (DIG's ingest path).

Each workload builds its inputs in ``__init__`` (no engine work), then
``catalog()`` and ``fixture()`` (set-up, with the session), ``warmup()``,
``run()``, and ``check()`` outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import gen
import oracle
from metrics import pct
from spans import Tracer

SEARCH_DOCS = 8000
SEARCH_PER_SHAPE = 15
# seconds one cycle of the ten request shapes takes on a 4-core host;
# sizes the request count from --seconds
SEARCH_CYCLE_S = 8.0
SEARCH_WARM_CYCLES = 2
STREAM_ROWS_PER_FILE = 60
# doc_ids of the warm-up file start here, clear of the backlog's
WARM_ID_BASE = 10_000_000
# seconds one micro-batch takes on a 4-core host; sizes the backlog from
# --seconds
STREAM_FILE_S = 5.0


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str                 # scratch root for this run
    seed: int
    seconds: float
    traced: bool
    data_dir: str = ""        # where the generated tables live
    samples: dict[str, list[float]] = field(default_factory=dict)
    props: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def sample(self, name: str, v: float) -> None:
        self.samples.setdefault(name, []).append(v)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ================================================================ kg_search

def search_config():
    """The demo project's search config (DIG's etk/sandpaper config
    shape): a glossary keyword field (weight 10) plus the text zone
    (weight 2), phrase matching, stopword stripping and synonyms."""
    from dig_etl_engine_spark.plans.query_compiler import (
        EngineConfig, FieldRef)
    from dig_etl_engine_spark.plans.weights import WeightRule, WeightTree

    return EngineConfig(
        predicate_types={"keyword": "Keyword", "description": "owl:Thing"},
        type_field_mappings={
            "Keyword": [FieldRef("keyword", "glossary", "text"),
                        FieldRef("text", zone="text")],
            "owl:Thing": [FieldRef("text", zone="text")],
        },
        weights=WeightTree([
            WeightRule(weight=1.0),
            WeightRule(field="text", weight=2.0),
            WeightRule(field="keyword", method="glossary", weight=10.0),
        ]),
        type_query_kinds={"Keyword": "match_phrase",
                          "owl:Thing": "match_phrase"},
        transforms={"Keyword": "lower", "owl:Thing": "strip_stopwords"},
        synonyms={"owl:Thing": gen.SYNONYMS},
        default_source_fields=["doc_id", "lang", "source"],
        excluded_source_fields=["text"],
    )


def keyword_index(spark, docs):
    """Long-format index rows for glossary hits: (doc_id, field, method,
    segment, value, key)."""
    from pyspark.sql import functions as F

    from dig_etl_engine_spark.functions.extractors import glossary_matches
    from dig_etl_engine_spark.functions.localdf import local_df

    glossary = local_df(spark, [(g,) for g in gen.GLOSSARY], "term string")
    return glossary_matches(docs, "text", glossary).select(
        "doc_id", F.lit("keyword").alias("field"),
        F.lit("glossary").alias("method"), F.lit("text").alias("segment"),
        F.col("term").alias("value"), F.col("term").alias("key"))


def _index_and_stats(ctx: Ctx, docs, root: str) -> tuple[str, str]:
    from dig_etl_engine_spark.functions.kg import (
        materialize_index, refresh_bm25_stats)

    t = ctx.tracer
    idx, stats = os.path.join(root, "kw_index"), os.path.join(root, "bm25")
    with t.span("functions.materialize_index"):
        materialize_index(keyword_index(ctx.spark, docs), idx)
    with t.span("functions.refresh_bm25_stats"):
        refresh_bm25_stats(docs, stats)
    return idx, stats


class KgSearch:
    """A fixed number of whole cycles of the request shapes, sized from
    ``--seconds``, so every run at a given ``--seconds`` does the same
    work with the same request mix."""
    name = "kg_search"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        table = gen.corpus(ctx.seed, SEARCH_DOCS)
        ctx.data_dir = fresh_dir(os.path.join(ctx.work, "data"))
        import pyarrow.parquet as pq

        pq.write_table(table, os.path.join(ctx.data_dir, "documents.parquet"))
        self.pool = gen.query_pool(ctx.seed, table, SEARCH_PER_SHAPE)
        cycles = max(2, round(ctx.seconds / SEARCH_CYCLE_S))
        self.stream = gen.query_stream(ctx.seed, self.pool,
                                       cycles * len(self.pool))
        self.cfg = search_config()
        self.results: list[tuple[tuple[int, int], list[tuple]]] = []

    def catalog(self) -> None:
        from dig_etl_engine_spark.catalog import load_tables

        with self.ctx.tracer.span("catalog.load_tables"):
            self.docs = load_tables(self.ctx.spark,
                                    self.ctx.data_dir)["documents"]

    def fixture(self) -> None:
        from dig_etl_engine_spark.functions.kg import load_index

        ctx = self.ctx
        root = fresh_dir(os.path.join(ctx.work, "fixture"))
        self.idx_path, self.stats_path = _index_and_stats(ctx, self.docs,
                                                          root)
        with ctx.tracer.span("functions.load_index"):
            self.index = load_index(ctx.spark, self.idx_path)

    def warmup(self) -> None:
        """Untimed cycles of the request shapes: the JIT and first-use
        costs of every plan shape (after one cycle the first timed cycle
        still ran about a fifth slower than the next)."""
        for i in range(SEARCH_WARM_CYCLES):
            for k in range(len(self.pool)):
                self.request((k, i), record=False)

    def reset(self) -> None:
        """Searches are read-only: the traced pass reuses the fixture."""

    def request(self, key: tuple[int, int], record: bool = True) -> None:
        from pyspark.sql import functions as F

        from dig_etl_engine_spark.functions.kg import load_bm25_stats
        from dig_etl_engine_spark.plans.query_compiler import (
            compile_query, facet_counts)
        from dig_etl_engine_spark.plans.weights import bm25_score_column

        ctx, t, q = self.ctx, self.ctx.tracer, self.pool[key[0]][key[1]]
        t0 = time.perf_counter()
        with t.span(f"bench.{q['kind']}"):
            if q["kind"] == "search":
                with t.span("plans.compile_query"):
                    df = compile_query(ctx.spark, self.docs, self.index,
                                       q, self.cfg)
            elif q["kind"] == "bm25":
                with t.span("functions.load_bm25_stats"):
                    n, avgdl, dfc = load_bm25_stats(
                        ctx.spark, self.stats_path, q["terms"])
                with t.span("plans.bm25_score_column"):
                    score = bm25_score_column(F.col("text"), q["terms"],
                                              df_counts=dfc, n_docs=n,
                                              avgdl=avgdl)
                df = (self.docs.select("doc_id", "lang", score.alias("score"))
                      .filter(F.col("score") > 0)
                      .orderBy(F.desc("score"), F.asc("doc_id"))
                      .limit(q["size"]))
            else:
                with t.span("plans.facet_counts"):
                    df = facet_counts(self.index, q["field"], q["k"])
            with t.span("action.collect"):
                rows = [tuple(r) for r in df.collect()]
        dt = time.perf_counter() - t0
        if record:
            self.results.append((key, rows))
            ctx.sample(f"{q['kind']}_ms", dt * 1e3)

    def run(self) -> None:
        ctx = self.ctx
        t0 = time.perf_counter()
        for rid, key in enumerate(self.stream):
            with ctx.tracer.request(rid):
                try:
                    self.request(key)
                except Exception as e:   # counted, the client carries on
                    ctx.attempted += 1
                    ctx.fail(f"request {rid}: {type(e).__name__}: {e}")
        ctx.sample("loop_s", time.perf_counter() - t0)
        ctx.props["queries"] = gen.stream_properties(self.pool, self.stream)

    def check(self) -> None:
        ctx = self.ctx
        ref = oracle.SearchOracle(os.path.join(ctx.data_dir,
                                               "documents.parquet"))
        try:
            empty = 0
            for (k, i), rows in self.results:
                ctx.attempted += 1
                empty += not rows
                if not ref.check(self.pool[k][i], rows):
                    ctx.fail(f"wrong answer for request {i} of shape {k}")
            ctx.props["empty_result_share"] = round(
                empty / max(1, len(self.results)), 4)
        finally:
            ref.close()

    def end_to_end(self) -> dict[str, tuple[float, str, int]]:
        s = self.ctx.samples
        n = sum(len(s.get(f"{k}_ms", [])) for k in ("search", "bm25",
                                                    "facet"))
        return {
            "latency_p50_ms": (pct(s["search_ms"], 50), "ms",
                               len(s["search_ms"])),
            "throughput_per_s": (n / s["loop_s"][-1], "1/s", n),
        }

    def report(self) -> dict[str, tuple[float, str, int]]:
        s = self.ctx.samples
        out = {"search_p50_ms": (pct(s["search_ms"], 50), "ms",
                                 len(s["search_ms"]))}
        tail = tail_pct(len(s["search_ms"]))
        if tail:
            out[f"search_p{tail}_ms"] = (pct(s["search_ms"], tail), "ms",
                                         len(s["search_ms"]))
        for k in ("bm25", "facet"):
            if s.get(f"{k}_ms"):
                out[f"{k}_p50_ms"] = (pct(s[f"{k}_ms"], 50), "ms",
                                      len(s[f"{k}_ms"]))
        return out


# ================================================================ stream

def extractor_modules(tracer: Tracer):
    """Two ETK-style modules with disjoint selectors: web pages get
    email, URL and date extraction, feed items email and date only."""
    from pyspark.sql import functions as F

    from dig_etl_engine_spark.functions import extractors as X
    from dig_etl_engine_spark.functions.kg import kg_build
    from dig_etl_engine_spark.pipeline import Module

    def extract(fields):
        def process(df):
            col = F.col("text")
            with tracer.span("functions.kg_build"):
                return kg_build(df, {f: fn(col)
                                     for f, fn in fields.items()})
        return process

    date = lambda c: X.extract_date_iso(c, ref_year=2024)  # noqa: E731
    return [
        Module("em_web", F.col("content_type") == "web",
               extract({"email": X.extract_email, "url": X.extract_url,
                        "date": date})),
        Module("em_feed", F.col("content_type") == "feed",
               extract({"email": X.extract_email, "date": date})),
    ]


def _epoch_dirs(table: str) -> set[str]:
    try:
        return {n for n in os.listdir(table) if n.startswith(".kbe_")}
    except FileNotFoundError:
        return set()


def _record_commit(tracer: Tracer, table: str, before: set[str]) -> None:
    """Buckets, files and bytes one upsert published: the epoch dirs that
    appeared in the table root."""
    new = _epoch_dirs(table) - before
    files = nbytes = 0
    for d in new:
        for f in os.listdir(os.path.join(table, d)):
            if f.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(table, d, f))
    tracer.count("sinks.commits")
    tracer.count("sinks.buckets_touched", len(new))
    tracer.count("sinks.files_written", files)
    tracer.count("sinks.bytes_written", nbytes)


class _OneFilePerTrigger:
    """Session view whose ``readStream`` presets ``maxFilesPerTrigger=1``:
    ``streaming.ingest.file_stream_source`` takes no reader options, and
    the backlog drain needs one micro-batch per landed file."""

    def __init__(self, spark):
        self._spark = spark

    @property
    def readStream(self):  # noqa: N802 - mirrors SparkSession
        return self._spark.readStream.option("maxFilesPerTrigger", "1")


def _table_schema():
    from pyspark.sql import types as T

    kg = T.MapType(T.StringType(), T.ArrayType(T.StructType([
        T.StructField(n, T.StringType())
        for n in ("value", "key", "method", "segment")])))
    return T.StructType([T.StructField("doc_id", T.LongType()),
                         T.StructField("content_type", T.StringType()),
                         T.StructField("text", T.StringType()),
                         T.StructField("kafka_offset", T.LongType()),
                         T.StructField("knowledge_graph", kg)])


class StreamCurate:
    """Drain a backlog of equal-size files, one micro-batch per file,
    through first-seen dedup into the benchmark's foreachBatch curator:
    drop rows without a doc_id, extract the KG with the ETK-style
    modules, drop docs that share a 13-gram with the eval set, upsert
    (last write wins). The backlog size follows ``--seconds``."""
    name = "stream_curate"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        ctx.data_dir = fresh_dir(os.path.join(ctx.work, "data"))
        self.n_files = max(3, round(ctx.seconds / STREAM_FILE_S))
        self.evals = gen.eval_set(ctx.seed)
        self.evals_path = os.path.join(ctx.data_dir, "evals.jsonl")
        gen.write_jsonl(self.evals, self.evals_path)
        self.drop = os.path.join(ctx.data_dir, "drop")
        ctx.props["drop"] = gen.stream_drop(
            ctx.seed, self.n_files, STREAM_ROWS_PER_FILE, self.drop,
            self.evals)
        self.rows = gen.read_drop(self.drop)
        self.input_bytes = sum(os.path.getsize(os.path.join(self.drop, f))
                               for f in os.listdir(self.drop))
        self.warm = os.path.join(ctx.data_dir, "warm")
        gen.stream_drop(ctx.seed + 7919, 1, STREAM_ROWS_PER_FILE,
                        self.warm, self.evals, id_base=WARM_ID_BASE)
        self.warm_rows = gen.read_drop(self.warm)
        self.progress: list = []

    def catalog(self) -> None:
        """The curator reads its inputs directly, not through the
        catalog."""

    def fixture(self) -> None:
        from dig_etl_engine_spark.sinks.kg_table import (
            create_table_if_not_exists)
        from dig_etl_engine_spark.sources.jsonlines import read_jsonlines

        ctx, t = self.ctx, self.ctx.tracer
        self.root = fresh_dir(os.path.join(ctx.work, "fixture"))
        self.table = os.path.join(self.root, "kg")
        with t.span("sinks.create_table_if_not_exists"):
            create_table_if_not_exists(ctx.spark, self.table,
                                       _table_schema())
        with t.span("sources.read_jsonlines"):
            self.eval_df = read_jsonlines(ctx.spark, self.evals_path,
                                          "doc_id long, text string")

    def warmup(self) -> None:
        """One small-file drain, with its own checkpoint, into the table:
        JIT, Python workers and the stateful operator's first use, and
        every timed micro-batch then merges into existing buckets."""
        self._drain(self.warm, os.path.join(self.root, "warm_ck"),
                    record=False)

    def reset(self) -> None:
        self.fixture()
        self.warmup()

    def _drain(self, drop: str, ckpt: str, record: bool) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from dig_etl_engine_spark.operators.text_analysis import (
            decontaminate, fingerprint_md5)
        from dig_etl_engine_spark.pipeline import run_modules
        from dig_etl_engine_spark.sinks.kg_table import upsert_partitioned
        from dig_etl_engine_spark.streaming.ingest import file_stream_source
        from dig_etl_engine_spark.streaming.stateful import (
            first_seen_dedup_stream)

        ctx, t = self.ctx, self.ctx.tracer
        table, evals = self.table, self.eval_df
        cols = ["doc_id", "content_type", "text", "kafka_offset"]
        schema = T.StructType([T.StructField("doc_id", T.LongType()),
                               T.StructField("content_type", T.StringType()),
                               T.StructField("text", T.StringType()),
                               T.StructField("kafka_offset", T.LongType())])

        def curate(batch, batch_id: int) -> None:
            # Spark's foreachBatch guidance: cache the micro-batch that
            # several actions consume, so the stateful stage runs once
            batch.persist()
            try:
                _curate(batch, batch_id)
            finally:
                batch.unpersist()

        def _curate(batch, batch_id: int) -> None:
            with t.request(batch_id), t.span("streaming.foreach_batch"):
                valid = batch.filter(F.col("doc_id").isNotNull()) \
                    .select(*cols)
                with t.span("pipeline.run_modules"):
                    kg = run_modules(valid, extractor_modules(t))
                with t.span("operators.decontaminate"):
                    flagged = decontaminate(valid, evals, n=13)
                if t.enabled:
                    with t.span("bench.count_flagged"):
                        t.count("operators.decontaminated_rows",
                                flagged.count())
                clean = kg.join(flagged, "doc_id", "left_anti")
                before = _epoch_dirs(table) if t.enabled else set()
                with t.span("sinks.upsert_partitioned"):
                    upsert_partitioned(batch.sparkSession, table, clean)
                if t.enabled:
                    _record_commit(t, table, before)

        with t.span("streaming.file_stream_source"):
            src = file_stream_source(_OneFilePerTrigger(ctx.spark), drop,
                                     schema)
        with t.span("operators.fingerprint_md5"):
            src = src.withColumn("fingerprint", fingerprint_md5(F.col("text")))
        with t.span("streaming.first_seen_dedup_stream"):
            deduped = first_seen_dedup_stream(
                src, fingerprint_col="fingerprint", order_col="kafka_offset",
                output_schema="doc_id long, content_type string, text string,"
                              " kafka_offset long, fingerprint string")
        t0 = time.perf_counter()
        with t.span("streaming.drain"):
            q = (deduped.writeStream.outputMode("append")
                 .foreachBatch(curate)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        if record:
            self.progress = progress
            ctx.sample("drain_s", wall)
            ctx.sample("rows", sum(p.numInputRows for p in progress))
            for p in progress:
                ctx.sample("trigger_s", p.durationMs["triggerExecution"] / 1e3)

    def run(self) -> None:
        ctx = self.ctx
        self._drain(self.drop, os.path.join(self.root, "ck"), record=True)
        ctx.attempted += len(self.progress)
        ctx.tracer.count("sinks.input_bytes", self.input_bytes)
        if len(self.progress) != self.n_files:
            ctx.fail(f"{len(self.progress)} micro-batches for "
                     f"{self.n_files} files")

    def check(self) -> None:
        """The final table against the reference replay, and each row's
        extracted emails against the same pattern."""
        from dig_etl_engine_spark.sinks.kg_table import read_partitioned

        ctx = self.ctx
        ctx.attempted += 1
        got = read_partitioned(ctx.spark, self.table).toPandas()
        errs = oracle.check_stream_table(got, [self.warm_rows, self.rows],
                                         self.evals)
        if errs:
            ctx.fail("final table: " + "; ".join(errs))
        ctx.props["curated_rows"] = len(got)

    def end_to_end(self) -> dict[str, tuple[float, str, int]]:
        s = self.ctx.samples
        return {
            "latency_p50_ms": (pct(s["trigger_s"], 50) * 1e3, "ms",
                               len(s["trigger_s"])),
            "throughput_per_s": (s["rows"][-1] / s["drain_s"][-1], "1/s",
                                 int(s["rows"][-1])),
        }

    def report(self) -> dict[str, tuple[float, str, int]]:
        s = self.ctx.samples
        return {
            "stream_docs_per_s": (s["rows"][-1] / s["drain_s"][-1], "docs/s",
                                  int(s["rows"][-1])),
            "stream_batch_p50_s": (pct(s["trigger_s"], 50), "s",
                                   len(s["trigger_s"])),
        }


def make(name: str, ctx: Ctx):
    return {"kg_search": KgSearch, "stream_curate": StreamCurate}[name](ctx)


# ================================================================ helpers

def tail_pct(n: int) -> int | None:
    """Highest of p99/p95/p90/p75 with at least 10 samples beyond it."""
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p
    return None
