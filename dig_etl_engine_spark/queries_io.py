"""Registry entries for source/sink/streaming operators (SURVEY.md §2.1,
§2.2, §2.9). File-I/O operators are verified end-to-end: the query derives
deterministic content from a canonical table, writes it through the sink /
source-format under test into a scratch dir, reads it back through the
source operator, and the oracle recomputes the expected projection from
the original table — so the round-trip itself is what's checked."""

from __future__ import annotations

import os
import shutil
import threading
import uuid as uuid_mod
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dig_etl_engine_spark.catalog import load_tables
from dig_etl_engine_spark.functions.exact import fixed, round_fixed
from dig_etl_engine_spark.functions.casefold import safe_lower
from dig_etl_engine_spark.operators import text_analysis as TA
from dig_etl_engine_spark.queries import register

# Engine-identical rounded bucket mean (wobble lint): one canonical
# definition, next to the Spark expression it mirrors.
from dig_etl_engine_spark.timeseries.convert import ohlc_mean_v_sql

_MEAN_V_SQL = ohlc_mean_v_sql()

# pid-scoped: these fixture dirs are wiped and rebuilt PER CALL, so two
# concurrent processes (a pytest run next to a driver sweep) sharing one
# path would race rmtree against the other's active read. Unlike the
# content-keyed build-once cache (`queries_corpus._scratch_path`), nothing
# here is meant to be shared across processes.
_SCRATCH = f"/tmp/spark_graft_io-{os.getpid()}"


def _reap_dead_scratch() -> None:
    """Best-effort removal of sibling pid-scoped scratch roots whose
    owning process is gone — pid-scoping prevents cross-process races
    but leaks one directory per exited process (a long-lived dev box
    measured 88 of them); a live pid's root is never touched, and a
    recycled pid at worst postpones one reap. Runs once per process."""
    parent, prefix = os.path.dirname(_SCRATCH), "spark_graft_io-"
    try:
        names = os.listdir(parent)
    except OSError:
        return
    for n in names:
        if not n.startswith(prefix) or n == os.path.basename(_SCRATCH):
            continue
        try:
            pid = int(n[len(prefix):])
        except ValueError:
            continue
        try:
            os.kill(pid, 0)      # signal 0: existence probe only
        except ProcessLookupError:
            shutil.rmtree(os.path.join(parent, n), ignore_errors=True)
        except OSError:
            continue             # alive but not ours / no permission


_REAPED = False


def _scratch(name: str) -> str:
    global _REAPED
    if not _REAPED:
        _REAPED = True
        _reap_dead_scratch()
    path = os.path.join(_SCRATCH, name)
    if os.path.exists(path):
        # rename-aside + background delete: the previous call's fixture
        # (checkpoint state stores are hundreds of small files) is
        # detached in O(1) and reclaimed off the caller's path — a
        # repeated-call harness (bench runs a query 5x) should measure
        # the pipeline, not the previous run's directory teardown
        # (r10 verdict item 3). The aside name is pid+uuid-scoped; a
        # crash mid-delete leaks a dir that the next process-level
        # reap of this pid's root removes with it.
        aside = f"{path}.reap-{uuid_mod.uuid4().hex[:8]}"
        try:
            os.rename(path, aside)
        except OSError:
            shutil.rmtree(path, ignore_errors=True)
        else:
            threading.Thread(
                target=shutil.rmtree, args=(aside,),
                kwargs={"ignore_errors": True}, daemon=True,
                name="scratch-reaper").start()
    os.makedirs(path, exist_ok=True)
    return path


_STREAM_CONF_LOCK = threading.Lock()


@contextmanager
def _stream_parts(spark: SparkSession, n: int | None = None):
    """Scope ``spark.sql.shuffle.partitions`` around a stream start: a
    stateful stream captures the conf into its FRESH checkpoint at first
    start and AQE never resizes stateful shuffles, so without this every
    fixture-scale stream here runs its state store (and per-micro-batch
    shuffles) at the 2×cores batch default — pure task overhead for a
    few-thousand-key state. Production sizing is the opposite direction:
    partitions ≈ distinct state keys / target-keys-per-task, set before
    the FIRST start of the real stream. Partition count never affects
    results (pinned registry-wide by the adversarial 7-partition
    sweep).

    Session conf is process-global, and `streaming/ingest.py` documents
    why a bare get/set/restore races when two streams share one session
    (one thread's restore can fire between another's set and start) —
    so the whole scope serializes on a module lock: stream drains here
    are seconds long, and the registry runs them sequentially anyway;
    the lock turns that implicit invariant into an enforced one.

    r12: the same scope also disables Spark 4.1's checkpoint-file
    checksums (default-on) unless SPARK_GRAFT_CKPT_CHECKSUM=true —
    the .crc sidecar write + await per state-delta/offset/commit file
    was 29% of streaming task-thread samples and an interleaved A/B on
    stream_e2e_curation measured 2.2× end-to-end (rationale and the
    deployment trade in ``session.py``, which sets the same default
    for sessions the engine builds itself; this scope covers sessions
    the caller built — e.g. the round driver's correctness run)."""
    # env read INSIDE the body (r13 review): a default-argument read is
    # evaluated once at import time, so a malformed value would crash
    # registry import and a post-import env change would be ignored —
    # the knob's whole point is runtime sizing before a stream's FIRST
    # start (production: partitions ~ distinct state keys / target
    # keys-per-task; 16 is the fixture-scale default, kept after an
    # 8-vs-16 interleaved A/B where 16 won both pairs).
    if n is None:
        raw = os.environ.get("SPARK_GRAFT_STREAM_PARTS", "16")
        if not raw.strip().isdecimal() or int(raw) < 1:
            raise ValueError(
                f"SPARK_GRAFT_STREAM_PARTS={raw!r}: expected a positive "
                "integer (the shuffle partition count of a stream's "
                "first start)")
        n = int(raw)
    with _STREAM_CONF_LOCK:
        ck = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
        old = spark.conf.get("spark.sql.shuffle.partitions")
        old_ck = spark.conf.get(ck, None)
        # both sets INSIDE the try: if the second set raises (a build
        # where the conf is non-modifiable, a dying session), the
        # finally must still restore the first — otherwise the n=16
        # override leaks into every later batch query of the session
        # (r12 review).
        try:
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            spark.conf.set(
                ck, os.environ.get("SPARK_GRAFT_CKPT_CHECKSUM", "false"))
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
            if old_ck is None:
                spark.conf.unset(ck)
            else:
                spark.conf.set(ck, old_ck)


@register(
    "src_jsonlines_roundtrip",
    oracle="SELECT doc_id, source, lang, n_chars FROM documents",
)
def src_jsonlines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + K4 (`docs/advanced.md:204-206`; `dig_tabular_import.py:493-533`):
    documents → gzip JSON-lines export → schema'd JSON-lines read. Gzip and
    line-splitting are Spark-native; the oracle checks the round-trip lost
    nothing."""
    from dig_etl_engine_spark.sinks.kg_table import write_jsonlines
    from dig_etl_engine_spark.sources.jsonlines import read_jsonlines

    docs = load_tables(spark, sf_dir)["documents"] \
        .select("doc_id", "source", "lang", "n_chars")
    path = os.path.join(_scratch("jsonlines"), "docs.jl.gz")
    write_jsonlines(docs, path, compression="gzip")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    return read_jsonlines(spark, path, schema) \
        .select("doc_id", "source", "lang", "n_chars")


@register(
    "src_avro_roundtrip",
    oracle="""
    SELECT doc_id, text, source, lang, n_chars,
           CAST(doc_id % 7 = 0 AS BOOLEAN) AS flagged
    FROM documents
    """,
)
def src_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro object-container round trip (`sources/avro.py` — the
    spec-compliant pure-Python codec standing in for the absent
    ``spark-avro`` module, the same stdlib-reader doctrine as the two
    Excel sources): documents + a computed boolean → deflate-codec
    container export (staged rename-aside swap shared with the
    WebDataset sink) → distributed header-parse + block-decode read.
    The oracle recomputes relationally: ids, nullable text, strings,
    longs and booleans all survive the binary-encoding hop."""
    from dig_etl_engine_spark.sources.avro import read_avro, write_avro

    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "text", "source", "lang", "n_chars",
        (F.col("doc_id") % 7 == 0).alias("flagged"))
    path = _scratch("avro_docs")
    # r12: no in-path sanity assert — it cost a full docs.count() job
    # per run for a check the oracle already makes strictly stronger
    # (full row-set equality of the round trip) and that
    # tests/test_avro.py pins on the manifest directly (guide §1.2:
    # don't compute things you throw away).
    write_avro(docs.repartition(4), path, codec="deflate")
    return read_avro(spark, path) \
        .select("doc_id", "text", "source", "lang", "n_chars", "flagged")


@register(
    "src_csv_windowed",
    oracle="""
    SELECT n_nationkey::VARCHAR AS nationkey, n_name AS name,
           n_regionkey::VARCHAR AS regionkey
    FROM nation
    """,
)
def src_csv_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 (`dig_tabular_import.py:51-197`): windowed CSV read — junk
    preamble above the heading row, content until the first blank row,
    trailing junk ignored, every cell a string."""
    from dig_etl_engine_spark.sources.tabular import TabularSpec, read_tabular

    nation = load_tables(spark, sf_dir)["nation"] \
        .select("n_nationkey", "n_name", "n_regionkey") \
        .orderBy("n_nationkey").collect()
    path = os.path.join(_scratch("csv"), "nations.csv")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("export from upstream tool\n")
        fh.write("generated;do not edit\n")
        fh.write("nationkey,name,regionkey\n")
        for r in nation:
            fh.write(f"{r.n_nationkey},{r.n_name},{r.n_regionkey}\n")
        fh.write("\n")
        fh.write("totals,ignored,junk\n")
    spec = TabularSpec(heading_row=3, content_start_row=4,
                       blank_row_ends_content=True)
    return read_tabular(spark, path, spec)


@register(
    "src_excel_windowed",
    oracle="""
    SELECT n_nationkey::VARCHAR AS nationkey, n_name AS name,
           n_regionkey::VARCHAR AS regionkey
    FROM nation
    """,
)
def src_excel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 (`dig_tabular_import.py:107-160`): windowed XLSX read via the
    stdlib OOXML reader — sheet_number selects the SECOND sheet (1-based,
    workbook order), junk preamble above the heading row, trailing junk
    cut by content_end_row, every cell a string. The fixture workbook is
    written by the repo's own minimal OOXML writer, so the round-trip
    exercises both directions without any Excel engine."""
    from dig_etl_engine_spark.sources.tabular import TabularSpec, read_excel
    from dig_etl_engine_spark.sources.xlsx import write_xlsx

    nation = load_tables(spark, sf_dir)["nation"] \
        .select("n_nationkey", "n_name", "n_regionkey") \
        .orderBy("n_nationkey").collect()
    decoy = [["wrong sheet"], ["do not read me"]]
    grid = [["export from upstream tool"],
            ["nationkey", "name", "regionkey"]]
    grid += [[str(r.n_nationkey), r.n_name, str(r.n_regionkey)]
             for r in nation]
    grid += [["totals", "ignored", "junk"]]
    path = os.path.join(_scratch("excel"), "nations.xlsx")
    write_xlsx(path, [decoy, grid], sheet_names=["Decoy", "Data"])
    spec = TabularSpec(heading_row=2, content_start_row=3,
                       content_end_row=2 + len(nation), sheet_number=2)
    return read_excel(spark, path, spec)


@register(
    "src_html_dir",
    oracle="""
    SELECT 'doc_' || doc_id::VARCHAR AS stem,
           sha256('<html><body>' || text || '</body></html>') AS doc_id_sha,
           length(text) + 26 AS n_chars
    FROM documents WHERE doc_id < 8
    """,
)
def src_html_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 (`docs/advanced.md:297-308`): a directory of HTML files → one doc
    per file with content-hash doc ids; filename stem kept for provenance."""
    from dig_etl_engine_spark.sources.jsonlines import read_html_files

    docs = load_tables(spark, sf_dir)["documents"] \
        .filter(F.col("doc_id") < 8).select("doc_id", "text").collect()
    d = _scratch("html")
    for r in docs:
        with open(os.path.join(d, f"doc_{r.doc_id}.html"), "w",
                  encoding="utf-8") as fh:
            fh.write(f"<html><body>{r.text}</body></html>")
    out = read_html_files(spark, os.path.join(d, "*.html"), dataset="crawl")
    return out.select(
        "stem", F.col("doc_id").alias("doc_id_sha"),
        F.length("raw_content").cast("long").alias("n_chars"))


@register(
    "src_raw_export_pairing",
    oracle="""
    SELECT source AS tld, doc_id::VARCHAR AS stem,
           length(text) AS html_chars, doc_id AS meta_doc_id
    FROM documents WHERE doc_id < 12
    """,
)
def src_raw_export_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 (`utilities/export_raw_data.py:17-42`): walk ``data/<tld>/``
    pairing ``{stem}.json`` metadata with ``{stem}.html`` content into one
    row per stem."""
    from dig_etl_engine_spark.sources.jsonlines import pair_raw_data

    docs = load_tables(spark, sf_dir)["documents"] \
        .filter(F.col("doc_id") < 12).select("doc_id", "source", "text") \
        .collect()
    root = _scratch("rawdata")
    for r in docs:
        d = os.path.join(root, r.source)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{r.doc_id}.json"), "w",
                  encoding="utf-8") as fh:
            fh.write('{"doc_id": %d}' % r.doc_id)
        with open(os.path.join(d, f"{r.doc_id}.html"), "w",
                  encoding="utf-8") as fh:
            fh.write(r.text)
    paired = pair_raw_data(spark, root)
    return paired.select(
        "tld", "stem",
        F.length("raw_content").cast("long").alias("html_chars"),
        F.get_json_object("meta_json", "$.doc_id").cast("long")
        .alias("meta_doc_id"))


@register(
    "stream_file_upsert",
    oracle="""
    WITH src AS (
      SELECT CASE WHEN event_id % 97 = 3 THEN ''
                  ELSE (event_id % 1000)::VARCHAR END AS doc_id,
             event_id AS kafka_offset, event_type, value
      FROM events
    ),
    valid AS (SELECT * FROM src WHERE doc_id <> '')
    SELECT doc_id, kafka_offset, event_type, value FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY kafka_offset DESC) AS rn
      FROM valid
    ) WHERE rn = 1
    """,
)
def stream_file_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-C5 + K2/K3 end-to-end (`etk_worker.py:76-157`; `manager.py:
    194-229`): a real Structured Streaming run — file-drop source (the
    broker-free stand-in for the Kafka topic; every stage downstream is
    shared), availableNow drain trigger, foreachBatch that quarantines
    docs with blank doc_id and MERGEs the rest into the KG table with
    last-write-wins by offset. The returned DataFrame is the final KG
    table; the oracle replays the upsert relationally."""
    from dig_etl_engine_spark.sinks.kg_table import (
        create_table_if_not_exists, read_partitioned)
    from dig_etl_engine_spark.streaming.ingest import (
        file_stream_source, run_ingest)

    events = load_tables(spark, sf_dir)["events"]
    src = events.select(
        F.when(F.col("event_id") % 97 == 3, F.lit(""))
        .otherwise((F.col("event_id") % 1000).cast("string")).alias("doc_id"),
        F.col("event_id").alias("kafka_offset"),
        "event_type", "value")

    root = _scratch("stream")
    in_dir, target = os.path.join(root, "in"), os.path.join(root, "kg")
    quarantine, ckpt = os.path.join(root, "bad"), os.path.join(root, "ckpt")
    src.coalesce(4).write.mode("overwrite").json(in_dir)

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("kafka_offset", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    create_table_if_not_exists(spark, target, schema)
    with _stream_parts(spark):
        q = run_ingest(file_stream_source(spark, in_dir, schema),
                       target_path=target, quarantine_path=quarantine,
                       checkpoint_dir=ckpt)
        q.awaitTermination()
    # the default ingest sink is the bucketed (manifest-routed) merge —
    # read through the table's read API, not a raw directory listing
    return read_partitioned(spark, target) \
        .select("doc_id", "kafka_offset", "event_type", "value")


@register(
    "stream_windowed_counts",
    oracle="""
    SELECT strftime(d, '%Y-%m-%d') AS window_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
    FROM (SELECT date_trunc('day', ts) AS d, event_type, value FROM events)
    GROUP BY d, event_type
    HAVING d + INTERVAL 1 DAY <= (SELECT max(ts) - INTERVAL 1 HOUR
                                  FROM events)
    """,
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed aggregation with late-data watermarking — the
    Structured Streaming superset the reference's incremental Kafka loop
    lacks (SURVEY §1.2). Daily windows over the events stream, 1-hour
    watermark, availableNow drain: exactly the windows whose end passed
    the final watermark are finalized and emitted (append mode), so the
    last partial day stays open and is NOT in the output. The input is
    written as ONE file → one micro-batch → no intra-run late drops, and
    the oracle replays the finalization rule relationally (windows with
    end ≤ max(ts) − 1h)."""
    from dig_etl_engine_spark.streaming.ingest import (
        file_stream_source, run_windowed_counts)

    events = load_tables(spark, sf_dir)["events"] \
        .select(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
                .alias("ts"), "event_type", "value")

    root = _scratch("winstream")
    in_dir, target = os.path.join(root, "in"), os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    events.write.mode("overwrite").json(in_dir)

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    # Zone-free window assignment under ANY session zone (caught by the
    # r8 America/New_York registry sweep — the one query whose output
    # moved with the session zone): fixed-width windows bucket by epoch
    # arithmetic on the INSTANT, and the JSON parse builds that instant
    # by interpreting the wall time in the SESSION zone, so a non-UTC
    # session shifts events across day boundaries relative to the
    # oracle's naive date_trunc. Watermarks reject TIMESTAMP_NTZ in this
    # Spark build (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so instead
    # shift the instant to the naive-as-UTC epoch before windowing —
    # from_utc_timestamp(ts, session_zone) removes the offset the parse
    # added, per value — and compensate symmetrically on the way out
    # (to_utc_timestamp before the session-zone date_format). Both are
    # identities under UTC.
    src = (file_stream_source(spark, in_dir, schema)
           .withColumn("ts", F.from_utc_timestamp(
               "ts", F.current_timezone())))
    with _stream_parts(spark):
        q = run_windowed_counts(src, target_path=target,
                                checkpoint_dir=ckpt)
        q.awaitTermination()
    return (spark.read.parquet(target)
            .select(F.date_format(
                        F.to_utc_timestamp("window_start",
                                           F.current_timezone()),
                        "yyyy-MM-dd").alias("window_start"),
                    "event_type", "n_events", "sum_value"))


@register(
    "stream_stateful_dedup",
    oracle="""
    WITH src AS (
      SELECT (event_id % 500)::VARCHAR AS fingerprint,
             event_id AS kafka_offset, event_type, value
      FROM events
    )
    SELECT fingerprint, kafka_offset, event_type, value FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint
                 ORDER BY kafka_offset) AS rn
      FROM src
    ) WHERE rn = 1
    """,
)
def stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (Structured Streaming superset —
    the reference's Kafka loop keeps no state, `etk_worker.py:76-157`):
    first-seen dedup via ``applyInPandasWithState``. Every row whose
    fingerprint was already seen anywhere earlier in the stream is dropped;
    the winner is the min-offset row per fingerprint. The input is drained
    in a single availableNow batch, so the result is exactly the
    relational min-offset row — which the oracle recomputes."""
    from dig_etl_engine_spark.streaming.ingest import file_stream_source
    from dig_etl_engine_spark.streaming.stateful import run_first_seen_dedup

    events = load_tables(spark, sf_dir)["events"]
    src = events.select(
        (F.col("event_id") % 500).cast("string").alias("fingerprint"),
        F.col("event_id").alias("kafka_offset"),
        "event_type", "value")

    root = _scratch("stateful")
    in_dir, target = os.path.join(root, "in"), os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    src.write.mode("overwrite").json(in_dir)

    schema = T.StructType([
        T.StructField("fingerprint", T.StringType()),
        T.StructField("kafka_offset", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    with _stream_parts(spark):
        q = run_first_seen_dedup(
            file_stream_source(spark, in_dir, schema),
            target_path=target, checkpoint_dir=ckpt,
            fingerprint_col="fingerprint", order_col="kafka_offset",
            output_schema=("fingerprint string, kafka_offset long, "
                           "event_type string, value double"))
        q.awaitTermination()
    return spark.read.parquet(target) \
        .select("fingerprint", "kafka_offset", "event_type", "value")


_RESTART_FP_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


@register(
    "stream_restart_recovery",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, {_RESTART_FP_SQL} AS fingerprint,
             doc_id AS kafka_offset
      FROM documents WHERE doc_id % 2 = 0
    ),
    b AS (
      SELECT doc_id + 500000 AS doc_id, {_RESTART_FP_SQL} AS fingerprint,
             doc_id + 500000 AS kafka_offset
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, {_RESTART_FP_SQL} AS fingerprint,
             doc_id + 1000000 AS kafka_offset
      FROM documents WHERE doc_id % 2 = 1
    ),
    u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
    SELECT doc_id, fingerprint, kafka_offset FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint
                 ORDER BY kafka_offset) AS rn
      FROM u
    ) WHERE rn = 1
    """,
)
def stream_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint RESTART/RECOVERY proof — the streaming semantics a real
    deployment exercises daily and every other stream query here only
    implies: drain drop A (even docs) through the stateful first-seen
    dedup, STOP the query, append drop B, then start a **new** query
    object from the SAME checkpoint and drain again. Drop B contains
    (1) byte-identical re-sends of every drop-A document under fresh
    doc_ids/offsets — these must stay suppressed, which is only possible
    if the state store REPLAYED across the restart — and (2) genuinely
    new (odd) documents, which must pass. The file source must likewise
    resume its processed-file log (re-reading drop A would re-emit
    nothing but double-processes the input; losing the log would break
    the batch numbering the parquet sink's exactly-once relies on).

    The oracle replays BOTH drains relationally as global
    min-offset-per-fingerprint over A ∪ B; offsets are constructed
    strictly increasing across the two drops (A: doc_id; B re-sends:
    +500000; B fresh: +1000000) and each drop lands as files before its
    drain starts (one availableNow micro-batch per drain,
    `file_stream_source` contract), so first-seen-across-restarts ==
    global min-offset exactly. A lost state store re-emits ~2500
    re-sent fingerprints — a row-count mismatch, not a subtle hash
    flip. Kafka parity: swap the file source for the Kafka reader and
    the same checkpoint mechanics carry consumer offsets + state
    (`integration/kafka/`; broker absent in this container)."""
    from dig_etl_engine_spark.streaming.ingest import file_stream_source
    from dig_etl_engine_spark.streaming.stateful import run_first_seen_dedup

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    # the canonical dedup fingerprint — the named helper, so the
    # normalization can never silently fork from the rest of the
    # engine (r9 review: this was an inline copy)
    fp = TA.fingerprint_md5(F.col("text"))
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    drop_a = even.select("doc_id", fp.alias("fingerprint"),
                         F.col("doc_id").alias("kafka_offset"))
    drop_b = (even.select((F.col("doc_id") + 500000).alias("doc_id"),
                          fp.alias("fingerprint"),
                          (F.col("doc_id") + 500000).alias("kafka_offset"))
              .unionByName(
                  odd.select("doc_id", fp.alias("fingerprint"),
                             (F.col("doc_id") + 1000000)
                             .alias("kafka_offset"))))

    root = _scratch("restartstream")
    in_dir, target = os.path.join(root, "in"), os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("fingerprint", T.StringType()),
        T.StructField("kafka_offset", T.LongType()),
    ])
    out_schema = "doc_id long, fingerprint string, kafka_offset long"

    def drain():
        q = run_first_seen_dedup(
            file_stream_source(spark, in_dir, schema),
            target_path=target, checkpoint_dir=ckpt,
            fingerprint_col="fingerprint", order_col="kafka_offset",
            output_schema=out_schema)
        q.awaitTermination()

    with _stream_parts(spark):
        drop_a.write.mode("overwrite").json(in_dir)
        drain()                                   # run 1: drop A only
        drop_b.write.mode("append").json(in_dir)  # lands AFTER the stop
        drain()                                   # run 2: fresh query,
        #                                           same checkpoint
    return spark.read.parquet(target) \
        .select("doc_id", "fingerprint", "kafka_offset")


@register(
    "stream_session_windows",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
          FROM o),
    sess AS (
      SELECT user_id,
             MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*)::BIGINT AS n_events,
             ROUND(SUM(value), 2) AS sum_value
      FROM s GROUP BY user_id, sid
    )
    SELECT strftime(session_start, '%Y-%m-%d %H:%M:%S.%f')
             AS session_start,
           strftime(session_end, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           user_id, n_events, sum_value
    FROM sess
    WHERE session_end <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via native ``session_window``
    (`streaming/ingest.py:run_session_windows`) — the online form of the
    batch `sessionize_events` query: dynamic-gap (30 min) event-time
    windows per user, 1-hour watermark, availableNow drain. A session is
    FINALIZED (append mode) only once the final watermark (max ts − 1h)
    passes its end (last event + gap), so late tail sessions stay open
    and are NOT emitted — the oracle replays exactly that rule
    relationally (gap-split sessions, end = last + 30 min, watermark
    cut). Timestamps project as strings per the registry convention."""
    from dig_etl_engine_spark.streaming.ingest import (
        file_stream_source, run_session_windows)

    events = load_tables(spark, sf_dir)["events"] \
        .select(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
                .alias("ts"), "user_id", "value")

    root = _scratch("sessstream")
    in_dir, target = os.path.join(root, "in"), os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    events.write.mode("overwrite").json(in_dir)

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])
    src = file_stream_source(spark, in_dir, schema)
    with _stream_parts(spark):
        q = run_session_windows(src, target_path=target,
                                checkpoint_dir=ckpt,
                                gap="30 minutes", watermark="1 hour")
        q.awaitTermination()
    return (spark.read.parquet(target)
            .select(F.date_format("session_start",
                                  "yyyy-MM-dd HH:mm:ss.SSSSSS")
                    .alias("session_start"),
                    F.date_format("session_end",
                                  "yyyy-MM-dd HH:mm:ss.SSSSSS")
                    .alias("session_end"),
                    "user_id", "n_events", "sum_value"))


_SD_SFX = " zz extra trailing tokens"


def _stream_dedup_oracle_sql() -> str:
    from dig_etl_engine_spark.queries_llm import _minhash_ctes

    union = f"""
    corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 100000, text || '{_SD_SFX}' FROM documents
      WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id + 300000, text || '{_SD_SFX}' FROM documents
      WHERE doc_id % 2 = 1
    )"""
    return ("WITH " + _minhash_ctes(union) + f"""
    , pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
    batch AS (
      SELECT doc_id FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 100000 FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id + 300000 FROM documents WHERE doc_id % 2 = 1
    ),
    dropped AS (
      -- matched an indexed corpus doc (even originals), either side
      SELECT p.doc_b AS doc_id FROM pairs p
      WHERE p.doc_a % 2 = 0 AND p.doc_a < 100000 AND p.doc_b IN
            (SELECT doc_id FROM batch)
      UNION
      SELECT p.doc_a FROM pairs p
      WHERE p.doc_b % 2 = 0 AND p.doc_b < 100000 AND p.doc_a IN
            (SELECT doc_id FROM batch)
      UNION
      -- batch-internal: the larger id of a batch-batch pair
      SELECT p.doc_b FROM pairs p
      WHERE p.doc_a IN (SELECT doc_id FROM batch)
        AND p.doc_b IN (SELECT doc_id FROM batch)
    )
    SELECT b.doc_id FROM batch b
    LEFT JOIN dropped d ON d.doc_id = b.doc_id
    WHERE d.doc_id IS NULL
    """)


@register("stream_dedup_ingest", oracle=_stream_dedup_oracle_sql())
def stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup-suppressing ingest (`streaming/ingest.py:
    run_dedup_ingest`): a real Structured Streaming run against a
    PERSISTED minhash index — corpus = the even documents, indexed once;
    the stream drop carries near-dup mutants of corpus docs (suppressed,
    ``origin='corpus'``), brand-new odd docs (kept), and mutants of
    those odd docs (suppressed batch-internally, min id wins). Survivors
    upsert into the KG table; batch signatures append under the
    micro-batch's ``_ab`` partition (retry-idempotent). The input is one
    file → one micro-batch, and the first-seen survivor set is
    batch-split-invariant anyway (a near-dup pair split across batches
    drops the same later doc via the index), so the oracle replays the
    full corpus∪batch minhash self-join + drop rule relationally."""
    from dig_etl_engine_spark.operators.dedup import (
        materialize_minhash_index)
    from dig_etl_engine_spark.sinks.kg_table import (
        create_table_if_not_exists)
    from dig_etl_engine_spark.streaming.ingest import (
        file_stream_source, run_dedup_ingest)

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    root = _scratch("dedupstream")
    index = os.path.join(root, "mh")
    materialize_minhash_index(docs.filter(F.col("doc_id") % 2 == 0),
                              "text", index)
    evens_mut = (docs.filter(F.col("doc_id") % 2 == 0)
                 .select((F.col("doc_id") + 100000).alias("doc_id"),
                         F.concat("text", F.lit(_SD_SFX)).alias("text")))
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    odds_mut = (odds.select((F.col("doc_id") + 300000).alias("doc_id"),
                            F.concat("text", F.lit(_SD_SFX))
                             .alias("text")))
    # doc_id stays NUMERIC: the batch-internal drop rule is min-ID wins,
    # and a string-typed id would order '7' > '300007' lexicographically,
    # silently flipping which near-dup survives
    batch = (odds.unionByName(evens_mut).unionByName(odds_mut)
             .select("doc_id", "text",
                     F.col("doc_id").alias("kafka_offset")))

    in_dir, target = os.path.join(root, "in"), os.path.join(root, "kg")
    quarantine, ckpt = os.path.join(root, "bad"), os.path.join(root, "ck")
    batch.write.mode("overwrite").json(in_dir)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("kafka_offset", T.LongType()),
    ])
    create_table_if_not_exists(spark, target, schema)
    with _stream_parts(spark):
        q = run_dedup_ingest(
            file_stream_source(spark, in_dir, schema),
            target_path=target, quarantine_path=quarantine,
            checkpoint_dir=ckpt, index_path=index, threshold=0.5,
            buckets=None)
        q.awaitTermination()
    return (spark.read.parquet(target)
            .select(F.col("doc_id")))


@register(
    "stream_decontaminate_ingest",
    oracle="""
    WITH evt AS (
      SELECT string_split(trim(lower(array_to_string(
               string_split(text, ' ')[1:20], ' '))), ' ') AS toks
      FROM documents WHERE doc_id % 17 = 0
    ),
    evg AS (
      SELECT DISTINCT
             unnest(list_transform(range(1, greatest(len(toks) - 12, 1) + 1),
                 i -> array_to_string(toks[i:least(i + 12, len(toks))], ' ')))
               AS g
      FROM evt
    ),
    cg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 12, 1) + 1),
                 i -> array_to_string(toks[i:least(i + 12, len(toks))], ' ')))
               AS g
      FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
            FROM documents)
    ),
    contaminated AS (SELECT DISTINCT cg.doc_id
                     FROM cg JOIN evg ON cg.g = evg.g)
    SELECT d.doc_id FROM documents d
    LEFT JOIN contaminated c ON c.doc_id = d.doc_id
    WHERE c.doc_id IS NULL
    """,
)
def stream_decontaminate_ingest(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Streaming eval-leak guard: `run_ingest`'s per-batch ``transform``
    hook carrying the 13-gram decontamination gate — every micro-batch
    anti-joins the broadcast eval-gram set before the upsert, so
    contaminated docs never reach the KG table (the online form of
    `decontaminate_eval_overlap`'s batch filter; same planted eval set).
    Proves the module-pipeline hook composes with the curation
    operators; the oracle replays the gram overlap and the anti-join."""
    from dig_etl_engine_spark.operators.text_analysis import decontaminate
    from dig_etl_engine_spark.sinks.kg_table import (
        create_table_if_not_exists)
    from dig_etl_engine_spark.streaming.ingest import (
        file_stream_source, run_ingest)

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    evals = (docs.filter(F.col("doc_id") % 17 == 0)
             .select("doc_id",
                     F.concat_ws(" ", F.slice(F.split(F.col("text"), " "),
                                              1, 20)).alias("text")))

    def gate(valid: DataFrame) -> DataFrame:
        return valid.join(decontaminate(valid, evals, n=13),
                          "doc_id", "left_anti")

    root = _scratch("deconstream")
    in_dir, target = os.path.join(root, "in"), os.path.join(root, "kg")
    quarantine, ckpt = os.path.join(root, "bad"), os.path.join(root, "ck")
    (docs.select("doc_id", "text", F.col("doc_id").alias("kafka_offset"))
     .write.mode("overwrite").json(in_dir))
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("kafka_offset", T.LongType()),
    ])
    create_table_if_not_exists(spark, target, schema)
    with _stream_parts(spark):
        q = run_ingest(file_stream_source(spark, in_dir, schema),
                       target_path=target, quarantine_path=quarantine,
                       checkpoint_dir=ckpt, transform=gate, buckets=None)
        q.awaitTermination()
    return spark.read.parquet(target).select("doc_id")


@register(
    "stream_e2e_curation",
    oracle="""
    WITH src AS (
      SELECT doc_id, text, doc_id AS kafka_offset FROM documents
      UNION ALL
      SELECT doc_id + 100000, text, doc_id + 100000 FROM documents
      WHERE doc_id % 3 = 0
    ),
    fp AS (
      SELECT *, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS f
      FROM src
    ),
    first_seen AS (
      SELECT f, arg_min(doc_id, kafka_offset) AS doc_id,
             arg_min(text, kafka_offset) AS text,
             MIN(kafka_offset) AS kafka_offset
      FROM fp GROUP BY f
    ),
    evt AS (
      SELECT string_split(trim(lower(array_to_string(
               string_split(text, ' ')[1:20], ' '))), ' ') AS toks
      FROM documents WHERE doc_id % 17 = 0
    ),
    evg AS (
      SELECT DISTINCT
             unnest(list_transform(range(1, greatest(len(toks) - 12, 1) + 1),
                 i -> array_to_string(toks[i:least(i + 12, len(toks))], ' ')))
               AS g
      FROM evt
    ),
    cg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 12, 1) + 1),
                 i -> array_to_string(toks[i:least(i + 12, len(toks))], ' ')))
               AS g
      FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
            FROM first_seen)
    ),
    contaminated AS (SELECT DISTINCT cg.doc_id
                     FROM cg JOIN evg ON cg.g = evg.g),
    curated AS (
      SELECT fs.doc_id, fs.text FROM first_seen fs
      LEFT JOIN contaminated c ON c.doc_id = fs.doc_id
      WHERE c.doc_id IS NULL
    ),
    scored AS (
      SELECT doc_id,
             CAST(2 * len(list_filter(string_split(trim(lower(text)), ' '),
                                      t -> t = 'spark'))
                + len(list_filter(string_split(trim(lower(text)), ' '),
                                  t -> t = 'join')) AS BIGINT) AS score
      FROM curated
    )
    SELECT doc_id, score FROM scored
    WHERE score > 0
    ORDER BY score DESC, doc_id ASC LIMIT 20
    """,
)
def stream_e2e_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed streaming pipeline as ONE identity query — the
    end-to-end shape a real deployment runs (the round-5 review's
    requested composition): kafka-shaped file drop → custom STATEFUL
    first-seen exact dedup (``applyInPandasWithState`` — planted exact
    copies at ``doc_id+100000`` must lose to their min-offset
    originals) → per-micro-batch decontamination gate (13-gram eval
    overlap, the `stream_decontaminate_ingest` transform) → last-write-
    wins KG MERGE → weighted coarse search rank over the curated table
    (term-weight sum, the search compiler's relevance semantics, full
    deterministic tie order). Every stage is individually driver-
    verified elsewhere; this row proves they COMPOSE — the stateful
    operator's output stream feeds foreachBatch directly, no
    intermediate landing. Single availableNow drain so first-seen ==
    global min-offset (batch-order nondeterminism excluded); the
    oracle replays all four stages relationally."""
    from dig_etl_engine_spark.operators.text_analysis import decontaminate
    from dig_etl_engine_spark.sinks.kg_table import (
        create_table_if_not_exists, upsert)
    from dig_etl_engine_spark.streaming.ingest import file_stream_source
    from dig_etl_engine_spark.streaming.stateful import (
        first_seen_dedup_stream)

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    src = (docs.unionByName(copies)
           .select("doc_id", "text",
                   F.col("doc_id").alias("kafka_offset"),
                   TA.fingerprint_md5(F.col("text"))
                   .alias("fingerprint")))
    evals = (docs.filter(F.col("doc_id") % 17 == 0)
             .select("doc_id",
                     F.concat_ws(" ", F.slice(F.split(F.col("text"), " "),
                                              1, 20)).alias("text")))

    root = _scratch("e2estream")
    target, ckpt = os.path.join(root, "kg"), os.path.join(root, "ck")
    # the input drop is a pure function of documents.parquet, so it uses
    # the content-keyed build-once cache (same contract as the minhash /
    # IVF index fixtures) — the checkpoint and target stay per-call: the
    # stream's STATE must replay fresh each run, only the input bytes
    # are reusable
    from dig_etl_engine_spark.queries_corpus import _scratch_path
    # the cache key carries a fingerprint of the fixture's ANALYZED plan
    # (attribute ids stripped — they vary per session) so editing the
    # fixture expression invalidates the cache automatically; the data
    # dependency is covered by _scratch_path's (mtime, size) key
    import hashlib
    import re as _re
    plan = src._jdf.queryExecution().analyzed().toString()
    tag = hashlib.md5(_re.sub(r"#\d+", "", plan).encode()).hexdigest()[:10]
    in_dir, fresh = _scratch_path(sf_dir, f"e2e_in-{tag}", "_SUCCESS")
    if not fresh:
        # build-aside + atomic rename: a concurrent process may be
        # READING a committed cache dir while this one decides to
        # (re)build — mode('overwrite') straight onto in_dir would
        # delete it under the reader. Build into a pid-scoped temp dir
        # and rename in; the loser of a build race keeps the winner's
        # committed copy. A committed (_SUCCESS-bearing) dir is never
        # deleted or overwritten.
        tmp = in_dir + f".build-{os.getpid()}"
        src.write.mode("overwrite").json(tmp)
        try:
            if os.path.isdir(in_dir) and not os.path.exists(
                    os.path.join(in_dir, "_SUCCESS")):
                # crashed partial, never committed — but between the
                # _SUCCESS check and a direct rmtree a concurrent
                # builder could rename ITS committed copy into in_dir,
                # and the rmtree would delete a live committed dir
                # under its readers (external review r7, TOCTOU).
                # Rename the suspect aside first (atomic), then RE-CHECK
                # the renamed dir: if it turned out to be a committed
                # copy that landed after the first check, put it back
                # instead of deleting it (the r8 review's completion of
                # the fix — rename-aside alone only narrowed the window,
                # it could still grab and destroy a winner's commit).
                # Only a RE-verified uncommitted partial is deleted.
                trash = in_dir + f".trash-{os.getpid()}"
                try:
                    os.rename(in_dir, trash)
                except FileNotFoundError:
                    pass  # another builder already trashed the partial
                else:
                    if os.path.exists(os.path.join(trash, "_SUCCESS")):
                        try:
                            os.rename(trash, in_dir)  # grabbed a commit
                        except OSError:
                            # an equivalent committed copy already took
                            # the slot (content-keyed dir ⇒ identical)
                            shutil.rmtree(trash, ignore_errors=True)
                    else:
                        shutil.rmtree(trash, ignore_errors=True)
            os.rename(tmp, in_dir)
        except OSError:
            if not os.path.exists(os.path.join(in_dir, "_SUCCESS")):
                raise
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("kafka_offset", T.LongType()),
        T.StructField("fingerprint", T.StringType()),
    ])
    create_table_if_not_exists(spark, target, T.StructType(schema[:3]))

    def curate(batch: DataFrame, batch_id: int) -> None:
        survivors = batch.select("doc_id", "text", "kafka_offset")
        clean = survivors.join(decontaminate(survivors, evals, n=13),
                               "doc_id", "left_anti")
        upsert(batch.sparkSession, target, clean)

    deduped = first_seen_dedup_stream(
        file_stream_source(spark, in_dir, schema),
        fingerprint_col="fingerprint", order_col="kafka_offset",
        output_schema=("doc_id long, text string, kafka_offset long, "
                       "fingerprint string"))
    with _stream_parts(spark):
        q = (deduped.writeStream.outputMode("append").foreachBatch(curate)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    toks = F.split(F.trim(safe_lower(F.col("text"))), " ")
    nmatch = lambda w: F.size(F.filter(toks, lambda t: t == F.lit(w)))  # noqa: E731
    return (spark.read.parquet(target)
            .select("doc_id",
                    (2 * nmatch("spark") + nmatch("join"))
                    .cast("long").alias("score"))
            .filter(F.col("score") > 0)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(20))


@register("stream_dedup_ingest_oracle",
          oracle=_stream_dedup_oracle_sql())
def stream_dedup_ingest_oracle(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """The batch-path contract behind `stream_dedup_ingest`: the SAME
    fixture (even-doc index, mutant+fresh drop) pushed through the
    non-streaming incremental path (`incremental_minhash_dedup` with the
    stream's first-seen drop rule — corpus match drops the batch doc,
    batch-internal pairs drop the larger id) against the same oracle.
    Together the pair proves the streaming wrapper adds only
    micro-batch plumbing on top of a verified kernel."""
    from dig_etl_engine_spark.operators.dedup import (
        incremental_minhash_dedup, materialize_minhash_index)

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    root = _scratch("dedupstream_oracle")
    index = os.path.join(root, "mh")
    materialize_minhash_index(docs.filter(F.col("doc_id") % 2 == 0),
                              "text", index)
    evens_mut = (docs.filter(F.col("doc_id") % 2 == 0)
                 .select((F.col("doc_id") + 100000).alias("doc_id"),
                         F.concat("text", F.lit(_SD_SFX)).alias("text")))
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    odds_mut = (odds.select((F.col("doc_id") + 300000).alias("doc_id"),
                            F.concat("text", F.lit(_SD_SFX))
                             .alias("text")))
    batch = odds.unionByName(evens_mut).unionByName(odds_mut)
    dups = incremental_minhash_dedup(batch, index, content_col="text",
                                     threshold=0.5, append=False)
    drop = (dups.filter(F.col("origin") == "corpus")
            .select(F.col("doc_a").alias("doc_id"))
            .unionByName(dups.filter(F.col("origin") == "batch")
                         .select(F.col("doc_b").alias("doc_id")))
            .distinct())
    return batch.select("doc_id").join(drop, "doc_id", "left_anti")


@register(
    "src_orc_roundtrip",
    oracle="SELECT doc_id, source, lang, n_chars FROM documents",
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar round-trip — the second Spark-native columnar
    format besides parquet (S8's re-export family): documents → ORC
    write → schema'd ORC read. Snappy-compressed, predicate-pushdown
    capable like the parquet path; the oracle checks nothing was lost.
    (Avro would need the external spark-avro jar — not in this
    container, so it stays unregistered rather than silently gated.)"""
    docs = load_tables(spark, sf_dir)["documents"] \
        .select("doc_id", "source", "lang", "n_chars")
    path = _scratch("orc_roundtrip")
    docs.write.mode("overwrite").orc(path)
    return spark.read.orc(path).select("doc_id", "source", "lang", "n_chars")


@register(
    "src_schema_evolution",
    oracle="""
    SELECT doc_id, source, NULL::VARCHAR AS lang, NULL::BIGINT AS n_chars,
           'v1' AS batch
    FROM documents
    UNION ALL
    SELECT doc_id, NULL::VARCHAR, lang, n_chars, 'v2' FROM documents
    """,
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet batches written with DIFFERENT
    column sets (v1: doc_id+source; v2: doc_id+lang+n_chars) read back
    as ONE table via `mergeSchema` — the drift every long-lived ingest
    directory accumulates. Missing columns come back NULL per batch; the
    oracle replays the union. Note the scale contract: mergeSchema
    reads every file's footer to union schemas — at 100 TB you pin the
    merged schema explicitly instead (`spark.read.schema(...)`), which
    this query's SELECT also demonstrates by fixing the column order."""
    docs = load_tables(spark, sf_dir)["documents"]
    path = _scratch("schema_evolution")
    (docs.select("doc_id", "source", F.lit("v1").alias("batch"))
     .write.mode("overwrite").parquet(os.path.join(path, "b=1")))
    (docs.select("doc_id", "lang", "n_chars", F.lit("v2").alias("batch"))
     .write.mode("overwrite").parquet(os.path.join(path, "b=2")))
    merged = (spark.read.option("mergeSchema", "true")
              .parquet(os.path.join(path, "b=1"),
                       os.path.join(path, "b=2")))
    return merged.select("doc_id", "source", "lang", "n_chars", "batch")


@register(
    "sink_webdataset_roundtrip",
    oracle="SELECT doc_id, text, lang, source FROM documents",
)
def sink_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard export → streamed re-import
    (`sinks/webdataset.py`): documents written as 8 hash-assigned,
    bit-reproducible `shard-*.tar` files ({key}.txt + {key}.json
    members), read back via `binaryFile` + Arrow member re-grouping.
    The manifest collect is n_shards rows (bounded, cold path); the
    oracle checks the round trip lost nothing — ids, text, and the
    JSON-carried metadata all survive the tar hop."""
    from dig_etl_engine_spark.sinks.webdataset import (
        read_webdataset, write_webdataset)
    docs = load_tables(spark, sf_dir)["documents"]
    path = _scratch("webdataset")
    # r12: no in-path sanity assert (see src_avro_roundtrip) — the
    # oracle's full row-set equality subsumes it, tests/test_io.py pins
    # the manifest counts, and the docs.count() job it cost per run is
    # thrown-away work.
    write_webdataset(docs, path, meta_cols=["lang", "source"], n_shards=8)
    back = read_webdataset(spark, path)
    meta = F.from_json("meta", "lang STRING, source STRING")
    return back.select(
        F.col("key").cast("long").alias("doc_id"), "text",
        meta["lang"].alias("lang"), meta["source"].alias("source"))


def _recover_state(target: str) -> None:
    """Heal the one non-atomic window in :func:`_swap_state`: a crash
    between its two renames leaves ``<target>.old`` holding the only
    copy of the state. Restore it before anything reads ``target``."""
    old = target + ".old"
    if not os.path.isdir(target) and os.path.isdir(old):
        os.rename(old, target)


def _batch_already_applied(target: str, bid: int) -> bool:
    """foreachBatch is at-least-once: after a failure Spark replays the
    last micro-batch, so a non-idempotent fold double-counts it. The
    last-applied batch id is persisted INSIDE the state directory (an
    underscore-prefixed file, invisible to the parquet reader, swapped
    together with the state itself), so replay detection survives
    crashes — the standard foreachBatch idempotence pattern."""
    _recover_state(target)
    try:
        with open(os.path.join(target, "_LAST_BATCH_ID"),
                  encoding="utf-8") as fh:
            return bid <= int(fh.read().strip())
    except (OSError, ValueError):
        return False


def _swap_state(folded: DataFrame, target: str, bid: int) -> None:
    """Write the folded state to ``<target>.next`` (with the applied
    batch id), then swap via rename-aside: the previous state moves to
    ``<target>.old`` BEFORE the new one moves in, so no crash point
    ever leaves zero copies on disk (an rmtree-then-rename swap has a
    window where the only state is gone — the failure class flagged in
    the round-4 tar-sink review). :func:`_recover_state` heals the
    between-renames window on the next call."""
    import shutil

    nxt = target + ".next"
    folded.write.mode("overwrite").parquet(nxt)
    with open(os.path.join(nxt, "_LAST_BATCH_ID"), "w",
              encoding="utf-8") as fh:
        fh.write(str(bid))
    old = target + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(target):
        os.rename(target, old)
    os.rename(nxt, target)
    shutil.rmtree(old, ignore_errors=True)


@register(
    "stream_ohlc_rollup",
    oracle="""
    SELECT user_id,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
           round(arg_min(value, ts), 4) AS open,
           round(MAX(value), 4) AS high,
           round(MIN(value), 4) AS low,
           round(arg_max(value, ts), 4) AS close,
           COUNT(*) AS n,
           {mean_v} AS mean_v
    FROM events GROUP BY 1, 2
    """.format(mean_v=_MEAN_V_SQL),
)
def stream_ohlc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained OHLC rollup under Structured Streaming:
    the event stream drains through `availableNow` micro-batches whose
    foreachBatch computes per-batch MERGEABLE partials — (min/max
    ``struct(ts, id, value)`` for open/close, min/low/max/high, count,
    sum) — and folds them into the persisted rollup via re-aggregation
    + atomic directory swap. The oracle is the GLOBAL one-shot rollup
    (same as `ts_downsample_ohlc`), so the hash match proves the
    incremental merge is batch-boundary-invariant: any micro-batching
    of the stream yields byte-identical dashboards — and the
    `_batch_already_applied` guard makes the fold idempotent under
    at-least-once replay, so the invariance holds across failures too.
    Timestamps ride the JSON hop at explicit microsecond precision."""
    TSFMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    events = load_tables(spark, sf_dir)["events"] \
        .select("event_id", "ts", "user_id", "value")
    root = _scratch("stream_ohlc")
    in_dir = os.path.join(root, "in")
    target = os.path.join(root, "rollup")
    ckpt = os.path.join(root, "ckpt")
    (events.select("event_id", F.date_format("ts", TSFMT).alias("ts"),
                   "user_id", "value")
     .coalesce(4).write.mode("overwrite").json(in_dir))

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])
    keys = ["user_id", "bucket"]

    def merge(batch: DataFrame, bid: int) -> None:
        if _batch_already_applied(target, bid):
            return
        b = batch.select(
            "event_id", F.to_timestamp("ts", TSFMT).alias("ts"),
            "user_id", "value")
        o = F.struct("ts", "event_id", "value")
        part = (b.withColumn(
            "bucket", F.date_format(F.date_trunc("day", "ts"),
                                    "yyyy-MM-dd"))
            .groupBy(*keys)
            .agg(F.min(o).alias("omin"), F.max(o).alias("omax"),
                 F.min("value").alias("low"), F.max("value").alias("high"),
                 F.count(F.lit(1)).alias("n"),
                 F.sum(fixed(F.col("value"), 2)).alias("s")))
        if os.path.exists(os.path.join(target, "_SUCCESS")):
            part = batch.sparkSession.read.parquet(target) \
                .unionByName(part)
        folded = part.groupBy(*keys).agg(
            F.min("omin").alias("omin"), F.max("omax").alias("omax"),
            F.min("low").alias("low"), F.max("high").alias("high"),
            F.sum("n").alias("n"), F.sum("s").alias("s"))
        _swap_state(folded, target, bid)

    # maxFilesPerTrigger=1 → four real micro-batches, so the
    # cross-batch fold (the point of the query) actually executes;
    # availableNow alone would drain everything in one batch
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(in_dir))
    with _stream_parts(spark):
        q = (stream.writeStream.foreachBatch(merge)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    r = spark.read.parquet(target)
    rd = lambda c: F.round(c, 4)  # noqa: E731
    return r.select(
        "user_id", "bucket",
        rd(F.col("omin")["value"]).alias("open"),
        rd("high").alias("high"), rd("low").alias("low"),
        rd(F.col("omax")["value"]).alias("close"),
        "n", round_fixed(F.col("s"), 2, 4, F.col("n")).alias("mean_v"))


@register(
    "stream_kmv_cardinality",
    oracle="""
    WITH e AS (
      SELECT DISTINCT source, substr(md5(text), 1, 16) AS h FROM documents
    ),
    sk AS (
      SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM e)
      WHERE rn <= 16
    ),
    agg AS (
      SELECT source, COUNT(*) AS n_sk, MAX(h) AS kth FROM sk GROUP BY source
    )
    SELECT source, n_sk,
           CASE WHEN n_sk < 16 THEN n_sk::DOUBLE
                ELSE round(15.0 / (('0x' || kth)::UBIGINT::DOUBLE
                                   / 18446744073709551616.0), 4)
           END AS est_distinct
    FROM agg
    """,
)
def stream_kmv_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count via MERGEABLE KMV sketches: each
    micro-batch's per-source bottom-16 md5 hashes fold into the
    persisted sketch (union → re-rank → atomic swap — bottom-k of a
    union IS the union of bottom-ks, the mergeability that makes KMV a
    streaming sketch), then the k-th-smallest-hash estimator
    ``n̂ = (k−1)/U₍ₖ₎`` (Bar-Yossef et al. 2002) reads cardinality off
    the final 16-row-per-source state. The oracle replays the GLOBAL
    sketch + estimator — deterministic because the hash IS the sample —
    so the hash match proves micro-batch folding changes nothing.
    (KMV folding is naturally idempotent — re-unioning the same hashes
    is a no-op — but the `_batch_already_applied` guard still skips
    replayed batches for symmetry and to save the re-rank.) Sketch
    state is k rows per source forever, the entire point at 100 TB."""
    K = 16
    docs = load_tables(spark, sf_dir)["documents"] \
        .select("source", "text")
    root = _scratch("stream_kmv")
    in_dir = os.path.join(root, "in")
    target = os.path.join(root, "sketch")
    ckpt = os.path.join(root, "ckpt")
    docs.coalesce(4).write.mode("overwrite").json(in_dir)

    schema = T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType()),
    ])

    def merge(batch: DataFrame, bid: int) -> None:
        from pyspark.sql import Window as W

        if _batch_already_applied(target, bid):
            return
        part = batch.select(
            "source", F.substring(F.md5("text"), 1, 16).alias("h")) \
            .distinct()
        if os.path.exists(os.path.join(target, "_SUCCESS")):
            part = batch.sparkSession.read.parquet(target) \
                .unionByName(part)
        rn = F.row_number().over(
            W.partitionBy("source").orderBy("h"))
        folded = (part.distinct().withColumn("rn", rn)
                  .filter(F.col("rn") <= K).drop("rn"))
        _swap_state(folded, target, bid)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(in_dir))
    with _stream_parts(spark):
        q = (stream.writeStream.foreachBatch(merge)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    sk = spark.read.parquet(target)
    frac = (F.conv(F.max("h"), 16, 10).cast("decimal(20,0)")
            .cast("double") / F.lit(float(2 ** 64)))
    return (sk.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_sk"), frac.alias("frac"))
            .select("source", "n_sk",
                    F.when(F.col("n_sk") < K,
                           F.col("n_sk").cast("double"))
                    .otherwise(F.round((K - 1) / F.col("frac"), 4))
                    .alias("est_distinct")))


# --- Z-order clustered write -------------------------------------------

_Z_BITS = 4


def _zorder_oracle() -> str:
    from dig_etl_engine_spark.operators.layout import (
        sql_morton_key, sql_quantize_cell)

    cell_ok = sql_quantize_cell("l_orderkey", "lo1", "hi1", _Z_BITS)
    cell_pk = sql_quantize_cell("l_partkey", "lo2", "hi2", _Z_BITS)
    z = sql_morton_key([cell_ok, cell_pk], _Z_BITS)
    return f"""
    WITH b AS (
      SELECT MIN(l_orderkey) AS lo1, MAX(l_orderkey) AS hi1,
             MIN(l_partkey) AS lo2, MAX(l_partkey) AS hi2
      FROM lineitem
    ),
    c AS (
      SELECT {z} AS zcell, l_orderkey, l_partkey,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c
      FROM lineitem, b
    )
    SELECT zcell, COUNT(*) AS n,
           MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
           MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
           CAST(SUM(price_c) AS BIGINT) AS price_c_total
    FROM c GROUP BY zcell
    """


@register("zorder_cluster_write", oracle=_zorder_oracle())
def zorder_cluster_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered parquet write + read-back
    (`operators/layout.py` — capability superset; the reference delegates
    physical layout to ES segments, SURVEY §2.6). `lineitem` is
    re-clustered on the bit-interleave of (l_orderkey, l_partkey) — one
    quantile-sampled range shuffle + in-partition sort — so every output
    file covers a compact bounding box in BOTH key dimensions and footer
    min/max stats prune selective scans on either (the skip-fraction
    proof lives in tests/test_layout_and_bloom.py; this query verifies
    the round trip and the engine-identical cell math). The oracle
    recomputes the Morton cells from the raw table with the same integer
    expression tree — quantization and interleave are pure int64
    arithmetic, so the cell ids are bit-identical cross-engine."""
    from dig_etl_engine_spark.operators.layout import (
        morton_key, quantize_cell, read_zorder_clustered,
        write_zorder_clustered)

    li = load_tables(spark, sf_dir)["lineitem"] \
        .select("l_orderkey", "l_partkey", "l_extendedprice")
    row = li.agg(F.min("l_orderkey").alias("lo1"), F.max("l_orderkey").alias("hi1"),
                 F.min("l_partkey").alias("lo2"), F.max("l_partkey").alias("hi2")
                 ).collect()[0]
    bounds = {"l_orderkey": (row["lo1"], row["hi1"]),
              "l_partkey": (row["lo2"], row["hi2"])}
    path = os.path.join(_scratch("zorder"), "lineitem_z")
    write_zorder_clustered(li, path, ["l_orderkey", "l_partkey"],
                           bits=_Z_BITS, num_files=8, bounds=bounds)

    back = read_zorder_clustered(spark, path)
    cells = [quantize_cell(F.col(c).cast("long"),
                           F.lit(int(bounds[c][0])), F.lit(int(bounds[c][1])),
                           _Z_BITS)
             for c in ("l_orderkey", "l_partkey")]
    return (back.withColumn("zcell", morton_key(cells, _Z_BITS))
            .withColumn("price_c", fixed(F.col("l_extendedprice"), 2))
            .groupBy("zcell")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("l_orderkey").alias("min_ok"),
                 F.max("l_orderkey").alias("max_ok"),
                 F.min("l_partkey").alias("min_pk"),
                 F.max("l_partkey").alias("max_pk"),
                 F.sum("price_c").alias("price_c_total")))
