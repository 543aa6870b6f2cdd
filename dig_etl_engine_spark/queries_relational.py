"""Relational operators: aggregations (SURVEY §2.7 A1–A5), joins (§2.6
J1–J3), top-k / paging (§2.8 Q13), set ops, and last-write-wins upsert
semantics (§2.2 K2, §4 R5).

The reference has no general join and only ES terms-agg facets; Spark gives
the full relational algebra as a capability superset — these queries pin the
semantics the new engine exposes, verified against the DuckDB oracle.

Scale notes: dimension joins (region/nation/supplier) are explicitly
broadcast — at 100 TB the fact side never shuffles for those. Fact-fact
joins (orders⋈lineitem) shuffle on the join key and rely on AQE for skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dig_etl_engine_spark.catalog import load_tables
from dig_etl_engine_spark.functions.exact import (
    fixed, round_fixed, sql_fixed, sql_round_fixed)
from dig_etl_engine_spark.queries import register


# --- A: aggregations ---------------------------------------------------------

_Q1_CENTS = {c: sql_fixed(c, 2) for c in
             ("l_quantity", "l_extendedprice", "l_discount", "l_tax")}

@register(
    "agg_pricing_summary",
    oracle=f"""
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             {_Q1_CENTS['l_quantity']} AS q100,
             {_Q1_CENTS['l_extendedprice']} AS p100,
             {_Q1_CENTS['l_discount']} AS d100,
             {_Q1_CENTS['l_tax']} AS t100
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    ),
    s AS (
      SELECT l_returnflag, l_linestatus,
             SUM(q100) AS sq, SUM(p100) AS sp, SUM(d100) AS sd,
             SUM(p100 * (100 - d100)) AS sdisc,
             SUM(p100 * (100 - d100) * (100 + t100)) AS schg,
             COUNT(*) AS n
      FROM c GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
           {sql_round_fixed('sq', 2, 2)}           AS sum_qty,
           {sql_round_fixed('sp', 2, 2)}           AS sum_base_price,
           {sql_round_fixed('sdisc', 4, 2)}        AS sum_disc_price,
           {sql_round_fixed('schg', 6, 2)}         AS sum_charge,
           {sql_round_fixed('sq', 2, 4, 'n')}      AS avg_qty,
           {sql_round_fixed('sp', 2, 4, 'n')}      AS avg_price,
           {sql_round_fixed('sd', 2, 6, 'n')}      AS avg_disc,
           n                                       AS count_order
    FROM s
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary aggregation (TPC-H Q1 shape): the facet/terms-agg
    family generalized to multi-measure group-by. Reference only has ES
    terms aggs (`sandpaper/sandbox/config/etk/config.json:56-60`); this is
    the Spark-native superset. Partial aggregation (map-side combine) makes
    this a single shuffle of |groups| rows per partition at any scale.

    Hash determinism (wobble lint): all measures are 2-decimal
    fixed-point, so every sum/avg aggregates exact int64 cents —
    disc_price in 1e-4 units, charge in 1e-6 units — and the rounded
    outputs derive by pure integer half-away division
    (`functions/exact.py`). A float SUM/AVG instead accumulates in
    engine order and the group means are small-denominator rationals
    sitting exactly on round boundaries. int64 headroom: the charge
    sum holds ~1.7e16 per 150k-row group at sf0.1 — good to ~sf100
    per group; beyond that lift the two product sums to decimal(38,0)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    q100 = fixed(F.col("l_quantity"), 2)
    p100 = fixed(F.col("l_extendedprice"), 2)
    d100 = fixed(F.col("l_discount"), 2)
    t100 = fixed(F.col("l_tax"), 2)
    n = F.col("n")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(q100).alias("sq"), F.sum(p100).alias("sp"),
             F.sum(d100).alias("sd"),
             F.sum(p100 * (100 - d100)).alias("sdisc"),
             F.sum(p100 * (100 - d100) * (100 + t100)).alias("schg"),
             F.count(F.lit(1)).alias("n"))
        .select(
            "l_returnflag", "l_linestatus",
            round_fixed(F.col("sq"), 2, 2).alias("sum_qty"),
            round_fixed(F.col("sp"), 2, 2).alias("sum_base_price"),
            round_fixed(F.col("sdisc"), 4, 2).alias("sum_disc_price"),
            round_fixed(F.col("schg"), 6, 2).alias("sum_charge"),
            round_fixed(F.col("sq"), 2, 4, n).alias("avg_qty"),
            round_fixed(F.col("sp"), 2, 4, n).alias("avg_price"),
            round_fixed(F.col("sd"), 2, 6, n).alias("avg_disc"),
            F.col("n").alias("count_order"),
        )
    )


@register(
    "facet_terms_agg",
    oracle="""
    SELECT event_type AS facet_value, COUNT(*) AS doc_count
    FROM events GROUP BY event_type
    ORDER BY doc_count DESC, facet_value ASC LIMIT 3
    """,
)
def facet_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 facet group-by (ES terms agg): per-field top-k value counts
    powering UI facets (`type_field_group_by_mappings.json:2-70`). Ties
    broken by value for determinism (ES breaks by term too)."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(F.col("event_type").alias("facet_value"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("facet_value"))
        .limit(3)
    )


@register(
    "tld_stats",
    oracle="""
    SELECT source AS tld, COUNT(*) AS docs,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM documents GROUP BY source
    """,
)
def tld_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 per-TLD document statistics (`docs/index.md:95,106-117`): the
    load-time desired-vs-loaded bookkeeping as one aggregation."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.groupBy(F.col("source").alias("tld"))
        .agg(F.count(F.lit(1)).alias("docs"),
             F.round(F.avg("n_chars"), 4).alias("avg_chars"))
    )


@register(
    "kg_doc_count",
    oracle="SELECT COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_tlds FROM documents",
)
def kg_doc_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 KG doc counts (`docs/index.md:113-125`)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.countDistinct("source").alias("n_tlds"))


@register(
    "temporal_region_minmax",
    oracle="""
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS start_date_time,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS end_date_time,
           COUNT(*) AS n_points
    FROM events GROUP BY user_id
    """,
)
def temporal_region_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 temporal region min/max per series (`ts_converter.py:173-179,
    198-208`): the Measure doc's temporal_region computed as one agg."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("user_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("start_date_time"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("end_date_time"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


@register(
    "facet_rollup",
    oracle="""
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(CAST(user_id % 10 AS VARCHAR), 'ALL') AS user_bucket,
           COUNT(*) AS doc_count, ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY ROLLUP(event_type, CAST(user_id % 10 AS VARCHAR))
    """,
)
def facet_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 superset: hierarchical facet counts via ROLLUP (SURVEY §2.7 notes
    Spark grants cube/rollup free — exposed in the facet API)."""
    ev = load_tables(spark, sf_dir)["events"]
    bucket = (F.col("user_id") % 10).cast("string")
    return (
        ev.withColumn("user_bucket", bucket)
        .rollup("event_type", "user_bucket")
        .agg(F.count(F.lit(1)).alias("doc_count"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("user_bucket"), F.lit("ALL")).alias("user_bucket"),
            "doc_count", "sum_value",
        )
    )


# --- J: joins ----------------------------------------------------------------

@register(
    "join_top_orders",
    oracle="""
    SELECT o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           c.c_mktsegment,
           (CAST((CASE WHEN (SUM(CAST(floor((l.l_extendedprice) * 100 + 0.5) AS BIGINT) * (100 - CAST(floor((l.l_discount) * 100 + 0.5) AS BIGINT)))) < 0 THEN -((2 * abs((SUM(CAST(floor((l.l_extendedprice) * 100 + 0.5) AS BIGINT) * (100 - CAST(floor((l.l_discount) * 100 + 0.5) AS BIGINT))))) + (100 * (1))) // (2 * (100 * (1)))) ELSE ((2 * abs((SUM(CAST(floor((l.l_extendedprice) * 100 + 0.5) AS BIGINT) * (100 - CAST(floor((l.l_discount) * 100 + 0.5) AS BIGINT))))) + (100 * (1))) // (2 * (100 * (1)))) END) AS DOUBLE) / 100.0) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate, c.c_mktsegment
    ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
    """,
)
def join_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3 + Q13: equi-join chain with top-k ranking. The reference
    answers cross-entity questions only by denormalization
    (`generate_mydig_config.py:467-516`); real joins are the Spark
    superset. Filter on the dimension side is pushed below the join."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey",
                 F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                 "c_mktsegment")
        .agg(F.sum(fixed(F.col("l_extendedprice"), 2)
                   * (100 - fixed(F.col("l_discount"), 2))).alias("_rev4"))
        .withColumn("revenue", round_fixed(F.col("_rev4"), 4, 2))
        .drop("_rev4")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "join_region_revenue",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           (CAST((CASE WHEN (SUM(CAST(floor((l.l_extendedprice) * 100 + 0.5) AS BIGINT) * (100 - CAST(floor((l.l_discount) * 100 + 0.5) AS BIGINT)))) < 0 THEN -((2 * abs((SUM(CAST(floor((l.l_extendedprice) * 100 + 0.5) AS BIGINT) * (100 - CAST(floor((l.l_discount) * 100 + 0.5) AS BIGINT))))) + (100 * (1))) // (2 * (100 * (1)))) ELSE ((2 * abs((SUM(CAST(floor((l.l_extendedprice) * 100 + 0.5) AS BIGINT) * (100 - CAST(floor((l.l_discount) * 100 + 0.5) AS BIGINT))))) + (100 * (1))) // (2 * (100 * (1)))) END) AS DOUBLE) / 100.0) AS revenue,
           COUNT(DISTINCT o.o_orderkey) AS n_orders
    FROM region r
      JOIN nation n    ON n.n_regionkey = r.r_regionkey
      JOIN customer c  ON c.c_nationkey = n.n_nationkey
      JOIN orders o    ON o.o_custkey   = c.c_custkey
      JOIN lineitem l  ON l.l_orderkey  = o.o_orderkey
    GROUP BY r.r_name, n.n_name
    """,
)
def join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 multi-way star join: dims region/nation broadcast explicitly
    (never shuffle the fact side for a 25-row dim at any scale)."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(fixed(F.col("l_extendedprice"), 2)
                  * (100 - fixed(F.col("l_discount"), 2))).alias("_rev4"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .withColumn("revenue", round_fixed(F.col("_rev4"), 4, 2))
        .select("region", "nation", "revenue", "n_orders")
    )


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderstatus AS status,
           (CAST((CASE WHEN (SUM(CAST(floor((l.l_extendedprice) * 100 + 0.5) AS BIGINT) * (100 - CAST(floor((l.l_discount) * 100 + 0.5) AS BIGINT)))) < 0 THEN -((2 * abs((SUM(CAST(floor((l.l_extendedprice) * 100 + 0.5) AS BIGINT) * (100 - CAST(floor((l.l_discount) * 100 + 0.5) AS BIGINT))))) + (100 * (1))) // (2 * (100 * (1)))) ELSE ((2 * abs((SUM(CAST(floor((l.l_extendedprice) * 100 + 0.5) AS BIGINT) * (100 - CAST(floor((l.l_discount) * 100 + 0.5) AS BIGINT))))) + (100 * (1))) // (2 * (100 * (1)))) END) AS DOUBLE) / 100.0) AS revenue,
           COUNT(*) AS n_items
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join (SURVEY §4 "bucketing for co-located
    joins"): orders and lineitem are materialized bucketed+sorted on the
    order key (8 buckets), then joined — with both sides carrying the same
    hash layout the sort-merge join needs NO exchange (pinned by
    `test_plan_quality.py::test_bucketed_join_has_no_exchange`). The
    recurring-join pattern for the KG doc table ⋈ long index table at
    100 TB: pay the bucket shuffle once at write, never at query."""
    import os as _os
    from dig_etl_engine_spark.catalog import materialize_bucketed
    from dig_etl_engine_spark.queries_io import _scratch

    t = load_tables(spark, sf_dir)
    root = _scratch("bucketed")
    o = materialize_bucketed(spark, t["orders"], "bkt_orders", "o_orderkey",
                             buckets=8, path=_os.path.join(root, "orders"))
    l = materialize_bucketed(spark, t["lineitem"], "bkt_lineitem",
                             "l_orderkey", buckets=8,
                             path=_os.path.join(root, "lineitem"))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.sum(fixed(F.col("l_extendedprice"), 2)
                  * (100 - fixed(F.col("l_discount"), 2))).alias("_rev4"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .withColumn("revenue", round_fixed(F.col("_rev4"), 4, 2))
        .select("status", "revenue", "n_items")
    )


@register(
    "join_salted_skew",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT event_type, length(event_type) AS w FROM events
    )
    SELECT e.event_type,
           ROUND(SUM(e.value * d.w), 2) AS weighted_value,
           COUNT(*) AS n
    FROM events e JOIN dim d USING (event_type)
    GROUP BY e.event_type
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join (capability superset; SURVEY §2.6 — the
    reference has no join operator at all): `event_type` is a classic hot
    key (a handful of values over the whole fact table), so the fact side
    is salted into 8 deterministic sub-keys and the dim replicated ×8 —
    each hot key spreads over 8 shuffle partitions instead of one
    straggler task. Row-identical to the plain join, which the oracle
    states."""
    from dig_etl_engine_spark.operators.skew import salted_join

    ev = load_tables(spark, sf_dir)["events"]
    dim = (ev.select("event_type").distinct()
           .withColumn("w", F.length("event_type")))
    joined = salted_join(ev.select("event_type", "event_id", "value"), dim,
                         on="event_type", salt_from="event_id", buckets=8)
    return joined.groupBy("event_type").agg(
        F.round(F.sum(F.col("value") * F.col("w")), 2).alias("weighted_value"),
        F.count(F.lit(1)).alias("n"))


@register(
    "join_indexing_denorm",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           c.c_name AS customer__name,
           c.c_mktsegment AS customer__mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 300000
    """,
)
def join_indexing_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 `join_indexing` denormalization: child-object values copied onto
    the parent as `{child}__{field}` columns so the parent is searchable by
    child attrs (`generate_mydig_config.py:467-516`, flag in
    `utilities/tests/test_data/test_mapping.json`)."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"].filter(F.col("o_totalprice") > 300000)
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "o_orderkey", "o_orderstatus",
            F.col("c_name").alias("customer__name"),
            F.col("c_mktsegment").alias("customer__mktsegment"),
        )
    )


@register(
    "semi_anti_join",
    oracle="""
    SELECT 'with_orders' AS bucket, COUNT(*) AS n FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders' AS bucket, COUNT(*) AS n FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 superset: EXISTS/NOT EXISTS as left-semi / left-anti joins."""
    t = load_tables(spark, sf_dir)
    cust, orders = t["customer"], t["orders"]
    on = cust["c_custkey"] == orders["o_custkey"]
    semi = cust.join(orders, on, "left_semi").agg(F.count(F.lit(1)).alias("n")) \
               .select(F.lit("with_orders").alias("bucket"), "n")
    anti = cust.join(orders, on, "left_anti").agg(F.count(F.lit(1)).alias("n")) \
               .select(F.lit("without_orders").alias("bucket"), "n")
    return semi.unionByName(anti)


@register(
    "union_by_name",
    oracle="""
    SELECT doc_id, text, lang, NULL AS event_type FROM documents WHERE lang = 'fr'
    UNION ALL BY NAME
    SELECT event_id AS doc_id, props AS text, NULL AS lang, event_type
    FROM events WHERE event_type = 'signup' AND event_id < 100
    """,
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dataset union (SURVEY §2.8 note): the reference merges datasets
    by writing to one index (F1 demux + K2); Spark equivalent is
    `unionByName(allowMissingColumns=True)` with schema reconciliation."""
    t = load_tables(spark, sf_dir)
    a = t["documents"].filter(F.col("lang") == "fr").select("doc_id", "text", "lang")
    b = (t["events"].filter((F.col("event_type") == "signup") & (F.col("event_id") < 100))
         .select(F.col("event_id").alias("doc_id"), F.col("props").alias("text"),
                 "event_type"))
    return a.unionByName(b, allowMissingColumns=True)


# --- Q13: top-k / paging, K2/R5: last-write-wins upsert -----------------------

@register(
    "topk_paging",
    oracle="""
    SELECT * FROM (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn BETWEEN 11 AND 20
    """,
)
def topk_paging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 top-k retrieval with `from`/`size` paging (ES paging via DIG UI,
    `nginx/sandbox/conf.d/dig.conf:95-104`): offset paging = row_number
    window. Note: a global row_number is single-partition — fine for top
    pages; deep paging at scale should keyset-paginate instead (see
    `topk_keyset_page`)."""
    orders = load_tables(spark, sf_dir)["orders"]
    w = W.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.select("o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn").between(11, 20))
    )


@register(
    "topk_keyset_page",
    oracle="""
    WITH last_seen AS (
      SELECT o_totalprice AS p, o_orderkey AS k FROM (
        SELECT o_totalprice, o_orderkey,
               ROW_NUMBER() OVER (ORDER BY o_totalprice DESC,
                                  o_orderkey ASC) AS rn
        FROM orders
      ) WHERE rn = 10
    )
    SELECT o_orderkey, o_totalprice
    FROM orders, last_seen
    WHERE o_totalprice < last_seen.p
       OR (o_totalprice = last_seen.p AND o_orderkey > last_seen.k)
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def topk_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 deep-paging superset: keyset (seek) pagination. Offset paging
    (`topk_paging`) needs a single-partition global row_number — O(offset)
    and a straggler at 100 TB. Keyset keeps the cursor (last row's sort
    key) client-side and pages with a pushdown-able range predicate +
    top-k: every page is the same O(k) scan-and-limit, no window, no
    global sort of skipped rows. Page 2 here must equal offset rows
    11-20 of the total (o_totalprice DESC, o_orderkey ASC) order."""
    orders = load_tables(spark, sf_dir)["orders"]
    page1 = (orders.select("o_orderkey", "o_totalprice")
             .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
             .limit(10).collect())
    last = page1[-1]
    cursor = (F.col("o_totalprice") < last.o_totalprice) | (
        (F.col("o_totalprice") == last.o_totalprice)
        & (F.col("o_orderkey") > last.o_orderkey))
    return (orders.select("o_orderkey", "o_totalprice")
            .filter(cursor)
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(10))


@register(
    "upsert_last_write_wins",
    oracle="""
    SELECT user_id, event_type, value, event_id FROM (
      SELECT user_id, event_type, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def upsert_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/R5 ES upsert semantics: `document_id => %{doc_id}` makes the last
    write win (`manager.py:217`). Reproduced as offset-ordered row_number
    before MERGE (SURVEY §4 R5) — here user_id plays doc_id and event_id
    plays the kafka offset. Shuffles once on the key; at 100 TB this is the
    same partitioning the MERGE itself needs, so it amortizes."""
    ev = load_tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy(F.desc("event_id"))
    return (
        ev.select("user_id", "event_type", "value", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "upsert_partitioned_merge",
    oracle="""
    SELECT user_id, event_type, value, event_id FROM (
      SELECT user_id, event_type, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def upsert_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 at 100 TB shape (`sinks/kg_table.py:upsert_partitioned`): the
    events table is split into two halves and merged into a hash-bucket-
    partitioned KG table in two batches — only the partitions a batch
    touches are rewritten, one file per bucket, under one manifest
    commit. The final table
    must equal the one-shot relational last-write-wins, which the oracle
    states."""
    import os as _os
    from dig_etl_engine_spark.queries_io import _scratch
    from dig_etl_engine_spark.sinks.kg_table import (
        read_partitioned, upsert_partitioned)

    ev = load_tables(spark, sf_dir)["events"] \
        .select("user_id", "event_type", "value", "event_id")
    target = _os.path.join(_scratch("upsert_part"), "kg")
    half = ev.filter(F.col("event_id") % 2 == 0)
    upsert_partitioned(spark, target, half, key_col="user_id",
                       order_col="event_id", buckets=16)
    upsert_partitioned(spark, target,
                       ev.filter(F.col("event_id") % 2 == 1),
                       key_col="user_id", order_col="event_id", buckets=16)
    return read_partitioned(spark, target)


@register(
    "sessionize_events",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, ts, event_type,
             -- CAST: DuckDB windowed SUM yields HUGEINT (int128) which Arrow
             -- materializes as float64; Spark emits int64 — typed hash would
             -- mismatch on every row without the cast (registry convention).
             CAST(SUM(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS BIGINT)
               AS session_id
      FROM ordered
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization — gap-based session assignment (30-minute timeout)
    per user over the event stream, the standard clickstream/telemetry
    operator the reference's incremental loop cannot express.

    Shape: ONE shuffle on user_id serves both window passes (lag + running
    sum share the partition ordering) and the final per-session
    aggregation — Catalyst reuses the partitioning, so sessionizing 100 TB
    of events costs one exchange. Ties broken by event_id so the session
    boundaries are deterministic.

    The gap is a native timestamp subtraction (day-time interval, full
    microsecond precision), not a seconds cast: event timestamps carry
    sub-second components, and a gap within ±1 s of the 1800 s threshold
    would otherwise flip session assignment relative to the oracle's
    INTERVAL comparison. Interval subtraction also works on TIMESTAMP_NTZ
    without a session-timezone-dependent cast."""
    events = load_tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    new_sess = F.when(
        gap.isNull() | (gap > F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    sess = (events
            .withColumn("new_sess", new_sess)
            .withColumn("session_id",
                        F.sum("new_sess").over(
                            w.rowsBetween(W.unboundedPreceding, 0))))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss")
                 .alias("session_start"),
                 F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss")
                 .alias("session_end")))


@register(
    "corpus_length_profile",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           ROUND(quantile_cont(n_chars, 0.5), 4) AS median_chars,
           ROUND(quantile_cont(n_chars, 0.95), 4) AS p95_chars
    FROM documents
    GROUP BY lang
    """,
)
def corpus_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus length profile with EXACT interpolated
    percentiles (training-mix design needs real p50/p95, not sketches;
    `approx_percentile` would not be engine-reproducible). Spark's
    `percentile` and DuckDB's `quantile_cont` both use linear
    interpolation, so the values agree to rounding. One partial-agg
    shuffle on lang."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (docs.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars"),
                 F.round(F.percentile("n_chars", F.lit(0.5)), 4)
                 .alias("median_chars"),
                 F.round(F.percentile("n_chars", F.lit(0.95)), 4)
                 .alias("p95_chars")))


@register(
    "join_asof_rates",
    oracle="""
    WITH rates AS (
      SELECT event_type, ts, ROUND(value, 4) AS rate
      FROM events WHERE event_id % 97 = 0
    ),
    ev AS (SELECT event_id, event_type, ts FROM events)
    SELECT ev.event_id, ev.event_type,
           strftime(ev.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           r.rate AS rate_asof,
           strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS ts_asof
    FROM ev ASOF LEFT JOIN rates r
      ON ev.event_type = r.event_type AND ev.ts >= r.ts
    """,
)
def join_asof_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: every event gets the most recent rate
    row (derived from every 97th event) at or before its timestamp —
    NULL before the first rate. The Spark side is the union+window
    carry-forward shape (`operators/asof.py` — one shuffle, no per-key
    cartesian); the oracle is DuckDB's native ASOF LEFT JOIN, so the
    semantics including the ≤-tie ('a rate taking effect at exactly the
    event instant is visible') are checked against an independent
    implementation."""
    from dig_etl_engine_spark.operators.asof import asof_join

    events = load_tables(spark, sf_dir)["events"]
    rates = (events.filter(F.col("event_id") % 97 == 0)
             .select("event_type", "ts", F.round("value", 4).alias("rate")))
    ev = events.select("event_id", "event_type", "ts")
    joined = asof_join(ev, rates, on="ts", by="event_type",
                       value_cols=["rate"])
    return joined.select(
        "event_id", "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.col("rate_asof"),
        F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss").alias("ts_asof"))


# Single source of truth for the pivot/unpivot pair and both oracles:
# add a sixth event type HERE (and in the two oracle strings) only.
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click') AS click,
           COUNT(*) FILTER (event_type = 'error') AS error,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup') AS signup,
           COUNT(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): per-user event-type count matrix. The pivot
    values are EXPLICIT — with an inferred value set Spark runs an extra
    collect-distinct job and the output schema depends on the data, which
    breaks plan caching and schema contracts at scale."""
    events = load_tables(spark, sf_dir)["events"]
    return (events.groupBy("user_id")
            .pivot("event_type", _EVENT_TYPES)
            .count()
            .na.fill(0, _EVENT_TYPES))


@register(
    "join_range_bands",
    oracle="""
    WITH bands AS (
      SELECT i AS band_id, i * 5.0 AS lo, i * 5.0 + 8.0 AS hi
      FROM range(0, 99) t(i)
    )
    SELECT e.event_id, b.band_id, ROUND(e.value, 4) AS value
    FROM events e JOIN bands b
      ON e.value >= b.lo AND e.value < b.hi
    """,
)
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: events matched to OVERLAPPING value bands
    ([i·5, i·5+8) — a point can hit two bands), via the bucketed
    equi-join shape (`operators/range_join.py`): intervals explode into
    the width-5 buckets they span, points land in one bucket, exact
    containment re-checked post-join. A plain inequality join here plans
    as a broadcast-nested-loop — O(|P|·|R|) — which the oracle happily
    uses at sf0.01 but which is exactly what this operator avoids at
    scale."""
    from dig_etl_engine_spark.operators.range_join import range_join

    events = load_tables(spark, sf_dir)["events"]
    bands = spark.range(0, 99).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id") * 5.0).alias("lo"),
        (F.col("id") * 5.0 + 8.0).alias("hi"))
    joined = range_join(events.select("event_id", "value"), bands,
                        point_col="value", lo_col="lo", hi_col="hi",
                        bucket_width=5.0)
    return joined.select("event_id", "band_id",
                         F.round("value", 4).alias("value"))


# --- Unpivot (melt) ----------------------------------------------------------

@register(
    "unpivot_event_counts",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`unpivot` (melt) — the inverse of `pivot_event_counts`: the wide
    per-user crosstab back to long form, proving pivot∘unpivot is
    lossless. Zero-count cells (which only the wide form materializes,
    via its `na.fill(0)`) are filtered out so the round-trip equals the
    plain long group-by. Unpivot itself is a narrow generator over the
    wide table — no shuffle beyond the pivot's own."""
    wide = pivot_event_counts(spark, sf_dir)
    long = wide.unpivot("user_id", _EVENT_TYPES, "event_type", "n")
    return long.filter(F.col("n") > 0).select("user_id", "event_type", "n")


@register(
    "key_skew_profile",
    oracle="""
    WITH c AS (
      SELECT user_id AS k, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    t AS (
      SELECT SUM(n) AS top_n FROM (
        SELECT n FROM c ORDER BY n DESC, k ASC LIMIT 5)
    )
    SELECT COUNT(*)::BIGINT AS n_keys,
           SUM(c.n)::BIGINT AS n_rows,
           MAX(c.n)::BIGINT AS max_n,
           round(quantile_cont(c.n, 0.5), 4) AS p50_n,
           round(quantile_cont(c.n, 0.99), 4) AS p99_n,
           round(ANY_VALUE(t.top_n)::DOUBLE / SUM(c.n), 6) AS top_share
    FROM c CROSS JOIN t
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (`operators/skew.py:key_skew_profile`)
    over events.user_id: per-key counts → one summary row with exact
    p50/p99 per-key cardinality and the row share of the 5 heaviest
    keys — the measurement that decides between a plain shuffle join,
    `join_salted_skew`'s salting, or AQE skew-join before a 100 TB run.
    Same shuffle the join would do but carrying only (key, count);
    heavy-hitter total via TakeOrderedAndProject, never a global
    window sort."""
    from dig_etl_engine_spark.operators.skew import key_skew_profile as prof
    ev = load_tables(spark, sf_dir)["events"]
    return prof(ev, "user_id", top_k=5)


@register(
    "join_interval_overlap",
    oracle="""
    WITH a AS (
      SELECT event_id AS a_id, value AS a_lo, value + 2.0 AS a_hi
      FROM events WHERE event_type = 'purchase' AND user_id % 20 = 0
    ),
    b AS (
      SELECT event_id AS b_id, value * 1.1 AS b_lo, value * 1.1 + 3.0 AS b_hi
      FROM events WHERE event_type = 'signup' AND user_id % 20 = 1
    )
    SELECT a_id, b_id,
           round(GREATEST(a_lo, b_lo), 4) AS overlap_lo,
           round(LEAST(a_hi, b_hi), 4) AS overlap_hi
    FROM a, b WHERE a_lo < b_hi AND b_lo < a_hi
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (`operators/range_join.py:
    interval_overlap_join`): two event-derived interval sets joined on
    intersection via double-sided bucket fan-out + canonical-bucket
    exactly-once emission — the oracle is the plain O(n²) predicate
    join. Bucket width 4.0 ≈ the larger interval width keeps fan-out
    ≤ 2 rows per interval."""
    from dig_etl_engine_spark.operators.range_join import (
        interval_overlap_join)
    ev = load_tables(spark, sf_dir)["events"]
    a = (ev.filter((F.col("event_type") == "purchase")
                   & (F.col("user_id") % 20 == 0))
         .select(F.col("event_id").alias("a_id"),
                 F.col("value").alias("a_lo"),
                 (F.col("value") + 2.0).alias("a_hi")))
    b = (ev.filter((F.col("event_type") == "signup")
                   & (F.col("user_id") % 20 == 1))
         .select(F.col("event_id").alias("b_id"),
                 (F.col("value") * 1.1).alias("b_lo"),
                 (F.col("value") * 1.1 + 3.0).alias("b_hi")))
    j = interval_overlap_join(a, b, lo_cols=("a_lo", "b_lo"),
                              hi_cols=("a_hi", "b_hi"), bucket_width=4.0)
    return j.select("a_id", "b_id",
                    F.round(F.greatest("a_lo", "b_lo"), 4)
                    .alias("overlap_lo"),
                    F.round(F.least("a_hi", "b_hi"), 4).alias("overlap_hi"))


@register(
    "facet_cube",
    oracle="""
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(CAST(user_id % 10 AS VARCHAR), 'ALL') AS user_bucket,
           COUNT(*) AS doc_count, ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY CUBE(event_type, CAST(user_id % 10 AS VARCHAR))
    """,
)
def facet_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 superset, completing `facet_rollup`: CUBE emits ALL grouping
    combinations (including per-bucket-across-types marginals the
    rollup hierarchy skips) in ONE pass — Spark expands the grouping
    sets map-side, so the shuffle carries one partial row per (group,
    combination), never a per-combination rescan of the facts."""
    ev = load_tables(spark, sf_dir)["events"]
    bucket = (F.col("user_id") % 10).cast("string")
    return (
        ev.withColumn("user_bucket", bucket)
        .cube("event_type", "user_bucket")
        .agg(F.count(F.lit(1)).alias("doc_count"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("user_bucket"), F.lit("ALL")).alias("user_bucket"),
            "doc_count", "sum_value",
        )
    )


@register(
    "value_histogram",
    oracle="""
    SELECT event_type,
           CAST(floor(value / 25.0) AS BIGINT) AS bin,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram per facet — the distribution summary
    behind every dashboard panel: floor-bucketing is pure column math
    inside the scan, and the aggregation is one map-side-combined
    shuffle of (type, bin) partials — at 100 TB the shuffle carries
    |types|×|bins| rows per partition, nothing else."""
    ev = load_tables(spark, sf_dir)["events"]
    return (ev.groupBy(
        "event_type",
        F.floor(F.col("value") / 25.0).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n")))


@register(
    "er_fuzzy_link",
    oracle="""
    WITH mut AS (
      SELECT c_custkey + 1000000 AS q_id,
             substr(c_name, 1, 4) || '0' || substr(c_name, 6) AS q_name,
             substr(c_name, 16, 3) AS blk
      FROM customer WHERE c_custkey % 3 = 0
    ),
    cand AS (
      SELECT m.q_id, m.q_name, c.c_custkey, c.c_name,
             levenshtein(m.q_name, c.c_name) AS distance
      FROM mut m JOIN customer c ON substr(c.c_name, 16, 3) = m.blk
    )
    SELECT q_id, c_custkey AS matched_id, distance
    FROM cand WHERE distance <= 1
    """,
)
def er_fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (entity resolution) with n-char blocking + edit
    distance — the classic two-stage shape: a cheap BLOCK key (here a
    fixed name suffix the planted typo never touches) turns the O(n²)
    all-pairs comparison into an equi-join with ~|block| candidates,
    then native `levenshtein` (JVM-side in Spark, identical edit
    distance in DuckDB) confirms real matches. Query corpus = every
    third customer with a planted 'o'→'0' typo; threshold 1 keeps
    exactly the true originals (block siblings differ by the typo PLUS
    at least one digit → distance ≥ 2). At 100 TB the block join
    shuffles only (block, name) pairs and candidate counts stay
    |block|-bounded — the recall/cost dial is the block key length,
    documented rather than hidden."""
    cust = load_tables(spark, sf_dir)["customer"]
    mut = (cust.filter(F.col("c_custkey") % 3 == 0)
           .select((F.col("c_custkey") + 1000000).alias("q_id"),
                   F.concat(F.substring("c_name", 1, 4), F.lit("0"),
                            F.substring("c_name", 6, 13)).alias("q_name"),
                   F.substring("c_name", 16, 3).alias("blk")))
    cand = mut.join(
        cust.select("c_custkey", "c_name",
                    F.substring("c_name", 16, 3).alias("blk")), "blk")
    dist = F.levenshtein("q_name", "c_name")
    return (cand.filter(dist <= 1)
            .select("q_id", F.col("c_custkey").alias("matched_id"),
                    dist.alias("distance")))


@register(
    "facet_top_docs",
    oracle="""
    SELECT event_type, event_id, round(value, 4) AS value, rk
    FROM (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value DESC, event_id ASC) AS rk
      FROM events)
    WHERE rk <= 3
    """,
)
def facet_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (the ES 'top hits per facet' aggregation): the
    3 highest-value events per type via a per-partition rank window —
    ties broken by id for determinism. One exchange keyed on the facet;
    at 100 TB a heavy facet's partition sorts only ITS rows, and a
    two-stage salted pre-rank (the `kmv_sketches` prefilter pattern)
    bounds even that if one facet dominates."""
    ev = load_tables(spark, sf_dir)["events"]
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(F.desc("value"),
                                            F.asc("event_id")))
    return (ev.select("event_type", "event_id",
                      F.round("value", 4).alias("value"),
                      rk.alias("rk"))
            .filter(F.col("rk") <= 3))


@register(
    "window_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT u.user_id,
           CASE WHEN s3.t3 IS NOT NULL THEN 3
                WHEN s2.t2 IS NOT NULL THEN 2
                WHEN s1.t1 IS NOT NULL THEN 1
                ELSE 0 END AS funnel_level
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    """,
)
def window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel (the ClickHouse `windowFunnel`
    shape): per user, the deepest prefix of view → click → purchase
    reached IN ORDER — each step's timestamp must strictly follow the
    previous step's FIRST occurrence (min-after-min semantics: the
    greedy chain anchored at the earliest step-1 event). Three
    user-keyed aggregations, each a map-side-combined groupBy + a
    narrow per-user join — no window sort over the raw event stream,
    and every shuffle carries one row per user."""
    ev = load_tables(spark, sf_dir)["events"]
    users = ev.select("user_id").distinct()
    s1 = (ev.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("t1")))
    s2 = (ev.filter(F.col("event_type") == "click")
          .join(s1, "user_id").filter(F.col("ts") > F.col("t1"))
          .groupBy("user_id").agg(F.min("ts").alias("t2")))
    s3 = (ev.filter(F.col("event_type") == "purchase")
          .join(s2, "user_id").filter(F.col("ts") > F.col("t2"))
          .groupBy("user_id").agg(F.min("ts").alias("t3")))
    return (users.join(s1, "user_id", "left")
            .join(s2, "user_id", "left")
            .join(s3, "user_id", "left")
            .select("user_id",
                    F.when(F.col("t3").isNotNull(), 3)
                    .when(F.col("t2").isNotNull(), 2)
                    .when(F.col("t1").isNotNull(), 1)
                    .otherwise(0).alias("funnel_level")))


@register(
    "retention_cohorts",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ),
    cohort AS (SELECT user_id, MIN(wk) AS wk0 FROM act GROUP BY user_id)
    SELECT strftime(c.wk0, '%Y-%m-%d') AS cohort_week,
           CAST((a.wk - c.wk0) / 7 AS BIGINT) AS weeks_later,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM act a JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the other canonical product-analytics
    rollup: users grouped by first-active week, counted in every later
    week they return. One distinct (user, week) pass, one per-user min
    (the cohort), one join back, one count-distinct rollup — every
    shuffle keyed on user or (cohort, offset), all map-side-combined;
    the matrix itself is |weeks|² rows."""
    ev = load_tables(spark, sf_dir)["events"]
    act = (ev.select("user_id",
                     F.to_date(F.date_trunc("week", "ts")).alias("wk"))
           .distinct())
    cohort = act.groupBy("user_id").agg(F.min("wk").alias("wk0"))
    return (act.join(cohort, "user_id")
            .groupBy(F.date_format("wk0", "yyyy-MM-dd")
                     .alias("cohort_week"),
                     (F.datediff("wk", "wk0") / 7).cast("long")
                     .alias("weeks_later"))
            .agg(F.countDistinct("user_id").alias("n_users")))


@register(
    "session_path_analysis",
    oracle="""
    WITH paths AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM events GROUP BY 1, 2
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path ASC LIMIT 10
    """,
)
def session_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the 10 most common full event-type
    sequences across (user, day) sessions — the 'what do users actually
    do' query behind every product-flow diagram. Within-session order
    is pinned by (ts, event_id), so the path string is deterministic;
    sessions aggregate with ONE user-day-keyed shuffle (each group
    sorts only its own handful of events inside the aggregate — never
    a global sort), paths count with a second map-side-combined
    shuffle, and top-10 is TakeOrderedAndProject."""
    ev = load_tables(spark, sf_dir)["events"]
    path = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"]), ">")
    paths = (ev.groupBy("user_id", F.to_date(F.date_trunc("day", "ts"))
                        .alias("d"))
             .agg(path.alias("path")))
    return (paths.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_sessions"))
            .orderBy(F.desc("n_sessions"), F.asc("path")).limit(10))


@register(
    "correlation_matrix",
    oracle=f"""
    WITH c AS (
      SELECT {sql_fixed('l_quantity', 2)} AS q,
             {sql_fixed('l_extendedprice', 2)} AS p,
             {sql_fixed('l_discount', 2)} AS d,
             {sql_fixed('l_tax', 2)} AS t
      FROM lineitem
    ),
    s AS (
      SELECT COUNT(*) AS n,
             SUM(q) AS sq, SUM(p) AS sp, SUM(d) AS sd, SUM(t) AS st,
             SUM(q*q) AS sqq, SUM(p*p) AS spp, SUM(d*d) AS sdd,
             SUM(t*t) AS stt, SUM(q*p) AS sqp, SUM(q*d) AS sqd,
             SUM(p*d) AS spd, SUM(p*t) AS spt
      FROM c
    ),
    dd AS (
      SELECT CAST(n AS DOUBLE) AS nd,
             CAST(sq AS DOUBLE) AS sq, CAST(sp AS DOUBLE) AS sp,
             CAST(sd AS DOUBLE) AS sd, CAST(st AS DOUBLE) AS st,
             CAST(sqq AS DOUBLE) AS sqq, CAST(spp AS DOUBLE) AS spp,
             CAST(sdd AS DOUBLE) AS sdd, CAST(stt AS DOUBLE) AS stt,
             CAST(sqp AS DOUBLE) AS sqp, CAST(sqd AS DOUBLE) AS sqd,
             CAST(spd AS DOUBLE) AS spd, CAST(spt AS DOUBLE) AS spt
      FROM s
    )
    SELECT
      CAST(floor((nd * sqp - sq * sp)
            / (sqrt(nd * sqq - sq * sq) * sqrt(nd * spp - sp * sp))
            * 10000.0 + 0.5) AS BIGINT)
        AS qty_price_e4,
      CAST(floor((nd * sqd - sq * sd)
            / (sqrt(nd * sqq - sq * sq) * sqrt(nd * sdd - sd * sd))
            * 10000.0 + 0.5) AS BIGINT)
        AS qty_disc_e4,
      CAST(floor((nd * spd - sp * sd)
            / (sqrt(nd * spp - sp * sp) * sqrt(nd * sdd - sd * sd))
            * 10000.0 + 0.5) AS BIGINT)
        AS price_disc_e4,
      CAST(floor((nd * spt - sp * st)
            / (sqrt(nd * spp - sp * sp) * sqrt(nd * stt - st * st))
            * 10000.0 + 0.5) AS BIGINT)
        AS price_tax_e4
    FROM dd
    """,
)
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations across the fact measures in ONE
    aggregation pass — the EDA matrix behind feature selection. Sums of
    products are map-side combined: one shuffle of a handful of scalars
    for the whole matrix, never a per-pair rescan.

    Hash determinism (wobble lint): the native `corr` accumulates
    doubles in engine order; here every accumulator is an EXACT integer
    sum over 2-decimal fixed-point cents (squares/products ride
    decimal(38,0) in Spark / HUGEINT in DuckDB — p² sums pass int64 at
    ~6e19 already at sf0.1), and the Pearson closed form
    ``(n·Sxy − Sx·Sy)/(√(n·Sxx−Sx²)·√(n·Syy−Sy²))`` evaluates per-row
    in doubles with the identical expression tree in the oracle. corr
    is scale-invariant, so cents-corr ≡ unit-corr exactly. The outputs
    emit as 1e-4-scaled BIGINTs via the explicit floor(r·1e4 + 0.5)
    tree in both engines (continuous-round lint, r8): an irrational
    value never SITS on a boundary, but Spark's BigDecimal HALF_UP and
    DuckDB's multiply-first round() can still disagree on doubles
    whose exact expansion crowds one — the scaled-integer tree is the
    same correctly-rounded multiply+add+floor in both engines, so
    identical bits in give identical integers out."""
    li = load_tables(spark, sf_dir)["lineitem"]
    q = fixed(F.col("l_quantity"), 2)
    p = fixed(F.col("l_extendedprice"), 2)
    d = fixed(F.col("l_discount"), 2)
    t = fixed(F.col("l_tax"), 2)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("sq"), F.sum(p).alias("sp"),
        F.sum(d).alias("sd"), F.sum(t).alias("st"),
        F.sum(dec(q * q)).alias("sqq"), F.sum(dec(p * p)).alias("spp"),
        F.sum(dec(d * d)).alias("sdd"), F.sum(dec(t * t)).alias("stt"),
        F.sum(dec(q * p)).alias("sqp"), F.sum(dec(q * d)).alias("sqd"),
        F.sum(dec(p * d)).alias("spd"), F.sum(dec(p * t)).alias("spt"))
    D = {c: F.col(c).cast("double") for c in
         ("n", "sq", "sp", "sd", "st", "sqq", "spp", "sdd", "stt",
          "sqp", "sqd", "spd", "spt")}

    def corr4(sxy, sx, sy, sxx, syy):
        num = D["n"] * D[sxy] - D[sx] * D[sy]
        den = (F.sqrt(D["n"] * D[sxx] - D[sx] * D[sx])
               * F.sqrt(D["n"] * D[syy] - D[sy] * D[sy]))
        return fixed(num / den, 4)

    return s.select(
        corr4("sqp", "sq", "sp", "sqq", "spp").alias("qty_price_e4"),
        corr4("sqd", "sq", "sd", "sqq", "sdd").alias("qty_disc_e4"),
        corr4("spd", "sp", "sd", "spp", "sdd").alias("price_disc_e4"),
        corr4("spt", "sp", "st", "spp", "stt").alias("price_tax_e4"))


@register(
    "market_basket_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
    freq AS (SELECT l_partkey, COUNT(*) AS n_p FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS n_pair
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_pair,
           round(n_pair::DOUBLE * n_orders.n / (fa.n_p * fb.n_p), 4)
             AS lift
    FROM pairs
    JOIN freq fa ON fa.l_partkey = part_a
    JOIN freq fb ON fb.l_partkey = part_b
    CROSS JOIN n_orders
    ORDER BY n_pair DESC, part_a ASC, part_b ASC LIMIT 20
    """,
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity (the A-priori k=2 pass): part pairs
    co-occurring in an order, ranked by support with lift
    ``P(a,b)/(P(a)P(b))`` attached — the 'bought together' query. The
    self-join fans out per ORDER, so candidate count is Σ C(basket,2):
    bounded by basket size (~7 here), never |parts|² — the same
    inverted-index blocking argument as `dedup_ngram_jaccard`. Distinct
    items first (quantity doesn't multiply support), frequencies join
    back broadcast-small, top-20 is TakeOrderedAndProject with full
    deterministic tie order."""
    li = load_tables(spark, sf_dir)["lineitem"]
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.select("l_orderkey").distinct().count()
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_p"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .groupBy(F.col("a.l_partkey").alias("part_a"),
                      F.col("b.l_partkey").alias("part_b"))
             .agg(F.count(F.lit(1)).alias("n_pair")))
    fa = freq.select(F.col("l_partkey").alias("part_a"),
                     F.col("n_p").alias("n_a"))
    fb = freq.select(F.col("l_partkey").alias("part_b"),
                     F.col("n_p").alias("n_b"))
    return (pairs.join(F.broadcast(fa), "part_a")
            .join(F.broadcast(fb), "part_b")
            .select("part_a", "part_b", "n_pair",
                    F.round(F.col("n_pair") * F.lit(float(n_orders))
                            / (F.col("n_a") * F.col("n_b")), 4)
                    .alias("lift"))
            .orderBy(F.desc("n_pair"), F.asc("part_a"), F.asc("part_b"))
            .limit(20))


@register(
    "bloom_prejoin_prune",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_c_total
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 400000
    GROUP BY o.o_orderpriority
    """,
)
def bloom_prejoin_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning (`operators/runtime_filter.py` —
    capability superset, SURVEY §2.6; the explicit form of Spark's
    `runtime.bloomFilter` row-level filtering): `orders` filtered to the
    high-value tail is the build side; its surviving keys are aggregated
    into an 8 KiB bitset (bounded collect — at most m/64 words regardless
    of build rows) and applied as a codegen Filter on `lineitem` BEFORE
    the fact-side shuffle, so ~80% of the probe rows are never hashed or
    shipped. False positives are settled by the exact join that follows;
    the oracle states row-identity with the plain join. Plan pin
    (Filter-below-Exchange) and no-false-negative property:
    tests/test_layout_and_bloom.py."""
    from dig_etl_engine_spark.operators.runtime_filter import (
        bloom_pruned_join)

    t = load_tables(spark, sf_dir)
    build = t["orders"].filter(F.col("o_totalprice") > 400000) \
        .select("o_orderkey", "o_orderpriority")
    li = t["lineitem"].select("l_orderkey", "l_extendedprice")
    return (bloom_pruned_join(li, build, probe_key="l_orderkey",
                              build_key="o_orderkey")
            .withColumn("price_c", fixed(F.col("l_extendedprice"), 2))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum("price_c").alias("price_c_total")))
