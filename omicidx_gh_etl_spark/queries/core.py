"""Reference-parity operators (SURVEY.md §2) over the synthetic tables.

Each query re-expresses one operator family from the reference
(seandavi/omicidx-gh-etl) Spark-first. Reference citations are on each
builder. Scale notes are inline — every plan here was checked with
``.explain("formatted")`` for pushdown/broadcast/shuffle shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .base import register
from .tables import load_events, load_table

# --------------------------------------------------------------------------
# Scans / projections / filters (S1, P1-P6)
# --------------------------------------------------------------------------


@register(
    "scan_filter_project",
    """
    SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date,
           l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
    """,
    tags=("S1", "P1", "P3"),
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan + explicit projection + time-range predicate.

    Reference: raw model column lists (sqlmesh/models/raw/src_sra_experiments.sql:9-34)
    + bronze BETWEEN filters (bronze/stg_geo_samples.sql:15-16).
    Scale: filter + projection push down to the parquet scan
    (PushedFilters / ReadSchema show only these 4 columns), so at 100 TB
    this reads only matching row groups of 4 columns.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("date").alias("ship_date"),
            "l_quantity",
        )
    )


@register(
    "project_rename_snakecase",
    """
    SELECT c_custkey AS cust_key, c_name AS cust_name,
           c_mktsegment AS segment,
           CAST(c_acctbal AS DECIMAL(18,2)) AS acctbal
    FROM customer
    """,
    tags=("P2", "F9"),
)
def project_rename_snakecase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column rename/alias standardization projection.

    Reference: snake_case standardization (bronze/stg_sra_accessions.sql:15-35,
    etl/scimago.py:24-28). Pure projection — no shuffle at any scale.
    """
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_name").alias("cust_name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").cast("decimal(18,2)").alias("acctbal"),
    )


@register(
    "filter_eq_notnull",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
    FROM orders
    WHERE o_orderstatus = 'F' AND o_orderpriority <> '1-URGENT'
      AND o_custkey IS NOT NULL
    """,
    tags=("P4", "P5", "P6"),
)
def filter_eq_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality + not-equal + null-guard predicates.

    Reference: ``a.Type = 'EXPERIMENT'`` (bronze/stg_sra_experiments.sql:23),
    ``!= 'NONE'`` (geometadb/geo_supplemental_files.sql:28),
    ``IS NOT NULL`` staging guard (WAREHOUSE.md:177-178).
    """
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_orderpriority") != "1-URGENT")
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


# --------------------------------------------------------------------------
# Joins (J1-J5, U3 anti / semi)
# --------------------------------------------------------------------------


@register(
    "join_fact_accession",
    """
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
           CAST(l.l_extendedprice AS DECIMAL(18,2)) AS extended_price,
           o.o_orderstatus, CAST(o.o_orderdate AS DATE) AS order_date
    FROM lineitem l
    INNER JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-01-01'
    """,
    tags=("J1", "P3", "P4"),
)
def join_fact_accession(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detail × status-dimension inner equi-join + type filter + date range.

    Reference shape: ``src_sra_experiments e JOIN src_sra_accessions a
    ON e.accession = a.Accession AND a.Type='EXPERIMENT' AND date range``
    (bronze/stg_sra_experiments.sql:19-24).
    Scale: both sides are fact-sized (30-40M rows in the reference,
    larger at 100 TB) → sort-merge join on the key; the dimension-side
    filters (status + date) are pushed below the join so the shuffled
    build side is already pruned. AQE handles skewed keys.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        "o_orderstatus = 'F' "
        "AND o_orderdate >= cast('1995-01-01' as timestamp_ntz) "
        "AND o_orderdate <  cast('1996-01-01' as timestamp_ntz)"
    )
    return li.join(o, F.expr("l_orderkey = o_orderkey"), "inner").selectExpr(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "cast(l_extendedprice as decimal(18,2)) AS extended_price",
        "o_orderstatus",
        "cast(o_orderdate as date) AS order_date",
    )


@register(
    "mart_denormalized",
    """
    SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
           CAST(o.o_totalprice AS DECIMAL(18,2)) AS total_price,
           c.c_name AS customer_name, c.c_mktsegment AS segment,
           n.n_name AS nation, r.r_name AS region
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    tags=("J5",),
)
def mart_denormalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join denormalized mart table (the reference's headline query).

    Reference: ``mart.sra_metadata`` — 49.4M-row denormalization of
    staged studies+experiments+samples+runs (WAREHOUSE_SUMMARY.md:119-139,
    EXPORT_DEPLOYMENT.md:247-252 — 6.9 s on 64 cores).
    Scale: the fact table (orders ≈ experiments) is joined against
    progressively smaller dims; only the CONSTANT-sized dims
    (nation/region — 25/5 rows at every SF) carry an explicit
    broadcast hint. Customer grows with the data (≈40M rows at the
    reference's scale), so its join is left to Spark: at bench SF the
    planner's size estimate (and AQE at runtime) still broadcasts it,
    while at 100× it degrades gracefully to a shuffle join instead of
    OOMing on a forced hint.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(c, F.expr("o_custkey = c_custkey"))
        .join(F.broadcast(n), F.expr("c_nationkey = n_nationkey"))
        .join(F.broadcast(r), F.expr("n_regionkey = r_regionkey"))
        .selectExpr(
            "o_orderkey",
            "cast(o_orderdate as date) AS order_date",
            "cast(o_totalprice as decimal(18,2)) AS total_price",
            "c_name AS customer_name",
            "c_mktsegment AS segment",
            "n_name AS nation",
            "r_name AS region",
        )
    )


@register(
    "anti_join_missing",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("U3",),
)
def anti_join_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference as left_anti join (work items pending = all − done).

    Reference: needed = available − existing file sets (etl/pubmed.py:53-59).
    Scale: left_anti shuffles only the key column of the probe side;
    with AQE it becomes broadcast-anti when the right side is small.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "semi_join_exists",
    """
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("U3",),
)
def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left_semi join (completed-prefix skip, sra/extract.py:472-474)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_bloom_pruned_semi",
    """
    SELECT l.l_returnflag, count(*) AS n_items,
           sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS revenue
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey
                    AND o.o_orderpriority = '1-URGENT')
    GROUP BY l.l_returnflag
    """,
    tags=("U3", "J1", "bloom"),
)
def join_bloom_pruned_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join with explicit bloom-filter pre-pruning — runtime
    row-level filtering as a caller-controlled operator
    (operators/blooms.py). The urgent-order key set is aggregated
    into a fixed-size bitmap (2^20 bits here — chosen by the CALLER,
    never data-proportional), broadcast as one array<long> row, and
    the lineitem scan is cut map-side BEFORE anything shuffles; the
    exact semi join then removes bloom false positives, so the result
    is bit-identical to a plain EXISTS. Scale: at 100 TB a
    1%-selective order filter means ~99% of lineitem never reaches
    the semi-join shuffle — the pattern AQE's automatic runtime
    filters apply opportunistically, made deterministic and tunable.
    """
    from ..operators.blooms import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        bloom_semi_join(
            li, urgent, "l_orderkey", "o_orderkey",
            num_bits=1 << 20, num_hashes=3,
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Aggregations (A1-A8, A10) / sorts / top-k (O1-O4)
# --------------------------------------------------------------------------


@register(
    "agg_count_topk",
    """
    SELECT o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY n DESC, o_orderpriority
    LIMIT 10
    """,
    tags=("A1", "O1"),
)
def agg_count_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) GROUP BY + ORDER BY count DESC LIMIT k.

    Reference: study-type counts (examples/warehouse_quickstart.py:62-68).
    Scale: partial (map-side) count + TakeOrderedAndProject — no global
    sort materialization. Tiebreak on the key makes the limit
    deterministic.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("o_orderpriority"))
        .limit(10)
    )


@register(
    "agg_multikey_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
           sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_base_price,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4)
             AS avg_qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("A2",),
)
def agg_multikey_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key hash aggregation with sums/averages (TPC-H Q1 shape).

    Reference: platform × library_strategy counts
    (examples/warehouse_quickstart.py:83-92).
    Scale: low-cardinality group keys → partial aggregation collapses
    each map partition to a handful of rows before the shuffle; DECIMAL
    sums are order-exact (see queries/base.py parity rules).
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(qty).alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sum_base_price"),
        F.round(F.sum(qty).cast("double") / F.count("*"), 4).alias("avg_qty"),
    )


@register(
    "agg_global_stats",
    """
    SELECT count(*) AS n_rows,
           count(DISTINCT l_orderkey) AS n_orders,
           count(DISTINCT l_partkey) AS n_parts,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
    FROM lineitem
    """,
    tags=("A4", "A7"),
)
def agg_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global scalar aggregate with COUNT DISTINCT (catalog.py:61-68)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("total_qty"),
    )


@register(
    "agg_derived_key",
    """
    SELECT regexp_extract(source, '(\\d+)$', 1) AS src_num,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
    tags=("A5", "F5"),
)
def agg_derived_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY regexp-derived key (catalog.py:130-139)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.regexp_extract("source", r"(\d+)$", 1).alias("src_num"))
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@register(
    "distinct_pairs",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    tags=("A6",),
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT dedup aggregate (geometadb/gse_gpl.sql:8-10)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@register(
    "orderby_limit_recent",
    """
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
           CAST(o_totalprice AS DECIMAL(18,2)) AS total_price
    FROM orders
    ORDER BY o_orderdate DESC, o_orderkey
    LIMIT 10
    """,
    tags=("O2", "O3"),
)
def orderby_limit_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY date DESC LIMIT n (examples/warehouse_quickstart.py:79-81).

    Scale: plans as TakeOrderedAndProject — per-partition top-10 then a
    single merge, never a global sort.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("total_price"),
        )
    )


@register(
    "watermark_max",
    "SELECT max(epoch_us(ts)) AS hwm_us FROM events",
    tags=("A8", "I5"),
)
def watermark_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX(time) incremental high-watermark (WAREHOUSE.md:437-449)."""
    ev = load_events(spark, sf_dir)
    return ev.agg(F.max("ts_us").alias("hwm_us"))


@register(
    "agg_daily_trend",
    """
    SELECT CAST(ts AS DATE) AS day, event_type,
           count(*) AS n,
           sum(CAST(value AS DECIMAL(18,2))) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("A10", "A9"),
)
def agg_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series trend aggregation (sqlmesh/README.md Future Layers;
    per-entity counters geo/extract.py:103-143)."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy(
        F.col("ts").cast("date").alias("day"), F.col("event_type")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
    )


@register(
    "pivot_conditional_counts",
    """
    SELECT CAST(ts AS DATE) AS day,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
           count(*) FILTER (WHERE event_type = 'error') AS n_error,
           count(*) FILTER (WHERE event_type NOT IN ('purchase','signup','error'))
             AS n_other
    FROM events
    GROUP BY 1
    """,
    tags=("A10",),
)
def pivot_conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation (technology-trend analysis,
    sqlmesh/README.md Future Layers). count(CASE) keeps absent combos
    at 0 in both engines (Spark .pivot would yield NULLs)."""
    ev = load_events(spark, sf_dir)

    def flag(cond) -> F.Column:
        return F.count(F.when(cond, True))

    t = F.col("event_type")
    return ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        flag(t == "purchase").alias("n_purchase"),
        flag(t == "signup").alias("n_signup"),
        flag(t == "error").alias("n_error"),
        flag(~t.isin("purchase", "signup", "error")).alias("n_other"),
    )


# --------------------------------------------------------------------------
# Window functions (§2.5 — the reference's documented dedup gap + top-k)
# --------------------------------------------------------------------------


@register(
    "dedup_latest_by_key",
    """
    SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    tags=("W1", "I6"),
)
def dedup_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup latest-record-per-key — the reference's documented need:
    "downstream processing must deduplicate by accession + update
    timestamp" (ebi_biosample/README.md Known Issues #4).

    Expressed as an argmax (MAX of a (ts, tiebreak, payload) struct),
    not a ranking window: the partial aggregate collapses each map
    partition to one row per key before the exchange, so the shuffle
    carries ~|keys| rows instead of every event, and the map-side sort
    (struct buffers plan as SortAggregate) keys on user_id alone, not
    the window's (user_id, ts, event_id) — ~1.7× faster at sf0.1 with
    identical output.
    """
    ev = load_events(spark, sf_dir)
    best = ev.groupBy("user_id").agg(
        F.max(F.struct("ts_us", "event_id", "event_type")).alias("b")
    )
    return best.select(
        "user_id",
        F.col("b.event_id").alias("event_id"),
        F.col("b.event_type").alias("event_type"),
        F.col("b.ts_us").alias("ts_us"),
    )


@register(
    "topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey,
           CAST(o_totalprice AS DECIMAL(18,2)) AS total_price, rk
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
    WHERE rk <= 3
    """,
    tags=("W2", "O1"),
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window (beyond-parity operator).

    Scale: one shuffle on the group key; rank-pruning filter is applied
    streaming per partition (WindowGroupLimit pushes k down in Spark 3.5+).
    """
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("total_price"),
            "rk",
        )
    )


@register(
    "running_total_per_user",
    """
    SELECT user_id, event_id,
           sum(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_value
    FROM events
    """,
    tags=("W3",),
)
def running_total_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-sum window aggregate (beyond-parity; DECIMAL keeps the
    cumulative sum order-exact in both engines)."""
    ev = load_events(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).alias("running_value"),
    )


@register(
    "sessionize_events",
    """
    WITH gaps AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events)
    SELECT user_id, event_id,
           CAST(sum(is_new) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_num
    FROM gaps
    """,
    tags=("W4",),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap > 30min starts a new session (beyond-parity;
    batch analogue of streaming session windows)."""
    ev = load_events(spark, sf_dir)
    order = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev_ts = F.lag("ts_us").over(order)
    is_new = F.when(
        prev_ts.isNull() | ((F.col("ts_us") - prev_ts) > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    cum = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    return ev.withColumn("is_new", is_new).select(
        "user_id",
        "event_id",
        F.sum("is_new").over(cum).alias("session_num"),
    )


# --------------------------------------------------------------------------
# Set operations (U1-U2)
# --------------------------------------------------------------------------


@register(
    "union_tagged",
    """
    SELECT o_orderkey AS key, 'orders' AS src FROM orders
    WHERE o_totalprice > 400000
    UNION ALL
    SELECT l_orderkey AS key, 'lineitem' AS src FROM lineitem
    WHERE l_quantity > 49
    """,
    tags=("U1",),
)
def union_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL with literal discriminator column.

    Reference: GSE/GSM supplemental-file union with 'gse'/'gsm' tags
    (geometadb/geo_supplemental_files.sql:8-22).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_orderkey").alias("key"), F.lit("orders").alias("src"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 49)
        .select(F.col("l_orderkey").alias("key"), F.lit("lineitem").alias("src"))
    )
    return o.unionByName(li)


# --------------------------------------------------------------------------
# Scalar functions (F1-F8)
# --------------------------------------------------------------------------


@register(
    "concat_url",
    """
    SELECT p_partkey,
           'https://example.org/part?id=' || p_partkey || '&brand=' || p_brand
             AS url
    FROM part
    """,
    tags=("F1",),
)
def concat_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String concatenation URL building (geometadb/gpl.sql:20-21)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.concat(
            F.lit("https://example.org/part?id="),
            F.col("p_partkey").cast("string"),
            F.lit("&brand="),
            F.col("p_brand"),
        ).alias("url"),
    )


@register(
    "cast_iso_roundtrip",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS d_str,
           CAST(CAST(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%f') || 'Z'
                     AS TIMESTAMP) AS DATE) AS parsed_date
    FROM orders
    """,
    tags=("F2",),
)
def cast_iso_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 string↔timestamp casts incl. trailing 'Z' + micros.

    Reference: DuckDB-permissive CASTs in bronze models
    (stg_ebi_biosample.sql:15-18; golden expectation
    "2021-01-07T00:22:30.866Z" → naive 2021-01-07 00:22:30.866).
    Both engines parse the Z-suffixed form against UTC.
    """
    o = load_table(spark, sf_dir, "orders")
    iso = F.concat(
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), F.lit("Z")
    )
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d_str"),
        F.to_timestamp(iso).cast("date").alias("parsed_date"),
    )


@register(
    "regexp_path_parts",
    """
    SELECT doc_id,
           regexp_extract('data/' || source || '/doc_' || doc_id || '.txt',
                          '[^/]+$', 0) AS file_name,
           regexp_extract('data/' || source || '/doc_' || doc_id || '.txt',
                          '.*/([^/]+)/[^/]+$', 1) AS parent_dir
    FROM documents
    """,
    tags=("F5", "F13"),
)
def regexp_path_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filename/dir extraction via regexp (geo_supplemental_files.sql:27,
    catalog.py:132)."""
    d = load_table(spark, sf_dir, "documents")
    path = F.concat(
        F.lit("data/"), F.col("source"), F.lit("/doc_"),
        F.col("doc_id").cast("string"), F.lit(".txt"),
    )
    return d.select(
        "doc_id",
        F.regexp_extract(path, r"[^/]+$", 0).alias("file_name"),
        F.regexp_extract(path, r".*/([^/]+)/[^/]+$", 1).alias("parent_dir"),
    )


@register(
    "json_extract_props",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
    tags=("F6",),
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from a string column (DEPLOYMENT.md:468-470;
    contributor json columns README.md:137)."""
    ev = load_events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


@register(
    "case_when_flag",
    """
    SELECT CASE WHEN n_chars < 200 THEN 'short'
                WHEN n_chars < 400 THEN 'medium'
                ELSE 'long' END AS size_class,
           lang, count(*) AS n
    FROM documents
    GROUP BY 1, 2
    """,
    tags=("F7",),
)
def case_when_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN quality/size flag (has_complete_metadata,
    WAREHOUSE.md:168-173)."""
    d = load_table(spark, sf_dir, "documents")
    size_class = (
        F.when(F.col("n_chars") < 200, "short")
        .when(F.col("n_chars") < 400, "medium")
        .otherwise("long")
    )
    return d.groupBy(size_class.alias("size_class"), F.col("lang")).agg(
        F.count("*").alias("n")
    )


@register(
    "array_element_1based",
    """
    SELECT vec_id, label,
           embedding[1] AS first_val,
           embedding[64] AS last_val,
           embedding[100] AS oob_val
    FROM embeddings
    """,
    tags=("F4",),
)
def array_element_1based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-based array indexing parity — DuckDB ``arr[1]`` == Spark
    ``try_element_at(arr, 1)``; out-of-range → NULL in both.

    Reference: ``channels[1].source_name`` (geometadb/gsm.sql:16-31) —
    the §7.4 semantic trap (Spark ``col[0]`` would be wrong).
    """
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.try_element_at("embedding", F.lit(1)).alias("first_val"),
        F.try_element_at("embedding", F.lit(64)).alias("last_val"),
        F.try_element_at("embedding", F.lit(100)).alias("oob_val"),
    )


@register(
    "explode_tokens_topk",
    """
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    WHERE tok <> ''
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
    """,
    tags=("F3",),
)
def explode_tokens_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNNEST/explode + aggregate (geometadb/gse_gsm.sql:10).

    Empty-array rows vanish (explode == DuckDB UNNEST, FIXTURES.md §8.1).
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Incremental (I1, I5)
# --------------------------------------------------------------------------


@register(
    "incremental_time_range",
    """
    SELECT event_type, count(*) AS n,
           sum(CAST(value AS DECIMAL(18,2))) AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-05'
    GROUP BY event_type
    """,
    tags=("I1", "P3"),
)
def incremental_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-by-time-range materialization slice: only rows whose
    time column falls in [start, end) (sqlmesh INCREMENTAL_BY_TIME_RANGE,
    bronze/stg_geo_samples.sql:4-16). At scale the date predicate prunes
    partitions/row-groups before any compute."""
    ev = load_events(spark, sf_dir)
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-02").cast("timestamp_ntz"))
            & (F.col("ts") < F.lit("2024-01-05").cast("timestamp_ntz"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
    )


@register(
    "join_bloom_pruned_anti",
    """
    SELECT l.l_returnflag, count(*) AS n_items,
           sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS revenue
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY l.l_returnflag
    """,
    tags=("U3", "J1", "bloom"),
)
def join_bloom_pruned_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join with the bloom's one-sided error pointed the OTHER
    way (operators/blooms.py::bloom_anti_join): a probe MISS is a
    CERTAIN non-match that enters the result map-side without ever
    shuffling; only the probable sliver (true matches + false
    positives) takes the exact anti join. Result is bit-identical to
    a plain NOT EXISTS. Scale: the anti join — normally the
    worst-case shuffle (every big row must check membership) — moves
    only ~(selectivity + FPR) of the fact table."""
    from ..operators.blooms import bloom_anti_join

    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        bloom_anti_join(
            li, urgent, "l_orderkey", "o_orderkey",
            num_bits=1 << 20, num_hashes=3,
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("revenue"),
        )
    )


@register(
    "incremental_agg_refresh",
    """
    SELECT event_type,
           count(*) AS n_events,
           sum(CAST(value AS DECIMAL(18,2))) AS total_value,
           min(epoch_us(ts)) AS first_us,
           max(epoch_us(ts)) AS last_us
    FROM events
    GROUP BY event_type
    """,
    tags=("I1", "A2", "incremental"),
)
def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view delta maintenance (engine/incr_agg.py): the
    events table arrives as three disjoint day-range batches, each
    merged into a persisted partial-aggregate state — history is
    never rescanned — and the final state must equal a one-shot
    GROUP BY over everything (the oracle). Scale: each refresh costs
    O(|delta|) + one bounded shuffle on the state's keys regardless
    of history size; only algebraic aggregates (sum/count/min/max)
    qualify, which is why the state carries those and avg-style
    ratios derive downstream. The temp state dir is deleted before
    returning (result localCheckpointed so nothing pins it)."""
    import shutil
    import tempfile

    from ..engine.incr_agg import refresh_aggregate

    ev = load_events(spark, sf_dir).select("event_type", "value", "ts", "ts_us")
    cuts = ("2024-01-03", "2024-01-06")
    batches = [
        ev.filter(F.col("ts") < F.lit(cuts[0]).cast("timestamp_ntz")),
        ev.filter(
            (F.col("ts") >= F.lit(cuts[0]).cast("timestamp_ntz"))
            & (F.col("ts") < F.lit(cuts[1]).cast("timestamp_ntz"))
        ),
        ev.filter(F.col("ts") >= F.lit(cuts[1]).cast("timestamp_ntz")),
    ]
    aggs = {
        "n_events": ("event_type", "count"),
        "total_value": ("val_dec", "sum"),
        "first_us": ("ts_us", "min"),
        "last_us": ("ts_us", "max"),
    }
    tmp = tempfile.mkdtemp(prefix="incr_agg_q_")
    try:
        out = None
        for b in batches:
            delta = b.withColumn("val_dec", F.col("value").cast("decimal(18,2)"))
            out = refresh_aggregate(
                spark, f"{tmp}/state", delta, ["event_type"], aggs
            )
        return out.select(
            "event_type", "n_events", "total_value", "first_us", "last_us"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "ids_contiguous_assign",
    """
    SELECT doc_id,
           row_number() OVER (ORDER BY doc_id) AS global_id
    FROM documents
    """,
    tags=("ids", "O5"),
)
def ids_contiguous_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 1..N global row numbering WITHOUT the single-partition
    window (operators/ids.py): range-repartition + within-partition
    sort, per-partition counts prefix-summed driver-side, dense id =
    partition offset + local index from monotonically_increasing_id's
    bit layout. The oracle is the thing this replaces — a bare
    row_number() OVER (ORDER BY …), which Spark would execute through
    ONE task. Scale: one range shuffle (the minimum any total
    ordering costs), everything else O(num_partitions). The cached
    intermediate is released after a localCheckpoint so repeated
    invocations don't accumulate executor blocks."""
    from ..operators import ids as ids_op

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    out = ids_op.assign_contiguous_ids(d, ["doc_id"], id_name="global_id")
    try:
        return (
            out.select("doc_id", F.col("global_id").cast("bigint"))
            .localCheckpoint(eager=True)
        )
    finally:
        ids_op.release(out)


@register(
    "variant_json_shredding",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
               AS k_bucket,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum
    FROM events
    GROUP BY 1
    """,
    tags=("F6", "variant"),
)
def variant_json_shredding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON via Spark 4's VARIANT type: ``parse_json``
    once, then typed ``variant_get`` paths — the engine-native path
    for JSON columns (README.md:137 contributor json; SURVEY §1.2).
    Unlike per-path ``get_json_object`` string re-parsing, the variant
    parses each document ONCE into a binary-shredded value that all
    downstream extractions share — the difference between O(paths)
    and O(1) parses per row at 100 TB. The oracle uses DuckDB's JSON
    extraction over the same column."""
    ev = load_events(spark, sf_dir)
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select(k.alias("k_val"))
        .groupBy((F.col("k_val") % 10).alias("k_bucket"))
        .agg(F.count("*").alias("n"), F.sum("k_val").alias("k_sum"))
    )


@register(
    "histogram_equi_width",
    """
    SELECT event_type,
           CAST(least(floor(value / 50.0), 9) AS BIGINT) AS bucket,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
    tags=("A10", "olap"),
)
def histogram_equi_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (10 × 50-unit buckets, top bucket open):
    the profiling primitive behind range-partition boundary picking and
    skew diagnosis. Pure map + one tiny shuffle; the bucket expression
    is identical integer arithmetic in both engines (no width_bucket —
    DuckDB lacks it)."""
    ev = load_events(spark, sf_dir)
    bucket = F.least(F.floor(F.col("value") / 50.0), F.lit(9)).cast("bigint")
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "agg_stats_moments",
    """
    SELECT event_type,
           round(avg(value), 4) AS mean_value,
           round(stddev_samp(value), 4) AS sd_value,
           round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_value_user,
           round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS covar_value_user
    FROM events
    GROUP BY 1
    """,
    tags=("A10", "stats"),
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per group (stddev, correlation,
    covariance) — data-profiling aggregates both engines compute with
    single-pass covariance accumulators (partial-aggregatable; one
    shuffle). round(4) absorbs accumulation-order float noise, which
    is larger here than for sums (see base.py rule 2)."""
    ev = load_events(spark, sf_dir)
    u = F.col("user_id").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 4).alias("mean_value"),
        F.round(F.stddev_samp("value"), 4).alias("sd_value"),
        F.round(F.corr(F.col("value"), u), 4).alias("corr_value_user"),
        F.round(F.covar_samp(F.col("value"), u), 4).alias("covar_value_user"),
    )
