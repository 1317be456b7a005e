"""Advanced / beyond-parity operators: schema evolution, OLAP rollup,
exact percentiles, as-of join, BPE-ish tokenization, id mapping,
embedding centroids.

Same parity rules as queries/base.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators import similarity
from .base import register
from .tables import load_events, load_spread, load_table

# --------------------------------------------------------------------------
# Schema evolution (U2 / S2): union-by-name with missing columns
# --------------------------------------------------------------------------


@register(
    "union_by_name_evolution",
    """
    SELECT * FROM (
      SELECT o_orderkey AS key, o_totalprice AS price FROM orders
      WHERE o_orderstatus = 'F'
      UNION ALL BY NAME
      SELECT o_orderkey AS key, o_orderpriority AS priority FROM orders
      WHERE o_orderstatus = 'O')
    """,
    tags=("U2", "S2"),
)
def union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: files/frames with different column sets
    combine by name, absent columns become NULL.

    Reference: ``union_by_name := true`` on every multi-file scan
    (main.sql:3, raw/src_geo_samples.sql:36; FIXTURES.md §8.6).
    """
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("price")
    )
    b = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderkey").alias("key"), F.col("o_orderpriority").alias("priority")
    )
    return a.unionByName(b, allowMissingColumns=True)


# --------------------------------------------------------------------------
# OLAP extensions: rollup, exact percentile
# --------------------------------------------------------------------------


@register(
    "rollup_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("A10", "olap"),
)
def rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (subtotal + grand-total rows with NULL
    group keys — identical semantics in both engines)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
    )


@register(
    "median_value_by_type",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS median_value,
           round(quantile_cont(value, 0.9), 4) AS p90_value
    FROM events
    GROUP BY event_type
    """,
    tags=("A10", "olap"),
)
def median_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``; approx_percentile is the 100TB-scale
    variant when exactness isn't required)."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90_value"),
    )


# --------------------------------------------------------------------------
# As-of join — the canonical "operator Spark lacks" (pyspark_guide.md
# Common OLAP patterns), composed from built-in ops
# --------------------------------------------------------------------------


@register(
    "asof_join_last_signup",
    """
    WITH tagged AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN event_type = 'signup' THEN ts END AS signup_ts
      FROM events WHERE event_type IN ('signup', 'purchase')),
    filled AS (
      SELECT user_id, event_id, ts, event_type,
             max(signup_ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_signup_ts
      FROM tagged)
    SELECT user_id, event_id, epoch_us(ts) AS purchase_ts_us,
           epoch_us(last_signup_ts) AS signup_ts_us
    FROM filled WHERE event_type = 'purchase'
    """,
    tags=("asof", "W5"),
)
def asof_join_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    prior-or-equal signup.

    Spark has no native ASOF JOIN; the scalable composition is the
    union-and-fill: tag the right stream's timestamp into a nullable
    column, running MAX over event time forward-fills it, then keep
    left rows. ONE shuffle on the join key — same cost as a regular
    sorted merge, no per-group pandas (`merge_asof`) needed. Monotone
    MAX keeps it order-exact (no float issues).
    """
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin("signup", "purchase")
    )
    tagged = ev.withColumn(
        "signup_ts", F.when(F.col("event_type") == "signup", F.col("ts"))
    )
    fill = (
        W.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = tagged.withColumn("last_signup_ts", F.max("signup_ts").over(fill))
    return filled.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.col("ts_us").alias("purchase_ts_us"),
        F.expr("unix_micros(cast(last_signup_ts as timestamp))").alias("signup_ts_us"),
    )


# --------------------------------------------------------------------------
# Text: BPE-ish regex tokenization; id↔accession mapping (F10)
# --------------------------------------------------------------------------


@register(
    "text_bpe_tokens",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
    tags=("text",),
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex
    (letter-runs | digit-runs | single punctuation) — the budget
    estimator pattern for training corpora. Pattern kept to a
    RE2/Java-regex common subset so both engines agree."""
    d = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), 0)
    ws = F.expr("filter(split(text, ' '), x -> x != '')")
    return d.select(
        "doc_id",
        F.size(bpe).cast("bigint").alias("n_bpe_tokens"),
        F.size(ws).cast("bigint").alias("n_ws_tokens"),
    )


@register(
    "id_accession_mapping",
    """
    SELECT doc_id,
           'GSE' || regexp_replace(CAST(200000000 + doc_id AS VARCHAR),
                                   '^20*', '') AS accession
    FROM documents
    """,
    tags=("F10",),
)
def id_accession_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-id ↔ accession prefix mapping (entrez id 200012345 →
    GSE12345; geo/extract.py:171-179)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.lit("GSE"),
            F.regexp_replace(
                (F.lit(200000000) + F.col("doc_id")).cast("string"), r"^20*", ""
            ),
        ).alias("accession"),
    )


# --------------------------------------------------------------------------
# Embeddings: per-label centroids (k-means-style reduce step)
# --------------------------------------------------------------------------


@register(
    "embedding_centroids",
    """
    SELECT label, pos,
           round(CAST(sum(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6)
             AS mean_val
    FROM (
      SELECT label, j AS pos, CAST(embedding[j + 1] AS DOUBLE) AS v
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) js)
    GROUP BY label, pos
    """,
    tags=("similarity", "ml"),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise centroid (the k-means reduce step /
    class-prototype builder), exploded to (label, pos, mean).

    DECIMAL(20,10) sums make the float mean order-exact (the same
    trick as money columns — partial-aggregation order can't shift the
    hash). posexplode keeps it one shuffle on (label, pos).
    """
    e = load_spread(spark, sf_dir, "embeddings", "vec_id")
    exploded = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    return exploded.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(20,10)")).cast("double") / F.count("*"), 6
        ).alias("mean_val")
    )


# Shared by the batch query below and streaming_covariance
# (queries/streaming_ops.py): moment additivity makes the streamed
# state equal the one-shot covariance, so one oracle string pins both.
COV_ORACLE_SQL = """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE embedding IS NOT NULL),
    n AS (SELECT count(*) AS c FROM v),
    el AS (
      SELECT vec_id, generate_subscripts(e, 1) AS i, unnest(e) AS x
      FROM v)
    SELECT a.i AS i, b.i AS j,
           round((sum(a.x * b.x) - sum(a.x) * sum(b.x) / c) / (c - 1), 4)
             + 0.0 AS cov
    FROM el a JOIN el b USING (vec_id) CROSS JOIN n
    GROUP BY a.i, b.i, c
    """


@register(
    "embedding_covariance",
    COV_ORACLE_SQL,
    tags=("similarity", "ml", "pca"),
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance matrix — the distributed half of
    PCA/whitening (operators/similarity.py::covariance_matrix; an
    eigendecomposition of it runs driver-side, O(dim²) state). One corpus
    pass: per-task long-form moment partials — each Arrow batch is one
    BLAS gemm, partial state dim+dim² doubles — then ONE map-side-
    combined groupBy (shuffle volume O(tasks · dim²), never
    data-proportional) and a one-group pandas finisher, so the plan
    has exactly one corpus consumer (pytest-pinned). The oracle
    replays the identical (ΣxxT − ΣxΣxᵀ/n)/(n−1) formula; embeddings
    are zero-centered-ish so the one-pass form has no cancellation
    risk, and round(·,4) absorbs cross-engine summation-order float
    drift (sums of ~10³ terms agree to ~1e-13)."""
    e = load_spread(spark, sf_dir, "embeddings", "vec_id")
    return similarity.covariance_matrix(e, "embedding")


# --------------------------------------------------------------------------
# Skew mitigation (beyond-parity; operators/skew.py)
# --------------------------------------------------------------------------


@register(
    "range_join_events_windows",
    """
    WITH iv AS (
      SELECT o_orderkey,
             epoch_us(o_orderdate) AS lo,
             epoch_us(o_orderdate) + 7 * 86400000000 AS hi
      FROM orders WHERE o_orderkey % 97 = 0),
    p AS (SELECT epoch_us(l_shipdate) AS ts FROM lineitem)
    SELECT iv.o_orderkey, count(*) AS n_ship
    FROM iv JOIN p ON p.ts BETWEEN iv.lo AND iv.hi
    GROUP BY 1
    """,
    tags=("rangejoin",),
)
def range_join_events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (shipments falling in 7-day
    order windows) via bin bucketing — the equi-join scale path for a
    join Spark would otherwise plan as a nested loop. Bin width (1
    day) only affects cost, never results: the oracle is the plain
    inequality join."""
    from ..operators.rangejoin import range_join

    day_us = 86_400_000_000
    points = load_table(spark, sf_dir, "lineitem").selectExpr(
        "unix_micros(cast(l_shipdate as timestamp)) AS ts"
    )
    intervals = (
        load_table(spark, sf_dir, "orders")
        .filter("o_orderkey % 97 = 0")
        .selectExpr(
            "o_orderkey",
            "unix_micros(cast(o_orderdate as timestamp)) AS lo",
            f"unix_micros(cast(o_orderdate as timestamp)) + {7 * day_us} AS hi",
        )
    )
    joined = range_join(points, intervals, "ts", "lo", "hi", bin_width=day_us)
    return joined.groupBy("o_orderkey").agg(F.count("*").alias("n_ship"))


@register(
    "skew_salted_join",
    """
    SELECT o.o_orderpriority, count(*) AS n,
           sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    tags=("skew", "J1"),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact×dim equi-join (hot keys spread over 8 reducers,
    dim replicated 8×) — result must be bit-identical to the plain
    join, which IS the oracle: salting changes shuffle layout, never
    semantics."""
    from ..operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, on=["l_orderkey"], salt_buckets=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("total_price"),
    )


@register(
    "skew_two_stage_agg",
    """
    SELECT user_id, count(*) AS n,
           sum(CAST(value AS DECIMAL(18,2))) AS total_value,
           max(epoch_us(ts)) AS last_us
    FROM events
    GROUP BY 1
    """,
    tags=("skew", "A2"),
)
def skew_two_stage_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation: groupBy(user_id, salt) partial →
    groupBy(user_id) final. Caps any reducer's input at
    |hot key| / 8 — the skewed-groupBy fix AQE doesn't provide. Oracle
    is the plain GROUP BY (same invariance contract as
    skew_salted_join)."""
    from ..operators.skew import two_stage_agg

    ev = load_events(spark, sf_dir).select(
        "user_id", F.col("value").cast("decimal(18,2)").alias("v"), "ts_us"
    )
    out = two_stage_agg(
        ev,
        keys=["user_id"],
        aggs={
            "n": ("*", "count"),  # count(*) — the oracle counts rows
            "total_value": ("v", "sum"),
            "last_us": ("ts_us", "max"),
        },
        salt_buckets=8,
    )
    return out.select("user_id", "n", "total_value", "last_us")


# --------------------------------------------------------------------------
# Approximate sketches. The estimates themselves are engine-specific, so
# the raw sketch value can never hash-match a DuckDB oracle; what IS
# cross-engine-checkable is the *contract*: the exact answer plus a
# boolean asserting the sketch landed inside its error bound (the oracle
# emits literal TRUE, so any bound violation flips the value hash).
# Tighter error-bound assertions are additionally pytest-pinned
# (tests/test_sketches.py).
# --------------------------------------------------------------------------


@register(
    "sketch_approx_distinct",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact,
           TRUE AS approx_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("sketch", "A4"),
)
def sketch_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch per group, checked against
    the exact count. At 100 TB the sketch is the only affordable answer
    — constant memory per group, mergeable across partitions (one
    map-side pass), while exact countDistinct shuffles every distinct
    value. The rsd=0.01 sketch is asserted within 5% (5 sigma — a
    bound violation is a bug, not noise); the oracle hash-checks the
    exact counts and the bound flag."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_exact"),
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("n_approx"),
        )
        .select(
            "l_returnflag",
            "n_exact",
            (
                F.abs(F.col("n_approx") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("approx_within_5pct"),
        )
    )


@register(
    "sketch_approx_quantiles",
    """
    WITH b AS (
      SELECT event_type,
             round(quantile_cont(value, 0.5), 4) AS e50,
             round(quantile_cont(value, 0.95), 4) AS e95
      FROM events GROUP BY event_type)
    SELECT event_type, CAST(0.5 AS DOUBLE) AS quantile,
           e50 AS q_exact, TRUE AS approx_in_band FROM b
    UNION ALL
    SELECT event_type, CAST(0.95 AS DOUBLE), e95, TRUE FROM b
    """,
    tags=("sketch", "A10"),
)
def sketch_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald-Khanna sketch) vs exact
    percentiles per event_type, FLAT: one row per (event_type,
    quantile) — array cells crash pandas-side canonicalizers.

    GK with accuracy=10000 guarantees rank error <= 1/10000; the check
    grants a +-0.005 rank band (50x slack, so partial-merge order can
    never flip it) by asserting the sketch value lies between the exact
    q-0.005 and q+0.005 percentiles. The exact percentile and the band
    flag are oracle-hash-checked; the sketch reads once with bounded
    memory while exact percentile sorts each group."""
    ev = load_events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95], 10_000).alias("qa"),
        F.expr(
            "percentile(value, array(0.495D, 0.5D, 0.505D,"
            " 0.945D, 0.95D, 0.955D))"
        ).alias("qe"),
    )
    # Explode a quantile index and element_at both arrays: one shuffle
    # total, the explode is map-side on the tiny aggregated frame.
    flat = agg.select(
        "event_type",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("i"),
        "qa",
        "qe",
    )
    return flat.select(
        "event_type",
        F.element_at(F.array(F.lit(0.5), F.lit(0.95)), F.col("i") + 1).alias(
            "quantile"
        ),
        F.round(F.element_at("qe", F.col("i") * 3 + 2), 4).alias("q_exact"),
        F.element_at("qa", F.col("i") + 1)
        .between(
            F.element_at("qe", F.col("i") * 3 + 1),
            F.element_at("qe", F.col("i") * 3 + 3),
        )
        .alias("approx_in_band"),
    )


@register(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("A10", "olap"),
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 2^2 grouping sets in ONE pass —
    Spark expands the sets map-side and hash-aggregates once, instead
    of four scans + union. Complements rollup_status_priority."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
    )


@register(
    "asof_join_last_click",
    """
    WITH clicks AS (
        SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS click_id
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    purchases AS (
        SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS ts_us,
               value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id, p.ts_us AS purchase_ts_us,
           round(p.value, 4) AS purchase_value,
           c.click_id, c.ts_us AS click_ts_us,
           p.ts_us - c.ts_us AS lag_us
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
    """,
    tags=("asof", "window"),
)
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each purchase matched to the
    user's most recent click at-or-before it — DuckDB's native ASOF
    JOIN is the oracle. The Spark side is the union-interleave
    formulation: no join node, one shuffle on user_id, one sort,
    a running last() window. Clicks are pre-deduped to one per
    (user, ts) (max event_id) so ties are deterministic in both
    engines."""
    from ..operators.asof import asof_join

    ev = load_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts_us")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us").alias("purchase_ts_us"),
        F.round("value", 4).alias("purchase_value"),
    )
    out = asof_join(
        purchases,
        clicks,
        by=["user_id"],
        left_ts="purchase_ts_us",
        right_ts="ts_us",
        payload_cols=["ts_us", "click_id"],
        right_prefix="click_",
    )
    return out.select(
        "purchase_id",
        "user_id",
        "purchase_ts_us",
        "purchase_value",
        F.col("click_click_id").alias("click_id"),
        F.col("click_ts_us"),
        (F.col("purchase_ts_us") - F.col("click_ts_us")).alias("lag_us"),
    )


@register(
    "window_moving_stats",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders
        GROUP BY 1
    )
    SELECT day, revenue,
           round(avg(CAST(revenue AS DOUBLE)) OVER (
               ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ), 4) AS ma7,
           revenue - lag(revenue) OVER (ORDER BY day) AS delta,
           ntile(4) OVER (ORDER BY revenue, day) AS quartile
    FROM daily
    """,
    tags=("window", "A10"),
)
def window_moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-frame analytics over the daily revenue series: 7-row
    trailing average (ROWS frame), day-over-day delta (lag), and
    revenue quartile (ntile). Scale: the series is one shuffled
    aggregate; the three windows share ONE unpartitioned sort — fine
    here because the frame is over *days* (post-aggregation, tiny),
    never over raw facts; ntile's own ordering is a second tiny sort.
    Parity: the moving average is double rounded to 4; delta stays
    decimal-exact; day is unique so every ordering is total."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    w_ma = W.orderBy("day").rowsBetween(-6, W.currentRow)
    w_lag = W.orderBy("day")
    w_nt = W.orderBy("revenue", "day")
    return daily.select(
        "day",
        "revenue",
        F.round(F.avg(F.col("revenue").cast("double")).over(w_ma), 4).alias("ma7"),
        (F.col("revenue") - F.lag("revenue").over(w_lag)).alias("delta"),
        F.ntile(4).over(w_nt).alias("quartile"),
    )


@register(
    "funnel_signup_click_purchase",
    """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts >= s1.t1
        GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        GROUP BY 1
    )
    SELECT (SELECT count(*) FROM s1) AS n_signup,
           (SELECT count(*) FROM s2) AS n_then_click,
           (SELECT count(*) FROM s3) AS n_then_purchase
    """,
    tags=("events", "funnel"),
)
def funnel_signup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: users who signed up, then clicked
    AFTER the signup, then purchased AFTER that click — the in-order
    constraint is what a plain type-count can't express
    (first-completion semantics makes the funnel monotone: n1 ≥ n2 ≥
    n3).

    Shape: ONE shuffle. The per-user funnel-relevant events are
    gathered into a sorted in-buffer array (pre-filtered to the 3
    funnel types, so the buffer is bounded by funnel activity, not
    total activity) and each stage time is an in-array lookup — the
    first qualifying event at-or-after the previous stage. The naive
    formulation (3 filtered min-aggregates chained by joins) scans the
    facts 3× and exchanges 8×; this scans once and exchanges on
    user_id once, then reduces to a single row."""
    ev = load_events(spark, sf_dir)
    g = (
        ev.filter(F.col("event_type").isin("signup", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts_us", "event_id", "event_type"))
            ).alias("evs")
        )
    )
    staged = (
        g.withColumn(
            "t1", F.expr("get(filter(evs, x -> x.event_type = 'signup'), 0).ts_us")
        )
        .withColumn(
            "t2",
            F.expr(
                "get(filter(evs, x -> x.event_type = 'click' "
                "AND x.ts_us >= t1), 0).ts_us"
            ),
        )
        .withColumn(
            "t3",
            F.expr(
                "get(filter(evs, x -> x.event_type = 'purchase' "
                "AND x.ts_us >= t2), 0).ts_us"
            ),
        )
    )
    return staged.agg(
        F.count("t1").alias("n_signup"),
        F.count("t2").alias("n_then_click"),
        F.count("t3").alias("n_then_purchase"),
    )


@register(
    "retention_cohorts",
    """
    WITH firsts AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY 1
    )
    SELECT CAST(f.cohort_week AS DATE) AS cohort_week,
           CAST((epoch_us(date_trunc('week', e.ts))
                 - epoch_us(f.cohort_week)) / 604800000000 AS BIGINT)
               AS week_offset,
           count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
    tags=("events", "cohort"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week,
    activity counted per week offset — the standard retention matrix.
    Week truncation is ISO-Monday in both engines; the offset is exact
    integer arithmetic on week-aligned epochs (never float division of
    raw timestamps). Scale: one shuffle builds the cohort map, the
    fact join shuffles on user_id, and count(DISTINCT) partial-
    aggregates per (cohort, offset)."""
    ev = load_events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    offset = (
        (
            F.unix_micros(F.date_trunc("week", F.col("ts")).cast("timestamp"))
            - F.unix_micros(F.col("cohort_week").cast("timestamp"))
        )
        / F.lit(604_800_000_000)
    ).cast("bigint")
    return (
        ev.join(firsts, "user_id")
        .groupBy(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@register(
    "grouping_sets_explicit",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    tags=("A10", "olap"),
)
def grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — two independent summaries in ONE scan
    and one expanded aggregate (the non-hierarchical cousin of
    rollup/cube), with grouping_id() disambiguating which set each
    output row belongs to (both engines: bit=1 ⇔ column aggregated
    away)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"]],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping_id("o_orderstatus", "o_orderpriority")
        .cast("bigint")
        .alias("gid"),
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
    )


@register(
    "event_bigram_paths",
    """
    WITH seq AS (
        SELECT user_id, list(event_type ORDER BY ts, event_id) AS types
        FROM events GROUP BY 1
    )
    SELECT bigram, count(*) AS n FROM (
        SELECT unnest(list_transform(range(1, len(types)),
                      i -> types[i] || '>' || types[i+1])) AS bigram
        FROM seq)
    GROUP BY 1
    ORDER BY n DESC, bigram
    LIMIT 10
    """,
    tags=("events", "sequence"),
)
def event_bigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining: top event-type transitions (bigrams) across
    per-user event paths. The path build is an aggregate of
    (ts, event_id, type) structs sorted IN the aggregation buffer
    (sort_array, deterministic total order) — never a window + lead
    over raw events, which would shuffle the fact stream twice. The
    bigram expansion is an indexed transform over the tiny per-user
    array, exploded and counted."""
    ev = load_events(spark, sf_dir)
    seq = ev.groupBy("user_id").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(ts_us, event_id, "
            "event_type))), s -> s.event_type)"
        ).alias("types")
    )
    bigrams = seq.select(
        F.explode(
            F.expr(
                "transform(slice(types, 1, size(types) - 1), "
                "(x, i) -> concat(x, '>', element_at(types, i + 2)))"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidate pruning + exact verify
# --------------------------------------------------------------------------


@register(
    "sketch_heavy_hitters",
    """
    SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    HAVING count(*) > (SELECT count(user_id) FROM events) / 120.0
    """,
    tags=("sketch", "scale"),
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact keys with frequency > n/k (k=120), engine chosen
    ADAPTIVELY at plan time (operators/sketch.py::heavy_hitters,
    engine="auto"): per-partition Misra-Gries summaries + a
    broadcast-semi-join exact recount when the estimated distinct-key
    cardinality dwarfs the ≤ k × partitions candidate set (the
    unbounded-key regime the sketch exists for — at 100 TB the
    difference between shuffling billions of distinct tokens and
    shuffling the candidates); the plain groupBy + broadcast-total
    plan when the full key shuffle is as cheap as the recount (the
    bounded-key shape of this table). Both engines are exact — MG only
    prunes candidates (zero false negatives above n/k) — so one
    GROUP BY ... HAVING oracle pins either plan.
    """
    from ..operators.sketch import heavy_hitters

    ev = load_events(spark, sf_dir)
    return heavy_hitters(ev, "user_id", 120)


@register(
    "outliers_robust_zscore",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS absdev
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(absdev, 0.5) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN abs(d.value - d.med) > 3.0 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(m.mad, 4) AS mad
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type, m.mad
    """,
    tags=("olap", "quality"),
)
def outliers_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: |x − median| > 3·1.4826·MAD per group
    (median/MAD instead of mean/stddev — one wild value can't mask
    others by inflating the threshold).

    Plan: two exact-percentile aggregates over the same scan (median,
    then median of absolute deviations) broadcast back onto the facts.
    Exact ``percentile`` == DuckDB ``quantile_cont`` keeps the oracle
    tight; at 100 TB swap in ``approx_percentile`` and the plan shape —
    two tiny broadcast joins, zero fact-side shuffles beyond the
    group-by — is unchanged.
    """
    ev = load_events(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("absdev", F.lit(0.5)).alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type", "mad").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(
                F.abs(F.col("value") - F.col("med"))
                > 3.0 * 1.4826 * F.col("mad"),
                1,
            ).otherwise(0)
        ).alias("n_outliers"),
    ).select(
        "event_type", "n", "n_outliers", F.round("mad", 4).alias("mad")
    )


@register(
    "linreg_value_trend",
    """
    WITH pts AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS DOUBLE) AS x,
             value AS y
      FROM events)
    SELECT event_type,
           count(*) AS n,
           round(regr_slope(y, x), 6) AS slope,
           round(regr_intercept(y, x), 4) AS intercept,
           round(regr_r2(y, x), 6) AS r2
    FROM pts GROUP BY event_type
    """,
    tags=("olap", "analytics"),
)
def linreg_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend via the SQL-standard regression
    aggregates (regr_slope/intercept/r2): is value drifting over time,
    per event type — one single-pass aggregate, no ML library, no
    iteration.

    Both engines implement the identical REGR_* definitions; slopes
    round to 6 (day-scale x keeps magnitudes sane). Scale: these are
    algebraic aggregates (sums of x, y, xy, x², y²) — partial
    aggregation applies, the shuffle carries 5 doubles per group.
    """
    ev = load_events(spark, sf_dir)
    pts = ev.select(
        "event_type",
        F.expr("cast(ts_us div 86400000000 as double)").alias("x"),
        F.col("value").alias("y"),
    )
    return pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.regr_slope("y", "x"), 6).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 4).alias("intercept"),
        F.round(F.regr_r2("y", "x"), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# Data layout: Z-order (Morton) clustering value
# --------------------------------------------------------------------------

_Z_BITS = 12


def _z_sql(bits: int = _Z_BITS) -> str:
    """Bit-interleave expression over scaled columns s0/s1 — IDENTICAL
    text for Spark SQL and DuckDB (floor/power arithmetic instead of
    engine-specific shift operators; exact for s < 2^52, here < 2^12).
    One definition feeds both the builder and the oracle below."""
    terms = []
    for j in range(bits):
        for d, s in enumerate(("s0", "s1")):
            w = 1 << (2 * j + d)
            terms.append(
                f"(CAST(floor({s} / power(2, {j})) AS BIGINT) % 2)"
                f" * CAST({w} AS BIGINT)"
            )
    return " + ".join(terms)


_Z_SCALE0 = (
    "least(4095, CAST(floor((user_id - mn0) * 4096.0 "
    "/ greatest(mx0 - mn0, 1)) AS BIGINT))"
)
_Z_SCALE1 = (
    "least(4095, CAST(floor((day - mn1) * 4096.0 "
    "/ greatest(mx1 - mn1, 1)) AS BIGINT))"
)


@register(
    "layout_zorder_events",
    f"""
    WITH ev AS (
      SELECT event_id, user_id, epoch_us(ts) // 86400000000 AS day
      FROM events),
    b AS (
      SELECT min(user_id) AS mn0, max(user_id) AS mx0,
             min(day) AS mn1, max(day) AS mx1
      FROM ev),
    s AS (
      SELECT event_id, user_id, day,
             {_Z_SCALE0} AS s0,
             {_Z_SCALE1} AS s1
      FROM ev CROSS JOIN b)
    SELECT event_id, user_id, day, {_z_sql()} AS zval
    FROM s
    """,
    tags=("layout", "olap"),
)
def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering value per event over
    (user_id, day): one sort key for two-column clustering. Sorting
    files by zval gives BOTH
    columns tight per-file min/max ranges, so predicates on either
    prune parquet row groups — the data-layout lever at 100 TB, where
    a scan-everything query is the thing you must never do.

    Plan: one tiny min/max aggregate (broadcast back as a 1-row cross
    join), then the scale + interleave is a pure map-side projection —
    zero extra shuffles on the fact table. The floor/power bit
    arithmetic is engine-neutral, so the oracle reproduces zval
    bit-for-bit (see _z_sql)."""
    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id", F.expr("ts_us div 86400000000").alias("day")
    )
    b = ev.agg(
        F.min("user_id").alias("mn0"),
        F.max("user_id").alias("mx0"),
        F.min("day").alias("mn1"),
        F.max("day").alias("mx1"),
    )
    s = (
        ev.crossJoin(F.broadcast(b))
        .withColumn("s0", F.expr(_Z_SCALE0))
        .withColumn("s1", F.expr(_Z_SCALE1))
    )
    return s.select(
        "event_id", "user_id", "day", F.expr(_z_sql()).alias("zval")
    )


# CMS contract shared by the batch and streaming queries: depth=4,
# width=256, probe keys user_id %% 97 == 0. ONE oracle string and ONE
# probe/compare builder — the "streamed counters == batch counters"
# claim is enforced by both queries hashing against the same SQL.
CMS_DEPTH, CMS_WIDTH, CMS_PROBE_MOD = 4, 256, 97

CMS_ORACLE_SQL = """
    WITH h AS (
      SELECT e.user_id, t.j,
             ('0x' || substr(md5(CAST(t.j AS VARCHAR) || ':' ||
                 CAST(e.user_id AS VARCHAR)), 1, 8))::BIGINT % 256 AS bucket
      FROM events e, generate_series(0, 3) AS t(j)),
    counters AS (
      SELECT j, bucket, count(*) AS c FROM h GROUP BY 1, 2),
    q AS (SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0),
    qh AS (
      SELECT q.user_id, t.j,
             ('0x' || substr(md5(CAST(t.j AS VARCHAR) || ':' ||
                 CAST(q.user_id AS VARCHAR)), 1, 8))::BIGINT % 256 AS bucket
      FROM q, generate_series(0, 3) AS t(j)),
    est AS (
      SELECT user_id, CAST(min(COALESCE(c, 0)) AS BIGINT) AS n_cms
      FROM qh LEFT JOIN counters USING (j, bucket) GROUP BY 1),
    ex AS (
      SELECT user_id, count(*) AS n_exact
      FROM events WHERE user_id % 97 = 0 GROUP BY 1)
    SELECT user_id, n_exact, n_cms,
           n_cms >= n_exact AS never_underestimates
    FROM ex JOIN est USING (user_id)
    """


def cms_probe_compare(
    spark: SparkSession, sf_dir: str, counters: DataFrame
) -> DataFrame:
    """Probe the CMS ``counters`` with the shared key set and join the
    exact counts — the (user_id, n_exact, n_cms, never_underestimates)
    result both CMS queries hash against ``CMS_ORACLE_SQL``."""
    from ..operators.sketch import count_min_estimate

    ev = load_events(spark, sf_dir)
    probes = ev.filter(F.col("user_id") % CMS_PROBE_MOD == 0)
    keys = probes.select("user_id").distinct()
    est = count_min_estimate(
        counters, keys, "user_id", depth=CMS_DEPTH, width=CMS_WIDTH
    )
    exact = probes.groupBy("user_id").agg(F.count("*").alias("n_exact"))
    return exact.join(est, "user_id").select(
        "user_id",
        "n_exact",
        "n_cms",
        (F.col("n_cms") >= F.col("n_exact")).alias("never_underestimates"),
    )


@register(
    "sketch_count_min",
    CMS_ORACLE_SQL,
    tags=("sketch", "A4"),
)
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates vs exact counts for a probe
    key set. Unlike the HLL/GK queries (engine-specific estimates,
    bound-flag-checked only), CMS counters are md5-derived, so the
    ENTIRE sketch — counters and estimates — is reproduced by the
    oracle and value-hash-checked; the one-sided error guarantee
    (never underestimates) rides along as a checked flag.

    Scale: build = one map-side-combinable groupBy onto depth×width
    counters (a broadcast-size summary of any input size); estimate =
    broadcast lookup + per-key min, no corpus-sized shuffle. See
    operators/sketch.py::count_min_build."""
    from ..operators import sketch

    ev = load_events(spark, sf_dir)
    counters = sketch.count_min_build(
        ev, "user_id", depth=CMS_DEPTH, width=CMS_WIDTH
    )
    return cms_probe_compare(spark, sf_dir, counters)


@register(
    "sketch_hll_partitioned_union",
    """
    WITH per_source AS (
      SELECT source, count(DISTINCT text) AS nd FROM documents GROUP BY 1),
    g AS (SELECT count(DISTINCT text) AS nd_global FROM documents)
    SELECT s.source,
           CAST(s.nd AS BIGINT) AS nd_exact,
           TRUE AS source_within_5pct,
           CAST(g.nd_global AS BIGINT) AS nd_global_exact,
           TRUE AS union_within_5pct
    FROM per_source s, g
    """,
    tags=("sketch", "A4"),
)
def sketch_hll_partitioned_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistable, mergeable distinct-count sketches (Apache
    DataSketches HLL, Spark 3.5+ `hll_sketch_agg`/`hll_union_agg`):
    build ONE sketch per source partition, then answer the GLOBAL
    distinct-text question by merging the per-source sketch BYTES — no
    re-scan, no distinct shuffle. The pattern a 100 TB catalog uses:
    persist a few-KB sketch per partition at write time; any
    cross-partition distinct query becomes a merge of stored sketches.

    The estimates are engine-specific, so (like the other approx
    sketches) the oracle checks the exact counts plus the error-bound
    flags — per-source AND for the merged union (lgk=14 ⇒ well under
    5% at this cardinality)."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.expr("hll_sketch_agg(text, 14)").alias("sk"),
        F.countDistinct("text").alias("nd_exact"),
    )
    merged = per.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("nd_union_est")
    )
    g = d.agg(F.countDistinct("text").alias("nd_global_exact"))
    return (
        per.select(
            "source",
            "nd_exact",
            (
                F.abs(
                    F.expr("hll_sketch_estimate(sk)") - F.col("nd_exact")
                )
                <= 0.05 * F.col("nd_exact")
            ).alias("source_within_5pct"),
        )
        .crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(merged))
        .select(
            "source",
            "nd_exact",
            "source_within_5pct",
            "nd_global_exact",
            (
                F.abs(F.col("nd_union_est") - F.col("nd_global_exact"))
                <= 0.05 * F.col("nd_global_exact")
            ).alias("union_within_5pct"),
        )
    )


@register(
    "sketch_hll_intersection",
    """
    WITH a AS (SELECT DISTINCT text FROM documents WHERE lang = 'en'),
    b AS (SELECT DISTINCT text FROM documents WHERE n_chars >= 200),
    i AS (SELECT count(*) AS nd_exact FROM a WHERE text IN (SELECT text FROM b))
    SELECT nd_exact, TRUE AS est_within_10pct FROM i
    """,
    tags=("sketch", "A4", "U3"),
)
def sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-intersection cardinality from mergeable sketches via
    inclusion-exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), with the
    union estimated by MERGING the two stored HLL sketches — the
    overlap question ("how many docs are in both slices?") answered
    from persisted few-KB summaries without a join or re-scan.

    Inclusion-exclusion compounds the three estimates' errors, so the
    checked band is 10% (lgk=14 keeps each term ≲1%); the exact
    intersection is oracle-checked outright."""
    d = load_table(spark, sf_dir, "documents")
    a = d.filter(F.col("lang") == "en")
    b = d.filter(F.col("n_chars") >= 200)
    # ONE plan over a tagged union: per-side sketches in one grouped
    # agg, then est(A)+est(B) as a SUM over the two side rows and the
    # union estimate from merging them — each side is scanned once
    # (referencing separate per-side sketch frames twice would
    # re-execute their whole lineage: no cross-branch CSE in Spark).
    tagged = a.select("text").withColumn("side", F.lit("a")).unionByName(
        b.select("text").withColumn("side", F.lit("b"))
    )
    sides = tagged.groupBy("side").agg(
        F.expr("hll_sketch_agg(text, 14)").alias("sk")
    )
    est = sides.agg(
        (
            F.sum(F.expr("hll_sketch_estimate(sk)"))
            - F.expr("hll_sketch_estimate(hll_union_agg(sk))")
        ).alias("est")
    )
    exact = a.select("text").intersect(b.select("text")).agg(
        F.count("*").alias("nd_exact")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "nd_exact",
        (
            F.abs(F.col("est") - F.col("nd_exact"))
            <= 0.10 * F.greatest(F.col("nd_exact"), F.lit(1))
        ).alias("est_within_10pct"),
    )
