"""The t2 query corpus: named DataFrame queries + DuckDB oracle SQL.

Every operator category from SURVEY.md §2 (and the north-star
LLM-pipeline extensions) gets at least one named query here.  Each
entry is a callable ``(spark, sf_dir) -> DataFrame`` registered in
``QUERIES``; SQL-expressible ones also register the equivalent DuckDB
SQL in ``ORACLE``.  The driver hash-compares both at sf=0.01.

Float-parity strategy (load-bearing): Spark and DuckDB sum doubles in
different orders, so a plain ``sum(double)`` differs in the last bits
and fails hash equality.  Every aggregated double goes through an
EXACT fixed-point path instead: per-row ``floor(x*scale + 0.5)`` cast
to int64 (identical IEEE ops in both engines), exact integer sum, one
final division by the power-of-ten scale (exact for |sum| < 2^53).
Per-row (non-aggregated) float math is plain IEEE and deterministic,
so it needs no special handling.  ``sqrt`` is IEEE-correctly-rounded
(safe); ``ln``/``exp`` are libm-dependent (avoided in outputs).

Timestamp parity: ``events.ts`` is parquet TIMESTAMP(NANOS).  Spark
reads it as epoch-ns int64 (session.apply_runtime_conf); DuckDB
truncates to µs.  All event-time logic therefore works on
``ts div 1000`` (µs) vs ``epoch_us(ts)`` — exact int64 on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from . import catalog
from .operators import dedup as D
from .operators import multimodal as M
from .operators import pipeline as P
from .operators import retrieval as R
from .operators import similarity as S
from .operators import sketches as K
from .operators import text as X

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------- helpers
def fx(col: F.Column | str, scale: int) -> F.Column:
    """Exact fixed-point of a double: floor(x*scale + 0.5) as int64."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(float(scale)) + F.lit(0.5))


def fsum(col: F.Column | str, scale: int = 1_000_000) -> F.Column:
    """Hash-stable sum of a double column (see module docstring)."""
    return F.sum(fx(col, scale)) / F.lit(float(scale))


def favg(col: F.Column | str, scale: int = 1_000_000) -> F.Column:
    return fsum(col, scale) / F.count(F.lit(1))


def frms(col: F.Column | str, scale: int = 1_000_000) -> F.Column:
    """Hash-stable sqrt(mean(x^2)) — the reference's RMS kernel (A2)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sqrt(favg(c * c, scale))


def sql_fsum(expr: str, scale: int = 1_000_000) -> str:
    return f"SUM(CAST(floor(({expr})*{scale} + 0.5) AS BIGINT))/{scale}.0"


def sql_favg(expr: str, scale: int = 1_000_000) -> str:
    return f"{sql_fsum(expr, scale)}/count(*)"


def sql_frms(expr: str, scale: int = 1_000_000) -> str:
    return f"sqrt({sql_favg(f'({expr})*({expr})', scale)})"


def ts_us(col: str = "ts") -> F.Column:
    """events.ts (epoch ns int64) -> epoch µs, matching DuckDB epoch_us."""
    return F.expr(f"{col} div 1000")


US_PER_HOUR = 3_600_000_000
US_PER_DAY = 86_400_000_000


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog.load(spark, sf_dir, name)


def shared_index(docs: DataFrame, analyzer: str = "keep") -> DataFrame:
    """``retrieval.inverted_index`` materialized ONCE (lazy
    localCheckpoint) for queries that consume the index from SEVERAL
    subplans — corpus stats + scoring at minimum, plus vocab/champion/
    qrels arms in the capstones.  Each static consumer otherwise
    inlines the tokenize+explode+groupBy subtree, and because their
    pushed-down term filters differ, AQE exchange reuse cannot collapse
    them — measured at sf1 the corpus was tokenized once PER CONSUMER
    (q141: 5x, ~4 s each).  The checkpoint materializes inside the
    timed action (eager=False — nothing precomputes at plan-build
    time) and is recomputed from parquet on every invocation; it is
    the inline-build mirror of the persisted-artifact serving path.

    NOT for single-consumer searches (q132/q134/q135/q137/q142):
    there the planner pushes the query's term filter below the index
    groupBy, pruning collect_list work for non-matching terms —
    materializing the FULL positional index costs more than it saves
    (measured regressions 1.4->2.9 s, 2.5->3.9 s at sf1; see
    OPTIMIZATION_r18.md)."""
    return R.inverted_index(docs, analyzer=analyzer).localCheckpoint(
        eager=False
    )


# ============================================================== flagship
# The reference pipeline's shape on the driver's events table: tumbling
# time buckets -> completeness gate (observed span >= frac of bucket) ->
# RMS -> bucket-start timestamp -> ordered write (main.py:146-181).
# Daily buckets here because events are sparse; the true 1-second twin
# runs on decoded .dat fixtures (operators/telemetry.tumbling_rms).
@query(
    "q00_flagship_daily_rms",
    f"""
    SELECT (epoch_us(ts) // {86_400_000_000}) * {86_400_000_000} AS bucket_us,
           {sql_frms('value', 1_000_000)} AS rms_value,
           count(*) AS n_events
    FROM events
    GROUP BY epoch_us(ts) // {86_400_000_000}
    HAVING max(epoch_us(ts)) - min(epoch_us(ts)) >= {int(0.9 * 86_400_000_000)}
    ORDER BY bucket_us
    """,
)
def q00(spark, sf_dir):
    e = T(spark, sf_dir, "events").withColumn("ts_us", ts_us())
    return (
        e.withColumn("bucket", F.expr(f"ts_us div {US_PER_DAY}"))
        .groupBy("bucket")
        .agg(
            frms("value", 1_000_000).alias("rms_value"),
            F.count(F.lit(1)).alias("n_events"),
            (F.max("ts_us") - F.min("ts_us")).alias("_span"),
        )
        .where(F.col("_span") >= F.lit(int(0.9 * US_PER_DAY)))
        .select(
            (F.col("bucket") * F.lit(US_PER_DAY)).alias("bucket_us"),
            "rms_value",
            "n_events",
        )
        .orderBy("bucket_us")
    )


# ======================================================= relational corpus
# -- q01: TPC-H Q1 shape — scan+filter+groupBy w/ decomposable aggs (A-class)
@query(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_fsum('l_quantity', 100)} AS sum_qty,
           {sql_fsum('l_extendedprice', 100)} AS sum_base_price,
           {sql_fsum('l_extendedprice*(1-l_discount)', 100)} AS sum_disc_price,
           {sql_fsum('l_extendedprice*(1-l_discount)*(1+l_tax)', 100)} AS sum_charge,
           {sql_favg('l_quantity', 100)} AS avg_qty,
           {sql_favg('l_extendedprice', 100)} AS avg_price,
           {sql_favg('l_discount', 1_000_000)} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    l = T(spark, sf_dir, "lineitem")
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            fsum("l_quantity", 100).alias("sum_qty"),
            fsum("l_extendedprice", 100).alias("sum_base_price"),
            fsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 100).alias(
                "sum_disc_price"
            ),
            fsum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                100,
            ).alias("sum_charge"),
            favg("l_quantity", 100).alias("avg_qty"),
            favg("l_extendedprice", 100).alias("avg_price"),
            favg("l_discount", 1_000_000).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# -- q02: 3-way join + group + top-k (J4, sorts/limits §2.6)
@query(
    "q02_top_revenue_orders",
    f"""
    SELECT o.o_orderkey, c.c_name,
           {sql_fsum('l.l_extendedprice*(1-l.l_discount)', 100)} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_orderkey, c.c_name
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q02(spark, sf_dir):
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "c_name")
        .agg(
            fsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 100).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


# -- q03: star join across all dims (broadcast dims — the 100 TB plan)
@query(
    "q03_region_revenue",
    f"""
    SELECT r.r_name, n.n_name,
           {sql_fsum('l.l_extendedprice*(1-l.l_discount)', 100)} AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    ORDER BY r.r_name, n.n_name
    """,
)
def q03(spark, sf_dir):
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            fsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 100).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


# -- q04/q05: semi/anti joins (J1 generalization)
@query(
    "q04_customers_with_orders",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q04(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@query(
    "q05_customers_without_orders",
    """
    SELECT n.n_name, count(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY n.n_name ORDER BY n.n_name
    """,
)
def q05(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    )
    n = T(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_name")
    )


# -- q06: distinct aggregation (A6)
@query(
    "q06_priority_distinct_customers",
    """
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_custs,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q06(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


# -- q07: rollup / grouping sets (A7)
@query(
    "q07_rollup_quantity",
    f"""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           {sql_fsum('l_quantity', 100)} AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
)
def q07(spark, sf_dir):
    l = T(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(fsum("l_quantity", 100).alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
        .orderBy("returnflag", "linestatus")
    )


# -- q08: ranking window (W2)
@query(
    "q08_top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders) WHERE rk <= 3 AND o_custkey <= 100
    ORDER BY o_custkey, rk
    """,
)
def q08(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") <= 3) & (F.col("o_custkey") <= 100))
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
        .orderBy("o_custkey", "rk")
    )


# -- q09: analytic offset window (W3) on event time
@query(
    "q09_event_gaps",
    """
    SELECT event_id, user_id, gap_us FROM (
      SELECT event_id, user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
      FROM events)
    WHERE gap_us IS NOT NULL AND user_id <= 20
    ORDER BY user_id, event_id
    """,
)
def q09(spark, sf_dir):
    e = T(spark, sf_dir, "events").withColumn("ts_us", ts_us())
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        e.withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
        .where(F.col("gap_us").isNotNull() & (F.col("user_id") <= 20))
        .select("event_id", "user_id", "gap_us")
        .orderBy("user_id", "event_id")
    )


# -- q10: set operations (§2.7)
@query(
    "q10_purchaser_segments",
    """
    (SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 100
     INTERSECT
     SELECT user_id FROM events WHERE event_type = 'click')
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error' AND value > 450
    ORDER BY user_id
    """,
)
def q10(spark, sf_dir):
    e = T(spark, sf_dir, "events")

    def pick(t, min_value=None):
        d = e.where(F.col("event_type") == t)
        if min_value is not None:
            d = d.where(F.col("value") > min_value)
        return d.select("user_id")

    return (
        pick("purchase", 100)
        .intersect(pick("click"))
        .exceptAll(pick("error", 450))
        .distinct()
        .orderBy("user_id")
    )


# -- q11: top-k with deterministic tiebreak (§2.6)
@query(
    "q11_top_parts",
    """
    SELECT p_partkey, p_name, p_retailprice FROM part
    ORDER BY p_retailprice DESC, p_partkey LIMIT 20
    """,
)
def q11(spark, sf_dir):
    return (
        T(spark, sf_dir, "part")
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy(F.desc("p_retailprice"), "p_partkey")
        .limit(20)
    )


# -- q12: as-of join (J3 family). Spark-first: union-tag-and-carry-forward
#    (one sort-shuffle, no per-row subquery); oracle uses a correlated MAX.
@query(
    "q12_asof_last_signup",
    """
    SELECT e.event_id, e.user_id,
           (SELECT max(epoch_us(s.ts)) FROM events s
            WHERE s.user_id = e.user_id AND s.event_type = 'signup'
              AND epoch_us(s.ts) <= epoch_us(e.ts)) AS signup_us
    FROM events e
    WHERE e.event_type = 'purchase'
      AND EXISTS (SELECT 1 FROM events s WHERE s.user_id = e.user_id
                  AND s.event_type = 'signup'
                  AND epoch_us(s.ts) <= epoch_us(e.ts))
    ORDER BY e.event_id
    """,
)
def q12(spark, sf_dir):
    e = T(spark, sf_dir, "events").withColumn("ts_us", ts_us())
    tagged = e.select(
        "event_id",
        "user_id",
        "ts_us",
        F.when(F.col("event_type") == "signup", F.col("ts_us")).alias("signup_ts"),
        (F.col("event_type") == "purchase").alias("is_purchase"),
        (F.col("event_type") == "signup").alias("is_signup"),
    ).where(F.col("is_purchase") | F.col("is_signup"))
    # carry the latest signup time forward in event order per user: an
    # as-of join as ONE window pass over the unioned stream (scales as a
    # single sort within user partitions; no O(n^2) subquery).
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "is_purchase")  # signup sorts before purchase at same ts
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("signup_us", F.last("signup_ts", ignorenulls=True).over(w))
        .where(F.col("is_purchase") & F.col("signup_us").isNotNull())
        .select("event_id", "user_id", "signup_us")
        .orderBy("event_id")
    )


# -- q13: interval join — label events inside each user's first week (J3)
@query(
    "q13_first_week_events",
    """
    WITH iv AS (
      SELECT user_id, min(epoch_us(ts)) AS t0,
             min(epoch_us(ts)) + 604800000000 AS t1
      FROM events GROUP BY user_id)
    SELECT e.event_type, count(*) AS n_events
    FROM events e JOIN iv ON e.user_id = iv.user_id
      AND epoch_us(e.ts) >= iv.t0 AND epoch_us(e.ts) < iv.t1
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def q13(spark, sf_dir):
    e = T(spark, sf_dir, "events").withColumn("ts_us", ts_us())
    iv = e.groupBy("user_id").agg(
        F.min("ts_us").alias("t0"), (F.min("ts_us") + F.lit(604_800_000_000)).alias("t1")
    )
    return (
        e.join(
            F.broadcast(iv),
            (e.user_id == iv.user_id) & (e.ts_us >= iv.t0) & (e.ts_us < iv.t1),
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )


# -- q14: the reference's tumbling-RMS shape on events (W1+A1+A2-A5),
#    hourly buckets per event_type, completeness = span >= 0.5 h.
@query(
    "q14_hourly_rms",
    f"""
    SELECT event_type,
           (epoch_us(ts) // {US_PER_HOUR}) * {US_PER_HOUR} AS bucket_us,
           {sql_frms('value', 1_000_000)} AS rms_value,
           count(*) AS n_events
    FROM events
    GROUP BY event_type, epoch_us(ts) // {US_PER_HOUR}
    HAVING max(epoch_us(ts)) - min(epoch_us(ts)) >= {US_PER_HOUR // 2}
    ORDER BY event_type, bucket_us
    """,
)
def q14(spark, sf_dir):
    e = T(spark, sf_dir, "events").withColumn("ts_us", ts_us())
    return (
        e.withColumn("bucket", F.expr(f"ts_us div {US_PER_HOUR}"))
        .groupBy("event_type", "bucket")
        .agg(
            frms("value", 1_000_000).alias("rms_value"),
            F.count(F.lit(1)).alias("n_events"),
            (F.max("ts_us") - F.min("ts_us")).alias("_span"),
        )
        .where(F.col("_span") >= F.lit(US_PER_HOUR // 2))
        .select(
            "event_type",
            (F.col("bucket") * F.lit(US_PER_HOUR)).alias("bucket_us"),
            "rms_value",
            "n_events",
        )
        .orderBy("event_type", "bucket_us")
    )


# -- q15: gap-based sessionization (lag + running sum window composition)
@query(
    "q15_user_sessions",
    """
    WITH g AS (
      SELECT user_id, epoch_us(ts) AS t,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                  > 86400000000 THEN 1 ELSE 0 END AS brk
      FROM events),
    s AS (
      SELECT user_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g)
    SELECT user_id, count(DISTINCT session_id) AS n_sessions
    FROM s GROUP BY user_id ORDER BY user_id
    """,
)
def q15(spark, sf_dir):
    e = T(spark, sf_dir, "events").withColumn("t", ts_us())
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    ws = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = e.withColumn(
        "brk",
        F.when(F.col("t") - F.lag("t").over(w) > F.lit(US_PER_DAY), 1).otherwise(0),
    )
    return (
        g.withColumn("session_id", F.sum("brk").over(ws))
        .groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"))
        .orderBy("user_id")
    )


# ================================================== scalar-function corpus
# -- q16: string functions on values (F1/F2/F11)
@query(
    "q16_part_string_funcs",
    """
    SELECT p_partkey,
           lower(p_brand) AS brand_lower,
           replace(p_brand, 'Brand#', 'B') AS brand_short,
           substr(p_type, 1, 6) AS type_prefix,
           length(p_name) AS name_len,
           concat(p_brand, '/', p_type) AS brand_type,
           regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowels
    FROM part WHERE p_partkey <= 200 ORDER BY p_partkey
    """,
)
def q16(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    return (
        p.where(F.col("p_partkey") <= 200)
        .select(
            "p_partkey",
            F.lower("p_brand").alias("brand_lower"),
            F.regexp_replace("p_brand", "Brand#", "B").alias("brand_short"),
            F.substring("p_type", 1, 6).alias("type_prefix"),
            F.length("p_name").alias("name_len"),
            F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
            F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowels"),
        )
        .orderBy("p_partkey")
    )


# -- q17: date/time functions (F3-F7)
@query(
    "q17_orders_date_funcs",
    f"""
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           count(*) AS n_orders,
           {sql_fsum('o_totalprice', 100)} AS total,
           min(strftime(o_orderdate, '%Y%m%d_%H%M%S')) AS first_stamp
    FROM orders
    GROUP BY yr, qtr ORDER BY yr, qtr
    """,
)
def q17(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"), F.quarter("o_orderdate").alias("qtr")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fsum("o_totalprice", 100).alias("total"),
            F.min(F.date_format("o_orderdate", "yyyyMMdd_HHmmss")).alias("first_stamp"),
        )
        .orderBy("yr", "qtr")
    )


# -- q18: math functions (F7/F8); fixed-point guard on every float output
@query(
    "q18_lineitem_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(floor(sqrt(l_extendedprice)*1000000 + 0.5) AS BIGINT) AS sqrt_price_fx,
           CAST(floor(pow(l_discount, 2)*1000000000 + 0.5) AS BIGINT) AS disc_sq_fx,
           abs(l_quantity - 25.0) AS qty_dev,
           CAST(floor(l_extendedprice/100) AS BIGINT) AS price_bucket,
           CAST(ceil(l_quantity/7) AS BIGINT) AS qty_ceil7
    FROM lineitem WHERE l_orderkey <= 400 ORDER BY l_orderkey, l_linenumber
    """,
)
def q18(spark, sf_dir):
    l = T(spark, sf_dir, "lineitem")
    return (
        l.where(F.col("l_orderkey") <= 400)
        .select(
            "l_orderkey",
            "l_linenumber",
            fx(F.sqrt("l_extendedprice"), 1_000_000).alias("sqrt_price_fx"),
            fx(F.pow("l_discount", 2), 1_000_000_000).alias("disc_sq_fx"),
            F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
            F.floor(F.col("l_extendedprice") / 100).alias("price_bucket"),
            F.ceil(F.col("l_quantity") / 7).alias("qty_ceil7"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# -- q19: JSON-ish extraction from the props string column (F9)
@query(
    "q19_events_json_extract",
    r"""
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q19(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.sum(
                F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long")
            ).alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


# -- q20: array functions over embeddings (F10): per-row norm, exact dot
@query(
    "q20_embedding_norms",
    """
    SELECT vec_id, label,
           len(embedding) AS dim,
           CAST(floor(sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))*1000000 + 0.5) AS BIGINT)
             AS norm_fx
    FROM embeddings WHERE vec_id <= 200 ORDER BY vec_id
    """,
)
def q20(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        e.where(F.col("vec_id") <= 200)
        .select(
            "vec_id",
            "label",
            F.size("embedding").alias("dim"),
            fx(F.sqrt(sq_sum), 1_000_000).alias("norm_fx"),
        )
        .orderBy("vec_id")
    )


# ================================================ north-star: dedup corpus
# -- q21: exact-dedup statistics (hash-groupBy dedup, the 100 TB staple)
@query(
    "q21_dedup_exact_stats",
    """
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_distinct,
           count(*) - count(DISTINCT md5(text)) AS n_dupes
    FROM documents GROUP BY source ORDER BY source
    """,
)
def q21(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dupes"),
        )
        .orderBy("source")
    )


# -- q22: exact dedup keep-first (operators/dedup.exact_dedup)
@query(
    "q22_dedup_keep_first",
    """
    SELECT d.doc_id, d.lang, d.source FROM documents d
    JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
      ON d.doc_id = k.doc_id
    ORDER BY d.doc_id
    """,
)
def q22(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return (
        D.exact_dedup(d, ["text"], "doc_id")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# ================================================= north-star: text corpus
# -- q23: quality features (operators/text.quality_features)
@query(
    "q23_text_quality",
    r"""
    WITH t AS (
      SELECT doc_id, text,
             string_split_regex(trim(text), '\s+') AS toks
      FROM documents WHERE doc_id <= 200)
    SELECT doc_id,
           length(text) AS n_chars_obs,
           len(toks) AS n_tokens,
           len(list_filter(toks, x -> x IN ('the','a','and','of','to','in')))
             AS n_stopwords,
           length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct,
           md5(array_to_string(toks, ' ')) AS fingerprint,
           (len(toks) >= 5 AND length(text) >= 20
            AND len(list_filter(toks, x -> x IN ('the','a','and','of','to','in')))*20
                >= len(toks)) AS quality_keep
    FROM t ORDER BY doc_id
    """,
)
def q23(spark, sf_dir):
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 200)
    return (
        X.quality_features(d)
        .select(
            "doc_id",
            "n_chars_obs",
            "n_tokens",
            "n_stopwords",
            "n_punct",
            "fingerprint",
            "quality_keep",
        )
        .orderBy("doc_id")
    )


# -- q24: heuristic language-ID vs the labeled lang column
@query(
    "q24_langid_confusion",
    """
    SELECT lang,
           CASE WHEN contains(' '||text||' ', ' der ') OR contains(' '||text||' ', ' und ')
                     OR contains(' '||text||' ', ' nicht ') THEN 'de'
                WHEN contains(' '||text||' ', ' le ') OR contains(' '||text||' ', ' et ')
                     OR contains(' '||text||' ', ' les ') THEN 'fr'
                WHEN contains(' '||text||' ', ' el ') OR contains(' '||text||' ', ' y ')
                     OR contains(' '||text||' ', ' los ') THEN 'es'
                WHEN contains(' '||text||' ', ' the ') OR contains(' '||text||' ', ' a ')
                     OR contains(' '||text||' ', ' and ') THEN 'en'
                ELSE 'und' END AS lang_pred,
           count(*) AS n
    FROM documents GROUP BY lang, lang_pred ORDER BY lang, lang_pred
    """,
)
def q24(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return (
        d.withColumn("lang_pred", X.lang_id("text"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


# ========================================== north-star: similarity corpus
# -- q25: brute-force cosine top-k (operators/similarity.cosine_topk)
@query(
    "q25_cosine_topk",
    """
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           CAST(floor(list_dot_product(
                list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv
              )*1000000 + 0.5) AS BIGINT) AS sim_fx
    FROM embeddings e, q
    ORDER BY sim_fx DESC, e.vec_id LIMIT 10
    """,
)
def q25(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    topk = S.cosine_topk(e, qvec, k=10)
    return topk.select(
        "vec_id", fx(F.col("cos_sim"), 1_000_000).alias("sim_fx")
    ).orderBy(F.desc("sim_fx"), "vec_id")


# -- q26: MinHash-LSH near-dup (rows-only: hash perms aren't portable SQL).
#    Input is documents plus deterministic mutated copies (10% of docs,
#    last 2 tokens dropped, id+1000000) so true near-dups exist and the
#    LSH recall is observable in the result.
@query("q26_minhash_near_dup")
def q26(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    mut = (
        d.where(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.array_join(
                F.slice(X.tokens("text"), 1, F.greatest(X.token_count("text") - 2, F.lit(1))),
                " ",
            ).alias("text"),
        )
    )
    # k=16/bands=4: same per-band precision (r=4) as the k=32/bands=8
    # default with half the signature work; measured recall on the
    # planted dups 0.988 vs 1.0 (they sit at J~0.9 where detection is
    # 1-(1-J^4)^4 ~ 0.986) — the right speed/recall point for a
    # benchmark query; recall-critical callers keep the default.
    pairs = D.minhash_dedup_pairs(
        d.unionByName(mut), "doc_id", "text", k=16, bands=4, threshold=0.5
    )
    # sortWithinPartitions, not orderBy: a near-dup pair table is not a
    # display artifact — at 100 TB nobody total-orders it, and the rows-
    # only grade doesn't either.  A global sort adds a range exchange
    # PLUS a driver sampling pass that re-executes the verify stage;
    # the local sort keeps deterministic per-partition order for free
    # (and AQE coalesces the small result to one partition locally, so
    # the printed output is totally ordered anyway).
    return pairs.select("id_a", "id_b", "n_common", "n_a", "n_b").sortWithinPartitions(
        "id_a", "id_b"
    )


# -- q27: SimHash near-dup candidates on the same mutated corpus
#    (rows-only: xxhash64 bit patterns aren't portable SQL)
@query("q27_simhash_candidates")
def q27(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    mut = (
        d.where(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.array_join(
                F.slice(X.tokens("text"), 1, F.greatest(X.token_count("text") - 2, F.lit(1))),
                " ",
            ).alias("text"),
        )
    )
    sig = D.simhash(d.unionByName(mut), "doc_id", "text")
    return (
        D.simhash_candidate_pairs(sig, "doc_id")
        .where(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


# -- q29: embedding cosine near-dup pairs, bounded brute force (oracle);
#    the scale path (LSH-bucketed blocking) is exercised in tests
@query(
    "q29_embedding_near_dup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(floor(list_dot_product(
                  list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                  list_transform(b.embedding, x -> CAST(x AS DOUBLE))
                )*1000000 + 0.5) AS BIGINT) AS sim_fx
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id <= 300 AND b.vec_id <= 300
      AND list_dot_product(
            list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
            list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def q29(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings").where(F.col("vec_id") <= 300)
    # exact all-pairs to mirror the SQL oracle; brute is opt-in only
    pairs = D.embedding_near_dup_pairs(e, threshold=0.4, allow_brute=True)
    return pairs.select(
        "id_a", "id_b", fx(F.col("cos_sim"), 1_000_000).alias("sim_fx")
    ).orderBy("id_a", "id_b")


# ======================================== north-star: multimodal plumbing
# -- q30: binary payload metadata — the never-decode manifest path
@query(
    "q30_multimodal_meta",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS digest
    FROM documents WHERE doc_id <= 200 ORDER BY doc_id
    """,
)
def q30(spark, sf_dir):
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 200)
    return (
        M.payload_meta(M.attach_payload(d))
        .select("doc_id", "n_bytes", "digest")
        .orderBy("doc_id")
    )


# -- q31: mapInPandas media decode (fake kernel; rows-only — the Arrow
#    batch plumbing and schema contract are what's under test)
@query("q31_media_decode")
def q31(spark, sf_dir):
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 100)
    meta = M.decode_media(M.attach_payload(d), n_features=8)
    return meta.select(
        "media_id",
        "media_type",
        "n_bytes",
        "digest",
        "width",
        "height",
        F.round(F.element_at("features", 1) * 1000).cast("long").alias("feat0_fx"),
    ).orderBy("media_id")


# ======================================= plugin surface + window breadth
# -- q33: the U1 plugin chain as a graded query — two plugins compose
#    lazily and Catalyst optimizes across the plugin boundary.
@query(
    "q33_plugin_chain",
    f"""
    SELECT event_type,
           count(*) AS n,
           {sql_fsum('abs(value)', 1_000_000)} AS sum_abs
    FROM events
    WHERE abs(value) > 10
    GROUP BY event_type ORDER BY event_type
    """,
)
def q33(spark, sf_dir):
    from .operators.plugins import FunctionPlugin, PluginChain

    chain = PluginChain(
        [
            FunctionPlugin(
                lambda d: d.withColumn("abs_value", F.abs("value")), "abs"
            ),
            FunctionPlugin(lambda d: d.where(F.col("abs_value") > 10), "gate"),
        ]
    )
    e = chain.apply(T(spark, sf_dir, "events"))
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            fsum("abs_value", 1_000_000).alias("sum_abs"),
        )
        .orderBy("event_type")
    )


# -- q34: CUBE — all grouping-set combinations (A7 beyond q07's rollup)
@query(
    "q34_cube_priority_year",
    f"""
    SELECT coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS yr,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           {sql_fsum('o_totalprice', 100)} AS total
    FROM orders
    GROUP BY CUBE(year(o_orderdate), o_orderpriority)
    ORDER BY yr, priority
    """,
)
def q34(spark, sf_dir):
    o = T(spark, sf_dir, "orders").withColumn("_yr", F.year("o_orderdate"))
    return (
        o.cube("_yr", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), fsum("o_totalprice", 100).alias("total"))
        .select(
            F.coalesce(F.col("_yr").cast("string"), F.lit("ALL")).alias("yr"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total",
        )
        .orderBy("yr", "priority")
    )


# -- q35: sliding event-time window (W4 — the moving RMS the reference
#    never had): per event_type, RMS over the trailing hour via a RANGE
#    frame; fixed-point inner sum keeps hash parity with DuckDB.
@query(
    "q35_moving_rms",
    f"""
    SELECT event_id, event_type,
           CAST(floor(sqrt(
             CAST(sum(CAST(floor(value*value*1000000 + 0.5) AS BIGINT))
                  OVER w AS DOUBLE) / 1000000.0
             / count(*) OVER w
           )*1000000 + 0.5) AS BIGINT) AS moving_rms_fx
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                 RANGE BETWEEN {US_PER_HOUR} PRECEDING AND CURRENT ROW)
    ORDER BY event_id LIMIT 500
    """,
)
def q35(spark, sf_dir):
    e = T(spark, sf_dir, "events").withColumn("ts_us", ts_us())
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_us")
        .rangeBetween(-US_PER_HOUR, 0)
    )
    rms = F.sqrt(
        (F.sum(fx(F.col("value") * F.col("value"), 1_000_000)).over(w) / 1e6)
        / F.count(F.lit(1)).over(w)
    )
    return (
        e.select(
            "event_id", "event_type", fx(rms, 1_000_000).alias("moving_rms_fx")
        )
        .orderBy("event_id")
        .limit(500)
    )


# -- q36: ranking breadth — dense_rank + ntile (W2 beyond q08's row_number)
@query(
    "q36_rank_ntile",
    """
    SELECT o_custkey, o_orderkey,
           dense_rank() OVER w AS drk,
           ntile(4) OVER w AS quartile
    FROM orders
    WHERE o_custkey <= 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_custkey, drk, o_orderkey
    """,
)
def q36(spark, sf_dir):
    o = T(spark, sf_dir, "orders").where(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.dense_rank().over(w).alias("drk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy("o_custkey", "drk", "o_orderkey")
    )


# -- q37: approximate count-distinct (A6 approx; HLL sketches aren't
#    portable across engines so this is a rows-only check — the exact
#    twin rides along so the relative error is visible in the output)
@query("q37_approx_distinct")
def q37(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- north-star text additions
# -- q38: BPE-ish token counting (the LLM-token budget estimator)
@query(
    "q38_bpe_token_stats",
    f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')))
             AS BIGINT) AS bpe_tokens,
           CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS ws_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q38(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(X.bpe_ish_token_count("text")).alias("bpe_tokens"),
            F.sum(X.token_count("text")).alias("ws_tokens"),
        )
        .orderBy("lang")
    )


# -- q39: winnowing fingerprints (rolling-hash document fingerprinting;
#    min-hash per sliding window of k-gram hashes, SIGMOD'03)
@query(
    "q39_winnow_fingerprints",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents WHERE doc_id <= 100 AND length(trim(text)) > 0),
    h AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(toks)-2, 1)+1),
               i -> md5(array_to_string(toks[CAST(i AS INT):CAST(i+2 AS INT)], ' ')))
               AS hs
      FROM t),
    wm AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(hs)-3, 1)+1),
               j -> list_aggregate(hs[CAST(j AS INT):CAST(j+3 AS INT)], 'min')))
               AS fps
      FROM h)
    SELECT doc_id, unnest(fps) AS fingerprint
    FROM wm ORDER BY doc_id, fingerprint
    """,
)
def q39(spark, sf_dir):
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 100)
    return X.winnow_fingerprints(d, "doc_id", "text", k=3, w=4).orderBy(
        "doc_id", "fingerprint"
    )


# ------------------------------------- north-star similarity scale path
# -- q40: IVF approximate top-k (rows-only: the probe set depends on the
#    engine-side codebook; tests/test_dedup_similarity.py asserts recall
#    against the exact brute-force top-k)
@query("q40_ivf_topk")
def q40(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    cents = S.train_centroids_sample(e, n_centroids=16)
    assigned = S.ivf_assign(e, cents)
    topk = S.ivf_topk(assigned, cents, qvec, k=10, n_probe=4)
    return topk.select(
        "vec_id", fx(F.col("cos_sim"), 1_000_000).alias("sim_fx")
    ).orderBy(F.desc("sim_fx"), "vec_id")


# -- q55: IVF with Lloyd-refined codebook (rows-only: iterative
#    algorithm, not SQL-expressible; monotonicity + recall pinned by
#    tests/test_dedup_similarity.py::test_kmeans_refine_monotone_*)
@query("q55_ivf_refined_topk")
def q55(spark, sf_dir):
    import numpy as np

    e = T(spark, sf_dir, "embeddings")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    seeds = S.train_centroids_sample(e, n_centroids=16)
    seeds = seeds / np.maximum(np.linalg.norm(seeds, axis=1, keepdims=True), 1e-12)
    cents = S.kmeans_refine(e, seeds, n_iter=2)
    assigned = S.ivf_assign(e, cents)
    topk = S.ivf_topk(assigned, cents, qvec, k=10, n_probe=4)
    return topk.select(
        "vec_id", fx(F.col("cos_sim"), 1_000_000).alias("sim_fx")
    ).orderBy(F.desc("sim_fx"), "vec_id")


# -- q41: LSH-bucketed embedding near-dup — the blocking path that
#    replaces q29's bounded brute force at scale (rows-only: hyperplane
#    projections aren't portable SQL)
@query("q41_lsh_near_dup")
def q41(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings").where(F.col("vec_id") <= 300)
    dim = len(e.select("embedding").first()[0])
    # 4 planes x 8 tables: collision prob ~0.75 at cos=0.4 (the demo
    # threshold); a production near-dup pass at cos>=0.9 would flip to
    # more planes per table (see with_lsh_bucket docstring).
    blocked = S.with_lsh_bucket(e, n_planes=4, n_tables=8, dim=dim)
    pairs = D.embedding_near_dup_pairs(
        blocked, threshold=0.4, block_col="lsh_bucket"
    )
    return pairs.select(
        "id_a", "id_b", fx(F.col("cos_sim"), 1_000_000).alias("sim_fx")
    ).orderBy("id_a", "id_b")


# -- q42: video frame-sampling fan-out (U5 one-to-many over mapInPandas;
#    oracle checks the row-structure contract — ids, frame indexes,
#    timestamps — via a SQL cross-join fan-out; frame bytes are engine-
#    side sha256 and tested in tests/test_text_multimodal.py)
@query(
    "q42_frame_sample",
    """
    SELECT d.doc_id AS media_id,
           CAST(g.range AS INT) AS frame_idx,
           CAST(g.range * 500 AS BIGINT) AS ts_ms
    FROM documents d CROSS JOIN range(6) g
    WHERE d.doc_id <= 100
    ORDER BY media_id, frame_idx
    """,
)
def q42(spark, sf_dir):
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 100)
    frames = M.sample_frames(M.attach_payload(d), fps=2.0, duration_s=3.0)
    return frames.select(
        "media_id",
        "frame_idx",
        (F.col("ts_s").cast("double") * 1000).cast("long").alias("ts_ms"),
    ).orderBy("media_id", "frame_idx")


# ------------------------------------------------ relational long tail
# -- q43: ordered string aggregation (collect_list -> sort -> join;
#    deterministic because the order is total)
@query(
    "q43_ordered_string_agg",
    """
    SELECT n.n_name,
           string_agg(c.c_name, ',' ORDER BY c.c_name) AS names,
           count(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_custkey <= 200
    GROUP BY n.n_name ORDER BY n.n_name
    """,
)
def q43(spark, sf_dir):
    c = T(spark, sf_dir, "customer").where(F.col("c_custkey") <= 200)
    n = T(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("names"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .orderBy("n_name")
    )


# -- q44: pivot (orders status x year) — Spark's pivot() vs conditional
#    aggregation in the oracle; explicit value list keeps columns stable
@query(
    "q44_pivot_order_status",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM orders GROUP BY yr ORDER BY yr
    """,
)
def q44(spark, sf_dir):
    o = T(spark, sf_dir, "orders").withColumn("yr", F.year("o_orderdate"))
    return (
        o.groupBy("yr")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0, ["O", "F", "P"])
        .orderBy("yr")
    )


# -- q45: exact percentile/median (l_quantity is whole-valued, so the
#    midpoint interpolation is exactly representable on both engines)
@query(
    "q45_median_quantity",
    """
    SELECT l_returnflag,
           median(l_quantity) AS median_qty,
           quantile_cont(l_quantity, 0.25) AS q1_qty,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q45(spark, sf_dir):
    l = T(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
            F.percentile("l_quantity", F.lit(0.25)).alias("q1_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


# -- q46: explicit UNION ALL (§2.7's last uncovered member)
@query(
    "q46_union_all_slices",
    f"""
    SELECT event_type, count(*) AS n, {sql_fsum('value', 1_000_000)} AS total
    FROM (
      SELECT event_type, value FROM events WHERE value > 400
      UNION ALL
      SELECT event_type, value FROM events WHERE event_type = 'signup'
    )
    GROUP BY event_type ORDER BY event_type
    """,
)
def q46(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    u = e.where(F.col("value") > 400).select("event_type", "value").unionAll(
        e.where(F.col("event_type") == "signup").select("event_type", "value")
    )
    return (
        u.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), fsum("value", 1_000_000).alias("total"))
        .orderBy("event_type")
    )


# -- q47: the tag/label interval join as a graded query (J3 — the
#    reference's latent `labeled` path): label every event falling in
#    its user's first post-purchase day via telemetry.label_samples.
@query(
    "q47_label_events",
    """
    WITH tags AS (
      SELECT user_id,
             min(epoch_us(ts)) AS t_start,
             min(epoch_us(ts)) + 86400000000 AS t_end
      FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT e.event_type, count(*) AS n_labeled
    FROM events e JOIN tags g
      ON e.user_id = g.user_id
     AND epoch_us(e.ts) >= g.t_start AND epoch_us(e.ts) < g.t_end
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def q47(spark, sf_dir):
    from .operators.telemetry import label_samples

    e = T(spark, sf_dir, "events").withColumn("ts_us", ts_us())
    tags = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.min("ts_us").alias("t_start"),
            (F.min("ts_us") + F.lit(US_PER_DAY)).alias("t_end"),
        )
        .withColumn("tag", F.lit("post_purchase"))
    )
    labeled = label_samples(
        e,
        tags,
        time_col="ts_us",
        extra_keys=["user_id"],
        how="inner",
    )
    return (
        labeled.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_labeled"))
        .orderBy("event_type")
    )


# -- q48: struct + map column functions (F10's composite-type tail;
#    DTDL Objects map to StructType per SURVEY §1.2): pack per-order
#    structs, explode a map built from entries, read nested fields back.
@query(
    "q48_struct_map_funcs",
    """
    WITH s AS (
      SELECT o_orderkey,
             {'priority': o_orderpriority, 'price': o_totalprice} AS info,
             MAP {'yr': CAST(year(o_orderdate) AS BIGINT),
                  'mo': CAST(month(o_orderdate) AS BIGINT)} AS parts
      FROM orders WHERE o_orderkey <= 200)
    SELECT o_orderkey,
           info.priority AS priority,
           CAST(floor(info.price*100 + 0.5) AS BIGINT) AS price_fx,
           parts['yr'][1] AS yr,
           parts['mo'][1] AS mo,
           cardinality(parts) AS n_keys
    FROM s ORDER BY o_orderkey
    """,
)
def q48(spark, sf_dir):
    o = T(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 200)
    s = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_totalprice").alias("price"),
        ).alias("info"),
        F.create_map(
            F.lit("yr"), F.year("o_orderdate").cast("long"),
            F.lit("mo"), F.month("o_orderdate").cast("long"),
        ).alias("parts"),
    )
    return s.select(
        "o_orderkey",
        F.col("info.priority").alias("priority"),
        fx(F.col("info.price"), 100).alias("price_fx"),
        F.col("parts")["yr"].alias("yr"),
        F.col("parts")["mo"].alias("mo"),
        F.size("parts").alias("n_keys"),
    ).orderBy("o_orderkey")


# -- q49: per-source document quota (training-data curation: cap any
#    one domain's share of the corpus).  Exact window-rank cap; the
#    operator's pre_rank mode handles the hot-domain skew at scale.
@query(
    "q49_source_quota",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents)
    SELECT source, count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept,
           max(doc_id) AS last_doc
    FROM ranked WHERE rn <= 10
    GROUP BY source ORDER BY source
    """,
)
def q49(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    kept = P.source_quota(docs, "source", cap=10, order_col="doc_id", pre_rank=True)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("chars_kept"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source")
    )


# -- q50: deterministic train/val/test split by md5 hash bucket — the
#    reproducible, engine-portable alternative to rand(seed) sampling.
@query(
    "q50_hash_split",
    """
    WITH b AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'r1'), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM documents)
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           count(DISTINCT source) AS n_sources,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM b GROUP BY 1 ORDER BY split
    """,
)
def q50(spark, sf_dir):
    docs = P.hash_split(T(spark, sf_dir, "documents"), "doc_id", salt="r1")
    return (
        docs.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("split")
    )


# -- q51: regex masking scrub (the PII-redaction kernel; exercised here
#    with a dictionary pattern that actually occurs in the synthetic
#    corpus — true PII patterns are pinned by tests/test_pipeline_ops.py).
_MASK_RE = r"\b(customer|supplier|part)\b"


@query(
    "q51_entity_mask",
    rf"""
    SELECT source, count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '{_MASK_RE}'))) AS BIGINT)
             AS n_masked,
           CAST(sum(length(regexp_replace(text, '{_MASK_RE}', '[ENTITY]', 'g')))
             AS BIGINT) AS masked_chars
    FROM documents GROUP BY source ORDER BY source
    """,
)
def q51(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    masked = P.mask_terms(
        docs, "text", {"entity": _MASK_RE}, token="[ENTITY]", out_col="masked"
    )
    return (
        masked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_entity").alias("n_masked"),
            F.sum(F.length("masked")).alias("masked_chars"),
        )
        .orderBy("source")
    )


# -- q52: benchmark decontamination — token-8-gram overlap between the
#    corpus and a held-out "benchmark" subset (GPT-3-style n-gram rule;
#    n=4 here because the synthetic corpus's tiny vocabulary makes 8-gram
#    collisions vanishingly rare — production default stays 8..13).
#    Benchmark grams broadcast; the corpus side never shuffles.
@query(
    "q52_contamination",
    r"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    g_raw AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks)-3, 1)+1),
                    i -> array_to_string(toks[CAST(i AS INT):CAST(i+3 AS INT)], ' ')))
               AS gram
      FROM docs),
    g AS (SELECT DISTINCT doc_id, gram FROM g_raw WHERE length(gram) > 0),
    bench AS (SELECT * FROM g WHERE doc_id % 50 = 0),
    corpus AS (SELECT * FROM g WHERE doc_id % 50 <> 0)
    SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
           count(DISTINCT b.gram) AS n_overlap_grams
    FROM corpus c JOIN bench b ON c.gram = b.gram
    GROUP BY c.doc_id, b.doc_id
    ORDER BY corpus_id, bench_id
    """,
)
def q52(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    return (
        P.ngram_contamination(corpus, bench, "doc_id", "text", n=4)
        .select(
            F.col("corpus_id"),
            F.col("bench_id"),
            F.col("n_overlap_grams"),
        )
        .orderBy("corpus_id", "bench_id")
    )


# -- q53/q54: the SQL front-end.  Everything else in the corpus drives
#    the DataFrame API; these two run ENTIRELY through spark.sql over
#    catalog.register_views, proving the engine's second user-facing
#    surface plans correlated subqueries (scalar, EXISTS, IN) — shapes
#    Catalyst must decorrelate into joins.  The customer-average is
#    fixed-point (exact int sum, one final double division) so the
#    above-average predicate is bit-identical across engines.
@query(
    "q53_sql_above_avg_orders",
    """
    SELECT o.o_custkey, count(*) AS n_above,
           max(CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT)) AS top_fx
    FROM orders o
    WHERE o.o_totalprice >
          (SELECT sum(CAST(floor(o2.o_totalprice*100 + 0.5) AS BIGINT))
                  / (100.0 * count(*))
           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      AND o.o_custkey <= 500
    GROUP BY o.o_custkey ORDER BY o.o_custkey
    """,
)
def q53(spark, sf_dir):
    catalog.register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o.o_custkey, count(*) AS n_above,
               max(floor(o.o_totalprice*100 + 0.5)) AS top_fx
        FROM orders o
        WHERE o.o_totalprice >
              (SELECT sum(floor(o2.o_totalprice*100 + 0.5))
                      / (100.0 * count(*))
               FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
          AND o.o_custkey <= 500
        GROUP BY o.o_custkey ORDER BY o.o_custkey
        """
    )


_Q54_SQL = """
    SELECT c.c_mktsegment, count(*) AS n_cust
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority LIKE '1-%')
      AND c.c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """


@query("q54_sql_exists_in", _Q54_SQL)
def q54(spark, sf_dir):
    catalog.register_views(spark, sf_dir)
    return spark.sql(_Q54_SQL)


# -- q57: hopping (sliding) windows — 10-minute windows every 5 minutes,
#    each event lands in exactly width/slide = 2 windows.  The oracle
#    reproduces Spark's epoch-aligned window starts with an explicit
#    2-offset expansion.
@query(
    "q57_hopping_rms",
    f"""
    WITH x AS (
      SELECT ((epoch_us(ts) // {300_000_000}) - off) * {300_000_000} AS ws_us,
             value
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS off))
    SELECT ws_us, {sql_frms('value', 1_000_000)} AS rms_value,
           count(*) AS n_events
    FROM x GROUP BY ws_us HAVING count(*) >= 5 ORDER BY ws_us
    """,
)
def q57(spark, sf_dir):
    e = T(spark, sf_dir, "events").withColumn("ts_us", ts_us())
    win = F.window(F.timestamp_micros(F.col("ts_us")), "10 minutes", "5 minutes")
    return (
        e.groupBy(win.alias("w"))
        .agg(frms("value").alias("rms_value"), F.count(F.lit(1)).alias("n_events"))
        .where(F.col("n_events") >= 5)
        .select(
            F.unix_micros(F.col("w.start")).alias("ws_us"),
            "rms_value",
            "n_events",
        )
        .orderBy("ws_us")
    )


# -- q58: corpus-relative quality gate — drop docs below the 10th
#    percentile of stopword-density score (integer score so the
#    percentile interpolation is exact on both engines; exact
#    percentile here for parity, approx_percentile is the scale path).
@query(
    "q58_quality_percentile_filter",
    r"""
    WITH t AS (
      SELECT doc_id, lang,
             string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    s AS (
      SELECT doc_id, lang, len(toks) AS n_tok,
             (len(list_filter(toks, x -> x IN ('the','a','and','of','to','in')))
              * 1000) // len(toks) AS score
      FROM t WHERE len(toks) > 0),
    thr AS (SELECT quantile_cont(score, 0.10) AS p10 FROM s)
    SELECT s.lang, count(*) AS n_kept,
           CAST(sum(s.n_tok) AS BIGINT) AS tokens_kept
    FROM s, thr WHERE s.score >= thr.p10
    GROUP BY s.lang ORDER BY s.lang
    """,
)
def q58(spark, sf_dir):
    docs = X.quality_features(T(spark, sf_dir, "documents"))
    s = docs.where(F.col("n_tokens") > 0).select(
        "lang",
        "n_tokens",
        F.expr("(n_stopwords * 1000) div n_tokens").alias("score"),
    )
    kept = P.quantile_threshold_filter(s, "score", q=0.10, exact=True)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
        .orderBy("lang")
    )


# -- q59: dedup with quality-ranked survivor selection — keep the
#    longest copy of each duplicate group (ties: lowest id), the
#    production policy when the same document arrives via many crawls.
@query(
    "q59_dedup_keep_best",
    """
    WITH r AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY md5(text)
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents)
    SELECT d.doc_id, d.lang, d.source FROM documents d
    JOIN r ON d.doc_id = r.doc_id AND r.rn = 1
    ORDER BY d.doc_id
    """,
)
def q59(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    kept = D.exact_dedup_keep_best(docs, ["text"], "doc_id", "n_chars")
    return kept.select("doc_id", "lang", "source").orderBy("doc_id")


# -- q60: the full curation pipeline, end to end — exact dedup (keep
#    first), benchmark decontamination (anti-join on 4-gram overlap),
#    quality gate, deterministic split, per-(lang, split) audit.  Every
#    stage is individually oracle-proven (q22/q52/q23/q50); this pins
#    their COMPOSITION, which is what a production corpus build runs.
@query(
    "q60_curation_pipeline",
    r"""
    WITH dedup AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    g_raw AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks)-3, 1)+1),
                    i -> array_to_string(toks[CAST(i AS INT):CAST(i+3 AS INT)], ' ')))
               AS gram
      FROM toks),
    g AS (SELECT DISTINCT doc_id, gram FROM g_raw WHERE length(gram) > 0),
    contaminated AS (
      SELECT DISTINCT c.doc_id
      FROM g c JOIN g b ON c.gram = b.gram
      WHERE c.doc_id % 50 <> 0 AND b.doc_id % 50 = 0),
    kept AS (
      SELECT d.doc_id, d.lang, d.text,
             CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'r1'),
                                            1, 8)) AS BIGINT) % 100 < 80
                  THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'r1'),
                                            1, 8)) AS BIGINT) % 100 < 90
                  THEN 'val' ELSE 'test' END AS split,
             len(string_split_regex(trim(d.text), '\s+')) AS n_tok,
             len(list_filter(string_split_regex(trim(d.text), '\s+'),
                             x -> x IN ('the','a','and','of','to','in'))) AS n_stop
      FROM documents d
      JOIN dedup k ON d.doc_id = k.doc_id
      WHERE d.doc_id % 50 <> 0
        AND d.doc_id NOT IN (SELECT doc_id FROM contaminated))
    SELECT lang, split, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens
    FROM kept
    WHERE n_tok >= 5 AND length(text) >= 20 AND n_stop * 20 >= n_tok
    GROUP BY lang, split ORDER BY lang, split
    """,
)
def q60(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    deduped = D.exact_dedup(docs, ["text"], "doc_id")
    corpus = deduped.where(F.col("doc_id") % 50 != 0)
    bench = docs.where(F.col("doc_id") % 50 == 0)
    dirty = (
        P.ngram_contamination(corpus, bench, "doc_id", "text", n=4)
        .select(F.col("corpus_id").alias("doc_id"))
        .distinct()
    )
    clean = corpus.join(dirty, "doc_id", "left_anti")
    scored = X.quality_features(clean)
    final = P.hash_split(scored.where("quality_keep"), "doc_id", salt="r1")
    return (
        final.groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
        )
        .orderBy("lang", "split")
    )


# -- q97: windowed FFT spectrum (operators/telemetry.py: windowed_fft)
#    — vibration analytics over the events table mapped onto the dense
#    telemetry sample shape (the bench_streaming mapping): top-3
#    spectral peaks per component per 1 s window.  Rows-only (numpy
#    rfft has no SQL twin); magnitudes are value-pinned against numpy
#    in test_windowed_fft_finds_planted_tones.
@query("q97_fft_spectrum")
def q97(spark, sf_dir):
    from .operators import telemetry as tm

    e = T(spark, sf_dir, "events")
    # Time from a per-type ROW NUMBER (dense, collision-free at ANY
    # scale factor): the previous event_id % 600_000 mapping collided
    # once the table exceeded 600k rows (sf1 has 1M), making tie order
    # inside a (comp_name, Time) cell partition-dependent (r6 advice).
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy("event_id")
    )
    samples = e.select(
        F.col("event_type").alias("comp_name"),
        ((rn - 1).cast("long") * F.lit(1_000_000)).alias("Time"),
        F.col("value").alias("A_x_g"),
    )
    spec = tm.windowed_fft(samples, sample_rate=1000.0, window_s=1.0, top_k=3)
    return spec.select(
        "comp_name",
        "window_start",
        fx(F.col("freq_hz"), 1000).alias("freq_mhz"),
        fx(F.col("magnitude"), 1_000_000).alias("mag_fx"),
    ).orderBy("comp_name", "window_start", "freq_mhz")


# -- q98: retrieval-hydration join — the ANN serving composition: top-k
#    neighbors (q25's exact/dot path) joined back to the documents
#    table for display metadata.  The k-row top-k side broadcasts (AQE)
#    so the hydration join never shuffles the corpus.
@query(
    "q98_retrieval_join",
    """
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    topk AS (
      SELECT e.vec_id,
             CAST(floor(list_dot_product(
                  list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv
                )*1000000 + 0.5) AS BIGINT) AS sim_fx
      FROM embeddings e, q
      ORDER BY sim_fx DESC, e.vec_id LIMIT 5)
    SELECT t.vec_id, d.lang, d.n_chars, t.sim_fx
    FROM topk t JOIN documents d ON d.doc_id = t.vec_id
    ORDER BY t.sim_fx DESC, t.vec_id
    """,
)
def q98(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    d = T(spark, sf_dir, "documents")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    topk = S.cosine_topk(e, qvec, k=5).select(
        "vec_id", fx(F.col("cos_sim"), 1_000_000).alias("sim_fx")
    )
    return (
        topk.join(d, topk.vec_id == d.doc_id)
        .select("vec_id", "lang", "n_chars", "sim_fx")
        .orderBy(F.desc("sim_fx"), "vec_id")
    )


# ===================================== reference pipeline, end to end
# -- q32: the reference's whole dataflow (S3 gate -> S4 binary decode ->
#    S5 metadata -> P1-P3 enrich -> W1/A1/A2-A5 RMS) on a deterministic
#    synthetic acquisition.  Rows-only: input is generated, not an sf
#    table, so there is no DuckDB oracle; tests/test_dat_ingest.py holds
#    the value-level assertions against a pandas re-implementation.
@query("q32_hsd_pipeline")
def q32(spark, sf_dir):
    import tempfile

    from .sources.acquisition import load_acquisition
    from .operators.telemetry import tumbling_rms
    from .sources.synthetic import write_acquisition

    folder = tempfile.mkdtemp(prefix="hsd_fixture_")
    write_acquisition(folder)
    enriched, meta = load_acquisition(spark, folder)
    rms = tumbling_rms(
        enriched,
        value_cols=["A_x_g", "A_y_g", "A_z_g"],
        rename={"A_x_g": "rms_x", "A_y_g": "rms_y", "A_z_g": "rms_z"},
        group_cols=["alias"],
    )
    return rms.select(
        "alias",
        "Time",
        fx("rms_x", 1_000_000_000).alias("rms_x_fx"),
        fx("rms_y", 1_000_000_000).alias("rms_y_fx"),
        fx("rms_z", 1_000_000_000).alias("rms_z_fx"),
        fx("rms_mod", 1_000_000_000).alias("rms_mod_fx"),
    ).orderBy("Time")


# -- q61: deterministic shuffle-shard export (training-data loader prep)
#    — shard stats prove assignment + order hashing are engine-portable
#    (md5-based; rand(seed) would not survive a retry, let alone an
#    oracle).  Spark conv(substr(md5,1,14),16,10) == DuckDB
#    CAST('0x'||substr(md5,1,14) AS BIGINT).
@query(
    "q61_shuffle_shards",
    """
    WITH h AS (
      SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'r2'), 1, 14))
                  AS BIGINT) AS o
      FROM documents
    )
    SELECT CAST(o % 8 AS INT) AS shard,
           count(*) AS n_docs,
           CAST(min(o) AS BIGINT) AS min_o,
           CAST(max(o) AS BIGINT) AS max_o
    FROM h GROUP BY shard ORDER BY shard
    """,
)
def q61(spark, sf_dir):
    from .operators import pipeline as P

    d = T(spark, sf_dir, "documents")
    sharded = P.shuffle_shards(
        d, 8, "doc_id", seed="r2", keep_order_col=True
    )
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("_shuffle_order").alias("min_o"),
            F.max("_shuffle_order").alias("max_o"),
        )
        .orderBy("shard")
    )


# -- q62: sequence packing (rows-only: greedy reset-cumsum packing is
#    not expressible in portable SQL; tests/test_pipeline_ops.py pins
#    budget-respect, exactly-once coverage and partitioning-independent
#    determinism).  Output: per-pack stats of the packed documents
#    table at budget=512.
@query("q62_pack_sequences")
def q62(spark, sf_dir):
    from .operators import pipeline as P
    from .operators.text import token_count

    d = T(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    packed = P.pack_sequences(
        d, budget=512, id_col="doc_id", token_col="n_tokens", n_workers=8
    )
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("fill_tokens"),
        )
        .orderBy("pack_id")
    )


# ===================================== repetition quality filters
# -- q63: Gopher-style repetition features (operators/text.py:
#    ngram_repetition) per document — the filters applied after length
#    gates in every pretraining curation pipeline.  Fixed-point on the
#    fractions for hash-stable compare (int/int division is correctly
#    rounded IEEE on both engines).
@query(
    "q63_repetition_features",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ), base AS (
      SELECT doc_id,
             len(t) AS n_tokens,
             len(list_distinct(t)) AS n_dist,
             t
      FROM toks
    ), grams AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
      FROM base, UNNEST(generate_series(1, len(t)-1)) AS u(i)
    ), gcnt AS (
      SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram
    ), gstat AS (
      SELECT doc_id,
             SUM(c) AS n_grams,
             MAX(c) AS top_c,
             SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_c
      FROM gcnt GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS INT) AS n_tokens,
           CAST(COALESCE(g.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(floor((b.n_dist / b.n_tokens) * 1000000 + 0.5) AS BIGINT)
             AS dist_ratio_fx,
           CAST(floor((COALESCE(g.top_c, 0) / COALESCE(g.n_grams, 1))
                      * 1000000 + 0.5) AS BIGINT) AS top2_frac_fx,
           CAST(floor((COALESCE(g.dup_c, 0) / COALESCE(g.n_grams, 1))
                      * 1000000 + 0.5) AS BIGINT) AS dup2_frac_fx
    FROM base b LEFT JOIN gstat g USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def q63(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    feats = X.ngram_repetition(d, "doc_id", "text", n=2)
    return feats.select(
        "doc_id",
        "n_tokens",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        fx("distinct_token_ratio", 1_000_000).alias("dist_ratio_fx"),
        fx(F.coalesce(F.col("top_ngram_frac"), F.lit(0.0)), 1_000_000).alias(
            "top2_frac_fx"
        ),
        fx(F.coalesce(F.col("dup_ngram_frac"), F.lit(0.0)), 1_000_000).alias(
            "dup2_frac_fx"
        ),
    ).orderBy("doc_id")


# ===================================== document chunking
# -- q64: overlapping token-window chunking (operators/text.py:
#    chunk_documents) — RAG / context-window prep.  Zero-shuffle narrow
#    plan; the oracle re-derives the same windows with generate_series +
#    list slicing (both engines clamp slices at the array end).
@query(
    "q64_chunk_documents",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    )
    SELECT doc_id,
           CAST((s - 1) // 56 AS INT) AS chunk_idx,
           array_to_string(t[s : s + 63], ' ') AS chunk_text,
           CAST(len(t[s : s + 63]) AS INT) AS n_chunk_tokens
    FROM toks,
         UNNEST(generate_series(1, greatest(len(t) - 8, 1), 56)) AS u(s)
    ORDER BY doc_id, chunk_idx
    """,
)
def q64(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return X.chunk_documents(
        d, "doc_id", "text", chunk_tokens=64, overlap=8
    ).orderBy("doc_id", "chunk_idx")


# ===================================== line-level dedup (boilerplate)
# -- q65: CCNet/Gopher-style line dedup (operators/dedup.py:line_dedup)
#    — strip lines duplicated across >= min_docs documents.  The fixture
#    rebuilds each doc as 8-token lines wrapped in a shared boilerplate
#    header and a per-source footer (both engines derive the identical
#    multi-line text), so the operator observably removes exactly the
#    planted boilerplate.  Only (id, pos, hash) triples shuffle; the
#    oracle re-derives drops with string keys (hash-collision-free twin).
@query(
    "q65_line_dedup",
    """
    WITH toks AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ),
    ml AS (
      SELECT doc_id,
             'corpus shared boilerplate header line' || chr(10) ||
             array_to_string(
               list_transform(generate_series(0, CAST(ceil(len(t) / 8.0) AS INT) - 1),
                              i -> array_to_string(t[i*8+1 : i*8+8], ' ')),
               chr(10)) || chr(10) ||
             'footer of ' || source AS text
      FROM toks
    ),
    l AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, chr(10)), 1) - 1 AS pos,
             unnest(string_split(text, chr(10))) AS line
      FROM ml
    ),
    c AS (SELECT doc_id, pos, trim(line) AS key FROM l WHERE trim(line) <> ''),
    dup AS (
      SELECT key FROM (SELECT DISTINCT doc_id, key FROM c)
      GROUP BY key HAVING count(*) >= 10
    ),
    drops AS (SELECT c.doc_id, c.pos FROM c JOIN dup USING (key)),
    kept AS (
      SELECT l.doc_id, string_agg(l.line, chr(10) ORDER BY l.pos) AS new_text
      FROM l ANTI JOIN drops ON l.doc_id = drops.doc_id AND l.pos = drops.pos
      GROUP BY l.doc_id
    ),
    stats AS (
      SELECT c.doc_id, CAST(count(*) AS INT) AS n_lines,
             CAST(count(d.pos) AS INT) AS n_dropped
      FROM c LEFT JOIN drops d ON c.doc_id = d.doc_id AND c.pos = d.pos
      GROUP BY c.doc_id
    )
    SELECT s.doc_id, s.n_lines, s.n_dropped,
           coalesce(k.new_text, '') AS new_text
    FROM stats s LEFT JOIN kept k ON s.doc_id = k.doc_id
    ORDER BY s.doc_id
    """,
)
def q65(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_lines = F.floor((F.size(toks) + F.lit(7)) / F.lit(8)).cast("int")
    body = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
    )
    ml = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("corpus shared boilerplate header line"),
            F.array_join(body, "\n"),
            F.concat(F.lit("footer of "), F.col("source")),
        ).alias("text"),
    )
    out = D.line_dedup(ml, "doc_id", "text", min_docs=10)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_dropped").cast("int").alias("n_dropped"),
        F.col("text").alias("new_text"),
    ).orderBy("doc_id")


# ===================================== tf-idf keyword extraction
# -- q66: per-doc top-5 terms by TF-IDF (operators/text.py:tfidf_topk).
#    idf="inv" (score = tf/doc_freq, one IEEE division of two small
#    ints) so the score is bit-identical across engines — libm ln in
#    the classic log-idf could differ in the last ulp and flip near-tie
#    rankings; the log path is covered by pytest instead.  Ties broken
#    by term asc (integer-count ties are common).
@query(
    "q66_tfidf_topk",
    """
    WITH terms AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM terms
      WHERE len(term) > 0 GROUP BY doc_id, term
    ),
    df_t AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df_t.doc_freq,
             CAST(tf.tf AS DOUBLE) / df_t.doc_freq AS score
      FROM tf JOIN df_t USING (term)
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
      FROM scored
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, term, CAST(tf AS BIGINT) AS tf,
           CAST(doc_freq AS BIGINT) AS doc_freq,
           CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS score_fx
    FROM ranked WHERE rank <= 5
    ORDER BY doc_id, rank
    """,
)
def q66(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    out = X.tfidf_topk(d, "doc_id", "text", k=5, idf="inv")
    return out.select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        "term",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("doc_freq").cast("bigint").alias("doc_freq"),
        fx("score", 1_000_000).alias("score_fx"),
    ).orderBy("doc_id", "rank")


# ===================================== product quantization ANN
# -- q67: PQ ADC top-k (operators/similarity.py:pq_train/encode/topk).
#    Rows-only: codebook training is iterative k-means (not portable
#    SQL); recall is pinned by test_pq_topk_recall_and_rerank.  The
#    scan side reads only the m-byte code column — the 100 TB
#    memory-bound ANN path complementing IVF's partition pruning.
@query("q67_pq_topk")
def q67(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    qvec = e.where(F.col("vec_id") == 1).select("embedding").first()[0]
    books = S.pq_train(e, m=16, n_codes=16)
    enc = S.pq_encode(e, books)
    return S.pq_topk(enc, books, qvec, k=10)


# ===================================== semantic dedup (SemDeDup)
# -- q68: cluster-then-dedup over embeddings (operators/dedup.py:
#    semantic_dedup — SemDeDup, arXiv:2303.09540).  Rows-only:
#    k-means is iterative; recall pinned by
#    test_semantic_dedup_removes_planted_copies.  Fixture plants
#    near-identical copies of 1-in-5 vectors so the dedup observably
#    removes them.
@query("q68_semantic_dedup")
def q68(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    near = e.where(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x * F.lit(1.05)).otherwise(x),
        ).alias("embedding"),
        "label",
    )
    kept = D.semantic_dedup(
        e.unionByName(near), threshold=0.95, n_clusters=8, n_iter=2
    )
    return kept.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum((F.col("vec_id") >= 100_000).cast("bigint")).alias("n_copies_kept"),
    ).orderBy("label")


# ===================================== weighted sampling
# -- q69: deterministic quality-weighted downsampling (operators/
#    pipeline.py:weighted_sample).  Keep probability fraction*w/mean(w),
#    uniform = md5(id||salt) leading 32 bits / 2^32 — engine-portable,
#    partitioning-independent.  exact_mean=True routes the mean through
#    the fixed-point sum so the threshold is bit-identical in DuckDB
#    (a plain double avg is summation-order-dependent in the last ulp,
#    enough to flip a borderline keep).
@query(
    "q69_weighted_sample",
    """
    WITH mw AS (
      SELECT CAST(SUM(CAST(floor(CAST(n_chars AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / count(*) AS mean_w
      FROM documents
    )
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d, mw
    WHERE CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 's9'), 1, 8) AS BIGINT) AS DOUBLE)
            / 4294967296.0
          < 0.5 * CAST(d.n_chars AS DOUBLE) / mw.mean_w
    ORDER BY d.doc_id
    """,
)
def q69(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    kept = P.weighted_sample(
        d, "doc_id", "n_chars", fraction=0.5, salt="s9", exact_mean=True
    )
    return kept.select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars")
    ).orderBy("doc_id")


# ===================================== unigram LM quality proxy
# -- q70: per-doc mean unigram log-probability (operators/text.py:
#    unigram_logprob — the CCNet LM-quality-proxy shape).  Rows-only:
#    ln is libm-dependent (see the module float-parity docstring);
#    pinned by test_unigram_logprob_matches_python_math.
@query("q70_unigram_logprob")
def q70(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    out = X.unigram_logprob(d, "doc_id", "text")
    return out.orderBy("doc_id")


# ===================================== connected-components dedup resolution
# -- q71: union-find over the exact n-gram-Jaccard pair graph
#    (operators/dedup.py: dedup_components — distributed min-label
#    propagation + pointer jumping).  The oracle resolves the same pair
#    graph with a recursive-CTE transitive closure: comp = min id
#    reachable, exactly the fixpoint the Spark loop converges to.
@query(
    "q71_dedup_components",
    r"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents WHERE doc_id <= 150),
    sh_raw AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks)-2, 1)+1),
                    i -> array_to_string(toks[CAST(i AS INT):CAST(i+2 AS INT)], ' ')))
               AS shingle
      FROM docs),
    sh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE length(shingle) > 0),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT c.id_a, c.id_b
      FROM common c
      JOIN sizes sa ON c.id_a = sa.doc_id
      JOIN sizes sb ON c.id_b = sb.doc_id
      WHERE c.n_common >= 0.02 * (sa.n_sh + sb.n_sh - c.n_common)),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT DISTINCT src AS id, src AS r FROM edges
      UNION
      SELECT e.dst AS id, r.r FROM reach r JOIN edges e ON e.src = r.id)
    SELECT id, min(r) AS comp FROM reach GROUP BY id ORDER BY id
    """,
)
def q71(spark, sf_dir):
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 150)
    pairs = D.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.02)
    return D.dedup_components(pairs).orderBy("id")


# ===================================== near-dup curation capstone (r4)
# -- q72: the SlimPajama-shaped near-dup resolution end-to-end:
#    MinHash-LSH pairs (recall phase) -> exact-Jaccard verify ->
#    connected components (transitive clusters) -> keep the BEST-quality
#    member per cluster (longest doc, ties lowest id).  Rows-only:
#    minhash permutations aren't portable SQL; the pieces are pinned by
#    the q26 recall tests, the q71 oracle, and the keep_components
#    fixture tests.
@query("q72_near_dup_curation")
def q72(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    mut = (
        d.where(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.array_join(
                F.slice(X.tokens("text"), 1, F.greatest(X.token_count("text") - 2, F.lit(1))),
                " ",
            ).alias("text"),
            # mutated copies are 2 tokens shorter: the original wins
            # the keep-best policy inside every planted cluster
            (F.col("n_chars") - 8).alias("n_chars"),
        )
    )
    corpus = d.unionByName(mut)
    pairs = D.minhash_dedup_pairs(
        corpus, "doc_id", "text", k=16, bands=4, threshold=0.5
    )
    kept = D.dedup_keep_components(pairs, corpus, "doc_id", order_col="n_chars")
    return (
        kept.groupBy((F.col("doc_id") >= 1_000_000).alias("is_mutant"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .sortWithinPartitions("is_mutant")
    )


# ===================================== compression-ratio quality (r4)
# -- q73: zlib compression ratio per doc (operators/text.py:
#    compression_ratio) bucketed into a quality histogram.  Rows-only:
#    DEFLATE output length is not expressible in portable SQL; pinned
#    by a zlib parity test.
@query("q73_compression_quality")
def q73(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    scored = X.compression_ratio(d, "doc_id", "text")
    return (
        scored.where(F.col("compression_ratio").isNotNull())
        .groupBy(
            F.least(
                F.floor(F.col("compression_ratio") * 10).cast("int"), F.lit(10)
            ).alias("ratio_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").cast("bigint").alias("sum_bytes"),
        )
        .sortWithinPartitions("ratio_decile")
    )


# ===================================== DSIR importance weights (r4)
# -- q74: DSIR log importance weights (operators/text.py:
#    dsir_logweight, arXiv:2302.03169) with src0+src1 documents as the
#    "target" corpus and the whole pool as source — the select-like-
#    the-target setup.  Rows-only (ln is libm-dependent); pinned by a
#    Python-math parity test.
@query("q74_dsir_weights")
def q74(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text", "source")
    target = d.where(F.col("source").isin("src0", "src1")).select("text")
    out = X.dsir_logweight(
        d, "doc_id", "text", target, n_buckets=4096
    )
    return out.select("doc_id", "n_feats", "dsir_logweight").sortWithinPartitions(
        "doc_id"
    )


# Fixture for the duplicate-span query (q75): docs plus mutants
# sharing a 12-token prefix, so every mutant pair carries a known
# [0,12) span.  ONE definition each for the Spark corpus and the
# oracle CTE chain — a fixture tweak cannot silently diverge the two.
_SPAN_FIXTURE_CTES = r"""WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
      WHERE doc_id <= 200 AND text IS NOT NULL AND length(trim(text)) > 0),
    mut AS (
      SELECT doc_id + 1000000 AS doc_id,
             list_concat(toks[1:12], ['zz' || CAST(doc_id AS VARCHAR)]) AS toks
      FROM docs WHERE doc_id % 5 = 0),
    corpus AS (SELECT * FROM docs UNION ALL SELECT * FROM mut),
    wins_raw AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks)-8+1, 0)+1),
                    i -> struct_pack(pos := i-1,
                                     whash := md5(array_to_string(toks[CAST(i AS INT):CAST(i+7 AS INT)], ' ')))))
               AS w
      FROM corpus),
    wins AS (SELECT doc_id, w.pos AS pos, w.whash AS whash FROM wins_raw),
    duph AS (SELECT whash FROM wins GROUP BY whash HAVING count(DISTINCT doc_id) >= 2),
    dup AS (SELECT * FROM wins WHERE whash IN (SELECT whash FROM duph)),
    isl AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM dup)"""


def _span_mutant_corpus(spark, sf_dir):
    d = (
        T(spark, sf_dir, "documents")
        .where(
            (F.col("doc_id") <= 200)
            & F.col("text").isNotNull()
            & (F.length(F.trim("text")) > 0)
        )
        .select("doc_id", "text")
    )
    toks = X.tokens("text")
    mut = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(
            F.concat(
                F.slice(toks, 1, 12),
                F.array(F.concat(F.lit("zz"), F.col("doc_id").cast("string"))),
            ),
            " ",
        ).alias("text"),
    )
    return d.unionByName(mut)


# ===================================== duplicate-span dedup (r4)
# -- q75: exact duplicated-substring spans (operators/dedup.py:
#    duplicate_spans — the Lee et al. 2021 substring-dedup family as
#    sliding window hashes + gaps-and-islands merge) on the shared
#    mutant fixture; md5 window hashes keep the oracle bit-portable.
@query(
    "q75_duplicate_spans",
    _SPAN_FIXTURE_CTES
    + """
    SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
    FROM isl GROUP BY doc_id, g ORDER BY doc_id, span_start
    """,
)
def q75(spark, sf_dir):
    corpus = _span_mutant_corpus(spark, sf_dir)
    return (
        D.duplicate_spans(corpus, "doc_id", "text", width=8, min_docs=2)
        .orderBy("doc_id", "span_start")
    )


# ===================================== length bucketing (r4)
# -- q76: token-length buckets + the per-bin padding bill
#    (operators/pipeline.py: length_buckets).  Oracle-backed; graded
#    locally by tests/test_queries_oracle.py (outside the driver window,
#    __spark_entry__.GRADED; see COVERAGE.md "Graded window").
@query(
    "q76_length_buckets",
    r"""
    WITH toks AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n
      FROM documents WHERE text IS NOT NULL),
    b AS (
      SELECT least(CAST(floor(n / 32) AS BIGINT), 15) AS bucket, n FROM toks)
    SELECT bucket, count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS sum_tokens,
           CAST(max(n) AS BIGINT) AS bucket_max,
           CAST(count(*) * max(n) - sum(n) AS BIGINT) AS padding_waste
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def q76(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return P.length_buckets(d, "doc_id", "text", bucket_size=32, max_buckets=16).orderBy(
        "bucket"
    )


# ===================================== stratified sampling (r4)
# -- q77: exact n-per-language stratified sample
#    (operators/pipeline.py: stratified_sample; md5 rank is portable
#    SQL).  Oracle-backed; graded locally (window full).
@query(
    "q77_stratified_sample",
    """
    WITH ranked AS (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || 'q77'), doc_id
             ) AS rk
      FROM documents WHERE doc_id IS NOT NULL)
    SELECT doc_id, lang, source FROM ranked WHERE rk <= 5
    ORDER BY lang, doc_id
    """,
)
def q77(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return (
        P.stratified_sample(d, "lang", 5, "doc_id", salt="q77")
        .select("doc_id", "lang", "source")
        .orderBy("lang", "doc_id")
    )


# ===================================== corpus mixture construction (r4)
# -- q79: Pile/Dolma-style source reweighting to a token budget
#    (operators/pipeline.py: mixture_sample; md5-uniform keep set and
#    exact int64 token totals are engine-portable).  Oracle-backed;
#    graded locally (window full).
@query(
    "q79_mixture_sample",
    """
    WITH totals AS (
      SELECT source, SUM(CAST(n_chars AS BIGINT)) AS src_tokens
      FROM documents GROUP BY source),
    fr AS (
      SELECT source,
             least((CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.4
                                WHEN 'src2' THEN 0.2 ELSE 0.0 END)
                   * 20000.0 / src_tokens, 1.0) AS frac
      FROM totals),
    kept AS (
      SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
      FROM documents d JOIN fr USING (source)
      WHERE CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'mix'), 1, 8) AS BIGINT) AS DOUBLE)
              / 4294967296.0
            < fr.frac)
    SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS kept_tokens
    FROM kept GROUP BY source ORDER BY source
    """,
)
def q79(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    mixed = P.mixture_sample(
        d,
        "source",
        "doc_id",
        "n_chars",
        {"src0": 0.4, "src1": 0.4, "src2": 0.2},
        total_tokens=20_000,
        salt="mix",
    )
    return (
        mixed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).cast("bigint").alias("kept_tokens"),
        )
        .orderBy("source")
    )


# ===================================== text normalization (r4)
# -- q80: C4-style normalization (operators/text.py: normalize_text,
#    JVM path) + before/after dedup impact: how many distinct texts
#    collapse once case/whitespace variants normalize.  Oracle-backed;
#    graded locally (window full).
@query(
    "q80_normalize_text",
    r"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(
               lower(regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]', '', 'g')),
               '\s+', ' ', 'g')) AS ntext,
             text
      FROM documents WHERE text IS NOT NULL)
    SELECT count(*) AS n_docs,
           count(DISTINCT text) AS distinct_raw,
           count(DISTINCT ntext) AS distinct_norm,
           CAST(sum(length(ntext)) AS BIGINT) AS total_norm_chars
    FROM norm
    """,
)
def q80(spark, sf_dir):
    d = T(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    n = X.normalize_text(d, "text", out_col="ntext")
    return n.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("text").alias("distinct_raw"),
        F.count_distinct("ntext").alias("distinct_norm"),
        F.sum(F.length("ntext")).cast("bigint").alias("total_norm_chars"),
    )


# ===================================== mixture audit (r5)
# -- q81: the loader-side epochs table for q79's mixture (operators/
#    pipeline.py: mixture_audit) with a PLANTED UNDERSIZED source:
#    src0's 60% share of 30k tokens (~18k) exceeds its availability at
#    small sf, so keep_frac pins at 1.0 and implied_repeat > 1 — the
#    Pile/Dolma epochs column, computed instead of hand-derived.  All
#    derived columns are single IEEE ops on exact int64 sums (engine-
#    parity safe).  Oracle-backed; graded locally (window full).
@query(
    "q81_mixture_audit",
    """
    WITH totals AS (
      SELECT source, CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS src_tokens
      FROM documents GROUP BY source),
    aud AS (
      SELECT source, src_tokens,
             CAST(CASE source WHEN 'src0' THEN 0.6 WHEN 'src1' THEN 0.3
                          WHEN 'src2' THEN 0.1 ELSE 0.0 END AS DOUBLE)
               AS target_share
      FROM totals)
    SELECT source, src_tokens, target_share,
           target_share * 30000.0 AS target_tokens,
           least(CASE WHEN src_tokens = 0 THEN 0.0
                      ELSE target_share * 30000.0 / src_tokens END,
                 1.0) AS keep_frac,
           least(CAST(src_tokens AS DOUBLE), target_share * 30000.0)
             AS achieved_tokens,
           least(CAST(src_tokens AS DOUBLE), target_share * 30000.0) / 30000.0
             AS achieved_share,
           greatest(CASE WHEN src_tokens = 0 THEN 0.0
                         ELSE target_share * 30000.0 / src_tokens END,
                    1.0) AS implied_repeat
    FROM aud ORDER BY source
    """,
)
def q81(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return P.mixture_audit(
        d,
        "source",
        "n_chars",
        {"src0": 0.6, "src1": 0.3, "src2": 0.1},
        total_tokens=30_000,
    ).orderBy("source")


# -- q82: exact distinct via mergeable bitmaps (operators/sketches.py:
#    bitmap_distinct).  Semantically COUNT(DISTINCT user_id) per type —
#    which IS the oracle — but the Spark side computes it through the
#    shard-sketch/merge path (bitmap_construct_agg -> OR -> popcount), so
#    the grade pins the sketch tier's exactness, not just the SQL shape.
#    Oracle-backed; graded locally (window full).
@query(
    "q82_bitmap_distinct",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q82(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    return (
        K.bitmap_distinct(e, ["event_type"], "user_id")
        .select("event_type", F.col("n_distinct").cast("long").alias("n_distinct"))
        .orderBy("event_type")
    )


# -- q83: incremental HLL — sketch two disjoint "ingest days" separately,
#    merge the persisted sketch artifacts.  Rows-only (Datasketches HLL
#    bytes aren't portable to DuckDB); the lossless-merge and accuracy
#    properties are pytest-pinned in test_sketches.py.  The exact twin
#    rides along so relative error is visible in the output.
@query("q83_hll_incremental")
def q83(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    day = (F.col("ts").cast("long") / 86400).cast("long")
    early = e.filter(day % 2 == 0)
    late = e.filter(day % 2 == 1)
    shards = K.hll_shard_sketch(
        early, ["event_type"], "user_id", lg_k=14
    ).unionByName(K.hll_shard_sketch(late, ["event_type"], "user_id", lg_k=14))
    merged = K.hll_merge(shards, ["event_type"])
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return merged.join(exact, "event_type").orderBy("event_type")


# -- q84: SQ8 scalar-quantized ANN (operators/similarity.py: sq_train/
#    sq_encode/sq_topk_rerank) — the third compressed-index tier next
#    to IVF (q40/q55) and PQ (q67): exact per-dimension 8-bit grid, ADC
#    shortlist over the 4x-smaller code column, exact cosine re-rank of
#    the shortlist only.  Rows-only (quantized scores aren't portable
#    SQL); reconstruction bound, recall and JVM-only plan are pinned in
#    test_dedup_similarity.py.
@query("q84_sq_topk_rerank")
def q84(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 1).select("embedding").first()[0]
    lo, hi = S.sq_train(e)
    enc = S.sq_encode(e, lo, hi)
    return S.sq_topk_rerank(enc, e, lo, hi, qvec, k=10)


# -- q85: greedy token-budget selection (operators/pipeline.py:
#    budget_select over global_running_sum).  The oracle is the naive
#    SUM() OVER (ORDER BY ...) — semantically identical, but the Spark
#    side computes it WITHOUT the single-reducer global window: range
#    partition -> per-range cumsum -> driver prefix of n_partitions
#    scalars -> broadcast offsets (plan pinned in tests: no Exchange
#    SinglePartition).  Exact int64 sums on both sides.  Oracle-backed;
#    graded locally (window full).
@query(
    "q85_budget_select",
    """
    SELECT doc_id, n_chars, cum_tokens FROM (
      SELECT doc_id, n_chars,
             CAST(SUM(n_chars) OVER (ORDER BY n_chars DESC, doc_id)
               AS BIGINT) AS cum_tokens
      FROM documents) t
    WHERE cum_tokens <= 50000
    ORDER BY doc_id
    """,
)
def q85(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return (
        P.budget_select(d, "n_chars", "n_chars", 50_000, "doc_id")
        .select("doc_id", "n_chars", "cum_tokens")
        .orderBy("doc_id")
    )


# -- q86: incremental exact dedup vs a persisted digest index
#    (operators/dedup.py: exact_dedup_incremental).  Day-1 docs (even
#    ids) seed the index; day-2 (odd ids) dedups within itself
#    (keep-first) then anti-joins the index — history text never
#    rescanned.  The oracle mirrors the digest math exactly
#    (md5(concat_ws(chr(31), text)) — concat_ws skips NULLs
#    identically in both engines).  Oracle-backed; graded locally
#    (window full).
@query(
    "q86_dedup_incremental",
    """
    WITH b1 AS (
      SELECT md5(concat_ws(chr(31), text)) AS digest
      FROM documents WHERE doc_id % 2 = 0),
    b2 AS (
      SELECT doc_id, md5(concat_ws(chr(31), text)) AS digest
      FROM documents WHERE doc_id % 2 = 1),
    survivors AS (
      SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM b2 GROUP BY digest)
    SELECT b2.doc_id, b2.digest
    FROM b2 JOIN survivors USING (doc_id)
    WHERE b2.digest NOT IN (SELECT digest FROM b1)
    ORDER BY b2.doc_id
    """,
)
def q86(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    day1 = d.filter(F.col("doc_id") % 2 == 0)
    day2 = d.filter(F.col("doc_id") % 2 == 1)
    index = day1.select(
        F.md5(F.concat_ws("\x1f", "text")).alias("digest")
    )
    fresh = D.exact_dedup_incremental(day2, ["text"], "doc_id", seen=index)
    return fresh.select("doc_id", "digest").orderBy("doc_id")


# -- q87: learned-BPE subword tokenization (operators/text.py:
#    bpe_train/bpe_tokenize, Sennrich et al. 2016).  Trains a real
#    merge list from the corpus word-frequency table (the distributed
#    step; the merge loop is driver-side on word TYPES, capped), then
#    reports per-language piece/char compression.  Rows-only: the merge
#    loop is iterative and not SQL-expressible; determinism, the
#    classic-example merges, and losslessness are pytest-pinned.
@query("q87_bpe_tokenize")
def q87(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    merges = X.bpe_train(d, n_merges=120, min_count=2, max_words=5_000)
    toked = X.bpe_tokenize(d, merges)
    return (
        toked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("bpe_tokens")).alias("pieces"),
            F.sum(F.length("text")).alias("chars"),
        )
        .orderBy("lang")
    )


# -- q89: corpus snapshot diff (operators/pipeline.py: corpus_diff) —
#    the release audit: which content digests were added / removed /
#    retained between two snapshots.  Digest-only full-outer join
#    (pre-aggregated to (digest, min id) per side — text never rides
#    an exchange).  Oracle-backed; graded locally (window full).
@query(
    "q89_corpus_diff",
    """
    WITH o AS (
      SELECT md5(concat_ws(chr(31), text)) AS digest,
             CAST(MIN(doc_id) AS BIGINT) AS old_id
      FROM documents WHERE doc_id % 3 != 0 GROUP BY 1),
    n AS (
      SELECT md5(concat_ws(chr(31), text)) AS digest,
             CAST(MIN(doc_id) AS BIGINT) AS new_id
      FROM documents WHERE doc_id % 2 != 0 GROUP BY 1)
    SELECT COALESCE(o.digest, n.digest) AS digest,
           CASE WHEN o.digest IS NULL THEN 'added'
                WHEN n.digest IS NULL THEN 'removed'
                ELSE 'retained' END AS status,
           o.old_id, n.new_id
    FROM o FULL OUTER JOIN n ON o.digest = n.digest
    ORDER BY digest
    """,
)
def q89(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    v1 = d.filter(F.col("doc_id") % 3 != 0)
    v2 = d.filter(F.col("doc_id") % 2 != 0)
    return P.corpus_diff(v1, v2, ["text"], "doc_id").orderBy("digest")


# -- q90: audio decode (operators/multimodal.py: decode_audio) — the
#    documents payload read as headerless PCM16 @16 kHz through the real
#    stdlib kernel: container metadata + windowed-RMS features.  Rows-
#    only for the driver (int16-LE byte reinterpretation + uneven-window
#    RMS has no tractable SQL twin); feature values are pinned EXACTLY
#    against a pure-numpy oracle in test_text_multimodal.py.
@query("q90_audio_features")
def q90(spark, sf_dir):
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    audio = M.decode_audio(
        M.attach_payload(d), sample_rate=16_000, n_features=8
    )
    mean_rms = F.aggregate(
        "features", F.lit(0.0), lambda a, x: a + x
    ) / F.size("features")
    return audio.select(
        "media_id",
        "n_bytes",
        "n_samples",
        fx(F.col("duration_s"), 1_000_000).alias("duration_fx"),
        fx(mean_rms, 1_000_000).alias("mean_rms_fx"),
    ).orderBy("media_id")


# -- q92: corpus snapshot upsert (operators/pipeline.py:
#    apply_corpus_update) — MERGE INTO semantics in pure DataFrame ops:
#    matched updates replace, unmatched insert, tombstones delete
#    (idempotently, incl. deletes of never-existed ids).  One id-keyed
#    full-outer shuffle; the oracle is the literal CASE/COALESCE twin.
@query(
    "q92_corpus_upsert",
    """
    WITH base AS (SELECT doc_id, text, lang FROM documents),
    upd AS (
      SELECT doc_id, upper(text) AS text, lang, (doc_id % 5 = 0) AS del
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 1000000, 'new doc ' || CAST(doc_id AS VARCHAR),
             'en', false
      FROM documents WHERE doc_id % 11 = 0),
    merged AS (
      SELECT COALESCE(u.doc_id, b.doc_id) AS doc_id,
             CASE WHEN u.doc_id IS NOT NULL AND NOT u.del
                  THEN u.text ELSE b.text END AS text,
             CASE WHEN u.doc_id IS NOT NULL AND NOT u.del
                  THEN u.lang ELSE b.lang END AS lang,
             u.del
      FROM base b FULL OUTER JOIN upd u ON b.doc_id = u.doc_id)
    SELECT doc_id, text, lang FROM merged
    WHERE del IS NULL OR NOT del ORDER BY doc_id
    """,
)
def q92(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    base = d.select("doc_id", "text", "lang")
    upd = d.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.upper("text").alias("text"),
        "lang",
        (F.col("doc_id") % 5 == 0).alias("del"),
    ).unionByName(
        d.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.lit("new doc "), F.col("doc_id").cast("string")).alias(
                "text"
            ),
            F.lit("en").alias("lang"),
            F.lit(False).alias("del"),
        )
    )
    return P.apply_corpus_update(base, upd, "doc_id", delete_col="del").orderBy(
        "doc_id"
    )


# -- q93: min/max envelope downsampling (operators/telemetry.py:
#    downsample_minmax) — the display/archive resample that keeps peaks.
#    Bucketed on event_id (a tie-free monotone axis, so first/last are
#    well-defined on both engines); avg is excluded from the graded
#    projection (IEEE sum order differs across engines) and pinned
#    approximately in pytest instead.
@query(
    "q93_downsample_envelope",
    """
    SELECT event_type,
           event_id - (event_id % 1000) AS bucket_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) AS value_min,
           MAX(value) AS value_max,
           arg_min(value, event_id) AS value_first,
           arg_max(value, event_id) AS value_last
    FROM events
    GROUP BY event_type, bucket_start
    ORDER BY event_type, bucket_start
    """,
)
def q93(spark, sf_dir):
    from .operators import telemetry as tm

    e = T(spark, sf_dir, "events")
    ds = tm.downsample_minmax(
        e, 1000, ["value"], time_col="event_id", key_cols=["event_type"]
    )
    return ds.select(
        "event_type",
        "bucket_start",
        "n",
        "value_min",
        "value_max",
        "value_first",
        "value_last",
    ).orderBy("event_type", "bucket_start")


# -- q94: bin-blocked interval join (operators/telemetry.py:
#    interval_join_binned) — J3's scale path when the interval side is
#    NOT broadcastable: points map to one bin, intervals explode to
#    overlapped bins, equi-join on bin + exact residual range filter.
#    Here: every event within 10 minutes after a signup (event-time µs
#    on both engines).  The oracle is the naive range join DuckDB plans
#    directly; results are identical, only the 100 TB shuffle shape
#    differs.
@query(
    "q94_interval_join_binned",
    """
    WITH iv AS (
      SELECT event_id AS iv_id, epoch_us(ts) AS t_start,
             epoch_us(ts) + 600000000 AS t_end
      FROM events WHERE event_type = 'signup'),
    p AS (SELECT event_id AS pid, epoch_us(ts) AS t FROM events)
    SELECT p.pid, iv.iv_id
    FROM p JOIN iv ON p.t >= iv.t_start AND p.t < iv.t_end
    ORDER BY pid, iv_id
    """,
)
def q94(spark, sf_dir):
    from .operators import telemetry as tm

    e = T(spark, sf_dir, "events")
    points = e.select(F.col("event_id").alias("pid"), ts_us().alias("t"))
    ivs = e.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("iv_id"),
        ts_us().alias("t_start"),
        (ts_us() + 600_000_000).alias("t_end"),
    )
    return (
        tm.interval_join_binned(
            # bin_width is half the interval span, the fastest of the
            # widths bench_scaling's bin_width_ab compares (every width
            # returns identical rows).  Narrower bins emit more
            # (interval, bin) replicas but funnel fewer points per
            # bin-pair through the residual range filter, which this
            # fixture's density makes the binding term.
            points, ivs, bin_width=300_000_000, time_col="t"
        )
        .select("pid", "iv_id")
        .orderBy("pid", "iv_id")
    )


# -- q95: per-group relative quality gate (operators/pipeline.py:
#    group_quantile_filter) — "keep the best 30% per language": exact
#    per-group rank with id tiebreak, ceil(frac*n) kept per group so
#    small groups survive.  The oracle is the literal window twin.
@query(
    "q95_group_quality_gate",
    """
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents)
    SELECT doc_id, lang, n_chars FROM ranked
    WHERE rk <= CEIL(ROUND(0.3 * n, 9)) ORDER BY doc_id
    """,
)
def q95(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return P.group_quantile_filter(
        d, ["lang"], "n_chars", 0.3, "doc_id"
    ).orderBy("doc_id")


# -- q96: linear quality scoring (operators/text.py: linear_score) —
#    the fastText-style classifier serving path: sigmoid(w.x + b) over
#    cheap JVM features with fixed (offline-trained) weights; the
#    oracle is the literal arithmetic twin.  Training is
#    logreg_train (iterative algorithm class — pinned against a numpy
#    twin in pytest, like kmeans_refine).
@query(
    "q96_quality_score",
    """
    SELECT doc_id,
           CAST(floor(1.0 / (1.0 + exp(-(0.004 * n_chars
                                         + 0.8 * (length(text) - length(replace(text, ' ', '')))
                                           / 100.0
                                         - 2.0))) * 1000000 + 0.5) AS BIGINT)
             AS score_fx
    FROM documents ORDER BY doc_id
    """,
)
def q96(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("n_chars_f"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
            / 100.0
        ).alias("space_density"),
    )
    scored = X.linear_score(
        feats, {"n_chars_f": 0.004, "space_density": 0.8}, bias=-2.0
    )
    return scored.select(
        "doc_id", fx(F.col("quality_score"), 1_000_000).alias("score_fx")
    ).orderBy("doc_id")


# ===================================== sketch-tier capstone (r7)
# -- q100: the "daily ingest" composition the sketch family exists for
#    (reference has no twin — this is the LLM-pipeline audit tier).
#    Per-epoch (per-day) shard tables for all three mergeable-artifact
#    tiers — bitmap (distinct), histogram (quantile), approx-top-k
#    (frequency); each shard groupBy carries the epoch key, i.e. the
#    batch twin of streaming/ingest.maintain_sketch_shards' epoch=N
#    directories — then cross-epoch merges answer the corpus audit FROM
#    ARTIFACTS ONLY: raw rows are touched only at shard build (one scan
#    per tier; a deployed ingest caches the day's batch or builds the
#    three shard tables in one foreachBatch), never at answer time.
#    Every tier is exact here (bitmaps are exact by
#    construction; histogram percentiles are bucket-left-edge
#    deterministic; item domain 7 <= max_items so the top-k sketch
#    degenerates to a complete counting map), which is what makes the
#    whole composition oracle-backed rather than rows-only.
@query(
    "q100_sketch_rollup",
    """
    WITH e AS (
      SELECT event_type, user_id, value, user_id % 7 AS item
      FROM events WHERE user_id IS NOT NULL),
    nd AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users
      FROM e GROUP BY 1),
    h AS (
      -- Spark width_bucket(v, 0, 500, 250) exact formula (q88 pattern)
      SELECT event_type,
             CASE WHEN value < 0.0 THEN 0
                  WHEN value >= 500.0 THEN 251
                  ELSE CAST(FLOOR(value / (500.0 / 250)) AS BIGINT) + 1
             END AS b,
             COUNT(*) AS n
      FROM e GROUP BY 1, 2),
    c AS (
      SELECT event_type, b,
             SUM(n) OVER (PARTITION BY event_type ORDER BY b) AS cum,
             SUM(n) OVER (PARTITION BY event_type) AS total
      FROM h),
    p AS (
      SELECT event_type, 0.5 AS q, MIN(b) AS b
      FROM c WHERE cum >= 0.5 * total GROUP BY 1
      UNION ALL
      SELECT event_type, 0.9, MIN(b)
      FROM c WHERE cum >= 0.9 * total GROUP BY 1),
    pv AS (
      SELECT event_type,
             MAX(CASE WHEN q = 0.5 THEN
                 LEAST(GREATEST(0.0 + (b - 1) * (500.0 / 250), 0.0), 500.0)
                 END) AS p50_value,
             MAX(CASE WHEN q = 0.9 THEN
                 LEAST(GREATEST(0.0 + (b - 1) * (500.0 / 250), 0.0), 500.0)
                 END) AS p90_value
      FROM p GROUP BY 1),
    tc AS (
      SELECT event_type, item, CAST(COUNT(*) AS BIGINT) AS est_count
      FROM e GROUP BY 1, 2),
    tk AS (
      SELECT event_type, item, est_count,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY est_count DESC, item) AS rn
      FROM tc),
    tj AS (
      SELECT event_type,
             string_agg(CAST(item AS VARCHAR), ','
                        ORDER BY est_count DESC, item) AS top_items,
             CAST(MAX(est_count) AS BIGINT) AS top_count
      FROM tk WHERE rn <= 3 GROUP BY 1)
    SELECT nd.event_type, nd.n_distinct_users, pv.p50_value, pv.p90_value,
           tj.top_items, tj.top_count
    FROM nd JOIN pv USING (event_type) JOIN tj USING (event_type)
    ORDER BY nd.event_type
    """,
)
def q100(spark, sf_dir):
    e = T(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ep = e.select(
        F.to_date(
            F.timestamp_micros(F.expr("ts div 1000"))
        ).alias("epoch"),
        "event_type",
        "user_id",
        "value",
        (F.col("user_id") % 7).alias("item"),
    )
    # --- shard build: one per-epoch artifact table per tier (what
    # maintain_sketch_shards writes under epoch=N, here as epoch keys)
    bmp_shards = K.bitmap_shard_sketch(ep, ["epoch", "event_type"], "user_id")
    hist_shards = K.histogram_shard_sketch(
        ep, ["epoch", "event_type"], "value", 0.0, 500.0, 250
    )
    topk_shards = K.topk_shard_sketch(ep, ["epoch", "event_type"], "item", 64)

    # --- answer time: merge across epochs, raw rows never re-read
    nd = K.bitmap_merge(bmp_shards, ["event_type"]).select(
        "event_type", F.col("n_distinct").cast("bigint").alias("n_distinct_users")
    )
    pct = K.histogram_percentiles(
        K.histogram_merge(hist_shards, ["event_type"]),
        ["event_type"],
        [0.5, 0.9],
        0.0,
        500.0,
        250,
    )
    pv = pct.groupBy("event_type").agg(
        F.max(F.when(F.col("q") == 0.5, F.col("value"))).alias("p50_value"),
        F.max(F.when(F.col("q") == 0.9, F.col("value"))).alias("p90_value"),
    )
    est = K.topk_estimate(
        K.topk_merge(topk_shards, ["event_type"], 64), ["event_type"], k=3
    )
    tj = (
        est.groupBy("event_type")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                (-F.col("est_count")).alias("_nc"),
                                F.col("item").alias("item"),
                            )
                        )
                    ),
                    lambda s: s["item"].cast("string"),
                ),
                ",",
            ).alias("top_items"),
            F.max("est_count").cast("bigint").alias("top_count"),
        )
    )
    return (
        nd.join(pv, "event_type")
        .join(tj, "event_type")
        .orderBy("event_type")
    )


# ===================================== IVF-PQ serving composition (r7)
# -- q101: the canonical billion-scale ANN layout (similarity.py:
#    ivfpq_encode/ivfpq_topk_rerank): IVF prunes WHICH lists are
#    scanned, PQ shrinks WHAT is scanned, exact re-rank restores
#    precision on the shortlist.  Rows-only (codebooks are engine-side
#    driver state); recall + JVM-only-plan + partition-pruned-layout
#    pinned by test_ivfpq_topk_recall_and_pruned_code_scan.
@query("q101_ivfpq_topk")
def q101(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    cents = S.train_centroids_sample(e, n_centroids=8)
    books = S.pq_train(e, m=8, n_codes=16, sample_size=1024)
    base = S.ivfpq_encode(e, cents, books)
    topk = S.ivfpq_topk_rerank(
        base, e, cents, books, qvec, k=10, n_probe=4
    )
    return topk.select(
        "vec_id", fx(F.col("cos_sim"), 1_000_000).alias("sim_fx")
    ).orderBy(F.desc("sim_fx"), "vec_id")


# ==================================== batch IVF-PQ serving (r8)
# -- q102: the batch twin of q101 (similarity.py:ivfpq_topk_batch /
#    ivfpq_topk_rerank_batch): the whole query batch is served by ONE
#    pass over the pruned codes — per-query ADC LUTs broadcast on q_id,
#    probes on centroid_id — then one exact re-rank job over the
#    Q x shortlist pair table.  Rows-only (codebooks are engine-side
#    driver state); exact batch-vs-single parity pinned by
#    test_ivfpq_topk_batch_matches_single_query_path.
@query("q102_ivfpq_batch")
def q102(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cents = S.train_centroids_sample(e, n_centroids=8)
    books = S.pq_train(e, m=8, n_codes=16, sample_size=1024)
    base = S.ivfpq_encode(e, cents, books)
    assigned = S.ivf_assign(e, cents)
    topk = S.ivfpq_topk_rerank_batch(
        base, assigned, cents, books, qs, k=5, n_probe=4, shortlist=200
    )
    return topk.select(
        "q_id", "vec_id", F.col("sim_fx").cast("long").alias("sim_fx")
    ).orderBy("q_id", F.desc("sim_fx"), "vec_id")


# ==================================== ANN index lifecycle capstone (r8)
# -- q103: the full persisted-index lifecycle in one query
#    (similarity.py ivf_save/ivf_load/ivf_compact): build a base index
#    from the first half of the embeddings table, land the second half
#    as two streamed-shape epochs (manifest.write_epoch — exactly how
#    maintain_ivf_index lands micro-batches), COMPACT the epochs into
#    base/v2 (one-PUT manifest flip), then probe the compacted
#    artifact.  The returned top-k must equal a probe over one batch
#    assign of the full table — compaction is invisible to readers.
#    Rows-only (artifact paths are engine-side temp state); the
#    commit / file-count / parity contracts are pinned by
#    test_ivf_compact_folds_epochs and the manifest suite.
@query("q103_index_lifecycle")
def q103(spark, sf_dir):
    import tempfile

    from .operators.manifest import write_epoch

    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = e.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    cents = S.train_centroids_sample(e, n_centroids=8)
    idx = tempfile.mkdtemp(prefix="ivf_lifecycle_") + "/idx"
    half = e.where(F.col("vec_id") % 2 == 0)
    S.ivf_save(S.ivf_assign(half, cents), cents, idx)
    for epoch, m in ((0, 1), (1, 3)):
        write_epoch(
            S.ivf_assign(e.where(F.col("vec_id") % 4 == m), cents)
            .select("vec_id", "embedding", "centroid_id"),
            idx + "/assignments", epoch, partition_cols=("centroid_id",),
        )
    S.ivf_compact(spark, idx)
    loaded, c2 = S.ivf_load(spark, idx)
    topk = S.ivf_topk(loaded, c2, qvec, k=10, n_probe=8)
    return topk.select(
        "vec_id", fx(F.col("cos_sim"), 1_000_000).alias("sim_fx")
    ).orderBy(F.desc("sim_fx"), "vec_id")


# ==================================== Bloom-filter blocklist (r10)
# -- q104: fingerprint-blocklist decontamination at membership-filter
#    cost (operators/membership.py): a blocklist of document
#    fingerprints (md5 of text — every 37th doc as an "external" list
#    plus every 5th-mod-1 doc as known-bad docs that ARE in the corpus,
#    so the block path really fires) compresses into a Bloom filter;
#    the corpus is filtered by the narrow bit-test prefilter and only
#    the maybe-set pays the exact anti-join — EXACT left_anti
#    semantics, so the oracle is a plain NOT-EXISTS over the same md5
#    keys.  At 100 TB the corpus never shuffles for the membership
#    test.
@query(
    "q104_bloom_blocklist",
    """
    WITH block AS (
      SELECT DISTINCT md5(text) AS fp FROM documents
      WHERE doc_id % 37 = 0 OR doc_id % 5 = 1)
    SELECT d.doc_id, d.n_chars
    FROM documents d
    WHERE d.doc_id % 37 <> 0
      AND NOT EXISTS (SELECT 1 FROM block b WHERE b.fp = md5(d.text))
    ORDER BY d.doc_id
    """,
)
def q104(spark, sf_dir):
    from .operators import membership as B

    docs = T(spark, sf_dir, "documents")
    block = docs.where(
        (F.col("doc_id") % 37 == 0) | (F.col("doc_id") % 5 == 1)
    ).select(F.md5("text").alias("fp"))
    corpus = docs.where(F.col("doc_id") % 37 != 0).withColumn(
        "fp", F.md5("text")
    )
    # advise=False: the bloom path is the POINT of this query (graded
    # at demo scale, where the advisory would rightly say "anti-join")
    out = B.bloom_decontaminate(corpus, block, "fp", fpp=0.01, advise=False)
    return out.select("doc_id", "n_chars").orderBy("doc_id")


# ==================================== Bloom n-gram decontamination (r11)
# -- q105: q52's GPT-3-style n-gram contamination rule executed as a
#    DROP at Bloom cost (pipeline.bloom_ngram_decontaminate): the
#    benchmark grams compress into a bloom, clean corpus grams pass
#    without touching the benchmark (no false negatives), only the
#    maybe-grams pay the exact verify semi-join — EXACT NOT-EXISTS
#    semantics, so the oracle is q52's gram CTE with NOT EXISTS.  n=4
#    for the same small-vocabulary reason as q52 (production 8..13).
#    At 100 TB: a full eval-suite union's raw 13-grams are many GB
#    (past broadcast); its bloom is ~10 bits/gram and the corpus text
#    never shuffles.
@query(
    "q105_bloom_ngram_decontaminate",
    r"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    g_raw AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks)-3, 1)+1),
                    i -> array_to_string(toks[CAST(i AS INT):CAST(i+3 AS INT)], ' ')))
               AS gram
      FROM docs),
    g AS (SELECT DISTINCT doc_id, gram FROM g_raw WHERE length(gram) > 0),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
    SELECT d.doc_id, d.n_chars
    FROM documents d
    WHERE d.doc_id % 50 <> 0
      AND NOT EXISTS (
        SELECT 1 FROM g c JOIN bench b ON c.gram = b.gram
        WHERE c.doc_id = d.doc_id)
    ORDER BY d.doc_id
    """,
)
def q105(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    clean = P.bloom_ngram_decontaminate(
        corpus, bench, "doc_id", "text", n=4, fpp=0.001
    )
    return clean.select("doc_id", "n_chars").orderBy("doc_id")


# ============================ span-level decontamination (r11)
# Fixture for q109: benchmark = every 50th doc; corpus =
# other docs (<=300) plus PLANTED contaminated docs that quote each
# benchmark doc's 12-token prefix and append a unique token — so every
# planted doc carries a known [0, ~12) contaminated span and organic
# 8-token collisions are ~impossible at the corpus vocabulary.  ONE
# definition each for the Spark corpus and the oracle CTE chain.
_CONTAM_FIXTURE_CTES = r"""WITH raw AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
      WHERE text IS NOT NULL AND length(trim(text)) > 0),
    bench AS (SELECT * FROM raw WHERE doc_id % 50 = 0),
    base AS (SELECT * FROM raw WHERE doc_id % 50 <> 0 AND doc_id <= 300),
    plant AS (
      SELECT doc_id + 1000000 AS doc_id,
             list_concat(toks[1:12], ['zz' || CAST(doc_id AS VARCHAR)]) AS toks
      FROM bench),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM plant),
    bwr AS (
      SELECT unnest(list_transform(range(1, greatest(len(toks)-8+1, 0)+1),
             i -> md5(array_to_string(toks[CAST(i AS INT):CAST(i+7 AS INT)], ' '))))
               AS whash
      FROM bench),
    bw AS (SELECT DISTINCT whash FROM bwr),
    cwr AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks)-8+1, 0)+1),
                    i -> struct_pack(pos := i-1,
                                     whash := md5(array_to_string(toks[CAST(i AS INT):CAST(i+7 AS INT)], ' ')))))
               AS w
      FROM corpus),
    cw AS (SELECT doc_id, w.pos AS pos, w.whash AS whash FROM cwr),
    hit AS (SELECT doc_id, pos FROM cw WHERE whash IN (SELECT whash FROM bw)),
    isl AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM hit)"""


def _contam_fixture(spark, sf_dir):
    d = (
        T(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
        .select("doc_id", "text")
    )
    toks = X.tokens("text")
    bench = d.where(F.col("doc_id") % 50 == 0)
    base = d.where((F.col("doc_id") % 50 != 0) & (F.col("doc_id") <= 300))
    plant = bench.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(
            F.concat(
                F.slice(toks, 1, 12),
                F.array(F.concat(F.lit("zz"), F.col("doc_id").cast("string"))),
            ),
            " ",
        ).alias("text"),
    )
    return base.unionByName(plant), bench


# ================================== hits-strategy decontamination (r12)
# -- q108: q104's fingerprint-blocklist decontamination executed by the
#    r12 hits strategy (membership.bloom_decontaminate strategy="hits"
#    — the plan decontaminate_auto routes the unbroadcastable-blocklist
#    x wide-corpus regime to): one NARROW key scan bloom-filters the
#    fingerprint stream, the true-hit list broadcasts back into a
#    single anti-join over one wide scan — the corpus payload is
#    scanned once, never shuffled, never sorted (measured 4.1x the
#    plain anti-join at 6M x 1KB, bench membership.wide).  Semantics
#    are EXACT left_anti like q104, so the oracle is the same
#    NOT-EXISTS; the projection keeps n_tokens so the wide column the
#    plan protects is actually consumed.
@query(
    "q108_bloom_hits_decontaminate",
    """
    WITH block AS (
      SELECT DISTINCT md5(text) AS fp FROM documents
      WHERE doc_id % 37 = 0 OR doc_id % 5 = 1)
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d
    WHERE d.doc_id % 37 <> 0
      AND NOT EXISTS (SELECT 1 FROM block b WHERE b.fp = md5(d.text))
    ORDER BY d.doc_id
    """,
)
def q108(spark, sf_dir):
    from .operators import membership as B

    docs = T(spark, sf_dir, "documents")
    block = docs.where(
        (F.col("doc_id") % 37 == 0) | (F.col("doc_id") % 5 == 1)
    ).select(F.md5("text").alias("fp"))
    corpus = docs.where(F.col("doc_id") % 37 != 0).withColumn(
        "fp", F.md5("text")
    )
    out = B.bloom_decontaminate(
        corpus, block, "fp", fpp=0.01, advise=False, strategy="hits"
    )
    return out.select("doc_id", "lang", "n_chars").orderBy("doc_id")


# ====================================== contamination provenance (r12)
# -- q109: contamination REPORT (pipeline.contamination_report) — the
#    audit half of the span-decontamination family: which benchmark
#    document each contaminated corpus doc quotes (bench ids survive
#    the window join), how many width-token windows match, and the
#    quoted region's bounds.  Same window kernel as q111/q75; the
#    oracle re-derives the attribution join over the shared fixture
#    CTEs.
@query(
    "q109_contamination_report",
    _CONTAM_FIXTURE_CTES
    + """,
    bwd_r AS (
      SELECT doc_id AS bench_id,
             unnest(list_transform(range(1, greatest(len(toks)-8+1, 0)+1),
                    i -> md5(array_to_string(toks[CAST(i AS INT):CAST(i+7 AS INT)], ' '))))
               AS whash
      FROM bench),
    bwd AS (SELECT DISTINCT bench_id, whash FROM bwd_r)
    SELECT c.doc_id, b.bench_id, count(*) AS n_windows,
           min(c.pos) AS first_pos, max(c.pos) + 8 AS last_pos
    FROM cw c JOIN bwd b USING (whash)
    GROUP BY c.doc_id, b.bench_id
    ORDER BY c.doc_id, b.bench_id
    """,
)
def q109(spark, sf_dir):
    corpus, bench = _contam_fixture(spark, sf_dir)
    rep = P.contamination_report(corpus, bench, "doc_id", "text", width=8)
    return rep.select(
        "doc_id", "bench_id", "n_windows", "first_pos", "last_pos"
    ).orderBy("doc_id", "bench_id")


# ================================== decontamination capstone (r12)
# -- q111: the decontamination TIER composed end-to-end on one corpus,
#    every stage unit-tested individually (tests/test_pipeline_ops.py):
#    (1) heavy-contamination DROP — docs sharing >= 10 distinct 4-grams
#    with the benchmark union (q52's gram kernel, the whole-doc rule);
#    (2) span STRIP on the survivors — exact 8-token benchmark windows
#    removed, doc kept (strip_contaminated_spans); (3) SEMANTIC drop —
#    survivors whose embedding is cosine >= 0.9 to any benchmark
#    embedding (semantic_decontaminate's paraphrase rule; docs without
#    embeddings pass).  Fixture plants one doc per class from the real
#    tables: verbatim bench copies (die at 1), 12-token quotes + unique
#    tail (stripped at 2, tail survives), clean-text docs carrying
#    bench embeddings (die at 3).
#    100 TB shape: bench grams/windows/vectors all broadcast; corpus
#    text shuffles only as (id, pos, hash) triples in stage 2.
@query(
    "q111_decontamination_pipeline",
    r"""
    WITH raw AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
    bench AS (SELECT * FROM raw WHERE doc_id % 50 = 0),
    organic AS (SELECT * FROM raw WHERE doc_id % 50 <> 0),
    ph AS (SELECT doc_id + 2000000 AS doc_id, toks FROM bench),
    ps AS (SELECT doc_id + 1000000 AS doc_id,
                  list_concat(toks[1:12], ['qq' || CAST(doc_id AS VARCHAR)]) AS toks
           FROM bench),
    pm AS (SELECT doc_id + 3000000 AS doc_id,
                  ['clean', 'unique', 'zz' || CAST(doc_id AS VARCHAR)] AS toks
           FROM bench),
    corpus AS (SELECT * FROM organic UNION ALL SELECT * FROM ph
               UNION ALL SELECT * FROM ps UNION ALL SELECT * FROM pm),
    cg_raw AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks)-3, 1)+1),
                    i -> array_to_string(toks[CAST(i AS INT):CAST(i+3 AS INT)], ' ')))
               AS gram
      FROM corpus),
    cg AS (SELECT DISTINCT doc_id, gram FROM cg_raw WHERE length(gram) > 0),
    bg_raw AS (
      SELECT unnest(list_transform(range(1, greatest(len(toks)-3, 1)+1),
                    i -> array_to_string(toks[CAST(i AS INT):CAST(i+3 AS INT)], ' ')))
               AS gram
      FROM bench),
    bg AS (SELECT DISTINCT gram FROM bg_raw WHERE length(gram) > 0),
    tot AS (SELECT doc_id, count(*) AS n FROM cg
            WHERE gram IN (SELECT gram FROM bg) GROUP BY doc_id),
    s1 AS (SELECT * FROM corpus
           WHERE doc_id NOT IN (SELECT doc_id FROM tot WHERE n >= 10)),
    bw_raw AS (
      SELECT unnest(list_transform(range(1, greatest(len(toks)-8+1, 0)+1),
                    i -> md5(array_to_string(toks[CAST(i AS INT):CAST(i+7 AS INT)], ' '))))
               AS whash
      FROM bench),
    bw AS (SELECT DISTINCT whash FROM bw_raw),
    cw_raw AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks)-8+1, 0)+1),
                    i -> struct_pack(pos := i-1,
                                     whash := md5(array_to_string(toks[CAST(i AS INT):CAST(i+7 AS INT)], ' ')))))
               AS w
      FROM s1),
    cw AS (SELECT doc_id, w.pos AS pos, w.whash AS whash FROM cw_raw),
    hit AS (SELECT doc_id, pos FROM cw WHERE whash IN (SELECT whash FROM bw)),
    isl AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM hit),
    spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
              FROM isl GROUP BY doc_id, g),
    tok_pos AS (
      SELECT c.doc_id, unnest(range(1, len(c.toks)+1)) AS i, c.toks AS toks
      FROM s1 c),
    toksf AS (SELECT doc_id, i - 1 AS pos, toks[CAST(i AS INT)] AS tok FROM tok_pos),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok FROM toksf t
      WHERE NOT EXISTS (SELECT 1 FROM spans s
                        WHERE s.doc_id = t.doc_id AND t.pos >= s.s AND t.pos < s.e)),
    stripped AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
                 FROM kept GROUP BY doc_id),
    bv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE vec_id % 50 = 0),
    cv AS (SELECT vec_id AS doc_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE vec_id % 50 <> 0
           UNION ALL
           SELECT vec_id + 3000000 AS doc_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE vec_id % 50 = 0),
    sem_bad AS (SELECT DISTINCT c.doc_id FROM cv c, bv b
                WHERE list_dot_product(c.v, b.v) >= 0.9)
    SELECT doc_id, text FROM stripped
    WHERE length(text) > 0
      AND doc_id NOT IN (SELECT doc_id FROM sem_bad)
    ORDER BY doc_id
    """,
)
def q111(spark, sf_dir):
    d = (
        T(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
        .select("doc_id", "text")
    )
    toks = X.tokens("text")
    bench = d.where(F.col("doc_id") % 50 == 0)
    organic = d.where(F.col("doc_id") % 50 != 0)
    ph = bench.select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    ps = bench.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(
            F.concat(
                F.slice(toks, 1, 12),
                F.array(F.concat(F.lit("qq"), F.col("doc_id").cast("string"))),
            ),
            " ",
        ).alias("text"),
    )
    pm = bench.select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.lit("clean unique zz"), F.col("doc_id").cast("string")).alias("text"),
    )
    corpus = organic.unionByName(ph).unionByName(ps).unionByName(pm)

    # stage 1: heavy-contamination drop (>= 10 distinct shared 4-grams)
    def grams(df):
        toked = D._tokenized(df, "doc_id", "text")
        return toked.select(
            "doc_id", F.explode(D._shingles(F.col("_toks"), 4)).alias("gram")
        ).where(F.length("gram") > 0)

    bg = F.broadcast(grams(bench).select("gram").distinct())
    heavy = (
        grams(corpus)
        .join(bg, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n"))
        .where(F.col("n") >= 10)
        .select("doc_id")
    )
    s1 = corpus.join(F.broadcast(heavy), "doc_id", "left_anti")

    # stage 2: surgical span strip (exact 8-token benchmark windows).
    # r18: spans are DETECTED over `corpus`, not s1 — the strip
    # attaches spans per doc via a left join, so span rows for
    # stage-1-dropped docs never match and the output is identical,
    # while the expensive stage-1 grams anti-join subtree appears
    # ONCE in the plan (under the strip side) instead of also under
    # the window-hash side (was strip_contaminated_spans(s1, ...)).
    spans = P.contaminated_spans(corpus, bench, "doc_id", "text", width=8)
    s2 = D.apply_span_strip(s1, spans, "doc_id", "text")

    # stage 3: semantic drop on the survivors that have embeddings.
    # r18: the flagged-id set is computed over the WHOLE embedding
    # corpus and anti-joined once — flagged ids outside s2 can't
    # match the anti-join, so this is result-identical to splitting
    # s2 into with/without-embedding halves (the old with_emb/no_emb
    # join + semantic_decontaminate + union), while the s2 subtree
    # (stages 1-2 under it) is evaluated once, not twice.
    emb = T(spark, sf_dir, "embeddings")
    bemb = emb.where(F.col("vec_id") % 50 == 0)
    cemb = (
        emb.where(F.col("vec_id") % 50 != 0)
        .select(F.col("vec_id").alias("doc_id"), "embedding")
        .unionByName(
            bemb.select(
                (F.col("vec_id") + 3_000_000).alias("doc_id"), "embedding"
            )
        )
    )
    bad = P.semantic_contaminated_ids(
        cemb, bemb, id_col="doc_id", vec_col="embedding", threshold=0.9
    )
    final = s2.join(bad, "doc_id", "left_anti")
    norm = F.array_join(X.tokens("text"), " ")
    return (
        final.select("doc_id", norm.alias("text"))
        .where(F.length("text") > 0)
        .orderBy("doc_id")
    )


# ========================================== corpus datasheet (r12)
# -- q112: one-pass dataset profile (pipeline.corpus_profile) — the
#    datasheet a curation run records next to its output: exact
#    cardinalities, degenerate-text counts, duplicate pressure via the
#    same md5 content key exact_dedup groups on, size totals, plus the
#    per-language breakdown.  Both frames union into one result (kind
#    column) so the oracle is a pair of plain SQL aggregate blocks.
@query(
    "q112_corpus_profile",
    """
    SELECT 'all' AS kind, '' AS lang,
           count(*) AS n_rows,
           count(DISTINCT md5(text)) AS n_distinct_texts,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
           CAST(SUM(COALESCE(length(text), 0)) AS BIGINT) AS total_chars
    FROM documents
    UNION ALL
    SELECT 'lang' AS kind, lang,
           count(*) AS n_rows,
           count(DISTINCT md5(text)) AS n_distinct_texts,
           CAST(0 AS BIGINT) AS n_null_text,
           CAST(0 AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    ORDER BY kind, lang
    """,
)
def q112(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    profile, by_lang = P.corpus_profile(d, "doc_id", "text", lang_col="lang")
    top = profile.select(
        F.lit("all").alias("kind"),
        F.lit("").alias("lang"),
        "n_rows",
        "n_distinct_texts",
        "n_null_text",
        "total_chars",
    )
    langs = by_lang.select(
        F.lit("lang").alias("kind"),
        "lang",
        "n_rows",
        "n_distinct_texts",
        F.lit(0).cast("long").alias("n_null_text"),
        F.lit(0).cast("long").alias("total_chars"),
    )
    return top.unionByName(langs).orderBy("kind", "lang")


# ===================================== lexical retrieval tier (r13)
# The search surface next to the ANN tier: positional inverted index,
# BM25 ranking, exact phrase match (operators/retrieval.py — no
# reference twin; the classic IR shapes as Spark relational plans).
# Oracle-parity notes: tokenization is the corpus-wide whitespace
# convention (split(trim(text), '\s+') = string_split_regex); BM25
# uses idf='rational' + the fixed-point scale knob so the cross-term
# sum is an exact integer sum (ln is libm-dependent — module
# docstring; the Robertson-idf default is pinned by pytest instead).
_BM25_SQL_STATS = """
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (SELECT count(*) AS n_docs, SUM(dl)/count(*) AS avgdl FROM dl),
    pos AS (
      SELECT doc_id, unnest(t) AS term,
             unnest(generate_series(1, len(t))) AS p
      FROM toks
    )
"""


# -- q116: bigram collocation mining (text.collocations) — the phrase-
#    discovery pass a tokenizer/vocab build runs: adjacent pairs
#    co-occurring far above chance, ranked by the log-free PMI ratio
#    (lift; rank-equivalent to PMI since log is monotone — the same
#    rational dodge as BM25's idf).  Bigrams derive narrowly from two
#    shifted slices of each token array (no positional self-join); the
#    oracle zips two shifted unnests.  Ties broken by (w1, w2) in both
#    engines; lift's one double division has an identical IEEE shape.
@query(
    "q116_collocations",
    """
    WITH toks AS (
      SELECT string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    bi AS (
      SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ),
    pc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_count
      FROM bi GROUP BY w1, w2 HAVING count(*) >= 20
    ),
    uni AS (
      SELECT unnest(t) AS w FROM toks
    ),
    uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w),
    tot AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM uni) AS n_uni,
             (SELECT CAST(count(*) AS BIGINT) FROM bi) AS n_pairs
    )
    SELECT pc.w1, pc.w2, pc.pair_count, u1.c AS c1, u2.c AS c2,
           CAST(floor(
             (CAST(pc.pair_count AS DOUBLE) * CAST(tot.n_uni AS DOUBLE)
              * CAST(tot.n_uni AS DOUBLE))
             / (CAST(tot.n_pairs AS DOUBLE) * CAST(u1.c AS DOUBLE)
                * CAST(u2.c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             AS lift_fx
    FROM pc
    JOIN uc u1 ON u1.w = pc.w1
    JOIN uc u2 ON u2.w = pc.w2
    CROSS JOIN tot
    ORDER BY lift_fx DESC, w1, w2 LIMIT 30
    """,
)
def q116(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    out = X.collocations(d, "text", min_count=20)
    return (
        out.select(
            "w1", "w2", "pair_count", "c1", "c2",
            fx("lift", 1_000_000).alias("lift_fx"),
        )
        .orderBy(F.desc("lift_fx"), "w1", "w2")
        .limit(30)
    )


# -- q117: hybrid retrieval via reciprocal-rank fusion
#    (retrieval.rrf_fuse, Cormack et al. 2009) — the capstone tying the
#    lexical tier (q122's BM25) to the vector tier (q25's cosine):
#    both top-50 lists fuse score-calibration-free as
#    sum(1/(60+rank)).  Each 1/(60+rank) contribution fixes to an
#    exact integer before the cross-list sum; both engines rank every
#    stage by (fx desc, id), so list membership, ranks, and the fused
#    order are all deterministic.  The ranking windows run over
#    already-top-k'd 50-row frames (constant partition key — bounded
#    by construction, not corpus-sized).
@query(
    "q117_hybrid_rrf",
    "WITH " + _BM25_SQL_STATS + """,
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM pos WHERE term IN ('spark', 'window', 'merge')
      GROUP BY doc_id, term
    ),
    idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id,
             (1.0 + (stats.n_docs - idf.df + 0.5) / (idf.df + 0.5))
             * (tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS c
      FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    scores AS (
      SELECT doc_id,
             CAST(SUM(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM contrib GROUP BY doc_id
    ),
    bm AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score_fx DESC, doc_id) AS INT)
               AS rank
      FROM scores ORDER BY score_fx DESC, doc_id LIMIT 50
    ),
    qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id AS doc_id,
             CAST(floor(list_dot_product(
                  list_transform(e.embedding, x -> CAST(x AS DOUBLE)), qv.qv
                )*1000000 + 0.5) AS BIGINT) AS sim_fx
      FROM embeddings e, qv
    ),
    cos AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY sim_fx DESC, doc_id) AS INT)
               AS rank
      FROM sims ORDER BY sim_fx DESC, doc_id LIMIT 50
    ),
    u AS (
      SELECT doc_id,
             CAST(floor(1.0/(60 + rank) * 1000000000 + 0.5) AS BIGINT) AS c
      FROM bm
      UNION ALL
      SELECT doc_id,
             CAST(floor(1.0/(60 + rank) * 1000000000 + 0.5) AS BIGINT) AS c
      FROM cos
    ),
    fused AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_fx,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM u GROUP BY doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY rrf_fx DESC, doc_id) AS INT)
             AS rank,
           doc_id, rrf_fx, n_sources
    FROM fused ORDER BY rrf_fx DESC, doc_id LIMIT 10
    """,
)
def q117(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    e = T(spark, sf_dir, "embeddings")
    idx = shared_index(d)  # r18: multi-consumer index, see shared_index
    bm = R.bm25_topk(
        idx, ["spark", "window", "merge"], k=50, idf="rational",
        scale=1_000_000,
    ).select("doc_id", "rank")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    sims = e.select(
        F.col("vec_id").alias("doc_id"),
        fx(S.dot(F.col("embedding"), S.lit_vec(qvec)), 1_000_000).alias(
            "sim_fx"
        ),
    )
    top50 = sims.orderBy(F.desc("sim_fx"), "doc_id").limit(50)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("sim_fx"), F.col("doc_id"))
    cos = top50.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "rank"
    )
    out = R.rrf_fuse([bm, cos], topk=10, scale=1_000_000_000)
    return out.select(
        "rank", "doc_id",
        fx("rrf_score", 1_000_000_000).alias("rrf_fx"),
        "n_sources",
    ).orderBy("rank")


# Shared by the retrieval-eval oracles (q121, q123, q133, q141): the
# nDCG@10 discounts 1/log2(r+1) as DRIVER-side fixed-point constants
# (retrieval.ndcg_discounts_fx — log2 is libm-dependent), so both
# engines multiply by the same integers.
_NDCG_DISC_10 = R.ndcg_discounts_fx(10, 10**9)


def _sql_disc_case(col: str) -> str:
    whens = " ".join(
        f"WHEN {i + 1} THEN {d}" for i, d in enumerate(_NDCG_DISC_10)
    )
    return f"CASE {col} {whens} END"


# -- q119: pseudo-relevance-feedback query expansion
#    (retrieval.prf_expand, RM1 — Lavrenko & Croft 2001) — the classic
#    retrieval feedback loop run end-to-end: first-pass BM25 top-10
#    for ('spark','window') -> RM1 term weights over the feedback docs
#    ((tf/dl) * doc_score, fixed-pointed per contribution) -> top-3
#    expansion terms (weight desc, term) -> SECOND BM25 pass over the
#    union.  The 3 expansion terms are collected driver-side (human-
#    sized by construction — q117's query-vector precedent); the
#    oracle runs the whole loop set-based, sharing every constant.
@query(
    "q119_prf_expansion",
    "WITH " + _BM25_SQL_STATS + """,
    orig(term) AS (VALUES ('spark'), ('window')),
    tf1 AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM pos WHERE term IN (SELECT term FROM orig)
      GROUP BY doc_id, term
    ),
    idf1 AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             FROM tf1 GROUP BY term),
    contrib1 AS (
      SELECT tf1.doc_id,
             (1.0 + (stats.n_docs - idf1.df + 0.5) / (idf1.df + 0.5))
             * (tf1.tf * 2.2
                / (tf1.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)))
               AS c
      FROM tf1 JOIN idf1 USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    scores1 AS (
      SELECT doc_id,
             CAST(SUM(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM contrib1 GROUP BY doc_id
    ),
    fb AS (
      SELECT doc_id, score_fx FROM scores1
      ORDER BY score_fx DESC, doc_id LIMIT 10
    ),
    cand AS (
      SELECT fb.doc_id, fb.score_fx, len(toks.t) AS fdl,
             unnest(toks.t) AS term
      FROM fb JOIN toks USING (doc_id)
    ),
    perdoc AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
             MIN(fdl) AS fdl, MIN(score_fx) AS sfx
      FROM cand GROUP BY doc_id, term
    ),
    wts AS (
      SELECT term,
             CAST(SUM(CAST(floor(
               (CAST(tf AS DOUBLE) / CAST(fdl AS DOUBLE))
               * (CAST(sfx AS DOUBLE) / CAST(1000000 AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS w_fx
      FROM perdoc GROUP BY term
    ),
    expanded AS (
      SELECT term FROM wts WHERE term NOT IN (SELECT term FROM orig)
      ORDER BY w_fx DESC, term LIMIT 3
    ),
    allterms AS (
      SELECT term FROM orig UNION SELECT term FROM expanded
    ),
    tf2 AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM pos WHERE term IN (SELECT term FROM allterms)
      GROUP BY doc_id, term
    ),
    idf2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             FROM tf2 GROUP BY term),
    contrib2 AS (
      SELECT tf2.doc_id,
             (1.0 + (stats.n_docs - idf2.df + 0.5) / (idf2.df + 0.5))
             * (tf2.tf * 2.2
                / (tf2.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)))
               AS c
      FROM tf2 JOIN idf2 USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    scores2 AS (
      SELECT doc_id,
             CAST(SUM(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM contrib2 GROUP BY doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY score_fx DESC, doc_id) AS INT)
             AS rank,
           doc_id, score_fx
    FROM scores2 ORDER BY score_fx DESC, doc_id LIMIT 10
    """,
)
def q119(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    idx = shared_index(d)  # r18: multi-consumer index, see shared_index
    orig = ["spark", "window"]
    first = R.bm25_topk(idx, orig, k=10, idf="rational", scale=10**6)
    exp = R.prf_expand(
        d, first, n_terms=3, exclude=orig, scale=10**6
    )
    terms = orig + [r["term"] for r in exp.collect()]
    out = R.bm25_topk(idx, terms, k=10, idf="rational", scale=10**6)
    return out.select(
        "rank", "doc_id", fx("score", 10**6).alias("score_fx")
    ).orderBy("rank")


# -- q121: paired system comparison (retrieval.eval_compare) — a real
#    IR ablation run end-to-end: BM25 WITH length normalization
#    (b=0.75) vs WITHOUT (b=0) on the same queries and tf-graded
#    qrels, compared per-query on nDCG@10 (shared ideal ranking, so
#    only the dcg side differs).  One hash-graded row: per-system
#    mean nDCG, mean paired delta, and win/tie/loss counts at 1e-6
#    precision.  Registers just outside the graded window (created
#    with it full — next-rotation promotion candidate).
@query(
    "q121_eval_compare_bm25_b",
    "WITH " + _BM25_SQL_STATS + f""",
    q(q_id, term) AS (
      VALUES (1, 'spark'), (1, 'window'), (2, 'merge'), (2, 'batch'),
             (2, 'join'), (3, 'vector')
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM pos WHERE term IN (SELECT term FROM q)
      GROUP BY doc_id, term
    ),
    idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    contrib_a AS (
      SELECT q.q_id, tf.doc_id,
             (1.0 + (stats.n_docs - idf.df + 0.5) / (idf.df + 0.5))
             * (tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS c
      FROM tf JOIN q USING (term) JOIN idf USING (term)
        JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    contrib_b AS (
      SELECT q.q_id, tf.doc_id,
             (1.0 + (stats.n_docs - idf.df + 0.5) / (idf.df + 0.5))
             * (tf.tf * 2.2
                / (tf.tf + 1.2 * (1.0 + 0.0 * dl.dl / stats.avgdl))) AS c
      FROM tf JOIN q USING (term) JOIN idf USING (term)
        JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    scores_a AS (
      SELECT q_id, doc_id,
             CAST(SUM(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM contrib_a GROUP BY q_id, doc_id
    ),
    scores_b AS (
      SELECT q_id, doc_id,
             CAST(SUM(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM contrib_b GROUP BY q_id, doc_id
    ),
    ranked_a AS (
      SELECT q_id, doc_id,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY score_fx DESC, doc_id) AS INT)
               AS rank
      FROM scores_a
    ),
    ranked_b AS (
      SELECT q_id, doc_id,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY score_fx DESC, doc_id) AS INT)
               AS rank
      FROM scores_b
    ),
    nt AS (SELECT q_id, count(*) AS n_terms FROM q GROUP BY q_id),
    matched AS (
      SELECT q.q_id, tf.doc_id,
             CAST(count(DISTINCT tf.term) AS INT) AS m,
             CAST(SUM(tf.tf) AS BIGINT) AS tfs
      FROM tf JOIN q USING (term) GROUP BY q.q_id, tf.doc_id
    ),
    qrels AS (
      SELECT matched.q_id, doc_id, CAST(least(tfs, 8) AS INT) AS rel
      FROM matched JOIN nt USING (q_id)
      WHERE m = n_terms AND tfs >= 4
    ),
    ideal AS (
      SELECT q_id, rel,
             row_number() OVER (
               PARTITION BY q_id ORDER BY rel DESC, doc_id) AS ir
      FROM qrels
    ),
    perrel AS (
      SELECT q_id,
             CAST(SUM(CASE WHEN ir <= 10 THEN
                    (CAST((1 << rel) - 1 AS BIGINT))
                    * ({_sql_disc_case('ir')})
                  ELSE 0 END) AS BIGINT) AS idcg_fx
      FROM ideal GROUP BY q_id
    ),
    dcg_a AS (
      SELECT r.q_id,
             CAST(SUM(CASE WHEN qr.rel IS NOT NULL THEN
                    (CAST((1 << qr.rel) - 1 AS BIGINT))
                    * ({_sql_disc_case('r.rank')})
                  ELSE 0 END) AS BIGINT) AS dcg_fx
      FROM ranked_a r
      LEFT JOIN qrels qr ON qr.q_id = r.q_id AND qr.doc_id = r.doc_id
      WHERE r.rank <= 10 GROUP BY r.q_id
    ),
    dcg_b AS (
      SELECT r.q_id,
             CAST(SUM(CASE WHEN qr.rel IS NOT NULL THEN
                    (CAST((1 << qr.rel) - 1 AS BIGINT))
                    * ({_sql_disc_case('r.rank')})
                  ELSE 0 END) AS BIGINT) AS dcg_fx
      FROM ranked_b r
      LEFT JOIN qrels qr ON qr.q_id = r.q_id AND qr.doc_id = r.doc_id
      WHERE r.rank <= 10 GROUP BY r.q_id
    ),
    perq AS (
      SELECT perrel.q_id,
             CAST(floor(CAST(COALESCE(dcg_a.dcg_fx, 0) AS DOUBLE)
                  / CAST(perrel.idcg_fx AS DOUBLE) * 1000000 + 0.5)
               AS BIGINT) AS afx,
             CAST(floor(CAST(COALESCE(dcg_b.dcg_fx, 0) AS DOUBLE)
                  / CAST(perrel.idcg_fx AS DOUBLE) * 1000000 + 0.5)
               AS BIGINT) AS bfx
      FROM perrel
      LEFT JOIN dcg_a USING (q_id)
      LEFT JOIN dcg_b USING (q_id)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(floor(CAST(SUM(afx) AS DOUBLE) / CAST(1000000 AS DOUBLE)
                / count(*) * 1000000 + 0.5) AS BIGINT) AS a_ndcg_fx,
           CAST(floor(CAST(SUM(bfx) AS DOUBLE) / CAST(1000000 AS DOUBLE)
                / count(*) * 1000000 + 0.5) AS BIGINT) AS b_ndcg_fx,
           CAST(floor(CAST(SUM(afx - bfx) AS DOUBLE)
                / CAST(1000000 AS DOUBLE)
                / count(*) * 1000000 + 0.5) AS BIGINT) AS delta_fx,
           CAST(SUM(CASE WHEN afx > bfx THEN 1 ELSE 0 END) AS BIGINT)
             AS wins,
           CAST(SUM(CASE WHEN afx = bfx THEN 1 ELSE 0 END) AS BIGINT)
             AS ties,
           CAST(SUM(CASE WHEN afx < bfx THEN 1 ELSE 0 END) AS BIGINT)
             AS losses
    FROM perq
    """,
)
def q121(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    idx = shared_index(d)  # r18: multi-consumer index, see shared_index
    qs = spark.createDataFrame(
        [(1, ["spark", "window"]), (2, ["merge", "batch", "join"]),
         (3, ["vector"])],
        "q_id long, terms array<string>",
    )
    qterms = qs.select("q_id", F.explode("terms").alias("term"))
    nt = qs.select("q_id", F.size("terms").alias("n_terms"))
    matched = (
        idx.join(F.broadcast(qterms), "term")
        .groupBy("q_id", "doc_id")
        .agg(
            F.countDistinct("term").cast("int").alias("m"),
            F.sum("tf").alias("tfs"),
        )
    )
    qrels = (
        matched.join(F.broadcast(nt), "q_id")
        .where((F.col("m") == F.col("n_terms")) & (F.col("tfs") >= 4))
        .select(
            "q_id", "doc_id",
            F.least(F.col("tfs"), F.lit(8)).cast("int").alias("rel"),
        )
    )
    res_a = R.bm25_topk_batch(idx, qs, k=10, idf="rational", scale=10**6)
    res_b = R.bm25_topk_batch(
        idx, qs, k=10, b=0.0, idf="rational", scale=10**6
    )
    ev_a = R.retrieval_eval(res_a, qrels, k=10)
    ev_b = R.retrieval_eval(res_b, qrels, k=10)
    out = R.eval_compare(ev_a, ev_b, metric="ndcg")
    return out.select(
        "n_queries",
        fx("a_mean", 10**6).alias("a_ndcg_fx"),
        fx("b_mean", 10**6).alias("b_ndcg_fx"),
        fx("mean_delta", 10**6).alias("delta_fx"),
        "wins", "ties", "losses",
    )


# -- q122: the ANALYZED index path graded end-to-end (r14 verdict #3):
#    a deterministically-noised corpus (every token uppercased with a
#    trailing comma, plus a standalone '...' per doc) is indexed with
#    analyzer='simple' — case-fold + edge-punctuation strip, with the
#    all-punct token dropped from positions AND dl — and BM25-scored
#    for analyze_terms()-normalized query terms.  The DuckDB twin
#    replays the same 32-char ASCII punctuation class (_PUNCT_CLASS is
#    engine-portable by construction), so the hash grades tokenizer
#    normalization, the dl exclusion, and the same-analyzer query
#    contract in one query.
_SQL_PUNCT = R._PUNCT_CLASS.replace("'", "''")
_Q122_STATS = (
    """
    noisy AS (
      SELECT doc_id,
             regexp_replace(upper(text), '(\\S+)', '\\1,', 'g') || ' ...'
               AS text
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    rawtoks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS rt
      FROM noisy
    ),
    toks AS (
      SELECT doc_id,
             list_filter(list_transform(rt,
               t -> regexp_replace(lower(t), '^"""
    + _SQL_PUNCT
    + "+|"
    + _SQL_PUNCT
    + """+$', '', 'g')),
               t -> t <> '') AS t
      FROM rawtoks
    ),
    toksf AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
    dl AS (SELECT doc_id, len(t) AS dl FROM toksf),
    stats AS (SELECT count(*) AS n_docs, SUM(dl)/count(*) AS avgdl FROM dl),
    pos AS (
      SELECT doc_id, unnest(t) AS term,
             unnest(generate_series(1, len(t))) AS p
      FROM toksf
    )
"""
)


@query(
    "q122_analyzed_bm25",
    "WITH " + _Q122_STATS + """,
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM pos WHERE term IN ('spark', 'query')
      GROUP BY doc_id, term
    ),
    idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id,
             (1.0 + (stats.n_docs - idf.df + 0.5) / (idf.df + 0.5))
             * (tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS c
      FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    scores AS (
      SELECT doc_id,
             CAST(SUM(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM contrib GROUP BY doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY score_fx DESC, doc_id) AS INT)
             AS rank,
           doc_id, score_fx
    FROM scores ORDER BY score_fx DESC, doc_id LIMIT 10
    """,
)
def q122(spark, sf_dir):
    d = T(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    noisy = d.select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.upper(F.col("text")), r"(\S+)", "$1,"),
            F.lit(" ..."),
        ).alias("text"),
    )
    idx = shared_index(noisy, analyzer="simple")  # r18: see shared_index
    terms = R.analyze_terms("SPARK, Query.", "simple")  # -> spark, query
    out = R.bm25_topk(idx, terms, k=10, idf="rational", scale=1_000_000)
    return out.select(
        "rank", "doc_id", fx("score", 1_000_000).alias("score_fx")
    ).orderBy("rank")


# -- q123: the search-stack capstone (r14 verdict #7) — the retrieval
#    twin of q111's decontamination capstone: phrase search and BM25
#    produce two rankings over ONE inverted-index subtree, RRF fuses
#    them, snippets hydrate the fused page (text touched only AFTER
#    ranking, k rows), and retrieval_eval grades the fused ranking
#    against tf-graded qrels — all composed into a single returned
#    plan.  Each stage has a unit-tested operator (tests/
#    test_retrieval.py); here they chain.
@query(
    "q123_search_capstone",
    "WITH " + _BM25_SQL_STATS + f""",
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM pos WHERE term IN ('spark', 'window', 'merge')
      GROUP BY doc_id, term
    ),
    idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id,
             (1.0 + (stats.n_docs - idf.df + 0.5) / (idf.df + 0.5))
             * (tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS c
      FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    scores AS (
      SELECT doc_id,
             CAST(SUM(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM contrib GROUP BY doc_id
    ),
    ranked_bm AS (
      SELECT doc_id, rank FROM (
        SELECT doc_id, row_number() OVER (
          ORDER BY score_fx DESC, doc_id) AS rank
        FROM scores
      ) WHERE rank <= 20
    ),
    m AS (
      SELECT a.doc_id, a.p
      FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
      WHERE a.term = 'spark' AND b.term = 'window'
    ),
    fm AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
             CAST(MIN(p) AS INT) AS first_pos
      FROM m GROUP BY doc_id
    ),
    ranked_ph AS (
      SELECT doc_id, rank FROM (
        SELECT doc_id, row_number() OVER (
          ORDER BY n_matches DESC, doc_id) AS rank
        FROM fm
      ) WHERE rank <= 20
    ),
    rrf_in AS (
      SELECT doc_id,
             CAST(floor((1.0 / (60.0 + CAST(rank AS DOUBLE)))
                  * 1000000000 + 0.5) AS BIGINT) AS cfx
      FROM ranked_bm
      UNION ALL
      SELECT doc_id,
             CAST(floor((1.0 / (60.0 + CAST(rank AS DOUBLE)))
                  * 1000000000 + 0.5) AS BIGINT) AS cfx
      FROM ranked_ph
    ),
    fused0 AS (
      SELECT doc_id, CAST(SUM(cfx) AS BIGINT) AS sfx,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM rrf_in GROUP BY doc_id
    ),
    fused AS (
      SELECT doc_id, sfx, n_sources, rank FROM (
        SELECT doc_id, sfx, n_sources,
               CAST(row_number() OVER (
                 ORDER BY CAST(sfx AS DOUBLE) / 1000000000.0 DESC, doc_id)
                 AS INT) AS rank
        FROM fused0
      ) WHERE rank <= 10
    ),
    sn AS (
      SELECT fm.doc_id, fm.first_pos,
             array_to_string(
               t[greatest(1, first_pos - 2):least(len(t), first_pos + 3)],
               ' ') AS snippet
      FROM fm JOIN toks USING (doc_id)
    ),
    matched AS (
      SELECT doc_id, CAST(count(DISTINCT term) AS INT) AS mt,
             CAST(SUM(tf) AS BIGINT) AS tfs
      FROM tf GROUP BY doc_id
    ),
    qrels AS (
      SELECT doc_id, CAST(least(tfs, 8) AS INT) AS rel
      FROM matched WHERE mt = 3 AND tfs >= 4
    ),
    j AS (
      SELECT f.rank, qr.rel
      FROM fused f LEFT JOIN qrels qr USING (doc_id)
      WHERE f.rank <= 10
    ),
    jc AS (
      SELECT rank, rel,
             SUM(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END)
               OVER (ORDER BY rank) AS cum
      FROM j
    ),
    perres AS (
      SELECT CAST(SUM(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hits,
             MIN(CASE WHEN rel IS NOT NULL THEN rank END) AS first_rel,
             CAST(SUM(CASE WHEN rel IS NOT NULL THEN
                    (CAST((1 << rel) - 1 AS BIGINT))
                    * ({_sql_disc_case('rank')})
                  ELSE 0 END) AS BIGINT) AS dcg_fx,
             CAST(SUM(CASE WHEN rel IS NOT NULL THEN
                    CAST(floor(CAST(cum AS DOUBLE)
                         * CAST(1000000000 AS DOUBLE)
                         / CAST(rank AS DOUBLE) + 0.5) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS ap_fx9
      FROM jc
    ),
    ideal AS (
      SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS ir
      FROM qrels
    ),
    perrel AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rel,
             CAST(SUM(CASE WHEN ir <= 10 THEN
                    (CAST((1 << rel) - 1 AS BIGINT))
                    * ({_sql_disc_case('ir')})
                  ELSE 0 END) AS BIGINT) AS idcg_fx
      FROM ideal
    ),
    ev AS (
      SELECT n_rel,
             COALESCE(n_hits, CAST(0 AS BIGINT)) AS n_hits,
             CAST(floor(CAST(COALESCE(n_hits, 0) AS DOUBLE)
                  / CAST(n_rel AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
               AS recall_fx,
             CAST(floor(COALESCE(CAST(1.0 AS DOUBLE) / first_rel, 0.0)
                  * 1000000 + 0.5) AS BIGINT) AS rr_fx,
             CAST(floor(CAST(COALESCE(ap_fx9, 0) AS DOUBLE)
                  / CAST(1000000000 AS DOUBLE) / CAST(n_rel AS DOUBLE)
                  * 1000000 + 0.5) AS BIGINT) AS ap_fx,
             CAST(floor(CAST(COALESCE(dcg_fx, 0) AS DOUBLE)
                  / CAST(idcg_fx AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
               AS ndcg_fx
      FROM perrel CROSS JOIN perres
    )
    SELECT f.rank, f.doc_id,
           CAST(floor(CAST(f.sfx AS DOUBLE) / 1000000000.0
                * 1000000000 + 0.5) AS BIGINT) AS rrf_fx,
           f.n_sources,
           CAST(COALESCE(sn.first_pos, 0) AS INT) AS first_pos,
           COALESCE(sn.snippet, '') AS snippet,
           ev.n_rel, ev.n_hits, ev.recall_fx, ev.rr_fx, ev.ap_fx,
           ev.ndcg_fx
    FROM fused f LEFT JOIN sn USING (doc_id) CROSS JOIN ev
    ORDER BY f.rank
    """,
)
def q123(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    idx = shared_index(d)  # r18: multi-consumer index, see shared_index
    terms = ["spark", "window", "merge"]
    bm = R.bm25_topk(idx, terms, k=20, idf="rational", scale=1_000_000)
    ph = R.phrase_search(idx, "spark window")
    # phrase_search's match frame is unbounded (every doc containing
    # the phrase), so the constant-key ranking below must NOT funnel
    # it through one partition: on this engine the row_number +
    # rank<=20 filter shape compiles to TakeOrderedAndProject(20) —
    # a partial take per input partition then a 20-row merge, the
    # two-phase guard natively (pinned by test_plan_invariants'
    # constant-key-window audit; see retrieval.bm25_topk_batch for
    # the WindowGroupLimit contract and the k>threshold fallback)
    wp = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("n_matches"), F.col("doc_id")
    )
    ph_ranked = (
        ph.withColumn("rank", F.row_number().over(wp))
        .where(F.col("rank") <= 20)
        .select("doc_id", "rank")
    )
    fused = R.rrf_fuse(
        [bm.select("doc_id", "rank"), ph_ranked],
        topk=10,
        scale=1_000_000_000,
    )
    snip = R.snippets(d, ph, width=2, match_len=2).select(
        "doc_id", "first_pos", "snippet"
    )
    hyd = fused.join(snip, "doc_id", "left")
    qterms = spark.createDataFrame([(t,) for t in terms], "term string")
    matched = (
        idx.join(F.broadcast(qterms), "term")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("term").alias("mt"),
            F.sum("tf").alias("tfs"),
        )
    )
    qrels = matched.where(
        (F.col("mt") == 3) & (F.col("tfs") >= 4)
    ).select(
        F.lit(0).alias("q_id"),
        "doc_id",
        F.least(F.col("tfs"), F.lit(8)).cast("int").alias("rel"),
    )
    ev = R.retrieval_eval(
        fused.select(F.lit(0).alias("q_id"), "doc_id", "rank"), qrels, k=10
    )
    evrow = ev.select(
        "n_rel",
        "n_hits",
        fx("recall", 1_000_000).alias("recall_fx"),
        fx("rr", 1_000_000).alias("rr_fx"),
        fx("ap", 1_000_000).alias("ap_fx"),
        fx("ndcg", 1_000_000).alias("ndcg_fx"),
    )
    return (
        hyd.crossJoin(F.broadcast(evrow))
        .select(
            "rank",
            "doc_id",
            fx("rrf_score", 1_000_000_000).alias("rrf_fx"),
            "n_sources",
            F.coalesce(F.col("first_pos"), F.lit(0))
            .cast("int")
            .alias("first_pos"),
            F.coalesce(F.col("snippet"), F.lit("")).alias("snippet"),
            "n_rel",
            "n_hits",
            "recall_fx",
            "rr_fx",
            "ap_fx",
            "ndcg_fx",
        )
        .orderBy("rank")
    )


# -- q124: distributed n-gram LM quality scoring (text.ngram_lm_train /
#    ngram_lm_score) — the CCNet perplexity-filter shape (Wenzek et
#    al. 2020) scored with STUPID BACKOFF (Brants et al. 2007), the
#    count-only scheme built for exactly this distributed setting: the
#    model is one (order, gram, cnt) groupBy, scoring is ONE equi-join
#    of all 2n-1 per-token count lookups against it.  Graded exactly:
#    every backoff ratio is a correctly-rounded IEEE op in a pinned
#    order, fixed-pointed per token before the per-doc mean.
#    The scorer SQL is shared with q126, which layers the corpus-
#    relative quantile gate on the same (doc_id, n_tokens, lm_fx) rows.
_LM_SCORE_SQL = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    ptab AS (
      SELECT doc_id,
             list_concat(list_concat(['<s>', '<s>'], t), ['</s>']) AS pt
      FROM toks
    ),
    allg AS (
      SELECT o.k AS ord,
             unnest(list_transform(generate_series(1, len(pt) - o.k + 1),
                    i -> array_to_string(pt[i : i + o.k - 1], chr(31))))
               AS gram
      FROM ptab CROSS JOIN (VALUES (1), (2), (3)) AS o(k)
    ),
    cnt AS (
      SELECT ord, gram, CAST(count(*) AS BIGINT) AS c
      FROM allg GROUP BY ord, gram
    ),
    n1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt WHERE ord = 1),
    posn AS (
      SELECT doc_id, pt, unnest(generate_series(3, len(pt) - 1)) AS p
      FROM ptab
    ),
    keys AS (
      SELECT doc_id, p,
             array_to_string(pt[p-2:p], chr(31)) AS k_tri,
             array_to_string(pt[p-2:p-1], chr(31)) AS k_ctx2,
             array_to_string(pt[p-1:p], chr(31)) AS k_bi,
             pt[p-1] AS k_ctx1,
             pt[p] AS k_uni
      FROM posn
    ),
    sc AS (
      SELECT k.doc_id,
             CASE WHEN tri.c IS NOT NULL AND ctx2.c IS NOT NULL
                  THEN CAST(tri.c AS DOUBLE) / CAST(ctx2.c AS DOUBLE)
                  ELSE 0.4 * (
                    CASE WHEN bi.c IS NOT NULL AND ctx1.c IS NOT NULL
                         THEN CAST(bi.c AS DOUBLE) / CAST(ctx1.c AS DOUBLE)
                         ELSE 0.4 * (CAST(COALESCE(uni.c, 0) AS DOUBLE)
                                     / CAST(n1.n AS DOUBLE))
                    END)
             END AS s
      FROM keys k
      LEFT JOIN cnt tri  ON tri.ord  = 3 AND tri.gram  = k.k_tri
      LEFT JOIN cnt ctx2 ON ctx2.ord = 2 AND ctx2.gram = k.k_ctx2
      LEFT JOIN cnt bi   ON bi.ord   = 2 AND bi.gram   = k.k_bi
      LEFT JOIN cnt ctx1 ON ctx1.ord = 1 AND ctx1.gram = k.k_ctx1
      LEFT JOIN cnt uni  ON uni.ord  = 1 AND uni.gram  = k.k_uni
      CROSS JOIN n1
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(floor(SUM(CAST(floor(s * 1000000 + 0.5) AS BIGINT))
                / 1000000.0 / count(*) * 1000000 + 0.5) AS BIGINT)
             AS lm_fx
    FROM sc GROUP BY doc_id
"""


@query("q124_ngram_lm_score", _LM_SCORE_SQL + "    ORDER BY doc_id\n    ")
def q124(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    # r18: the model is consumed twice inside the scorer (the lookup
    # equi-join and the _N total-token reduce) — materialize the
    # vocab-sized count table once (8.6 -> 6.9 s at sf1, bit-identical;
    # the inline twin of persisting a trained LM, see shared_index).
    model = X.ngram_lm_train(d, n=3, id_col="doc_id").localCheckpoint(
        eager=False
    )
    out = X.ngram_lm_score(d, model, n=3, scale=1_000_000)
    return out.select(
        "doc_id", "n_tokens", fx("lm_score", 1_000_000).alias("lm_fx")
    ).orderBy("doc_id")


# -- q126: LM-perplexity quality gate — the full CCNet recipe (Wenzek
#    et al. 2020): train the n-gram LM on the corpus (q124's scorer,
#    shared SQL twin), score every document, drop the worst quartile
#    by corpus-relative quantile (pipeline.quantile_threshold_filter,
#    exact percentile for the graded twin; approx_percentile is the
#    100 TB path).  Composes the round's new LM tier with the curation
#    tier in ONE plan — the quality-filter capstone.
@query(
    "q126_lm_quality_gate",
    "WITH lm AS (" + _LM_SCORE_SQL + """    ),
    thr AS (SELECT quantile_cont(lm_fx, 0.25) AS p25 FROM lm)
    SELECT lm.doc_id, lm.n_tokens, lm.lm_fx
    FROM lm, thr WHERE lm.lm_fx >= thr.p25
    ORDER BY lm.doc_id
    """,
)
def q126(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    # r18: materialize the vocab-sized model once (the q124 note).
    model = X.ngram_lm_train(d, n=3, id_col="doc_id").localCheckpoint(
        eager=False
    )
    # r18: the scored frame (one narrow row per doc) is consumed by
    # BOTH halves of the quantile gate — the percentile aggregate and
    # the filter join — and each static consumer inlined the whole
    # train+score subtree (AQE exchange reuse did not collapse them
    # at runtime, same finding as shared_index).  A lazy
    # localCheckpoint materializes the tiny scored frame once:
    # 11.6 -> 7.3 s best-of-2 interleaved at sf1, rows identical.
    scored = (
        X.ngram_lm_score(d, model, n=3, scale=1_000_000)
        .select(
            "doc_id", "n_tokens", fx("lm_score", 1_000_000).alias("lm_fx")
        )
        .localCheckpoint(eager=False)
    )
    kept = P.quantile_threshold_filter(
        scored, "lm_fx", q=0.25, keep="above", exact=True
    )
    return kept.orderBy("doc_id")


# -- q128: ANN ablation — the decision step of the ANN tier's
#    measurement loop (the similarity twin of q121's BM25 ablation):
#    two cheap rankers (32-dim vs 16-dim truncated-projection scoring)
#    each graded by similarity.ann_eval against the full-64-dim truth,
#    then retrieval.eval_compare (metric-generic — it reads any
#    per-query metric column) renders the paired verdict: means, mean
#    delta, wins/ties/losses at fixed-point precision.  One plan,
#    cross-tier composition, every frame eval-sized.
@query(
    "q128_ann_ablation",
    """
    WITH qv AS (
      SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id IN (0, 7, 21)
    ),
    corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    exact AS (
      SELECT * FROM (
        SELECT q.q_id, c.vec_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 CAST(floor(list_dot_product(c.v, q.v)*1000000 + 0.5)
                      AS BIGINT) DESC, c.vec_id) AS rank
        FROM corpus c CROSS JOIN qv q)
      WHERE rank <= 10
    ),
    appr_a AS (
      SELECT * FROM (
        SELECT q.q_id, c.vec_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 CAST(floor(list_dot_product(c.v[1:32], q.v[1:32])*1000000
                            + 0.5) AS BIGINT) DESC, c.vec_id) AS rank
        FROM corpus c CROSS JOIN qv q)
      WHERE rank <= 10
    ),
    appr_b AS (
      SELECT * FROM (
        SELECT q.q_id, c.vec_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 CAST(floor(list_dot_product(c.v[1:16], q.v[1:16])*1000000
                            + 0.5) AS BIGINT) DESC, c.vec_id) AS rank
        FROM corpus c CROSS JOIN qv q)
      WHERE rank <= 10
    ),
    rec_a AS (
      SELECT e.q_id,
             CAST(sum(CASE WHEN a.rank IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
      FROM exact e LEFT JOIN appr_a a
        ON e.q_id = a.q_id AND e.vec_id = a.vec_id
      GROUP BY e.q_id
    ),
    rec_b AS (
      SELECT e.q_id,
             CAST(sum(CASE WHEN b.rank IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
      FROM exact e LEFT JOIN appr_b b
        ON e.q_id = b.q_id AND e.vec_id = b.vec_id
      GROUP BY e.q_id
    ),
    paired AS (
      SELECT CAST(floor(rec_a.recall * 1000000 + 0.5) AS BIGINT) AS afx,
             CAST(floor(rec_b.recall * 1000000 + 0.5) AS BIGINT) AS bfx
      FROM rec_a JOIN rec_b ON rec_a.q_id = rec_b.q_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           (SUM(afx) / 1000000.0) / count(*) AS a_mean,
           (SUM(bfx) / 1000000.0) / count(*) AS b_mean,
           (SUM(afx - bfx) / 1000000.0) / count(*) AS mean_delta,
           CAST(sum(CASE WHEN afx > bfx THEN 1 ELSE 0 END) AS BIGINT)
             AS wins,
           CAST(sum(CASE WHEN afx = bfx THEN 1 ELSE 0 END) AS BIGINT)
             AS ties,
           CAST(sum(CASE WHEN afx < bfx THEN 1 ELSE 0 END) AS BIGINT)
             AS losses
    FROM paired
    """,
)
def q128(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id").isin(0, 7, 21)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = S.batch_cosine_topk(e, qs, k=10)

    def truncated(d):
        return S.batch_cosine_topk(
            e.withColumn("embedding", F.slice("embedding", 1, d)),
            qs.withColumn("q_vec", F.slice("q_vec", 1, d)),
            k=10,
        )

    ev_a = S.ann_eval(truncated(32), exact, k=10, score_col="sim_fx")
    ev_b = S.ann_eval(truncated(16), exact, k=10, score_col="sim_fx")
    return R.eval_compare(ev_a, ev_b, metric="recall")


# -- q131: proximity-evidence ranked retrieval — the SDM insight
#    (Metzler & Croft 2005: term-proximity evidence improves
#    bag-of-words ranking) assembled ONLY from principled published
#    pieces already graded here: BM25 top-50 (q122) + a MinDist
#    tightness ranking (min_span, asc) fused calibration-free
#    by reciprocal-rank fusion (Cormack 2009, q117's combiner).  No
#    invented scoring formula — proximity enters as a RANKING, not a
#    hand-weighted boost.
@query(
    "q131_proximity_rrf",
    "WITH " + _BM25_SQL_STATS + """,
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM pos WHERE term IN ('spark', 'window', 'merge')
      GROUP BY doc_id, term
    ),
    idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id,
             (1.0 + (stats.n_docs - idf.df + 0.5) / (idf.df + 0.5))
             * (tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS c
      FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    scores AS (
      SELECT doc_id,
             CAST(SUM(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM contrib GROUP BY doc_id
    ),
    bm AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score_fx DESC, doc_id) AS INT)
               AS rank
      FROM scores ORDER BY score_fx DESC, doc_id LIMIT 50
    ),
    cand AS (
      SELECT DISTINCT doc_id, p FROM pos
      WHERE term IN ('spark', 'window', 'merge')
    ),
    l1 AS (
      SELECT c.doc_id, c.p, MAX(q.p) AS l
      FROM cand c JOIN pos q
        ON q.doc_id = c.doc_id AND q.term = 'spark' AND q.p <= c.p
      GROUP BY c.doc_id, c.p
    ),
    l2 AS (
      SELECT c.doc_id, c.p, MAX(q.p) AS l
      FROM cand c JOIN pos q
        ON q.doc_id = c.doc_id AND q.term = 'window' AND q.p <= c.p
      GROUP BY c.doc_id, c.p
    ),
    l3 AS (
      SELECT c.doc_id, c.p, MAX(q.p) AS l
      FROM cand c JOIN pos q
        ON q.doc_id = c.doc_id AND q.term = 'merge' AND q.p <= c.p
      GROUP BY c.doc_id, c.p
    ),
    doc_span AS (
      SELECT l1.doc_id, MIN(l1.p - LEAST(l1.l, l2.l, l3.l) + 1) AS span
      FROM l1
      JOIN l2 ON l2.doc_id = l1.doc_id AND l2.p = l1.p
      JOIN l3 ON l3.doc_id = l1.doc_id AND l3.p = l1.p
      GROUP BY l1.doc_id
    ),
    prox AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY span, doc_id) AS INT) AS rank
      FROM doc_span ORDER BY span, doc_id LIMIT 50
    ),
    u AS (
      SELECT doc_id,
             CAST(floor(1.0/(60 + rank) * 1000000000 + 0.5) AS BIGINT) AS c
      FROM bm
      UNION ALL
      SELECT doc_id,
             CAST(floor(1.0/(60 + rank) * 1000000000 + 0.5) AS BIGINT) AS c
      FROM prox
    ),
    fused AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_fx,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM u GROUP BY doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY rrf_fx DESC, doc_id) AS INT)
             AS rank,
           doc_id, rrf_fx, n_sources
    FROM fused ORDER BY rrf_fx DESC, doc_id LIMIT 10
    """,
)
def q131(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    terms = ["spark", "window", "merge"]
    idx = shared_index(d)  # r18: multi-consumer index, see shared_index
    bm = R.bm25_topk(
        idx, terms, k=50, idf="rational", scale=1_000_000
    ).select("doc_id", "rank")
    spans = R.min_span(idx, terms)
    w = Window.partitionBy(F.lit(0)).orderBy("min_span", "doc_id")
    prox = (
        spans.orderBy("min_span", "doc_id")
        .limit(50)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "rank")
    )
    out = R.rrf_fuse([bm, prox], topk=10, scale=1_000_000_000)
    return out.select(
        "rank", "doc_id",
        fx("rrf_score", 1_000_000_000).alias("rrf_fx"),
        "n_sources",
    ).orderBy("rank")


# -- q132: analyzer-composed proximity (r15 verdict #7) — q131 grades
#    min_span on the raw-token path; proximity_search/min_span take
#    caller-provided terms, so an ANALYZED index needs analyze_terms
#    at the call site (the same same-analyzer contract bm25 has,
#    graded for BM25 by q122).  Over q122's deterministically-noised
#    corpus (upper-case + trailing commas) the 'simple' analyzer is
#    load-bearing: raw postings would contain 'SPARK,' and match
#    nothing.  min_span anchors the result (every doc containing all
#    terms), the ordered slop-2 chain left-joins on top — one plan
#    grades both operators on the analyzed stream.  The oracle
#    replays the analyzer in DuckDB (q122's CTE) then re-derives
#    MinDist in position-row space (latest-preceding-position
#    joins) and the ordered chain by backward induction (per-step
#    DISTINCT continuation joins).
@query(
    "q132_analyzed_proximity",
    "WITH " + _Q122_STATS + """,
    t3 AS (SELECT doc_id, p FROM pos WHERE term = 'merge'),
    t2 AS (
      SELECT DISTINCT a.doc_id, a.p
      FROM pos a JOIN t3 b
        ON b.doc_id = a.doc_id AND b.p > a.p AND b.p <= a.p + 3
      WHERE a.term = 'window'
    ),
    t1 AS (
      SELECT DISTINCT a.doc_id, a.p
      FROM pos a JOIN t2 b
        ON b.doc_id = a.doc_id AND b.p > a.p AND b.p <= a.p + 3
      WHERE a.term = 'spark'
    ),
    ordered AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ordered,
             CAST(MIN(p) AS INT) AS ordered_first
      FROM t1 GROUP BY doc_id
    ),
    cand AS (
      SELECT DISTINCT doc_id, p FROM pos
      WHERE term IN ('spark', 'window', 'merge')
    ),
    l1 AS (
      SELECT c.doc_id, c.p, MAX(q.p) AS l
      FROM cand c JOIN pos q
        ON q.doc_id = c.doc_id AND q.term = 'spark' AND q.p <= c.p
      GROUP BY c.doc_id, c.p
    ),
    l2 AS (
      SELECT c.doc_id, c.p, MAX(q.p) AS l
      FROM cand c JOIN pos q
        ON q.doc_id = c.doc_id AND q.term = 'window' AND q.p <= c.p
      GROUP BY c.doc_id, c.p
    ),
    l3 AS (
      SELECT c.doc_id, c.p, MAX(q.p) AS l
      FROM cand c JOIN pos q
        ON q.doc_id = c.doc_id AND q.term = 'merge' AND q.p <= c.p
      GROUP BY c.doc_id, c.p
    ),
    spans AS (
      SELECT l1.doc_id, l1.p,
             l1.p - LEAST(l1.l, l2.l, l3.l) + 1 AS span,
             LEAST(l1.l, l2.l, l3.l) AS start
      FROM l1
      JOIN l2 ON l2.doc_id = l1.doc_id AND l2.p = l1.p
      JOIN l3 ON l3.doc_id = l1.doc_id AND l3.p = l1.p
    ),
    ranked AS (
      SELECT doc_id, span, start,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY span, start, p
             ) AS rn
      FROM spans
    ),
    ms AS (
      SELECT doc_id, CAST(span AS INT) AS min_span,
             CAST(start AS INT) AS span_start
      FROM ranked WHERE rn = 1
    )
    SELECT ms.doc_id, ms.min_span, ms.span_start,
           COALESCE(o.n_ordered, CAST(0 AS BIGINT)) AS n_ordered,
           COALESCE(o.ordered_first, CAST(0 AS INT)) AS ordered_first
    FROM ms LEFT JOIN ordered o USING (doc_id)
    ORDER BY ms.doc_id
    """,
)
def q132(spark, sf_dir):
    d = T(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    noisy = d.select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.upper(F.col("text")), r"(\S+)", "$1,"),
            F.lit(" ..."),
        ).alias("text"),
    )
    idx = R.inverted_index(noisy, analyzer="simple")
    terms = R.analyze_terms("SPARK, Window. MERGE,", "simple")
    ms = R.min_span(idx, terms).select(
        "doc_id", "min_span", F.col("first_pos").alias("span_start")
    )
    px = R.proximity_search(idx, terms, slop=2).select(
        "doc_id",
        F.col("n_matches").alias("n_ordered"),
        F.col("first_pos").alias("ordered_first"),
    )
    return (
        ms.join(px, "doc_id", "left")
        .select(
            "doc_id",
            "min_span",
            "span_start",
            F.coalesce("n_ordered", F.lit(0).cast("long")).alias(
                "n_ordered"
            ),
            F.coalesce("ordered_first", F.lit(0).cast("int")).alias(
                "ordered_first"
            ),
        )
        .orderBy("doc_id")
    )


# -- q133: corpus-mean eval summaries graded in-plan (r15 verdict #8)
#    — the per-query eval rows are driver-graded (q141, q128)
#    but retrieval_eval_summary / ann_eval_summary rode only bench
#    assertions.  This composes BOTH summaries over their graded
#    per-query producers (the BM25-vs-mined-qrels eval; the
#    truncated-vs-exact ANN eval) and unions them into one row set
#    (kind column — q112's pattern).  Hash contract: each summary
#    mean is SUM(per-query fx)/scale/n re-fixed at 1e6 — the oracle
#    replays the identical two-division order, so the doubles never
#    diverge.
@query(
    "q133_eval_summaries",
    "WITH " + _BM25_SQL_STATS + f""",
    q(q_id, term) AS (
      VALUES (1, 'spark'), (1, 'window'), (2, 'merge'), (2, 'batch'),
             (2, 'join'), (3, 'vector')
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM pos WHERE term IN (SELECT term FROM q)
      GROUP BY doc_id, term
    ),
    idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT q.q_id, tf.doc_id,
             (1.0 + (stats.n_docs - idf.df + 0.5) / (idf.df + 0.5))
             * (tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS c
      FROM tf JOIN q USING (term) JOIN idf USING (term)
        JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    scores AS (
      SELECT q_id, doc_id,
             CAST(SUM(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM contrib GROUP BY q_id, doc_id
    ),
    ranked AS (
      SELECT q_id, doc_id,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY score_fx DESC, doc_id) AS INT)
               AS rank
      FROM scores
    ),
    nt AS (SELECT q_id, count(*) AS n_terms FROM q GROUP BY q_id),
    matched AS (
      SELECT q.q_id, tf.doc_id,
             CAST(count(DISTINCT tf.term) AS INT) AS m,
             CAST(SUM(tf.tf) AS BIGINT) AS tfs
      FROM tf JOIN q USING (term) GROUP BY q.q_id, tf.doc_id
    ),
    qrels AS (
      SELECT matched.q_id, doc_id, CAST(least(tfs, 8) AS INT) AS rel
      FROM matched JOIN nt USING (q_id)
      WHERE m = n_terms AND tfs >= 4
    ),
    j AS (
      SELECT r.q_id, r.rank, qr.rel
      FROM ranked r
      LEFT JOIN qrels qr ON qr.q_id = r.q_id AND qr.doc_id = r.doc_id
      WHERE r.rank <= 10
    ),
    jc AS (
      SELECT q_id, rank, rel,
             SUM(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END)
               OVER (PARTITION BY q_id ORDER BY rank) AS cum
      FROM j
    ),
    perres AS (
      SELECT q_id,
             CAST(SUM(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hits,
             MIN(CASE WHEN rel IS NOT NULL THEN rank END) AS first_rel,
             CAST(SUM(CASE WHEN rel IS NOT NULL THEN
                    (CAST((1 << rel) - 1 AS BIGINT))
                    * ({_sql_disc_case('rank')})
                  ELSE 0 END) AS BIGINT) AS dcg_fx,
             CAST(SUM(CASE WHEN rel IS NOT NULL THEN
                    CAST(floor(CAST(cum AS DOUBLE)
                         * CAST(1000000000 AS DOUBLE)
                         / CAST(rank AS DOUBLE) + 0.5) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS ap_fx9
      FROM jc GROUP BY q_id
    ),
    ideal AS (
      SELECT q_id, rel,
             row_number() OVER (
               PARTITION BY q_id ORDER BY rel DESC, doc_id) AS ir
      FROM qrels
    ),
    perrel AS (
      SELECT q_id, CAST(count(*) AS BIGINT) AS n_rel,
             CAST(SUM(CASE WHEN ir <= 10 THEN
                    (CAST((1 << rel) - 1 AS BIGINT))
                    * ({_sql_disc_case('ir')})
                  ELSE 0 END) AS BIGINT) AS idcg_fx
      FROM ideal GROUP BY q_id
    ),
    retq AS (
      SELECT perrel.q_id,
             CAST(COALESCE(n_hits, 0) AS DOUBLE)
               / CAST(n_rel AS DOUBLE) AS recall,
             COALESCE(CAST(1.0 AS DOUBLE) / first_rel, 0.0) AS rr,
             CAST(COALESCE(ap_fx9, 0) AS DOUBLE)
               / CAST(1000000000 AS DOUBLE)
               / CAST(n_rel AS DOUBLE) AS ap,
             CAST(COALESCE(dcg_fx, 0) AS DOUBLE)
               / CAST(idcg_fx AS DOUBLE) AS ndcg
      FROM perrel LEFT JOIN perres USING (q_id)
    ),
    retsum AS (
      SELECT 'ret' AS kind,
             CAST(count(*) AS BIGINT) AS n_queries,
             CAST(floor((CAST(SUM(CAST(floor(recall * 1000000 + 0.5)
                    AS BIGINT)) AS DOUBLE) / 1000000.0
                  / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
               AS recall_fx,
             CAST(floor((CAST(SUM(CAST(floor(rr * 1000000 + 0.5)
                    AS BIGINT)) AS DOUBLE) / 1000000.0
                  / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
               AS mrr_fx,
             CAST(floor((CAST(SUM(CAST(floor(ap * 1000000 + 0.5)
                    AS BIGINT)) AS DOUBLE) / 1000000.0
                  / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
               AS map_fx,
             CAST(floor((CAST(SUM(CAST(floor(ndcg * 1000000 + 0.5)
                    AS BIGINT)) AS DOUBLE) / 1000000.0
                  / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
               AS ndcg_fx,
             CAST(0 AS BIGINT) AS top1_fx
      FROM retq
    ),
    qv AS (
      SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id IN (0, 7, 21)
    ),
    corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    exact AS (
      SELECT * FROM (
        SELECT qv.q_id, c.vec_id,
               row_number() OVER (PARTITION BY qv.q_id ORDER BY
                 CAST(floor(list_dot_product(c.v, qv.v)*1000000 + 0.5)
                      AS BIGINT) DESC, c.vec_id) AS rank
        FROM corpus c CROSS JOIN qv)
      WHERE rank <= 10
    ),
    approx AS (
      SELECT * FROM (
        SELECT qv.q_id, c.vec_id,
               row_number() OVER (PARTITION BY qv.q_id ORDER BY
                 CAST(floor(list_dot_product(c.v[1:16], qv.v[1:16])*1000000
                            + 0.5) AS BIGINT) DESC, c.vec_id) AS rank
        FROM corpus c CROSS JOIN qv)
      WHERE rank <= 10
    ),
    annq AS (
      SELECT e.q_id,
             CAST(sum(CASE WHEN a.rank IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall,
             COALESCE(1.0 / CAST(min(a.rank) AS DOUBLE), 0.0) AS rr,
             CAST(max(CASE WHEN e.rank = 1 AND a.rank = 1 THEN 1 ELSE 0
                  END) AS INTEGER) AS top1_hit
      FROM exact e LEFT JOIN approx a
        ON e.q_id = a.q_id AND e.vec_id = a.vec_id
      GROUP BY e.q_id
    ),
    annsum AS (
      SELECT 'ann' AS kind,
             CAST(count(*) AS BIGINT) AS n_queries,
             CAST(floor((CAST(SUM(CAST(floor(recall * 1000000 + 0.5)
                    AS BIGINT)) AS DOUBLE) / 1000000.0
                  / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
               AS recall_fx,
             CAST(floor((CAST(SUM(CAST(floor(rr * 1000000 + 0.5)
                    AS BIGINT)) AS DOUBLE) / 1000000.0
                  / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
               AS mrr_fx,
             CAST(0 AS BIGINT) AS map_fx,
             CAST(0 AS BIGINT) AS ndcg_fx,
             CAST(floor((CAST(SUM(top1_hit) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
               AS top1_fx
      FROM annq
    )
    SELECT * FROM retsum UNION ALL SELECT * FROM annsum ORDER BY kind
    """,
)
def q133(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    idx = shared_index(d)  # r18: multi-consumer index, see shared_index
    qs = spark.createDataFrame(
        [(1, ["spark", "window"]), (2, ["merge", "batch", "join"]),
         (3, ["vector"])],
        "q_id long, terms array<string>",
    )
    results = R.bm25_topk_batch(idx, qs, k=10, idf="rational", scale=10**6)
    qterms = qs.select("q_id", F.explode("terms").alias("term"))
    nt = qs.select("q_id", F.size("terms").alias("n_terms"))
    matched = (
        idx.join(F.broadcast(qterms), "term")
        .groupBy("q_id", "doc_id")
        .agg(
            F.countDistinct("term").cast("int").alias("m"),
            F.sum("tf").alias("tfs"),
        )
    )
    qrels = (
        matched.join(F.broadcast(nt), "q_id")
        .where((F.col("m") == F.col("n_terms")) & (F.col("tfs") >= 4))
        .select(
            "q_id", "doc_id",
            F.least(F.col("tfs"), F.lit(8)).cast("int").alias("rel"),
        )
    )
    rsum = R.retrieval_eval_summary(
        R.retrieval_eval(results, qrels, k=10)
    ).select(
        F.lit("ret").alias("kind"),
        "n_queries",
        fx("recall_at_k", 10**6).alias("recall_fx"),
        fx("mrr", 10**6).alias("mrr_fx"),
        fx("map", 10**6).alias("map_fx"),
        fx("ndcg_at_k", 10**6).alias("ndcg_fx"),
        F.lit(0).cast("long").alias("top1_fx"),
    )
    e = T(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id").isin(0, 7, 21)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = S.batch_cosine_topk(e, qv, k=10)
    approx = S.batch_cosine_topk(
        e.withColumn("embedding", F.slice("embedding", 1, 16)),
        qv.withColumn("q_vec", F.slice("q_vec", 1, 16)),
        k=10,
    )
    asum = S.ann_eval_summary(
        S.ann_eval(approx, exact, k=10, score_col="sim_fx")
    ).select(
        F.lit("ann").alias("kind"),
        "n_queries",
        fx("recall_at_k", 10**6).alias("recall_fx"),
        fx("mrr", 10**6).alias("mrr_fx"),
        F.lit(0).cast("long").alias("map_fx"),
        F.lit(0).cast("long").alias("ndcg_fx"),
        fx("top1_rate", 10**6).alias("top1_fx"),
    )
    return rsum.unionByName(asum).orderBy("kind")


# -- q134: BATCHED positional search (retrieval.positional_search_batch)
#    — proximity_search's ordered semantics for a whole query batch in
#    ONE set-based pass (one broadcast term join + a per-row backward-
#    induction fold over packed arrays), per-row slop, phrase rows as
#    slop=0, a repeated-term query exercising the ordinal slots.  The
#    oracle replays the induction in position-row space GENERICALLY: a
#    recursive CTE walks term ordinals from last to first, the
#    recursion's UNION dedupe being exactly the per-step DISTINCT.
@query(
    "q134_positional_search_batch",
    "WITH RECURSIVE " + _BM25_SQL_STATS + """,
    queries(q_id, terms, slop) AS (VALUES
      (1, ['spark', 'window'], 0),
      (2, ['spark', 'window', 'merge'], 2),
      (3, ['hash', 'join'], 1),
      (4, ['data', 'data'], 1)),
    qt AS (
      SELECT q_id, slop,
             unnest(generate_series(1, len(terms))) AS ti,
             unnest(terms) AS term, len(terms) AS nt
      FROM queries
    ),
    chain AS (
      SELECT t.q_id, t.slop, t.ti, p.doc_id, p.p
      FROM qt t JOIN pos p ON p.term = t.term
      WHERE t.ti = t.nt
      UNION
      SELECT t.q_id, t.slop, t.ti, a.doc_id, a.p
      FROM chain c
      JOIN qt t ON t.q_id = c.q_id AND t.ti = c.ti - 1
      JOIN pos a ON a.term = t.term AND a.doc_id = c.doc_id
                AND c.p > a.p AND c.p <= a.p + c.slop + 1
    )
    SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_matches,
           CAST(MIN(p) AS INT) AS first_pos
    FROM chain WHERE ti = 1
    GROUP BY q_id, doc_id ORDER BY q_id, doc_id
    """,
)
def q134(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    idx = R.inverted_index(d)
    qdf = spark.createDataFrame(
        [
            (1, ["spark", "window"], 0),
            (2, ["spark", "window", "merge"], 2),
            (3, ["hash", "join"], 1),
            (4, ["data", "data"], 1),
        ],
        "q_id long, terms array<string>, slop int",
    )
    return R.positional_search_batch(idx, qdf, slop_col="slop").orderBy(
        "q_id", "doc_id"
    )


# -- q135: BATCHED minimum covering span (retrieval.min_span_batch) —
#    min_span's MinDist for a whole query batch: the fixed-slot sweep
#    becomes an array-state fold (array_repeat(0, n_terms) latest-
#    position slots updated by an index-aware transform), duplicate
#    terms collapse per query.  The oracle generalizes q132's
#    position-row recipe: per (query, candidate end) each term's
#    latest preceding position aggregates in ONE grouped join (no
#    per-term CTE), COUNT(*)==n_terms keeps full-coverage ends, and
#    the (span, start, end) rank picks each doc's answer.
@query(
    "q135_min_span_batch",
    "WITH " + _BM25_SQL_STATS + """,
    queries(q_id, tin) AS (VALUES
      (1, ['spark', 'window']),
      (2, ['spark', 'window', 'merge']),
      (3, ['hash', 'join', 'scan']),
      (4, ['data', 'data', 'table'])),
    qd AS (SELECT q_id, list_distinct(tin) AS terms FROM queries),
    qt AS (
      SELECT q_id,
             unnest(generate_series(1, len(terms))) AS ti,
             unnest(terms) AS term, len(terms) AS nt
      FROM qd
    ),
    cand AS (
      SELECT DISTINCT t.q_id, p.doc_id, p.p
      FROM qt t JOIN pos p ON p.term = t.term
    ),
    lat AS (
      SELECT c.q_id, c.doc_id, c.p, t.ti, MAX(q.p) AS l
      FROM cand c
      JOIN qt t ON t.q_id = c.q_id
      JOIN pos q ON q.doc_id = c.doc_id AND q.term = t.term
                AND q.p <= c.p
      GROUP BY c.q_id, c.doc_id, c.p, t.ti
    ),
    spans AS (
      SELECT l.q_id, l.doc_id, l.p, COUNT(*) AS nseen,
             l.p - MIN(l.l) + 1 AS span, MIN(l.l) AS start
      FROM lat l GROUP BY l.q_id, l.doc_id, l.p
    ),
    covered AS (
      SELECT s.* FROM spans s
      JOIN (SELECT DISTINCT q_id, nt FROM qt) n
        ON n.q_id = s.q_id AND s.nseen = n.nt
    ),
    ranked AS (
      SELECT q_id, doc_id, span, start,
             row_number() OVER (
               PARTITION BY q_id, doc_id ORDER BY span, start, p
             ) AS rn
      FROM covered
    )
    SELECT q_id, doc_id, CAST(span AS INT) AS min_span,
           CAST(start AS INT) AS first_pos
    FROM ranked WHERE rn = 1 ORDER BY q_id, doc_id
    """,
)
def q135(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    idx = R.inverted_index(d)
    qdf = spark.createDataFrame(
        [
            (1, ["spark", "window"]),
            (2, ["spark", "window", "merge"]),
            (3, ["hash", "join", "scan"]),
            (4, ["data", "data", "table"]),
        ],
        "q_id long, terms array<string>",
    )
    return R.min_span_batch(idx, qdf).orderBy("q_id", "doc_id")


# -- q136: HYBRID dense+lexical retrieval — the modern RAG-stack
#    baseline (and rrf_fuse's original raison d'etre, per its
#    docstring): BM25 over the positional index and embedding cosine
#    over the vectors produce two per-query rankings for the SAME
#    query batch, fused calibration-free by reciprocal-rank fusion
#    (Cormack et al. 2009).  Queries are document-anchored (q_id =
#    vec_id: each query carries that document's embedding as its
#    dense arm and a term list as its lexical arm).  Every piece is
#    individually graded (q122 BM25, q25/q133 cosine, q117/q131
#    RRF); this composes them ACROSS tiers in one plan.  The dense
#    arm's rank derivation rides batch_cosine_topk's two-phase
#    guard; the fusion window is bounded by contract (top-20 lists).
@query(
    "q136_hybrid_retrieval",
    "WITH " + _BM25_SQL_STATS + """,
    queries(q_id, terms) AS (VALUES
      (0, ['spark', 'window']),
      (7, ['merge', 'join']),
      (21, ['data', 'table', 'scan'])),
    qt AS (
      SELECT DISTINCT q_id, unnest(terms) AS term FROM queries
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM pos WHERE term IN (SELECT DISTINCT term FROM qt)
      GROUP BY doc_id, term
    ),
    idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT q.q_id, tf.doc_id,
             (1.0 + (stats.n_docs - idf.df + 0.5) / (idf.df + 0.5))
             * (tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS c
      FROM qt q
      JOIN tf ON tf.term = q.term
      JOIN idf ON idf.term = q.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    ),
    scores AS (
      SELECT q_id, doc_id,
             CAST(SUM(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM contrib GROUP BY q_id, doc_id
    ),
    bm AS (
      SELECT q_id, doc_id,
             row_number() OVER (
               PARTITION BY q_id ORDER BY score_fx DESC, doc_id
             ) AS rank
      FROM scores
      QUALIFY rank <= 20
    ),
    qv AS (
      SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id IN (0, 7, 21)
    ),
    sims AS (
      SELECT qv.q_id, e.vec_id AS doc_id,
             CAST(floor(list_dot_product(
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)), qv.v
             ) * 1000000 + 0.5) AS BIGINT) AS sim_fx
      FROM embeddings e, qv
    ),
    cos AS (
      SELECT q_id, doc_id,
             row_number() OVER (
               PARTITION BY q_id ORDER BY sim_fx DESC, doc_id
             ) AS rank
      FROM sims
      QUALIFY rank <= 20
    ),
    u AS (
      SELECT q_id, doc_id,
             CAST(floor(1.0/(60 + rank) * 1000000000 + 0.5) AS BIGINT) AS c
      FROM bm
      UNION ALL
      SELECT q_id, doc_id,
             CAST(floor(1.0/(60 + rank) * 1000000000 + 0.5) AS BIGINT) AS c
      FROM cos
    ),
    fused AS (
      SELECT q_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_fx,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM u GROUP BY q_id, doc_id
    ),
    final AS (
      SELECT q_id,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY rrf_fx DESC, doc_id
             ) AS INT) AS rank,
             doc_id, rrf_fx, n_sources
      FROM fused
      QUALIFY rank <= 10
    )
    SELECT q_id, rank, doc_id, rrf_fx, n_sources
    FROM final ORDER BY q_id, rank
    """,
)
def q136(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    e = T(spark, sf_dir, "embeddings")
    idx = shared_index(d)  # r18: multi-consumer index, see shared_index
    qdf = spark.createDataFrame(
        [
            (0, ["spark", "window"]),
            (7, ["merge", "join"]),
            (21, ["data", "table", "scan"]),
        ],
        "q_id long, terms array<string>",
    )
    bm = R.bm25_topk_batch(
        idx, qdf, k=20, idf="rational", scale=1_000_000
    ).select("q_id", "doc_id", "rank")
    qv = e.where(F.col("vec_id").isin(0, 7, 21)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim_fx"), "vec_id")
    cos = (
        S.batch_cosine_topk(e, qv, k=20)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select("q_id", F.col("vec_id").alias("doc_id"), "rank")
    )
    out = R.rrf_fuse_batch([bm, cos], topk=10, scale=10**9)
    return out.select(
        "q_id", "rank", "doc_id",
        fx("rrf_score", 10**9).alias("rrf_fx"),
        "n_sources",
    ).orderBy("q_id", "rank")


# -- q137: fuzzy term matching (retrieval.fuzzy_expand_terms) — query
#    robustness via the SymSpell deletion-neighborhood recipe: a pair
#    is within Levenshtein e only if their <=e-deletion neighborhoods
#    intersect, so candidates come from ONE equi-join on deletion
#    variants (vocabulary side exploded by expression-level transform,
#    query side generated driver-side and broadcast), then the exact
#    JVM levenshtein verifies — candidates-then-verify at vocabulary
#    scale, never a vocabulary cross-product.  The oracle IS the
#    cross-product (DuckDB's levenshtein over vocab x queries): brute
#    force as ground truth, the scalable algorithm under test.
@query(
    "q137_fuzzy_expand",
    "WITH " + _BM25_SQL_STATS + """,
    vocab AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM pos GROUP BY term
    ),
    q(q_term) AS (VALUES ('spak'), ('windo'), ('merge'), ('joinn'))
    SELECT q.q_term, v.term,
           CAST(levenshtein(q.q_term, v.term) AS INT) AS dist, v.df
    FROM q JOIN vocab v ON levenshtein(q.q_term, v.term) <= 2
    ORDER BY q_term, term
    """,
)
def q137(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    idx = R.inverted_index(d)
    return R.fuzzy_expand_terms(
        idx, ["spak", "windo", "merge", "joinn"], max_edits=2
    ).orderBy("q_term", "term")


# -- q138: the spelling-correction loop (retrieval.fuzzy_correct_terms
#    + bm25_topk_batch) — "did you mean" composed with ranked
#    retrieval: each query term maps to its BEST vocabulary match
#    within edit distance 2 (dist asc -> df desc -> term asc, the
#    Norvig tie-break), exact terms correct to themselves (distance 0
#    wins), the no-match term 'zzzzzzz' drops, and the corrected term
#    sets score through the graded batch BM25.  The oracle replays
#    correction by brute-force levenshtein (q137's ground-truth
#    stance) and scoring by the q136 per-query BM25 recipe.
@query(
    "q138_fuzzy_corrected_bm25",
    "WITH " + _BM25_SQL_STATS + """,
    vocab AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM pos GROUP BY term
    ),
    queries(q_id, terms) AS (VALUES
      (1, ['spak', 'windo']),
      (2, ['mrege', 'joinn', 'zzzzzzz']),
      (3, ['spark', 'window'])),
    qe AS (SELECT DISTINCT q_id, unnest(terms) AS q_term FROM queries),
    cand AS (
      SELECT q.q_term, v.term, levenshtein(q.q_term, v.term) AS dist,
             v.df
      FROM (SELECT DISTINCT q_term FROM qe) q
      JOIN vocab v ON levenshtein(q.q_term, v.term) <= 2
    ),
    best AS (
      SELECT q_term, term FROM (
        SELECT q_term, term,
               row_number() OVER (
                 PARTITION BY q_term ORDER BY dist, df DESC, term
               ) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    corrected AS (
      SELECT DISTINCT qe.q_id, b.term
      FROM qe JOIN best b ON b.q_term = qe.q_term
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM pos WHERE term IN (SELECT DISTINCT term FROM corrected)
      GROUP BY doc_id, term
    ),
    idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT c.q_id, tf.doc_id,
             (1.0 + (stats.n_docs - idf.df + 0.5) / (idf.df + 0.5))
             * (tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS c
      FROM corrected c
      JOIN tf ON tf.term = c.term
      JOIN idf ON idf.term = c.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    ),
    scores AS (
      SELECT q_id, doc_id,
             CAST(SUM(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM contrib GROUP BY q_id, doc_id
    ),
    ranked AS (
      SELECT q_id,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY score_fx DESC, doc_id
             ) AS INT) AS rank,
             doc_id, score_fx
      FROM scores
      QUALIFY rank <= 10
    )
    SELECT q_id, rank, doc_id, score_fx
    FROM ranked ORDER BY q_id, rank
    """,
)
def q138(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    idx = shared_index(d)  # r18: multi-consumer index, see shared_index
    qdf = spark.createDataFrame(
        [
            (1, ["spak", "windo"]),
            (2, ["mrege", "joinn", "zzzzzzz"]),
            (3, ["spark", "window"]),
        ],
        "q_id long, terms array<string>",
    )
    corrected = R.fuzzy_correct_terms(idx, qdf, max_edits=2)
    out = R.bm25_topk_batch(
        idx, corrected, k=10, idf="rational", scale=1_000_000
    )
    return out.select(
        "q_id", "rank", "doc_id", fx("score", 1_000_000).alias("score_fx")
    ).orderBy("q_id", "rank")


# -- q139: champion-list pruned BM25 (retrieval.champion_lists +
#    champion_candidates + candidate-restricted bm25_topk_batch) —
#    THE classic web-scale top-k pruning (Manning IIR 7.1.3; impact
#    ordering per Anh & Moffat 2005): each term keeps only its
#    top-m postings by the query-independent BM25 impact
#    (fixed-pointed, ties by doc — deterministic, hence gradable),
#    candidates are the union of the query terms' champions, and
#    candidates score EXACTLY over the full postings with full
#    corpus stats/df — a stopword scores m champions instead of its
#    corpus-sized postings list.  The oracle replays champion
#    selection (same impact QUALIFY per term) and the q136 scoring
#    recipe restricted to the candidate join.
@query(
    "q139_champion_bm25",
    "WITH " + _BM25_SQL_STATS + """,
    queries(q_id, terms) AS (VALUES
      (0, ['spark', 'window']),
      (1, ['merge', 'join']),
      (2, ['data', 'table', 'scan'])),
    qt AS (SELECT DISTINCT q_id, unnest(terms) AS term FROM queries),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM pos WHERE term IN (SELECT DISTINCT term FROM qt)
      GROUP BY doc_id, term
    ),
    imp AS (
      SELECT tf.term, tf.doc_id,
             CAST(floor(tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
                * 1000000 + 0.5) AS BIGINT) AS imp_fx
      FROM tf JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    champ AS (
      SELECT term, doc_id FROM (
        SELECT term, doc_id,
               row_number() OVER (
                 PARTITION BY term ORDER BY imp_fx DESC, doc_id
               ) AS rn
        FROM imp
      ) WHERE rn <= 32
    ),
    cand AS (
      SELECT DISTINCT q.q_id, c.doc_id
      FROM qt q JOIN champ c ON c.term = q.term
    ),
    idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT q.q_id, tf.doc_id,
             (1.0 + (stats.n_docs - idf.df + 0.5) / (idf.df + 0.5))
             * (tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS c
      FROM qt q
      JOIN tf ON tf.term = q.term
      JOIN cand ON cand.q_id = q.q_id AND cand.doc_id = tf.doc_id
      JOIN idf ON idf.term = q.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    ),
    scores AS (
      SELECT q_id, doc_id,
             CAST(SUM(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM contrib GROUP BY q_id, doc_id
    ),
    ranked AS (
      SELECT q_id,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY score_fx DESC, doc_id
             ) AS INT) AS rank,
             doc_id, score_fx
      FROM scores
      QUALIFY rank <= 10
    )
    SELECT q_id, rank, doc_id, score_fx
    FROM ranked ORDER BY q_id, rank
    """,
)
def q139(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    idx = shared_index(d)  # r18: multi-consumer index, see shared_index
    qdf = spark.createDataFrame(
        [
            (0, ["spark", "window"]),
            (1, ["merge", "join"]),
            (2, ["data", "table", "scan"]),
        ],
        "q_id long, terms array<string>",
    )
    stats = R.index_stats(idx)  # ONE corpus-stats reduce, shared by
    # champion selection and scoring (AQE exchange reuse collapses
    # the identical subtrees)
    ch = R.champion_lists(idx, m=32, stats=stats)
    cands = R.champion_candidates(ch, qdf)
    out = R.bm25_topk_batch(
        idx, qdf, k=10, idf="rational", scale=1_000_000,
        candidates=cands, stats=stats,
    )
    return out.select(
        "q_id", "rank", "doc_id", fx("score", 1_000_000).alias("score_fx")
    ).orderBy("q_id", "rank")


# -- q141: the SERVING capstone (r16 verdict #6) — the offline twin of
#    serve_search_queries' full recipe, composed into ONE graded plan
#    the way q123 composed the search stack: typo'd queries spelling-
#    correct through the vocabulary (fuzzy_correct_terms, the q138
#    kernel), the corrected terms score through champion-pruned batch
#    BM25 (champion_lists + champion_candidates, the q139 kernel —
#    candidates bounded at m x |terms|, scores exact over full
#    postings/stats), a dense cosine arm answers the same
#    document-anchored queries (q136's shape, two-phase top-k), RRF
#    fuses the arms, and retrieval_eval grades the fused rankings
#    per query against index-mined qrels (q133's kernel) — eval
#    columns ride every result row.  A query whose corrected terms
#    mine no qrels reports an all-zero eval row (ungraded, not
#    failed).  The oracle replays each stage with its already-graded
#    SQL twin (q138 correction, q139 champions, q136 dense+RRF, q133
#    eval), chained.
@query(
    "q141_serving_capstone",
    "WITH " + _BM25_SQL_STATS + f""",
    vocab AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM pos GROUP BY term
    ),
    queries(q_id, terms) AS (VALUES
      (0, ['spak', 'windo']),
      (7, ['mrege', 'joinn']),
      (21, ['data', 'tabel', 'scan'])),
    qe AS (SELECT DISTINCT q_id, unnest(terms) AS q_term FROM queries),
    fcand AS (
      SELECT q.q_term, v.term, levenshtein(q.q_term, v.term) AS dist,
             v.df
      FROM (SELECT DISTINCT q_term FROM qe) q
      JOIN vocab v ON levenshtein(q.q_term, v.term) <= 2
    ),
    best AS (
      SELECT q_term, term FROM (
        SELECT q_term, term,
               row_number() OVER (
                 PARTITION BY q_term ORDER BY dist, df DESC, term
               ) AS rn
        FROM fcand
      ) WHERE rn = 1
    ),
    corrected AS (
      SELECT DISTINCT qe.q_id, b.term
      FROM qe JOIN best b ON b.q_term = qe.q_term
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM pos WHERE term IN (SELECT DISTINCT term FROM corrected)
      GROUP BY doc_id, term
    ),
    imp AS (
      SELECT tf.term, tf.doc_id,
             CAST(floor(tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
                * 1000000 + 0.5) AS BIGINT) AS imp_fx
      FROM tf JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    champ AS (
      SELECT term, doc_id FROM (
        SELECT term, doc_id,
               row_number() OVER (
                 PARTITION BY term ORDER BY imp_fx DESC, doc_id
               ) AS rn
        FROM imp
      ) WHERE rn <= 32
    ),
    ccand AS (
      SELECT DISTINCT c.q_id, ch.doc_id
      FROM corrected c JOIN champ ch ON ch.term = c.term
    ),
    idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT c.q_id, tf.doc_id,
             (1.0 + (stats.n_docs - idf.df + 0.5) / (idf.df + 0.5))
             * (tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS c
      FROM corrected c
      JOIN tf ON tf.term = c.term
      JOIN ccand ON ccand.q_id = c.q_id AND ccand.doc_id = tf.doc_id
      JOIN idf ON idf.term = c.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    ),
    scores AS (
      SELECT q_id, doc_id,
             CAST(SUM(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM contrib GROUP BY q_id, doc_id
    ),
    bm AS (
      SELECT q_id, doc_id,
             row_number() OVER (
               PARTITION BY q_id ORDER BY score_fx DESC, doc_id
             ) AS rank
      FROM scores
      QUALIFY rank <= 20
    ),
    qv AS (
      SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id IN (0, 7, 21)
    ),
    sims AS (
      SELECT qv.q_id, e.vec_id AS doc_id,
             CAST(floor(list_dot_product(
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)), qv.v
             ) * 1000000 + 0.5) AS BIGINT) AS sim_fx
      FROM embeddings e, qv
    ),
    cos AS (
      SELECT q_id, doc_id,
             row_number() OVER (
               PARTITION BY q_id ORDER BY sim_fx DESC, doc_id
             ) AS rank
      FROM sims
      QUALIFY rank <= 20
    ),
    u AS (
      SELECT q_id, doc_id,
             CAST(floor(1.0/(60 + rank) * 1000000000 + 0.5) AS BIGINT) AS c
      FROM bm
      UNION ALL
      SELECT q_id, doc_id,
             CAST(floor(1.0/(60 + rank) * 1000000000 + 0.5) AS BIGINT) AS c
      FROM cos
    ),
    fused0 AS (
      SELECT q_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_fx,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM u GROUP BY q_id, doc_id
    ),
    final AS (
      SELECT q_id,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY rrf_fx DESC, doc_id
             ) AS INT) AS rank,
             doc_id, rrf_fx, n_sources
      FROM fused0
      QUALIFY rank <= 10
    ),
    nt AS (SELECT q_id, count(*) AS n_terms FROM corrected GROUP BY q_id),
    matched AS (
      SELECT c.q_id, tf.doc_id,
             CAST(count(DISTINCT tf.term) AS INT) AS m,
             CAST(SUM(tf.tf) AS BIGINT) AS tfs
      FROM tf JOIN corrected c USING (term) GROUP BY c.q_id, tf.doc_id
    ),
    qrels AS (
      SELECT matched.q_id, doc_id, CAST(least(tfs, 8) AS INT) AS rel
      FROM matched JOIN nt USING (q_id)
      WHERE m = n_terms AND tfs >= 4
    ),
    j AS (
      SELECT r.q_id, r.rank, qr.rel
      FROM final r
      LEFT JOIN qrels qr ON qr.q_id = r.q_id AND qr.doc_id = r.doc_id
      WHERE r.rank <= 10
    ),
    jc AS (
      SELECT q_id, rank, rel,
             SUM(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END)
               OVER (PARTITION BY q_id ORDER BY rank) AS cum
      FROM j
    ),
    perres AS (
      SELECT q_id,
             CAST(SUM(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hits,
             MIN(CASE WHEN rel IS NOT NULL THEN rank END) AS first_rel,
             CAST(SUM(CASE WHEN rel IS NOT NULL THEN
                    (CAST((1 << rel) - 1 AS BIGINT))
                    * ({_sql_disc_case('rank')})
                  ELSE 0 END) AS BIGINT) AS dcg_fx,
             CAST(SUM(CASE WHEN rel IS NOT NULL THEN
                    CAST(floor(CAST(cum AS DOUBLE)
                         * CAST(1000000000 AS DOUBLE)
                         / CAST(rank AS DOUBLE) + 0.5) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS ap_fx9
      FROM jc GROUP BY q_id
    ),
    ideal AS (
      SELECT q_id, rel,
             row_number() OVER (
               PARTITION BY q_id ORDER BY rel DESC, doc_id) AS ir
      FROM qrels
    ),
    perrel AS (
      SELECT q_id, CAST(count(*) AS BIGINT) AS n_rel,
             CAST(SUM(CASE WHEN ir <= 10 THEN
                    (CAST((1 << rel) - 1 AS BIGINT))
                    * ({_sql_disc_case('ir')})
                  ELSE 0 END) AS BIGINT) AS idcg_fx
      FROM ideal GROUP BY q_id
    ),
    evq AS (
      SELECT perrel.q_id, n_rel,
             COALESCE(n_hits, CAST(0 AS BIGINT)) AS n_hits,
             CAST(floor(CAST(COALESCE(n_hits, 0) AS DOUBLE)
                  / CAST(n_rel AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
               AS recall_fx,
             CAST(floor(COALESCE(CAST(1.0 AS DOUBLE) / first_rel, 0.0)
                  * 1000000 + 0.5) AS BIGINT) AS rr_fx,
             CAST(floor(CAST(COALESCE(ap_fx9, 0) AS DOUBLE)
                  / CAST(1000000000 AS DOUBLE) / CAST(n_rel AS DOUBLE)
                  * 1000000 + 0.5) AS BIGINT) AS ap_fx,
             CAST(floor(CAST(COALESCE(dcg_fx, 0) AS DOUBLE)
                  / CAST(idcg_fx AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
               AS ndcg_fx
      FROM perrel LEFT JOIN perres USING (q_id)
    )
    SELECT f.q_id, f.rank, f.doc_id, f.rrf_fx, f.n_sources,
           COALESCE(e.n_rel, CAST(0 AS BIGINT)) AS n_rel,
           COALESCE(e.n_hits, CAST(0 AS BIGINT)) AS n_hits,
           COALESCE(e.recall_fx, CAST(0 AS BIGINT)) AS recall_fx,
           COALESCE(e.rr_fx, CAST(0 AS BIGINT)) AS rr_fx,
           COALESCE(e.ap_fx, CAST(0 AS BIGINT)) AS ap_fx,
           COALESCE(e.ndcg_fx, CAST(0 AS BIGINT)) AS ndcg_fx
    FROM final f LEFT JOIN evq e USING (q_id)
    ORDER BY f.q_id, f.rank
    """,
)
def q141(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    e = T(spark, sf_dir, "embeddings")
    # r18: the capstone consumes the index FIVE ways (vocab for the
    # correction, corpus stats, champion lists, the exact scorer, the
    # qrels miner) — the strongest case for shared_index (measured
    # 14.7 -> 8.1 s best-of-2 interleaved at sf1; rows bit-identical).
    idx = shared_index(d)
    qdf = spark.createDataFrame(
        [
            (0, ["spak", "windo"]),
            (7, ["mrege", "joinn"]),
            (21, ["data", "tabel", "scan"]),
        ],
        "q_id long, terms array<string>",
    )
    corrected = R.fuzzy_correct_terms(idx, qdf, max_edits=2)
    stats = R.index_stats(idx)  # ONE corpus-stats reduce shared by
    # champion selection and scoring (the q139 reuse)
    ch = R.champion_lists(idx, m=32, stats=stats)
    cands = R.champion_candidates(ch, corrected)
    bm = R.bm25_topk_batch(
        idx, corrected, k=20, idf="rational", scale=1_000_000,
        candidates=cands, stats=stats,
    ).select("q_id", "doc_id", "rank")
    qv = e.where(F.col("vec_id").isin(0, 7, 21)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim_fx"), "vec_id")
    cos = (
        S.batch_cosine_topk(e, qv, k=20)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select("q_id", F.col("vec_id").alias("doc_id"), "rank")
    )
    fused = R.rrf_fuse_batch([bm, cos], topk=10, scale=10**9)
    ct = corrected.select("q_id", F.explode("terms").alias("term"))
    nt = corrected.select("q_id", F.size("terms").alias("n_terms"))
    matched = (
        idx.join(F.broadcast(ct), "term")
        .groupBy("q_id", "doc_id")
        .agg(
            F.countDistinct("term").cast("int").alias("m"),
            F.sum("tf").alias("tfs"),
        )
    )
    qrels = (
        matched.join(F.broadcast(nt), "q_id")
        .where((F.col("m") == F.col("n_terms")) & (F.col("tfs") >= 4))
        .select(
            "q_id", "doc_id",
            F.least(F.col("tfs"), F.lit(8)).cast("int").alias("rel"),
        )
    )
    ev = R.retrieval_eval(
        fused.select("q_id", "doc_id", "rank"), qrels, k=10
    )
    evq = ev.select(
        "q_id",
        "n_rel",
        "n_hits",
        fx("recall", 10**6).alias("recall_fx"),
        fx("rr", 10**6).alias("rr_fx"),
        fx("ap", 10**6).alias("ap_fx"),
        fx("ndcg", 10**6).alias("ndcg_fx"),
    )
    z = F.lit(0).cast("bigint")
    return (
        fused.join(F.broadcast(evq), "q_id", "left")
        .select(
            "q_id",
            "rank",
            "doc_id",
            fx("rrf_score", 10**9).alias("rrf_fx"),
            "n_sources",
            F.coalesce(F.col("n_rel"), z).alias("n_rel"),
            F.coalesce(F.col("n_hits"), z).alias("n_hits"),
            F.coalesce(F.col("recall_fx"), z).alias("recall_fx"),
            F.coalesce(F.col("rr_fx"), z).alias("rr_fx"),
            F.coalesce(F.col("ap_fx"), z).alias("ap_fx"),
            F.coalesce(F.col("ndcg_fx"), z).alias("ndcg_fx"),
        )
        .orderBy("q_id", "rank")
    )


# -- q142: the INCREMENTAL fuzzy artifact graded end-to-end (r17 —
#    the persisted fuzzy path graded through the append lifecycle):
#    the variant artifact builds from HALF the corpus
#    (write_fuzzy_vocab), the other half's vocabulary appends under its
#    own epoch (fuzzy_vocab_append), and fuzzy_match_terms answers
#    through the merged artifact — the cross-epoch df SUM and the Norvig best
#    pick are graded against a brute-force levenshtein oracle
#    over the FULL corpus: hash-equal means the split+append is
#    invisible, i.e. a term split across slices reports its union df
#    and a term first seen in the append is matchable.
@query(
    "q142_fuzzy_vocab_incremental",
    "WITH " + _BM25_SQL_STATS + """,
    vocab AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM pos GROUP BY term
    ),
    q(q_term) AS (VALUES ('tabel'), ('windo'), ('scann'), ('datta')),
    cand AS (
      SELECT q.q_term, v.term,
             CAST(levenshtein(q.q_term, v.term) AS INT) AS dist, v.df
      FROM q JOIN vocab v ON levenshtein(q.q_term, v.term) <= 2
    )
    SELECT q_term, term, dist, df,
           CAST((row_number() OVER (
              PARTITION BY q_term ORDER BY dist, df DESC, term)) = 1
             AS INT) AS is_best
    FROM cand ORDER BY q_term, term
    """,
)
def q142(spark, sf_dir):
    import tempfile

    d = T(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="fuzzy_vocab_q142_") + "/fz"
    R.write_fuzzy_vocab(
        R.inverted_index(d.where(F.col("doc_id") % 2 == 0)),
        root, max_edits=2, n_buckets=8,
    )
    R.fuzzy_vocab_append(
        R.inverted_index(d.where(F.col("doc_id") % 2 == 1)),
        root, epoch=1,
    )
    exp = R.fuzzy_match_terms(
        spark, root, ["tabel", "windo", "scann", "datta"], max_edits=2
    )
    best = R.fuzzy_best_match(exp).withColumnRenamed("term", "_bt")
    return (
        exp.join(F.broadcast(best), "q_term", "left")
        .select(
            "q_term",
            "term",
            "dist",
            "df",
            (F.col("term") == F.col("_bt")).cast("int").alias("is_best"),
        )
        .orderBy("q_term", "term")
    )


# -- q143: weighted score fusion (retrieval.score_fuse_batch) —
#    CombSUM/CombMNZ (Fox & Shaw 1994; Lee 1997), the CALIBRATED
#    hybrid combiner next to the graded rank-based RRF (q136/q141):
#    each arm's retrieved list min-max-normalizes into [0,1] per
#    query, contributions weight 0.7 lexical / 0.3 dense and
#    fixed-point before the cross-arm sum, and CombMNZ multiplies by
#    the overlap count.  Arms are the already-graded q136 pair (batch
#    BM25 top-20 + batch cosine top-20 over document-anchored
#    queries); the oracle replays the normalization windows and the
#    weighted integer sum exactly.
@query(
    "q143_score_fusion",
    "WITH " + _BM25_SQL_STATS + """,
    queries(q_id, terms) AS (VALUES
      (0, ['spark', 'window']),
      (7, ['merge', 'join']),
      (21, ['data', 'table', 'scan'])),
    qt AS (
      SELECT DISTINCT q_id, unnest(terms) AS term FROM queries
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM pos WHERE term IN (SELECT DISTINCT term FROM qt)
      GROUP BY doc_id, term
    ),
    idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT q.q_id, tf.doc_id,
             (1.0 + (stats.n_docs - idf.df + 0.5) / (idf.df + 0.5))
             * (tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS c
      FROM qt q
      JOIN tf ON tf.term = q.term
      JOIN idf ON idf.term = q.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    ),
    scores AS (
      SELECT q_id, doc_id,
             CAST(SUM(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM contrib GROUP BY q_id, doc_id
    ),
    bmtop AS (
      SELECT q_id, doc_id, score_fx FROM (
        SELECT q_id, doc_id, score_fx,
               row_number() OVER (
                 PARTITION BY q_id ORDER BY score_fx DESC, doc_id
               ) AS rank
        FROM scores
      ) WHERE rank <= 20
    ),
    bmn AS (
      SELECT q_id, doc_id,
             CAST(floor(
               CASE WHEN mx > mn
                    THEN (CAST(score_fx AS DOUBLE) - mn) / (mx - mn)
                    ELSE 1.0 END * 0.7 * 1000000.0 + 0.5
             ) AS BIGINT) AS cfx
      FROM (
        SELECT q_id, doc_id, score_fx,
               CAST(MIN(score_fx) OVER (PARTITION BY q_id) AS DOUBLE) AS mn,
               CAST(MAX(score_fx) OVER (PARTITION BY q_id) AS DOUBLE) AS mx
        FROM bmtop
      )
    ),
    qv AS (
      SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id IN (0, 7, 21)
    ),
    sims AS (
      SELECT qv.q_id, e.vec_id AS doc_id,
             CAST(floor(list_dot_product(
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)), qv.v
             ) * 1000000 + 0.5) AS BIGINT) AS sim_fx
      FROM embeddings e, qv
    ),
    costop AS (
      SELECT q_id, doc_id, sim_fx FROM (
        SELECT q_id, doc_id, sim_fx,
               row_number() OVER (
                 PARTITION BY q_id ORDER BY sim_fx DESC, doc_id
               ) AS rank
        FROM sims
      ) WHERE rank <= 20
    ),
    cosn AS (
      SELECT q_id, doc_id,
             CAST(floor(
               CASE WHEN mx > mn
                    THEN (CAST(sim_fx AS DOUBLE) - mn) / (mx - mn)
                    ELSE 1.0 END * 0.3 * 1000000.0 + 0.5
             ) AS BIGINT) AS cfx
      FROM (
        SELECT q_id, doc_id, sim_fx,
               CAST(MIN(sim_fx) OVER (PARTITION BY q_id) AS DOUBLE) AS mn,
               CAST(MAX(sim_fx) OVER (PARTITION BY q_id) AS DOUBLE) AS mx
        FROM costop
      )
    ),
    u AS (
      SELECT q_id, doc_id, cfx FROM bmn
      UNION ALL
      SELECT q_id, doc_id, cfx FROM cosn
    ),
    fused AS (
      SELECT q_id, doc_id,
             CAST(SUM(cfx) * count(*) AS BIGINT) AS fused_fx,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM u GROUP BY q_id, doc_id
    ),
    final AS (
      SELECT q_id,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY fused_fx DESC, doc_id
             ) AS INT) AS rank,
             doc_id, fused_fx, n_sources
      FROM fused
      QUALIFY rank <= 10
    )
    SELECT q_id, rank, doc_id, fused_fx, n_sources
    FROM final ORDER BY q_id, rank
    """,
)
def q143(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    e = T(spark, sf_dir, "embeddings")
    idx = shared_index(d)  # r18: multi-consumer index, see shared_index
    qdf = spark.createDataFrame(
        [
            (0, ["spark", "window"]),
            (7, ["merge", "join"]),
            (21, ["data", "table", "scan"]),
        ],
        "q_id long, terms array<string>",
    )
    bm = R.bm25_topk_batch(
        idx, qdf, k=20, idf="rational", scale=1_000_000
    ).select(
        "q_id", "doc_id", fx("score", 1_000_000).alias("score_fx")
    )
    qv = e.where(F.col("vec_id").isin(0, 7, 21)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim_fx"), "vec_id")
    cos = (
        S.batch_cosine_topk(e, qv, k=20)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select("q_id", F.col("vec_id").alias("doc_id"),
                F.col("sim_fx").alias("score_fx"))
    )
    out = R.score_fuse_batch(
        [bm, cos], weights=[0.7, 0.3], topk=10, mnz=True,
        score_col="score_fx", scale=1_000_000,
    )
    return out.select(
        "q_id",
        "rank",
        "doc_id",
        fx("fused_score", 1_000_000).alias("fused_fx"),
        "n_sources",
    ).orderBy("q_id", "rank")


# -- q144: MMR diversified top-k (operators/retrieval.py mmr_rerank —
#    Carbonell & Goldstein, SIGIR 1998): re-rank a relevance shortlist
#    so each greedy pick maximizes lam*rel - (1-lam)*max-sim-to-
#    selected — the diverse positive/negative mining step between
#    ranked retrieval and curation.  Candidates are batch cosine
#    top-12 per query (batch_cosine_topk as generator); the Spark side
#    runs the WHOLE k-step selection as one packed-array JVM fold per
#    query (no iterative joins, no driver loop), while the oracle
#    unrolls the same greedy argmax into k SQL stages over the same
#    fixed-point sims — hash-equal means the fold IS the textbook
#    selection.
def _mmr_oracle_sql(k: int = 5, lam: float = 0.5, n_cand: int = 12) -> str:
    """Unrolled-stage DuckDB twin of mmr_rerank: stage i picks the
    argmax of floor(lam*rel_fx - (1-lam)*max_sim + 0.5) over the
    candidates not yet selected (ties doc asc), exactly the fold's
    per-step math."""
    head = f"""
    WITH q AS (SELECT vec_id AS q_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id IN (0, 7, 21)),
    s AS (SELECT q.q_id, e.vec_id AS doc_id,
                 list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
                 CAST(floor(list_dot_product(
                      list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                      q.qv)*1000000 + 0.5) AS BIGINT) AS sim_fx
          FROM embeddings e CROSS JOIN q),
    cand AS (SELECT q_id, doc_id, v, sim_fx FROM (
               SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY sim_fx DESC, doc_id) AS rn FROM s)
             WHERE rn <= {n_cand}),
    rel AS (SELECT q_id, doc_id, v,
            CAST(floor(CASE WHEN mx > mn
                 THEN (CAST(sim_fx AS DOUBLE) - mn) / (mx - mn)
                 ELSE 1.0 END * 1000000.0 + 0.5) AS BIGINT) AS rel_fx
            FROM (SELECT *,
                  CAST(MIN(sim_fx) OVER (PARTITION BY q_id) AS DOUBLE) AS mn,
                  CAST(MAX(sim_fx) OVER (PARTITION BY q_id) AS DOUBLE) AS mx
                  FROM cand)),
    pairs AS (SELECT a.q_id, a.doc_id AS ai, b.doc_id AS bi,
              CAST(floor(list_dot_product(a.v, b.v)*1000000 + 0.5)
                   AS BIGINT) AS sim
              FROM rel a JOIN rel b
                ON a.q_id = b.q_id AND a.doc_id <> b.doc_id),
    s1 AS (SELECT q_id, 1 AS rank, doc_id,
                  CAST(floor({lam}*rel_fx + 0.5) AS BIGINT) AS mmr_fx,
                  rel_fx
           FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY floor({lam}*rel_fx + 0.5) DESC, doc_id) AS rn
                 FROM rel)
           WHERE rn = 1),
    sel1 AS (SELECT q_id, doc_id FROM s1)"""
    stages = [head]
    for i in range(2, k + 1):
        p = i - 1
        stages.append(f""",
    m{i} AS (SELECT r.q_id, r.doc_id, r.rel_fx,
             CAST(floor({lam}*r.rel_fx - {1.0 - lam}*mx.ms + 0.5)
                  AS BIGINT) AS mmr_fx
             FROM rel r
             JOIN (SELECT p.q_id, p.ai, MAX(p.sim) AS ms
                   FROM pairs p JOIN sel{p} sl
                     ON sl.q_id = p.q_id AND sl.doc_id = p.bi
                   GROUP BY p.q_id, p.ai) mx
               ON mx.q_id = r.q_id AND mx.ai = r.doc_id
             WHERE NOT EXISTS (SELECT 1 FROM sel{p} sl2
                   WHERE sl2.q_id = r.q_id AND sl2.doc_id = r.doc_id)),
    s{i} AS (SELECT q_id, {i} AS rank, doc_id, mmr_fx, rel_fx
             FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                   ORDER BY mmr_fx DESC, doc_id) AS rn FROM m{i})
             WHERE rn = 1),
    sel{i} AS (SELECT q_id, doc_id FROM sel{p}
               UNION ALL SELECT q_id, doc_id FROM s{i})""")
    union = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, k + 1))
    stages.append(f"""
    SELECT q_id, CAST(rank AS INT) AS rank, doc_id, mmr_fx, rel_fx
    FROM ({union}) ORDER BY q_id, rank
    """)
    return "".join(stages)


@query("q144_mmr_diversified_topk", _mmr_oracle_sql())
def q144(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id").isin(0, 7, 21)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cand = S.batch_cosine_topk(e, qv, k=12).select(
        "q_id", F.col("vec_id").alias("doc_id"),
        F.col("sim_fx").alias("score"),
    )
    return R.mmr_rerank(cand, e, k=5, lam=0.5).orderBy("q_id", "rank")
