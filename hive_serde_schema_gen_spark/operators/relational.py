"""Relational query surface — scans, filters, joins, aggregations, windows,
set operations, scalar functions (SURVEY §2 Layer B).

Every query here is stock DataFrame/SQL: Catalyst handles predicate pushdown,
column pruning and join-strategy selection (AQE re-plans at runtime).  Scale
notes are per-query docstrings; the recurring themes:

- **Broadcast the dims.**  region/nation are O(1)-sized at every SF; the
  customer/supplier/part dims grow with SF but stay well under the broadcast
  threshold until very large SFs — AQE picks broadcast automatically when the
  post-filter size is small, and we hint `F.broadcast` where the small side is
  structurally guaranteed.
- **Shuffles only on true keys.**  Joins/aggs shuffle on their join/group
  keys once; no repartition-then-groupBy double shuffles.
- **Exact decimal money math** (see ``functions.decimal_safe``): results are
  identical across partitionings — and across engines, which is what the
  DuckDB oracle checks.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.union import pad_union
from ..functions.decimal_safe import dec, money_sum, one
from ..functions.text_keys import words
from ..registry import query
from ..sources.tables import load_table

# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity)                                          AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2))) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*)               AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*)                                                 AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1: full-scan aggregate over lineitem.

    Scale: one shuffle on (returnflag, linestatus) — 6 groups, so the
    map-side partial aggregation collapses ~everything before the exchange;
    the parquet scan prunes to 7 of 11 columns and pushes the shipdate
    filter.  l_quantity is integral-valued, so its double SUM is exact;
    monetary sums go through decimal (order-independent)."""
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = (dec("l_extendedprice") * (one() - dec("l_discount", 3))).cast(
        "decimal(18,4)"
    )
    charge = (disc_price * (one() + dec("l_tax", 3))).cast("decimal(24,6)")
    n = F.count(F.lit(1))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum("l_quantity").cast("double") / n).alias("avg_qty"),
            (money_sum("l_extendedprice") / n).alias("avg_price"),
            (F.sum(dec("l_discount", 3)).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*)                  AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_distinct(spark, sf_dir):
    """COUNT(DISTINCT) — Spark expands to a two-phase aggregate; partial
    distinct on the mappers keeps the shuffle proportional to distinct keys,
    not rows."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


_ROLLUP_CUBE_SQL = """
    SELECT 'rollup' AS op, l_returnflag AS k1, l_linestatus AS k2,
           SUM(l_quantity) AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube' AS op, l_returnflag AS k1, l_linestatus AS k2,
           SUM(l_quantity) AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'gsets' AS op, o_orderstatus AS k1, o_orderpriority AS k2,
           CAST(NULL AS DOUBLE) AS sum_qty, COUNT(*) AS n
    FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


def rollup_cube_agg(spark, sf_dir, sort: bool = True):
    """ROLLUP + CUBE + GROUPING SETS hierarchical subtotals, tagged and
    unioned (registry-merged into ``rollup_agg`` in round 9 — one driver
    slot covers every grouping-set expansion plus the time-grain rollup).
    Each branch expands its grouping sets map-side before a single exchange;
    the GROUPING SETS branch exercises the SQL API (same Catalyst plan as
    the DataFrame form — the SQL surface is first-class in this engine)."""
    l = load_table(spark, sf_dir, "lineitem")

    def agg_of(grouped, op):
        return grouped.agg(
            F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n")
        ).select(
            F.lit(op).alias("op"),
            F.col("l_returnflag").alias("k1"),
            F.col("l_linestatus").alias("k2"),
            "sum_qty",
            "n",
        )

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    gsets = spark.sql(
        """
        SELECT 'gsets' AS op, o_orderstatus AS k1, o_orderpriority AS k2,
               CAST(NULL AS DOUBLE) AS sum_qty, COUNT(*) AS n
        FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )
    out = (
        agg_of(l.rollup("l_returnflag", "l_linestatus"), "rollup")
        .unionAll(agg_of(l.cube("l_returnflag", "l_linestatus"), "cube"))
        .unionAll(gsets)
    )
    if sort:
        out = out.orderBy(
            "op",
            F.col("k1").asc_nulls_first(),
            F.col("k2").asc_nulls_first(),
        )
    return out


@query(
    "pivot_events",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS "view",
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS "error"
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def pivot_events(spark, sf_dir):
    """Pivot (long→wide): one shuffle on user_id; the explicit value list
    avoids the extra distinct-values job Spark otherwise runs."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("user_id")
    )


@query(
    "q6_revenue_forecast",
    oracle="""
    SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark, sf_dir):
    """TPC-H Q6: pure filter + global aggregate — the pushdown showcase
    (all three predicates reach the parquet scan; no shuffle at all beyond
    the final single-row combine)."""
    l = load_table(spark, sf_dir, "lineitem")
    delta = (dec("l_extendedprice") * dec("l_discount", 3)).cast("decimal(18,4)")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(delta).cast("double").alias("revenue_delta"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer c
      JOIN orders o   ON o.o_custkey  = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10: customers who returned the most (returnflag='R') in a
    quarter-ish window — fact⋈fact shuffle on orderkey, broadcast nation,
    top-20 on the exact decimal revenue."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = (dec("l_extendedprice") * (one() - dec("l_discount", 3))).cast(
        "decimal(18,4)"
    )
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def explode_top_tokens(spark, sf_dir):
    """Flatten (explode ≡ LATERAL unnest) + count + top-k: the generator
    operator family.  The explode is map-side; only (token, partial count)
    pairs shuffle thanks to partial aggregation.  Registry-merged into
    ``semistructured_ops`` in round 8."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(words("text")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(20)
    )


_HISTOGRAM_SQL = """
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 500000 THEN 21
                ELSE CAST(FLOOR(o_totalprice / 25000.0) + 1 AS INTEGER)
           END AS bucket,
           COUNT(*) AS n
    FROM orders GROUP BY 1
"""


def histogram_totalprice(spark, sf_dir, sort: bool = True, orders=None):
    """Histogram via width_bucket: fixed-width binning + count — the
    single-pass distribution sketch.  DuckDB 1.0 has no width_bucket, so
    the oracle reproduces the exact bucket arithmetic
    (floor(x/width)+1 with under/overflow buckets 0 and n+1).
    Registry-merged into ``stats_summary`` (advanced.py) in round 8.
    ``orders`` overrides the table load (shared-scan caller)."""
    o = orders if orders is not None else load_table(spark, sf_dir, "orders")
    out = (
        o.select(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(500000), F.lit(20))
            .cast("int")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return out.orderBy("bucket") if sort else out


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3: selective dim filter → fact join → top-k.

    Scale: customer is filtered on mktsegment (~1/5) before the join, so AQE
    sees a small build side and broadcasts it; the lineitem⋈orders join
    shuffles on orderkey (both sides keyed the same — one exchange each).
    Top-k is a global sort of an already-aggregated (small) result."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    revenue = (dec("l_extendedprice") * (one() - dec("l_discount", 3))).cast(
        "decimal(18,4)"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM region r
      JOIN nation n   ON n.n_regionkey = r.r_regionkey
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o   ON o.o_custkey   = c.c_custkey
      JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
      JOIN supplier s ON s.s_suppkey   = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'EUROPE'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier(spark, sf_dir):
    """TPC-H Q5: six-way join.

    Scale: region(5)⋈nation(25) are broadcast by construction (F.broadcast —
    they are O(1)-sized at every SF).  The join order keeps the fact table
    last so all dim filters reduce it before the big shuffles; the
    supplier-nation co-location predicate rides on the same join."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    revenue = (dec("l_extendedprice") * (one() - dec("l_discount", 3))).cast(
        "decimal(18,4)"
    )
    return (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               c.c_nationkey == F.col("n_nationkey"))
        .join(o, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(s, (s.s_suppkey == l.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


def join_broadcast_dim(spark, sf_dir):
    """Explicit broadcast join: nation is 25 rows at every SF — shipping it
    to every executor beats shuffling the customer table by nationkey.

    Registry-evicted in round 3 (slot ceded to ``range_join_bucketed`` et
    al.): the broadcast-join surface is already driver-verified through
    q3/q5/q10; the explicit-broadcast plan shape stays asserted in
    tests/test_plans.py."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum("c_acctbal").alias("total_acctbal"),
        )
        .orderBy("n_name")
    )


def join_semi_anti(spark, sf_dir, sort: bool = True):
    """LEFT SEMI (≡ EXISTS: big spenders) + LEFT ANTI (≡ NOT EXISTS:
    never-ordered customers) in one tagged union.  Neither join duplicates
    the left side, and the right side reduces to its join keys before the
    shuffle.  Registry-merged into ``join_variants`` in round 8 (plan
    shape still asserted in tests/test_plans.py)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 400000)
    semi = (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .select(F.lit("semi").alias("op"), "c_custkey", "c_name")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(F.lit("anti").alias("op"), "c_custkey", "c_name")
    )
    out = semi.unionAll(anti)
    return out.orderBy("op", "c_custkey") if sort else out


def join_outer_agg(spark, sf_dir, sort: bool = True):
    """LEFT OUTER join preserving customers with zero orders (COUNT of the
    nullable key counts 0 for them).  Registry-merged into
    ``join_variants`` in round 8."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    out = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return out.orderBy("c_custkey") if sort else out


@query(
    "join_variants",
    oracle="""
    SELECT 'semi' AS op, c_custkey, c_name, CAST(NULL AS BIGINT) AS n_orders
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    UNION ALL
    SELECT 'anti' AS op, c_custkey, c_name, NULL FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'outer' AS op, c.c_custkey, NULL, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    ORDER BY op, c_custkey
    """,
)
def join_variants(spark, sf_dir):
    """The non-inner join family in ONE driver slot (round-8 tagged-union
    merge of ``join_semi_anti`` + ``join_outer_agg``): LEFT SEMI, LEFT
    ANTI, and LEFT OUTER + aggregate — each component plan unchanged."""
    schema = [
        ("op", "string"), ("c_custkey", "bigint"),
        ("c_name", "string"), ("n_orders", "bigint"),
    ]
    return pad_union(
        schema,
        (
            join_semi_anti(spark, sf_dir, sort=False),
            {"op": "op", "c_custkey": "c_custkey", "c_name": "c_name"},
        ),
        (
            join_outer_agg(spark, sf_dir, sort=False),
            {
                "op": F.lit("outer"),
                "c_custkey": "c_custkey",
                "n_orders": "n_orders",
            },
        ),
    ).orderBy("op", "c_custkey")


# ---------------------------------------------------------------------------
# Scans / filters / projections / sort / limit
# ---------------------------------------------------------------------------


def filter_project(spark, sf_dir):
    """Scan+filter+project with the scalar-math surface (abs/floor/ceil/sqrt
    — IEEE-exact per row, sqrt correctly rounded): both predicates and the
    projection reach the parquet reader (PushedFilters/ReadSchema — asserted
    in tests/test_plans.py).  Per-row double arithmetic is deterministic (no
    reduction), so no decimal dance is needed.

    Registry-evicted in round 8 (slot ceded to round-7 operators): its
    surface — pushdown, pruning, per-row scalar math — is exercised by
    virtually every other registered query, and the pushdown/pruning plan
    assertions keep running here via direct import."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_quantity") >= 48)
            & (F.col("l_discount") < 0.02)
            & (F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            (F.col("l_extendedprice") * (F.lit(1.0) + F.col("l_tax"))).alias("gross"),
            F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
            F.floor(F.col("l_extendedprice") / 1000).alias("price_kbucket"),
            F.ceil(F.col("l_quantity") / 7.0).alias("qty_weeks"),
            F.sqrt("l_quantity").alias("qty_sqrt"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def topk_orders(spark, sf_dir):
    """Global top-k: Spark plans TakeOrderedAndProject — each partition keeps
    its local top-25, only k×partitions rows reach the driver (no full
    sort).  Unique tiebreaker (o_orderkey) makes the cut deterministic.

    Registry-evicted in round 3 (slot ceded to the new operators): top-k is
    driver-verified through ``window_topk_per_group`` and the LIMIT queries;
    the TakeOrderedAndProject plan shape stays asserted in
    tests/test_plans.py."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@query(
    "window_topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               ROW_NUMBER() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part) WHERE rn <= 3
    ORDER BY p_brand, rn
    """,
)
def window_topk_per_group(spark, sf_dir):
    """Top-k per group via ROW_NUMBER: one shuffle on the partition key;
    Spark's WindowGroupLimit pushes the rn<=3 limit into the sort at scale."""
    p = load_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), "p_partkey")
    return (
        p.select(
            "p_brand", "p_partkey", "p_retailprice", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
        .orderBy("p_brand", "rn")
    )


def window_running_lag(spark, sf_dir, sort: bool = True):
    """Running total + LAG delta per customer over one window spec (both
    frames share a single shuffle+sort on o_custkey).  The window SUM runs
    over decimal: window implementations are free to reassociate (DuckDB
    uses a segment tree), so only exact arithmetic is order-proof; the LAG
    delta is per-row double subtraction (deterministic, no reduction).
    Registry-merged into ``window_analytics`` in round 8 (plan shape still
    asserted in tests/test_plans.py)."""
    o = load_table(spark, sf_dir, "orders")
    wsum = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wlag = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    out = (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.sum(dec("o_totalprice")).over(wsum).cast("double").alias("running_spend"),
            (F.col("o_totalprice") - F.lag("o_totalprice").over(wlag)).alias(
                "delta_vs_prev"
            ),
        )
    )
    return out.orderBy("o_custkey", "o_orderkey") if sort else out


def window_share_of_total(spark, sf_dir, sort: bool = True):
    """Aggregate + unpartitioned window over the (tiny) aggregate result —
    the OVER () runs on 3 rows, not the fact table.  Registry-merged into
    ``window_analytics`` in round 8."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    out = counts.select(
        "o_orderstatus",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(W.partitionBy())).alias("share"),
    )
    return out.orderBy("o_orderstatus") if sort else out


@query(
    "window_analytics",
    oracle="""
    SELECT 'running' AS op, o_custkey AS k, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
           o_totalprice - LAG(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS delta_vs_prev,
           CAST(NULL AS VARCHAR) AS o_orderstatus,
           CAST(NULL AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS share
    FROM orders
    UNION ALL
    SELECT 'share' AS op, NULL, NULL, NULL, NULL, o_orderstatus, n,
           CAST(n AS DOUBLE) / SUM(n) OVER () AS share
    FROM (SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus)
    ORDER BY op, k, o_orderkey, o_orderstatus
    """,
)
def window_analytics(spark, sf_dir):
    """The window-frame surface in ONE driver slot (round-8 tagged-union
    merge of ``window_running_lag`` + ``window_share_of_total``): a
    running-frame SUM + LAG sharing one partitioned sort, and an
    unpartitioned OVER () share-of-total over a pre-aggregated 3-row
    input — component plans unchanged."""
    schema = [
        ("op", "string"), ("k", "bigint"), ("o_orderkey", "bigint"),
        ("running_spend", "double"), ("delta_vs_prev", "double"),
        ("o_orderstatus", "string"), ("n", "bigint"), ("share", "double"),
    ]
    return pad_union(
        schema,
        (
            window_running_lag(spark, sf_dir, sort=False),
            {
                "op": F.lit("running"), "k": "o_custkey",
                "o_orderkey": "o_orderkey",
                "running_spend": "running_spend",
                "delta_vs_prev": "delta_vs_prev",
            },
        ),
        (
            window_share_of_total(spark, sf_dir, sort=False),
            {
                "op": F.lit("share"), "o_orderstatus": "o_orderstatus",
                "n": "n", "share": "share",
            },
        ),
    ).orderBy("op", "k", "o_orderkey", "o_orderstatus")


@query(
    "sessionize_events",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(1 + SUM(CASE WHEN gap_ms > 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
    FROM (
        SELECT user_id,
               epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
        FROM events)
    GROUP BY user_id ORDER BY user_id
    """,
)
def sessionize_events(spark, sf_dir):
    """Sessionization (guide pattern): LAG on the event stream, gap>30 min
    starts a new session.  One shuffle on user_id serves both the window and
    the aggregate (same key → Catalyst reuses the partitioning)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = e.select(
        "user_id",
        (F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)).alias("gap_ms"),
    )
    return (
        gapped.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.lit(1)
                + F.sum(F.when(F.col("gap_ms") > 1800000, 1).otherwise(0))
            ).alias("n_sessions"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


def _custkeys_in_year(spark, sf_dir, year: int):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.year("o_orderdate") == year).select("o_custkey").distinct()
    )


_SET_OPS_SQL = """
    SELECT 'intersect' AS op, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
        INTERSECT
        SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997)
    UNION ALL
    SELECT 'except' AS op, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
        EXCEPT
        SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997)
    UNION ALL
    SELECT 'union' AS op, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
        UNION
        SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997)
"""


def set_ops(spark, sf_dir, sort: bool = True):
    """INTERSECT (active both years) / EXCEPT (churned) / UNION (either
    year), tagged and unioned into one result — the whole set-operator
    family (registry-merged into ``set_merge_ops`` in round 9)."""
    a = _custkeys_in_year(spark, sf_dir, 1996)
    b = _custkeys_in_year(spark, sf_dir, 1997)
    tag = lambda df, op: df.select(F.lit(op).alias("op"), "o_custkey")  # noqa: E731
    out = (
        tag(a.intersect(b), "intersect")
        .unionAll(tag(a.exceptAll(b).distinct(), "except"))
        .unionAll(tag(a.union(b).distinct(), "union"))
    )
    return out.orderBy("op", "o_custkey") if sort else out


# ---------------------------------------------------------------------------
# Scalar functions & subqueries
# ---------------------------------------------------------------------------


_SCALAR_STRING_SQL = """
    SELECT 'scalar' AS op, CAST(p_partkey AS VARCHAR) AS k,
           UPPER(p_name)                        AS name_upper,
           SUBSTR(p_name, 1, 8)                 AS name_prefix,
           LENGTH(p_name)                       AS name_len,
           CONCAT(p_brand, '/', p_type)         AS brand_type,
           REPLACE(p_brand, 'Brand#', 'B')      AS brand_short,
           CAST(NULL AS VARCHAR)                AS nations
    FROM part WHERE p_type LIKE '%PROMO%'
    UNION ALL
    SELECT 'string_agg' AS op, r.r_name AS k,
           NULL, NULL, NULL, NULL, NULL,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
"""


def scalar_string_funcs(spark, sf_dir, sort: bool = True):
    """String function surface in one tagged union (registry-merged into
    ``scalar_funcs`` in round 8 — slot ceded to round-7 operators; the
    driver still hashes these rows through the merged query):

    - ``scalar`` rows: upper/substr/length/concat/replace/LIKE — all JVM
      expressions inside whole-stage codegen.
    - ``string_agg`` rows: ordered set-to-string aggregation (string_agg ≡
      sorted collect_list + array_join); sorting inside the agg makes the
      output order-deterministic despite the unordered shuffle.
    """
    p = load_table(spark, sf_dir, "part")
    nulls = lambda typ, name: F.lit(None).cast(typ).alias(name)  # noqa: E731
    scalar = (
        p.filter(F.col("p_type").like("%PROMO%"))
        .select(
            F.lit("scalar").alias("op"),
            F.col("p_partkey").cast("string").alias("k"),
            F.upper("p_name").alias("name_upper"),
            F.substring("p_name", 1, 8).alias("name_prefix"),
            F.length("p_name").alias("name_len"),
            F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
            F.regexp_replace("p_brand", "Brand#", "B").alias("brand_short"),
            nulls("string", "nations"),
        )
    )
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    agg = (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
        )
        .select(
            F.lit("string_agg").alias("op"),
            F.col("r_name").alias("k"),
            nulls("string", "name_upper"),
            nulls("string", "name_prefix"),
            nulls("int", "name_len"),
            nulls("string", "brand_type"),
            nulls("string", "brand_short"),
            "nations",
        )
    )
    out = scalar.unionAll(agg)
    return out.orderBy("op", "k") if sort else out


def scalar_date_funcs(spark, sf_dir, sort: bool = True):
    """Date part extraction + monthly aggregate (timestamps leave the result
    as ints — raw timestamps never cross the oracle boundary).
    Registry-merged into ``scalar_funcs`` in round 8."""
    o = load_table(spark, sf_dir, "orders")
    out = (
        o.groupBy(
            F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice").alias("monthly_total"),
        )
    )
    return out.orderBy("y", "m") if sort else out


@query(
    "scalar_funcs",
    oracle=f"""
    SELECT 'str' AS fam, op, k, name_upper, name_prefix, name_len,
           brand_type, brand_short, nations,
           CAST(NULL AS BIGINT) AS n_orders, CAST(NULL AS DOUBLE) AS monthly_total
    FROM ({_SCALAR_STRING_SQL})
    UNION ALL
    SELECT 'date' AS fam, 'month' AS op, printf('%04d-%02d', y, m) AS k,
           NULL, NULL, NULL, NULL, NULL, NULL, n_orders, monthly_total
    FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER)  AS y,
                 CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS m,
                 COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monthly_total
          FROM orders GROUP BY 1, 2)
    ORDER BY fam, op, k
    """,
)
def scalar_funcs(spark, sf_dir):
    """The scalar-function surface in ONE driver slot (round-8 tagged-union
    merge of ``scalar_string_funcs`` + ``scalar_date_funcs`` — the merge
    freed registry room for round-7 operators; both component plans are
    unchanged and still individually plan-asserted in tests/test_plans.py).
    Date rows key on a printf'd year-month so no raw timestamp crosses the
    oracle boundary."""
    schema = [
        ("fam", "string"), ("op", "string"), ("k", "string"),
        ("name_upper", "string"), ("name_prefix", "string"),
        ("name_len", "int"), ("brand_type", "string"),
        ("brand_short", "string"), ("nations", "string"),
        ("n_orders", "bigint"), ("monthly_total", "double"),
    ]
    return pad_union(
        schema,
        (
            scalar_string_funcs(spark, sf_dir, sort=False),
            {
                "fam": F.lit("str"), "op": "op", "k": "k",
                "name_upper": "name_upper", "name_prefix": "name_prefix",
                "name_len": "name_len", "brand_type": "brand_type",
                "brand_short": "brand_short", "nations": "nations",
            },
        ),
        (
            scalar_date_funcs(spark, sf_dir, sort=False),
            {
                "fam": F.lit("date"), "op": F.lit("month"),
                "k": F.format_string("%04d-%02d", F.col("y"), F.col("m")),
                "n_orders": "n_orders", "monthly_total": "monthly_total",
            },
        ),
    ).orderBy("fam", "op", "k")


def json_extract_events(spark, sf_dir, sort: bool = True):
    """Semi-structured access: get_json_object on the raw props column (the
    schema-on-read path; the schema-inferred typed path is the flagship
    ``infer_props_schema``).  Integer sums are exact.  Registry-merged
    into ``semistructured_ops`` in round 8."""
    e = load_table(spark, sf_dir, "events")
    out = (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        )
    )
    return out.orderBy("event_type") if sort else out


@query(
    "semistructured_ops",
    oracle="""
    SELECT 'tokens' AS op, tok AS key, n, CAST(NULL AS BIGINT) AS sum_k
    FROM (SELECT tok, COUNT(*) AS n
          FROM (SELECT unnest(string_split_regex(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
                FROM documents)
          GROUP BY tok ORDER BY n DESC, tok LIMIT 20)
    UNION ALL
    SELECT 'json' AS op, event_type AS key, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    ORDER BY op, n DESC, key
    """,
)
def semistructured_ops(spark, sf_dir):
    """The semi-structured/generator surface in ONE driver slot (round-8
    tagged-union merge of ``explode_top_tokens`` + ``json_extract_events``):
    LATERAL-style explode + top-k token counts, and get_json_object
    aggregation over raw JSON props — component plans unchanged."""
    toks = explode_top_tokens(spark, sf_dir).select(
        F.lit("tokens").alias("op"),
        F.col("tok").alias("key"),
        "n",
        F.lit(None).cast("bigint").alias("sum_k"),
    )
    js = json_extract_events(spark, sf_dir, sort=False).select(
        F.lit("json").alias("op"), F.col("event_type").alias("key"), "n", "sum_k"
    )
    return toks.unionAll(js).orderBy("op", F.desc("n"), "key")


_SUBQUERIES_SQL = """
    SELECT 'above_mean_balance' AS op, c_custkey AS entity_key FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                              / COUNT(*) FROM customer)
    UNION ALL
    SELECT 'supplies_qty50' AS op, s_suppkey AS entity_key FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity = 50)
    ORDER BY op, entity_key
    """


@query("subqueries", oracle=_SUBQUERIES_SQL)
def subqueries(spark, sf_dir):
    """Subquery surface through the SQL API: a scalar subquery (customers
    above the exact decimal mean balance — the threshold is bit-identical in
    both engines) and a correlated EXISTS (Catalyst rewrites it to a
    left-semi join), tagged and unioned."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SUBQUERIES_SQL)
