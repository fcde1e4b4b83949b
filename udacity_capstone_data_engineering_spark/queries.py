"""Query catalog: every implemented operator as a named (spark, sf_dir) →
DataFrame callable with a matching DuckDB oracle SQL string.

This is the engine's correctness contract (SURVEY.md §5): the driver
runs each Spark query and its oracle side-by-side at sf0.01 and
compares row counts, schemas, and order-insensitive value hashes.

Determinism rules used throughout (so hashes are stable across engines
AND across partitionings — the property that matters at 100 TB):
  - sums of double measures go through DECIMAL(18,2) (exact, order-
    independent), then cast to double;
  - averages are exact-decimal-sum / count in double, rounded once;
  - every ranking window carries a unique tiebreaker;
  - hashes are the engine-portable md5-derived 60-bit family
    (``functions/hashing.py``), never Spark-internal murmur3;
  - session timezone is pinned UTC inside every callable (the driver's
    session config is not ours to assume).

Spark-side plans are built from the operator modules; oracle SQL is
plain ANSI/DuckDB. Reference-parity queries cite the reference sites
they generalize (SURVEY.md §2 numbering).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.functions.dates import (
    date_to_sas_days,
    sas_date_to_date,
)
from udacity_capstone_data_engineering_spark.functions.hashing import (
    portable_hash64,
    portable_hash64_sql,
)
from udacity_capstone_data_engineering_spark.functions.text import (
    STOPWORDS,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from udacity_capstone_data_engineering_spark.operators.aggregates import (
    cube_agg,
    group_agg,
    null_profile,
    rollup_agg,
)
from udacity_capstone_data_engineering_spark.operators.dedup import (
    exact_duplicates,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
)
from udacity_capstone_data_engineering_spark.operators.joins import (
    anti_join,
    equi_join,
    fk_orphans,
    semi_join,
)
from udacity_capstone_data_engineering_spark.operators.projections import (
    dedup_by_key,
    drop_columns,
    project,
)
from udacity_capstone_data_engineering_spark.operators.setops import (
    duplicate_witness,
    intersect_distinct,
    union_distinct,
)
from udacity_capstone_data_engineering_spark.session import ensure_worker_imports
from udacity_capstone_data_engineering_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from udacity_capstone_data_engineering_spark.operators.windows import (
    global_top_k,
    lag_delta,
    top_k_per_group,
)
from udacity_capstone_data_engineering_spark.sources.catalog import (
    TABLES,
    event_timestamp,
    fan_out_small_scan,
    load_table,
)
from udacity_capstone_data_engineering_spark.streaming.windows import (
    sliding_window_agg,
    tumbling_window_agg,
)

_REGISTRY: dict[str, tuple[Callable, str | None]] = {}


def _register(name: str, oracle: str | None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Pin tz so timestamp bucketing/date-part extraction matches
            # the (naive-timestamp) DuckDB oracle regardless of the
            # driver session's config.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            # Ship the package to python workers if the driver's launch
            # shape didn't already make it importable (external drivers
            # run from arbitrary CWDs — see session.ensure_worker_imports).
            ensure_worker_imports(spark)
            return fn(spark, sf_dir)

        # A duplicate name would silently REPLACE an existing catalog
        # entry (and its oracle) — exactly how round 5's MG sketch
        # briefly shadowed the exact token_heavy_hitters query. Fail
        # loudly at import instead.
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name!r}")
        _REGISTRY[name] = (wrapped, oracle)
        return wrapped

    return deco


def _dec_sum(col: str, alias: str):
    """Exact order-independent sum of a money/measure double → double."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


def _dec_avg(col: str, alias: str):
    """Deterministic mean: exact decimal sum → double, / count, round 6."""
    s = F.sum(F.col(col).cast("decimal(18,2)")).cast("double")
    return F.round(s / F.count(F.lit(1)), 6).alias(alias)


def _dec_sum_sql(col: str, alias: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"


def _dec_avg_sql(col: str, alias: str) -> str:
    return (
        f"ROUND(CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)"
        f" AS {alias}"
    )


_SHINGLES_SQL = (
    "list_distinct([array_to_string("
    "(regexp_split_to_array(trim(text), '\\s+'))[i:i+4], ' ')"
    " for i in range(1, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 4, 0) + 1)])"
)
_TOKENS_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"


# ---------------------------------------------------------------------------
# Reference-parity tier (SURVEY.md §2)
# ---------------------------------------------------------------------------


@_register(
    "flagship_nation_order_stats",
    f"""
    SELECT n_name,
           COUNT(*) AS num_orders,
           MAX(o_totalprice) AS max_price,
           {_dec_sum_sql('o_totalprice', 'total_price')},
           {_dec_avg_sql('o_totalprice', 'avg_price')}
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def flagship_nation_order_stats(spark, sf_dir):
    """Flagship fact⋈dim group-agg — the reference's cell-30 analytical
    query shape (immigration ⋈ country → MAX + COUNT per group;
    SURVEY.md §2.3 J3, §2.4 A5), on the orders/customer/nation star.

    Scale: orders⋈customer shuffles on custkey; nation (25 rows) is
    broadcast so the big side never reshuffles for it.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = equi_join(
        equi_join(orders, customer, orders.o_custkey == customer.c_custkey),
        nation,
        F.col("c_nationkey") == F.col("n_nationkey"),
        broadcast_right=True,
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("num_orders"),
        F.max("o_totalprice").alias("max_price"),
        _dec_sum("o_totalprice", "total_price"),
        _dec_avg("o_totalprice", "avg_price"),
    )


@_register(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dec_sum_sql('l_quantity', 'sum_qty')},
           {_dec_sum_sql('l_extendedprice', 'sum_base_price')},
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                AS DOUBLE) AS sum_disc_price,
           {_dec_avg_sql('l_quantity', 'avg_qty')},
           {_dec_avg_sql('l_extendedprice', 'avg_price')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf_dir):
    """TPC-H-Q1-shaped pricing summary: filter + wide group-agg
    (SURVEY.md §2.4; adds the filter the reference never had — its
    pipeline contains zero ``filter`` calls, §4). Filter is pushed to
    the parquet scan; aggregation is map-side partial then one shuffle
    on the 6-value group key."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity", "sum_qty"),
            _dec_sum("l_extendedprice", "sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            _dec_avg("l_quantity", "avg_qty"),
            _dec_avg("l_extendedprice", "avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "project_rename",
    """
    SELECT l_orderkey AS order_id,
           l_linenumber AS line_no,
           l_partkey AS part_id,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue
    FROM lineitem
    """,
)
def project_rename(spark, sf_dir):
    """P1 projection+rename with a computed column (reference
    ``etl.py:254``), one select, all JVM-side. The computed revenue
    goes through exact decimal arithmetic — double ROUND() semantics
    differ across engines (HALF_UP vs half-even)."""
    li = load_table(spark, sf_dir, "lineitem")
    return project(
        li,
        {
            "order_id": "l_orderkey",
            "line_no": "l_linenumber",
            "part_id": "l_partkey",
            "revenue": "cast(cast(l_extendedprice as decimal(18,2))"
            " * (1 - cast(l_discount as decimal(3,2))) as double)",
        },
    )


@_register(
    "drop_columns_docs",
    "SELECT doc_id, lang, source, n_chars FROM documents",
)
def drop_columns_docs(spark, sf_dir):
    """P2 drop (reference ``etl.py:163-168``): shed the wide payload
    column; Catalyst turns this into scan-level column pruning."""
    docs = load_table(spark, sf_dir, "documents")
    return drop_columns(docs, ["text"])


@_register(
    "multi_cast",
    """
    SELECT CAST(l_orderkey AS VARCHAR) AS order_key_str,
           l_linenumber AS line_no,
           CAST(l_quantity AS INTEGER) AS qty_int,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS price_str,
           CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    """,
)
def multi_cast(spark, sf_dir):
    """P4 multi-column cast in ONE select (replaces the reference's
    withColumn-loop ``qhi.cast_totype``, ``qhi.py:3-17``)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("string").alias("order_key_str"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.col("l_extendedprice").cast("decimal(12,2)").cast("string").alias("price_str"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )


@_register(
    "fill_nulls_events",
    """
    SELECT event_id,
           COALESCE(NULLIF(event_type, 'error'), 'unknown') AS event_type_filled
    FROM events
    """,
)
def fill_nulls_events(spark, sf_dir):
    """P7 null fill (reference ``etl.py:171``, whose comment said 9 but
    filled 0 — here the sentinel is explicit). Nulls are manufactured
    with NULLIF since the test tables are null-free."""
    ev = load_table(spark, sf_dir, "events")
    from udacity_capstone_data_engineering_spark.operators.projections import fill_nulls

    df = ev.select(
        "event_id",
        F.nullif(F.col("event_type"), F.lit("error")).alias("event_type_filled"),
    )
    return fill_nulls(df, {"event_type_filled": "unknown"})


@_register(
    "null_profile_events",
    """
    SELECT COUNT(*) AS row_count,
           COUNT(*) - COUNT(NULLIF(event_type, 'error')) AS event_type_nulls,
           ROUND((COUNT(*) - COUNT(NULLIF(event_type, 'error'))) / COUNT(*), 6)
               AS event_type_null_ratio,
           COUNT(*) - COUNT(props) AS props_nulls,
           ROUND((COUNT(*) - COUNT(props)) / COUNT(*), 6) AS props_null_ratio
    FROM events
    """,
)
def null_profile_events(spark, sf_dir):
    """A4/Q3 one-pass null profile (the reference's nicest pattern,
    notebook cell 12): all columns profiled in a single aggregate job."""
    ev = load_table(spark, sf_dir, "events").select(
        F.nullif(F.col("event_type"), F.lit("error")).alias("event_type"),
        "props",
    )
    return null_profile(ev, ["event_type", "props"])


@_register(
    "dedup_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
    """,
)
def dedup_orders_per_customer(spark, sf_dir):
    """P9 deterministic dropDuplicates: first order per customer under
    an explicit total order (Spark's dropDuplicates keeps an ARBITRARY
    row — unusable where results must be reproducible; SURVEY.md §7
    risk register)."""
    orders = load_table(spark, sf_dir, "orders")
    d = dedup_by_key(
        orders, ["o_custkey"], [F.col("o_orderdate"), F.col("o_orderkey")]
    )
    return d.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


@_register(
    "distinct_segments",
    "SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_segments(spark, sf_dir):
    """P8 distinct (reference ``qhi.py:53,58,63``)."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@_register(
    "fk_orphan_lineitems",
    """
    SELECT DISTINCT l_orderkey AS fk FROM lineitem
    WHERE l_orderkey IS NOT NULL
      AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    """,
)
def fk_orphan_lineitems(spark, sf_dir):
    """Q2 corrected referential-integrity check: the distinct non-null
    lineitem order keys with no order, via a LEFT ANTI join against the
    broadcast order keys, deduped after the join (reference
    ``qhi.py:39-91`` passed on *any* overlap and returned an inverted
    flag). Empty ⇒ FK holds."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return fk_orphans(li, "l_orderkey", orders, "o_orderkey")


@_register(
    "anti_join_no_urgent",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def anti_join_no_urgent(spark, sf_dir):
    """Anti join with a non-trivial result: customers with no URGENT
    order (SURVEY.md §2.3 extension — semi/anti were absent from the
    reference)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return anti_join(
        cust, orders, cust.c_custkey == orders.o_custkey
    ).select("c_custkey", "c_name")


@_register(
    "semi_join_customers_with_orders",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def semi_join_customers_with_orders(spark, sf_dir):
    """Left-semi join + group count."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        semi_join(cust, orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@_register(
    "group_first_per_nation",
    f"""
    SELECT n_name,
           MIN(c_name) AS first_customer,
           COUNT(*) AS n_customers,
           {_dec_avg_sql('c_acctbal', 'avg_acctbal')}
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def group_first_per_nation(spark, sf_dir):
    """A1/A2 group + representative + mean (reference
    ``etl.py:125-127, 208-210``) with ``first`` replaced by MIN —
    deterministic under any partitioning (SURVEY.md §7 risk register)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = equi_join(
        cust, nation, cust.c_nationkey == nation.n_nationkey, broadcast_right=True
    )
    return j.groupBy("n_name").agg(
        F.min("c_name").alias("first_customer"),
        F.count(F.lit(1)).alias("n_customers"),
        _dec_avg("c_acctbal", "avg_acctbal"),
    )


@_register(
    "case_normalized_join",
    f"""
    WITH cust AS (
        SELECT lower(n_name) AS nation_key,
               {_dec_avg_sql('c_acctbal', 'cust_avg_bal')}
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY lower(n_name)
    ), supp AS (
        SELECT upper(n_name) AS nation_key_u,
               {_dec_avg_sql('s_acctbal', 'supp_avg_bal')}
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY upper(n_name)
    )
    SELECT nation_key, cust_avg_bal, supp_avg_bal
    FROM cust LEFT JOIN supp ON nation_key = lower(nation_key_u)
    """,
)
def case_normalized_join(spark, sf_dir):
    """J1 corrected: the reference's country⟕temperature join lower-
    cased one side and UPPER-cased the other (``etl.py:212,218``), so
    zero rows ever matched (verified in its committed output). Here the
    join key is case-normalized on BOTH sides."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    c = (
        equi_join(cust, nation, cust.c_nationkey == nation.n_nationkey, broadcast_right=True)
        .groupBy(F.lower("n_name").alias("nation_key"))
        .agg(_dec_avg("c_acctbal", "cust_avg_bal"))
    )
    s = (
        equi_join(supp, nation, supp.s_nationkey == nation.n_nationkey, broadcast_right=True)
        .groupBy(F.upper("n_name").alias("nation_key_u"))
        .agg(_dec_avg("s_acctbal", "supp_avg_bal"))
    )
    j = equi_join(
        c, s, F.col("nation_key") == F.lower(F.col("nation_key_u")), how="left",
        broadcast_right=True,
    )
    return j.select("nation_key", "cust_avg_bal", "supp_avg_bal")


@_register(
    "dup_witness_flag_status",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS extra_copies
    FROM ((SELECT l_returnflag, l_linestatus FROM lineitem)
          EXCEPT ALL
          (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem))
    GROUP BY l_returnflag, l_linestatus
    """,
)
def dup_witness_flag_status(spark, sf_dir):
    """U1 exceptAll duplicate witness (reference notebook cell 17),
    aggregated to per-key extra-copy counts."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        duplicate_witness(li, ["l_returnflag", "l_linestatus"])
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("extra_copies"))
    )


@_register(
    "date_parts_calendar",
    """
    SELECT DISTINCT CAST(o_orderdate AS DATE) AS cal_date,
           year(o_orderdate) AS year,
           month(o_orderdate) AS month,
           dayofmonth(o_orderdate) AS day,
           dayofweek(o_orderdate) + 1 AS dayofweek,
           weekofyear(o_orderdate) AS weekofyear
    FROM orders
    """,
)
def date_parts_calendar(spark, sf_dir):
    """F2 calendar-dim derivation (reference ``etl.py:243-266``) from a
    true DateType column — no string coercion, no Python UDF.
    Spark dayofweek is 1=Sunday; the oracle shifts DuckDB's 0=Sunday."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        F.to_date(d).alias("cal_date"),
        F.year(d).alias("year"),
        F.month(d).alias("month"),
        F.dayofmonth(d).alias("day"),
        F.dayofweek(d).alias("dayofweek"),
        F.weekofyear(d).alias("weekofyear"),
    ).distinct()


@_register(
    "sas_epoch_roundtrip",
    """
    SELECT o_orderkey,
           CAST(datediff('day', DATE '1960-01-01', CAST(o_orderdate AS DATE))
                AS INTEGER) AS sas_days,
           DATE '1960-01-01'
               + CAST(datediff('day', DATE '1960-01-01', CAST(o_orderdate AS DATE))
                      AS INTEGER) AS roundtrip_date
    FROM orders
    """,
)
def sas_epoch_roundtrip(spark, sf_dir):
    """U1 replacement: SAS epoch-day conversion as pure JVM expressions
    (the reference used a row-at-a-time Python UDF, ``etl.py:255-257``,
    its only Python boundary — and mapped offset 0 to NULL)."""
    orders = load_table(spark, sf_dir, "orders")
    days = date_to_sas_days(F.to_date("o_orderdate"))
    return orders.select(
        "o_orderkey",
        days.alias("sas_days"),
        sas_date_to_date(days).alias("roundtrip_date"),
    )


@_register(
    "qc_table_counts",
    "\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name, COUNT(*) AS row_count FROM {t}"
        for t in TABLES
    ),
)
def qc_table_counts(spark, sf_dir):
    """Q1/A3: non-empty materialization probe over the whole catalog in
    one result (reference ``qhi.data_exists`` printed per-table)."""
    out = None
    for t in TABLES:
        df = (
            load_table(spark, sf_dir, t)
            .agg(F.count(F.lit(1)).alias("row_count"))
            .select(F.lit(t).alias("table_name"), "row_count")
        )
        out = df if out is None else out.unionByName(df)
    return out


# ---------------------------------------------------------------------------
# Extension tier: windows, sorts, set ops, rollup/cube (SURVEY.md §7 Phase 2)
# ---------------------------------------------------------------------------


@_register(
    "window_topk_orders",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          FROM orders)
    WHERE rnk <= 3
    """,
)
def window_topk_orders(spark, sf_dir):
    """W1 ranking window: top-3 orders per customer. Spark plans this
    as a single shuffle + WindowGroupLimit (rank predicate pushed into
    the sort)."""
    orders = load_table(spark, sf_dir, "orders")
    return top_k_per_group(
        orders,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rnk")


@_register(
    "window_lag_delta",
    """
    SELECT o_custkey, o_orderkey,
           o_totalprice - LAG(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS delta
    FROM orders
    """,
)
def window_lag_delta(spark, sf_dir):
    """W1 lag: per-customer order-value delta vs previous order."""
    orders = load_table(spark, sf_dir, "orders")
    return lag_delta(
        orders,
        ["o_custkey"],
        [F.col("o_orderdate"), F.col("o_orderkey")],
        "o_totalprice",
        alias="delta",
    ).select("o_custkey", "o_orderkey", "delta")


@_register(
    "window_rolling_sum",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber,
                        l_extendedprice
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS rolling_price
    FROM lineitem
    """,
)
def window_rolling_sum(spark, sf_dir):
    """W1 rolling frame: 4-row moving revenue per supplier. The frame
    sum runs over DECIMAL so it is exact and order-stable.

    l_extendedprice is part of the ORDER BY deliberately: the driver
    data contains duplicate (l_orderkey, l_linenumber) triples (175 at
    sf0.1), so the business key alone is NOT a total order and a ROWS
    frame would read engine-/partitioning-dependent contents on ties —
    caught by the sf0.1 gate replay (r3; sf0.01 passed on tie-order
    luck). With the price in the key, any remaining ties carry equal
    prices, so every frame's price multiset — and hence the output —
    is deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
        .rowsBetween(-3, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("rolling_price"),
    )


@_register(
    "global_top100_lineitems",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def global_top100_lineitems(spark, sf_dir):
    """O2 global top-k: executes as TakeOrderedAndProject (per-partition
    top-k + k-way driver merge), never a full sort — the property that
    makes ORDER BY/LIMIT viable on 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return global_top_k(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        k=100,
    )


@_register(
    "setops_customer_segments",
    """
    SELECT 'union' AS op, COUNT(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    UNION ALL
    SELECT 'intersect' AS op, COUNT(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    """,
)
def setops_customer_segments(spark, sf_dir):
    """Set ops (absent from the reference; §2.5): distinct union and
    intersect cardinalities of two customer cohorts."""
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    u = (
        union_distinct(a, b)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("union").alias("op"), "n")
    )
    i = (
        intersect_distinct(a, b)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect").alias("op"), "n")
    )
    return u.unionByName(i)


@_register(
    "rollup_priority_status",
    f"""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders,
           {_dec_sum_sql('o_totalprice', 'total_price')}
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def rollup_priority_status(spark, sf_dir):
    """ROLLUP hierarchy totals (priority → status → grand total)."""
    orders = load_table(spark, sf_dir, "orders")
    return rollup_agg(
        orders,
        ["o_orderpriority", "o_orderstatus"],
        {
            "n_orders": "count(1)",
            "total_price": "cast(sum(cast(o_totalprice as decimal(18,2))) as double)",
        },
    )


@_register(
    "cube_flag_status",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_flag_status(spark, sf_dir):
    """CUBE over all grouping combinations."""
    li = load_table(spark, sf_dir, "lineitem")
    return cube_agg(li, ["l_returnflag", "l_linestatus"], {"n": "count(1)"})


# ---------------------------------------------------------------------------
# Streaming-semantics tier (batch-mode F.window; SURVEY.md §2.8)
# ---------------------------------------------------------------------------


@_register(
    "events_tumbling_hourly",
    f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           COUNT(*) AS event_count,
           {_dec_sum_sql('value', 'total_value')}
    FROM events
    GROUP BY 1
    """,
)
def events_tumbling_hourly(spark, sf_dir):
    """Tumbling 1-hour window aggregation — identical code path works
    on a streaming DataFrame with a watermark (streaming/windows.py)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_utc", event_timestamp("ts")
    )
    return tumbling_window_agg(
        ev,
        "ts_utc",
        "1 hour",
        aggs={
            "event_count": "count(1)",
            "total_value": "cast(sum(cast(value as decimal(18,2))) as double)",
        },
    )


@_register(
    "events_sliding_halfhour",
    """
    SELECT CAST(ws AS TIMESTAMP) AS window_start, event_type,
           COUNT(*) AS event_count
    FROM (SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                         time_bucket(INTERVAL '30 minutes', ts)
                             - INTERVAL '30 minutes']) AS ws,
                 event_type
          FROM events)
    GROUP BY 1, 2
    """,
)
def events_sliding_halfhour(spark, sf_dir):
    """Sliding window: 1-hour length, 30-minute slide, keyed by event
    type. Each event lands in exactly 2 panes (the oracle enumerates
    them explicitly)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_utc", event_timestamp("ts")
    )
    return sliding_window_agg(
        ev,
        "ts_utc",
        "1 hour",
        "30 minutes",
        keys=["event_type"],
        aggs={"event_count": "count(1)"},
    )


@_register(
    "events_sessionize",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(1 + SUM(CASE WHEN gap THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
    FROM (SELECT user_id,
                 ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL '30 minutes' AS gap
          FROM events)
    GROUP BY user_id
    """,
)
def events_sessionize(spark, sf_dir):
    """Sessionization (gaps-and-islands): a new session starts after a
    >30-min silence. In true streaming this is a session window /
    applyInPandasWithState; in batch it is lag + conditional count —
    one shuffle on user_id. Microsecond timestamps are compared exactly
    (integer micros under the hood — no float time math)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        (
            F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES")
        ).alias("gap"),
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.lit(1)
            + F.sum(F.when(F.col("gap"), 1).otherwise(0))
        ).cast("bigint").alias("n_sessions"),
    )


# ---------------------------------------------------------------------------
# Training-data tier: text analysis, dedup, similarity (north star)
# ---------------------------------------------------------------------------


@_register(
    "doc_token_stats",
    f"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           length(text) AS n_chars_measured,
           ROUND(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                 / greatest(length(text), 1), 6) AS punct_ratio
    FROM documents
    """,
)
def doc_token_stats(spark, sf_dir):
    """Token counting + punctuation profile per document — whitespace
    tokenizer, JVM-side regex, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        punct_ratio("text").alias("punct_ratio"),
    )


def _stop_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter({_TOKENS_SQL}, t -> list_contains([{words}], t)))"
    )


@_register(
    "doc_quality",
    f"""
    SELECT doc_id,
           ROUND(least(length(text) / 500.0, 1.0)
                 * (1.0 - ROUND(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                                / greatest(length(text), 1), 6)), 6) AS quality,
           ROUND({_stop_sql('en')}
                 / greatest(len({_TOKENS_SQL}), 1), 6) AS en_stopword_ratio
    FROM documents
    """,
)
def doc_quality(spark, sf_dir):
    """Quality scoring: length/punctuation composite + English stopword
    ratio — the standard cheap filters of an LLM data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        quality_score("text").alias("quality"),
        stopword_ratio("text", "en").alias("en_stopword_ratio"),
    )


def _langid_sql() -> str:
    langs = list(STOPWORDS)  # insertion order = argmax tie priority
    scores = {lang: f"s_{lang}" for lang in langs}
    branches = []
    for i, lang in enumerate(langs):
        later = [scores[l] for l in langs[i + 1 :]]
        conds = [f"{scores[lang]} >= {s}" for s in later]
        conds.append(f"{scores[lang]} > 0")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + " ELSE 'und' END"
    score_cols = ", ".join(f"{_stop_sql(lang)} AS s_{lang}" for lang in langs)
    return f"""
    SELECT lang, predicted, COUNT(*) AS n_docs FROM (
        SELECT lang, {case} AS predicted
        FROM (SELECT lang, text, {score_cols} FROM documents))
    GROUP BY lang, predicted
    """


@_register("lang_id_confusion", _langid_sql())
def lang_id_confusion(spark, sf_dir):
    """Heuristic stopword-vote language ID, reported as a confusion
    table against the labeled ``lang`` column."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@_register(
    "doc_fingerprints",
    f"SELECT doc_id, {portable_hash64_sql('text')} AS fingerprint FROM documents",
)
def doc_fingerprints(spark, sf_dir):
    """60-bit engine-portable content fingerprint per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", portable_hash64("text").alias("fingerprint"))


@_register(
    "exact_dedup_docs",
    f"""
    SELECT {portable_hash64_sql('text')} AS fingerprint,
           MIN(doc_id) AS rep_id,
           COUNT(*) AS copies
    FROM documents
    GROUP BY 1
    """,
)
def exact_dedup_docs(spark, sf_dir):
    """Exact dedup: hash-groupBy on the content fingerprint; one
    shuffle on a 60-bit key regardless of document size."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_duplicates(docs, "text", "doc_id")


def _seeds_values_sql(num_hashes: int = 16) -> str:
    from udacity_capstone_data_engineering_spark.operators.dedup import minhash_params

    rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(num_hashes))
    )
    return f"(VALUES {rows}) seeds(seed, a, b)"


_BASE31_SQL = "CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 2147483647"

_MINHASH_ROWS_SQL = f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents),
    base AS (SELECT doc_id, {_BASE31_SQL} AS b31 FROM sh)
    SELECT doc_id, CAST(seed AS INTEGER) AS seed,
           MIN((a * b31 + b) % 2147483647) AS minhash
    FROM base CROSS JOIN {_seeds_values_sql(16)}
    GROUP BY doc_id, seed
"""


@_register("minhash_rows", _MINHASH_ROWS_SQL)
def minhash_rows(spark, sf_dir):
    """MinHash signatures flattened to (doc_id, seed, minhash) rows so
    the oracle comparison is plainly relational. The Spark side computes
    per-row (zero shuffle); the oracle re-derives via unnest+groupBy."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=16, shingle_k=5)
    # posexplode_outer, NOT posexplode: the plain generator implies a
    # (size(signature) > 0 AND signature IS NOT NULL) pruning filter
    # that Catalyst pushes below the projections and the fan-out
    # exchange — re-evaluating the whole tokenize+shingle+md5+fold
    # expression twice more, serially on the pre-exchange scan
    # (measured 18.6 s vs 0.5 s at sf0.1). The outer generator prunes
    # nothing; NULL signatures surface as one null-seed row dropped by
    # a filter on the GENERATED column, which cannot push below the
    # generate. Rows are identical (pinned in test_round11_opt).
    return sigs.select(
        "doc_id", F.posexplode_outer("signature").alias("seed", "minhash")
    ).filter(F.col("seed").isNotNull())


_NEAR_DUP_CTES = f"""sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shset FROM documents),
    mh AS (
        SELECT doc_id, seed, MIN((a * b31 + b) % 2147483647) AS minhash
        FROM (SELECT doc_id, {_BASE31_SQL} AS b31
              FROM (SELECT doc_id, unnest(shset) AS s FROM sh))
        CROSS JOIN {_seeds_values_sql(16)}
        GROUP BY doc_id, seed),
    bk AS (
        SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
               md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS bkey
        FROM mh GROUP BY doc_id, seed // 4),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey
                           AND a.doc_id < b.doc_id),
    jp AS (
        SELECT id_a, id_b,
               ROUND(len(list_intersect(sa.shset, sb.shset))
                     / greatest(len(list_distinct(list_concat(sa.shset, sb.shset))), 1),
                     6) AS jaccard
        FROM pairs
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b)"""

_NEAR_DUP_SQL = f"""
    WITH {_NEAR_DUP_CTES}
    SELECT id_a, id_b, jaccard FROM jp
"""

NEAR_DUP_THRESHOLD = 0.8

_DEDUP_CLUSTERS_SQL = f"""
    WITH RECURSIVE {_NEAR_DUP_CTES},
    good AS (SELECT id_a, id_b FROM jp WHERE jaccard >= {NEAR_DUP_THRESHOLD}),
    bidir AS (SELECT id_a AS a, id_b AS b FROM good
              UNION SELECT id_b, id_a FROM good),
    walk(node, label) AS (
        SELECT a AS node, a AS label FROM bidir
        UNION
        SELECT w.node, e.b AS label FROM walk w JOIN bidir e ON w.label = e.a),
    comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node)
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS component,
           d.doc_id = COALESCE(c.component, d.doc_id) AS is_representative
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""


@_register("near_dup_minhash_lsh", _NEAR_DUP_SQL)
def near_dup_minhash_lsh(spark, sf_dir):
    """Near-duplicate detection: word-5-gram MinHash (16 hashes) → LSH banding
    (4 bands × 4 rows) → candidate pairs from shared buckets → exact
    shingle-Jaccard verification of candidates only.

    Scale path: the corpus is never self-joined — only band buckets
    are, collapsing O(n²) to the sum of bucket sizes squared; AQE
    handles skewed (degenerate) buckets."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=16, shingle_k=5)
    pairs = lsh_candidate_pairs(sigs, "doc_id", bands=4)
    return jaccard_pairs(docs, "text", "doc_id", pairs, shingle_k=5)


def _simhash_sql(bits: int = 32) -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    combine = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(bits)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents),
    h AS (SELECT doc_id,
                 CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS th
          FROM toks),
    votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
    SELECT doc_id, ({combine}) AS simhash FROM votes
    """


@_register("simhash_docs", _simhash_sql())
def simhash_docs(spark, sf_dir):
    """32-bit SimHash via token-hash bit voting; near-dups differ in few
    bits. Explode + groupBy keeps the shuffle at |docs|×32 ints thanks
    to map-side partial aggregation."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return simhash(docs, "text", "doc_id", bits=32)


_COSINE_SQL = """
    list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                             CAST(a.embedding AS DOUBLE[])))
       * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))))
"""


@_register(
    "embedding_cosine_topk",
    f"""
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       ROUND({_COSINE_SQL}, 6) AS cosine
                FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id))
    WHERE rnk <= 5
    """,
)
def embedding_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-5 neighbors — the ANN correctness
    baseline. Vector math is builtin zip_with/aggregate in DOUBLE with
    left-to-right accumulation: bit-identical to the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, "vec_id", "embedding", k=5)


@_register("embedding_lsh_topk", None)  # approximate → rows-only check
def embedding_lsh_topk(spark, sf_dir):
    """ANN scale path: multi-table random-hyperplane LSH (deterministic
    md5-derived hyperplanes; 12 tables, planes and directed-multiprobe
    depth auto-sized to the corpus — ≥0.95 recall@5 at every tested
    size), exact cosine ranking of candidates only.
    Approximate ⇒ no SQL oracle; recall vs brute force is asserted in
    tests (SURVEY.md §7 risk register)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, "vec_id", "embedding", dim=64, k=5)


@_register(
    "multimodal_features",
    # The fake extractor is md5-derived, so the oracle can recompute it
    # exactly: byte i of md5(text) over 255.0. DuckDB parses hex pairs
    # via CAST('0x..' AS INTEGER); both sides do the same IEEE-double
    # division of integers ≤ 255, so values are bit-identical.
    """
    SELECT doc_id,
           CAST(i AS INTEGER) AS feat_idx,
           CAST(('0x' || substring(md5(text), 2 * i + 1, 2)) AS INTEGER) / 255.0
               AS feat_value
    FROM documents, range(4) t(i)
    """,
)
def multimodal_features(spark, sf_dir):
    """Multimodal plumbing: documents' text bytes stand in for opaque
    media payloads (binary column + metadata struct); deterministic
    fake feature extraction runs as Arrow-batched mapInPandas. Decode
    for real codecs is stubbed (operators/multimodal.py) — the
    distributed contract (schema, batching) is what's exercised.

    The array<double> output is posexploded to scalar rows
    (doc_id, feat_idx, feat_value) so the driver's canonicalizer —
    which sorts/hashes a pandas frame and cannot factorize Python
    lists — gets hashable cells (VERDICT r1 'What's wrong' #1)."""
    from udacity_capstone_data_engineering_spark.operators.multimodal import (
        attach_media_metadata,
        extract_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    payloads = attach_media_metadata(payloads, "payload", "text/plain")
    feats = extract_features(payloads, "payload", "doc_id", n_features=4)
    return feats.select(
        "doc_id", F.posexplode("features").alias("feat_idx", "feat_value")
    ).select("doc_id", F.col("feat_idx").cast("int").alias("feat_idx"), "feat_value")


# Every query name that has appeared in an official driver
# CORRECTNESS_r01..r10 sample (the driver takes the FIRST 50 entries
# of queries()). Frozen history — VERDICT r10 #5: 163 of the 215
# catalog rows had never been officially sampled because the first-50
# window never moved; ordering never-sampled rows first rotates the
# official gate through the unseen tail. Extend this set each round
# with the names the new CORRECTNESS record sampled.
_OFFICIALLY_SAMPLED = frozenset(
    """
    anti_join_no_urgent approx_distinct_users asof_join_purchase_view
    case_normalized_join cube_flag_status date_parts_calendar
    dedup_orders_per_customer deterministic_stats distinct_segments
    doc_fingerprints doc_quality doc_token_stats drop_columns_docs
    dup_witness_flag_status embedding_cosine_topk embedding_lsh_topk
    embedding_norms events_sessionize events_sliding_halfhour
    events_tumbling_hourly exact_dedup_docs exact_distinct_users
    fill_nulls_events fk_orphan_lineitems flagship_nation_order_stats
    global_top100_lineitems group_first_per_nation grouping_sets_sql
    json_extract_props lang_id_confusion math_functions
    median_price_per_segment minhash_rows multi_cast
    multimodal_features near_dup_minhash_lsh null_profile_events
    pricing_summary project_rename qc_table_counts
    range_join_events_60s rollup_priority_status salted_skew_agg
    sas_epoch_roundtrip semi_join_customers_with_orders
    setops_customer_segments simhash_docs string_functions token_tfidf
    window_lag_delta window_rolling_sum window_topk_orders
    """.split()
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering (deterministic): oracle-paired entries first (VERDICT
    # r6 #5 — the rows-only-by-design entries must sit past the
    # driver's first-50 correctness window; pinned in
    # tests/test_spec.py), and within the paired group the rows NEVER
    # yet officially sampled come first, in registration order
    # (VERDICT r10 #5 — rotate the official 50-row sample through the
    # catalog tail instead of re-checking the same 50 every round).
    # bench.py orders its own run list, so bench records stay
    # comparable across rounds regardless of this rotation.
    fresh = {
        n: fn
        for n, (fn, sql) in _REGISTRY.items()
        if sql is not None and n not in _OFFICIALLY_SAMPLED
    }
    sampled = {
        n: fn
        for n, (fn, sql) in _REGISTRY.items()
        if sql is not None and n in _OFFICIALLY_SAMPLED
    }
    rows_only = {n: fn for n, (fn, sql) in _REGISTRY.items() if sql is None}
    return {**fresh, **sampled, **rows_only}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


# Phase-2 tier registers into the same registry on import.
from udacity_capstone_data_engineering_spark import queries_phase2  # noqa: E402,F401
from udacity_capstone_data_engineering_spark import queries_phase3  # noqa: E402,F401
from udacity_capstone_data_engineering_spark import queries_phase4  # noqa: E402,F401
from udacity_capstone_data_engineering_spark import queries_phase5  # noqa: E402,F401
from udacity_capstone_data_engineering_spark import queries_phase6  # noqa: E402,F401
from udacity_capstone_data_engineering_spark import queries_phase7  # noqa: E402,F401
from udacity_capstone_data_engineering_spark import queries_phase8  # noqa: E402,F401
from udacity_capstone_data_engineering_spark import queries_phase9  # noqa: E402,F401
from udacity_capstone_data_engineering_spark import queries_phase10  # noqa: E402,F401
from udacity_capstone_data_engineering_spark import queries_phase11  # noqa: E402,F401
from udacity_capstone_data_engineering_spark import queries_phase12  # noqa: E402,F401
from udacity_capstone_data_engineering_spark import queries_phase13  # noqa: E402,F401
from udacity_capstone_data_engineering_spark import queries_phase14  # noqa: E402,F401
from udacity_capstone_data_engineering_spark import queries_phase15  # noqa: E402,F401
from udacity_capstone_data_engineering_spark import queries_phase16  # noqa: E402,F401


@_register("dedup_clusters", _DEDUP_CLUSTERS_SQL)
def dedup_clusters(spark, sf_dir):
    """End-to-end near-dup DEDUP verdict: MinHash-LSH candidates →
    Jaccard ≥ threshold edges → connected components (iterative min-
    label propagation; Pregel-style in DataFrames) → one representative
    per component. The oracle recomputes components with a recursive
    CTE — the fixpoint (min id per component) is engine-independent.

    This is the operator a 100-TB corpus dedup actually ships: pair
    detection scales via LSH buckets, and component propagation joins
    only the (tiny relative to corpus) edge list per round."""
    from udacity_capstone_data_engineering_spark.operators.clusters import dedup_groups
    from udacity_capstone_data_engineering_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=16, shingle_k=5)
    cands = lsh_candidate_pairs(sigs, "doc_id", bands=4)
    edges = jaccard_pairs(docs, "text", "doc_id", cands, shingle_k=5).filter(
        F.col("jaccard") >= NEAR_DUP_THRESHOLD
    )
    return dedup_groups(docs, "doc_id", edges)
