"""Group B — core relational operators (SURVEY.md §2 Group B).

Every query is declarative DataFrame API; Catalyst supplies pushdown,
pruning, join selection and AQE. Aggregates over doubles use the
exact-decimal pattern from registry.dsum so hashes are order-insensitive
(SURVEY.md §7.4). Scale notes per query where the local-corpus shape
would differ at 100 TB.
"""

from __future__ import annotations

import os

from glaciersgee_spark.caches import scoped_value
from glaciersgee_spark.tmpdirs import scratch_dir

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import types as T

from glaciersgee_spark.operators.skew import salted_join, salted_sum_count
from glaciersgee_spark.registry import davg, dsum, query
from glaciersgee_spark.session import conf_window
from glaciersgee_spark.sources import readers, sinks
from glaciersgee_spark.tables import chunked_prefix, fan_out, load_table, local_frame


def _ts(lit: str):
    return F.lit(lit).cast("timestamp_ntz")


# ---------------------------------------------------------------- scans


@query(
    "q_b_scan_parquet",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_quantity >= 48.0 AND l_returnflag <> 'N'
    """,
)
def q_b_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with projection + predicate pushdown.

    tests/test_plans.py asserts both predicates reach PushedFilters and
    ReadSchema is exactly the 4 projected columns — at 100 TB this is
    the difference between reading 4/11 columns of row-groups that
    survive min/max skipping vs a full-table read.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.where((F.col("l_quantity") >= 48.0) & (F.col("l_returnflag") != "N")).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


@query(
    "q_b_scan_json",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def q_b_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source round-trip (manifest-file shape).

    Writes a JSON manifest derived from orders, reads it back with an
    explicit schema (never inferred — inference is a second full scan).
    Restricted to lossless-in-JSON types so the oracle hash-matches.
    """
    orders = load_table(spark, sf_dir, "orders")
    out = scratch_dir(prefix="ggee_json_")
    subset = orders.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    sinks.write_jsonl(subset, out)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    return readers.read_jsonl(spark, out, schema).select(*[f.name for f in schema.fields])


@query(
    "q_b_scan_csv",
    oracle="""
    SELECT c_custkey, c_nationkey, c_mktsegment
    FROM customer WHERE c_custkey % 3 = 0
    """,
)
def q_b_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with explicit schema (| separator, no inference)."""
    cust = load_table(spark, sf_dir, "customer")
    out = scratch_dir(prefix="ggee_csv_")
    sinks.write_csv(
        cust.where(F.col("c_custkey") % 3 == 0).select(
            "c_custkey", F.col("c_nationkey").cast("long"), "c_mktsegment"
        ),
        out,
        sep="|",
    )
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_nationkey", T.LongType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    df = readers.read_csv(spark, out, schema, sep="|")
    return df.withColumn("c_nationkey", F.col("c_nationkey").cast("int"))


@query(
    "q_b_sink_partitioned",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n, {dsum('l_quantity')} AS sum_qty
    FROM lineitem WHERE l_quantity >= 47.0
    GROUP BY l_returnflag
    """,
)
def q_b_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + read-back (partition pruning shape).

    At 100 TB the partition key would be a date/ingest column so static
    + dynamic partition pruning apply; here the round-trip proves the
    sink preserves values exactly (partition column travels through the
    directory encoding).
    """
    li = load_table(spark, sf_dir, "lineitem")
    out = scratch_dir(prefix="ggee_part_")
    sinks.write_parquet_partitioned(
        li.where(F.col("l_quantity") >= 47.0).select("l_returnflag", "l_quantity"),
        out,
        "l_returnflag",
    )
    back = readers.read_parquet(spark, out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(dsum("l_quantity")).alias("sum_qty"),
    )


def _bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write the bucketed lineitem/orders layout once per (app, sf_dir)
    (caches.scoped_value, so clear_caches() makes the next call re-stage)
    and return the catalog table names.

    Bucketing is an INGEST-time cost: the layout is written once and
    every subsequent join on the bucket key reads it shuffle-free.
    Memoizing mirrors that — repeat calls (and repeat bench runs)
    measure the recurring join, not the one-time write."""

    def stage() -> tuple[str, str]:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        o = (
            load_table(spark, sf_dir, "orders")
            .where(F.col("o_totalprice") > 50000.0)
            .select("o_orderkey", "o_orderpriority")
        )
        out = scratch_dir(prefix="ggee_bkt_")
        names = _staged_names(out, ("lineitem", "orders"))
        for df, t, key in ((li, "lineitem", "l_orderkey"), (o, "orders", "o_orderkey")):
            (
                df.write.mode("overwrite")
                .format("parquet")
                .bucketBy(8, key)
                .sortBy(key)
                .option("path", f"{out}/{t}")
                .saveAsTable(names[t])
            )
        return names["lineitem"], names["orders"]

    return scoped_value(spark, sf_dir, "bucketed_pair", stage)


def _staged_names(out: str, tables: tuple[str, ...]) -> dict[str, str]:
    """Catalog table names for a layout staged under scratch dir
    ``out``: the dir's unique name plus the table, so every staging —
    another sf_dir, or a re-stage after clear_caches() — gets names of
    its own."""
    return {t: f"{os.path.basename(out)}_{t}" for t in tables}


@query(
    "q_b_join_bucketed",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n, {dsum('l_quantity')} AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 50000.0
    GROUP BY o_orderpriority
    """,
)
def q_b_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides pre-bucketed (and
    bucket-sorted) on the join key, so the sort-merge join needs ZERO
    exchanges — the scan partitions ARE the join partitions.

    This is the 100 TB recipe for a fact⋈fact join that recurs on the
    same key (lineitem⋈orders on orderkey): pay one bucketed write at
    ingest (memoized per (app, sf_dir) via _bucketed_pair), then every
    subsequent join skips its shuffle entirely.
    tests/test_plans.py asserts the only exchange in this plan is the
    final aggregation's. The merge hint pins SMJ so the demonstration
    doesn't silently degrade to a broadcast at small SF.
    """
    t_li, t_o = _bucketed_pair(spark, sf_dir)
    a = spark.table(t_li)
    b = spark.table(t_o)
    return (
        a.join(b.hint("merge"), a.l_orderkey == b.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(dsum("l_quantity")).alias("sum_qty"),
        )
    )


# ------------------------------------------------------- project / filter


@query(
    "q_b_project",
    oracle="""
    SELECT p_partkey AS part_id,
           upper(p_brand) AS brand_u,
           p_retailprice * 1.1 AS marked_up,
           p_type || '/' || p_brand AS type_brand
    FROM part
    """,
)
def q_b_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection: select / rename / computed columns (per-row double
    math is IEEE-deterministic, so raw doubles hash-match)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("part_id"),
        F.upper("p_brand").alias("brand_u"),
        (F.col("p_retailprice") * 1.1).alias("marked_up"),
        F.concat_ws("/", "p_type", "p_brand").alias("type_brand"),
    )


@query(
    "q_b_filter_complex",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
    FROM orders
    WHERE (o_orderstatus IN ('F', 'P'))
      AND o_totalprice BETWEEN 20000.0 AND 150000.0
      AND (o_orderpriority LIKE '%URGENT' OR o_orderpriority LIKE '2%')
      AND NOT (o_orderkey % 7 = 0)
      AND o_orderdate IS NOT NULL
    """,
)
def q_b_filter_complex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean column algebra: IN / BETWEEN / LIKE / NOT / IS NULL."""
    o = load_table(spark, sf_dir, "orders")
    return o.where(
        F.col("o_orderstatus").isin("F", "P")
        & F.col("o_totalprice").between(20000.0, 150000.0)
        & (F.col("o_orderpriority").like("%URGENT") | F.col("o_orderpriority").like("2%"))
        & ~(F.col("o_orderkey") % 7 == 0)
        & F.col("o_orderdate").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")


# ----------------------------------------------------------------- joins


@query(
    "q_b_join_inner",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderstatus, c.c_mktsegment
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE l.l_quantity >= 45.0
    """,
)
def q_b_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join chain fact→orders→customer.

    Catalyst picks broadcast for customer (small) and AQE may convert
    the orders join too at low SF; at 100 TB orders⋈lineitem becomes a
    sort-merge join on o_orderkey — both sides hash-partition on the
    same key so no extra exchange between the two joins.
    """
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 45.0)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .select("l_orderkey", "l_linenumber", "o_orderstatus", "c_mktsegment")
    )


@query(
    "q_b_join_left",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 250000.0) o
      ON c.c_custkey = o.o_custkey
    """,
)
def q_b_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with guaranteed null-extended rows (the filtered
    right side leaves most customers unmatched)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 250000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "o_orderkey", "o_totalprice"
    )


@query(
    "q_b_join_right",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_mktsegment
    FROM (SELECT * FROM customer WHERE c_acctbal > 5000.0) c
    RIGHT JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE o.o_orderkey % 5 = 0
    """,
)
def q_b_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (null-extension on the customer side)."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 5000.0)
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 5 == 0)
    return c.join(o, c.c_custkey == o.o_custkey, "right").select(
        "o_orderkey", "c_custkey", "c_mktsegment"
    )


@query(
    "q_b_join_full",
    oracle="""
    SELECT COALESCE(a.n_nationkey, b.n_nationkey) AS nationkey,
           a.n_cust, b.n_supp
    FROM (SELECT c_nationkey AS n_nationkey, COUNT(*) AS n_cust
          FROM customer WHERE c_acctbal > 7000.0 GROUP BY c_nationkey) a
    FULL JOIN (SELECT s_nationkey AS n_nationkey, COUNT(*) AS n_supp
          FROM supplier GROUP BY s_nationkey) b
      ON a.n_nationkey = b.n_nationkey
    """,
)
def q_b_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two disjointly-filtered per-nation aggregates."""
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 7000.0)
        .groupBy(F.col("c_nationkey").alias("n_nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("n_nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    joined = c.alias("a").join(
        s.alias("b"), F.col("a.n_nationkey") == F.col("b.n_nationkey"), "full"
    )
    return joined.select(
        F.coalesce(F.col("a.n_nationkey"), F.col("b.n_nationkey")).alias("nationkey"),
        "n_cust",
        "n_supp",
    )


@query(
    "q_b_join_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def q_b_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join — existence, no right columns, no row duplication."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "q_b_join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 100000.0)
    """,
)
def q_b_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join — non-existence."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "q_b_join_broadcast",
    oracle="""
    SELECT r.r_name, COUNT(*) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_b_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join on a tiny dimension.

    tests/test_plans.py asserts BroadcastHashJoin appears — at 100 TB a
    5-row region table must never shuffle the fact side.
    """
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@query(
    "q_b_join_theta",
    oracle="""
    SELECT s.s_suppkey, c.c_custkey
    FROM supplier s JOIN customer c
      ON s.s_nationkey = c.c_nationkey AND c.c_acctbal > s.s_acctbal
    """,
)
def q_b_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi component + non-equi residual.

    The equi conjunct keeps this a hash/sort-merge join with the
    inequality as a post-join residual — NOT a nested-loop cross
    product, which is the scale trap for theta joins.
    """
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    cond = (s.s_nationkey == c.c_nationkey) & (c.c_acctbal > s.s_acctbal)
    return s.join(c, cond, "inner").select("s_suppkey", "c_custkey")


@query(
    "q_b_join_range",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 2 MINUTE
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    """,
)
def q_b_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (interval) self-join: purchases within 2 minutes of a click.

    Equi key (user_id) bounds the blow-up; the band predicate is a
    residual. At 100 TB the stream side would additionally be bucketed
    by time so each partition only meets its neighbors.
    """
    ev = load_table(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").alias("a")
    b = ev.where(F.col("event_type") == "purchase").alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 2 MINUTE"))
    )
    return a.join(b, cond).select(
        F.col("a.event_id").alias("id_a"), F.col("b.event_id").alias("id_b")
    )


@query(
    "q_b_join_asof",
    oracle="""
    SELECT p_id, p_ts, c_id FROM (
      SELECT p.event_id AS p_id, p.ts AS p_ts, c.event_id AS c_id,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND c.ts <= p.ts
    ) WHERE rn = 1
    """,
)
def q_b_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest click at-or-before each purchase, per user.

    Spark has no native ASOF JOIN; the composition is range join +
    per-left-row rank. At 100 TB this is done per user-partition with
    a time-bucketed pre-join to bound the candidate set; event_id
    tie-break makes equal-ts candidates deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").alias("p")
    c = ev.where(F.col("event_type") == "click").alias("c")
    joined = p.join(
        c,
        (F.col("p.user_id") == F.col("c.user_id")) & (F.col("c.ts") <= F.col("p.ts")),
    )
    w = Window.partitionBy(F.col("p.event_id")).orderBy(
        F.col("c.ts").desc(), F.col("c.event_id").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("p.event_id").alias("p_id"),
            F.col("p.ts").alias("p_ts"),
            F.col("c.event_id").alias("c_id"),
        )
    )


@query(
    "q_b_join_cross",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def q_b_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded cartesian product (dims only — never fact×fact)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    s = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s)


# ------------------------------------------------------------ aggregates


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary (scan→filter→agg→sort).

    The spine query: columnar scan with pushed date predicate, 2-key
    hash aggregate (partial+final, map-side combine), tiny sorted
    output. Every aggregate rides the exact-decimal pattern so the
    oracle hash is stable under any partitioning.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Filter + project FIRST so only the 6 needed columns cross the
    # fan_out shuffle; the repartition spreads the 7-way decimal partial
    # aggregate across all cores (no-op on a many-file cluster scan).
    slim = fan_out(
        li.where(F.col("l_shipdate") <= _ts("2000-12-01")).select(
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
        )
    )
    return (
        slim.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(dsum("l_quantity")).alias("sum_qty"),
            F.expr(dsum("l_extendedprice")).alias("sum_base_price"),
            F.expr(dsum("l_extendedprice * (1 - l_discount)")).alias("sum_disc_price"),
            F.expr(dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")).alias(
                "sum_charge"
            ),
            F.expr(davg("l_quantity")).alias("avg_qty"),
            F.expr(davg("l_extendedprice")).alias("avg_price"),
            F.expr(davg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


query(
    "q_b_agg_hash",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum('l_quantity')} AS sum_qty,
           {dsum('l_extendedprice')} AS sum_base_price,
           {dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {davg('l_quantity')} AS avg_qty,
           {davg('l_extendedprice')} AS avg_price,
           {davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)(pricing_summary)


@query(
    "q_b_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS nd_part,
           COUNT(DISTINCT l_suppkey) AS nd_supp,
           CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_d_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_b_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (expand + two-phase agg under the hood)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("nd_part"),
        F.countDistinct("l_suppkey").alias("nd_supp"),
        F.expr(
            "CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)"
        ).alias("sum_d_qty"),
    )


@query(
    "q_b_agg_salted",
    oracle=f"""
    SELECT user_id, {dsum('value')} AS sum_value, COUNT(*) AS n
    FROM events GROUP BY user_id
    """,
)
def q_b_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation via explicit two-phase salting.

    events has 15 user_ids — at cluster scale at most 15 final-stage
    tasks would do ALL the reduction no matter what AQE does. The
    salted spelling (operators.skew) splits each hot key across 32
    deterministic salts for the heavy partial phase, then merges 15·32
    tiny rows. Decimal partials keep the result bit-identical to the
    unsalted oracle under any row order.
    """
    ev = load_table(spark, sf_dir, "events")
    out = salted_sum_count(
        ev.select("user_id", "value", "event_id"),
        ["user_id"],
        {
            "sum_value": F.sum(F.col("value").cast("decimal(30,6)")),
            "n": F.count(F.lit(1)),
        },
        distinct_col="event_id",
        n_salt=32,
    )
    return out.select(
        "user_id",
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("n"),
    )


@query(
    "q_b_join_salted",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS n, {dsum('value')} AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    WHERE c_custkey < 15
    GROUP BY c_mktsegment
    """,
)
def q_b_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe shuffle join via explicit salting (operators.skew).

    events concentrates ALL rows on 15 user_ids: a plain shuffle join
    would land each hot key's entire row set on one reducer (AQE can
    split the partition, but only after materializing the skewed
    shuffle block). salted_join salts the big side 8 ways on a
    high-cardinality column and explodes the small side 8x, so each
    hot key spreads over 8 reducers. The salt is deterministic
    (pmod(xxhash64(event_id), 8)) and algebraically invisible - the
    oracle is the plain join. Decimal partials keep the grouped sum
    bit-identical under any row order. Demo pins a shuffle join
    (broadcast would bypass the skew path entirely at this SF)."""
    ev = load_table(spark, sf_dir, "events")
    dim = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 15)
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    joined = salted_join(
        ev.select("user_id", "value", "event_id"),
        dim.hint("shuffle_hash"),
        on="user_id",
        distinct_col="event_id",
        n_salt=8,
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# q_b_join_skew_aqe (round 9)
# ---------------------------------------------------------------------------

# 75% of events route to nat_key 0; the rest spread over 1..24 — the
# hot-partition shape a tenant/default-route key produces in practice.
# Verbatim in both dialects.
_SKEW_KEY = "CASE WHEN user_id % 4 = 0 THEN user_id % 24 + 1 ELSE 0 END"

# The AQE window q_b_join_skew_aqe executes under: thresholds scaled
# to the test SF (production defaults are 256 MB / 64 MB — the RATIOS
# are what's demonstrated, not the absolute bytes), runtime broadcast
# demotion off so the hinted sort-merge join survives to be split.
_SKEW_AQE_CONFS = {
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def _skew_aqe_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy plan q_b_join_skew_aqe executes inside its conf window
    (module-level so tests/test_plans.py can probe the same plan's
    AQE-final form for the skew=true split).

    The fact side is fan_out FIRST for a mechanically necessary
    reason, probed empirically: AQE splits a skewed reduce partition
    at MAP-OUTPUT BLOCK granularity (contiguous mapper ranges), so a
    shuffle fed by a single map task — which is exactly what a
    one-file parquet scan at test SF produces — is unsplittable and
    the rule silently declines, even under forceOptimizeSkewedJoin.
    At 100 TB the fact scan has thousands of mappers and this never
    arises; at test SF the fan_out stands in for them."""
    ev = fan_out(
        load_table(spark, sf_dir, "events").select(
            F.expr(_SKEW_KEY).cast("long").alias("nat_key"),
            "value",
            "event_id",
        ),
        "event_id",
    ).drop("event_id")
    dim = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    return (
        ev.join(
            dim.hint("merge"),
            ev["nat_key"] == dim["n_nationkey"],
        )
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@query(
    "q_b_join_skew_aqe",
    oracle=f"""
    SELECT n_regionkey, COUNT(*) AS n, {dsum('value')} AS sum_value
    FROM events JOIN nation ON ({_SKEW_KEY}) = n_nationkey
    GROUP BY n_regionkey
    """,
)
def q_b_join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join splitting as the PLATFORM path (round 9, VERDICT
    r8 item 3): the same hot-key problem q_b_join_salted solves by
    hand — 75% of the fact lands on ONE join key, so a plain shuffle
    join puts 75% of the table on one reducer — handled with ZERO
    query rewriting by `spark.sql.adaptive.skewJoin`: at runtime AQE
    reads the map-output statistics, flags the oversized partition
    (size > max(threshold, median × factor)), splits it into
    advisory-sized sub-reads, and duplicates the matching dim
    partition per split. This is the answer a real user reaches for
    FIRST at 100 TB — salting is the fallback for the two shapes AQE
    can't fix (operators/skew.py module doc: aggregation skew, and
    broadcast-bypassed joins).

    Mechanics pinned in tests/test_plans.py: the AQE-final executed
    plan carries `skew=true` on the sort-merge join and more shuffle-
    read tasks than shuffle partitions on the fact side. The conf
    window (thresholds scaled to the test SF; runtime broadcast
    demotion disabled so the hinted SMJ survives) is applied around an
    EAGER execution and restored before returning — session state
    leaks nothing into the rest of the battery (the q_b_cache_table
    hygiene precedent). The returned frame is the ≤5-row regional
    rollup of that execution — a bounded panel by construction.

    Semantics: the split is algebraically invisible (same rows, same
    exact-decimal sums) — the oracle is the PLAIN join, exactly as for
    the salted spelling. A/B vs q_b_join_salted in BASELINE.md."""
    with conf_window(spark, _SKEW_AQE_CONFS):
        df = _skew_aqe_frame(spark, sf_dir)
        rows = df.collect()  # ≤5 regions — bounded panel
    return local_frame(spark, rows, df.schema)


@query(
    "q_b_agg_approx",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_nd_part,
           TRUE AS within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_b_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct (HyperLogLog++).

    The sketch estimate itself is engine-local, so the hashed output is
    the exact companion plus a deterministic accuracy bound: HLL++ at
    rsd=0.01 is deterministic for fixed input (hash-based registers,
    commutative max-merge), and `within_5pct` asserts |approx-exact| ≤
    5%·exact — the oracle emits the exact count and literal TRUE. At
    100 TB the sketch is THE way to count uniques: fixed-size state, no
    Expand shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Two separate aggregations joined on the (tiny) group key: mixing
    # countDistinct with the HLL in one agg forces the Expand-based
    # distinct plan, dragging the sketch over duplicated rows (~3.5×
    # slower measured). Separately, each runs its natural partial+final
    # plan; the join is a 3-row broadcast. NOTE: fanning out a shared
    # slice was measured 2.2× SLOWER here — with two aggregate
    # consumers the repartition exchange is not reused, so the full
    # table shuffles twice; the plain scan partial-aggregates on the
    # scan side and ships only tiny partials.
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_nd_part")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_nd_part")
    )
    return approx.join(F.broadcast(exact), "l_returnflag").select(
        "l_returnflag",
        "exact_nd_part",
        (
            F.abs(F.col("approx_nd_part") - F.col("exact_nd_part"))
            <= 0.05 * F.col("exact_nd_part")
        ).alias("within_5pct"),
    )


@query(
    "q_b_grouping_sets",
    oracle=f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
           COALESCE(l_linestatus, 'ALL') AS lstatus,
           COUNT(*) AS n, {dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_b_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup (grouping-sets family). Corpus keys are never NULL, so
    COALESCE marks subtotal levels unambiguously in both engines.

    Spelled as re-aggregation: the finest grain is computed ONCE over
    the fact (6 partial rows), then rollup() runs on those partials —
    count and decimal-sum re-aggregate exactly. The naive direct
    rollup Expands every input row ×3 grains ahead of the shuffle
    (3× scan width; measured 6.6 s vs 0.2 s at sf0.1) — at 100 TB the
    Expand shape triples shuffle input for identical output."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("pn"),
        F.expr("SUM(CAST(l_extendedprice AS DECIMAL(30,6)))").alias("psum"),
    )
    return (
        base.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("psum").cast("double").alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstatus"),
            "n",
            "sum_price",
        )
    )


@query(
    "q_b_agg_collect",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(event_type)), ',') AS types_all,
           array_to_string(list_sort(list_distinct(list(event_type))), ',')
             AS types_set
    FROM events WHERE event_id % 17 = 0
    GROUP BY user_id
    """,
)
def q_b_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group list/set assembly, sorted for determinism.

    collect_list order is partition-dependent → always sort the result
    array before emitting (unordered collect is banned in this engine).
    Emitted as a ','-joined string: same information, but hashable by
    any downstream canonicalizer that can't digest array cells (the
    driver's pandas hasher crashes on ndarray values).
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 17 == 0)
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_list("event_type")), ",").alias(
            "types_all"
        ),
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "types_set"
        ),
    )


@query(
    "q_b_having",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {dsum('o_totalprice')} AS revenue
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 8 AND {dsum('o_totalprice')} > 500000.0
    """,
)
def q_b_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(dsum("o_totalprice")).alias("revenue"),
    )
    return agg.where((F.col("n_orders") >= 8) & (F.col("revenue") > 500000.0))


# -------------------------------------------------------- sort / limit


@query(
    "q_b_sort",
    oracle="""
    SELECT o_orderkey, nk, o_totalprice,
           ROW_NUMBER() OVER (ORDER BY nk ASC NULLS FIRST,
                              o_totalprice DESC, o_orderkey ASC) AS sort_rank
    FROM (SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS nk, o_totalprice
          FROM orders WHERE o_orderkey % 20 = 0)
    """,
)
def q_b_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit null placement, materialized as a
    global rank WITHOUT a single-partition window (round 4): the rank
    is `tables.chunked_prefix` over the chunk pair (ck, bch). ck is nk
    with NULL mapped to chr(1), which sorts before the single-letter
    statuses (NULLS FIRST) and collides with none; bch is the negated
    price bucket, ascending with the price DESC order, and equal prices
    share a bucket, so no chunk splits a tie. A NULL price gets the
    largest bucket (last, as DESC NULLS LAST). The totals are
    ≤ |statuses|·|price buckets| rows, bounded by the price domain.
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 20 == 0)
        .select(
            "o_orderkey",
            F.nullif("o_orderstatus", F.lit("O")).alias("nk"),
            "o_totalprice",
        )
    )
    chunked = o.select(
        "*",
        F.coalesce(F.col("nk"), F.lit("\x01")).alias("ck"),
        F.coalesce(
            F.expr("-CAST(floor(o_totalprice / 10000.0) AS BIGINT)"),
            F.lit(2**63 - 1),
        ).alias("bch"),
    )
    return chunked_prefix(
        chunked,
        [],
        ["ck", "bch"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        {"sort_rank": None},
    ).select("o_orderkey", "nk", "o_totalprice", "sort_rank")


@query(
    "q_b_limit_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
    """,
)
def q_b_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject — per-partition heaps + k-row
    driver merge, never a full global sort. Tie-break on key keeps the
    returned SET deterministic."""
    o = load_table(spark, sf_dir, "orders")
    return o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc()).limit(25).select(
        "o_orderkey", "o_totalprice"
    )


@query(
    "q_b_topk_pergroup",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def q_b_topk_pergroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranked window + filter (scales: one shuffle
    on the group key). Output is bounded at k per group; under heavy
    group skew the rank window's partition is not AQE-splittable, so
    the skew-proof spelling is per-partition top-k heaps merged per
    group (TakeOrdered-per-key) — same rows."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )


# --------------------------------------------------------------- set ops


@query(
    "q_b_union",
    oracle="""
    SELECT o_orderkey, 'high_value' AS src FROM orders WHERE o_totalprice > 200000.0
    UNION ALL
    SELECT o_orderkey, 'urgent' AS src FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_b_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL by name (rows overlapping on purpose — no dedup)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.where(F.col("o_totalprice") > 200000.0).select(
        "o_orderkey", F.lit("high_value").alias("src")
    )
    b = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.lit("urgent").alias("src")
    )
    return a.unionByName(b)


@query(
    "q_b_intersect_except",
    oracle="""
    SELECT o_custkey, 'both' AS tag FROM (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0)
    UNION ALL
    SELECT o_custkey, 'urgent_only' AS tag FROM (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0)
    """,
)
def q_b_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT + EXCEPT (distinct set semantics), tagged and unioned."""
    o = load_table(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = o.where(F.col("o_totalprice") > 200000.0).select("o_custkey")
    both = urgent.intersect(high).select("o_custkey", F.lit("both").alias("tag"))
    # SQL EXCEPT is distinct-set semantics: dedupe the left side first so
    # exceptAll (multiset) degenerates to exactly that.
    only = urgent.distinct().exceptAll(high.distinct()).select(
        "o_custkey", F.lit("urgent_only").alias("tag")
    )
    return both.unionByName(only)


# ---------------------------------------------------------------- windows


@query(
    "q_b_window_rank",
    oracle="""
    SELECT o_orderkey,
           ROW_NUMBER() OVER w1 AS rn,
           RANK() OVER w2 AS rk,
           DENSE_RANK() OVER w2 AS drk,
           NTILE(4) OVER w1 AS quartile,
           CAST(PERCENT_RANK() OVER w2 AS DOUBLE) AS prk
    FROM orders WHERE o_orderkey % 10 = 0
    WINDOW w1 AS (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey ASC),
           w2 AS (PARTITION BY o_orderpriority ORDER BY o_orderstatus ASC)
    """,
)
def q_b_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window functions. w1 is totally ordered (unique
    tie-break) for row_number/ntile; w2 has real ties so rank vs
    dense_rank vs percent_rank semantics differ and stay deterministic."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 == 0)
    w1 = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    w2 = Window.partitionBy("o_orderpriority").orderBy(F.col("o_orderstatus").asc())
    return o.select(
        "o_orderkey",
        F.row_number().over(w1).alias("rn"),
        F.rank().over(w2).alias("rk"),
        F.dense_rank().over(w2).alias("drk"),
        F.ntile(4).over(w1).alias("quartile"),
        F.percent_rank().over(w2).cast("double").alias("prk"),
    )


@query(
    "q_b_window_analytic",
    oracle="""
    SELECT event_id,
           LAG(value) OVER w AS prev_value,
           LEAD(event_type) OVER w AS next_type,
           FIRST_VALUE(ts) OVER w AS first_ts,
           LAST_VALUE(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING) AS last_ts
    FROM events WHERE event_id % 7 = 0
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_b_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions over a totally-ordered per-user frame."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 7 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("ts").over(w).alias("first_ts"),
        F.last("ts").over(wfull).alias("last_ts"),
    )


@query(
    "q_b_window_frame",
    oracle="""
    SELECT event_id,
           CAST(SUM(CAST(value AS DECIMAL(25,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_sum,
           CAST(SUM(CAST(value AS DECIMAL(25,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS sliding_sum_10,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS n_10
    FROM events WHERE event_id % 3 = 0
    """,
)
def q_b_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running + sliding frames. Window SUM evaluation order differs
    between engines (segment trees vs incremental), so frame sums use
    the exact-decimal pattern too."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 3 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sliding = w.rowsBetween(-9, Window.currentRow)
    dec = F.expr("CAST(value AS DECIMAL(25,6))")
    return ev.select(
        "event_id",
        F.sum(dec).over(running).cast("double").alias("running_sum"),
        F.sum(dec).over(sliding).cast("double").alias("sliding_sum_10"),
        F.count(F.lit(1)).over(sliding).alias("n_10"),
    )


# ------------------------------------------------- subquery / CTE / misc


@query(
    "q_b_subquery",
    oracle=f"""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    JOIN (SELECT o_custkey, {davg('o_totalprice')} AS cust_avg
          FROM orders GROUP BY o_custkey) a
      ON o.o_custkey = a.o_custkey
    WHERE o.o_totalprice > a.cust_avg * 1.5
    """,
)
def q_b_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery semantics (orders 1.5× above their
    customer's mean), authored in decorrelated join+agg form so both
    engines run the identical plan shape."""
    o = load_table(spark, sf_dir, "orders")
    avg_by_cust = o.groupBy("o_custkey").agg(F.expr(davg("o_totalprice")).alias("cust_avg"))
    joined = o.alias("o").join(
        avg_by_cust.alias("a"), F.col("o.o_custkey") == F.col("a.o_custkey")
    )
    return joined.where(F.col("o.o_totalprice") > F.col("a.cust_avg") * 1.5).select(
        "o.o_orderkey", "o.o_custkey", "o.o_totalprice"
    )


@query(
    "q_b_cte_pipeline",
    oracle=f"""
    WITH rev AS (
      SELECT o.o_custkey, {dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey
    ),
    nat AS (
      SELECT c.c_custkey, n.n_name
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT nat.n_name, COUNT(*) AS n_cust, {dsum('rev.revenue')} AS nation_revenue
    FROM rev JOIN nat ON rev.o_custkey = nat.c_custkey
    GROUP BY nat.n_name
    """,
)
def q_b_cte_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stage CTE-shaped pipeline: revenue per customer → nation
    rollup. Second-stage sum re-aggregates first-stage exact doubles —
    the decimal cast re-applies losslessly (6 dp already exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.expr(dsum("l_extendedprice * (1 - l_discount)")).alias("revenue"))
    )
    nat = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select("c_custkey", "n_name")
    return (
        rev.join(nat, rev.o_custkey == nat.c_custkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"), F.expr(dsum("revenue")).alias("nation_revenue"))
    )


@query(
    "q_b_pivot",
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
def q_b_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long→wide with an explicit value list (required at scale:
    implicit pivot runs a distinct scan first)."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    piv = ev.groupBy("user_id").pivot("event_type", kinds).agg(F.count(F.lit(1)))
    return piv.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds]
    )


@query(
    "q_b_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
    FROM lineitem WHERE l_orderkey % 50 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey % 50 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
)
def q_b_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot wide→long (values pass through untouched → raw doubles
    hash-match)."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 50 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "val",
    )


@query(
    "q_b_explode",
    oracle="""
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS val
    FROM embeddings WHERE vec_id % 25 = 0
    """,
)
def q_b_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flatten an array column with element position (1-based to match
    SQL generate_subscripts)."""
    em = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 25 == 0)
    ex = em.select("vec_id", F.posexplode("embedding").alias("pos0", "val"))
    return ex.select(
        "vec_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.col("val").cast("double").alias("val"),
    )


@query(
    "q_b_sample",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE (o_orderkey * 37 + 11) % 97 < 5
    """,
)
def q_b_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keyed sample. df.sample() is banned in declared
    queries (partition-layout-dependent); key arithmetic gives the same
    ~5% subset on any engine, any partitioning."""
    o = load_table(spark, sf_dir, "orders")
    return o.where((F.col("o_orderkey") * 37 + 11) % 97 < 5).select(
        "o_orderkey", "o_totalprice"
    )


@query(
    "q_b_upsert_merge",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey AS k, 'X' AS new_status FROM orders WHERE o_orderkey % 4 = 0
      UNION ALL
      SELECT o_orderkey + 1000000000 AS k, 'N' AS new_status
      FROM orders WHERE o_orderkey % 1000 = 0
    )
    SELECT COALESCE(u.k, t.o_orderkey) AS o_orderkey,
           COALESCE(u.new_status, t.o_orderstatus) AS status,
           CASE WHEN t.o_orderkey IS NULL THEN 'inserted'
                WHEN u.k IS NULL THEN 'kept'
                ELSE 'updated' END AS action
    FROM orders t FULL OUTER JOIN upd u ON t.o_orderkey = u.k
    """,
)
def q_b_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics without a table format: target FULL OUTER
    JOIN updates on the key, COALESCE picking the update's values,
    with the matched/not-matched action surfaced per row — the CDC
    shape a re-run ingest manifest applies (update changed scenes,
    insert new ones, keep the rest).

    At 100 TB the real carrier is a transactional format (Delta/Iceberg
    MERGE INTO compiles to exactly this join); expressed directly, both
    sides shuffle on the key once — or zero times if the target is the
    bucketed table from q_b_join_bucketed's recipe."""
    t = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    o = load_table(spark, sf_dir, "orders")
    upd = (
        o.where(F.col("o_orderkey") % 4 == 0)
        .select(F.col("o_orderkey").alias("k"), F.lit("X").alias("new_status"))
        .unionByName(
            o.where(F.col("o_orderkey") % 1000 == 0).select(
                (F.col("o_orderkey") + 1_000_000_000).alias("k"),
                F.lit("N").alias("new_status"),
            )
        )
    )
    j = t.join(upd, t.o_orderkey == upd.k, "full_outer")
    return j.select(
        F.coalesce(upd.k, t.o_orderkey).alias("o_orderkey"),
        F.coalesce("new_status", "o_orderstatus").alias("status"),
        F.when(t.o_orderkey.isNull(), "inserted")
        .when(upd.k.isNull(), "kept")
        .otherwise("updated")
        .alias("action"),
    )


@query(
    "q_b_window_trailing",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def q_b_window_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time trailing window: per-key aggregates over the last
    hour of *time*, not the last N rows — the rate-limit / rolling-
    telemetry frame. Spark's rangeBetween is numeric, so the order key
    is epoch MICROseconds (the table's full precision — epoch seconds
    truncates sub-second parts and shifts the frame boundary by up to
    1s vs the oracle's true INTERVAL frame; caught by the sf0.1 stress
    parity) and the frame [-3600e6, 0]. Ties on ts enter together in
    both engines (RANGE peers). One shuffle, one ordered pass."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(25,6)")).over(w).cast("double").alias("sum_1h"),
    )


def _dpp_fact_path(spark: SparkSession, sf_dir: str) -> str:
    """Write lineitem partitioned by ship year once per (app, sf_dir)
    — the date-partitioned fact layout SURVEY §4.2 mandates at 100 TB.
    Memoized like _bucketed_pair: partitioning is an ingest-time cost;
    queries measure the pruned read."""

    def stage() -> str:
        out = scratch_dir(prefix="ggee_dpp_")
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_quantity", F.year("l_shipdate").cast("long").alias("ship_year")
        )
        li.write.mode("overwrite").partitionBy("ship_year").parquet(out)
        return out

    return scoped_value(spark, sf_dir, "dpp_fact", stage)


@query(
    "q_b_join_dpp",
    oracle=f"""
    SELECT year(l_shipdate) AS ship_year, COUNT(*) AS n, {dsum('l_quantity')} AS sum_qty
    FROM lineitem
    JOIN (SELECT DISTINCT year(o_orderdate) AS yr FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1999-01-01') d
      ON year(l_shipdate) = d.yr
    GROUP BY 1
    """,
)
def q_b_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact is laid out partitioned by
    ship year (directory-encoded), the dim side is a filtered distinct-
    year table; joining on the partition column lets Spark push the
    dim's year set into the fact scan AT RUNTIME, skipping every
    non-matching partition directory. tests/test_plans.py asserts the
    `dynamicpruning` subquery appears in the fact scan.

    This is THE 100 TB date-range pattern: with a date-partitioned
    fact, a dim-side filter prunes scan I/O proportionally (here 3 of
    ~7 year partitions survive) before a single row is read."""
    fact = readers.read_parquet(spark, _dpp_fact_path(spark, sf_dir))
    dim = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
        )
        .select(F.year("o_orderdate").cast("long").alias("yr"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), fact.ship_year == dim.yr)
        .groupBy("ship_year")
        .agg(F.count(F.lit(1)).alias("n"), F.expr(dsum("l_quantity")).alias("sum_qty"))
        # directory-encoded partition values read back as int; align
        # with the oracle's year()::BIGINT
        .withColumn("ship_year", F.col("ship_year").cast("long"))
    )


@query(
    "q_b_scan_orc",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_acctbal
    FROM supplier
    """,
)
def q_b_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round-trip (the second columnar format the engine
    speaks). Write supplier as ORC, read it back with the declared
    schema; the oracle recomputes from the parquet source — doubles
    survive both footers losslessly, so the hash must match.

    At 100 TB format choice is an ingest decision; the engine treats
    parquet and ORC scans identically (columnar batch read, pushdown,
    pruning — same Catalyst datasource path)."""
    sup = load_table(spark, sf_dir, "supplier")
    out = scratch_dir(prefix="ggee_orc_")
    sinks.write_orc(sup.select("s_suppkey", "s_nationkey", "s_acctbal"), out)
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    )
    return readers.read_orc(spark, out, schema)


# ---------------------------------------------------------------------------
# Round-2 additions: recursive CTE, null-safe join, text-file source
# ---------------------------------------------------------------------------

# One SQL text, run verbatim by BOTH engines (Spark 4.1 ships WITH
# RECURSIVE; DuckDB always had it) — the time-spine densification
# shape: generate every month between the corpus min and max order
# month, left-join monthly order stats, surface gap months explicitly.
# The recursion steps by YEAR (each recursive step is a full Spark
# plan iteration ≈ 0.2 s driver-side, so an O(years) spine beats an
# O(months) one 12×; the 12 in-year months come from a static UNION
# ALL literal that both dialects accept) and the month spine is the
# year-spine × months grid clipped to [lo, hi].
_RCTE_SQL = """
    WITH RECURSIVE bounds AS (
      SELECT MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS lo,
             MAX(year(o_orderdate) * 12 + month(o_orderdate)) AS hi
      FROM orders
    ),
    years(y, hi_y) AS (
      SELECT CAST(floor((lo - 1) / 12.0) AS INT),
             CAST(floor((hi - 1) / 12.0) AS INT)
      FROM bounds
      UNION ALL
      SELECT y + 1, hi_y FROM years WHERE y < hi_y
    ),
    months(mo) AS (
      SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3 UNION ALL SELECT 4
      UNION ALL SELECT 5 UNION ALL SELECT 6 UNION ALL SELECT 7
      UNION ALL SELECT 8 UNION ALL SELECT 9 UNION ALL SELECT 10
      UNION ALL SELECT 11 UNION ALL SELECT 12
    ),
    spine AS (
      SELECT y * 12 + mo AS m
      FROM years, months, bounds
      WHERE y * 12 + mo BETWEEN lo AND hi
    ),
    monthly AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
      FROM orders GROUP BY 1
    )
    SELECT CAST(s.m AS BIGINT) AS month_id,
           CAST(floor((s.m - 1) / 12.0) AS BIGINT) AS yr,
           CAST(s.m - 12 * floor((s.m - 1) / 12.0) AS BIGINT) AS mo,
           CAST(COALESCE(t.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(t.n_custs, 0) AS BIGINT) AS n_custs,
           t.n_orders IS NULL AS is_gap
    FROM spine s LEFT JOIN monthly t ON s.m = t.m
"""


@query("q_b_recursive_cte", oracle=_RCTE_SQL)
def q_b_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, new in Spark 4.1): calendar-spine
    densification — generate the full month range between the corpus
    min/max order month and left-join per-month order stats so gap
    months surface as explicit zero rows (the time-series-completeness
    shape every ingest-cadence dashboard needs).

    The IDENTICAL SQL text runs on both engines (oracle == query), so
    parity is definitional. Scale shape: the recursion generates one
    row per month — O(time range), independent of fact size — while
    the fact-side work is a single map-side-combinable month rollup;
    the spine joins broadcast-small against it.
    """
    from glaciersgee_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RCTE_SQL)


@query(
    "q_b_join_nullsafe",
    oracle="""
    WITH fact AS (
      SELECT event_id,
             CASE WHEN value < 1.0 THEN NULL ELSE event_type END AS k
      FROM events
    ),
    dim AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k FROM fact GROUP BY k)
    SELECT f.k, d.n_k, CAST(COUNT(*) AS BIGINT) AS n_joined
    FROM fact f JOIN dim d ON f.k IS NOT DISTINCT FROM d.k
    GROUP BY f.k, d.n_k
    """,
)
def q_b_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): rows whose
    derived key is NULL still match the dimension's NULL row — the
    semantics a plain equi join silently drops. Spark plans `<=>` as a
    regular hash-join key (EqualNullSafe is hashable), so this stays a
    broadcast/shuffle hash join, NOT a nested-loop — the property that
    matters at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    fact = ev.select(
        "event_id",
        F.when(F.col("value") < 1.0, F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("k"),
    )
    dim = fact.groupBy("k").agg(F.count(F.lit(1)).alias("n_k")).withColumnRenamed(
        "k", "dk"
    )
    return (
        fact.join(F.broadcast(dim), fact["k"].eqNullSafe(dim["dk"]))
        .groupBy("k", "n_k")
        .agg(F.count(F.lit(1)).alias("n_joined"))
    )


@query(
    "q_b_scan_text",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def q_b_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstructured text-file source: write pipe-delimited manifest
    lines with the text sink, read them back with `spark.read.text`
    (one `value` column per line) and parse fields back out with
    split/cast — the log-file-ingest shape. The oracle recomputes from
    the parquet source, so the round-trip (double → Java shortest
    string → double is exact) is what's being verified.
    """
    o = load_table(spark, sf_dir, "orders")
    out = scratch_dir(prefix="ggee_text_")
    lines = o.where(F.col("o_orderkey") % 7 == 0).select(
        F.concat_ws(
            "|",
            F.lit("ORD"),
            F.col("o_orderkey").cast("string"),
            "o_orderstatus",
            F.col("o_totalprice").cast("string"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(out)
    parts = F.split("value", "\\|")
    return spark.read.text(out).select(
        parts.getItem(1).cast("long").alias("o_orderkey"),
        parts.getItem(2).alias("o_orderstatus"),
        parts.getItem(3).cast("double").alias("o_totalprice"),
    )


# One SQL text for both engines (like _RCTE_SQL): correlated LATERAL
# subquery with per-row ORDER BY + LIMIT — the "top-N related rows per
# driving row" shape SQL can't express with a plain join.
_LATERAL_SQL = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 2
    ) t
    WHERE c.c_custkey % 10 = 0
"""


@query("q_b_join_lateral", oracle=_LATERAL_SQL)
def q_b_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: each sampled customer's top-2 orders by
    price, expressed as a per-row correlated subquery with ORDER BY +
    LIMIT. The identical SQL text runs on both engines. Catalyst
    decorrelates this into the windowed rank-filter plan
    (q_b_topk_pergroup's shape) rather than executing per-row — the
    plan property that makes LATERAL usable at 100 TB: one shuffle on
    the correlation key, no nested-loop re-execution per driving row.
    """
    from glaciersgee_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@query(
    "q_b_agg_argmax",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           arg_max(event_id, CAST(round(value * 100) AS BIGINT) * 10000000000
                             + event_id) AS top_event_id,
           arg_min(event_id, CAST(round(value * 100) AS BIGINT) * 10000000000
                             + event_id) AS bottom_event_id,
           median(value) AS median_value
    FROM events GROUP BY event_type
    """,
)
def q_b_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max / arg-min / median aggregates: the event carrying each
    type's highest (lowest) value, plus the continuous median.

    Determinism: `value` has ties, so the ordering key is the exact
    integer composite round(value·100)·10¹⁰ + event_id (values are
    2-dp by fixture contract, event_id unique) — max_by/arg_max then
    agree bit-for-bit across engines and partition orders, where a
    bare max_by(event_id, value) would be partition-order-dependent.
    Spark's `median` and DuckDB's `median` both interpolate
    (quantile_cont semantics — verified in q_e_text_stats). Single
    map-side-combinable aggregation; max_by carries O(1) state per
    group — the 100 TB-safe way to answer "which row was the max",
    replacing a sort or window over the whole partition.
    """
    ev = load_table(spark, sf_dir, "events")
    key = (
        F.round(F.col("value") * 100).cast("long") * F.lit(10000000000).cast("long")
        + F.col("event_id")
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max_by("event_id", key).alias("top_event_id"),
        F.min_by("event_id", key).alias("bottom_event_id"),
        F.expr("median(value)").alias("median_value"),
    )


@query(
    "q_b_funnel",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, date_trunc('millisecond', ts) AS mts
      FROM events
    ),
    v AS (SELECT user_id, MIN(mts) AS t_view FROM ev
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.mts) AS t_click
          FROM ev e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.mts > v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.mts) AS t_buy
          FROM ev e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.mts > c.t_click
          GROUP BY e.user_id)
    SELECT v.user_id,
           c.user_id IS NOT NULL AS clicked_after_view,
           p.user_id IS NOT NULL AS purchased_after_click
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def q_b_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event funnel: per user, did a click follow the first
    view, and did a purchase follow that first click — the
    conversion-funnel shape of product analytics, expressed as staged
    min-timestamp joins (each stage's anchor is the previous stage's
    first qualifying event).

    Timestamps compare at millisecond grain in BOTH engines
    (SURVEY.md §7.4: the corpus parquet is ns, Spark reads µs — ms
    truncation makes every `>` comparison identical). Each stage is a
    map-side-combinable min-aggregate plus an equi join on user_id;
    all three stages reuse the same shuffle key, so at 100 TB this
    pipelines as three co-partitioned joins, never a window over the
    whole event history.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.date_trunc("millisecond", F.col("ts")).alias("mts"),
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("mts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("mts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("mts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("mts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("mts").alias("t_buy"))
    )
    return (
        v.join(c.select("user_id", F.lit(True).alias("ck")), "user_id", "left")
        .join(p.select("user_id", F.lit(True).alias("pk")), "user_id", "left")
        .select(
            "user_id",
            F.coalesce("ck", F.lit(False)).alias("clicked_after_view"),
            F.coalesce("pk", F.lit(False)).alias("purchased_after_click"),
        )
    )


@query(
    "q_b_scan_corrupt",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 97 = 0) AS BIGINT)
             AS n_corrupt,
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 97 <> 0) AS BIGINT)
             AS n_good,
           {dsum('CASE WHEN o_orderkey % 97 <> 0 THEN o_totalprice END')}
             AS good_total
    FROM orders WHERE o_orderkey % 10 = 1
    """,
)
def q_b_scan_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input handling: a JSON-lines source where some lines
    are corrupt, read in PERMISSIVE mode with a `_corrupt_record`
    column — bad lines surface as a quarantine column instead of
    failing the job (the posture a 100 TB ingest needs: one bad shard
    of a million must not kill the run). Corruption is injected
    deterministically (every key ≡ 0 mod 97), so the oracle recomputes
    the good/corrupt split from the clean source.
    """
    o = load_table(spark, sf_dir, "orders")
    out = scratch_dir(prefix="ggee_corrupt_")
    lines = o.where(F.col("o_orderkey") % 10 == 1).select(
        F.when(
            F.col("o_orderkey") % 97 == 0,
            F.concat(F.lit('{"o_orderkey": '), F.col("o_orderkey").cast("string"),
                     F.lit(', "BROKEN')),
        )
        .otherwise(
            F.to_json(F.struct("o_orderkey", "o_totalprice"))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(out)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return parsed.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(bad, 1)).alias("n_corrupt"),
        F.count(F.when(~bad, 1)).alias("n_good"),
        F.expr(dsum("CASE WHEN _corrupt_record IS NULL THEN o_totalprice END")).alias(
            "good_total"
        ),
    )


@query(
    "q_b_observe",
    oracle=f"""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           {dsum('l_quantity')} AS sum_qty
    FROM lineitem WHERE l_quantity >= 45.0 GROUP BY l_returnflag
    """,
)
def q_b_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed metrics (`df.observe`): the query pipeline carries a
    named CollectMetrics node (row count + exact-decimal quantity sum
    of everything passing the filter) that executes as a side-band
    accumulator during the SAME job — zero extra passes, the
    data-quality-counter pattern a 100 TB ingest attaches to every
    stage. The returned aggregate is the oracle-checked result; the
    metrics surface is asserted via pyspark's Observation helper in
    tests/test_operators.py.
    """
    li = load_table(spark, sf_dir, "lineitem")
    observed = li.where(F.col("l_quantity") >= 45.0).observe(
        "q_b_observe_metrics",
        F.count(F.lit(1)).alias("rows_seen"),
        F.expr(dsum("l_quantity")).alias("qty_seen"),
    )
    return observed.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(dsum("l_quantity")).alias("sum_qty"),
    )


@query(
    "q_b_scan_range",
    oracle="""
    SELECT CAST(g.id AS BIGINT) AS id,
           CAST(g.id % 97 AS BIGINT) AS bucket,
           CAST(g.id * g.id % 1000003 AS BIGINT) AS h
    FROM generate_series(0, 99999, 7) AS g(id)
    """,
)
def q_b_scan_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator source: `spark.range` as a first-class scan — the
    datasource that backs synthetic-data jobs, key-space enumeration
    and backfill drivers. Range scans split into numSlices partitions
    with NO input I/O at all, so they parallelize perfectly; derived
    columns stay in codegen.

    The driver corpus never exercises a table-free plan anywhere
    else — this declares it (oracle: generate_series)."""
    return spark.range(0, 100_000, 7).select(
        F.col("id"),
        (F.col("id") % 97).alias("bucket"),
        (F.col("id") * F.col("id") % 1_000_003).alias("h"),
    )


@query(
    "q_b_scan_xml",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_name
    FROM supplier WHERE s_suppkey % 2 = 0
    """,
)
def q_b_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source round-trip (round 3) — Spark 4 ships the XML data
    source built in (the spark-xml merge): write a supplier extract as
    row-tagged XML, read it back with an explicit schema (never
    inferred). The interchange format B2B/ERP feeds still arrive in;
    same declared-schema discipline as the csv/jsonl scans."""
    sup = load_table(spark, sf_dir, "supplier")
    out = scratch_dir(prefix="ggee_xml_")
    (
        sup.where(F.col("s_suppkey") % 2 == 0)
        .select("s_suppkey", F.col("s_nationkey").cast("long"), "s_name")
        .write.format("xml")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .mode("overwrite")
        .save(out + "/x")
    )
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_nationkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
        ]
    )
    df = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(schema)
        .load(out + "/x")
    )
    return df.select(
        "s_suppkey", F.col("s_nationkey").cast("int"), "s_name"
    )


# Histogram shape: 10 equi-width bins over the account-balance domain
# plus the exact decile (equi-depth) edges — the pair of summaries a
# cost-based optimizer keeps per column.
_HIST_LO, _HIST_HI, _HIST_BINS = -1000.0, 10000.0, 10


@query(
    "q_b_histogram",
    oracle=f"""
    WITH b AS (
      SELECT CAST(least(greatest(
               floor((c_acctbal - {_HIST_LO}) * {_HIST_BINS}
                     / ({_HIST_HI} - {_HIST_LO})), 0), {_HIST_BINS - 1})
             AS BIGINT) AS bin_id,
             c_acctbal
      FROM customer
    ),
    d AS (
      SELECT quantile_cont(c_acctbal,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      FROM customer
    )
    SELECT b.bin_id,
           COUNT(*) AS n_rows,
           round(MIN(b.c_acctbal), 2) AS bin_min,
           round(MAX(b.c_acctbal), 2) AS bin_max,
           round(qs[CAST(least(b.bin_id, 8) AS INTEGER) + 1], 6)
             AS decile_edge
    FROM b CROSS JOIN d
    GROUP BY b.bin_id, d.qs ORDER BY b.bin_id
    """,
)
def q_b_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column histogram pair (round 3): 10 equi-width bins (count +
    actual min/max per bin) alongside the exact equi-depth decile
    edges — the two summaries a cost-based optimizer keeps per column
    (width for range selectivity, depth for skew).

    One scan: the bin id is pure codegen arithmetic feeding a
    combinable groupBy; the decile edges are ONE array-percentile
    aggregate (one sort buffer, not nine — the q_b_quantiles lesson)
    broadcast back as a 1-row cross join."""
    c = load_table(spark, sf_dir, "customer")
    width_bin = F.expr(
        f"CAST(least(greatest(floor((c_acctbal - {_HIST_LO}) * {_HIST_BINS}"
        f" / ({_HIST_HI} - {_HIST_LO})), 0), {_HIST_BINS - 1}) AS BIGINT)"
    )
    b = c.select(width_bin.alias("bin_id"), "c_acctbal")
    d = c.agg(
        F.expr(
            "percentile(c_acctbal, array(0.1, 0.2, 0.3, 0.4, 0.5,"
            " 0.6, 0.7, 0.8, 0.9))"
        ).alias("qs")
    )
    return (
        b.crossJoin(F.broadcast(d))
        .groupBy("bin_id", "qs")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("c_acctbal"), 2).alias("bin_min"),
            F.round(F.max("c_acctbal"), 2).alias("bin_max"),
        )
        .select(
            "bin_id",
            "n_rows",
            "bin_min",
            "bin_max",
            F.round(
                F.col("qs")[F.least(F.col("bin_id"), F.lit(8)).cast("int")], 6
            ).alias("decile_edge"),
        )
        .orderBy("bin_id")
    )


@query(
    "q_b_cube",
    oracle=f"""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
             AS grain,
           COUNT(*) AS n,
           {dsum('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions with the GROUPING() grain marker
    (round 3) — all four grouping sets (detail, each single-dim
    subtotal, grand total) in one statement; completes the
    grouping-sets family next to q_b_grouping_sets' ROLLUP.

    Same re-aggregation discipline: the finest grain is aggregated
    ONCE over the fact (≤15 partial rows), then cube() runs on the
    partials — the naive direct cube Expands every input row ×4
    grains ahead of the shuffle. GROUPING() bits are computed by
    cube() itself and match the oracle's GROUPING() exactly."""
    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("pn"),
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(30,6)))").alias("psum"),
    )
    return (
        base.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("psum").cast("double").alias("sum_price"),
            (
                F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
            ).cast("long").alias("grain"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "grain",
            "n",
            "sum_price",
        )
    )


@query(
    "q_b_agg_bitwise",
    oracle="""
    SELECT l_orderkey % 23 AS grp,
           bit_or(CAST(l_orderkey % 256 AS BIGINT)) AS flags_or,
           bit_and(CAST(l_orderkey % 256 + 256 AS BIGINT)) AS flags_and,
           bit_xor(CAST(l_orderkey % 256 AS BIGINT)) AS flags_xor,
           COUNT(*) AS n
    FROM lineitem WHERE l_orderkey % 331 = 0
    GROUP BY grp ORDER BY grp
    """,
)
def q_b_agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (round 3): BIT_OR / BIT_AND / BIT_XOR
    over derived flag words per group — the union/intersection/parity
    of permission masks and QA bitfields (the aggregate complement of
    q_c_bitwise's scalar ops). All three are O(1)-state, fully
    map-side-combinable, and order-insensitive — the ideal 100 TB
    aggregate shape. Groups are kept SMALL (a %331 key filter; 23 ∤
    331 so the group key stays non-constant under it) because OR/AND
    saturate to all-ones/the-carry-bit over large uniform groups,
    which parity could never falsify."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 331 == 0
    )
    flags = (F.col("l_orderkey") % 256).cast("long")
    return (
        li.groupBy((F.col("l_orderkey") % 23).alias("grp"))
        .agg(
            F.bit_or(flags).alias("flags_or"),
            F.bit_and(flags + 256).alias("flags_and"),
            F.bit_xor(flags).alias("flags_xor"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("grp")
    )


@query(
    "q_b_join_asof_nearest",
    oracle="""
    SELECT p_id, p_ts, c_id, dist_s FROM (
      SELECT p.event_id AS p_id, p.ts AS p_ts, c.event_id AS c_id,
             CAST(abs(epoch_us(c.ts) - epoch_us(p.ts)) // 1000000
                  AS BIGINT) AS dist_s,
             ROW_NUMBER() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC,
                        c.ts ASC, c.event_id ASC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE
                    AND p.ts + INTERVAL 30 MINUTE
    ) WHERE rn = 1
    """,
)
def q_b_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (round 3): for each purchase, the click
    closest in time in EITHER direction within a ±30-minute tolerance
    — pandas merge_asof(direction='nearest') semantics, the variant
    sensor-fusion and feature-store lookups need when the match may
    legitimately trail the probe. q_b_join_asof is the backward-only
    classic.

    The tolerance is load-bearing at scale: it bounds the per-probe
    candidate set so the range join stays an equi-join on user_id
    with a bounded time residual (at 100 TB, add time-bucket keys so
    candidates co-locate). Distance is exact integer µs (no float
    time math); ties break on (earlier ts, event_id)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").alias("p")
    c = ev.where(F.col("event_type") == "click").alias("c")
    joined = p.join(
        c,
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 30 MINUTE"))
        & (F.col("c.ts") <= F.col("p.ts") + F.expr("INTERVAL 30 MINUTE")),
    )
    dist_us = F.abs(
        F.unix_micros(F.col("c.ts").cast("timestamp"))
        - F.unix_micros(F.col("p.ts").cast("timestamp"))
    )
    w = Window.partitionBy(F.col("p.event_id")).orderBy(
        dist_us.asc(), F.col("c.ts").asc(), F.col("c.event_id").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("p.event_id").alias("p_id"),
            F.col("p.ts").alias("p_ts"),
            F.col("c.event_id").alias("c_id"),
            F.expr("abs(unix_micros(CAST(c.ts AS TIMESTAMP))"
                   " - unix_micros(CAST(p.ts AS TIMESTAMP))) div 1000000")
            .cast("long")
            .alias("dist_s"),
        )
    )


@query(
    "q_b_approx_topk",
    oracle="""
    SELECT user_id, n FROM (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ) ORDER BY n DESC, user_id ASC LIMIT 20
    """,
)
def q_b_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k frequent-items sketch
    (round 4): the 20 most active users from ONE bounded-memory
    aggregate — at 100 TB the groupBy(user).count() spelling shuffles
    |users| partial rows per partition, while the sketch carries a
    fixed maxItemsTracked-entry summary per partition and merges.

    Here maxItemsTracked (10^5) exceeds the corpus user cardinality,
    so tracked counts are exact and the output hash-matches the exact
    oracle; on a corpus that overflows the budget the same plan
    degrades gracefully to approximate counts with bounded memory —
    which is the point. The sketch's own top-k tie-breaking is
    engine-internal, so we over-fetch k=200 and re-rank
    deterministically (count desc, user asc) before cutting to 20 —
    ties at the over-fetch boundary would need a single count shared
    by 180+ users to matter.
    """
    ev = load_table(spark, sf_dir, "events")
    sk = ev.agg(F.expr("approx_top_k(user_id, 200, 100000)").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("user_id"), F.col("e.count").alias("n"))
        .orderBy(F.col("n").desc(), F.col("user_id").asc())
        .limit(20)
    )


@query(
    "q_b_window_rankdist",
    oracle="""
    SELECT event_id,
           user_id,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           ntile(4) OVER w AS quartile
    FROM events WHERE event_id % 5 = 0
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    """,
)
def q_b_window_rankdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-analytic window family (round 4): percent_rank,
    cume_dist and ntile quartiles of each user's event values —
    completing the analytic-window surface next to q_b_window_rank's
    row_number/rank/dense_rank and q_b_window_analytic's lag/lead.

    All three are PARTITIONED windows (per-user), so the work is
    shuffle-once and partition-parallel — the scale-safe form of the
    rank family (contrast q_b_sort's global rank, which needs the
    two-phase spelling). percent_rank = (rank−1)/(n−1) and cume_dist
    are exact small-denominator rationals — one IEEE division each,
    bit-identical across engines; ntile's uneven-bucket rule (earlier
    tiles get the remainder) is the same in both."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 5 == 0)
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "q_b_join_bloom",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def q_b_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (round 5) — the runtime-filter idiom
    for the join keys dynamic partition pruning can't reach (o_custkey
    is not a partition column): build a Bloom filter over the FILTERED
    dimension's keys, pre-filter the fact scan with it, then run the
    exact equi-join on the survivors.

    The filter is built as plain DataFrame ops (no optimizer-threshold
    magic): each dim key sets k=2 bit positions xxhash64(key, seed)
    mod 2^16; positions aggregate into a ≤1024-row (word, mask) table
    via bit_or — a fixed 8 KiB regardless of dim size, map-side
    combinable, broadcastable. The fact probes with two broadcast
    joins on the word index + bit tests, so at 100 TB the unmatched
    ~80% of the fact never reaches the join's shuffle — the bloom
    plays the role InjectRuntimeFilter's bloom_filter_agg plays inside
    Catalyst, spelled explicitly. No false negatives by construction,
    so the output is EXACT and the oracle is the plain join: a bloom
    bug that dropped a true match would hash-mismatch. False positives
    only cost shuffle bytes; they are eliminated by the exact join.
    """
    m_bits = 1 << 16  # 1024 words of 64 bits = 8 KiB broadcast
    seeds = (0x51ED, 0xB10C)

    def bitpos(key, seed: int):
        return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(m_bits))

    dim = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    bits = (
        dim.select(
            F.explode(
                F.array(*[bitpos(F.col("c_custkey"), s) for s in seeds])
            ).alias("p")
        )
        .select(
            F.expr("p div 64").alias("bf_w"),
            F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("bf_m"),
        )
        .groupBy("bf_w")
        .agg(F.bit_or("bf_m").alias("bf_m"))
    )
    probe = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    hit = F.lit(True)
    for i, s in enumerate(seeds):
        probe = probe.withColumn(f"p{i}", bitpos(F.col("o_custkey"), s)).join(
            F.broadcast(
                bits.select(
                    F.col("bf_w").alias(f"bf_w{i}"),
                    F.col("bf_m").alias(f"bf_m{i}"),
                )
            ),
            F.expr(f"p{i} div 64") == F.col(f"bf_w{i}"),
            "left",
        )
        bit = F.expr(f"shiftleft(1L, CAST(p{i} % 64 AS INT))")
        hit = hit & (F.col(f"bf_m{i}").bitwiseAND(bit) != 0)
    passed = probe.where(hit).select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    cents = F.expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")
    # no broadcast hint on the exact join: at 100 TB the filtered dim
    # is exactly the side too big to broadcast (that's why the bloom
    # exists) — AQE picks broadcast locally, shuffle at scale
    return (
        passed.join(dim, passed.o_custkey == dim.c_custkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


# Key-sampled join-cardinality estimation (q_b_join_cardest): both
# sides keep a key iff the shared md5 key-hash lands under the rate,
# so a sampled key contributes its COMPLETE c1·c2 pair count and the
# estimator is unbiased per key — skewed keys are measured exactly
# whenever sampled (row-Bernoulli sampling would square-bias them).
_CARD_RATE_PCT = 5
_CARD_KEYHASH = (
    "CAST(concat('0x', substring(md5(concat('jc:', CAST({k} AS VARCHAR))),"
    " 1, 15)) AS BIGINT) % 100"
)
_CARD_KEYHASH_SPARK = (
    "CAST(conv(substring(md5(concat('jc:', CAST({k} AS STRING))),"
    " 1, 15), 16, 10) AS BIGINT) % 100"
)


@query(
    "q_b_join_cardest",
    oracle=f"""
    WITH s AS (
      SELECT COUNT(*) AS n_samp
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE {_CARD_KEYHASH.format(k='o.o_orderkey')} < {_CARD_RATE_PCT}
    ),
    x AS (
      SELECT COUNT(*) AS n_exact
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT CAST(s.n_samp * {100 // _CARD_RATE_PCT} AS BIGINT) AS est_rows,
           CAST(x.n_exact AS BIGINT) AS exact_rows,
           CAST(floor(abs(s.n_samp * {100 // _CARD_RATE_PCT} - x.n_exact)
                / CAST(x.n_exact AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE)
             / 1000000.0 AS rel_err6
    FROM s CROSS JOIN x
    """,
)
def q_b_join_cardest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation by key sampling (round 5) — the
    what-will-this-join-cost probe run BEFORE committing a 100 TB
    shuffle: sample 5% of JOIN KEYS (the same md5 hash gate on both
    sides, so a sampled key keeps ALL its rows on both sides), join
    only the survivors, scale by 1/p. Per-key completeness makes the
    estimate Σ c1·c2 over a key sample — unbiased, and skew keys are
    measured exactly whenever drawn (row-level Bernoulli on each side
    would bias pair counts by p² and miss skew entirely). The hash
    gate evaluates inside the scan stage (before any exchange), so the
    probe shuffles ~p of the real join's rows. The exact join rides along as
    the declared audit companion; rel_err6 is the measured estimator
    error, identical in both engines because both sample the same md5
    keys.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    keep_o = (
        F.expr(_CARD_KEYHASH_SPARK.format(k="o_orderkey")) < _CARD_RATE_PCT
    )
    keep_l = (
        F.expr(_CARD_KEYHASH_SPARK.format(k="l_orderkey")) < _CARD_RATE_PCT
    )
    samp = (
        o.where(keep_o)
        .join(li.where(keep_l), o.o_orderkey == li.l_orderkey)
        .agg(F.count(F.lit(1)).alias("n_samp"))
    )
    exact = o.join(li, o.o_orderkey == li.l_orderkey).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    scale = 100 // _CARD_RATE_PCT
    return (
        samp.crossJoin(F.broadcast(exact))
        .select(
            (F.col("n_samp") * scale).cast("long").alias("est_rows"),
            F.col("n_exact").cast("long").alias("exact_rows"),
            F.expr(
                f"CAST(floor(abs(n_samp * {scale} - n_exact)"
                " / CAST(n_exact AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE)"
                " / 1000000.0"
            ).alias("rel_err6"),
        )
    )


@query(
    "q_b_scan_binary",
    oracle="""
    WITH lines AS (
      SELECT o_orderkey % 4 AS bucket,
             concat('ORD|', CAST(o_orderkey AS VARCHAR), '|',
                    o_orderstatus) AS line,
             o_orderkey
      FROM orders WHERE o_orderkey % 9 = 0
    )
    SELECT bucket,
           CAST(strlen(string_agg(line, chr(10) ORDER BY o_orderkey)
                       || chr(10)) AS BIGINT) AS n_bytes,
           md5(string_agg(line, chr(10) ORDER BY o_orderkey) || chr(10))
             AS content_md5
    FROM lines GROUP BY bucket ORDER BY bucket
    """,
)
def q_b_scan_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source (round 5) — the opaque-artifact ingest path
    the multimodal stack (operators/multimodal.py) assumes: whole
    files arrive as (path, length, content BINARY) rows, exactly how
    image/audio shards enter a training pipeline before any decode
    UDF runs.

    Round-trip: stage 4 deterministic text shards (bucket = key % 4;
    repartition(bucket) puts each bucket in ONE task and
    sortWithinPartitions fixes the line order, so every shard's bytes
    are reproducible), read them back with `format("binaryFile")`,
    and emit per shard the byte length plus the md5 content digest —
    the manifest a multimodal ingest writes for integrity checking.
    The oracle reconstructs each shard's exact bytes from the parquet
    source, so a wrong byte anywhere breaks the digest. At 100 TB
    binaryFile scans parallelize per file and never materialize
    content twice; the digest is computed stream-side per file.
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 9 == 0)
    out = scratch_dir(prefix="ggee_bin_")
    (
        o.select(
            (F.col("o_orderkey") % 4).alias("bucket"),
            F.concat_ws(
                "|",
                F.lit("ORD"),
                F.col("o_orderkey").cast("string"),
                "o_orderstatus",
            ).alias("value"),
            "o_orderkey",
        )
        .repartition("bucket")
        .sortWithinPartitions("o_orderkey")
        .select("bucket", "value")
        .write.mode("overwrite")
        # pin: a session-level default codec would change the bytes
        # the digest manifest is defined over
        .option("compression", "none")
        .partitionBy("bucket")
        .text(out)
    )
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .load(out)
        .select(
            F.regexp_extract("path", r"bucket=(\d+)", 1)
            .cast("long")
            .alias("bucket"),
            F.col("length").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
        .orderBy("bucket")
    )


@query(
    "q_b_scan_pysource",
    oracle="""
    WITH m AS (
      SELECT sid AS scene_id,
             CAST(sid % 36 AS INT) AS tile_x,
             CAST((sid // 36) % 18 AS INT) AS tile_y,
             CAST(sid % 16 AS INT) AS day,
             ((sid * 37) % 1000) / 10.0 AS cloud_pct
      FROM generate_series(0, 399) t(sid)
    )
    SELECT day, COUNT(*) AS n_scenes,
           CAST(SUM(CASE WHEN cloud_pct < 20.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clear,
           round(MIN(cloud_pct), 1) AS min_cloud
    FROM m GROUP BY day ORDER BY day
    """,
)
def q_b_scan_pysource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the PySpark 4 Python Data Source API
    (round 5, sources/pysource.py): register a user-defined batch
    source, scan its 4 declared InputPartitions executor-side, and
    aggregate on top — the protocol for ingesting from systems with no
    built-in source (REST catalogs, instrument feeds). The source is a
    deterministic integer-arithmetic scene-manifest generator, so the
    oracle regenerates the same rows from generate_series; what parity
    verifies is the connector path (schema declaration, partition
    planning, per-partition iteration, type mapping) end to end. At
    100 TB partitions() returns the real split set and each executor
    streams only its shard — same contract as any V2 source.
    """
    from glaciersgee_spark.sources.pysource import SceneManifestDataSource

    # idempotent per session: re-registering replaces the entry
    spark.dataSource.register(SceneManifestDataSource)
    m = spark.read.format("ggee_scene_manifest").load()
    return (
        m.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_scenes"),
            F.sum(F.when(F.col("cloud_pct") < 20.0, 1).otherwise(0))
            .cast("long")
            .alias("n_clear"),
            F.round(F.min("cloud_pct"), 1).alias("min_cloud"),
        )
        .orderBy("day")
    )


@query(
    "q_b_scan_pysource_filters",
    oracle="""
    WITH m AS (
      SELECT sid AS scene_id,
             CAST(sid % 36 AS INT) AS tile_x,
             CAST((sid // 36) % 18 AS INT) AS tile_y,
             CAST(sid % 16 AS INT) AS day,
             ((sid * 37) % 1000) / 10.0 AS cloud_pct
      FROM generate_series(0, 399) t(sid)
    )
    SELECT scene_id, tile_x, tile_y, day, cloud_pct
    FROM m
    WHERE scene_id BETWEEN 105 AND 260
      AND day IN (3, 7, 11)
      AND cloud_pct < 70.0
    ORDER BY scene_id
    """,
)
def q_b_scan_pysource_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python Data Source FILTER PUSHDOWN (round 8, VERDICT r7 item 5
    — Spark 4.1's `DataSourceReader.pushFilters` addition to the
    connector protocol q_b_scan_pysource ships): the same deterministic
    scene manifest behind a reader that ACCEPTS scene_id range and day
    equality/IN predicates (sources/pysource.py
    SceneManifestPushdownReader) and yields everything else back. The
    scene_id BETWEEN bound prunes InputPartitions outright — splits 0
    and 3 are never planned (the task count drops from 4 to 2,
    asserted in tests/test_plans.py), the day IN list is applied at
    row GENERATION inside the surviving splits, and the cloud_pct
    bound is deliberately refused so Spark's post-scan Filter handles
    it — the three-way split (prune / generate-filter / residual)
    every production pushdown negotiation lands on. The difference at
    100 TB: a connector that prunes at the source ships only matching
    shards over the wire; one that doesn't ships everything and
    filters after paying the transfer.

    Requires `spark.sql.python.filterPushdown.enabled` (session.py
    runtime confs — Spark refuses to plan a pushFilters reader without
    it, verified first-hand). Oracle regenerates the manifest and
    applies the identical WHERE, so parity proves the pushdown DROPPED
    nothing and DUPLICATED nothing — the two failure modes of a
    connector filtering upstream of the engine."""
    from glaciersgee_spark.session import ensure_confs
    from glaciersgee_spark.sources.pysource import (
        SceneManifestPushdownDataSource,
    )

    ensure_confs(spark)  # no load_table in this op's path
    spark.dataSource.register(SceneManifestPushdownDataSource)
    m = spark.read.format("ggee_scene_manifest_pushdown").load()
    return m.where(
        F.col("scene_id").between(105, 260)
        & F.col("day").isin(3, 7, 11)
        & (F.col("cloud_pct") < 70.0)
    ).orderBy("scene_id")


# ---------------------------------------------------------------------------
# q_b_skyline (round 5)
# ---------------------------------------------------------------------------


@query(
    "q_b_skyline",
    oracle="""
    SELECT p_partkey, p_retailprice, CAST(p_size AS INTEGER) AS p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY p_retailprice, p_partkey
    """,
)
def q_b_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-frontier (skyline) query: parts not dominated on
    (minimize p_retailprice, maximize p_size) — the multi-criteria
    shortlist shape (cheapest-for-its-size catalog audit).

    The naive spelling is an O(n²) NOT-EXISTS self-join (the oracle
    keeps it as truth). In 2-D the skyline is EXACTLY a prefix-max
    computation — no quadratic stage is needed at all: a part survives
    iff (a) its size equals the max size at its exact price (same-price
    dominance is strict on size only) and (b) its size strictly beats
    the max size over every strictly-cheaper price (cross-price
    dominance is strict on price). Proof: if both hold no dominator
    can exist (any cheaper q has smaller size, any same-price q has
    ≤ size with no strict edge); if either fails the witnessing row
    dominates. The distributed plan: (1) groupBy(price) → MAX(size)
    (combinable, collapses the fact table to the distinct-price frame);
    (2) the strictly-cheaper prefix max via the two-phase chunked
    idiom — per-50-unit price bucket maxima (tiny frame, its global
    window runs over ≤ |price range|/50 rows), broadcast the
    strictly-lower-bucket offsets back, then a *bucket-partitioned*
    running max over in-bucket strictly-cheaper prices (distributed
    window, linear, spill-safe — a price distribution massed into one
    bucket degrades to a sort of that bucket's DISTINCT prices, never
    a broadcast nested loop; this replaced round 5's unguarded
    survivor-set broadcast, VERDICT r5 "What's wrong" #1); (3) equi-
    join the skyline (price, max-size) pairs back to the base rows —
    AQE picks broadcast when the frontier is small, shuffle-hash when
    a degenerate catalog makes it large. The fact scan is touched
    twice (agg + final join) and nothing quadratic ever runs.
    """
    pb = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return skyline_2d(pb).orderBy("p_retailprice", "p_partkey")


def skyline_2d(pb: DataFrame) -> DataFrame:
    """Exact (min p_retailprice, max p_size) skyline of a
    (p_partkey, p_retailprice, p_size) frame via the windowed prefix-
    max plan q_b_skyline documents — exposed separately so the
    property suite can drive adversarial price distributions (e.g.
    everything massed into one bucket) through the SAME plan."""
    g = (
        pb.groupBy("p_retailprice")
        .agg(F.max("p_size").alias("gmax"))
        .withColumn("bkt", F.floor(F.col("p_retailprice") / 50.0))
    )
    bmax = g.groupBy("bkt").agg(F.max("gmax").alias("bmax"))
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bmax.withColumn("off", F.max("bmax").over(wb)).select("bkt", "off")
    wg = (
        Window.partitionBy("bkt")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = (
        g.join(F.broadcast(offsets), "bkt")
        .withColumn("inb", F.max("gmax").over(wg))
        # greatest() ignores NULLs: NULL only for the globally cheapest
        # price (no strictly-cheaper point anywhere) — always survives
        .withColumn("pre", F.greatest("off", "inb"))
    )
    sky = pref.where(
        F.col("pre").isNull() | (F.col("gmax") > F.col("pre"))
    ).select("p_retailprice", "gmax")
    return (
        pb.join(sky, "p_retailprice")
        .where(F.col("p_size") == F.col("gmax"))
        .select("p_partkey", "p_retailprice", F.col("p_size").cast("int"))
    )


# ---------------------------------------------------------------------------
# q_b_join_interval (round 5)
# ---------------------------------------------------------------------------

_IV_EPOCH = "DATE '1992-01-01'"
_IV_W = 7  # grid bucket width, days


@query(
    "q_b_join_interval",
    oracle=f"""
    WITH a AS (
      SELECT o_custkey % 97 AS tenant,
             date_diff('day', {_IV_EPOCH}, CAST(o_orderdate AS DATE)) AS s,
             date_diff('day', {_IV_EPOCH}, CAST(o_orderdate AS DATE))
               + o_orderkey % 14 + 1 AS e
      FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    b AS (
      SELECT l_suppkey % 97 AS tenant,
             date_diff('day', {_IV_EPOCH}, CAST(l_shipdate AS DATE)) AS s,
             date_diff('day', {_IV_EPOCH}, CAST(l_shipdate AS DATE))
               + l_orderkey % 10 + 1 AS e
      FROM lineitem WHERE l_returnflag = 'R' AND l_orderkey % 5 = 0
    )
    SELECT a.tenant AS tenant, COUNT(*) AS n_overlaps,
           CAST(SUM(least(a.e, b.e) - greatest(a.s, b.s) + 1) AS BIGINT)
             AS overlap_days
    FROM a JOIN b ON a.tenant = b.tenant AND a.s <= b.e AND b.s <= a.e
    GROUP BY a.tenant
    ORDER BY tenant
    """,
)
def q_b_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join on a time grid: per-tenant order-activity
    windows (orders side) overlap-joined against shipment windows
    (lineitem side) — both sides corpus-sized, the general two-interval
    overlap the as-of/band joins don't cover.

    The naive plan is an equi-join on tenant with the overlap predicate
    residual — per-tenant quadratic, and with no tenant key at all it
    is the full cartesian. The scale plan is GRID BUCKETING: each
    interval explodes to the 7-day buckets it covers (bounded span ⇒
    ≤ 3-4 rows each), the join runs on (tenant, bucket) — an equi key
    whose per-key cardinality is bounded by activity per tenant-week,
    not per tenant — and each qualifying pair is counted EXACTLY ONCE
    by the responsibility rule bucket == floor(overlap_start / 7)
    (every overlapping pair shares the bucket containing its overlap
    start, and only that bucket emits it — no DISTINCT pass, no
    duplicate shuffle). The oracle keeps the naive spelling, so parity
    proves the grid + responsibility decomposition, not just the
    arithmetic. Sums are exact integers (day units).
    """
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_returnflag") == "R") & (F.col("l_orderkey") % 5 == 0)
    )
    a = o.select(
        (F.col("o_custkey") % 97).alias("tenant"),
        F.datediff(F.to_date("o_orderdate"), F.expr(_IV_EPOCH)).alias("s"),
        (
            F.datediff(F.to_date("o_orderdate"), F.expr(_IV_EPOCH))
            + F.col("o_orderkey") % 14
            + 1
        ).alias("e"),
    )
    b = li.select(
        (F.col("l_suppkey") % 97).alias("tenant"),
        F.datediff(F.to_date("l_shipdate"), F.expr(_IV_EPOCH)).alias("s"),
        (
            F.datediff(F.to_date("l_shipdate"), F.expr(_IV_EPOCH))
            + F.col("l_orderkey") % 10
            + 1
        ).alias("e"),
    )
    grid = F.explode(
        F.sequence(
            F.expr(f"s div {_IV_W}"), F.expr(f"e div {_IV_W}")
        )
    ).alias("bucket")
    ga = a.select("tenant", "s", "e", grid)
    gb = b.select("tenant", "s", "e", grid)
    pair = ga.alias("a").join(
        gb.alias("b"),
        (F.col("a.tenant") == F.col("b.tenant"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e"))
        & (
            F.col("a.bucket")
            == F.expr(f"greatest(a.s, b.s) div {_IV_W}")
        ),
    )
    return (
        pair.groupBy(F.col("a.tenant").alias("tenant"))
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.sum(
                F.least(F.col("a.e"), F.col("b.e"))
                - F.greatest(F.col("a.s"), F.col("b.s"))
                + 1
            ).alias("overlap_days"),
        )
        .orderBy("tenant")
    )


@query(
    "q_b_merge_schema",
    oracle="""
    SELECT CASE WHEN year(o_orderdate) < 1998 THEN 'LEGACY'
                ELSE o_orderpriority END AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def q_b_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan (round 5): two parquet generations of the
    same table — a legacy shard written before `o_orderpriority`
    existed and a current shard that carries it — read back in ONE
    scan with `mergeSchema=true`, the missing column null-filled for
    legacy rows. This is the ingest reality of any long-lived 100 TB
    table: producers add columns over time and the reader must union
    the footer schemas instead of failing or re-writing history.

    Scale: schema merge is a FOOTER-ONLY operation — Spark reads one
    footer per file at planning time, never data pages, so the cost is
    O(files), not O(bytes); the scan itself stays a plain columnar
    read with pushdown intact (the null-fill is a metadata projection,
    not a row transform). The oracle states the same semantics from
    the unsplit source table: rows from the legacy generation get the
    'LEGACY' sentinel that coalescing the null-filled column produces.
    """
    o = load_table(spark, sf_dir, "orders")
    out = scratch_dir(prefix="ggee_evolve_")
    legacy = o.where(F.expr("year(o_orderdate) < 1998")).select(
        "o_orderkey", "o_totalprice"
    )
    current = o.where(F.expr("year(o_orderdate) >= 1998")).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    legacy.write.mode("overwrite").parquet(f"{out}/gen=legacy")
    current.write.mode("overwrite").parquet(f"{out}/gen=current")
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{out}/gen=legacy", f"{out}/gen=current")
    )
    cents = F.expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")
    return (
        merged.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("LEGACY")).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("revenue_cents"),
        )
        .orderBy("priority")
    )


@query(
    "q_b_paginate_keyset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25 OFFSET 50
    """,
)
def q_b_paginate_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination (round 5): page 3 of the price-ranked orders
    WITHOUT an OFFSET scan. OFFSET n forces the engine to produce and
    discard n rows on every page — O(page·n) total work, the classic
    deep-pagination anti-pattern; the keyset form remembers the last
    (price, key) of the previous page and filters PAST it, so every
    page costs one TakeOrdered regardless of depth.

    Two TakeOrdered steps: (1) the previous pages' boundary = row 50
    of the same ordering (per-partition heaps of 50 + a 50-row driver
    merge — never a global sort); (2) the page itself = rows strictly
    after the boundary in (price DESC, key ASC) order, LIMIT 25 —
    again heaps, pre-filtered at the scan by the boundary predicate.
    The oracle states the same page as LIMIT/OFFSET, which is exact
    because the composite key is a total order (no ties to split).
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    prev = o.orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    ).limit(50)
    # boundary = the LAST row of the previous pages: reverse the page
    # ordering and take 1 — a 1-row frame to broadcast
    bound = (
        prev.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").desc())
        .limit(1)
        .select(
            F.col("o_totalprice").alias("bp"), F.col("o_orderkey").alias("bk")
        )
    )
    after = o.join(F.broadcast(bound)).where(
        (F.col("o_totalprice") < F.col("bp"))
        | (
            (F.col("o_totalprice") == F.col("bp"))
            & (F.col("o_orderkey") > F.col("bk"))
        )
    )
    return (
        after.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# q_b_sql_variables (round 7)
# ---------------------------------------------------------------------------


@query(
    "q_b_sql_variables",
    oracle="""
    WITH thr AS (SELECT quantile_cont(o_totalprice, 0.9) AS t FROM orders)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_big,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
           round((SELECT t FROM thr), 6) AS thr6
    FROM orders CROSS JOIN thr
    WHERE o_totalprice > thr.t
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q_b_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables + EXECUTE IMMEDIATE (round 7 — Spark 4's
    scripting-adjacent surface, the parameterized-SQL workflow a BI /
    orchestration layer runs: compute a data-driven constant ONCE,
    bind it by name, reuse it across statements): DECLARE a session
    variable, SET it to the exact 90th-percentile order price via a
    scalar subquery, then EXECUTE IMMEDIATE a parameterized query
    binding the variable with USING — big orders per status, the
    threshold echoed in the result for auditability.

    Scale: the SET VAR runs one exact-percentile aggregate (a single
    sort buffer); the main query is a scan-side predicate + combinable
    groupBy — the variable is a plan-time literal, so the comparison
    is codegen and NOT a join against the threshold. The oracle
    inlines the same subquery (DuckDB has no session variables —
    which is the point: the feature replaces string-splicing)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ggee_sqlvar_o")
    spark.sql("DECLARE OR REPLACE VARIABLE ggee_thr DOUBLE")
    spark.sql(
        "SET VAR ggee_thr = "
        "(SELECT percentile(o_totalprice, 0.9) FROM ggee_sqlvar_o)"
    )
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT o_orderstatus,
                COUNT(*) AS n_big,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
                  AS sum_price,
                round(?, 6) AS thr6
         FROM ggee_sqlvar_o WHERE o_totalprice > ?
         GROUP BY o_orderstatus ORDER BY o_orderstatus'
        USING ggee_thr, ggee_thr
        """
    )


@query(
    "q_b_sql_pipe",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_b_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (round 8 — Spark 4's `|>` operator chain, the
    linear query form ported from GoogleSQL: each stage consumes the
    previous stage's table, so the query reads top-to-bottom the way
    the optimizer actually evaluates it, and appending a stage never
    forces restructuring nested subqueries): a pricing rollup spelled
    as FROM → |> WHERE → |> EXTEND (computed column) → |> AGGREGATE
    … GROUP BY → |> ORDER BY.

    Pipe syntax is PURE SYNTAX — it parses to the same logical plan
    as the standard spelling, so Catalyst's pushdown/pruning work
    unchanged (the shipdate predicate reaches the parquet scan,
    pinned in tests/test_plans.py against the standard-SQL twin).
    The aggregate rides the exact-decimal dsum convention; the oracle
    is the standard-SQL equivalent, which is exactly the claim under
    test: the two spellings are the same query."""
    ensure = load_table(spark, sf_dir, "lineitem")
    ensure.createOrReplaceTempView("ggee_pipe_li")
    return spark.sql(
        """
        FROM ggee_pipe_li
        |> WHERE l_shipdate >= DATE '1996-01-01'
        |> EXTEND l_extendedprice * (1.0 - l_discount) AS disc_price
        |> AGGREGATE COUNT(*) AS n,
                     CAST(SUM(CAST(disc_price AS DECIMAL(30,6))) AS DOUBLE)
                       AS sum_disc_price
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, sum_disc_price
        """
    )


# ---------------------------------------------------------------------------
# q_b_metadata_cols (round 7)
# ---------------------------------------------------------------------------


@query(
    "q_b_metadata_cols",
    oracle="""
    WITH span AS (
      SELECT MIN(CAST(ts AS DATE)) AS lo,
             date_diff('day', MIN(CAST(ts AS DATE)),
                       MAX(CAST(ts AS DATE))) + 1 AS days
      FROM events
    )
    SELECT CAST(least(3, (date_diff('day', span.lo, CAST(ts AS DATE)) * 4)
                        // span.days) AS INT) AS chunk,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events CROSS JOIN span
    GROUP BY 1 ORDER BY chunk
    """,
)
def q_b_metadata_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden `_metadata` file columns (round 7 — the per-file lineage
    surface every lakehouse audit leans on: which FILE did each row
    come from, without a path column materialized in the data): scan
    the day-chunked staged events feed (4 files, one per event-time
    quarter — the same fixture the stream drains consume), group by
    `_metadata.file_name`, and report per-file row and user counts.
    The oracle reproduces the file partitioning from the DATA (the
    _day_chunk date-quarter formula), which is exactly the
    lineage-reconciliation such an audit performs: metadata-derived
    counts must equal data-derived counts or files were dropped or
    double-read.

    Scale: `_metadata` is populated scan-side by the file source (no
    join against a listing); the rollup is one combinable groupBy; at
    a million files the result is |files| rows and the audit shape is
    unchanged. DuckDB integer `//` mirrors Spark's truncating int
    cast (CAST of float ROUNDS in DuckDB — the round-7 trap)."""
    from glaciersgee_spark.streaming.stream import stage_event_chunks

    staged = stage_event_chunks(spark, sf_dir)
    ev = spark.read.schema(
        "user_id long, event_type string, ts timestamp_ntz"
    ).parquet(f"{staged}/events")
    return (
        ev.select(
            F.regexp_extract(F.col("_metadata.file_name"), r"chunk_(\d+)", 1)
            .cast("int")
            .alias("chunk"),
            "user_id",
        )
        .groupBy("chunk")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("chunk")
    )


@query(
    "q_b_join_hinted",
    oracle="""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST(SUM(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS acctbal_cents
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def q_b_join_hinted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-STRATEGY HINT surface (round 8): the same
    customer⋈nation rollup q_b_join_broadcast runs, but with an
    explicit `hint("shuffle_hash")` forcing a ShuffledHashJoin over
    the planner's broadcast choice — the manual-override surface an
    operator reaches for when statistics mislead the optimizer (a
    "small" side that explodes after filters, or a broadcast that
    would OOM the driver at 100 TB dimension sizes). Semantics are
    hint-invariant (identical oracle), and the physical strategy is
    pinned in tests/test_plans.py: ShuffledHashJoin present,
    BroadcastHashJoin absent — proof the hint reached Catalyst, the
    q_b_sql_pipe convention of declaring engine-control surfaces as
    queries.

    Scale note: SHUFFLE_HASH shuffles BOTH sides on the key but
    builds only the hinted side's hash table per partition — the
    right call when the dim is too big to broadcast yet far smaller
    than the fact; the integer-cents SUM keeps the rollup exact."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(
            n.hint("shuffle_hash"),
            c.c_nationkey == n.n_nationkey,
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(
                F.expr("CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)")
            )
            .cast("long")
            .alias("acctbal_cents"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q_b_assoc_rules (round 8)
# ---------------------------------------------------------------------------


@query(
    "q_b_assoc_rules",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    items AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM baskets GROUP BY event_type
    ),
    n AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM baskets
    ),
    pairs AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM baskets a JOIN baskets b
        ON a.user_id = b.user_id AND a.event_type <> b.event_type
      GROUP BY 1, 2
    )
    SELECT p.antecedent, p.consequent, p.n_both,
           CAST(p.n_both * 1000000 // n.n_users AS BIGINT) AS support_ppm,
           CAST(p.n_both * 1000000 // ia.c AS BIGINT) AS confidence_ppm,
           CAST(CAST(p.n_both AS HUGEINT) * n.n_users * 1000000
                // (CAST(ia.c AS HUGEINT) * ic.c) AS BIGINT)
             AS lift_ppm
    FROM pairs p
    JOIN items ia ON ia.event_type = p.antecedent
    JOIN items ic ON ic.event_type = p.consequent
    CROSS JOIN n
    ORDER BY p.antecedent, p.consequent
    """,
)
def q_b_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (support / confidence / lift) over per-user
    event baskets (round 8): the classic market-basket co-occurrence
    mining — for every directed event-type pair a→b, how often users
    who did a also did b, and whether that beats chance (lift > 1e6
    ppm ⇒ positively associated; < 1e6 ⇒ the pair REPELS — e.g. users
    who hit errors don't purchase). The relational-core spelling of
    Apriori's first level, and the behavioral complement to
    q_b_funnel's ORDERED sequence: funnel asks "in this order", rules
    ask "at all, together".

    Exactness: all three metrics are exact integer ppm (truncating
    integer division on positive operands; denominators are item
    supports, structurally > 0 since every pair member IS an item).
    The lift numerator n_both * n_users * 1e6 would overflow BIGINT
    once ~3M+ users share a pair (n_both * n_users > ~9.2e12), so it
    runs in 128-bit intermediates in BOTH engines: DECIMAL(38,0) DIV
    on the Spark side, HUGEINT // on the DuckDB side — both are exact
    truncating division (verified bit-identical on 9e24/63-scale
    inputs; DuckDB's DECIMAL // is NOT usable here, it detours
    through double). Headroom is now ~1e38: safe past any plausible
    user count. Scale: the basket frame is one combinable
    DISTINCT; the self-join key is user_id, so per-user fan-out is
    bounded by the event-type VOCABULARY squared (|types|² pairs/user,
    never O(events²)); item counts and the user total ride broadcast
    joins onto the |types|²-row pair frame. At a skewed 100 TB the
    distinct pass is the only shuffle that sees corpus-sized data, and
    it combines map-side."""
    e = load_table(spark, sf_dir, "events")
    baskets = e.select("user_id", "event_type").distinct()
    items = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n = baskets.agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    ia = items.select(
        F.col("event_type").alias("antecedent"), F.col("c").alias("c_a")
    )
    ic = items.select(
        F.col("event_type").alias("consequent"), F.col("c").alias("c_c")
    )
    return (
        pairs.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .join(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            F.expr("CAST(n_both * 1000000 DIV n_users AS BIGINT)").alias(
                "support_ppm"
            ),
            F.expr("CAST(n_both * 1000000 DIV c_a AS BIGINT)").alias(
                "confidence_ppm"
            ),
            F.expr(
                "CAST(CAST(n_both AS DECIMAL(38,0)) * n_users * 1000000"
                " DIV (CAST(c_a AS DECIMAL(38,0)) * c_c) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy("antecedent", "consequent")
    )


# ---------------------------------------------------------------------------
# q_b_sql_params (round 8)
# ---------------------------------------------------------------------------


@query(
    "q_b_sql_params",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
      AND o_totalprice > 50000.0
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_b_sql_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized spark.sql() with NAMED ARGUMENTS (round 8): the
    Spark 3.4+ injection-safe query API — `:year_start` placeholders
    bound from a Python dict at sql() time, the surface every
    metadata-driven pipeline template uses instead of f-string SQL
    (the values arrive as typed literals, never spliced text, so a
    crawler-supplied string cannot alter the query shape — and
    Catalyst constant-folds them exactly like inline literals:
    pushdown through the parameter is pinned in PLANS.md probes).
    Completes the engine-control family: q_b_sql_variables is
    session-state parameters (DECLARE/SET), this is per-call
    parameters; q_b_sql_pipe covered syntax.

    Exactness: price totals in exact integer cents (the snapshot_diff
    convention). Scale: both parameterized predicates reach the scan
    as pushed filters — parameterization costs nothing at plan
    time."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("ggee_sqlp_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM ggee_sqlp_orders
        WHERE o_orderdate >= CAST(:date_lo AS TIMESTAMP_NTZ)
          AND o_orderdate < CAST(:date_hi AS TIMESTAMP_NTZ)
          AND o_totalprice > :min_price
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        args={
            "date_lo": "1995-01-01",
            "date_hi": "1996-01-01",
            "min_price": 50000.0,
        },
    )


# ---------------------------------------------------------------------------
# q_b_sql_script (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_b_sql_script",
    # The oracle unrolls the SAME bisection as a recursive CTE — each
    # step's branch re-evaluates the count at (lo+hi)/2, so the
    # loop-carried state is identical; IEEE halving and the > compare
    # are bit-exact in both engines, so after 12 iterations both land
    # on the same bracket and the same final threshold/count.
    oracle="""
    WITH RECURSIVE tot AS (SELECT COUNT(*) AS n, COUNT(*) // 4 AS tgt
                           FROM orders),
    it AS (
      SELECT 0 AS k, CAST(0.0 AS DOUBLE) AS lo, CAST(600000.0 AS DOUBLE) AS hi
      UNION ALL
      SELECT k + 1,
             CASE WHEN (SELECT COUNT(*) FROM orders
                        WHERE o_totalprice > (it.lo + it.hi) / 2)
                       > (SELECT tgt FROM tot)
                  THEN (it.lo + it.hi) / 2 ELSE it.lo END,
             CASE WHEN (SELECT COUNT(*) FROM orders
                        WHERE o_totalprice > (it.lo + it.hi) / 2)
                       > (SELECT tgt FROM tot)
                  THEN it.hi ELSE (it.lo + it.hi) / 2 END
      FROM it WHERE k < 12
    ),
    fin AS (SELECT (lo + hi) / 2 AS mid FROM it WHERE k = 12)
    SELECT round(fin.mid, 6) AS threshold6,
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_totalprice > fin.mid) AS BIGINT) AS n_above,
           CAST(tot.tgt AS BIGINT) AS target_n,
           12 AS n_iter
    FROM fin CROSS JOIN tot
    """,
)
def q_b_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING end to end (round 9) — Spark 4.0's procedural
    SQL surface (SPARK-48338, `BEGIN ... END` compound statements:
    DECLARE'd variables, WHILE loops, IF/ELSE branching, SET from
    scalar subqueries), exercised on a computation that is GENUINELY
    procedural: 12 rounds of bisection for the price threshold whose
    exceedance count hits the 25% target — each iteration's bracket
    depends on a data-driven comparison from the previous one, the
    loop-carried dependence that single-statement SQL cannot express
    without recursion. This is the migration surface for warehouse
    stored procedures (the ELT control flow T-SQL/PLSQL shops port to
    Spark), completing the engine-control family: sql_variables is
    session state, sql_params is per-call binding, sql_pipe is
    syntax, THIS is control flow.

    Exactness: the bracket update is IEEE halving + an exact integer
    count compare — bit-identical per iteration in both engines, so
    the oracle's recursive-CTE unrolling of the same 12 steps lands
    on the same final threshold and count. Scale: each iteration is
    one combinable COUNT with a pushed-down predicate over the scan —
    the script is 13 cheap passes, not one expensive one; at 100 TB
    you'd batch the counts per iteration exactly like this (bisection
    needs the loop — quantile sketches answer a different question:
    this finds the threshold for an EXACT count target).

    The scripting conf gates PARSING only; it is set for the sql()
    call and restored immediately (the conf-window hygiene
    precedent)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("ggee_script_orders")
    with conf_window(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE total BIGINT DEFAULT 0;
              DECLARE tgt BIGINT DEFAULT 0;
              DECLARE lo DOUBLE DEFAULT 0.0;
              DECLARE hi DOUBLE DEFAULT 600000.0;
              DECLARE mid DOUBLE DEFAULT 0.0;
              DECLARE cnt BIGINT DEFAULT 0;
              DECLARE k INT DEFAULT 0;
              SET total = (SELECT COUNT(*) FROM ggee_script_orders);
              SET tgt = total DIV 4;
              WHILE k < 12 DO
                SET mid = (lo + hi) / 2;
                SET cnt = (SELECT COUNT(*) FROM ggee_script_orders
                           WHERE o_totalprice > mid);
                IF cnt > tgt THEN
                  SET lo = mid;
                ELSE
                  SET hi = mid;
                END IF;
                SET k = k + 1;
              END WHILE;
              SET mid = (lo + hi) / 2;
              SET cnt = (SELECT COUNT(*) FROM ggee_script_orders
                         WHERE o_totalprice > mid);
              SELECT round(mid, 6) AS threshold6, cnt AS n_above,
                     tgt AS target_n, k AS n_iter;
            END
            """
        )


# ---------------------------------------------------------------------------
# q_b_sink_pywriter (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_b_sink_pywriter",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents,
           4 AS n_shards
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_b_sink_pywriter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python Data Source BATCH WRITER end to end (round 9) — the
    write half of Spark 4's Python DataSource API, completing the
    family (batch read: q_b_scan_pysource; pushdown read:
    q_b_scan_pysource_filters; streaming read: q_d_stream_pysource;
    streaming write: q_d_stream_pysink): the events projection is
    written through a registered custom sink whose executors stage
    one JSONL shard per partition and return picklable commit
    messages, and whose driver-side commit() publishes atomically —
    rename every staged shard, then write the _MANIFEST with shard
    and row totals — only after every task succeeded; abort()
    discards staged shards, so a failed job leaves NOTHING visible
    (underscore-prefixed staging files are invisible to readers by
    Spark's own convention). The read-back aggregate hash-matching
    the batch oracle proves the full round trip: schema → shards →
    commit → manifest → scan.

    Exactness: cents are exact integer half-up cents at WRITE time,
    so the JSON round-trip carries integers only (no float text
    parsing in the loop). The 4-way repartition hashes event_type —
    deterministic shard membership (an empty shard still stages,
    commits, and counts: 4 commit messages regardless of hash
    spread), and the manifest's n_shards rides the result as the
    commit-protocol witness.

    Scale: the same two-phase contract coordinates object-store
    multipart uploads at 100 TB — executors upload parts, the driver
    completes or aborts them; the local rename is the test-scale
    stand-in (documented in sources/sinks.py)."""
    import json
    import os

    from glaciersgee_spark.sources.sinks import JsonlSinkDataSource
    from glaciersgee_spark.tmpdirs import scratch_dir

    try:
        spark.dataSource.register(JsonlSinkDataSource)
    except Exception:
        pass  # already registered on this session
    out = scratch_dir(prefix="ggee_pyw_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("cents"),
    )
    ev.repartition(4, F.col("event_type")).write.format(
        "ggee_jsonl_sink"
    ).mode("append").option("path", out).save()
    man = json.load(open(os.path.join(out, "_MANIFEST.json")))
    back = spark.read.schema("cents long, event_type string").json(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            "event_type",
            "n",
            "cents",
            F.lit(int(man["n_shards"])).cast("int").alias("n_shards"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_b_sql_identifier (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_b_sql_identifier",
    oracle=f"""
    SELECT n_regionkey AS region_key,
           COUNT(*) AS n_nations,
           {dsum('LENGTH(n_name)', scale=0)} AS name_chars
    FROM nation GROUP BY n_regionkey ORDER BY region_key
    """,
)
def q_b_sql_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause (round 9) — Spark 3.4+'s injection-safe
    IDENTIFIER binding: table and column names arrive as PARAMETERS
    (`FROM IDENTIFIER(:tbl)`, `GROUP BY IDENTIFIER(:col)`) and are
    resolved as identifiers, never spliced as text — the last leg of
    the metadata-driven-SQL family (sql_params binds VALUES, this
    binds NAMES; together they make a templated pipeline fully
    injection-safe: a crawler-supplied string can neither alter the
    query shape nor escape into a different table). Identifier
    resolution happens at analysis time, so the resolved plan is
    byte-identical to the hardcoded spelling — pushdown, pruning, and
    the aggregate shape are unchanged.

    Exactness: name lengths sum through the exact-decimal pattern
    at scale 0 (pure integers). Scale: one combinable groupBy over
    the 25-row dim — the surface is the point, the plan is the
    trivial one."""
    n = load_table(spark, sf_dir, "nation")
    n.createOrReplaceTempView("ggee_ident_nation")
    return spark.sql(
        """
        SELECT IDENTIFIER(:key_col) AS region_key,
               COUNT(*) AS n_nations,
               CAST(SUM(CAST((LENGTH(IDENTIFIER(:len_col))) AS DECIMAL(30,0)))
                 AS DOUBLE) AS name_chars
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:key_col)
        ORDER BY region_key
        """,
        args={
            "key_col": "n_regionkey",
            "len_col": "n_name",
            "tbl": "ggee_ident_nation",
        },
    )


# ---------------------------------------------------------------------------
# q_b_groupby_all (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_b_groupby_all",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS ym,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dsum('o_totalprice')} AS sum_price
    FROM orders
    WHERE o_orderdate >= DATE '1997-01-01'
    GROUP BY ALL ORDER BY ALL
    """,
)
def q_b_groupby_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (round 9) — the analysis-time
    sugar both modern engines converged on (Spark 3.4 / DuckDB):
    every non-aggregate select item becomes a grouping key, every
    output column an order key. The point for a templated warehouse
    layer: adding a dimension to the SELECT list is ONE edit, not
    three — and because resolution happens at analysis time the plan
    is byte-identical to the explicit spelling (same combinable
    partial aggregate, same shuffle keys), so the sugar costs
    nothing at 100 TB. Cross-engine date formatting stays exact:
    the month key is string-built from date_format/strftime with an
    explicit pattern, never locale-dependent rendering.

    Scale: one pushed-down date filter + one combinable two-key
    rollup; ORDER BY ALL sorts the |status|×|months| result frame."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("ggee_gba_orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus,
               date_format(o_orderdate, 'yyyy-MM') AS ym,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {dsum('o_totalprice')} AS sum_price
        FROM ggee_gba_orders
        WHERE o_orderdate >= DATE '1997-01-01'
        GROUP BY ALL ORDER BY ALL
        """
    )


# ---------------------------------------------------------------------------
# q_b_transpose (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_b_transpose",
    oracle=f"""
    WITH agg AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n_rows,
             {dsum('l_quantity')} AS sum_qty,
             CAST(MAX(l_linenumber) AS DOUBLE) AS max_line
      FROM lineitem GROUP BY l_returnflag)
    SELECT 'n_rows' AS key,
           MAX(CASE WHEN l_returnflag = 'A' THEN n_rows END) AS flag_a,
           MAX(CASE WHEN l_returnflag = 'N' THEN n_rows END) AS flag_n,
           MAX(CASE WHEN l_returnflag = 'R' THEN n_rows END) AS flag_r
    FROM agg
    UNION ALL
    SELECT 'sum_qty',
           MAX(CASE WHEN l_returnflag = 'A' THEN sum_qty END),
           MAX(CASE WHEN l_returnflag = 'N' THEN sum_qty END),
           MAX(CASE WHEN l_returnflag = 'R' THEN sum_qty END)
    FROM agg
    UNION ALL
    SELECT 'max_line',
           MAX(CASE WHEN l_returnflag = 'A' THEN max_line END),
           MAX(CASE WHEN l_returnflag = 'N' THEN max_line END),
           MAX(CASE WHEN l_returnflag = 'R' THEN max_line END)
    FROM agg
    ORDER BY key
    """,
)
def q_b_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame TRANSPOSE (round 9) — Spark 4.0's df.transpose()
    (SPARK-49032): rows become columns with the first column's
    values as the new header — the metrics-report pivot every BI
    export wants (metrics as rows, segments as columns) without
    hand-writing the conditional-aggregate matrix the oracle spells.
    The contract worth pinning: transpose EXECUTES the child (the
    header needs the key values) and least-common-types the value
    columns — so this op feeds it an already-aggregated K-row frame
    with uniform DOUBLE metrics, never a corpus-sized one; at 100 TB
    the transpose input must always be the small side of a rollup,
    and that contract is the docstring's warning label.

    Exactness: the metric matrix is exact (counts, dsum, max) before
    the transpose touches it; the header values are the three fixed
    returnflags. Scale: one combinable rollup to 3 rows, then a
    constant-size transpose (its internal collect is the 3-row
    header, bounded by construction)."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_rows"),
            F.expr(dsum("l_quantity")).alias("sum_qty"),
            F.max("l_linenumber").cast("double").alias("max_line"),
        )
        .orderBy("l_returnflag")
    )
    return (
        agg.transpose()
        .select(
            "key",
            F.col("A").alias("flag_a"),
            F.col("N").alias("flag_n"),
            F.col("R").alias("flag_r"),
        )
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# q_b_listagg (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_b_listagg",
    oracle="""
    SELECT p_brand,
           string_agg(DISTINCT lpad(CAST(p_size AS VARCHAR), 2, '0'),
                      '|' ORDER BY lpad(CAST(p_size AS VARCHAR), 2, '0'))
             AS sizes,
           CAST(COUNT(DISTINCT p_size) AS BIGINT) AS n_sizes,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM part
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_b_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg (round 9) — SQL:2016's ordered string
    aggregation, shipped in Spark 4.0 as `listagg(expr, delim) WITHIN
    GROUP (ORDER BY ...)` (SPARK-42746) and in DuckDB as
    `string_agg(expr, delim ORDER BY ...)`: the report-column every
    BI export and audit log wants ("which distinct types does this
    brand carry, as one cell"). DISTINCT + an explicit ORDER BY make
    the cell deterministic regardless of row order — an UNORDERED
    listagg is a flaky-diff generator and this op deliberately never
    spells it.

    Scale contract (the docstring warning label, like q_b_transpose):
    listagg buffers the group's values, so the aggregated string must
    be bounded by a small DISTINCT DOMAIN (p_size: 50 values, zero-padded
    so lexicographic ORDER BY is numeric order — and the per-brand
    size SETS genuinely differ, so the cell is a falsifiable probe,
    not a constant; the round-9 constant-column audit caught the
    p_type spelling emitting one identical string for all 25 brands),
    never by group row count — at 100 TB a listagg over raw fact rows
    is an OOM, a listagg over a bounded domain is a constant. The op
    therefore dedups (brand, size) FIRST — a combinable distinct that
    shrinks the fact before any string is built — and feeds listagg
    the already-small domain. (Also load-bearing: Spark 4.1's
    `listagg(DISTINCT x) WITHIN GROUP (ORDER BY x)` path throws a
    ClassCastException in ListAgg.withNewChildrenInternal — probed
    here 2026-08-16 — so the pre-distinct spelling is both the scale
    answer and the working one.) n_parts rides a separate combinable
    count joined back on the 25-row brand dimension."""
    p = load_table(spark, sf_dir, "part")
    p.createOrReplaceTempView("part")
    return spark.sql(
        """
        WITH d AS (SELECT DISTINCT p_brand,
                       lpad(CAST(p_size AS STRING), 2, '0') AS psz
                   FROM part),
        c AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts
              FROM part GROUP BY p_brand)
        SELECT d.p_brand,
               listagg(d.psz, '|')
                 WITHIN GROUP (ORDER BY d.psz) AS sizes,
               CAST(COUNT(*) AS BIGINT) AS n_sizes,
               MAX(c.n_parts) AS n_parts
        FROM d JOIN c ON d.p_brand = c.p_brand
        GROUP BY d.p_brand
        ORDER BY d.p_brand
        """
    )


# ---------------------------------------------------------------------------
# q_b_mode_agg (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_b_mode_agg",
    oracle="""
    WITH pr AS (
      SELECT o_orderstatus, o_orderpriority,
             COUNT(*) AS cnt
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    top_pr AS (
      SELECT o_orderstatus, o_orderpriority AS mode_priority
      FROM (SELECT *, row_number() OVER (
                PARTITION BY o_orderstatus
                ORDER BY cnt DESC, o_orderpriority ASC) AS rn
            FROM pr) WHERE rn = 1
    ),
    dw AS (
      SELECT o_orderstatus, CAST(isodow(o_orderdate) AS INT) AS dow,
             COUNT(*) AS cnt
      FROM orders GROUP BY o_orderstatus, dow
    ),
    top_dw AS (
      SELECT o_orderstatus, dow AS mode_dow
      FROM (SELECT *, row_number() OVER (
                PARTITION BY o_orderstatus
                ORDER BY cnt DESC, dow ASC) AS rn
            FROM dw) WHERE rn = 1
    )
    SELECT s.o_orderstatus, s.n_orders, p.mode_priority, d.mode_dow
    FROM (SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY o_orderstatus) s
    JOIN top_pr p USING (o_orderstatus)
    JOIN top_dw d USING (o_orderstatus)
    ORDER BY s.o_orderstatus
    """,
)
def q_b_mode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE aggregate (round 9) — Spark 3.4's
    `mode(col, deterministic => true)`, which breaks frequency ties
    by returning the SMALLEST value (probed: mode((2,2,1,1), true) =
    1, mode(('b','b','a','a'), true) = 'a'); without the flag the
    result is partition-order-dependent, i.e. a nondeterminism bug
    waiting for a retry to surface it. DuckDB's mode() documents no
    tie order, so the oracle spells the portable equivalent — count
    per (group, value), row_number ORDER BY cnt DESC, value ASC —
    which is also the spelling a pre-3.4 Spark user needs; this op
    pins that the builtin and the portable spelling agree.

    Two modes per status group (most-common priority, most-common
    ISO day-of-week) plus the group size. Scale: mode's state is one
    counter per distinct value — bounded-domain columns only (same
    warning label as listagg); the underlying count rollups are
    map-side combinable and the final pick is per-group constant
    work. dayofweek alignment: Spark's dayofweek() is 1=Sunday, so
    the op uses the ISO spelling (weekday(date)+1 ⟷ isodow) to keep
    both engines on 1=Monday."""
    o = load_table(spark, sf_dir, "orders")
    iso_dow = (F.weekday(F.col("o_orderdate")) + F.lit(1)).cast("int")
    return (
        o.select(
            "o_orderstatus",
            "o_orderpriority",
            iso_dow.alias("dow"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.expr("mode(o_orderpriority, true)").alias("mode_priority"),
            F.expr("mode(dow, true)").alias("mode_dow"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# q_b_cdc_apply (round 9)
# ---------------------------------------------------------------------------

# Deterministic changelog derived from orders: each order row is one
# CDC record for key o_custkey, sequenced by (o_orderdate, o_orderkey);
# the status maps to the op code (O→INSERT/UPSERT, P→UPSERT, F→DELETE).
_CDC_OP = """
CASE o_orderstatus WHEN 'F' THEN 'D' WHEN 'P' THEN 'U' ELSE 'I' END
"""


@query(
    "q_b_cdc_apply",
    oracle=f"""
    WITH log AS (
      SELECT o_custkey AS key,
             {_CDC_OP.strip()} AS op,
             o_orderdate AS seq_ts, o_orderkey AS seq_id,
             o_totalprice AS payload
      FROM orders
    ),
    latest AS (
      SELECT *, row_number() OVER (
               PARTITION BY key ORDER BY seq_ts DESC, seq_id DESC) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS n_versions
      FROM log
    )
    SELECT key, op AS last_op, seq_id AS last_seq_id,
           payload AS current_payload, n_versions
    FROM latest
    WHERE rn = 1 AND op <> 'D'
    ORDER BY key
    """,
)
def q_b_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction (round 9) — the Debezium/Delta CDF
    apply step: a keyed change log (INSERT/UPSERT/DELETE records,
    totally ordered per key by a sequence) collapses to the current
    snapshot — last writer wins, a trailing DELETE erases the key.
    Completes the mutation family: q_b_upsert_merge applies ONE batch
    of changes to a base table, q_b_scd2 keeps EVERY version with
    validity ranges, this op replays an arbitrarily long log into
    the latest state — the shape a streaming CDC sink compacts on
    every checkpoint.

    The changelog is derived deterministically from orders (key =
    o_custkey, seq = (o_orderdate, o_orderkey), op from the status
    code) so both engines replay the identical log. Scale: ONE
    shuffle on key, then a per-key sorted pass (row_number + count
    share the single window partitioning); no self-join against the
    log, no driver state — at 100 TB this is the same plan with more
    partitions. The rn=1 filter is the anti-join-free spelling of
    "latest version"; keys whose last record is a DELETE drop out in
    the same pass."""
    o = load_table(spark, sf_dir, "orders")
    log = o.select(
        F.col("o_custkey").alias("key"),
        F.expr(_CDC_OP.strip()).alias("op"),
        F.col("o_orderdate").alias("seq_ts"),
        F.col("o_orderkey").alias("seq_id"),
        F.col("o_totalprice").alias("payload"),
    )
    w = Window.partitionBy("key").orderBy(
        F.col("seq_ts").desc(), F.col("seq_id").desc()
    )
    latest = log.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("key"))
        .cast("long")
        .alias("n_versions"),
    )
    return (
        latest.where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "key",
            F.col("op").alias("last_op"),
            F.col("seq_id").alias("last_seq_id"),
            F.col("payload").alias("current_payload"),
            "n_versions",
        )
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# q_b_join_cbo (round 9)
# ---------------------------------------------------------------------------

_CBO_CONFS = {
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
}


def _cbo_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """The ANALYZEd lineitem/orders/part catalog tables, staged once per
    (app, sf_dir) like _bucketed_pair: stage once, measure the
    recurring query."""

    def stage() -> tuple[str, str, str]:
        out = scratch_dir(prefix="ggee_cbo_")
        names = _staged_names(out, ("lineitem", "orders", "part"))
        for t, name in names.items():
            (
                load_table(spark, sf_dir, t)
                .write.mode("overwrite")
                .format("parquet")
                .option("path", f"{out}/{t}")
                .saveAsTable(name)
            )
            # Column-level stats on exactly the join/filter columns the
            # reorderer costs — at 100 TB you ANALYZE the handful of keys,
            # not ALL COLUMNS (a full-scan per column).
            cols = {
                "lineitem": "l_orderkey, l_partkey, l_quantity",
                "orders": "o_orderkey",
                "part": "p_partkey, p_size",
            }[t]
            spark.sql(
                f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}"
            )
        return tuple(names.values())

    return scoped_value(spark, sf_dir, "cbo_tables", stage)


@query(
    "q_b_join_cbo",
    oracle="""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(30,6))) AS DOUBLE)
             AS sum_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size = 1
    GROUP BY p.p_brand ORDER BY p.p_brand
    """,
)
def q_b_join_cbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COST-BASED JOIN REORDERING (round 9) — the optimizer surface
    the hint family (q_b_join_hinted), AQE (q_b_join_skew_aqe), and
    DPP (q_b_join_dpp) leave uncovered: with table + column stats
    (ANALYZE TABLE ... FOR COLUMNS) and spark.sql.cbo.joinReorder
    enabled, Catalyst re-orders the join CHAIN by estimated cost —
    the query spells the BAD order (fact⋈orders first, the selective
    p_size=1 part dim last) and the optimizer moves the selective
    join first, shrinking the intermediate by ~50× before the big
    join runs. Probed on this Spark (2026-08-16): reorder=on pins
    lineitem⋈part(p_size=1) inside lineitem⋈orders; reorder=off
    keeps query order — asserted as an A/B on the optimized plan in
    tests/test_plans.py. At 100 TB this is the difference between
    shuffling the full fact and shuffling 2% of it, bought with one
    ANALYZE of three key columns at ingest.

    Conf hygiene: the CBO window wraps an EAGER execution and is
    restored before returning (q_b_join_skew_aqe precedent); the
    returned frame is the ≤25-row brand rollup of that execution.
    Exactness: counts + exact-decimal quantity sums. Stats staging is
    memoized per (app, sf) like the bucketed pair, so repeat runs
    measure the recurring query, not the one-time ANALYZE."""
    t_li, t_o, t_p = _cbo_tables(spark, sf_dir)
    with conf_window(spark, _CBO_CONFS):
        df = spark.sql(
            f"""
            SELECT p.p_brand,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   {dsum('l.l_quantity')} AS sum_qty
            FROM {t_li} l
            JOIN {t_o} o ON l.l_orderkey = o.o_orderkey
            JOIN {t_p} p ON l.l_partkey = p.p_partkey
            WHERE p.p_size = 1
            GROUP BY p.p_brand ORDER BY p.p_brand
            """
        )
        rows = df.collect()  # ≤ |brands| — bounded panel
    return local_frame(spark, rows, df.schema)


# ---------------------------------------------------------------------------
# q_b_money_alloc (round 9)
# ---------------------------------------------------------------------------

# Exact-cents allocation: order_cents split across its line items
# proportional to extended price, largest-remainder method so the
# per-order allocated sum equals the order total TO THE CENT.
_MA_ORDER_CENTS = "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"
_MA_ITEM_CENTS = "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)"


@query(
    "q_b_money_alloc",
    oracle=f"""
    WITH items AS (
      SELECT l.l_orderkey AS k, l.l_linenumber AS ln,
             {_MA_ITEM_CENTS} AS w, {_MA_ORDER_CENTS} AS oc
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    tot AS (
      SELECT *, SUM(w) OVER (PARTITION BY k) AS ww,
             CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n_items
      FROM items),
    based AS (
      SELECT *, oc * w // ww AS base, oc * w % ww AS rem
      FROM tot),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY k
                                ORDER BY rem DESC, ln ASC) AS rk,
             oc - SUM(base) OVER (PARTITION BY k) AS leftover
      FROM based),
    alloc AS (
      SELECT k, n_items, oc, leftover,
             base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS cents
      FROM ranked)
    SELECT CAST(n_items AS BIGINT) AS n_items,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS cents_allocated,
           CAST(SUM(CASE WHEN cents > 0 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_zero_lines,
           CAST(SUM(leftover) // n_items AS BIGINT) AS bump_cents_sum,
           CAST(MIN(oc_ok) AS BOOLEAN) AS all_exact
    FROM (SELECT k, n_items, cents, leftover,
                 SUM(cents) OVER (PARTITION BY k) = MAX(oc) OVER
                   (PARTITION BY k) AS oc_ok,
                 oc
          FROM alloc)
    GROUP BY n_items ORDER BY n_items
    """,
)
def q_b_money_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LARGEST-REMAINDER MONEY ALLOCATION (round 9) — the finance
    kernel every billing/revenue-recognition pipeline hides: split an
    order's total cents across its line items proportional to price
    so that (a) every item gets floor-or-floor+1 of its exact share
    and (b) the per-order sum equals the order total TO THE CENT —
    pro-rata with naive rounding leaks pennies (Σ round(x_i) ≠
    round(Σ x_i)), which at 100 TB of orders is real money and a
    failed audit. Method: base_i = ⌊C·w_i/W⌋, then the C − Σ base
    leftover cents go to the largest remainders C·w_i mod W (ties to
    the lower line number) — Hamilton's apportionment, exact in
    BIGINT throughout (C·w ≈ 1e14 ≪ 2^63).

    The emitted table is the per-order-size audit: for each order
    line-count, how many orders, total cents allocated, and the
    all_exact flag proving Σ alloc = order cents for EVERY order —
    the invariant the method exists to guarantee (asserted TRUE in
    tests over the whole corpus).

    Scale: items join, both windows (order totals, remainder rank),
    and the per-order audit all ride ONE l_orderkey partitioning —
    the join is fact⋈fact co-partitioned, the windows are per-order
    frames bounded by order size (≤7 in TPC-H, never corpus-wide),
    and the final rollup groups by the bounded n_items domain."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln"),
        F.expr(_MA_ITEM_CENTS).alias("w"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr(_MA_ORDER_CENTS).alias("oc"),
    )
    items = li.join(o, "k")
    pk = Window.partitionBy("k")
    tot = items.select(
        "*",
        F.sum("w").over(pk).alias("ww"),
        F.count(F.lit(1)).over(pk).cast("long").alias("n_items"),
    )
    based = tot.selectExpr(
        "*", "oc * w DIV ww AS base", "oc * w % ww AS rem"
    )
    rk_w = Window.partitionBy("k").orderBy(
        F.col("rem").desc(), F.col("ln").asc()
    )
    ranked = based.select(
        "*",
        F.row_number().over(rk_w).alias("rk"),
        (F.col("oc") - F.sum("base").over(pk)).alias("leftover"),
    )
    alloc = ranked.select(
        "k",
        "n_items",
        "oc",
        "leftover",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).alias("cents"),
    )
    audited = alloc.select(
        "k",
        "n_items",
        "cents",
        "leftover",
        "oc",
        (
            F.sum("cents").over(pk) == F.max("oc").over(pk)
        ).alias("oc_ok"),
    )
    return (
        audited.groupBy("n_items")
        .agg(
            F.countDistinct("k").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents_allocated"),
            F.sum(F.when(F.col("cents") > 0, 0).otherwise(1))
            .cast("long")
            .alias("n_zero_lines"),
            # Σ_orders(leftover): each order repeats its leftover on
            # all n_items rows, so the exact per-group total is
            # SUM(leftover) DIV n_items — integer-exact by construction
            # (never the double '/' whose →BIGINT cast rounds
            # differently across engines).
            F.expr(
                "CAST(SUM(leftover) DIV n_items AS BIGINT)"
            ).alias("bump_cents_sum"),
            F.min("oc_ok").alias("all_exact"),
        )
        .select(
            F.col("n_items").cast("long").alias("n_items"),
            "n_orders",
            "cents_allocated",
            "n_zero_lines",
            "bump_cents_sum",
            "all_exact",
        )
        .orderBy("n_items")
    )


# ---------------------------------------------------------------------------
# q_b_data_mask (round 9)
# ---------------------------------------------------------------------------

# Masking policy: names masked char-class-wise (Spark's mask()
# defaults: upper→X, lower→x, digit→n, other kept), keys pseudonymized
# with salted SHA-256 (stable joins without identity), balances
# generalized to $100 buckets, dates to month.
_MASK_SALT = "ggee-mask-v1:"


@query(
    "q_b_data_mask",
    oracle=f"""
    SELECT c_custkey,
           substring(sha256('{_MASK_SALT}' || CAST(c_custkey AS VARCHAR)),
                     1, 16) AS pseud_key,
           regexp_replace(regexp_replace(regexp_replace(
             c_name || '/' || CAST(c_custkey AS VARCHAR),
             '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
             AS name_masked,
           CAST(floor(c_acctbal / 100.0) AS BIGINT) * 100
             AS acctbal_bucket,
           c_mktsegment
    FROM customer WHERE c_custkey % 5 = 0
    ORDER BY c_custkey
    """,
)
def q_b_data_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA MASKING / PSEUDONYMIZATION (round 9) — the governance
    projection between q_e_pii_scrub's regex redaction and
    q_b_purge_audit's deletion: a masked VIEW for analysts who may
    see SHAPE but not VALUES. Three standard techniques in one
    policy: (1) char-class masking via Spark 3.4's mask() builtin
    (upper→X, lower→x, digit→n — length and punctuation survive, so
    format bugs stay debuggable; the oracle pins the builtin against
    the portable 3×regexp_replace spelling, so a DuckDB consumer of
    the masked export sees identical bytes); (2) SALTED-SHA-256
    pseudonymization of the key — deterministic, so masked tables
    still JOIN on pseud_key, but unlinkable to the raw key without
    the salt (the salt is a deploy-time secret; the literal here is
    the test fixture); (3) K-ANONYMIZING GENERALIZATION of the
    balance to $100 buckets (floor, negative-safe) and of nothing
    else — q_e_k_anonymity measures what this projection guarantees.

    Scale: pure scan-side codegen projection — masking at 100 TB is
    exactly as parallel as the scan; no shuffle, no UDF, no state.
    The %5 sample bounds the declared exhibit."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 5 == 0
    )
    return c.select(
        "c_custkey",
        F.substring(
            F.sha2(
                F.concat(
                    F.lit(_MASK_SALT), F.col("c_custkey").cast("string")
                ),
                256,
            ),
            1,
            16,
        ).alias("pseud_key"),
        # name||key: the TPC-H name is one fixed pattern, so masking
        # it alone is a constant (round-9 audit); the appended key
        # varies the digit-run length row-to-row
        F.expr("mask(concat(c_name, '/', CAST(c_custkey AS STRING)))")
        .alias("name_masked"),
        (
            F.floor(F.col("c_acctbal") / 100.0).cast("long") * 100
        ).alias("acctbal_bucket"),
        "c_mktsegment",
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# q_b_match_recognize (round 10) — sequence-pattern detection
# ---------------------------------------------------------------------------


@query(
    "q_b_match_recognize",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, date_trunc('millisecond', ts) AS mts
      FROM events
    ),
    v AS (SELECT user_id, MIN(mts) AS t_view FROM ev
          WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id,
                  MIN(CASE WHEN e.event_type = 'click'
                           THEN e.mts END) AS t_click,
                  MIN(CASE WHEN e.event_type = 'error'
                           THEN e.mts END) AS t_err1
           FROM ev e JOIN v ON e.user_id = v.user_id
           WHERE e.mts > v.t_view
             AND e.event_type IN ('click', 'error')
           GROUP BY e.user_id),
    c AS (SELECT user_id, t_click, t_err1 FROM s2
          WHERE t_click IS NOT NULL
            AND (t_err1 IS NULL OR t_click < t_err1)),
    s3 AS (SELECT e.user_id,
                  MIN(CASE WHEN e.event_type = 'purchase'
                           THEN e.mts END) AS t_buy,
                  MIN(CASE WHEN e.event_type = 'error'
                           THEN e.mts END) AS t_err2
           FROM ev e JOIN c ON e.user_id = c.user_id
           WHERE e.mts > c.t_click
             AND e.event_type IN ('purchase', 'error')
           GROUP BY e.user_id),
    p AS (SELECT user_id FROM s3
          WHERE t_buy IS NOT NULL
            AND (t_err2 IS NULL OR t_buy < t_err2)),
    flags AS (
      SELECT v.user_id,
             s2.user_id IS NOT NULL
               AND s2.t_click IS NOT NULL AS clicked,
             c.user_id IS NOT NULL AS clicked_clean,
             p.user_id IS NOT NULL AS matched
      FROM v LEFT JOIN s2 ON v.user_id = s2.user_id
             LEFT JOIN c ON v.user_id = c.user_id
             LEFT JOIN p ON v.user_id = p.user_id)
    SELECT user_id % 8 AS cohort,
           CAST(COUNT(*) AS BIGINT) AS n_viewers,
           CAST(SUM(CAST(clicked AS INT)) AS BIGINT) AS n_clicked,
           CAST(SUM(CAST(clicked AND NOT clicked_clean AS INT)) AS BIGINT)
             AS n_error_blocked_click,
           CAST(SUM(CAST(matched AS INT)) AS BIGINT) AS n_matched,
           CAST(SUM(CAST(matched AS INT)) * 1000000
                // COUNT(*) AS BIGINT) AS match_ppm
    FROM flags GROUP BY user_id % 8 ORDER BY cohort
    """,
)
def q_b_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-PATTERN detection — the SQL:2016 MATCH_RECOGNIZE /
    Flink CEP shape (PATTERN (VIEW NOT_ERROR* CLICK NOT_ERROR*
    PURCHASE) per user), which q_b_funnel's plain ordered funnel
    stops short of: the funnel only asks "did B follow A"; pattern
    matching adds the EXCLUSION term — the match dies if an 'error'
    event intervenes between stages. Spark has no MATCH_RECOGNIZE
    operator, so the pattern compiles to the funnel's staged
    machinery with one twist: each stage aggregates the candidate
    event AND the first excluder in ONE pass (two conditional mins),
    and the stage survives only if candidate < excluder — first-match
    semantics exactly (min click after view is THE earliest possible
    match; if even it is behind an error, no later click can matter
    for SKIP-TO-FIRST semantics... earlier errors block all).

    Timestamps compare at millisecond grain in BOTH engines (§7.4).
    Scale: three map-side-combinable conditional-min aggregates, all
    keyed on user_id — the same single shuffle key pipelined through
    co-partitioned joins, never a window or regex over the event
    history; the cohort rollup is combinable. At 100 TB this is the
    CEP-on-a-lakehouse pattern: no state machine, just staged mins."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.date_trunc("millisecond", F.col("ts")).alias("mts"),
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("mts").alias("t_view"))
    )
    s2 = (
        ev.where(F.col("event_type").isin("click", "error"))
        .join(v, "user_id")
        .where(F.col("mts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "click", F.col("mts"))
            ).alias("t_click"),
            F.min(
                F.when(F.col("event_type") == "error", F.col("mts"))
            ).alias("t_err1"),
        )
    )
    c = s2.where(
        F.col("t_click").isNotNull()
        & (F.col("t_err1").isNull() | (F.col("t_click") < F.col("t_err1")))
    ).select("user_id", "t_click")
    s3 = (
        ev.where(F.col("event_type").isin("purchase", "error"))
        .join(c, "user_id")
        .where(F.col("mts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("mts"))
            ).alias("t_buy"),
            F.min(
                F.when(F.col("event_type") == "error", F.col("mts"))
            ).alias("t_err2"),
        )
    )
    p = s3.where(
        F.col("t_buy").isNotNull()
        & (F.col("t_err2").isNull() | (F.col("t_buy") < F.col("t_err2")))
    ).select("user_id", F.lit(True).alias("matched"))
    flags = (
        v.join(
            s2.select(
                "user_id",
                F.col("t_click").isNotNull().alias("clicked"),
            ),
            "user_id",
            "left",
        )
        .join(
            c.select("user_id", F.lit(True).alias("clicked_clean")),
            "user_id",
            "left",
        )
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.coalesce("clicked", F.lit(False)).alias("clicked"),
            F.coalesce("clicked_clean", F.lit(False)).alias("clicked_clean"),
            F.coalesce("matched", F.lit(False)).alias("matched"),
        )
    )
    return (
        flags.groupBy((F.col("user_id") % 8).alias("cohort"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_viewers"),
            F.sum(F.col("clicked").cast("int")).cast("long").alias("n_clicked"),
            F.sum(
                (F.col("clicked") & ~F.col("clicked_clean")).cast("int")
            )
            .cast("long")
            .alias("n_error_blocked_click"),
            F.sum(F.col("matched").cast("int")).cast("long").alias("n_matched"),
        )
        .selectExpr(
            "cohort",
            "n_viewers",
            "n_clicked",
            "n_error_blocked_click",
            "n_matched",
            "CAST(n_matched * 1000000 DIV n_viewers AS BIGINT) AS match_ppm",
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# q_b_star_join (round 11) — two-broadcast-dim star rollup
# ---------------------------------------------------------------------------


@query(
    "q_b_star_join",
    oracle=f"""
    SELECT p.p_brand, s.s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {dsum('l.l_quantity')} AS sum_qty,
           {dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE p.p_size <= 10 AND s.s_nationkey < 10
    GROUP BY p.p_brand, s.s_nationkey
    ORDER BY p.p_brand, s.s_nationkey
    """,
)
def q_b_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAR-SCHEMA rollup (round 11) — the canonical warehouse shape
    (Kimball star: one fact, several selective dims) that every
    BI-on-Spark deployment runs hourly: lineitem fact joined to TWO
    filtered dimensions at once, measures rolled up by attributes
    drawn from BOTH dims. Complements q_b_join_broadcast (one dim,
    join mechanics) and q_b_join_dpp (partition pruning through one
    dim) with the multi-dim composition where the plan shape is the
    whole game: BOTH dims must broadcast (p_size/s_nationkey filters
    make them tiny), so the fact is scanned ONCE and never shuffled
    before the aggregate — two back-to-back BroadcastHashJoins inside
    one whole-stage-codegen span, then the only exchange is the
    partial→final rollup on the (brand, nation) grouping key. At
    100 TB that plan is the difference between two fact shuffles
    (ruinous) and none; Catalyst picks it from the size stats alone,
    and AQE re-plans if a dim filter stops being selective.

    Measures ride the exact-decimal pattern (pricing_summary's
    convention), so the hash is stable under any partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_size") <= 10)
    s = load_table(spark, sf_dir, "supplier").where(F.col("s_nationkey") < 10)
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_brand", "s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.expr(dsum("l_quantity")).alias("sum_qty"),
            F.expr(dsum("l_extendedprice * (1 - l_discount)")).alias(
                "revenue"
            ),
        )
        .orderBy("p_brand", "s_nationkey")
    )
