"""Group A — reference-equivalent metadata-ETL operators.

Reconstructions of the scene-metadata operations a GEE Landsat-download
ETL performs (SURVEY.md §2 Group A; reference checkout empty — each
query's docstring names the public GEE API call it reconstructs, per
SURVEY.md §0 the only citable origin). The corpus stand-ins: `events`
plays the ImageCollection metadata view (ts = system:time_start,
value = CLOUD_COVER, user_id = WRS path/row, props = properties dict);
the TPC-H star plays FeatureCollection attribute tables.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from glaciersgee_spark.caches import scoped_persist
from glaciersgee_spark.registry import davg, dsum, query
from glaciersgee_spark.tables import load_table, local_frame


def _ts(lit: str):
    return F.lit(lit).cast("timestamp_ntz")


@query(
    "q_a_filter_date",
    oracle="""
    SELECT event_id, ts, user_id, event_type
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-12'
    """,
)
def q_a_filter_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ImageCollection.filterDate(start, end): half-open time range on
    system:time_start. Pushed to the parquet scan (ts min/max row-group
    skipping) — at 100 TB with date-partitioned layout this becomes
    partition pruning."""
    ev = load_table(spark, sf_dir, "events")
    return ev.where(
        (F.col("ts") >= _ts("2024-01-05")) & (F.col("ts") < _ts("2024-01-12"))
    ).select("event_id", "ts", "user_id", "event_type")


@query(
    "q_a_filter_meta",
    oracle="""
    SELECT event_id, value, event_type
    FROM events
    WHERE value < 25.0 AND event_type <> 'error'
    """,
)
def q_a_filter_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filterMetadata('CLOUD_COVER','less_than',x) / ee.Filter.lt —
    scene-property predicate (value plays CLOUD_COVER)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.where((F.col("value") < 25.0) & (F.col("event_type") != "error")).select(
        "event_id", "value", "event_type"
    )


@query(
    "q_a_filter_bounds",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type
    FROM events e
    WHERE EXISTS (
      SELECT 1 FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name IN ('ASIA', 'AFRICA') AND n.n_nationkey = e.user_id % 25
    )
    """,
)
def q_a_filter_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filterBounds(geometry): spatial containment as its metadata
    analogue — scene tile key ∈ AOI key set, i.e. a broadcast semi join
    against the (tiny) region dimension. At 100 TB the AOI key set is
    always broadcast-sized."""
    ev = load_table(spark, sf_dir, "events")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    aoi = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).where(
        F.col("r_name").isin("ASIA", "AFRICA")
    )
    ev = ev.withColumn("tile_key", (F.col("user_id") % 25).cast("int"))
    return ev.join(
        F.broadcast(aoi), ev.tile_key == aoi.n_nationkey, "left_semi"
    ).select("event_id", "user_id", "event_type")


@query(
    "q_a_sort_first",
    oracle="""
    SELECT event_id, user_id, value, ts
    FROM events
    ORDER BY value ASC, ts ASC, event_id ASC
    LIMIT 1
    """,
)
def q_a_sort_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collection.sort('CLOUD_COVER').first() — best-scene selection.
    Spark plans TakeOrderedAndProject (per-partition top-1 + driver
    merge), not a global sort."""
    ev = load_table(spark, sf_dir, "events")
    return ev.orderBy(
        F.col("value").asc(), F.col("ts").asc(), F.col("event_id").asc()
    ).limit(1).select("event_id", "user_id", "value", "ts")


@query(
    "q_a_best_per_group",
    oracle="""
    SELECT user_id, day, event_id, value FROM (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY value ASC, event_id ASC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_a_best_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-cloudy scene per (path/row, period) — the compositing
    selection step. One shuffle on the group key; deterministic
    tie-break on event_id."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("timestamp_ntz")
    )
    w = Window.partitionBy("user_id", "day").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "day", "event_id", "value")
    )


@query(
    "q_a_composite_agg",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_scenes,
           {davg('value')} AS mean_v,
           min(value) AS min_v,
           max(value) AS max_v,
           {dsum('value')} AS sum_v
    FROM events GROUP BY user_id
    """,
)
def q_a_composite_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """imageCollection.reduce(ee.Reducer.mean/min/max) — per-group
    composite statistics (partial aggregation = map-side combine, so
    the shuffle carries one row per (partition, key))."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_scenes"),
        F.expr(davg("value")).alias("mean_v"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        F.expr(dsum("value")).alias("sum_v"),
    )


@query(
    "q_a_scene_count_hist",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(FLOOR(value / 50.0) AS BIGINT) AS v_bucket,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def q_a_scene_count_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregate_histogram(property) — scene counts by day × cloud
    bucket (width_bucket-style binning via floor division)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
        F.floor(F.col("value") / 50.0).cast("long").alias("v_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "q_a_props_extract",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
           COUNT(*) AS n,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
    FROM events
    GROUP BY 1
    """,
)
def q_a_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image.get('CLOUD_COVER') — reading the dynamic properties dict:
    schema-on-read JSON extraction then aggregation."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


@query(
    "q_a_join_aoi",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           {dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY r.r_name, n.n_name
    """,
)
def q_a_join_aoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ee.Join against FeatureCollection attributes: scene fact joined
    through the full dimension chain (TPC-H-Q5 shape). Dimensions are
    broadcast; only the lineitem⋈orders join shuffles — and both sides
    partition on the same key."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.expr(dsum("l_extendedprice * (1 - l_discount)")).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_a_distinct_scenes",
    oracle="""
    SELECT DISTINCT user_id, event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
    FROM events
    """,
)
def q_a_distinct_scenes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedupe path/row revisits: distinct on (tile, kind, day)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_type",
        F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
    ).distinct()


@query(
    "q_a_date_features",
    oracle="""
    SELECT event_id,
           CAST(year(ts) AS BIGINT) AS yr,
           CAST(month(ts) AS BIGINT) AS mon,
           CAST(dayofyear(ts) AS BIGINT) AS doy,
           CAST(hour(ts) AS BIGINT) AS hr,
           CAST(isodow(ts) AS BIGINT) AS iso_dow
    FROM events WHERE event_id % 3 = 0
    """,
)
def q_a_date_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-time feature extraction (year/month/doy/hour/dow)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 3 == 0)
    return ev.select(
        "event_id",
        F.year("ts").cast("long").alias("yr"),
        F.month("ts").cast("long").alias("mon"),
        F.dayofyear("ts").cast("long").alias("doy"),
        F.hour("ts").cast("long").alias("hr"),
        (((F.dayofweek("ts") + 5) % 7) + 1).cast("long").alias("iso_dow"),
    )


@query(
    "q_a_gap_detect",
    oracle="""
    SELECT user_id, prev_ts, ts, gap_s FROM (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC) AS prev_ts,
             date_diff('second',
                       LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts ASC, event_id ASC),
                       ts) AS gap_s
      FROM events
    ) WHERE gap_s > 3600
    """,
)
def q_a_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revisit-gap detection: missed acquisitions in a per-tile time
    series (the Landsat cadence check — WRS path/row revisits arrive on
    a fixed cycle; a gap beyond threshold means lost/filtered scenes).
    One shuffle on the tile key; the lag window scans each partition
    once. At 100 TB the series is date-partitioned so each window
    partition is a contiguous scan."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    epoch = "unix_seconds(CAST(ts AS TIMESTAMP))"
    prev_epoch = "unix_seconds(CAST(prev_ts AS TIMESTAMP))"
    return (
        ev.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("gap_s", F.expr(f"{epoch} - {prev_epoch}"))
        .where(F.col("gap_s") > 3600)
        .select("user_id", "prev_ts", "ts", "gap_s")
    )


@query(
    "q_a_export_manifest",
    oracle="""
    SELECT p_partkey,
           printf('s3://landsat-archive/%s/scene_%08d.tif',
                  lower(replace(p_brand, '#', '_')), p_partkey) AS export_url,
           printf('%s/%05d', p_type, p_partkey % 100000) AS local_path,
           CAST(p_size AS BIGINT) * 1048576 AS approx_bytes
    FROM part
    """,
)
def q_a_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the per-scene export/download manifest (URL + target
    path + size estimate) — the engine-side half of
    ee.batch.Export; the HTTP orchestration itself is out of scope
    (BASELINE.json:6, peripheral)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.format_string(
            "s3://landsat-archive/%s/scene_%08d.tif",
            F.lower(F.replace(F.col("p_brand"), F.lit("#"), F.lit("_"))),
            "p_partkey",
        ).alias("export_url"),
        F.format_string("%s/%05d", "p_type", F.col("p_partkey") % 100000).alias(
            "local_path"
        ),
        (F.col("p_size").cast("long") * 1048576).alias("approx_bytes"),
    )


@query(
    "q_a_ingest_log",
    oracle="""
    SELECT p.p_partkey, p.p_brand
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part d WHERE d.p_partkey % 3 = 0 AND d.p_partkey = p.p_partkey
    )
    """,
)
def q_a_ingest_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downloaded-vs-pending tracking: manifest ANTI JOIN done-log →
    scenes still to fetch (idempotent re-run support)."""
    p = load_table(spark, sf_dir, "part")
    done = p.where(F.col("p_partkey") % 3 == 0).select(
        F.col("p_partkey").alias("d_key")
    )
    return p.join(done, p.p_partkey == done.d_key, "left_anti").select(
        "p_partkey", "p_brand"
    )


@query(
    "q_a_qa_bitmask",
    oracle="""
    WITH decoded AS (
      SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS qa,
             value
      FROM events
    )
    SELECT ((qa >> 0) & 1 = 1) AS fill,
           ((qa >> 1) & 1 = 1) AS dilated_cloud,
           ((qa >> 3) & 1 = 1) AS cloud,
           ((qa >> 4) & 1 = 1) AS cloud_shadow,
           COUNT(*) AS n_scenes,
           CAST(MIN(value) AS DOUBLE) AS min_v,
           CAST(MAX(value) AS DOUBLE) AS max_v
    FROM decoded
    GROUP BY 1, 2, 3, 4
    """,
)
def q_a_qa_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QA_PIXEL bitmask decoding: Landsat L2 QA bands pack per-pixel /
    per-scene flags into integer bitfields (bit 0 fill, 1 dilated
    cloud, 3 cloud, 4 cloud shadow); the scene-metadata analogue
    decodes the props bitfield and rolls scenes up by flag combination
    — the masking decision table a compositing pipeline consumes.
    Pure codegen bit ops + one tiny aggregation."""
    ev = load_table(spark, sf_dir, "events")
    qa = F.get_json_object("props", "$.k").cast("long")
    decoded = ev.select(qa.alias("qa"), "value")

    def bit(b: int):
        return F.shiftright(F.col("qa"), b).bitwiseAND(F.lit(1)) == 1

    return decoded.groupBy(
        bit(0).alias("fill"),
        bit(1).alias("dilated_cloud"),
        bit(3).alias("cloud"),
        bit(4).alias("cloud_shadow"),
    ).agg(
        F.count(F.lit(1)).alias("n_scenes"),
        F.min("value").cast("double").alias("min_v"),
        F.max("value").cast("double").alias("max_v"),
    )


@query(
    "q_a_rollup_multires",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_b,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_b,
           CASE GROUPING(CAST(date_trunc('day', ts) AS TIMESTAMP)) * 2
                + GROUPING(CAST(date_trunc('hour', ts) AS TIMESTAMP))
             WHEN 0 THEN 'hour' WHEN 1 THEN 'day' ELSE 'total' END AS grain,
           COUNT(*) AS n, {dsum('value')} AS sum_v
    FROM events
    GROUP BY ROLLUP (1, 2)
    """,
)
def q_a_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hourly, daily, and
    grand-total scene aggregates in ONE pass via ROLLUP (day, hour) —
    the continuous-aggregate shape a scene-cadence dashboard reads
    (GEE analogue: aggregate_histogram at nested granularities).

    Spelled as re-aggregation (same rationale as q_b_grouping_sets):
    the hourly grain is computed once over the fact, then rollup()
    runs on the ~720 hourly partials — count/decimal-sum re-aggregate
    exactly, and the fact scan never goes through the ×3 Expand. At
    100 TB this is the continuous-aggregate recipe: maintain the
    finest grain, derive coarser grains from it."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day_b"),
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour_b"),
        "value",
    ).groupBy("day_b", "hour_b").agg(
        F.count(F.lit(1)).alias("pn"),
        F.expr("SUM(CAST(value AS DECIMAL(30,6)))").alias("psum"),
    )
    # grouping() is only legal inside the rollup's aggregate list.
    grain = (
        F.when(F.grouping("day_b") == 1, "total")
        .when(F.grouping("hour_b") == 1, "day")
        .otherwise("hour")
    )
    return (
        base.rollup("day_b", "hour_b")
        .agg(
            grain.alias("grain"),
            F.sum("pn").alias("n"),
            F.sum("psum").cast("double").alias("sum_v"),
        )
        .select("day_b", "hour_b", "grain", "n", "sum_v")
    )


@query(
    "q_a_trend_slope",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', TIMESTAMP '2024-01-01', date_trunc('day', ts)) AS x,
             COUNT(*) AS y
      FROM events
      GROUP BY 1, 2
    )
    SELECT event_type,
           COUNT(*) AS n_days,
           round(CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
                 / CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE),
                 6) AS slope6
    FROM daily
    GROUP BY event_type
    """,
)
def q_a_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-trend regression: OLS slope of daily scene counts per
    scene class (GEE analogue: trend of `aggregate_histogram` counts
    over time — "is coverage of this tile class growing?").

    Closed-form slope (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) over integer
    day-index/count pairs: every sum is exact int64 arithmetic, so the
    only float op is the final division — deterministic across engines
    regardless of aggregation order (no dsum needed). Two narrow
    aggregations; the second groups 15×30 rows — nothing at scale."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.datediff(
                F.date_trunc("day", "ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).cast("long").alias("x"),
        )
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy, sxx = F.sum(F.col("x") * F.col("y")), F.sum(F.col("x") * F.col("x"))
    return daily.groupBy("event_type").agg(
        n.alias("n_days"),
        F.round(
            (n * sxy - sx * sy).cast("double") / (n * sxx - sx * sx).cast("double"), 6
        ).alias("slope6"),
    )


@query(
    "q_a_scene_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
      FROM events
    ),
    r AS (
      SELECT user_id, d,
             date_diff('day', DATE '2024-01-01', CAST(d AS DATE))
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
      FROM days
    ),
    runs AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS streak_days,
             MIN(d) AS streak_start
      FROM r GROUP BY user_id, grp
    )
    SELECT user_id, streak_days, streak_start FROM (
      SELECT user_id, streak_days, streak_start,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY streak_days DESC, streak_start ASC) AS rk
      FROM runs
    ) WHERE rk = 1
    """,
)
def q_a_scene_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day acquisition streak per tile (user_id
    plays WRS path/row): the gaps-and-islands dual of q_a_gap_detect —
    instead of where the cadence BROKE, how long it ever HELD (the
    "longest usable cloud-free run" question a compositing pipeline
    asks before trusting a tile's time series).

    Classic islands spelling: distinct (tile, day) → day-index minus
    row_number constant-per-run → run groupBy → per-tile argmax with
    (length, start) tie-break. Two window passes over slim
    post-distinct rows; the distinct is the only full shuffle."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("timestamp_ntz").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    r = days.select(
        "user_id",
        "d",
        (
            F.datediff(F.col("d").cast("date"), F.lit("2024-01-01").cast("date")).cast(
                "long"
            )
            - F.row_number().over(w)
        ).alias("grp"),
    )
    runs = r.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_days"), F.min("d").alias("streak_start")
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), F.col("streak_start").asc()
    )
    return (
        runs.withColumn("rk", F.row_number().over(pick))
        .where(F.col("rk") == 1)
        .select("user_id", "streak_days", "streak_start")
    )


@query(
    "q_a_revisit_stats",
    oracle=f"""
    WITH iv AS (
      SELECT user_id,
             date_diff('second', LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)
               AS gap_s
      FROM events
    )
    SELECT user_id,
           COUNT(gap_s) AS n_intervals,
           MIN(gap_s) AS min_gap_s,
           MAX(gap_s) AS max_gap_s,
           ({dsum('CAST(gap_s AS DOUBLE)')} / COUNT(gap_s)) AS mean_gap_s
    FROM iv WHERE gap_s IS NOT NULL
    GROUP BY user_id
    """,
)
def q_a_revisit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revisit-cadence statistics per tile: count/min/max/mean seconds
    between consecutive acquisitions — the summary q_a_gap_detect's
    threshold is chosen FROM (you can't pick "gap > 2× cadence"
    without knowing the cadence). GEE analogue: aggregate statistics
    of system:time_start deltas per path/row.

    One window pass (lag over the per-tile time order, event_id
    tie-break for determinism) then a map-side-combinable groupBy;
    the mean rides the exact-decimal pattern. Same single shuffle at
    any scale — the window and the aggregate share the user_id
    partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    iv = ev.select(
        "user_id",
        (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.unix_timestamp(F.lag(F.col("ts").cast("timestamp")).over(w))
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    return iv.groupBy("user_id").agg(
        F.count("gap_s").alias("n_intervals"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
        F.expr(f"{dsum('CAST(gap_s AS DOUBLE)')} / COUNT(gap_s)").alias("mean_gap_s"),
    )


@query(
    "q_a_cloud_window",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             {davg('value')} AS day_cloud
      FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)
    ),
    win AS (
      SELECT user_id, day,
             day_cloud
               + LEAD(day_cloud, 1) OVER (PARTITION BY user_id ORDER BY day ASC)
               + LEAD(day_cloud, 2) OVER (PARTITION BY user_id ORDER BY day ASC)
               AS cloud3
      FROM daily
    )
    SELECT user_id, day AS start_day, round(cloud3 / 3.0, 6) AS avg_cloud3
    FROM (
      SELECT user_id, day, cloud3,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY cloud3 ASC, day ASC) AS rk
      FROM win WHERE cloud3 IS NOT NULL
    ) WHERE rk = 1
    """,
)
def q_a_cloud_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal compositing-window selection: for each tile, the
    3-consecutive-observed-day window with the lowest mean cloud cover
    — the window a compositing pipeline would pick before calling
    `ee.Reducer.median` over it (the contiguous-window dual of
    `q_a_best_per_group`'s single-best-scene argmin).

    Determinism: daily means are exact-decimal davg; the 3-term window
    sum is written as one fixed left-to-right `a + b + c` expression
    (never an AVG over a frame, whose accumulation order is
    unspecified), so cloud3 is bit-identical across engines; ties
    break on day. Scale shape: one shuffle to (tile, day) grain —
    map-side combinable — then two windows sharing the same (tile →
    day) partitioning, so Spark plans ONE exchange + sort for lead and
    rank alike.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("timestamp").alias("day")
    daily = ev.groupBy("user_id", day).agg(F.expr(davg("value")).alias("day_cloud"))
    wl = Window.partitionBy("user_id").orderBy(F.col("day").asc())
    win = daily.withColumn(
        "cloud3",
        F.col("day_cloud")
        + F.lead("day_cloud", 1).over(wl)
        + F.lead("day_cloud", 2).over(wl),
    ).where(F.col("cloud3").isNotNull())
    rk = Window.partitionBy("user_id").orderBy(F.col("cloud3").asc(), F.col("day").asc())
    return (
        win.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("day").alias("start_day"),
            F.round(F.col("cloud3") / 3.0, 6).alias("avg_cloud3"),
        )
    )


@query(
    "q_a_gapfill_interp",
    oracle=f"""
    WITH sel AS (SELECT * FROM events WHERE user_id % 10 = 0),
    daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             {davg('value')} AS v
      FROM sel GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
    ),
    days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day
             FROM events),
    tiles AS (SELECT DISTINCT user_id FROM sel),
    spine AS (
      SELECT t.user_id, d.day,
             CAST(d.day - DATE '1970-01-01' AS BIGINT) AS di
      FROM tiles t CROSS JOIN days d
    ),
    joined AS (
      SELECT s.user_id, s.day, s.di, daily.v
      FROM spine s LEFT JOIN daily
        ON s.user_id = daily.user_id AND s.day = daily.day
    ),
    anchored AS (
      SELECT user_id, day, di, v,
             last_value(CASE WHEN v IS NOT NULL THEN {{'i': di, 'v': v}} END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY di
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lo,
             first_value(CASE WHEN v IS NOT NULL THEN {{'i': di, 'v': v}} END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY di
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS hi
      FROM joined
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day_str,
           CASE
             WHEN v IS NOT NULL THEN round(v, 6)
             WHEN lo IS NULL THEN round(hi.v, 6)
             WHEN hi IS NULL THEN round(lo.v, 6)
             ELSE round(lo.v + (hi.v - lo.v) * (di - lo.i)
                        / (hi.i - lo.i), 6)
           END AS filled6,
           CASE
             WHEN v IS NOT NULL THEN 'observed'
             WHEN lo IS NULL THEN 'nocb'
             WHEN hi IS NULL THEN 'locf'
             ELSE 'interp'
           END AS method
    FROM anchored
    """,
)
def q_a_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with linear interpolation: densify each
    tile's daily cloud series over the corpus day spine, then fill
    missing days by interpolating between the nearest observed
    neighbors (LOCF / NOCB at the edges) — the hypertable
    `time_bucket_gapfill + interpolate` shape every sensor/cadence
    dashboard runs.

    The anchor carry is `last/first(struct(day_index, value)) IGNORE
    NULLS` over the per-tile day order — both engines support
    null-skipping window anchors, so the interpolation weights
    (di − lo.i)/(hi.i − lo.i) are exact integer ratios and the filled
    value is IEEE-deterministic (inputs are exact-decimal daily
    means). Scale shape: the spine is |tiles| × |days| (metadata-sized),
    built from two tiny distincts; the two anchor windows and the
    rank-free fill share ONE (tile → day) sort; no global operation
    touches the raw event stream beyond the daily rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    sel = ev.where(F.col("user_id") % 10 == 0)
    day = F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    daily = sel.groupBy("user_id", day).agg(F.expr(davg("value")).alias("v"))
    days = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    tiles = sel.select("user_id").distinct()
    spine = tiles.crossJoin(F.broadcast(days)).select(
        "user_id", "day", F.datediff("day", F.lit("1970-01-01").cast("date")).cast("long").alias("di")
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    anchor = F.when(
        F.col("v").isNotNull(), F.struct(F.col("di").alias("i"), F.col("v").alias("v"))
    )
    w_lo = (
        Window.partitionBy("user_id")
        .orderBy("di")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_hi = (
        Window.partitionBy("user_id")
        .orderBy("di")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    a = joined.select(
        "user_id",
        "day",
        "di",
        "v",
        F.last(anchor, ignorenulls=True).over(w_lo).alias("lo"),
        F.first(anchor, ignorenulls=True).over(w_hi).alias("hi"),
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.round(F.col("v"), 6))
        .when(F.col("lo").isNull(), F.round(F.col("hi.v"), 6))
        .when(F.col("hi").isNull(), F.round(F.col("lo.v"), 6))
        .otherwise(
            F.round(
                F.col("lo.v")
                + (F.col("hi.v") - F.col("lo.v"))
                * (F.col("di") - F.col("lo.i"))
                / (F.col("hi.i") - F.col("lo.i")),
                6,
            )
        )
    )
    method = (
        F.when(F.col("v").isNotNull(), "observed")
        .when(F.col("lo").isNull(), "nocb")
        .when(F.col("hi").isNull(), "locf")
        .otherwise("interp")
    )
    return a.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day_str"),
        filled.alias("filled6"),
        method.alias("method"),
    )


@query(
    "q_a_tile_neighbors",
    oracle="""
    WITH scenes AS (
      SELECT CAST(user_id % 25 AS INTEGER) AS path,
             CAST((user_id // 25) % 25 AS INTEGER) AS row_
      FROM events
    ),
    per_tile AS (
      SELECT path, row_, COUNT(*) AS n_scenes
      FROM scenes GROUP BY path, row_
    ),
    spread AS (
      SELECT path + dx.d AS cpath, row_ + dy.d AS crow, n_scenes
      FROM per_tile
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dx
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dy
    ),
    hood AS (
      SELECT cpath AS path, crow AS row_,
             CAST(SUM(n_scenes) AS BIGINT) AS n_hood
      FROM spread
      WHERE cpath BETWEEN 0 AND 24 AND crow BETWEEN 0 AND 24
      GROUP BY cpath, crow
    )
    SELECT p.path, p.row_, p.n_scenes,
           h.n_hood,
           round(CAST(p.n_scenes AS DOUBLE) / h.n_hood, 6) AS self_share
    FROM per_tile p JOIN hood h ON p.path = h.path AND p.row_ = h.row_
    WHERE (p.path + p.row_) % 7 = 0
    """,
)
def q_a_tile_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-neighborhood density: per WRS-grid tile (path/row derived
    from user_id), the scene count of its 3×3 neighborhood and the
    tile's share of it — the adjacency statistic a mosaicking planner
    reads to find isolated tiles (GEE analogue: per-tile reduceRegions
    over neighboring footprints).

    Raster-adjacency WITHOUT a spatial join: aggregate per tile FIRST
    (map-side combinable, grid-bounded output), then explode each
    tile's count to its ≤9 neighbor cells (bounded literal offsets —
    the convolution-by-join pattern) and re-aggregate. Work scales
    with |grid|, not |scenes|; at 100 TB the scene table never
    shuffles twice."""
    ev = load_table(spark, sf_dir, "events")
    scenes = ev.select(
        (F.col("user_id") % 25).cast("int").alias("path"),
        F.expr("CAST((user_id div 25) % 25 AS INT)").alias("row_"),
    )
    per_tile = scenes.groupBy("path", "row_").agg(
        F.count(F.lit(1)).alias("n_scenes")
    )
    offsets = F.expr(
        "explode(flatten(transform(array(-1, 0, 1), "
        "dx -> transform(array(-1, 0, 1), dy -> struct(dx, dy)))))"
    )
    spread = per_tile.select(
        "path", "row_", "n_scenes", offsets.alias("o")
    ).select(
        (F.col("path") + F.col("o.dx")).alias("cpath"),
        (F.col("row_") + F.col("o.dy")).alias("crow"),
        "n_scenes",
    )
    hood = (
        spread.where(
            F.col("cpath").between(0, 24) & F.col("crow").between(0, 24)
        )
        .groupBy(F.col("cpath").alias("path"), F.col("crow").alias("row_"))
        .agg(F.sum("n_scenes").alias("n_hood"))
    )
    return (
        per_tile.join(hood, ["path", "row_"])
        .where((F.col("path") + F.col("row_")) % 7 == 0)
        .select(
            "path",
            "row_",
            "n_scenes",
            "n_hood",
            F.round(
                F.col("n_scenes").cast("double") / F.col("n_hood"), 6
            ).alias("self_share"),
        )
    )


@query(
    "q_a_stereo_pairs",
    oracle="""
    WITH scenes AS (
      SELECT CAST(user_id AS BIGINT) AS tile,
             event_type AS kind,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             event_id
      FROM events
    )
    SELECT a.kind AS kind_a, b.kind AS kind_b,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT a.tile) AS n_tiles
    FROM scenes a JOIN scenes b
      ON a.tile = b.tile AND a.day = b.day AND a.kind < b.kind
    GROUP BY a.kind, b.kind
    ORDER BY kind_a, kind_b
    """,
)
def q_a_stereo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-day cross-instrument acquisition pairing: scenes of
    DIFFERENT kinds over the same tile on the same day (the stereo /
    multi-sensor co-registration candidate search — GEE analogue: a
    save-all join between two filtered ImageCollections on tile+date).

    Equi self-join on the composite (tile, day) key — bounded per-key
    fan-out (a tile sees a handful of same-day acquisitions), one
    shuffle shared by both sides via the co-partitioned join, then a
    combinable rollup to the kind-pair matrix."""
    ev = load_table(spark, sf_dir, "events")
    scenes = ev.select(
        F.col("user_id").alias("tile"),
        F.col("event_type").alias("kind"),
        F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
        "event_id",
    )
    a = scenes.alias("a")
    b = scenes.alias("b")
    pairs = a.join(
        b,
        (F.col("a.tile") == F.col("b.tile"))
        & (F.col("a.day") == F.col("b.day"))
        & (F.col("a.kind") < F.col("b.kind")),
    )
    return (
        pairs.groupBy(
            F.col("a.kind").alias("kind_a"), F.col("b.kind").alias("kind_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct(F.col("a.tile")).alias("n_tiles"),
        )
        .orderBy("kind_a", "kind_b")
    )


@query(
    "q_a_anomaly_days",
    oracle="""
    WITH daily AS (
      SELECT user_id AS tile,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS day_v
      FROM events WHERE user_id % 11 = 0
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT tile,
             COUNT(*) AS n_days,
             CAST(SUM(CAST(day_v AS DECIMAL(30,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(day_v * day_v AS DECIMAL(30,6))) AS DOUBLE) AS s2
      FROM daily GROUP BY tile
    )
    SELECT d.tile, d.day,
           round(d.day_v, 6) AS day_v,
           round((d.day_v - s.s1 / s.n_days)
                 / sqrt(greatest(s.s2 / s.n_days
                        - (s.s1 / s.n_days) * (s.s1 / s.n_days), 1e-12)), 6)
             AS z
    FROM daily d JOIN stats s ON d.tile = s.tile
    WHERE s.n_days >= 10
      AND (d.day_v - s.s1 / s.n_days)
          / sqrt(greatest(s.s2 / s.n_days
                 - (s.s1 / s.n_days) * (s.s1 / s.n_days), 1e-12)) > 2.5
    """,
)
def q_a_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile anomaly days: daily measurement totals more than 2.5σ
    above the tile's own distribution (sensor-glitch / cloud-burst
    QC — the per-tile control chart a pipeline runs before trusting a
    day's acquisitions). Emits each flagged (tile, day) with its
    z-score.

    Exact-decimal daily sums and moments (bit-stable under any
    partitioning), floats only in the final mean/σ/z arithmetic —
    identical IEEE ops in both engines. Two combinable aggregations
    sharing the tile partitioning + one co-partitioned join back."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") % 11 == 0)
    daily = (
        ev.groupBy(
            F.col("user_id").alias("tile"),
            F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("day_v")
        )
    )
    stats = daily.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("day_v").cast("decimal(30,6)")).cast("double").alias("s1"),
        F.sum((F.col("day_v") * F.col("day_v")).cast("decimal(30,6)"))
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n_days")
    var = F.greatest(
        F.col("s2") / F.col("n_days") - mean * mean, F.lit(1e-12)
    )
    z = (F.col("day_v") - mean) / F.sqrt(var)
    return (
        daily.join(stats, "tile")
        .where((F.col("n_days") >= 10) & (z > 2.5))
        .select(
            "tile",
            "day",
            F.round("day_v", 6).alias("day_v"),
            F.round(z, 6).alias("z"),
        )
    )


@query(
    "q_a_scene_freshness",
    oracle="""
    WITH per_tile AS (
      SELECT user_id AS tile,
             MAX(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS last_day,
             COUNT(*) AS n_scenes
      FROM events GROUP BY user_id
    ),
    horizon AS (SELECT MAX(last_day) AS now_day FROM per_tile)
    SELECT p.tile, p.last_day, p.n_scenes,
           CAST(CAST(h.now_day AS DATE) - CAST(p.last_day AS DATE) AS BIGINT)
             AS stale_days,
           (h.now_day - p.last_day) >= INTERVAL 16 DAY AS overdue
    FROM per_tile p CROSS JOIN horizon h
    WHERE p.tile % 13 = 0
    ORDER BY p.tile
    """,
)
def q_a_scene_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-freshness monitor: per tile, the last acquisition
    day, staleness in days against the corpus horizon, and an overdue
    flag at the 16-day Landsat revisit cadence — the ops dashboard a
    collection maintainer watches (GEE analogue: max system:time_start
    per path/row vs now).

    One combinable per-tile aggregate + a 1-row horizon broadcast;
    integer-day arithmetic only. Sampled tiles for the ledger; the
    plan is sample-independent."""
    ev = load_table(spark, sf_dir, "events")
    per_tile = ev.groupBy(F.col("user_id").alias("tile")).agg(
        F.max(F.date_trunc("day", "ts").cast("timestamp_ntz")).alias("last_day"),
        F.count(F.lit(1)).alias("n_scenes"),
    )
    horizon = per_tile.agg(F.max("last_day").alias("now_day"))
    stale = F.datediff(F.col("now_day"), F.col("last_day")).cast("long")
    return (
        per_tile.crossJoin(F.broadcast(horizon))
        .where(F.col("tile") % 13 == 0)
        .select(
            "tile",
            "last_day",
            "n_scenes",
            stale.alias("stale_days"),
            (stale >= 16).alias("overdue"),
        )
        .orderBy("tile")
    )


@query(
    "q_a_monthly_coverage",
    oracle="""
    WITH tiles AS (
      SELECT DISTINCT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month_b,
             user_id AS tile
      FROM events
    ),
    grid AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_grid
             FROM events)
    SELECT t.month_b,
           COUNT(*) AS n_tiles_covered,
           g.n_grid,
           round(CAST(COUNT(*) AS DOUBLE) / g.n_grid, 6) AS coverage_pct
    FROM tiles t CROSS JOIN grid g
    GROUP BY t.month_b, g.n_grid
    ORDER BY t.month_b
    """,
)
def q_a_monthly_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly grid-coverage KPI: the fraction of known tiles that
    received at least one acquisition each month — the collection-
    health chart between q_a_gap_detect (per-tile gaps) and
    q_a_scene_freshness (per-tile staleness): one number per month for
    the wall dashboard.

    DISTINCT (month, tile) first (map-side combinable — the scene
    table collapses to ≤months×grid rows before anything wide), then a
    months-row rollup against the 1-row grid-size broadcast."""
    ev = load_table(spark, sf_dir, "events")
    tiles = ev.select(
        F.date_trunc("month", "ts").cast("timestamp_ntz").alias("month_b"),
        F.col("user_id").alias("tile"),
    ).distinct()
    grid = ev.agg(F.countDistinct("user_id").alias("n_grid"))
    return (
        tiles.groupBy("month_b")
        .agg(F.count(F.lit(1)).alias("n_tiles_covered"))
        .crossJoin(F.broadcast(grid))
        .select(
            "month_b",
            "n_tiles_covered",
            "n_grid",
            F.round(
                F.col("n_tiles_covered").cast("double") / F.col("n_grid"), 6
            ).alias("coverage_pct"),
        )
        .orderBy("month_b")
    )


@query(
    "q_a_solar_time",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             user_id % 25 AS tile_key,
             hour(ts + to_seconds((user_id % 25) * 3456 - 41472))
               AS solar_hour,
             value
      FROM events
    )
    SELECT solar_hour,
           CAST(COUNT(*) AS BIGINT) AS n_scenes,
           CAST(COUNT(DISTINCT tile_key) AS BIGINT) AS n_tiles,
           {dsum('value')} AS sum_v
    FROM s GROUP BY solar_hour ORDER BY solar_hour
    """,
)
def q_a_solar_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL SOLAR TIME acquisition audit (round 8): bucket scene
    acquisitions by local solar hour — UTC timestamp + longitude/15 h
    — the QA pass a sun-synchronous catalog runs to confirm its
    descending-node crossings cluster at the designed local time
    (drifting solar hour = drifting orbit = cross-date radiometry
    bias). Tile longitude derives from the 25-tile grid the spatial
    family uses (tile centers every 14.4°): the offset is EXACT
    integer seconds, tile·3456 − 41472 (= 240 s/degree), so the
    local-time shift is deterministic interval arithmetic in both
    engines — no float longitude anywhere.

    Scale: one scan → one combinable groupBy over 24 hour buckets
    (COUNT DISTINCT over the 25-tile key is a bounded expand);
    nothing corpus-sized shuffles."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.hour(
            F.col("ts")
            + F.expr("make_dt_interval(0, 0, 0, (user_id % 25) * 3456 - 41472)")
        ).alias("solar_hour"),
        (F.col("user_id") % 25).alias("tile_key"),
        "value",
    )
    return (
        s.groupBy("solar_hour")
        .agg(
            F.count(F.lit(1)).alias("n_scenes"),
            F.countDistinct("tile_key").alias("n_tiles"),
            F.expr(dsum("value")).alias("sum_v"),
        )
        .orderBy("solar_hour")
    )


# ---------------------------------------------------------------------------
# q_a_band_math (round 8)
# ---------------------------------------------------------------------------


@query(
    "q_a_band_math",
    oracle=f"""
    WITH scenes AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             CAST((l_orderkey * 13) % 1001 AS BIGINT) AS red,
             CAST((l_partkey * 29) % 1001 AS BIGINT) AS nir,
             (CAST(l_suppkey AS BIGINT) % 16) // 8 % 2 = 1 AS cloudy
      FROM lineitem
    ),
    clear AS (
      SELECT month,
             round(CAST(nir - red AS DOUBLE) / NULLIF(nir + red, 0), 6)
               AS ndvi6
      FROM scenes WHERE NOT cloudy
    )
    SELECT s.month,
           COUNT(*) AS n_scenes,
           COUNT(*) FILTER (WHERE NOT s.cloudy) AS n_clear,
           (SELECT {davg('ndvi6')} FROM clear c WHERE c.month = s.month)
             AS mean_ndvi,
           (SELECT round(MIN(ndvi6), 6) FROM clear c WHERE c.month = s.month)
             AS min_ndvi,
           (SELECT round(MAX(ndvi6), 6) FROM clear c WHERE c.month = s.month)
             AS max_ndvi
    FROM scenes s GROUP BY s.month ORDER BY s.month
    """,
)
def q_a_band_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band math — GEE's normalizedDifference / image expression, the
    canonical per-pixel map operation (round 8): NDVI = (NIR − red)/
    (NIR + red) over synthetic per-scene band reflectances (derived
    from fact keys by the module convention), with QA-bit cloud
    masking (bit 3 of the 4-bit QA word excludes the scene — the
    q_a_qa_bitmask decode convention) and a monthly composite rollup
    on top. Together with q_a_zonal_stats this closes the core GEE
    loop the reference package serves: mask → band math → temporal
    composite → zonal reduce.

    Exactness: bands and QA bits are pure integer derivations; each
    NDVI is ONE IEEE division over exact integers (NULLIF-guarded
    for the nir = red = 0 corner), 6-dp-rounded; the monthly mean
    rides the exact-decimal davg. Scale: everything up to the rollup
    is scan-side whole-stage codegen — zero joins, zero UDFs, ONE
    combinable month rollup (cloudy scenes are masked by a codegen
    predicate, exactly how a 100 TB pixel pipeline wants it)."""
    li = load_table(spark, sf_dir, "lineitem")
    scenes = li.select(
        F.to_date(F.date_trunc("month", F.col("l_shipdate"))).alias(
            "month"
        ),
        ((F.col("l_orderkey") * 13) % 1001).cast("long").alias("red"),
        ((F.col("l_partkey") * 29) % 1001).cast("long").alias("nir"),
        F.expr(
            "(CAST(l_suppkey AS BIGINT) % 16) DIV 8 % 2 = 1"
        ).alias("cloudy"),
    )
    ndvi = F.round(
        (F.col("nir") - F.col("red")).cast("double")
        / F.nullif((F.col("nir") + F.col("red")).cast("double"), F.lit(0.0)),
        6,
    )
    scored = scenes.select(
        "month", "cloudy", F.when(~F.col("cloudy"), ndvi).alias("ndvi6")
    )
    return (
        scored.groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_scenes"),
            F.count(F.when(~F.col("cloudy"), 1)).alias("n_clear"),
            F.expr(davg("ndvi6")).alias("mean_ndvi"),
            F.round(F.min("ndvi6"), 6).alias("min_ndvi"),
            F.round(F.max("ndvi6"), 6).alias("max_ndvi"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# q_a_glacier_trend (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_a_glacier_trend",
    oracle="""
    WITH scenes AS (
      SELECT CAST(l_suppkey % 5 AS BIGINT) AS region_id,
             CAST(year(l_shipdate) AS BIGINT) AS yr,
             (l_orderkey * 17) % 1001 AS green,
             (l_partkey * 23) % 1001 AS swir
      FROM lineitem
    ),
    px AS (
      SELECT region_id, yr,
             CASE WHEN green + swir > 0
                  AND (green - swir) * 10 > (green + swir) * 4
                  THEN 1 ELSE 0 END AS snow
      FROM scenes
    ),
    annual AS (
      SELECT region_id, yr,
             CAST(SUM(snow) AS BIGINT) AS area,
             CAST(COUNT(*) AS BIGINT) AS n_px
      FROM px GROUP BY region_id, yr
    )
    SELECT region_id,
           CAST(COUNT(*) AS BIGINT) AS n_years,
           CAST(SUM(area) AS BIGINT) AS total_area,
           round(CAST(COUNT(*) * SUM(yr * area) - SUM(yr) * SUM(area)
                      AS DOUBLE)
                 / CAST(COUNT(*) * SUM(yr * yr) - SUM(yr) * SUM(yr)
                        AS DOUBLE),
                 6) AS slope6,
           round(CAST(SUM(area) AS DOUBLE) / SUM(n_px), 6) AS mean_frac6
    FROM annual
    GROUP BY region_id
    ORDER BY region_id
    """,
)
def q_a_glacier_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLACIER AREA-CHANGE TREND (round 9) — the workflow the
    reference's own name describes, composed end to end from the
    Group A primitives: per-scene NDSI snow/ice classification
    (Normalized Difference Snow Index = (green − swir)/(green +
    swir), the standard GEE snow mapping index; threshold 0.4, the
    Hall/Riggs convention), annual snow-pixel area per region, and a
    per-region least-squares trend of area over years — the retreat
    (or growth) rate a glacier-monitoring pipeline publishes. Bands
    derive from fact keys (the q_a_band_math module convention);
    region is the synthetic 5-region AOI partition.

    Exactness: the NDSI threshold is spelled as the cross-multiplied
    INTEGER inequality (green − swir)·10 > (green + swir)·4 — no
    division, no float compare, so classification is exact at any
    scale; annual areas are exact BIGINT sums; the OLS slope is the
    exact-integer-moments form (the q_a_trend_slope convention) with
    ONE final IEEE division, 6-dp-rounded; mean snow fraction rides a
    single exact-ratio division.

    Scale: classification is scan-side whole-stage codegen (zero
    joins, zero UDFs); the per-(region, year) rollup is map-side
    combinable; the trend runs over the |regions|×|years| frame —
    bounded by the calendar, not the corpus. This is exactly how a
    100 TB scene archive computes decadal change: two combinable
    aggregations and arithmetic on a panel."""
    li = load_table(spark, sf_dir, "lineitem")
    scenes = li.select(
        (F.col("l_suppkey") % 5).cast("long").alias("region_id"),
        F.year("l_shipdate").cast("long").alias("yr"),
        ((F.col("l_orderkey") * 17) % 1001).alias("green"),
        ((F.col("l_partkey") * 23) % 1001).alias("swir"),
    )
    px = scenes.select(
        "region_id",
        "yr",
        F.when(
            (F.col("green") + F.col("swir") > 0)
            & (
                (F.col("green") - F.col("swir")) * 10
                > (F.col("green") + F.col("swir")) * 4
            ),
            1,
        )
        .otherwise(0)
        .alias("snow"),
    )
    annual = px.groupBy("region_id", "yr").agg(
        F.sum("snow").cast("long").alias("area"),
        F.count(F.lit(1)).cast("long").alias("n_px"),
    )
    n = F.count(F.lit(1))
    sxy = F.sum(F.col("yr") * F.col("area"))
    sx = F.sum("yr")
    sy = F.sum("area")
    sxx = F.sum(F.col("yr") * F.col("yr"))
    return (
        annual.groupBy("region_id")
        .agg(
            n.cast("long").alias("n_years"),
            F.sum("area").cast("long").alias("total_area"),
            F.round(
                (n * sxy - sx * sy).cast("double")
                / (n * sxx - sx * sx).cast("double"),
                6,
            ).alias("slope6"),
            F.round(
                F.sum("area").cast("double") / F.sum("n_px"), 6
            ).alias("mean_frac6"),
        )
        .orderBy("region_id")
    )


# ---------------------------------------------------------------------------
# q_a_harmonic_fit (round 9)
# ---------------------------------------------------------------------------

# First-harmonic basis on the 24-hour cycle, micro-units: s = round(
# sin(2*pi*h/24) * 1e6), c = round(cos * 1e6), computed ONCE offline
# (driver-side math.sin is the single source of truth; both engines
# consume the SAME integer literals, so no libm call happens at query
# time — the q_e_retrieval_ndcg nano-unit convention, SURVEY.md §7.4).
_HF_BASIS: tuple[tuple[int, int, int], ...] = (
    (0, 0, 1000000),
    (1, 258819, 965926),
    (2, 500000, 866025),
    (3, 707107, 707107),
    (4, 866025, 500000),
    (5, 965926, 258819),
    (6, 1000000, 0),
    (7, 965926, -258819),
    (8, 866025, -500000),
    (9, 707107, -707107),
    (10, 500000, -866025),
    (11, 258819, -965926),
    (12, 0, -1000000),
    (13, -258819, -965926),
    (14, -500000, -866025),
    (15, -707107, -707107),
    (16, -866025, -500000),
    (17, -965926, -258819),
    (18, -1000000, 0),
    (19, -965926, 258819),
    (20, -866025, 500000),
    (21, -707107, 707107),
    (22, -500000, 866025),
    (23, -258819, 965926),
)

# Cramer's rule over the 3x3 normal equations, shared verbatim by both
# engines (the _FK_METRICS single-source convention): every name below
# is an EXACT 128-bit integer (Spark DECIMAL(38,0) / DuckDB HUGEINT),
# so each determinant is exact integer arithmetic — the only doubles
# are the final micro-unit quotients.
_HF_D = "(n*(ss*cc - sc*sc) - s1*(s1*cc - sc*c1) + c1*(s1*sc - ss*c1))"
_HF_D0 = "(sy*(ss*cc - sc*sc) - s1*(sys*cc - sc*syc) + c1*(sys*sc - ss*syc))"
_HF_D1 = "(n*(sys*cc - sc*syc) - sy*(s1*cc - sc*c1) + c1*(s1*syc - sys*c1))"
_HF_D2 = "(n*(ss*syc - sys*sc) - s1*(s1*syc - sys*c1) + sy*(s1*sc - ss*c1))"
# beta_micro = (1e6 * Di) DIV D — integer division truncates toward
# zero IDENTICALLY in Spark's DECIMAL DIV and DuckDB's HUGEINT //
# (verified on negative operands); the quotient magnitude is ~1e10,
# exactly representable as a double.
_HF_BETAS = tuple(
    f"CAST((1000000 * {d}) {{div}} {_HF_D} AS DOUBLE) / 1e6 AS {b}"
    for d, b in ((_HF_D0, "b0"), (_HF_D1, "b1"), (_HF_D2, "b2"))
)


def _hf_values_sql() -> str:
    return ", ".join(f"({h}, {s}, {c})" for h, s, c in _HF_BASIS)


@query(
    "q_a_harmonic_fit",
    oracle=f"""
    WITH basis(h, s, c) AS (VALUES {_hf_values_sql()}),
    hr AS (SELECT CAST(hour(ts) AS INT) AS h,
                  CAST(COUNT(*) AS BIGINT) AS y
           FROM events GROUP BY 1),
    j AS (SELECT hr.h, hr.y, CAST(b.s AS BIGINT) AS s,
                 CAST(b.c AS BIGINT) AS c
          FROM hr JOIN basis b USING (h)),
    sums AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                    CAST(SUM(s) AS HUGEINT) AS s1,
                    CAST(SUM(c) AS HUGEINT) AS c1,
                    CAST(SUM(s * s) AS HUGEINT) AS ss,
                    CAST(SUM(s * c) AS HUGEINT) AS sc,
                    CAST(SUM(c * c) AS HUGEINT) AS cc,
                    CAST(SUM(y) AS HUGEINT) AS sy,
                    CAST(SUM(y * s) AS HUGEINT) AS sys,
                    CAST(SUM(y * c) AS HUGEINT) AS syc
             FROM j),
    beta AS (SELECT {", ".join(b.format(div="//") for b in _HF_BETAS)}
             FROM sums),
    fit AS (SELECT j.h, j.y,
                   round(b.b0 + b.b1 * (j.s / 1e6) + b.b2 * (j.c / 1e6), 6)
                     AS fit6
            FROM j CROSS JOIN beta b)
    SELECT f.h AS hour, f.y AS n_events, f.fit6,
           round(f.y - f.fit6, 6) AS resid6,
           round(b.b0, 6) AS b0_6, round(b.b1, 6) AS b1_6,
           round(b.b2, 6) AS b2_6,
           round(sqrt(b.b1 * b.b1 + b.b2 * b.b2), 6) AS amp6
    FROM fit f CROSS JOIN beta b ORDER BY hour
    """,
)
def q_a_harmonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARMONIC REGRESSION (round 9) — GEE's harmonic-model workflow
    (ee.Image constant/sin/cos bands + linearRegression reducer, the
    standard phenology/seasonality recipe), reconstructed on the
    catalog's diurnal cycle: hourly acquisition volume y_h fit as
    y = b0 + b1*sin(2*pi*h/24) + b2*cos(2*pi*h/24) via the normal
    equations, plus per-hour fitted values, residuals, and the cycle
    amplitude sqrt(b1^2 + b2^2) — the same three-coefficient fit GEE
    users run per pixel over NDVI time series; here it runs once over
    the catalog, and at 100 TB it runs per tile by adding the tile
    key to the rollup.

    Exactness: the sin/cos basis is 24 micro-unit INTEGER literals
    computed offline (no libm at query time — the retrieval_ndcg
    convention); all nine normal-equation sums and all four Cramer
    determinants are exact 128-bit integer arithmetic (DECIMAL(38,0)
    vs HUGEINT, the assoc_rules precedent; magnitudes peak ~1e28,
    headroom to 1e38); the betas are single exact integer divisions
    (truncation toward zero matches engine-to-engine, verified on
    negatives) whose ~1e10 micro-quotients are exactly double-
    representable. Scale: ONE combinable 24-bucket rollup collapses
    the corpus; the basis join, the 1-row normal-equation fold, and
    Cramer are constant-size; the fit broadcast back onto 24 rows."""
    ev = load_table(spark, sf_dir, "events")
    basis = local_frame(spark, list(_HF_BASIS), "h INT, s BIGINT, c BIGINT")
    hr = ev.groupBy(F.hour("ts").cast("int").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    j = scoped_persist(
        hr.join(F.broadcast(basis), "h"), spark, sf_dir, "harmonic_j"
    )
    d38 = "DECIMAL(38,0)"
    sums = j.agg(
        F.expr(f"CAST(COUNT(*) AS {d38})").alias("n"),
        F.expr(f"CAST(SUM(s) AS {d38})").alias("s1"),
        F.expr(f"CAST(SUM(c) AS {d38})").alias("c1"),
        F.expr(f"CAST(SUM(s * s) AS {d38})").alias("ss"),
        F.expr(f"CAST(SUM(s * c) AS {d38})").alias("sc"),
        F.expr(f"CAST(SUM(c * c) AS {d38})").alias("cc"),
        F.expr(f"CAST(SUM(y) AS {d38})").alias("sy"),
        F.expr(f"CAST(SUM(y * s) AS {d38})").alias("sys"),
        F.expr(f"CAST(SUM(y * c) AS {d38})").alias("syc"),
    )
    beta = sums.selectExpr(*[b.format(div="DIV") for b in _HF_BETAS])
    fit = j.join(F.broadcast(beta)).select(
        "h",
        "y",
        F.round(
            F.col("b0")
            + F.col("b1") * (F.col("s") / F.lit(1e6))
            + F.col("b2") * (F.col("c") / F.lit(1e6)),
            6,
        ).alias("fit6"),
        "b0",
        "b1",
        "b2",
    )
    return fit.select(
        F.col("h").alias("hour"),
        F.col("y").alias("n_events"),
        "fit6",
        F.round(F.col("y") - F.col("fit6"), 6).alias("resid6"),
        F.round("b0", 6).alias("b0_6"),
        F.round("b1", 6).alias("b1_6"),
        F.round("b2", 6).alias("b2_6"),
        F.round(
            F.sqrt(F.col("b1") * F.col("b1") + F.col("b2") * F.col("b2")), 6
        ).alias("amp6"),
    ).orderBy("hour")


# ---------------------------------------------------------------------------
# q_a_medoid_composite (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_a_medoid_composite",
    oracle="""
    WITH scenes AS (
      SELECT CAST(user_id % 25 AS BIGINT) AS tile,
             CAST(date_trunc('month', ts) AS DATE) AS month,
             event_id,
             CAST((event_id * 13) % 1001 AS BIGINT) AS b1,
             CAST((event_id * 29) % 1001 AS BIGINT) AS b2,
             CAST((event_id * 7) % 1001 AS BIGINT) AS b3
      FROM events),
    med AS (
      SELECT tile, month,
             quantile_cont(CAST(b1 AS DOUBLE), 0.5) AS m1,
             quantile_cont(CAST(b2 AS DOUBLE), 0.5) AS m2,
             quantile_cont(CAST(b3 AS DOUBLE), 0.5) AS m3,
             CAST(COUNT(*) AS BIGINT) AS n_scenes
      FROM scenes GROUP BY tile, month),
    scored AS (
      SELECT s.tile, s.month, s.event_id, m.n_scenes,
             s.b1, s.b2, s.b3,
             CAST(4.0 * ((s.b1 - m.m1) * (s.b1 - m.m1)
                       + (s.b2 - m.m2) * (s.b2 - m.m2)
                       + (s.b3 - m.m3) * (s.b3 - m.m3)) AS BIGINT) AS d4
      FROM scenes s JOIN med m ON s.tile = m.tile AND s.month = m.month)
    SELECT tile, month, event_id AS medoid_scene, n_scenes,
           b1, b2, b3,
           round(d4 / 4.0, 6) AS dist2_6
    FROM (SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY tile, month
                                    ORDER BY d4 ASC, event_id ASC) AS rk
          FROM scored)
    WHERE rk = 1
    ORDER BY tile, month
    """,
)
def q_a_medoid_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDOID COMPOSITE (round 9) — GEE's medoid compositing recipe
    (the standard cloud-robust alternative to median compositing,
    e.g. the ee medoid pattern used by LandTrendr preprocessing): per
    (tile, month), pick the ACTUAL scene minimizing the sum of squared
    distances to the per-band median — unlike a per-band median
    composite, the winner is a real observation with physically
    consistent bands. Bands derive from fact keys by the Group A
    convention (q_a_band_math); ties break to the smaller scene id.

    Exactness: medians are the exact interpolated percentile (Spark
    percentile ≡ DuckDB quantile_cont, the q_b_quantiles
    equivalence); band−median deltas live on the half-integer
    lattice, so 4·dist² is an EXACT BIGINT (max 4·3·1000² ≈ 1.2e7) —
    the argmin compares integers, never float ties; the reported
    distance is one exact division. Scale: one scan → one combinable
    (tile, month) median pass + one co-partitioned rejoin; the argmin
    window partitions by (tile, month) — thousands of independent
    slices at 100 TB, no global window; a per-pixel deployment keys
    the same plan by pixel block."""
    ev = load_table(spark, sf_dir, "events")
    scenes = ev.select(
        (F.col("user_id") % 25).cast("long").alias("tile"),
        F.to_date(F.date_trunc("month", F.col("ts"))).alias("month"),
        "event_id",
        ((F.col("event_id") * 13) % 1001).cast("long").alias("b1"),
        ((F.col("event_id") * 29) % 1001).cast("long").alias("b2"),
        ((F.col("event_id") * 7) % 1001).cast("long").alias("b3"),
    )
    med = scenes.groupBy("tile", "month").agg(
        F.expr("percentile(CAST(b1 AS DOUBLE), 0.5)").alias("m1"),
        F.expr("percentile(CAST(b2 AS DOUBLE), 0.5)").alias("m2"),
        F.expr("percentile(CAST(b3 AS DOUBLE), 0.5)").alias("m3"),
        F.count(F.lit(1)).cast("long").alias("n_scenes"),
    )
    scored = scenes.join(med, ["tile", "month"]).select(
        "tile",
        "month",
        "event_id",
        "n_scenes",
        "b1",
        "b2",
        "b3",
        F.expr(
            "CAST(4.0 * ((b1 - m1) * (b1 - m1) + (b2 - m2) * (b2 - m2)"
            " + (b3 - m3) * (b3 - m3)) AS BIGINT)"
        ).alias("d4"),
    )
    w = Window.partitionBy("tile", "month").orderBy(
        F.col("d4").asc(), F.col("event_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "tile",
            "month",
            F.col("event_id").alias("medoid_scene"),
            "n_scenes",
            "b1",
            "b2",
            "b3",
            F.round(F.col("d4") / 4.0, 6).alias("dist2_6"),
        )
        .orderBy("tile", "month")
    )


# ---------------------------------------------------------------------------
# q_a_otsu_threshold (round 9)
# ---------------------------------------------------------------------------

# 8-bit binning of the sensor reading (value ∈ (0, ~500] → 0..255):
# value*0.5 and floor are IEEE-deterministic per row in both engines.
_OTSU_BIN = "least(255, CAST(floor(value * 0.5) AS INT))"


@query(
    "q_a_otsu_threshold",
    oracle=f"""
    WITH hist AS (
      SELECT {_OTSU_BIN} AS b, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY b),
    tot AS (SELECT SUM(n) AS nn, SUM(b * n) AS ss FROM hist),
    cum AS (
      SELECT b, n,
             SUM(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS w0,
             SUM(b * n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW) AS s0
      FROM hist),
    scored AS (
      SELECT c.b AS t, c.w0, t2.nn - c.w0 AS w1,
             CAST(c.s0 AS DOUBLE) * CAST(t2.nn AS DOUBLE)
               - CAST(t2.ss AS DOUBLE) * CAST(c.w0 AS DOUBLE) AS numd,
             CAST(c.w0 AS DOUBLE) * CAST(t2.nn - c.w0 AS DOUBLE) AS dend
      FROM cum c CROSS JOIN tot t2
      WHERE c.w0 > 0 AND c.w0 < t2.nn),
    ranked AS (
      SELECT t, w0, w1,
             numd * numd / dend AS sigma_b,
             row_number() OVER (
               ORDER BY numd * numd / dend DESC, t ASC) AS rk
      FROM scored)
    SELECT CAST(r.t AS INT) AS threshold,
           CAST(r.w0 AS BIGINT) AS n_below,
           CAST(r.w1 AS BIGINT) AS n_above,
           CAST(floor(r.sigma_b
                      / (CAST(t2.nn AS DOUBLE) * CAST(t2.nn AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS sigma_b6
    FROM ranked r CROSS JOIN tot t2 WHERE r.rk = 1
    """,
)
def q_a_otsu_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTSU AUTO-THRESHOLD (round 9) — the classic histogram
    bisection (Otsu 1979) every water/snow/cloud masking recipe
    reaches for when a fixed NDWI/NDSI cut is wrong for the scene:
    bin the reading into 256 levels, pick the threshold maximizing
    between-class variance σ_B²(t) = (s0·N − S·w0)² / (w0·(N−w0))
    over the cumulative histogram. GEE exposes exactly this shape as
    a reducer-over-histogram; here the histogram is one combinable
    256-bin rollup and EVERYTHING after runs on the bounded 256-row
    panel (cumulative window over 255 rows, argmax via row_number on
    the same frame — never a corpus window).

    Exactness: histogram counts and the cumulative sums are exact
    BIGINTs; the variance numerator (≤ 255·N² ≈ 5.7e15 at sf0.1)
    exceeds no 2^53, so its DOUBLE image is EXACT, and both engines
    square/divide the identical doubles with identical IEEE results —
    the one place the repo's no-libm rule admits raw double math,
    because the inputs are integer-exact and the ops are
    correctly-rounded primitives (the q_b_dist_moments sqrt
    precedent). Ties (equal σ_B²) break to the smaller threshold."""
    e = load_table(spark, sf_dir, "events")
    hist = (
        e.selectExpr(f"{_OTSU_BIN} AS b")
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = hist.agg(
        F.sum("n").alias("nn"), F.sum(F.col("b") * F.col("n")).alias("ss")
    )
    w = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # 256-row panel
    cum = hist.select(
        "b",
        F.sum("n").over(w).alias("w0"),
        F.sum(F.col("b") * F.col("n")).over(w).alias("s0"),
    )
    scored = (
        cum.join(F.broadcast(tot))
        .where((F.col("w0") > 0) & (F.col("w0") < F.col("nn")))
        .selectExpr(
            "b AS t",
            "w0",
            "nn - w0 AS w1",
            # factors cast to DOUBLE BEFORE multiplying: the BIGINT
            # products (s0·N ~ 255·N²) would overflow ANSI arithmetic
            # at ~1e9 rows; each factor stays < 2^53 far past 100 TB,
            # and identical IEEE multiplies keep both engines
            # bit-aligned (value exact while products < 2^53)
            "CAST(s0 AS DOUBLE) * CAST(nn AS DOUBLE)"
            " - CAST(ss AS DOUBLE) * CAST(w0 AS DOUBLE) AS numd",
            "CAST(w0 AS DOUBLE) * CAST(nn - w0 AS DOUBLE) AS dend",
        )
    )
    rk_w = Window.orderBy(
        (F.col("numd") * F.col("numd") / F.col("dend")).desc(),
        F.col("t").asc(),
    )  # 255-row panel
    return (
        scored.withColumn("rk", F.row_number().over(rk_w))
        .where(F.col("rk") == 1)
        .join(F.broadcast(tot.select("nn")))
        .selectExpr(
            "CAST(t AS INT) AS threshold",
            "CAST(w0 AS BIGINT) AS n_below",
            "CAST(w1 AS BIGINT) AS n_above",
            # normalized to probability weights (σ_B²/N² ≤ 255²) so
            # the 6-dp integer image can never overflow BIGINT at any N
            "CAST(floor(numd * numd / dend"
            " / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))"
            " * 1000000.0 + 0.5) AS BIGINT) AS sigma_b6",
        )
    )


# ---------------------------------------------------------------------------
# q_a_despike_median3 (round 9)
# ---------------------------------------------------------------------------

# Median-of-3 without sorting: a+b+c − max − min — exact integer
# arithmetic, identical in both engines.
_DSP_CENTS = "CAST(floor(value * 100.0 + 0.5) AS BIGINT)"


@query(
    "q_a_despike_median3",
    oracle=f"""
    WITH series AS (
      SELECT event_type AS band, user_id AS tile, ts, event_id,
             {_DSP_CENTS} AS v
      FROM events),
    ctx AS (
      SELECT band, tile, ts, event_id, v,
             lag(v) OVER w AS vp, lead(v) OVER w AS vn
      FROM series
      WINDOW w AS (PARTITION BY band, tile ORDER BY ts, event_id)),
    sm AS (
      SELECT band, tile, v,
             CASE WHEN vp IS NULL OR vn IS NULL THEN v
                  ELSE vp + v + vn - GREATEST(vp, v, vn)
                       - LEAST(vp, v, vn) END AS v_smooth
      FROM ctx)
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(CASE WHEN v_smooth <> v THEN 1 ELSE 0 END)
                AS BIGINT) AS n_despiked,
           CAST(SUM(ABS(v - v_smooth)) AS BIGINT) AS spike_mass_c,
           CAST(MAX(ABS(v - v_smooth)) AS BIGINT) AS max_spike_c
    FROM sm GROUP BY band ORDER BY band
    """,
)
def q_a_despike_median3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL DESPIKING (round 9) — the rolling median-of-3 every
    optical time-series pipeline runs before trend fitting (GEE's
    ee.ImageCollection median-composite smoothing, MODIS despiking):
    an undetected cloud or sensor glitch shows as a one-sample spike,
    and replacing each interior sample with median(prev, cur, next)
    removes it while leaving genuine level shifts (two+ consecutive
    samples) untouched — exactly the robustness mean-smoothing lacks.
    The median needs no sort: a+b+c − max − min, exact integer cents.
    Series endpoints pass through unsmoothed (no neighbor — the
    standard boundary convention, spelled identically in both
    engines). Emits the per-band despike audit (how many samples
    moved, total and max spike mass) — the magnitude report that
    decides whether a sensor needs quarantining, feeding the
    q_a_anomaly_days / q_e_ewma_chart monitors.

    Scale: ONE (band, tile) partitioning carries the lag/lead window
    and feeds the band rollup — a single corpus shuffle; per-series
    frames are bounded by series length, never corpus-wide."""
    e = load_table(spark, sf_dir, "events")
    series = e.select(
        F.col("event_type").alias("band"),
        F.col("user_id").alias("tile"),
        "ts",
        "event_id",
        F.expr(_DSP_CENTS).alias("v"),
    )
    w = Window.partitionBy("band", "tile").orderBy("ts", "event_id")
    ctx = series.select(
        "band",
        "tile",
        "v",
        F.lag("v").over(w).alias("vp"),
        F.lead("v").over(w).alias("vn"),
    )
    sm = ctx.selectExpr(
        "band",
        "v",
        "CASE WHEN vp IS NULL OR vn IS NULL THEN v"
        " ELSE vp + v + vn - GREATEST(vp, v, vn)"
        " - LEAST(vp, v, vn) END AS v_smooth",
    )
    return (
        sm.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum(
                F.when(F.col("v_smooth") != F.col("v"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_despiked"),
            F.sum(F.abs(F.col("v") - F.col("v_smooth")))
            .cast("long")
            .alias("spike_mass_c"),
            F.max(F.abs(F.col("v") - F.col("v_smooth")))
            .cast("long")
            .alias("max_spike_c"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# q_a_cloud_markov (round 9)
# ---------------------------------------------------------------------------

# Scene stream per tile: cloudy iff quantity > 25; transitions counted
# between consecutive scenes of the SAME tile in acquisition order.
_CMK_TILE = "CAST(l_partkey % 32 AS INT)"
_CMK_CLOUDY = "CAST(l_quantity > 25 AS INT)"


@query(
    "q_a_cloud_markov",
    oracle=f"""
    WITH scenes AS (
      SELECT {_CMK_TILE} AS tile, {_CMK_TILE} % 4 AS region,
             {_CMK_CLOUDY} AS c,
             l_shipdate, l_orderkey, l_linenumber
      FROM lineitem),
    seq AS (
      SELECT region, c,
             lag(c) OVER (PARTITION BY tile
                          ORDER BY l_shipdate, l_orderkey, l_linenumber)
               AS pc
      FROM scenes),
    t AS (SELECT region, pc, c FROM seq WHERE pc IS NOT NULL)
    SELECT CAST(region AS INT) AS region,
           CAST(SUM(CASE WHEN pc = 0 AND c = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n00,
           CAST(SUM(CASE WHEN pc = 0 AND c = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n01,
           CAST(SUM(CASE WHEN pc = 1 AND c = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n10,
           CAST(SUM(CASE WHEN pc = 1 AND c = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n11,
           CAST(SUM(CASE WHEN pc = 1 AND c = 1 THEN 1 ELSE 0 END)
                * 1000000
                // GREATEST(SUM(CASE WHEN pc = 1 THEN 1 ELSE 0 END), 1)
                AS BIGINT) AS cloud_persist_ppm,
           CAST(SUM(CASE WHEN pc = 0 AND c = 0 THEN 1 ELSE 0 END)
                * 1000000
                // GREATEST(SUM(CASE WHEN pc = 0 THEN 1 ELSE 0 END), 1)
                AS BIGINT) AS clear_persist_ppm
    FROM t GROUP BY region ORDER BY region
    """,
)
def q_a_cloud_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOUD-PERSISTENCE MARKOV CHAIN (round 9) — the first-order
    transition model behind every acquisition planner: is cloud cover
    at a site INDEPENDENT between revisits (plan by climatology) or
    PERSISTENT (a cloudy pass predicts the next one — burst-schedule
    around weather systems)? Per tile, consecutive scenes in
    acquisition order yield the 2×2 transition counts; per region the
    op emits the matrix plus P(cloudy→cloudy) and P(clear→clear) as
    exact integer ppm — persistence ≫ marginal cloud rate is the
    signature of synoptic weather, and the number q_a_cloud_window's
    streak lengths summarize only indirectly. Zero-denominator guard
    (a region whose scenes never start cloudy) spelled identically in
    both engines.

    Scale: ONE (tile) partitioning carries the lag window, then one
    combinable region rollup — the q_a_scene_streak shape with a
    transition matrix instead of run lengths; deterministic
    acquisition order via the (shipdate, orderkey, linenumber) total
    order."""
    li = load_table(spark, sf_dir, "lineitem")
    scenes = li.selectExpr(
        f"{_CMK_TILE} AS tile",
        f"{_CMK_TILE} % 4 AS region",
        f"{_CMK_CLOUDY} AS c",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("tile").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    t = (
        scenes.withColumn("pc", F.lag("c").over(w))
        .where(F.col("pc").isNotNull())
        .select("region", "pc", "c")
    )
    n = lambda p, cc: F.sum(  # noqa: E731 — local 2×2 cell counter
        F.when((F.col("pc") == p) & (F.col("c") == cc), 1).otherwise(0)
    ).cast("long")
    return (
        t.groupBy("region")
        .agg(
            n(0, 0).alias("n00"),
            n(0, 1).alias("n01"),
            n(1, 0).alias("n10"),
            n(1, 1).alias("n11"),
        )
        .selectExpr(
            "CAST(region AS INT) AS region",
            "n00",
            "n01",
            "n10",
            "n11",
            "CAST(n11 * 1000000 DIV GREATEST(n10 + n11, 1) AS BIGINT)"
            " AS cloud_persist_ppm",
            "CAST(n00 * 1000000 DIV GREATEST(n00 + n01, 1) AS BIGINT)"
            " AS clear_persist_ppm",
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# q_a_harmonize_ols (round 10) — cross-sensor band harmonization
# ---------------------------------------------------------------------------

# Same-day per-(tile, band) means of the two instrument kinds: 'view'
# plays the reference sensor (Landsat 8 in the public harmonization),
# 'click' the legacy one (Landsat 7); band = event_id % 3 plays the
# spectral band id. Means are exact-decimal (davg) rounded to 6 dp,
# then re-quantized to micro-unit BIGINTs so every regression moment
# is exact integer arithmetic.
_HZ_DAY = """
    SELECT user_id AS tile,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_id % 3 AS band,
           event_type AS kind,
           CAST(floor(round({mean6}, 6) * 1000000.0 + 0.5) AS BIGINT) AS q
    FROM events
    WHERE event_type IN ('view', 'click')
    GROUP BY 1, 2, 3, 4
"""


@query(
    "q_a_harmonize_ols",
    oracle=f"""
    WITH daily AS ({_HZ_DAY.format(mean6=davg('value'))}),
    paired AS (
      SELECT a.band, a.q AS x, b.q AS y
      FROM daily a JOIN daily b
        ON a.tile = b.tile AND a.day = b.day AND a.band = b.band
      WHERE a.kind = 'click' AND b.kind = 'view'
    ),
    mom AS (
      SELECT band,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM paired GROUP BY band
    ),
    fit AS (
      SELECT band, n,
             round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                   / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE),
                   6) AS slope6
      FROM mom
    ),
    fit2 AS (
      SELECT f.band, f.n, f.slope6,
             round((CAST(m.sy AS DOUBLE) - f.slope6 * CAST(m.sx AS DOUBLE))
                   / (m.n * 1000000.0), 6) AS intercept6
      FROM fit f JOIN mom m ON f.band = m.band
    ),
    resid AS (
      SELECT p.band,
             round(p.y / 1000000.0
                   - (f.slope6 * (p.x / 1000000.0) + f.intercept6),
                   6) AS r6
      FROM paired p JOIN fit2 f ON p.band = f.band
    )
    SELECT f.band, f.n AS n_pairs, f.slope6, f.intercept6,
           round(sqrt({dsum('r6 * r6', scale=12)} / f.n), 6) AS rmse6,
           round(MAX(abs(r6)), 6) AS max_abs_resid6
    FROM resid r JOIN fit2 f ON r.band = f.band
    GROUP BY f.band, f.n, f.slope6, f.intercept6
    ORDER BY f.band
    """,
)
def q_a_harmonize_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SENSOR BAND HARMONIZATION (round 10, VERDICT r9 item 5)
    — the public Landsat-7↔8 harmonization shape (Roy et al. 2016,
    "Characterization of Landsat-7 to Landsat-8 reflective wavelength
    and normalized difference vegetation index continuity", RSE): OLS
    per spectral band over COINCIDENT same-day acquisitions of the
    two instruments on the same tile, emitting the per-band
    slope/intercept a downstream compositor applies to legacy scenes
    plus the residual scale (rmse, max |resid|) that bounds the
    harmonization error. Input pairing is q_a_stereo_pairs' same-day
    co-partitioned (tile, day) machinery, collapsed to per-kind daily
    band means first so each coincident pair contributes once.

    Exactness: daily means are exact-decimal averages rounded to
    6 dp, re-quantized to micro-unit BIGINTs; all five regression
    moments run in 128-bit integers (DECIMAL(38,0) ⟷ HUGEINT, the
    assoc_rules convention); slope/intercept close with single
    correctly-rounded double divisions off the SHARED rounded values,
    and residuals are 6-dp-rounded before the dsum fold — identical
    bits in both engines at every step. Scale: one combinable
    (tile, day, band, kind) rollup collapses the corpus; the pair
    join is co-partitioned on (tile, day, band) with day-bounded
    fan-out; moments are one combinable rollup to |bands| rows; the
    residual pass re-joins the slim fit frame via broadcast. No
    window rides a corpus-sized frame; no driver collect."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("view", "click"))
        .groupBy(
            F.col("user_id").alias("tile"),
            F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
            (F.col("event_id") % 3).alias("band"),
            F.col("event_type").alias("kind"),
        )
        .agg(
            F.expr(
                f"CAST(floor(round({davg('value')}, 6) * 1000000.0 + 0.5)"
                " AS BIGINT)"
            ).alias("q")
        )
    )
    a = daily.where(F.col("kind") == "click").select(
        "tile", "day", "band", F.col("q").alias("x")
    )
    b = daily.where(F.col("kind") == "view").select(
        "tile", "day", "band", F.col("q").alias("y")
    )
    paired = a.join(b, ["tile", "day", "band"]).select("band", "x", "y")
    d38 = "DECIMAL(38,0)"
    mom = paired.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.expr(f"CAST(SUM(CAST(x AS {d38}) * x) AS {d38})").alias("sxx"),
        F.expr(f"CAST(SUM(CAST(x AS {d38}) * y) AS {d38})").alias("sxy"),
    )
    fit = mom.select(
        "band",
        "n",
        "sx",
        "sy",
        F.expr(
            f"round(CAST(n * sxy - CAST(sx AS {d38}) * sy AS DOUBLE)"
            f" / CAST(n * sxx - CAST(sx AS {d38}) * sx AS DOUBLE), 6)"
        ).alias("slope6"),
    ).selectExpr(
        "band",
        "n",
        "slope6",
        "round((CAST(sy AS DOUBLE) - slope6 * CAST(sx AS DOUBLE))"
        " / (n * 1000000.0), 6) AS intercept6",
    )
    resid = paired.join(F.broadcast(fit), "band").select(
        "band",
        F.round(
            F.col("y") / 1000000.0
            - (
                F.col("slope6") * (F.col("x") / 1000000.0)
                + F.col("intercept6")
            ),
            6,
        ).alias("r6"),
    )
    return (
        resid.join(F.broadcast(fit), "band")
        .groupBy("band", "n", "slope6", "intercept6")
        .agg(
            F.expr(
                f"round(sqrt({dsum('r6 * r6', scale=12)} / n), 6)"
            ).alias("rmse6"),
            F.round(F.max(F.abs(F.col("r6"))), 6).alias("max_abs_resid6"),
        )
        .select(
            "band",
            F.col("n").alias("n_pairs"),
            "slope6",
            "intercept6",
            "rmse6",
            "max_abs_resid6",
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# q_a_climatology_zscore (round 10) — climatology anomaly screening
# ---------------------------------------------------------------------------

# Per-hour-of-day climatology moments in exact micro-unit integers;
# std via the pinned _WH_SD shape (greatest() absorbs the ~1-ulp
# negative a constant bin's s²/n rounding can produce under sqrt).
_CZ_Q = "CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)"
_CZ_SD = (
    "sqrt(greatest((CAST(t AS DOUBLE) - CAST(s AS DOUBLE)"
    " * CAST(s AS DOUBLE) / n) / n, 0.0))"
)


@query(
    "q_a_climatology_zscore",
    oracle=f"""
    WITH obs AS (
      SELECT CAST(extract(hour FROM ts) AS INT) AS hr,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             {_CZ_Q} AS q
      FROM events
    ),
    last_day AS (SELECT MAX(day) AS d0 FROM obs),
    clim AS (
      SELECT hr, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS s,
             CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS t
      FROM obs CROSS JOIN last_day WHERE day < d0 GROUP BY hr
    ),
    scored AS (
      SELECT o.hr,
             (o.q - CAST(c.s AS DOUBLE) / c.n) / {_CZ_SD} AS z
      FROM obs o CROSS JOIN last_day JOIN clim c ON o.hr = c.hr
      WHERE o.day = d0
    )
    SELECT c.hr AS hour,
           c.n AS n_train,
           round(CAST(c.s AS DOUBLE) / c.n / 1000000.0, 6) AS clim_mean6,
           round({_CZ_SD} / 1000000.0, 6) AS clim_std6,
           CAST((SELECT COUNT(*) FROM scored sc WHERE sc.hr = c.hr)
                AS BIGINT) AS n_target,
           CAST((SELECT COUNT(*) FROM scored sc
                 WHERE sc.hr = c.hr AND abs(sc.z) > 2.0) AS BIGINT)
             AS n_anomalous,
           round(COALESCE((SELECT MAX(abs(sc.z)) FROM scored sc
                           WHERE sc.hr = c.hr), 0.0), 6) AS max_abs_z6
    FROM clim c ORDER BY hour
    """,
)
def q_a_climatology_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIMATOLOGY ANOMALY screening (round 10) — the standard remote-
    sensing change-detection baseline (z-score against a per-bin
    climatology, the GEE `ee.ImageCollection` anomaly recipe): build
    the hour-of-day climatology (mean/std of CLOUD_COVER per hour bin)
    from every day EXCEPT the most recent, then score the most recent
    day's scenes against it and flag |z| > 2 — "is today's acquisition
    pattern abnormal for this time of day?" q_a_anomaly_days z-scores
    a tile against its own history; THIS op z-scores the present
    against a seasonal/diurnal normal, the climatology shape.

    Exactness: values quantize to micro-unit BIGINTs; climatology
    moments are exact integer sums (Σq BIGINT, Σq² in 128-bit); mean,
    std (the pinned _WH_SD expression), and every z close as
    identical correctly-rounded double chains in both engines.
    Scale: ONE combinable 24-bin rollup builds the climatology (the
    train/target split is a scan-side predicate off a broadcast
    1-row max); the scoring pass joins the 24-row climatology via
    broadcast — no window, no corpus-sized shuffle; at 100 TB the
    day predicate prunes date partitions."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        F.hour("ts").cast("int").alias("hr"),
        F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
        F.expr(_CZ_Q).alias("q"),
    )
    last_day = obs.agg(F.max("day").alias("d0"))
    d38 = "DECIMAL(38,0)"
    clim = (
        obs.join(F.broadcast(last_day))
        .where(F.col("day") < F.col("d0"))
        .groupBy("hr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("q").cast("long").alias("s"),
            F.expr(f"CAST(SUM(CAST(q AS {d38}) * q) AS {d38})").alias("t"),
        )
    )
    scored = (
        obs.join(F.broadcast(last_day))
        .where(F.col("day") == F.col("d0"))
        .join(F.broadcast(clim), "hr")
        .selectExpr(
            "hr",
            f"(q - CAST(s AS DOUBLE) / n) / {_CZ_SD} AS z",
        )
        .groupBy("hr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_target"),
            F.sum(F.when(F.abs(F.col("z")) > 2.0, 1).otherwise(0))
            .cast("long")
            .alias("n_anomalous"),
            F.max(F.abs(F.col("z"))).alias("mz"),
        )
    )
    return (
        clim.join(F.broadcast(scored), "hr", "left")
        .selectExpr(
            "hr AS hour",
            "n AS n_train",
            "round(CAST(s AS DOUBLE) / n / 1000000.0, 6) AS clim_mean6",
            f"round({_CZ_SD} / 1000000.0, 6) AS clim_std6",
            "CAST(COALESCE(n_target, 0) AS BIGINT) AS n_target",
            "CAST(COALESCE(n_anomalous, 0) AS BIGINT) AS n_anomalous",
            "round(COALESCE(mz, 0.0), 6) AS max_abs_z6",
        )
        .orderBy("hour")
    )
