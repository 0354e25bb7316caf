"""Operator-inventory demonstration queries over the driver's TPC-H-ish
testdata tables (TESTDATA.md), one per SURVEY.md §2 operator family, each
with an exactly-equivalent DuckDB oracle SQL string.

These exist so the per-round driver gate (CORRECTNESS_r{N}.json) can verify
every generic operator the engine's pipeline is built from — scans,
filters, recodes, joins (broadcast/anti/semi), hash aggregations, window
sequence rules, dedup families, similarity search, text analysis — against
an independent engine.  The clips pipeline itself is gated by
tests/test_pipeline_oracle.py (pure-pandas oracle).

Parity discipline (Spark result must value-hash-equal DuckDB result):
  * every computed column aliased identically on both sides;
  * float outputs rounded (4-6 dp) to kill libm ulp differences;
  * timestamps never emitted raw — rendered via date_format / strftime;
  * ties broken by explicit keys so results are order-insensitive-equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# §2.1/2.2 scans, projections, casts, derived columns
# ---------------------------------------------------------------------------

def q_scan_project_cast(spark, sf_dir):
    """S1/P1-P5: scan with pruned columns, casts, timestamp parts, derived
    arithmetic column (graft of Step1 format path)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.year("l_shipdate").cast("int").alias("ship_year"),
        F.month("l_shipdate").cast("int").alias("ship_month"),
        F.round(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4)
        .alias("revenue"),
    )


SQL_SCAN_PROJECT_CAST = """
SELECT l_orderkey AS orderkey,
       CAST(l_quantity AS INT) AS qty_int,
       CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
       CAST(EXTRACT(month FROM l_shipdate) AS INT) AS ship_month,
       ROUND(l_extendedprice * (1.0 - l_discount), 4) AS revenue
FROM lineitem
"""


def q_filter_bounds(spark, sf_dir):
    """F1/F5/F6: conjunctive bound predicates (sanity filters)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.where((F.col("l_quantity") >= 5) & (F.col("l_quantity") <= 45)
                     & (F.col("l_discount") > 0.01)
                     & (F.col("l_shipdate") >= F.lit("2021-01-01")))
            .select("l_orderkey", "l_linenumber", "l_quantity",
                    F.round("l_discount", 4).alias("disc")))


SQL_FILTER_BOUNDS = """
SELECT l_orderkey, l_linenumber, l_quantity, ROUND(l_discount, 4) AS disc
FROM lineitem
WHERE l_quantity >= 5 AND l_quantity <= 45
  AND l_discount > 0.01 AND l_shipdate >= TIMESTAMP '2021-01-01'
"""


def q_case_recode(spark, sf_dir):
    """C4: CASE-WHEN recode chain (graft of subtype recode, Step1:76-93) +
    frequency table (A4)."""
    o = _t(spark, sf_dir, "orders")
    code = (F.when(F.col("o_orderpriority").startswith("1"), "URG")
            .when(F.col("o_orderpriority").startswith("2"), "HI")
            .when(F.col("o_orderpriority").startswith("3"), "MED")
            .otherwise("LOW"))
    return (o.withColumn("prio_code", code)
            .groupBy("prio_code").agg(F.count("*").alias("n"))
            .select("prio_code", "n"))


SQL_CASE_RECODE = """
SELECT CASE WHEN o_orderpriority LIKE '1%' THEN 'URG'
            WHEN o_orderpriority LIKE '2%' THEN 'HI'
            WHEN o_orderpriority LIKE '3%' THEN 'MED'
            ELSE 'LOW' END AS prio_code,
       COUNT(*) AS n
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# §2.5 aggregations
# ---------------------------------------------------------------------------

def q_agg_multi(spark, sf_dir):
    """A2: grouped multi-aggregate (transition-matrix analog; TPC-H Q1
    shape — hash agg with partial+final for free)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("sum_rev"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.round(F.min("l_extendedprice"), 4).alias("min_price"),
                 F.round(F.max("l_extendedprice"), 4).alias("max_price"),
                 F.count("*").alias("n")))


SQL_AGG_MULTI = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_rev,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(MIN(l_extendedprice), 4) AS min_price,
       ROUND(MAX(l_extendedprice), 4) AS max_price,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_conditional_agg(spark, sf_dir):
    """A3: pivot-style conditional counts per group (per-user issue counts,
    Step6-Evaluation.R:7-39)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_error"),
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("n_signup"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_click"),
        F.round(F.sum(F.when(F.col("event_type") == "error",
                             F.col("value")).otherwise(0.0)), 4).alias("error_value"),
    ))


SQL_CONDITIONAL_AGG = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       ROUND(SUM(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END), 4)
           AS error_value
FROM events GROUP BY user_id
"""


def q_histogram(spark, sf_dir):
    """A1: fixed-width histogram (model-fit input in the reference,
    Step2:92-98 — here derived with one hash agg)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.withColumn("bucket", F.floor(F.col("value") / 25.0).cast("long"))
            .groupBy("bucket").agg(F.count("*").alias("n")))


SQL_HISTOGRAM = """
SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bucket, COUNT(*) AS n
FROM events GROUP BY 1
"""


def q_minmax_norm(spark, sf_dir):
    """A7: two-pass min-max normalization per group (Step2:213-216) —
    agg -> join-back -> scale, the distributed form of
    collect-scalars-then-mutate."""
    ev = _t(spark, sf_dir, "events")
    mm = ev.groupBy("event_type").agg(F.min("value").alias("vmin"),
                                      F.max("value").alias("vmax"))
    return (ev.join(F.broadcast(mm), "event_type")
            .select("event_id", "event_type",
                    F.round((F.col("value") - F.col("vmin"))
                            / (F.col("vmax") - F.col("vmin")), 6).alias("value_norm")))


SQL_MINMAX_NORM = """
SELECT e.event_id, e.event_type,
       ROUND((e.value - m.vmin) / (m.vmax - m.vmin), 6) AS value_norm
FROM events e
JOIN (SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
      FROM events GROUP BY event_type) m USING (event_type)
"""


def q_quantiles(spark, sf_dir):
    """A5: exact per-group percentiles (threshold derivation analog,
    Step3:1049-1056)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
                 F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90")))


SQL_QUANTILES = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# §2.4 joins
# ---------------------------------------------------------------------------

def q_join_broadcast_dim(spark, sf_dir):
    """J1/J5: small-dimension broadcast joins (demographics join,
    Step6:54-61 — O(n*m) loops in the reference, broadcast hash here)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy(F.col("r_name").alias("region_name"))
            .agg(F.count("*").alias("n_customers"),
                 F.round(F.avg("c_acctbal"), 4).alias("avg_bal")))


SQL_JOIN_BROADCAST_DIM = """
SELECT r.r_name AS region_name, COUNT(*) AS n_customers,
       ROUND(AVG(c.c_acctbal), 4) AS avg_bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1
"""


def q_join_anti(spark, sf_dir):
    """J2: left-anti join (REMOVE-set deletion, Step2:52-75)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_mktsegment"))


SQL_JOIN_ANTI = """
SELECT c_custkey, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_join_semi(spark, sf_dir):
    """J3: left-semi join / membership (Step4:313,368)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (p.join(li, p.p_partkey == li.l_partkey, "left_semi")
            .groupBy("p_brand").agg(F.count("*").alias("n_active_parts")))


SQL_JOIN_SEMI = """
SELECT p_brand, COUNT(*) AS n_active_parts FROM part p
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
GROUP BY p_brand
"""


def q_label_propagation(spark, sf_dir):
    """J4/C6: classification-driven label stamping — derive a per-user tier
    from an aggregate, broadcast-join it back, concat labels
    (Step3:849-949's cluster-label join, minus the O(n*m) loops)."""
    ev = _t(spark, sf_dir, "events")
    tiers = (ev.groupBy("user_id")
             .agg(F.sum("value").alias("total"))
             .withColumn("tier", F.when(F.col("total") > 8000, "T1")
                         .when(F.col("total") > 4000, "T2")
                         .otherwise("T3")))
    return (ev.join(F.broadcast(tiers.select("user_id", "tier")), "user_id")
            .withColumn("label", F.concat_ws("_", F.col("event_type"), F.col("tier")))
            .groupBy("label").agg(F.count("*").alias("n")))


SQL_LABEL_PROPAGATION = """
WITH tiers AS (
  SELECT user_id,
         CASE WHEN SUM(value) > 8000 THEN 'T1'
              WHEN SUM(value) > 4000 THEN 'T2' ELSE 'T3' END AS tier
  FROM events GROUP BY user_id)
SELECT CONCAT(e.event_type, '_', t.tier) AS label, COUNT(*) AS n
FROM events e JOIN tiers t USING (user_id)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# §2.6 window / sequence operators (the reference's core)
# ---------------------------------------------------------------------------

def _w_user():
    """Per-user sequence window (requires an active session)."""
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


def q_window_overlap_detect(spark, sf_dir):
    """W2/W3: interval overlap/containment against the next row.  Intervals
    are synthesized as [ts, ts + value seconds] (graft of episode
    overlap/within, Step3:25-36)."""
    ev = _t(spark, sf_dir, "events")
    end = F.unix_timestamp("ts") + F.col("value").cast("long")
    df = (ev.withColumn("start_s", F.unix_timestamp("ts"))
          .withColumn("end_s", end)
          .withColumn("next_start_s", F.lead("start_s").over(_w_user()))
          .withColumn("next_end_s", F.lead("end_s").over(_w_user())))
    overlap = (F.col("end_s") > F.col("next_start_s")) & \
              (F.col("end_s") < F.col("next_end_s"))
    within = (F.col("end_s") >= F.col("next_end_s")) & \
             (F.col("next_start_s").isNotNull())
    kind = (F.when(overlap, "OVERLAP").when(within, "WITHIN"))
    return (df.withColumn("kind", kind).where(F.col("kind").isNotNull())
            .select("user_id", "event_id", "kind"))


SQL_WINDOW_OVERLAP_DETECT = """
WITH iv AS (
  SELECT user_id, event_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS start_s,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT) + CAST(value AS BIGINT) AS end_s
  FROM events),
nx AS (
  SELECT *, LEAD(start_s) OVER w AS next_start_s,
            LEAD(end_s) OVER w AS next_end_s
  FROM iv WINDOW w AS (PARTITION BY user_id ORDER BY start_s, event_id))
SELECT user_id, event_id,
       CASE WHEN end_s > next_start_s AND end_s < next_end_s THEN 'OVERLAP'
            WHEN end_s >= next_end_s AND next_start_s IS NOT NULL THEN 'WITHIN'
       END AS kind
FROM nx
WHERE (end_s > next_start_s AND end_s < next_end_s)
   OR (end_s >= next_end_s AND next_start_s IS NOT NULL)
"""


def q_window_first_last(spark, sf_dir):
    """W4: first/last row of each group (first/last-episode handling,
    Step2:7-13,22-25)."""
    ev = _t(spark, sf_dir, "events")
    rn = F.row_number().over(_w_user())
    rnd = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id")))
    return (ev.withColumn("rn", rn).withColumn("rnd", rnd)
            .where((F.col("rn") == 1) | (F.col("rnd") == 1))
            .withColumn("position", F.when(F.col("rn") == 1, "FIRST")
                        .otherwise("LAST"))
            .select("user_id", "event_id", "position"))


SQL_WINDOW_FIRST_LAST = """
WITH r AS (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rnd
  FROM events)
SELECT user_id, event_id,
       CASE WHEN rn = 1 THEN 'FIRST' ELSE 'LAST' END AS position
FROM r WHERE rn = 1 OR rnd = 1
"""


def q_neighbor_context(spark, sf_dir):
    """W5: capture former/later neighbor attributes onto each row
    (Step2:27-36, Step3:53-93) — multiple lag/lead in one projection."""
    ev = _t(spark, sf_dir, "events")
    return (ev.select(
        "user_id", "event_id", "event_type",
        F.lag("event_type", 1).over(_w_user()).alias("former_type"),
        F.lead("event_type", 1).over(_w_user()).alias("later_type"),
        F.round(F.lag("value", 1).over(_w_user()), 4).alias("former_value"),
        F.round(F.lead("value", 1).over(_w_user()), 4).alias("later_value"),
        F.lead("event_type", 2).over(_w_user()).alias("later2_type")))


SQL_NEIGHBOR_CONTEXT = """
SELECT user_id, event_id, event_type,
       LAG(event_type, 1) OVER w AS former_type,
       LEAD(event_type, 1) OVER w AS later_type,
       ROUND(LAG(value, 1) OVER w, 4) AS former_value,
       ROUND(LEAD(value, 1) OVER w, 4) AS later_value,
       LEAD(event_type, 2) OVER w AS later2_type
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_gap_row_synthesis(spark, sf_dir):
    """W1/W6/O3: adjacent-row gap DETECTION (lead() over the user window,
    the Spark form of `endtime[i] < starttime[i+1]`, Step3:5-7) +
    synthesize a row per detected gap and union it back (MI-row synthesis
    + rbind + resort, Step3:10-22).  Absorbed the round-3 standalone
    `window_gap_detect` entry: the gap-detect window subquery here IS that
    operator, recomputed independently by the oracle, and folding it keeps
    the 50-entry driver correctness window intact."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select("user_id",
                     F.col("event_id").cast("long").alias("event_id"),
                     F.col("event_type").alias("kind"),
                     F.unix_timestamp("ts").alias("start_s"))
    gaps = (ev.withColumn("next_ts", F.lead("ts").over(_w_user()))
            .where((F.unix_timestamp("next_ts") - F.unix_timestamp("ts")) > 7200)
            .select("user_id",
                    (-F.col("event_id")).cast("long").alias("event_id"),
                    F.lit("GAP").alias("kind"),
                    F.unix_timestamp("ts").alias("start_s")))
    return base.unionByName(gaps)


SQL_GAP_ROW_SYNTHESIS = """
SELECT user_id, CAST(event_id AS BIGINT) AS event_id, event_type AS kind,
       CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS start_s
FROM events
UNION ALL
SELECT user_id, CAST(-event_id AS BIGINT) AS event_id, 'GAP' AS kind,
       CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS start_s
FROM (
  SELECT user_id, event_id, ts,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
  FROM events) t
WHERE CAST(FLOOR(EPOCH(next_ts)) AS BIGINT) - CAST(FLOOR(EPOCH(ts)) AS BIGINT) > 7200
"""


def q_run_collapse(spark, sf_dir):
    """W8: gaps-and-islands run detection + run merge (duplicate-run
    sessionization, Step5-Attribute-Redundancy.R:4-42): change flag ->
    running sum -> run id -> groupBy run."""
    ev = _t(spark, sf_dir, "events")
    change = (F.col("event_type")
              != F.coalesce(F.lag("event_type").over(_w_user()), F.lit("\x00")))
    run_id = F.sum(change.cast("long")).over(
        _w_user().rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (ev.withColumn("run_id", run_id)
            .groupBy("user_id", "run_id")
            .agg(F.first("event_type").alias("event_type"),
                 F.count("*").alias("run_len"),
                 F.min("event_id").alias("first_event_id"),
                 F.max("event_id").alias("last_event_id"),
                 F.round(F.sum("value"), 4).alias("run_value")))


SQL_RUN_COLLAPSE = """
WITH flagged AS (
  SELECT user_id, event_id, event_type, value,
         CASE WHEN event_type IS DISTINCT FROM
                   LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              THEN 1 ELSE 0 END AS change
  FROM events),
runs AS (
  SELECT *, CAST(SUM(change) OVER (PARTITION BY user_id ORDER BY event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
  FROM flagged)
SELECT user_id, run_id, MIN(event_type) AS event_type, COUNT(*) AS run_len,
       MIN(event_id) AS first_event_id, MAX(event_id) AS last_event_id,
       ROUND(SUM(value), 4) AS run_value
FROM runs GROUP BY user_id, run_id
"""


def q_adjacent_pair_calc(spark, sf_dir):
    """W9/W7/C1/C2/C7/C8: the full adjacent-pair calc family in ONE window
    pass over consecutive per-user events — time-midpoint interpolation
    arithmetic with the even/odd modular split (Step3:1142-1260), haversine
    distance (distance84, _Functions_.R:1-12, incl. its 4-decimal round)
    and the spherical geodesic midpoint (the great-circle analog of the
    reference's project->average->reproject midpoint, _Functions_.R:14-29).
    Merged from the round-3 `interp_midpoint` / `haversine_adjacent` /
    `geodesic_midpoint` entries: all three shared the same adjacent-pair
    row basis, so one entry keeps the 50-entry driver correctness window
    intact AND pays the lead() shuffle+sort once instead of three times.
    Coords derived deterministically from integer columns; trig rounded to
    4 dp to absorb libm ulp differences between engines."""
    ev = _t(spark, sf_dir, "events")
    lat = ((F.col("event_id") % 120) - 60 + F.lit(0.5)).cast("double")
    lon = (((F.col("event_id") * 7) % 360) - 180 + F.lit(0.25)).cast("double")
    df = (ev.withColumn("lat", lat).withColumn("lon", lon)
          .withColumn("next_ts", F.lead("ts").over(_w_user()))
          .withColumn("lat2", F.lead("lat").over(_w_user()))
          .withColumn("lon2", F.lead("lon").over(_w_user()))
          .where(F.col("next_ts").isNotNull()))
    gap_s = F.unix_timestamp("next_ts") - F.unix_timestamp("ts")
    gap_min = F.floor(gap_s / 60).cast("long")
    r = 6371.001
    rad = lambda c: F.radians(c)  # noqa: E731
    a = (F.sin((rad(F.col("lat2")) - rad(F.col("lat"))) / 2) ** 2
         + F.cos(rad(F.col("lat"))) * F.cos(rad(F.col("lat2")))
         * F.sin((rad(F.col("lon2")) - rad(F.col("lon"))) / 2) ** 2)
    dist = F.lit(2 * r) * F.asin(F.sqrt(a))
    la1, la2 = F.radians("lat"), F.radians("lat2")
    dlon = F.radians(F.col("lon2") - F.col("lon"))
    bx = F.cos(la2) * F.cos(dlon)
    by = F.cos(la2) * F.sin(dlon)
    lat_m = F.atan2(F.sin(la1) + F.sin(la2),
                    F.sqrt((F.cos(la1) + bx) ** 2 + by ** 2))
    lon_m = F.radians("lon") + F.atan2(by, F.cos(la1) + bx)
    return df.select(
        "user_id", "event_id",
        gap_min.alias("gap_min"),
        (gap_min % 2 == 0).alias("even_gap"),
        F.floor(gap_min / 2).cast("long").alias("half_gap"),
        (F.unix_timestamp("ts") + F.floor(gap_s / 2)).cast("long").alias("mid_s"),
        F.round(dist, 4).alias("dist_km"),
        F.round(F.degrees(lat_m), 4).alias("mid_lat"),
        F.round(F.degrees(lon_m), 4).alias("mid_lon"))


SQL_ADJACENT_PAIR_CALC = """
WITH pts AS (
  SELECT user_id, event_id, ts, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_s,
         CAST((event_id % 120) - 60 + 0.5 AS DOUBLE) AS lat,
         CAST(((event_id * 7) % 360) - 180 + 0.25 AS DOUBLE) AS lon
  FROM events),
nx AS (
  SELECT *, LEAD(ts_s) OVER w AS next_s,
         LEAD(lat) OVER w AS lat2, LEAD(lon) OVER w AS lon2
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
m AS (
  SELECT user_id, event_id, ts_s, next_s, lat, lon, lat2, lon2,
         RADIANS(lat) AS la1, RADIANS(lat2) AS la2,
         COS(RADIANS(lat2)) * COS(RADIANS(lon2 - lon)) AS bx,
         COS(RADIANS(lat2)) * SIN(RADIANS(lon2 - lon)) AS by,
         RADIANS(lon) AS lo1,
         CAST(FLOOR((next_s - ts_s) / 60) AS BIGINT) AS gap_min
  FROM nx WHERE next_s IS NOT NULL)
SELECT user_id, event_id, gap_min,
       gap_min % 2 = 0 AS even_gap,
       CAST(FLOOR(gap_min / 2) AS BIGINT) AS half_gap,
       ts_s + CAST(FLOOR((next_s - ts_s) / 2) AS BIGINT) AS mid_s,
       ROUND(2 * 6371.001 * ASIN(SQRT(
         POW(SIN((RADIANS(lat2) - RADIANS(lat)) / 2), 2)
         + COS(RADIANS(lat)) * COS(RADIANS(lat2))
           * POW(SIN((RADIANS(lon2) - RADIANS(lon)) / 2), 2))), 4) AS dist_km,
       ROUND(DEGREES(ATAN2(SIN(la1) + SIN(la2),
             SQRT((COS(la1) + bx) * (COS(la1) + bx) + by * by))), 4) AS mid_lat,
       ROUND(DEGREES(lo1 + ATAN2(by, COS(la1) + bx)), 4) AS mid_lon
FROM m
"""


def q_asof_join(spark, sf_dir):
    """As-of join — an operator Spark lacks natively, composed scale-right:
    for each 'click' event, the most recent 'signup' of the same user at or
    before its timestamp.  Instead of a per-row probe join, tag signup
    timestamps and take a running last_value(ignorenulls) over the user
    window — ONE shuffle by user_id, linear in the partition.  Tie rule:
    a signup at the exact click timestamp matches (>= semantics), enforced
    by sorting signups before clicks at equal ts.  Oracle: DuckDB's native
    ASOF LEFT JOIN."""
    ev = _t(spark, sf_dir, "events")
    is_sig = (F.col("event_type") == "signup").cast("int")
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").asc(), is_sig.desc(), F.col("event_id").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    df = (ev.withColumn("sig_ts", F.when(is_sig == 1, F.col("ts")))
          .withColumn("asof_ts", F.last("sig_ts", ignorenulls=True).over(w)))
    return (df.where(F.col("event_type") == "click")
            .select("event_id", "user_id",
                    F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("signup_ts"),
                    (F.unix_timestamp("ts") - F.unix_timestamp("asof_ts"))
                    .alias("gap_s")))


SQL_ASOF_JOIN = """
WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
s AS (SELECT * FROM events WHERE event_type = 'signup')
SELECT c.event_id, c.user_id,
       strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
       CAST(FLOOR(EPOCH(c.ts)) - FLOOR(EPOCH(s.ts)) AS BIGINT) AS gap_s
FROM c ASOF LEFT JOIN s ON c.user_id = s.user_id AND c.ts >= s.ts
"""


RANGE_JOIN_WINDOW_S = 300


def q_range_join(spark, sf_dir):
    """Range join, bucketized: pairs of same-user events within 300 s of
    each other.  A theta join on |ta - tb| <= W is O(n^2) per user; binning
    timestamps into W-second buckets and exploding one side into
    {bin-1, bin, bin+1} turns it into an equi-join on (user_id, bin) with
    bounded 3x fan-out — the standard range-join-as-equi-join rewrite.
    Each qualifying pair matches exactly once (the right row's bin is one
    of the left row's three), so no dedup pass is needed.  Oracle: plain
    inequality join in DuckDB."""
    w = RANGE_JOIN_WINDOW_S
    ev = _t(spark, sf_dir, "events")
    base = ev.select("user_id", "event_id", F.unix_timestamp("ts").alias("s"))
    bin_ = F.floor(F.col("s") / w).cast("long")
    a = base.select(
        "user_id", F.col("event_id").alias("event_a"), F.col("s").alias("sa"),
        F.explode(F.array(*[(bin_ + d).cast("long") for d in (-1, 0, 1)]))
        .alias("bin"))
    b = base.select(
        "user_id", F.col("event_id").alias("event_b"), F.col("s").alias("sb"),
        bin_.alias("bin"))
    return (a.join(b, ["user_id", "bin"])
            .where((F.col("event_a") < F.col("event_b"))
                   & (F.abs(F.col("sb") - F.col("sa")) <= w))
            .select("user_id", "event_a", "event_b",
                    (F.col("sb") - F.col("sa")).alias("dt_s")))


SQL_RANGE_JOIN = f"""
WITH t AS (SELECT user_id, event_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS s
           FROM events)
SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
       b.s - a.s AS dt_s
FROM t a JOIN t b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND ABS(b.s - a.s) <= {RANGE_JOIN_WINDOW_S}
"""


def q_json_extract(spark, sf_dir):
    """S-family: semi-structured column extraction (events.props JSON)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.max("k").alias("max_k")))


SQL_JSON_EXTRACT = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
"""

# ---------------------------------------------------------------------------
# registry (extended by demo_text_queries / demo_sim_queries)
# ---------------------------------------------------------------------------

def q_windowed_event_stats(spark, sf_dir):
    """Event-time tumbling-window aggregation (batch form of the streaming
    watermark path, engine/streaming/windowed.py): per (hour, event_type)
    count + value sum.  window() start == date_trunc hour for tumbling
    1-hour windows; cast back to NTZ so both engines compare naive."""
    from .streaming import windowed

    ev = _t(spark, sf_dir, "events")
    out = windowed.windowed_event_stats(ev)
    return out.withColumn(
        "window_start", F.col("window_start").cast("timestamp_ntz"))


SQL_WINDOWED_EVENT_STATS = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events, ROUND(SUM(value), 4) AS value_sum
FROM events GROUP BY 1, 2
"""


SESSION_GAP_MIN = 30


def q_session_window_stats(spark, sf_dir):
    """Native session-window aggregation (F.session_window, 30-min gap):
    per (user, session) event count, value sum and span.  For point
    events Spark's merge semantics equal gaps-and-islands, which is how
    the DuckDB oracle derives the same sessions (LAG -> gap flag ->
    running sum -> group).  Streaming-ready: the same expression runs
    under a watermark with state eviction per closed session."""
    ev = _t(spark, sf_dir, "events")
    sw = F.session_window("ts", f"{SESSION_GAP_MIN} minutes")
    return (ev.groupBy("user_id", sw.alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 4).alias("value_sum"),
                 F.min("event_id").alias("first_event_id"))
            .select("user_id",
                    F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("session_start"),
                    "n_events", "value_sum", "first_event_id"))


SQL_SESSION_WINDOW_STATS = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         -- strict >: verified against Spark (tests/test_session_boundary),
         -- session windows MERGE when they touch — an event at exactly
         -- gap after its predecessor stays in the SAME session, so only
         -- a strictly-larger gap starts a new one
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS session_id
  FROM flagged)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS value_sum,
       MIN(event_id) AS first_event_id
FROM sessions GROUP BY user_id, session_id
"""


def q_pivot_counts(spark, sf_dir):
    """Native pivot operator: per-user event counts spread into one column
    per event type (fixed value list, so no extra distinct-values job) —
    the wide form of conditional_agg's CASE aggregation."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .pivot("event_type", ["click", "view", "signup", "error"])
            .agg(F.count(F.lit(1)))
            .select("user_id",
                    F.coalesce("click", F.lit(0)).alias("n_click"),
                    F.coalesce("view", F.lit(0)).alias("n_view"),
                    F.coalesce("signup", F.lit(0)).alias("n_signup"),
                    F.coalesce("error", F.lit(0)).alias("n_error")))


SQL_PIVOT_COUNTS = """
SELECT user_id,
       CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
       CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
       CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_error
FROM events GROUP BY user_id
"""


FCM_CENTERS = [20.0, 100.0, 180.0]


def q_fuzzy_membership(spark, sf_dir):
    """M5 graft — fuzzy clustering membership scoring (the reference fits
    fanny() per stratum, Step2-Data-Incompleteness.R:333, Step3:502-505):
    fuzzy c-means membership degrees (m=2) of every event value against
    fixed centers, as pure column expressions (engine/refit.py
    fuzzy_membership_cols).  Center FITTING is the driver-side refit job
    (histogram + exact DP, refit.propose_strata); membership SCORING
    is a projection — the scale split that makes M5 viable at 10^12 rows.
    Rounded to 6 dp; denominator summed in center order in BOTH engines so
    float64 results are bit-identical."""
    from . import refit

    ev = _t(spark, sf_dir, "events")
    u = refit.fuzzy_membership_cols(F.col("value"), FCM_CENTERS)
    return (ev.select("event_id",
                      *[F.round(ui, 6).alias(f"u{i}") for i, ui in enumerate(u)])
            .orderBy("event_id"))


def _sql_fuzzy_membership() -> str:
    cs = FCM_CENTERS
    d2 = [f"((value - {c}) * (value - {c}))" for c in cs]
    denom = " + ".join(f"(1.0 / {d})" for d in d2)
    any_exact = " OR ".join(f"value = {c}" for c in cs)
    cols = []
    for i, c in enumerate(cs):
        cols.append(
            f"ROUND(CASE WHEN {any_exact} THEN "
            f"(CASE WHEN value = {c} THEN 1.0 ELSE 0.0 END) "
            f"ELSE (1.0 / {d2[i]}) / ({denom}) END, 6) AS u{i}")
    return ("SELECT event_id, " + ", ".join(cols)
            + " FROM events ORDER BY event_id")


SQL_FUZZY_MEMBERSHIP = _sql_fuzzy_membership()


QUERIES = {
    "fuzzy_membership": q_fuzzy_membership,
    "session_window_stats": q_session_window_stats,
    "pivot_counts": q_pivot_counts,
    "windowed_event_stats": q_windowed_event_stats,
    "scan_project_cast": q_scan_project_cast,
    "filter_bounds": q_filter_bounds,
    "case_recode": q_case_recode,
    "agg_multi": q_agg_multi,
    "conditional_agg": q_conditional_agg,
    "histogram": q_histogram,
    "minmax_norm": q_minmax_norm,
    "quantiles": q_quantiles,
    "join_broadcast_dim": q_join_broadcast_dim,
    "join_anti": q_join_anti,
    "join_semi": q_join_semi,
    "label_propagation": q_label_propagation,
    "window_overlap_detect": q_window_overlap_detect,
    "window_first_last": q_window_first_last,
    "neighbor_context": q_neighbor_context,
    "gap_row_synthesis": q_gap_row_synthesis,
    "run_collapse": q_run_collapse,
    "adjacent_pair_calc": q_adjacent_pair_calc,
    "asof_join": q_asof_join,
    "range_join": q_range_join,
    "json_extract": q_json_extract,
}

ORACLE_SQL = {
    "fuzzy_membership": SQL_FUZZY_MEMBERSHIP,
    "session_window_stats": SQL_SESSION_WINDOW_STATS,
    "pivot_counts": SQL_PIVOT_COUNTS,
    "asof_join": SQL_ASOF_JOIN,
    "range_join": SQL_RANGE_JOIN,
    "windowed_event_stats": SQL_WINDOWED_EVENT_STATS,
    "scan_project_cast": SQL_SCAN_PROJECT_CAST,
    "filter_bounds": SQL_FILTER_BOUNDS,
    "case_recode": SQL_CASE_RECODE,
    "agg_multi": SQL_AGG_MULTI,
    "conditional_agg": SQL_CONDITIONAL_AGG,
    "histogram": SQL_HISTOGRAM,
    "minmax_norm": SQL_MINMAX_NORM,
    "quantiles": SQL_QUANTILES,
    "join_broadcast_dim": SQL_JOIN_BROADCAST_DIM,
    "join_anti": SQL_JOIN_ANTI,
    "join_semi": SQL_JOIN_SEMI,
    "label_propagation": SQL_LABEL_PROPAGATION,
    "window_overlap_detect": SQL_WINDOW_OVERLAP_DETECT,
    "window_first_last": SQL_WINDOW_FIRST_LAST,
    "neighbor_context": SQL_NEIGHBOR_CONTEXT,
    "gap_row_synthesis": SQL_GAP_ROW_SYNTHESIS,
    "run_collapse": SQL_RUN_COLLAPSE,
    "adjacent_pair_calc": SQL_ADJACENT_PAIR_CALC,
    "json_extract": SQL_JSON_EXTRACT,
}
