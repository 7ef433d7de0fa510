"""Driver-facing oracle-checked queries (SURVEY §2 operator families).

Each ``q_*`` function takes ``(spark, sf_dir)`` and returns a DataFrame;
``ORACLE_SQL`` holds the DuckDB-equivalent ANSI SQL. Conventions chosen so
the driver's order-insensitive value-hash compare is byte-stable across
engines (SURVEY §7.2):

- bucket timestamps are emitted as BIGINT epoch seconds (``bucket_epoch_s``)
  — avoids TIMESTAMP vs TIMESTAMPTZ representation drift between Spark and
  DuckDB.
- double sums go through DECIMAL so the reduction is associative and
  order-independent, then cast back to double.
- percentiles (linear interpolation in both engines) are rounded to 6
  decimals to absorb last-bit formula differences.

The events table stands in for the transcript stream in these checks:
``user_id`` ≙ ``conv_id`` (series key), ``event_type`` ≙ ``role``,
``ts`` ≙ turn timestamp. The transcript-domain pipeline itself is
oracle-verified in ``tests/`` against pandas/DuckDB oracles.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _us(col):
    """Epoch microseconds; casts TIMESTAMP_NTZ→TIMESTAMP (session tz is UTC)."""
    return F.unix_micros(col.cast("timestamp"))


def _bucket_epoch(col, seconds: int):
    return (F.floor(_us(col) / F.lit(seconds * 1_000_000)) * seconds).cast("long")


def duck_double(v: float) -> str:
    """Exact double literal for DuckDB SQL.

    DuckDB's string→double parsing misrounds some shortest-repr
    literals by 1 ulp (observed on the WLS weight
    0.030932872398582494 → …cf instead of …ce), so float constants are
    emitted as ``mantissa * 2^exp``: the integer mantissa (< 2^53) and
    the power of two are both exact doubles and their product is an
    exact scaling — bit-identical to the Python/Spark constant.
    """
    import math

    if v == 0.0 or not math.isfinite(v):
        return repr(v)
    m, e = math.frexp(v)
    m53 = int(m * (1 << 53))
    return f"(CAST({m53} AS DOUBLE) * pow(2.0, {e - 53}))"


EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


# --------------------------------------------------------------------------
# R1: 1-minute tier rollup (SURVEY §2.4 A1/A2, M1 minimum slice)
# --------------------------------------------------------------------------
def q_rollup_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.col("user_id"),
            _bucket_epoch(F.col("ts"), 60).alias("bucket_epoch_s"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            *[
                F.count(F.when(F.col("event_type") == t, F.lit(1))).alias(f"n_{t}")
                for t in EVENT_TYPES
            ],
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum"),
        )
    )


# --------------------------------------------------------------------------
# R2: inter-event latency percentiles per hour (SURVEY §2.5 W7, §2.4 A10)
# --------------------------------------------------------------------------
def q_latency_pct_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lat = ev.withColumn(
        "latency_s",
        (_us(F.col("ts")) - F.lag(_us(F.col("ts"))).over(w)).cast("double")
        / F.lit(1000000.0),
    )
    from ecov003_l2t_stars_spark.functions.percentiles import (
        pct_from_sorted,
        sorted_vals,
    )

    grouped = lat.groupBy(
        F.col("user_id"),
        _bucket_epoch(F.col("ts"), 3600).alias("bucket_epoch_s"),
    ).agg(
        F.count("latency_s").alias("n_lat"),
        sorted_vals(F.col("latency_s")).alias("_arr"),
        F.max("latency_s").alias("latency_max"),
    )
    from ecov003_l2t_stars_spark.functions.percentiles import var_from_sorted

    grouped = grouped.withColumn(
        "_mean",
        F.when(
            F.size("_arr") > 0,
            F.aggregate(F.col("_arr"), F.lit(0.0), lambda a, x: a + x)
            / F.size("_arr").cast("double"),
        ),
    )
    return grouped.select(
        "user_id",
        "bucket_epoch_s",
        "n_lat",
        pct_from_sorted(F.col("_arr"), 0.5).alias("latency_p50"),
        pct_from_sorted(F.col("_arr"), 0.9).alias("latency_p90"),
        pct_from_sorted(F.col("_arr"), 0.99).alias("latency_p99"),
        "latency_max",
        var_from_sorted(F.col("_arr"), F.col("_mean")).alias("latency_var"),
    )


# --------------------------------------------------------------------------
# R3: tier cascade — 1d stats derived by re-aggregating the Spark 1m tier
# (SURVEY §2.4 "tier cascade"; oracle computes directly from raw rows)
# --------------------------------------------------------------------------
def q_rollup_1d_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    m1 = q_rollup_1m(spark, sf_dir)
    return m1.groupBy(
        F.col("user_id"),
        (F.floor(F.col("bucket_epoch_s") / F.lit(86400)) * 86400)
        .cast("long")
        .alias("bucket_epoch_s"),
    ).agg(
        F.sum("n_events").alias("n_events"),
        *[F.sum(f"n_{t}").alias(f"n_{t}") for t in EVENT_TYPES],
        F.sum(F.col("value_sum").cast("decimal(18,6)"))
        .cast("double")
        .alias("value_sum"),
    )


# --------------------------------------------------------------------------
# TPC-H Q1 analog: pricing summary (scan + filter + wide aggregate;
# SURVEY §2.2 P2/P6 scalar map + §2.4 aggregate family)
# --------------------------------------------------------------------------
def _dec_sum_to_double(c: Column) -> Column:
    """Frozen DECIMAL-sum → DOUBLE conversion (both engines identical).

    A direct decimal(38,14) → DOUBLE cast is correctly rounded in Spark
    (BigDecimal) but not in DuckDB (scaled-integer float math) — last-bit
    flips observed at sf0.001. Instead: reduce to scale 6 decimally
    (exact same half-up rounding both engines on positive values),
    extract the scaled integer exactly into BIGINT, convert (single
    correctly-rounded int→double both engines), and divide by 1e6 (one
    IEEE op on identical operands). DuckDB twin: ``_duck_dec_sum``.
    """
    scaled = (c.cast("decimal(24,6)") * F.lit(1_000_000).cast("decimal(7,0)"))
    return scaled.cast("long").cast("double") / F.lit(1_000_000.0)


def _duck_dec_sum(sum_sql: str) -> str:
    return (
        f"CAST(CAST(CAST({sum_sql} AS DECIMAL(24,6)) * 1000000 AS BIGINT) "
        "AS DOUBLE) / 1000000.0"
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operand decimal types are sized so the three-way product stays
    inside precision 38 WITHOUT intermediate rounding: price (12,2) ×
    factor (9,6) → (22,8); × (9,6) again → (32,14). At (18,4) operands
    the chain hits the precision-38 cap and Spark and DuckDB truncate
    scale DIFFERENTLY (seen at sf0.001). Output doubles go through the
    frozen :func:`_dec_sum_to_double` conversion."""
    li = _lineitem(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(8,6)")
    tax = F.col("l_tax").cast("decimal(8,6)")
    one = F.lit(1).cast("decimal(8,6)")
    disc_price = price * (one - disc)
    charge = disc_price * (one + tax)
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum_to_double(
                F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            ).alias("sum_qty"),
            _dec_sum_to_double(F.sum(price)).alias("sum_base_price"),
            _dec_sum_to_double(F.sum(disc_price)).alias("sum_disc_price"),
            _dec_sum_to_double(F.sum(charge)).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Gap-fill family (SURVEY §2.3 J1 calendar densify, §2.9 T3 locf/linear)
# --------------------------------------------------------------------------
def _hourly_value_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → hourly per-user value_sum 'tier' in the gap_fill schema."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.col("user_id").alias("conv_id"),
            F.timestamp_seconds(_bucket_epoch(F.col("ts"), 3600)).alias(
                "bucket_start"
            ),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum")
        )
    )


def _gapfill_query(method: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ecov003_l2t_stars_spark.operators.gapfill import gap_fill

        # materialized: gap_fill reads its input twice (grid spans +
        # obs) and the events aggregation would otherwise run twice
        # (rule 10). localCheckpoint so the blocks are ContextCleaner-
        # reclaimed instead of pinned in the CacheManager across calls
        tier = _hourly_value_tier(spark, sf_dir).localCheckpoint(eager=False)
        filled = gap_fill(tier, "1h", value_cols=("value_sum",), method=method)
        return filled.select(
            F.col("conv_id").alias("user_id"),
            F.unix_seconds("bucket_start").alias("bucket_epoch_s"),
            "value_sum",
            "gap_filled",
            "fill_method",
        )

    return q


q_gapfill_locf_1h = _gapfill_query("locf")
q_gapfill_linear_1h = _gapfill_query("linear")


def q_missing_buckets_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti expected-vs-observed (SURVEY §2.3 J4 watermark check)."""
    from ecov003_l2t_stars_spark.operators.gapfill import missing_buckets

    tier = _hourly_value_tier(spark, sf_dir)
    miss = missing_buckets(tier, "1h")
    return miss.groupBy(F.col("conv_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_missing")
    )


# --------------------------------------------------------------------------
# Trailing-window WLS trend (SURVEY §2.4 A6 / §2.5 W1+W3: the BRDF
# regression analog). Exponential recency weights are materialized as a
# LITERAL table shared by both engines (no libm exp() divergence), and
# every sum is a left fold over the bucket-ascending list, so results are
# bit-identical.
# --------------------------------------------------------------------------
WLS_WINDOW = 16
WLS_SCALE = 1.87
WLS_MIN_OBS = 7
_WLS_WEIGHTS = [
    float(np.exp(-0.5 * lag / WLS_SCALE)) for lag in range(WLS_WINDOW)
]


def q_wls_trend_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tier = _hourly_value_tier(spark, sf_dir).select(
        F.col("conv_id").alias("user_id"),
        (F.unix_seconds("bucket_start") / 3600).cast("long").alias("bidx"),
        F.col("value_sum").alias("y"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bidx")
        .rangeBetween(-(WLS_WINDOW - 1), 0)
    )
    wl = F.array(*[F.lit(v) for v in _WLS_WEIGHTS])
    df = tier.withColumn(
        "_arr", F.collect_list(F.struct("bidx", "y")).over(w)
    )

    cur = F.col("bidx")

    def fold(expr_fn):
        return F.aggregate(
            F.transform(F.col("_arr"), expr_fn), F.lit(0.0), lambda a, x: a + x
        )

    def wgt(e):
        return F.element_at(wl, (cur - e["bidx"]).cast("int") + F.lit(1))

    def xc(e):
        return (e["bidx"] - cur).cast("double")

    sw = fold(lambda e: wgt(e))
    sx = fold(lambda e: wgt(e) * xc(e))
    sxx = fold(lambda e: (wgt(e) * xc(e)) * xc(e))
    sy = fold(lambda e: wgt(e) * e["y"])
    sxy = fold(lambda e: (wgt(e) * xc(e)) * e["y"])
    det = sw * sxx - sx * sx
    n_obs = F.size("_arr")
    gate = n_obs >= WLS_MIN_OBS
    return df.select(
        "user_id",
        (cur * 3600).alias("bucket_epoch_s"),
        n_obs.alias("n_obs"),
        F.when(gate, (sw * sxy - sx * sy) / det).alias("trend"),
        F.when(gate, (sxx * sy - sx * sxy) / det).alias("level"),
    )


def _wls_oracle() -> str:
    # DuckDB parses bare numeric literals as DECIMAL — force DOUBLE so
    # the arithmetic matches Spark bit-for-bit; constants go through
    # duck_double because DuckDB's decimal-string parser misrounds some
    # of these weights by 1 ulp (5/95583 rows flipped at sf0.1)
    wlist = (
        "([" + ", ".join(duck_double(v) for v in _WLS_WEIGHTS)
        + "]::DOUBLE[])"
    )
    fold = (
        lambda inner: "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"{inner}), (a, b) -> a + b)"
    )
    w = f"{wlist}[CAST(tb - e.sb AS INT) + 1]"
    x = "CAST(e.sb - tb AS DOUBLE)"
    return f"""
        WITH tier AS (
            SELECT user_id,
                CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bidx,
                CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
            FROM events GROUP BY 1, 2
        ), pairs AS (
            SELECT t.user_id, t.bidx AS tb, s.bidx AS sb, s.y
            FROM tier t JOIN tier s
              ON s.user_id = t.user_id
             AND s.bidx BETWEEN t.bidx - {WLS_WINDOW - 1} AND t.bidx
        ), g AS (
            SELECT user_id, tb,
                list(struct_pack(sb := sb, y := y) ORDER BY sb) AS arr
            FROM pairs GROUP BY 1, 2
        ), sums AS (
            SELECT user_id, tb, len(arr) AS n_obs,
                {fold(f"list_transform(arr, e -> {w})")} AS sw,
                {fold(f"list_transform(arr, e -> {w} * {x})")} AS sx,
                {fold(f"list_transform(arr, e -> ({w} * {x}) * {x})")} AS sxx,
                {fold(f"list_transform(arr, e -> {w} * e.y)")} AS sy,
                {fold(f"list_transform(arr, e -> ({w} * {x}) * e.y)")} AS sxy
            FROM g
        )
        SELECT user_id, tb * 3600 AS bucket_epoch_s, n_obs,
            CASE WHEN n_obs >= {WLS_MIN_OBS}
                 THEN (sw * sxy - sx * sy) / (sw * sxx - sx * sx) END AS trend,
            CASE WHEN n_obs >= {WLS_MIN_OBS}
                 THEN (sxx * sy - sx * sxy) / (sw * sxx - sx * sx) END AS level
        FROM sums
    """


# --------------------------------------------------------------------------
# Dedup (exact) over documents (SURVEY §2.4 A8; training-data pipeline op)
# --------------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_unique_text"),
        F.sum("n_chars").alias("sum_chars"),
    )


# --------------------------------------------------------------------------
# Scalar map family (SURVEY §2.2): JSON access, bit-unpack predicate (P5),
# range clamp (P6), sentinel->NULL + mean imputation (P1/P12)
# --------------------------------------------------------------------------
def q_flags_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    flag = F.shiftright(k, 2).bitwiseAND(F.lit(3))  # P5 bit-unpack
    clamped = F.least(F.greatest(F.col("value"), F.lit(1.0)), F.lit(9.0))
    # sentinel: value > 9 treated as missing (P1), imputed with the
    # global decimal-exact mean (P12 mean-imputation, BRDF.py:27-45)
    cleaned = F.when(F.col("value") <= 9, F.col("value"))
    # global decimal-exact imputation mean as a 1-row broadcast crossjoin:
    # stays one lazy plan (no job at query-construction time, no extra
    # eager scan — the old .collect()[0][0] version forced one)
    mean_df = ev.agg(
        (
            F.sum(
                F.when(F.col("value") <= 9, F.col("value")).cast("decimal(18,6)")
            ).cast("double")
            / F.count(F.when(F.col("value") <= 9, F.lit(1))).cast("double")
        ).alias("_mean_val")
    )
    return ev.crossJoin(F.broadcast(mean_df)).select(
        "event_id",
        k.alias("k"),
        flag.alias("cloud_flag"),
        (flag > 0).alias("masked"),
        clamped.alias("value_clamped"),
        F.coalesce(cleaned, F.col("_mean_val")).alias("value_imputed"),
    )


def _flags_oracle() -> str:
    return """
        WITH m AS (
            SELECT CAST(SUM(CAST(CASE WHEN value <= 9 THEN value END
                        AS DECIMAL(18,6))) AS DOUBLE)
                   / CAST(COUNT(CASE WHEN value <= 9 THEN 1 END) AS DOUBLE)
                   AS mean_val
            FROM events
        )
        SELECT event_id,
            CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
            (CAST(json_extract_string(props, '$.k') AS BIGINT) >> 2) & 3
                AS cloud_flag,
            ((CAST(json_extract_string(props, '$.k') AS BIGINT) >> 2) & 3) > 0
                AS masked,
            least(greatest(value, CAST(1.0 AS DOUBLE)), CAST(9.0 AS DOUBLE))
                AS value_clamped,
            COALESCE(CASE WHEN value <= 9 THEN value END,
                     (SELECT mean_val FROM m)) AS value_imputed
        FROM events
    """


# --------------------------------------------------------------------------
# Grouped OLS calibration (SURVEY §2.4 A5: the fine-to-coarse calibration
# regression, calibrate_fine_to_coarse.py:36-58, with its min-obs guard).
# Explicit normal-equation formula over DECIMAL sums (regr_* twins exist
# in both engines but differ in float reduction order).
# --------------------------------------------------------------------------
def q_calibration_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _lineitem(spark, sf_dir)
    x = F.col("l_quantity").cast("decimal(12,3)")
    y = F.col("l_extendedprice").cast("decimal(14,3)")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    det = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / det
    intercept = (F.col("sy") - slope * F.col("sx")) / nd
    guard = F.col("n") >= 30  # reference: identity below 30 pairs
    return g.select(
        "l_returnflag",
        "n",
        F.when(guard, slope).otherwise(F.lit(1.0)).alias("slope"),
        F.when(guard, intercept).otherwise(F.lit(0.0)).alias("intercept"),
    )


def _calibration_oracle() -> str:
    return """
        WITH g AS (
            SELECT l_returnflag, COUNT(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(12,3))) AS DOUBLE) AS sx,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,3))) AS DOUBLE) AS sy,
                CAST(SUM(CAST(l_quantity AS DECIMAL(12,3))
                       * CAST(l_quantity AS DECIMAL(12,3))) AS DOUBLE) AS sxx,
                CAST(SUM(CAST(l_quantity AS DECIMAL(12,3))
                       * CAST(l_extendedprice AS DECIMAL(14,3))) AS DOUBLE) AS sxy
            FROM lineitem GROUP BY 1
        )
        SELECT l_returnflag, n,
            CASE WHEN n >= 30 THEN
                (CAST(n AS DOUBLE) * sxy - sx * sy)
                / (CAST(n AS DOUBLE) * sxx - sx * sx)
            ELSE CAST(1.0 AS DOUBLE) END AS slope,
            CASE WHEN n >= 30 THEN
                (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                       / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
                / CAST(n AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END AS intercept
        FROM g
    """


# --------------------------------------------------------------------------
# Derived ratios per bucket (SURVEY §2.2 P8 band-math analog:
# tool-turn share / activity composition)
# --------------------------------------------------------------------------
def q_role_share_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = q_rollup_1d_cascade(spark, sf_dir)
    nd = F.col("n_events").cast("double")
    return daily.select(
        "user_id",
        "bucket_epoch_s",
        "n_events",
        (F.col("n_click").cast("double") / nd).alias("click_share"),
        (F.col("n_error").cast("double") / nd).alias("error_share"),
        (
            (F.col("n_purchase") + F.col("n_signup")).cast("double") / nd
        ).alias("conversion_share"),
    )


def _role_share_oracle() -> str:
    return """
        WITH daily AS (
            SELECT user_id,
                CAST(FLOOR(epoch_us(ts) / 86400000000) * 86400 AS BIGINT)
                    AS bucket_epoch_s,
                COUNT(*) AS n_events,
                COUNT(*) FILTER (event_type = 'click') AS n_click,
                COUNT(*) FILTER (event_type = 'error') AS n_error,
                COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
                COUNT(*) FILTER (event_type = 'signup') AS n_signup
            FROM events GROUP BY 1, 2
        )
        SELECT user_id, bucket_epoch_s, n_events,
            CAST(n_click AS DOUBLE) / CAST(n_events AS DOUBLE) AS click_share,
            CAST(n_error AS DOUBLE) / CAST(n_events AS DOUBLE) AS error_share,
            CAST(n_purchase + n_signup AS DOUBLE) / CAST(n_events AS DOUBLE)
                AS conversion_share
        FROM daily
    """


# --------------------------------------------------------------------------
# Sessionization (engine-new; gaps-and-islands, 30-min inactivity)
# --------------------------------------------------------------------------
def q_sessionize_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecov003_l2t_stars_spark.operators.sessions import session_stats

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("conv_id"), "ts",
        F.col("event_id").alias("turn_idx"),
    )
    out = session_stats(ev, timeout_s=1800)
    return out.select(
        F.col("conv_id").alias("user_id"),
        "session_id", "n_turns", "start_us", "end_us", "duration_s",
    )


_SESSION_ORACLE = """
    WITH g AS (
        SELECT user_id, event_id, ts,
            CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS DOUBLE) / 1e6
                AS gap
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, ts,
            CAST(SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS BIGINT) AS session_id
        FROM g
    )
    SELECT user_id, session_id, COUNT(*) AS n_turns,
        MIN(epoch_us(ts)) AS start_us,
        MAX(epoch_us(ts)) AS end_us,
        CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS DOUBLE) / 1e6
            AS duration_s
    FROM s GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Join / set-op family (SURVEY §2.3 J3/J4/J7/J8, §2.7 U1)
# --------------------------------------------------------------------------
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way equi-join with broadcast dimensions (J8: the reference's
    tiny-LUT join, ``BRDF/BRDF.py:8-15``)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (J4: the reference's missing-arrival check,
    ``L2T_STARS.py:357-379``)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    no_orders = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    )
    return no_orders.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )


def q_orders_with_heavy_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (U3: date-membership intersect, fusion jl:317-318)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    heavy = li.where(F.col("l_quantity") > 45).select("l_orderkey")
    sel = orders.join(
        heavy, orders.o_orderkey == heavy.l_orderkey, "left_semi"
    )
    return sel.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


def q_latest_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user last observation (J5 as-of / W6 last-observation index:
    ``last() over rowsBetween(unboundedPreceding, 0)`` at the final row)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            _us(F.col("ts")).alias("last_ts_us"),
        )
    )


def q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName + dropDuplicates (U1: catalog concat+dedup,
    ``VIIRS/VNP09GA.py:1138``): overlapping slices collapse exactly."""
    ev = _events(spark, sf_dir)
    first_half = ev.where(F.col("event_id") % 3 <= 1)
    second_half = ev.where(F.col("event_id") % 3 >= 1)  # overlap at ==1
    both = first_half.unionByName(second_half).dropDuplicates(["event_id"])
    return both.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


ORACLE_SQL: dict[str, str] = {
    "revenue_by_nation": """
        SELECT n.n_name AS nation,
            COUNT(*) AS n_orders,
            CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
    """,
    "customers_without_orders": """
        SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        )
        GROUP BY 1
    """,
    "orders_with_heavy_items": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
        )
        GROUP BY 1
    """,
    "latest_event_type": """
        SELECT user_id, event_type AS last_event_type,
            epoch_us(ts) AS last_ts_us
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn FROM events
        ) WHERE rn = 1
    """,
    "union_dedup": """
        WITH merged AS (
            SELECT * FROM events WHERE event_id % 3 <= 1
            UNION
            SELECT * FROM events WHERE event_id % 3 >= 1
        )
        SELECT event_type, COUNT(*) AS n_events,
            COUNT(DISTINCT user_id) AS n_users
        FROM merged GROUP BY 1
    """,
    "rollup_1m": f"""
        SELECT
            user_id,
            CAST(FLOOR(epoch_us(ts) / 60000000) * 60 AS BIGINT) AS bucket_epoch_s,
            COUNT(*) AS n_events,
            {', '.join(f"COUNT(*) FILTER (event_type = '{t}') AS n_{t}" for t in EVENT_TYPES)},
            CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        FROM events
        GROUP BY 1, 2
    """,
    "latency_pct_1h": None,  # built below (frozen percentile formula)
    "rollup_1d_cascade": f"""
        SELECT
            user_id,
            CAST(FLOOR(epoch_us(ts) / 86400000000) * 86400 AS BIGINT) AS bucket_epoch_s,
            COUNT(*) AS n_events,
            {', '.join(f"COUNT(*) FILTER (event_type = '{t}') AS n_{t}" for t in EVENT_TYPES)},
            CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        FROM events
        GROUP BY 1, 2
    """,
    # Decimal plan (both engines stay EXACT, no scale truncation, so the
    # final double casts are bit-identical):
    #   Spark: price(12,2) x (9,6) -> (22,8); x (9,6) -> (32,14).
    #   DuckDB: width <= 18 uses an int64 fast path that OVERFLOWS on
    #   these products, so price is cast to (19,2) to force int128:
    #   (19,2) x (13,6) -> (33,8), cast losslessly to (24,8) (values
    #   < 10^16 at scale 8), x (13,6) -> (38,14).
    "pricing_summary": None,  # built below (needs _duck_dec_sum)
    "dedup_exact": """
        SELECT lang,
            COUNT(*) AS n_docs,
            COUNT(DISTINCT text) AS n_unique_text,
            CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        GROUP BY 1
    """,
}


def _latency_oracle() -> str:
    from ecov003_l2t_stars_spark.functions.percentiles import (
        duckdb_mean_expr,
        duckdb_pct_expr,
        duckdb_var_expr,
    )

    arr = "_arr"
    return f"""
        WITH lat AS (
            SELECT user_id, ts,
                CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) AS DOUBLE) / 1000000.0 AS latency_s
            FROM events
        ), grouped AS (
            SELECT
                user_id,
                CAST(FLOOR(epoch_us(ts) / 3600000000) * 3600 AS BIGINT)
                    AS bucket_epoch_s,
                COUNT(latency_s) AS n_lat,
                list_sort(list(latency_s) FILTER (latency_s IS NOT NULL))
                    AS {arr},
                MAX(latency_s) AS latency_max
            FROM lat
            GROUP BY 1, 2
        ), withmean AS (
            -- mean hoisted to its own column so the variance lambda
            -- never inlines the fold (rule-2 twin on the oracle side)
            SELECT *, {duckdb_mean_expr(arr)} AS _mean FROM grouped
        )
        SELECT user_id, bucket_epoch_s, n_lat,
            {duckdb_pct_expr(arr, 0.5)} AS latency_p50,
            {duckdb_pct_expr(arr, 0.9)} AS latency_p90,
            {duckdb_pct_expr(arr, 0.99)} AS latency_p99,
            latency_max,
            {duckdb_var_expr(arr, "_mean")} AS latency_var
        FROM withmean
    """


ORACLE_SQL["latency_pct_1h"] = _latency_oracle()
ORACLE_SQL["wls_trend_1h"] = _wls_oracle()
ORACLE_SQL["flags_decode"] = _flags_oracle()
ORACLE_SQL["calibration_regression"] = _calibration_oracle()
ORACLE_SQL["role_share_1d"] = _role_share_oracle()
ORACLE_SQL["sessionize_30m"] = _SESSION_ORACLE


_GAPFILL_BASE = """
    WITH agg AS (
        SELECT user_id,
            CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bidx,
            CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        FROM events GROUP BY 1, 2
    ), spans AS (
        SELECT user_id, MIN(bidx) AS lo, MAX(bidx) AS hi FROM agg GROUP BY 1
    ), grid AS (
        SELECT user_id, unnest(generate_series(lo, hi)) AS bidx FROM spans
    ), joined AS (
        SELECT g.user_id, g.bidx, a.value_sum,
            a.value_sum IS NOT NULL AS is_obs
        FROM grid g LEFT JOIN agg a USING (user_id, bidx)
    ), win AS (
        SELECT *,
            last_value(CASE WHEN is_obs THEN value_sum END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY bidx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS prev_v,
            last_value(CASE WHEN is_obs THEN bidx END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY bidx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS prev_t,
            first_value(CASE WHEN is_obs THEN value_sum END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY bidx
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                AS next_v,
            first_value(CASE WHEN is_obs THEN bidx END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY bidx
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                AS next_t
        FROM joined
    )
"""

ORACLE_SQL["gapfill_locf_1h"] = _GAPFILL_BASE + """
    SELECT user_id, bidx * 3600 AS bucket_epoch_s,
        CASE WHEN is_obs THEN value_sum ELSE prev_v END AS value_sum,
        NOT is_obs AS gap_filled,
        CASE WHEN is_obs THEN 'obs'
             WHEN prev_t IS NOT NULL THEN 'locf' END AS fill_method
    FROM win
"""

ORACLE_SQL["gapfill_linear_1h"] = _GAPFILL_BASE + """
    SELECT user_id, bidx * 3600 AS bucket_epoch_s,
        CASE WHEN is_obs THEN value_sum
             WHEN next_t IS NOT NULL AND prev_t IS NOT NULL THEN
                prev_v + (next_v - prev_v)
                    * (CAST(bidx - prev_t AS DOUBLE)
                       / CAST(next_t - prev_t AS DOUBLE))
             ELSE prev_v END AS value_sum,
        NOT is_obs AS gap_filled,
        CASE WHEN is_obs THEN 'obs'
             WHEN prev_t IS NOT NULL THEN 'linear' END AS fill_method
    FROM win
"""

ORACLE_SQL["missing_buckets_1h"] = """
    WITH agg AS (
        SELECT user_id,
            CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bidx
        FROM events GROUP BY 1
    ), spans AS (
        SELECT user_id, MIN(bidx) AS lo, MAX(bidx) AS hi,
               COUNT(DISTINCT bidx) AS n_obs
        FROM (SELECT user_id,
                CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bidx
              FROM events) GROUP BY 1
    )
    SELECT user_id, (hi - lo + 1) - n_obs AS n_missing
    FROM spans
    WHERE (hi - lo + 1) - n_obs > 0
"""


# --------------------------------------------------------------------------
# Ingestion availability/latency gate (SURVEY §2.1 S4 analog: the
# reference's granule-availability scan, ``L2T_STARS.py:343-388`` +
# ``VNP09GA.py:1034-1138``). The engine's manifest-backed version lives in
# plans/ingest.py (pytest-exercised against the real pipeline); this
# driver query runs the same classification shape over the static events
# table: sources = event_type, work unit = 1h bucket, give-up = 24h
# behind the newest event.
# --------------------------------------------------------------------------
def q_ingest_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    # ONE raw scan: pre-aggregate at (bucket, source) granularity
    # (map-side combinable), then derive both the per-bucket rollup and
    # the global clock/required-source count from that tiny table —
    # a second full scan of a 100 TB events table just for MAX(ts) and
    # COUNT(DISTINCT source) would double the job's I/O.
    base = (
        ev.select(
            _bucket_epoch(F.col("ts"), 3600).alias("bucket_epoch_s"),
            F.col("event_type"),
            us.alias("_us"),
        )
        .groupBy("bucket_epoch_s", "event_type")
        .agg(F.count(F.lit(1)).alias("_n"), F.max("_us").alias("_mx"))
    )
    # global required-source set + as-of clock via an unpartitioned
    # window over the PRE-AGGREGATED table (buckets × sources rows, not
    # raw events — a separate agg branch would rescan the raw table,
    # since the differently-pruned base subplans defeat ReusedExchange)
    wglob = Window.partitionBy()
    base = base.withColumn(
        "_n_req", F.size(F.collect_set("event_type").over(wglob))
    ).withColumn("_as_of_us", F.max("_mx").over(wglob))
    per = base.groupBy("bucket_epoch_s").agg(
        F.countDistinct("event_type").alias("n_sources"),
        F.sum("_n").alias("n_events"),
        F.max("_mx").alias("_last_us"),
        F.first("_n_req").alias("_n_req"),
        F.first("_as_of_us").alias("_as_of_us"),
    )
    giveup_us = 24 * 3600 * 1_000_000
    bucket_end_us = (F.col("bucket_epoch_s") + 3600) * F.lit(1_000_000)
    return per.select(
        "bucket_epoch_s",
        F.when(F.col("n_sources") >= F.col("_n_req"), F.lit("processable"))
        .when(
            bucket_end_us >= F.col("_as_of_us") - F.lit(giveup_us),
            F.lit("pending"),
        )
        .otherwise(F.lit("gave_up"))
        .alias("status"),
        "n_sources",
        "n_events",
        (
            (F.col("_last_us") - F.col("bucket_epoch_s") * F.lit(1_000_000))
            .cast("double")
            / F.lit(1_000_000.0)
        ).alias("span_s"),
    )


_INGEST_BACKLOG_ORACLE = """
    WITH b AS (
        SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) * 3600
                   AS bucket_epoch_s,
               event_type, epoch_us(ts) AS us
        FROM events
    ), per AS (
        SELECT bucket_epoch_s,
               COUNT(DISTINCT event_type) AS n_sources,
               COUNT(*) AS n_events,
               MAX(us) AS last_us
        FROM b GROUP BY 1
    ), g AS (
        SELECT COUNT(DISTINCT event_type) AS n_req,
               MAX(epoch_us(ts)) AS as_of_us
        FROM events
    )
    SELECT bucket_epoch_s,
        CASE WHEN n_sources >= n_req THEN 'processable'
             WHEN (bucket_epoch_s + 3600) * 1000000
                      >= as_of_us - 86400000000 THEN 'pending'
             ELSE 'gave_up' END AS status,
        n_sources, n_events,
        CAST(last_us - bucket_epoch_s * 1000000 AS DOUBLE) / 1000000.0
            AS span_s
    FROM per, g
"""


# --------------------------------------------------------------------------
# Trig projection chain (SURVEY §2.2 P13: the reference's solar-zenith
# geometry, ``BRDF/SZA.py:47-64`` — day-of-year → declination → hour
# angle → cos(SZA) → SZA degrees). libm sin/cos/acos differ in the last
# ulp between the JVM and DuckDB, so outputs are rounded to 6 decimals
# (the VERDICT r1 #7 convention); deg↔rad conversions use explicit
# literal factors because radians()/degrees() also differ in operation
# order between engines. "Latitude" is derived deterministically from
# user_id; local solar time from the epoch directly.
#
# The rounding itself must ALSO be frozen: Spark's round() does exact
# BigDecimal HALF_UP while DuckDB rounds in float arithmetic — they
# disagree on ~1e-4 of rows. Both sides therefore evaluate the same
# double-op formula sign(x) * floor(abs(x)*1e6 + 0.5) / 1e6, which is
# bit-identical regardless of either engine's decimal semantics.
# --------------------------------------------------------------------------
_RAD = 0.017453292519943295  # nearest double to pi/180
_DEG = 57.29577951308232     # nearest double to 180/pi


def _round6(x: Column) -> Column:
    return (
        F.signum(x)
        * F.floor(F.abs(x) * F.lit(1_000_000.0) + F.lit(0.5))
        / F.lit(1_000_000.0)
    )


def _duck_round6(x_sql: str) -> str:
    return (
        f"sign({x_sql}) * floor(abs({x_sql}) * 1000000.0 + 0.5) "
        "/ 1000000.0"
    )


def q_solar_angles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    lat_deg = (F.pmod(F.col("user_id"), F.lit(180)) - F.lit(90)).cast(
        "double"
    )
    doy = F.dayofyear(F.col("ts").cast("timestamp")).cast("double")
    # declination (degrees): -23.44 * cos((360/365.25) * (doy + 10) * RAD)
    decl_deg = F.lit(-23.44) * F.cos(
        (F.lit(360.0) / F.lit(365.25)) * (doy + F.lit(10.0)) * F.lit(_RAD)
    )
    # hour angle (degrees): 15 * (UTC solar hours - 12)
    hour = (
        F.pmod(us, F.lit(86_400_000_000)).cast("double")
        / F.lit(3_600_000_000.0)
    )
    ha_deg = F.lit(15.0) * (hour - F.lit(12.0))
    cos_sza = F.sin(lat_deg * F.lit(_RAD)) * F.sin(decl_deg * F.lit(_RAD)) + (
        F.cos(lat_deg * F.lit(_RAD))
        * F.cos(decl_deg * F.lit(_RAD))
        * F.cos(ha_deg * F.lit(_RAD))
    )
    sza_deg = (
        F.acos(F.least(F.greatest(cos_sza, F.lit(-1.0)), F.lit(1.0)))
        * F.lit(_DEG)
    )
    return ev.select(
        "event_id",
        _round6(decl_deg).alias("decl_deg"),
        _round6(ha_deg).alias("ha_deg"),
        _round6(sza_deg).alias("sza_deg"),
    )


_SOLAR_ORACLE = f"""
    WITH base AS (
        SELECT event_id,
            CAST((user_id % 180 + 180) % 180 - 90 AS DOUBLE) AS lat_deg,
            CAST(dayofyear(ts) AS DOUBLE) AS doy,
            CAST((epoch_us(ts) % 86400000000 + 86400000000)
                 % 86400000000 AS DOUBLE) / 3600000000.0 AS hour
        FROM events
    ), ang AS (
        SELECT event_id, lat_deg,
            -23.44::DOUBLE * cos((360.0::DOUBLE / 365.25::DOUBLE)
                * (doy + 10.0::DOUBLE) * {_RAD!r}::DOUBLE) AS decl_deg,
            15.0::DOUBLE * (hour - 12.0::DOUBLE) AS ha_deg
        FROM base
    ), c AS (
        SELECT event_id, decl_deg, ha_deg,
            sin(lat_deg * {_RAD!r}::DOUBLE) * sin(decl_deg * {_RAD!r}::DOUBLE)
            + cos(lat_deg * {_RAD!r}::DOUBLE) * cos(decl_deg * {_RAD!r}::DOUBLE)
              * cos(ha_deg * {_RAD!r}::DOUBLE) AS cos_sza
        FROM ang
    )
    SELECT event_id,
        {_duck_round6('decl_deg')} AS decl_deg,
        {_duck_round6('ha_deg')} AS ha_deg,
        {_duck_round6(
            f"acos(least(greatest(cos_sza, -1.0::DOUBLE), 1.0::DOUBLE))"
            f" * {_DEG!r}::DOUBLE"
        )} AS sza_deg
    FROM c
"""


# --------------------------------------------------------------------------
# Gorilla payload round-trip (SURVEY §2.10 codec + §2.1 S7 keyed sink):
# hourly tier → delta-of-delta + XOR-encoded binary segments → decode.
# The codec is bit-lossless, so the decoded rows must hash-match the
# plain hourly aggregate oracle — this puts the Arrow-batched codec
# itself under the driver's correctness gate (it was pytest-only).
# --------------------------------------------------------------------------
def q_payload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecov003_l2t_stars_spark.operators.payload import (
        decode_payloads,
        encode_payloads,
    )

    tier = _hourly_value_tier(spark, sf_dir).select(
        F.col("conv_id").cast("string").alias("conv_id"),
        "bucket_start",
        "value_sum",
    )
    segs = encode_payloads(tier, "1h", "value_sum")
    out = decode_payloads(segs)
    return out.select(
        F.col("conv_id").cast("long").alias("user_id"),
        F.unix_seconds(F.col("bucket_start").cast("timestamp")).alias(
            "bucket_epoch_s"
        ),
        F.col("value").alias("value_sum"),
    )


_PAYLOAD_ROUNDTRIP_ORACLE = """
    SELECT user_id,
        CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) * 3600
            AS bucket_epoch_s,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 1, 2
"""


def q_tool_counts_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted ``map<tool, count>`` per (user, 1h bucket) — the engine's
    ``tool_counts`` operator (operators/rollup.py:211) under the driver
    oracle. The map itself is the output shape under test; it is
    serialized to canonical JSON on BOTH engines because the Python
    drivers materialize MAP differently (Spark: dict, DuckDB:
    key/value-list dict) while their ``to_json`` render identically —
    the sorted-entry construction is what the hash certifies."""
    from ecov003_l2t_stars_spark.operators.rollup import tool_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts"),
        F.col("event_type").alias("tool"),
    )
    tc = tool_counts(df, "1h")
    return tc.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        F.unix_seconds(F.col("bucket_start")).alias("bucket_epoch_s"),
        F.to_json(F.col("tool_counts")).alias("tool_counts_json"),
        F.size(F.map_keys(F.col("tool_counts"))).cast("long").alias(
            "n_tools"
        ),
    )


ORACLE_SQL["tool_counts_1h"] = """
    WITH per AS (
        SELECT user_id,
            CAST(FLOOR(epoch_us(ts) / 3600000000) * 3600 AS BIGINT)
                AS bucket_epoch_s,
            event_type,
            COUNT(*) AS cnt
        FROM events
        WHERE event_type IS NOT NULL
        GROUP BY 1, 2, 3
    )
    SELECT user_id, bucket_epoch_s,
        CAST(to_json(map_from_entries(
            list_sort(list({'k': event_type, 'v': cnt}))
        )) AS VARCHAR) AS tool_counts_json,
        COUNT(*) AS n_tools
    FROM per
    GROUP BY 1, 2
"""


QUERIES = {
    "rollup_1m": q_rollup_1m,
    "latency_pct_1h": q_latency_pct_1h,
    "rollup_1d_cascade": q_rollup_1d_cascade,
    "pricing_summary": q_pricing_summary,
    "dedup_exact": q_dedup_exact,
    "gapfill_locf_1h": q_gapfill_locf_1h,
    "gapfill_linear_1h": q_gapfill_linear_1h,
    "missing_buckets_1h": q_missing_buckets_1h,
    "wls_trend_1h": q_wls_trend_1h,
    "revenue_by_nation": q_revenue_by_nation,
    "customers_without_orders": q_customers_without_orders,
    "orders_with_heavy_items": q_orders_with_heavy_items,
    "latest_event_type": q_latest_event_type,
    "union_dedup": q_union_dedup,
    "flags_decode": q_flags_decode,
    "calibration_regression": q_calibration_regression,
    "role_share_1d": q_role_share_1d,
    "sessionize_30m": q_sessionize_30m,
    "ingest_backlog": q_ingest_backlog,
    "solar_angles": q_solar_angles,
    "payload_roundtrip": q_payload_roundtrip,
    "tool_counts_1h": q_tool_counts_1h,
}

ORACLE_SQL["payload_roundtrip"] = _PAYLOAD_ROUNDTRIP_ORACLE

ORACLE_SQL["ingest_backlog"] = _INGEST_BACKLOG_ORACLE
ORACLE_SQL["solar_angles"] = _SOLAR_ORACLE

# pricing_summary: decimal widths per the q_pricing_summary docstring;
# DuckDB needs width >= 19 on one operand to leave its int64 fast path
# (which overflows on these products), a lossless (24,8) step before the
# third factor to stay under width 38, and the frozen _duck_dec_sum
# double conversion.
_DUCK_CHARGE = (
    "SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,2))"
    " * (CAST(1 AS DECIMAL(12,6)) - CAST(l_discount AS DECIMAL(12,6)))"
    " AS DECIMAL(24,8))"
    " * (CAST(1 AS DECIMAL(12,6)) + CAST(l_tax AS DECIMAL(12,6))))"
)
_DUCK_DISC_PRICE = (
    "SUM(CAST(l_extendedprice AS DECIMAL(19,2))"
    " * (CAST(1 AS DECIMAL(12,6)) - CAST(l_discount AS DECIMAL(12,6))))"
)
ORACLE_SQL["pricing_summary"] = f"""
    SELECT
        l_returnflag,
        l_linestatus,
        {_duck_dec_sum("SUM(CAST(l_quantity AS DECIMAL(19,2)))")} AS sum_qty,
        {_duck_dec_sum("SUM(CAST(l_extendedprice AS DECIMAL(19,2)))")}
            AS sum_base_price,
        {_duck_dec_sum(_DUCK_DISC_PRICE)} AS sum_disc_price,
        {_duck_dec_sum(_DUCK_CHARGE)} AS sum_charge,
        COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY 1, 2
"""
