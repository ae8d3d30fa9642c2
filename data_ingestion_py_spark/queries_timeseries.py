"""Time-series operators: gap-fill + LOCF, rolling time-range windows,
time-weighted averages, z-score outlier gates, winsorization, and a
deterministic KMV distinct sketch.

The reference stores page-timestamped snippets and event-like command
queues (data_ingestion.py:306-330, :487-503) but has no time-series
query surface at all; these are the hypertable-style operations an
engine replacing it at ingestion scale must serve (gap-filled rollups
for monitoring, rate/TWA for metering, outlier gates for curation,
sketches for cheap cardinality).

Parity discipline (see SURVEY.md §8): every aggregate that feeds a
comparison or a division is quantized to integer units first (cents /
micro-units) and summed exactly — the derived doubles are then
bit-identical across engines regardless of partial-aggregation order.
Windows that must be ordered carry a unique tie-break column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestion_py_spark.functions.ints import half_up_mean_sql, trunc_div_sql
from data_ingestion_py_spark.functions.time import ts_us
from data_ingestion_py_spark.io import load_table
from data_ingestion_py_spark.queries import register


# ---------------------------------------------------------------------------
# Gap-fill + last-observation-carried-forward
# ---------------------------------------------------------------------------


@register(
    "events_gap_fill_locf",
    """
WITH e AS (
    SELECT to_timestamp(CAST(floor(epoch(ts) / 600) AS BIGINT) * 600) AS bin,
           value
    FROM events WHERE event_type = 'error'
), binned AS (
    SELECT bin, count(*) AS n_events,
           ((2 * sum(CAST(round(value * 100) AS BIGINT)) * 100 + count(*))
               // (2 * count(*))) / 10000.0 AS bin_avg
    FROM e GROUP BY bin
), spine AS (
    SELECT unnest(generate_series(
        (SELECT min(bin) FROM binned),
        (SELECT max(bin) FROM binned),
        INTERVAL 10 MINUTE)) AS bin
), joined AS (
    SELECT s.bin, coalesce(b.n_events, 0) AS n_events, b.bin_avg
    FROM spine s LEFT JOIN binned b ON s.bin = b.bin
)
SELECT strftime(bin AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S') AS bin,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_events = 0 AS BOOLEAN) AS is_gap,
       last_value(bin_avg IGNORE NULLS)
           OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS locf_avg
FROM joined
""",
    tags=("timeseries", "gapfill"),
)
def q_events_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled 10-minute rollup of 'error' events with LOCF
    (last-observation-carried-forward) interpolation — the TimescaleDB
    ``time_bucket_gapfill`` + ``locf`` shape every monitoring rollup
    needs. The spine is generated from one 2-value aggregate via
    ``sequence`` + explode, so its size is bounded by the time range,
    not the data; the events table shuffles once (the bin rollup). The
    LOCF window is a single ordered pass over the *spine-sized* (not
    event-sized) table — at 100 TB you'd partition it by the series key
    (here there is one series). Bin averages are computed from exact
    cent sums so both engines derive identical doubles."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    bin_col = F.timestamp_seconds(
        (F.floor(F.unix_timestamp("ts") / 600)).cast("long") * 600
    )
    binned = (
        e.select(bin_col.alias("bin"), "value")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("_sum_c"),
        )
        # 4-dp HALF_UP average via pure integer arithmetic:
        # (2a+b) // (2b) — a float round() here can land on a
        # representation tie and flip the last digit between engines
        # (it did, at sf0.1); an integer divided by 10000.0 cannot.
        # Spark `div` and DuckDB `//` both truncate toward zero, so the
        # form is parity-exact for negative sums too (pinned by
        # tests/test_intmath.py).
        .select(
            "bin",
            "n_events",
            (
                F.expr(half_up_mean_sql("_sum_c", "n_events")) / 10000.0
            ).alias("bin_avg"),
        )
    )
    bounds = binned.agg(
        F.min("bin").alias("lo"), F.max("bin").alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 10 MINUTES"))
        ).alias("bin")
    )
    joined = spine.join(binned, "bin", "left").select(
        "bin",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        "bin_avg",
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        F.date_format("bin", "yyyy-MM-dd HH:mm:ss").alias("bin"),
        "n_events",
        (F.col("n_events") == 0).alias("is_gap"),
        F.last("bin_avg", ignorenulls=True).over(w).alias("locf_avg"),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day revenue (time-range window)
# ---------------------------------------------------------------------------


@register(
    "orders_rolling_7d_revenue",
    """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day_idx,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev
    FROM orders GROUP BY 1, 2
)
SELECT CAST(d AS VARCHAR) AS day,
       CAST(day_rev AS DOUBLE) AS day_revenue,
       CAST(sum(day_rev) OVER (
           ORDER BY day_idx
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS rolling_7d_revenue
FROM daily
""",
    tags=("timeseries", "window"),
)
def q_orders_rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day revenue via a RANGE window over an integer day
    index — the moving-aggregate shape (rates, SLAs, run-rate
    dashboards). The orders table shuffles once into the day rollup;
    the window then runs over the *day-sized* aggregate (~2.4k rows
    for 7 years), so the global sort is bounded by the calendar, not
    the data. RANGE (not ROWS) semantics make missing days count as
    zero contribution without gap-filling. Sums stay DECIMAL until the
    final cast so partial-agg order can't flip cents."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("d"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("day_idx"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
        .groupBy("d", "day_idx")
        .agg(F.sum("p").alias("day_rev"))
    )
    w = Window.orderBy("day_idx").rangeBetween(-6, 0)
    return daily.select(
        F.col("d").cast("string").alias("day"),
        F.col("day_rev").cast("double").alias("day_revenue"),
        F.sum("day_rev").over(w).cast("double").alias("rolling_7d_revenue"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average
# ---------------------------------------------------------------------------


@register(
    "events_time_weighted_avg",
    """
WITH seq AS (
    SELECT event_type,
           CAST(round(value * 100) AS BIGINT) AS v_cents,
           CAST(epoch_us(lead(ts) OVER
               (PARTITION BY event_type ORDER BY ts, event_id)) -
               epoch_us(ts) AS BIGINT) AS dur_us
    FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_intervals,
       round(CAST(sum(CAST(v_cents AS DECIMAL(38,0)) * dur_us) AS DOUBLE) /
             CAST(sum(CAST(dur_us AS DECIMAL(38,0))) AS DOUBLE) / 100.0,
             6) AS twa_value
FROM seq WHERE dur_us IS NOT NULL
GROUP BY event_type
""",
    tags=("timeseries", "twa"),
)
def q_events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted mean of `value` per event type — the metering
    / sensor-rollup aggregate where each observation holds until the
    next one (TimescaleDB ``time_weight('locf', ...)``). One shuffle on
    event_type for the lead window, then a hash aggregate. Values are
    quantized to exact cents and durations to exact microseconds, both
    summed as DECIMAL(38,0), so the final ratio is derived from
    identical integers in any engine / partial-agg order; int64 would
    already overflow at ~1e5 rows, which is why the sums are decimal."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
        (
            ts_us(F.lead("ts").over(w)) - ts_us(F.col("ts"))
        ).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(
            F.sum(F.col("v_cents").cast("decimal(38,0)") * F.col("dur_us")).cast(
                "double"
            )
            / F.sum(F.col("dur_us").cast("decimal(38,0)")).cast("double")
            / 100.0,
            6,
        ).alias("twa_value"),
    )


# ---------------------------------------------------------------------------
# Z-score outlier gate
# ---------------------------------------------------------------------------


@register(
    "events_zscore_outliers",
    """
WITH q AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
    FROM events
), stats AS (
    SELECT event_type,
           count(*) AS n,
           CAST(sum(vc) AS DOUBLE) / count(*) AS mean_c,
           sqrt((CAST(sum(CAST(vc AS DECIMAL(38,0)) * vc) AS DOUBLE) -
                 CAST(sum(vc) AS DOUBLE) * CAST(sum(vc) AS DOUBLE) / count(*))
                / (count(*) - 1)) AS std_c
    FROM q GROUP BY event_type
)
SELECT q.event_type,
       CAST(stats.n AS BIGINT) AS n,
       CAST(sum(CASE WHEN abs((vc - mean_c) / std_c) > 2.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(CAST(sum(CASE WHEN abs((vc - mean_c) / std_c) > 2.0
                           THEN 1 ELSE 0 END) AS DOUBLE) / stats.n, 6)
           AS outlier_pct
FROM q JOIN stats ON q.event_type = stats.event_type
GROUP BY q.event_type, stats.n
""",
    tags=("timeseries", "quality"),
)
def q_events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier gate (|z| > 2) — the numeric analogue
    of the text quality cascade: drop metric rows that sit far outside
    their group's distribution before they poison a training mix. Two
    passes over events (stats, then flag) with the 5-row stats table
    broadcast back — at 100 TB both are one shuffle each and the join
    never moves the fact table. Mean/stddev are derived from *exact*
    integer cent sums (sum, sum-of-squares in DECIMAL), so the derived
    doubles — and therefore every row's side of the > 2.0 comparison —
    are bit-identical across engines; a naive stddev_samp over raw
    doubles would make boundary rows flip with partial-agg order."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("vc")
    )
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("vc").cast("double") / F.count(F.lit(1))).alias("mean_c"),
        F.sqrt(
            (
                F.sum(F.col("vc").cast("decimal(38,0)") * F.col("vc")).cast("double")
                - F.sum("vc").cast("double")
                * F.sum("vc").cast("double")
                / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("std_c"),
    )
    z = F.abs((F.col("vc") - F.col("mean_c")) / F.col("std_c"))
    return (
        e.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.sum(F.when(z > 2.0, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.round(
                F.sum(F.when(z > 2.0, 1).otherwise(0)).cast("double") / F.col("n"),
                6,
            ).alias("outlier_pct"),
        )
        .select(
            "event_type", F.col("n").cast("long").alias("n"), "n_outliers",
            "outlier_pct",
        )
    )


# ---------------------------------------------------------------------------
# Winsorized statistics
# ---------------------------------------------------------------------------


@register(
    "orders_winsorized_stats",
    """
WITH b AS (
    SELECT quantile_cont(o_totalprice, 0.01) AS p01,
           quantile_cont(o_totalprice, 0.99) AS p99
    FROM orders
)
SELECT CAST(count(*) AS BIGINT) AS n,
       round(p01, 2) AS p01,
       round(p99, 2) AS p99,
       ((2 * sum(CAST(round(o_totalprice * 100) AS BIGINT)) * 100
         + count(*)) // (2 * count(*))) / 10000.0 AS raw_mean,
       ((2 * sum(CAST(round(
             least(greatest(o_totalprice, p01), p99) * 100) AS BIGINT)) * 100
         + count(*)) // (2 * count(*))) / 10000.0 AS winsorized_mean
FROM orders, b
GROUP BY p01, p99
""",
    tags=("timeseries", "quality"),
)
def q_orders_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip order totals at the exact p01/p99 quantiles
    and compare the clipped vs raw mean — the standard heavy-tail guard
    before loss-weighting or per-source budgeting. The 1-row quantile
    aggregate broadcasts into the scan (crossJoin of a scalar, the
    q15/q22 pattern — never a real cartesian); the clip itself is a
    narrow map. Exact ``percentile`` here; at 100 TB the swap is
    ``approx_percentile`` with the same plan shape. Means are derived
    from exact cent sums so both engines agree to the last bit."""
    o = load_table(spark, sf_dir, "orders")
    b = o.agg(
        F.percentile("o_totalprice", F.lit(0.01)).alias("p01"),
        F.percentile("o_totalprice", F.lit(0.99)).alias("p99"),
    )
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99"))
    return (
        o.crossJoin(F.broadcast(b))
        .groupBy("p01", "p99")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "_raw_c"
            ),
            F.sum(F.round(clipped * 100).cast("long")).alias("_win_c"),
        )
        # integer HALF_UP mean at 4 dp — see events_gap_fill_locf
        .withColumn(
            "raw_mean",
            F.expr(half_up_mean_sql("_raw_c", "n")) / 10000.0,
        )
        .withColumn(
            "winsorized_mean",
            F.expr(half_up_mean_sql("_win_c", "n")) / 10000.0,
        )
        .select(
            "n",
            F.round("p01", 2).alias("p01"),
            F.round("p99", 2).alias("p99"),
            "raw_mean",
            "winsorized_mean",
        )
    )


# ---------------------------------------------------------------------------
# KMV distinct sketch
# ---------------------------------------------------------------------------

_KMV_K = 64

_SQL_H32 = "(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT)"


@register(
    "events_kmv_distinct",
    f"""
WITH h AS (
    SELECT DISTINCT event_type, {_SQL_H32} AS h32 FROM events
), ranked AS (
    SELECT event_type, h32,
           row_number() OVER (PARTITION BY event_type ORDER BY h32) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n_exact
    FROM h
)
SELECT event_type,
       CAST(max(n_exact) AS BIGINT) AS exact_distinct,
       round(CASE WHEN max(n_exact) < {_KMV_K} THEN CAST(max(n_exact) AS DOUBLE)
                  ELSE ({_KMV_K} - 1) * 4294967296.0 /
                       max(CASE WHEN rn = {_KMV_K} THEN h32 END)
             END, 2) AS kmv_estimate
FROM ranked WHERE rn <= {_KMV_K}
GROUP BY event_type
""",
    tags=("sketch", "cardinality"),
)
def q_events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-user sketch per event type:
    keep the k=64 smallest 32-bit md5 hashes of user_id; the k-th
    minimum's position in hash space estimates the cardinality as
    (k-1) / (h_k / 2^32). Unlike HyperLogLog this construction is
    exactly reproducible in any engine (md5 column algebra, no salted
    native sketch state), mergeable (union of k-min sets re-trimmed to
    k), and oracle-checkable — the deterministic stand-in for
    ``approx_count_distinct`` at 100 TB, where the exact-distinct
    column here would be dropped and the per-partition k-min sets
    merged instead of windowed. Exact distinct is carried alongside to
    show the estimate lands within KMV's ~1/sqrt(k) ≈ 12% band."""
    e = load_table(spark, sf_dir, "events")
    h = (
        e.select(
            "event_type",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            .alias("h32"),
        )
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h32")
    wc = Window.partitionBy("event_type")
    ranked = h.select(
        "event_type",
        "h32",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_exact"),
    ).filter(F.col("rn") <= _KMV_K)
    return ranked.groupBy("event_type").agg(
        F.max("n_exact").cast("long").alias("exact_distinct"),
        F.round(
            F.when(
                F.max("n_exact") < _KMV_K, F.max("n_exact").cast("double")
            ).otherwise(
                (_KMV_K - 1)
                * 4294967296.0
                / F.max(F.when(F.col("rn") == _KMV_K, F.col("h32")))
            ),
            2,
        ).alias("kmv_estimate"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

# geometry lives in functions/sketch.py (shared with the streaming
# maintainer); the oracle below inlines the same numbers
from data_ingestion_py_spark.functions.sketch import CMS_D as _CMS_D
from data_ingestion_py_spark.functions.sketch import CMS_W as _CMS_W

_SQL_CMS_KEY = "(CAST(user_id AS VARCHAR) || '@' || CAST(CAST(ts AS DATE) AS VARCHAR))"


def _sql_cms_bucket(key: str, j: str) -> str:
    return (
        f"(('0x' || substr(md5({key} || '#' || CAST({j} AS VARCHAR)), 1, 8))"
        f"::BIGINT % {_CMS_W})"
    )


@register(
    "events_cms_heavy_hitters",
    f"""
WITH cnts AS (
    SELECT {_SQL_CMS_KEY} AS k, count(*) AS c FROM events GROUP BY 1
), sketch AS (
    SELECT j, {_sql_cms_bucket('k', 'j')} AS bucket, sum(c) AS cell
    FROM cnts CROSS JOIN generate_series(0, {_CMS_D - 1}) AS js(j)
    GROUP BY 1, 2
), top AS (
    SELECT k, c FROM cnts ORDER BY c DESC, k LIMIT 10
), probe AS (
    SELECT t.k, t.c, j, {_sql_cms_bucket('t.k', 'j')} AS bucket
    FROM top t CROSS JOIN generate_series(0, {_CMS_D - 1}) AS js(j)
)
SELECT p.k AS activity_key,
       CAST(max(p.c) AS BIGINT) AS exact_cnt,
       CAST(min(s.cell) AS BIGINT) AS cms_estimate,
       CAST(min(s.cell) - max(p.c) AS BIGINT) AS overcount
FROM probe p
JOIN sketch s ON s.j = p.j AND s.bucket = p.bucket
GROUP BY 1
""",
    tags=("sketch", "heavy-hitters"),
)
def q_events_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over (user, day) activity keys: d=3 hash rows ×
    w=256 counters — a fixed 768-cell table that answers "how often did
    key x occur?" with one-sided error ≤ e·N/w (never an undercount;
    ``overcount`` surfaces the realized error next to the bound). The
    KMV sibling sketches cardinality; this sketches FREQUENCY.

    Scale shape: the build is one groupBy over a FIXED 768-key space —
    map-side partials collapse each partition to ≤768 rows before the
    shuffle, so the shuffle is O(partitions·d·w) regardless of corpus
    size (vs a corpus-keyed groupBy whose shuffle grows with distinct
    keys). Sketches over shards/days MERGE by cell-wise sum, the same
    synopsis property ``events_kmv_rollup_merge`` demonstrates for
    distinct counts. Probing broadcasts the 768-row sketch. Exact
    counts ride alongside only to exhibit the error; at 100 TB you keep
    the sketch and drop the exact pass. md5 bucket arithmetic replays
    bit-identically in the DuckDB oracle (house style: no native
    salted sketch state, unlike ``approx_count_distinct``/CountMinSketch
    in Spark, which cannot be oracle-checked). Cell construction is
    shared with the STREAMING maintainer (``functions/sketch.py``,
    ``streaming.pipeline.cms_batch_processor``) so the streamed state is
    cell-identical to a batch rebuild."""
    from data_ingestion_py_spark.functions.sketch import (
        cms_bucket,
        cms_cells,
        cms_key,
    )

    e = load_table(spark, sf_dir, "events")
    cnts = (
        e.select(cms_key(F.col("user_id"), F.col("ts")).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sketch = cms_cells(e)
    js = F.explode(F.array(*[F.lit(j) for j in range(_CMS_D)])).alias("j")
    top = cnts.orderBy(F.col("c").desc(), "k").limit(10)
    probe = top.select("k", "c", js).select(
        "k", "c", "j", cms_bucket(F.col("k"), F.col("j")).alias("bucket")
    )
    return (
        probe.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy(F.col("k").alias("activity_key"))
        .agg(
            F.max("c").cast("long").alias("exact_cnt"),
            F.min("cell").cast("long").alias("cms_estimate"),
            (F.min("cell") - F.max("c")).cast("long").alias("overcount"),
        )
    )


@register(
    "events_gap_fill_interp",
    """
WITH e AS (
    SELECT to_timestamp(CAST(floor(epoch(ts) / 600) AS BIGINT) * 600) AS bin,
           value
    FROM events WHERE event_type = 'error'
), binned AS (
    SELECT bin, count(*) AS n_events,
           ((2 * sum(CAST(round(value * 100) AS BIGINT)) * 100 + count(*))
               // (2 * count(*))) AS avg_u
    FROM e GROUP BY bin
), spine AS (
    SELECT unnest(generate_series(
        (SELECT min(bin) FROM binned),
        (SELECT max(bin) FROM binned),
        INTERVAL 10 MINUTE)) AS bin
), j AS (
    SELECT s.bin, CAST(epoch(s.bin) AS BIGINT) // 600 AS idx,
           coalesce(b.n_events, 0) AS n_events, b.avg_u
    FROM spine s LEFT JOIN binned b ON s.bin = b.bin
), w AS (
    SELECT bin, idx, n_events,
           last_value(avg_u IGNORE NULLS) OVER
               (ORDER BY idx ROWS UNBOUNDED PRECEDING) AS pv,
           last_value(CASE WHEN avg_u IS NOT NULL THEN idx END IGNORE NULLS)
               OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING) AS pi,
           first_value(avg_u IGNORE NULLS) OVER
               (ORDER BY idx ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS nv,
           first_value(CASE WHEN avg_u IS NOT NULL THEN idx END IGNORE NULLS)
               OVER (ORDER BY idx ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS ni
    FROM j
)
SELECT strftime(bin AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S') AS bin,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_events = 0 AS BOOLEAN) AS is_gap,
       (CASE WHEN ni = pi THEN pv
             ELSE pv + ((2 * ((nv - pv) * (idx - pi)) + (ni - pi))
                        // (2 * (ni - pi))) END) / 10000.0 AS interp_avg
FROM w
""",
    tags=("timeseries", "gapfill"),
)
def q_events_gap_fill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled 10-minute rollup with LINEAR interpolation — the
    ``time_bucket_gapfill`` + ``interpolate`` sibling of
    ``events_gap_fill_locf`` (LOCF holds the last level; interpolation
    draws the line to the next observation — the right fill for
    continuous gauges vs stepwise counters). Same scale shape: the
    events table shuffles once into the bin rollup, the spine is
    calendar-bounded, and the four neighbor windows run over the
    SPINE-sized table (partition by series key at 100 TB). The
    interpolation is exact integer arithmetic in 1e-4 units —
    ``pv + trunc_div(2*(nv-pv)*(k) + n, 2*n)`` with both engines
    truncating toward zero (``functions/ints.py``) — so the hash gate
    is drift-free; interior gaps always have both neighbors because
    the spine is bounded by observed bins (ni=pi only on known bins,
    where the value passes through untouched)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    bin_col = F.timestamp_seconds(
        (F.floor(F.unix_timestamp("ts") / 600)).cast("long") * 600
    )
    binned = (
        e.select(bin_col.alias("bin"), "value")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("_sum_c"),
        )
        .select(
            "bin",
            "n_events",
            F.expr(half_up_mean_sql("_sum_c", "n_events")).alias("avg_u"),
        )
    )
    bounds = binned.agg(F.min("bin").alias("lo"), F.max("bin").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 10 MINUTES"))).alias(
            "bin"
        )
    )
    j = spine.join(binned, "bin", "left").select(
        "bin",
        (F.unix_timestamp("bin").cast("long") / 600).cast("long").alias("idx"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        "avg_u",
    )
    wp = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("idx").rowsBetween(0, Window.unboundedFollowing)
    known_idx = F.when(F.col("avg_u").isNotNull(), F.col("idx"))
    w = j.select(
        "bin",
        "idx",
        "n_events",
        F.last("avg_u", ignorenulls=True).over(wp).alias("pv"),
        F.last(known_idx, ignorenulls=True).over(wp).alias("pi"),
        F.first("avg_u", ignorenulls=True).over(wn).alias("nv"),
        F.first(known_idx, ignorenulls=True).over(wn).alias("ni"),
    )
    interp_u = F.when(F.col("ni") == F.col("pi"), F.col("pv")).otherwise(
        F.col("pv")
        + F.expr(
            trunc_div_sql("2 * ((nv - pv) * (idx - pi)) + (ni - pi)", "2 * (ni - pi)")
        )
    )
    return w.select(
        F.date_format("bin", "yyyy-MM-dd HH:mm:ss").alias("bin"),
        "n_events",
        (F.col("n_events") == 0).alias("is_gap"),
        (interp_u / 10000.0).alias("interp_avg"),
    )


@register(
    "events_cusum_changepoints",
    """
WITH hourly AS (
    SELECT event_type,
           to_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600)
               AS hr,
           count(*) AS x
    FROM events GROUP BY 1, 2
), base AS (
    SELECT event_type,
           ((2 * sum(x) * 10000 + count(*)) // (2 * count(*))) AS mu_u
    FROM hourly GROUP BY 1
), dev AS (
    SELECT h.event_type, h.hr, h.x, b.mu_u, (h.x * 10000 - b.mu_u) AS d
    FROM hourly h JOIN base b USING (event_type)
), pre AS (
    SELECT event_type, hr, x, mu_u,
           sum(d) OVER (PARTITION BY event_type ORDER BY hr
                        ROWS UNBOUNDED PRECEDING) AS p
    FROM dev
), cusum AS (
    SELECT event_type, hr, x, mu_u,
           p - least(min(p) OVER (PARTITION BY event_type ORDER BY hr
                                  ROWS UNBOUNDED PRECEDING), 0) AS s
    FROM pre
)
SELECT event_type,
       strftime(hr AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(x AS BIGINT) AS n_events,
       CAST(s AS BIGINT) AS cusum_u
FROM cusum WHERE s > 5 * mu_u
""",
    tags=("timeseries", "changepoint"),
)
def q_events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM level-shift detection per event type: hours
    where the cumulative positive deviation from the type's mean rate
    exceeds 5 baseline-hours — the sequential-detection complement of
    ``events_burst_hours`` (burst = single-hour spike vs trailing
    window; CUSUM accumulates SMALL sustained shifts a spike test
    misses). The reset-at-zero recursion S_t = max(0, S_{t-1} + d_t)
    is deliberately rewritten as the prefix identity
    ``S_t = P_t − min(0, min_{i≤t} P_i)`` so it runs as two per-key
    windows over the hour-grain rollup — no recursive/sequential
    operator, both engines replay it exactly. All integer 1e-4 units
    (half-up mean, cent-free counts): no float drift. Computed over
    OBSERVED hours; a production monitor gap-fills the spine first
    (``events_gap_fill_locf``). Scale: windows partition by event
    type over the calendar-bounded rollup — never row-proportional."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            F.timestamp_seconds(
                (F.floor(F.unix_timestamp("ts") / 3600)).cast("long") * 3600
            ).alias("hr"),
        )
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    base = hourly.groupBy("event_type").agg(
        F.expr(half_up_mean_sql("sum(x)", "count(1)", scale=10000)).alias(
            "mu_u"
        )
    )
    dev = hourly.join(base, "event_type").withColumn(
        "d", F.col("x") * 10000 - F.col("mu_u")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = dev.withColumn("p", F.sum("d").over(wcum))
    cusum = pre.withColumn(
        "s", F.col("p") - F.least(F.min("p").over(wcum), F.lit(0).cast("long"))
    )
    return cusum.where(F.col("s") > 5 * F.col("mu_u")).select(
        "event_type",
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.col("x").cast("long").alias("n_events"),
        F.col("s").cast("long").alias("cusum_u"),
    )


_KMV_KEY_SQL = (
    "(CAST(user_id AS VARCHAR) || '@' || CAST(CAST(ts AS DATE) AS VARCHAR))"
)
_KMV_H32_SQL = f"(('0x' || substr(md5({_KMV_KEY_SQL}), 1, 8))::BIGINT)"


@register(
    "events_kmv_set_overlap",
    f"""
WITH h AS (
    SELECT DISTINCT event_type, {_KMV_H32_SQL} AS h32 FROM events
), pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b
    FROM (SELECT DISTINCT event_type FROM h) a
    JOIN (SELECT DISTINCT event_type FROM h) b
      ON a.event_type < b.event_type
), uh AS (
    SELECT p.type_a, p.type_b, h.h32,
           max(CASE WHEN h.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
           max(CASE WHEN h.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b
    FROM pairs p JOIN h ON h.event_type IN (p.type_a, p.type_b)
    GROUP BY 1, 2, 3
), ranked AS (
    SELECT type_a, type_b, h32, in_a, in_b,
           row_number() OVER (PARTITION BY type_a, type_b ORDER BY h32)
               AS rn,
           count(*) OVER (PARTITION BY type_a, type_b) AS n_union,
           sum(in_a * in_b) OVER (PARTITION BY type_a, type_b)
               AS n_overlap
    FROM uh
)
SELECT type_a, type_b,
       CAST(max(n_union) AS BIGINT) AS exact_union,
       round(CAST(max(n_overlap) AS DOUBLE) / max(n_union), 6)
           AS exact_jaccard,
       round(CASE WHEN max(n_union) < {_KMV_K}
                  THEN CAST(max(n_union) AS DOUBLE)
                  ELSE ({_KMV_K} - 1) * 4294967296.0 /
                       max(CASE WHEN rn = {_KMV_K} THEN h32 END) END, 2)
           AS kmv_union,
       round(CAST(sum(in_a * in_b) AS DOUBLE)
             / least(max(n_union), {_KMV_K}), 6) AS kmv_jaccard
FROM ranked WHERE rn <= {_KMV_K}
GROUP BY 1, 2
""",
    tags=("sketch", "cardinality", "set-algebra"),
)
def q_events_kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV SET ALGEBRA — the join-size estimator: for every event-type
    pair, estimate |A∪B| from the union's k-th minimum hash and
    Jaccard(A,B) from the fraction of the union's k smallest hashes
    present in BOTH sets (Beyer et al.'s KMV intersection estimator);
    |A∩B| ≈ J·|A∪B| prices a join before running it. Sets are (user,
    day) activity keys per type. Exact union/Jaccard ride alongside to
    exhibit the ~1/√k error — at 100 TB you keep only the per-type
    k-min synopses (mergeable, `events_kmv_rollup_merge`) and estimate
    any pair's overlap WITHOUT touching raw data: the same trick a
    CBO uses to order joins. Membership flags make the union sketch a
    one-pass window over per-pair distinct hashes; at scale the
    synopses are k-row tables and the pair join is synopsis×synopsis,
    never data×data. md5 hashing replays exactly in DuckDB."""
    e = load_table(spark, sf_dir, "events")
    key = F.concat(
        F.col("user_id").cast("string"),
        F.lit("@"),
        F.date_format("ts", "yyyy-MM-dd"),
    )
    h = (
        e.select(
            "event_type",
            F.conv(F.substring(F.md5(key), 1, 8), 16, 10)
            .cast("long")
            .alias("h32"),
        )
        .distinct()
    )
    types = h.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    uh = (
        pairs.join(
            h,
            (h["event_type"] == F.col("type_a"))
            | (h["event_type"] == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "h32")
        .agg(
            F.max(
                (F.col("event_type") == F.col("type_a")).cast("int")
            ).alias("in_a"),
            F.max(
                (F.col("event_type") == F.col("type_b")).cast("int")
            ).alias("in_b"),
        )
    )
    wp = Window.partitionBy("type_a", "type_b")
    ranked = uh.select(
        "type_a",
        "type_b",
        "h32",
        "in_a",
        "in_b",
        F.row_number().over(wp.orderBy("h32")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n_union"),
        F.sum(F.col("in_a") * F.col("in_b")).over(wp).alias("n_overlap"),
    ).filter(F.col("rn") <= _KMV_K)
    return ranked.groupBy("type_a", "type_b").agg(
        F.max("n_union").cast("long").alias("exact_union"),
        F.round(
            F.max("n_overlap").cast("double") / F.max("n_union"), 6
        ).alias("exact_jaccard"),
        F.round(
            F.when(
                F.max("n_union") < _KMV_K, F.max("n_union").cast("double")
            ).otherwise(
                (_KMV_K - 1)
                * 4294967296.0
                / F.max(F.when(F.col("rn") == _KMV_K, F.col("h32")))
            ),
            2,
        ).alias("kmv_union"),
        F.round(
            F.sum(F.col("in_a") * F.col("in_b")).cast("double")
            / F.least(F.max("n_union"), F.lit(_KMV_K)),
            6,
        ).alias("kmv_jaccard"),
    )


@register(
    "events_weekly_seasonality",
    """
WITH e AS (
    SELECT (CAST(strftime(ts AT TIME ZONE 'UTC', '%w') AS INT) * 24
            + CAST(strftime(ts AT TIME ZONE 'UTC', '%H') AS INT)) AS how
    FROM events
), c AS (
    SELECT how, count(*) AS n FROM e GROUP BY how
), t AS (SELECT sum(n) AS tot FROM c)
SELECT CAST(c.how AS INT) AS hour_of_week,
       CAST(c.n AS BIGINT) AS n_events,
       CAST(c.n * 168 * 1000000 // t.tot AS BIGINT) AS seasonality_micro
FROM c, t
""",
    tags=("timeseries", "seasonality"),
)
def q_events_weekly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week load profile: each of the 168 weekly hours' share
    of traffic as an index against uniform load (1e6 = average;
    exact integer ``n·168·10⁶ div total``) — the seasonality baseline
    the burst detector and capacity planner both divide by. One
    fixed-168-key groupBy (map-side partials bound the shuffle like
    the CMS build) + a 1-row total broadcast. Day-of-week arithmetic
    pinned cross-engine: DuckDB ``%w`` (0 = Sunday) ≡ Spark
    ``dayofweek − 1``."""
    e = load_table(spark, sf_dir, "events")
    how = (F.dayofweek("ts") - 1) * 24 + F.hour("ts")
    c = e.select(how.alias("how")).groupBy("how").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.agg(F.sum("n").alias("tot"))
    return c.crossJoin(F.broadcast(t)).select(
        F.col("how").cast("int").alias("hour_of_week"),
        F.col("n").cast("long").alias("n_events"),
        F.expr("n * 168 * 1000000 div tot").cast("long").alias(
            "seasonality_micro"
        ),
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct sketch
# ---------------------------------------------------------------------------

from data_ingestion_py_spark.functions.sketch import (  # noqa: E402
    hll_estimate_cols,
    hll_estimate_sql,
    hll_registers,
    hll_registers_sql,
)

_HLL_KEY_SQL = "CAST(user_id AS VARCHAR)"


@register(
    "events_hll_distinct",
    f"""
WITH regs AS (
    {hll_registers_sql("SELECT event_type, user_id FROM events",
                       _HLL_KEY_SQL, "event_type")}
), est AS (
    {hll_estimate_sql("regs", "event_type")}
), ex AS (
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
    FROM events GROUP BY event_type
)
SELECT ex.event_type, ex.exact_distinct, est.hll_estimate,
       round(100.0 * (est.hll_estimate - ex.exact_distinct)
             / ex.exact_distinct, 2) AS err_pct
FROM ex JOIN est ON ex.event_type = est.event_type
""",
    tags=("sketch", "cardinality"),
    bench=True,
)
def q_events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event type — the md5
    register algebra that replays EXACTLY in DuckDB (deterministic
    stand-in for Spark's native ``approx_count_distinct``, whose salted
    HLL++ state no second engine can reproduce). b=8 → 256 registers,
    rank = leading-zero count of the next 40 hash bits; the harmonic
    sum stays an exact scaled BIGINT so the only float op is one
    literal/S division (see ``functions/sketch.py``). Scale shape: the
    register build is one groupBy whose map-side partial max bounds
    the shuffle at O(partitions · types · 256) rows regardless of user
    cardinality — at 100 TB the register tables (256 rows/group) are
    the ONLY thing that moves, and they merge by max across
    files/days/streams (``events_hll_rollup_merge``). Exact distinct
    rides alongside to exhibit the ~1.04/√m ≈ 6.5% error band."""
    e = load_table(spark, sf_dir, "events")
    regs = hll_registers(
        e.select("event_type", "user_id"),
        F.col("user_id").cast("string"),
        ["event_type"],
    )
    est = hll_estimate_cols(regs, ["event_type"])
    ex = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return ex.join(est, "event_type").select(
        "event_type",
        "exact_distinct",
        "hll_estimate",
        F.round(
            100.0
            * (F.col("hll_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            2,
        ).alias("err_pct"),
    )


@register(
    "events_hll_rollup_merge",
    f"""
WITH daily AS (
    {hll_registers_sql(
        "SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, user_id "
        "FROM events",
        _HLL_KEY_SQL, "event_type, day")}
), merged AS (
    SELECT event_type, reg, CAST(max(r) AS INT) AS r
    FROM daily GROUP BY event_type, reg
), est_merged AS (
    {hll_estimate_sql("merged", "event_type")}
), direct AS (
    {hll_registers_sql("SELECT event_type, user_id FROM events",
                       _HLL_KEY_SQL, "event_type")}
), est_direct AS (
    {hll_estimate_sql("direct", "event_type")}
)
SELECT m.event_type,
       m.hll_estimate AS merged_estimate,
       d.hll_estimate AS direct_estimate,
       (m.hll_estimate = d.hll_estimate) AS merge_consistent
FROM est_merged m JOIN est_direct d ON m.event_type = d.event_type
""",
    tags=("sketch", "cardinality", "mergeable"),
)
def q_events_hll_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGEABILITY, exhibited: per-(type, day) register tables
    merged by per-register max reproduce the direct whole-corpus
    registers BIT-FOR-BIT — max-of-max ≡ max — so `merge_consistent`
    is provably true for every row, and the 100 TB pattern (keep 256
    small ints per partition/day/stream, never re-scan history to
    re-count) is demonstrated rather than asserted. The merge shuffle
    moves only ≤ types·days·256 register rows."""
    e = load_table(spark, sf_dir, "events")
    daily = hll_registers(
        e.select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "user_id",
        ),
        F.col("user_id").cast("string"),
        ["event_type", "day"],
    )
    merged = daily.groupBy("event_type", "reg").agg(
        F.max("r").cast("int").alias("r")
    )
    est_merged = hll_estimate_cols(merged, ["event_type"]).withColumnRenamed(
        "hll_estimate", "merged_estimate"
    )
    direct = hll_registers(
        e.select("event_type", "user_id"),
        F.col("user_id").cast("string"),
        ["event_type"],
    )
    est_direct = hll_estimate_cols(direct, ["event_type"]).withColumnRenamed(
        "hll_estimate", "direct_estimate"
    )
    return est_merged.join(est_direct, "event_type").select(
        "event_type",
        "merged_estimate",
        "direct_estimate",
        (F.col("merged_estimate") == F.col("direct_estimate")).alias(
            "merge_consistent"
        ),
    )
