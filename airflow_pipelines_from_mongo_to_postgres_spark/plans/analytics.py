"""Analytics breadth beyond the reference's surface (round-3 additions):
TF-IDF term ranking and corpus word frequency over ``documents``, batch
sessionization and time-spine gap-fill (LOCF) over ``events``, pivot /
unpivot, aggregate-join filtering (TPC-H Q17 shape), and a fixed-width
histogram over ``orders``.

The reference computes none of these (SURVEY.md §2.7: its surface stops at
project/flatten/merge); they extend the engine the same way §2.7's
relational family does — declarative DataFrame plans with DuckDB oracles.

Scale notes (100 TB stance):
- TF-IDF: token join is an equi-join on the term; document-frequency and
  corpus-size sides are vocabulary-sized (≪ corpus), AQE broadcasts them
  when small. Top-k per doc is a bounded window keyed by doc_id.
- Word frequency: global top-N uses orderBy().limit(N) (TakeOrdered — a
  per-partition heap then a driver merge of N·P rows, no global sort); the
  rank window runs AFTER the limit, over N rows, so no unbounded
  single-partition window exists in the plan.
- Sessionize: one shuffle on user_id; lag + running-sum windows share the
  same (user_id, ts) sort order so Catalyst plans a single Window node.
- Gap-fill: the spine explodes per event_type from aggregated bounds
  (tiny), and LOCF is a running last(ignorenulls) within each event_type
  partition — no global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.functions import text
from airflow_pipelines_from_mongo_to_postgres_spark.sources.catalog import (
    fits_broadcast,
    load_table,
    spread,
)

#: DuckDB twin of functions.text.tokens() — keep in lockstep with
#: plans/llmdata.py:_TOKENS_SQL (duplicated to keep each module's oracle
#: self-contained).
_TOKENS_SQL = "list_filter(string_split_regex(lower({col}), '\\s+'), t -> t <> '')"


# --- q65: TF-IDF top terms per document ------------------------------------
def q65_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per doc by smoothed TF-IDF (idf = ln((1+N)/(1+df))).

    Rank orders by the ROUNDED score so oracle tie-breaks match; ties
    resolve token-ascending.
    """
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(text.tokens("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", "rnk")
    )


Q65_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok AS token
  FROM documents, LATERAL unnest({_TOKENS_SQL.format(col='text')}) t(tok)
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, token, tf, df, tfidf, rnk
FROM (
  SELECT doc_id, token, tf, df,
         round(tf * ln((1.0 + n_docs) / (1.0 + df)), 6) AS tfidf,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY round(tf * ln((1.0 + n_docs) / (1.0 + df)), 6) DESC, token
         ) AS rnk
  FROM tf JOIN dfreq USING (token), n
)
WHERE rnk <= 3
"""


# --- q66: corpus word frequency (Zipf head) --------------------------------
def q66_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 tokens corpus-wide. orderBy().limit(50) plans as TakeOrdered
    (per-partition heaps, no global sort); the rank window then runs over
    the 50 collected rows only — bounded by construction."""
    d = load_table(spark, "documents", sf_dir)
    counts = (
        d.select(F.explode(text.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(50)
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return counts.withColumn("rank", F.row_number().over(w))


Q66_SQL = f"""
WITH toks AS (
  SELECT t.tok AS token
  FROM documents, LATERAL unnest({_TOKENS_SQL.format(col='text')}) t(tok)
),
counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1)
SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
FROM counts
ORDER BY cnt DESC, token
LIMIT 50
"""


# --- q67: batch sessionization (30-min inactivity gap) ---------------------
def q67_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic lag-gap sessionization: a new session starts when a user's
    gap since their previous event exceeds 30 minutes. Interval arithmetic
    on timestamps (not epoch-seconds casts) so microsecond precision
    matches the oracle exactly. One shuffle on user_id; the lag and
    running-sum windows share one sort.

    ``value`` sums as DECIMAL(18,4) (exact, summation-order-independent)
    rather than DOUBLE: float partial-aggregation order differs between
    engines/runs and a last-ulp difference under round(·, 4) is a latent
    hash hazard even when the fixture happens to sit far from every
    rounding boundary."""
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    boundary = F.when(
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (
        e.withColumn("session_seq", F.sum(boundary).over(run))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            .alias("total_value"),
        )
    )


Q67_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS boundary
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         -- DuckDB types sum(integer) OVER (...) as HUGEINT; the driver's
         -- fetch path renders HUGEINT differently from BIGINT (1 vs 1.0)
         -- and flips the value hash even when every cell agrees. Spark's
         -- side is LongType, so pin the oracle to BIGINT too.
         CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM sessions
GROUP BY 1, 2
"""


# --- q68: pivot (long → wide conditional counts) ---------------------------
def q68_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with an EXPLICIT value list — without it Spark
    runs an extra distinct job to discover values, and at 100 TB an
    unbounded value set would explode the schema."""
    o = load_table(spark, "orders", sf_dir)
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("cnt_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("cnt_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("cnt_p"),
    )


Q68_SQL = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_p
FROM orders
GROUP BY 1
"""


# --- q69: unpivot / melt (wide → long) -------------------------------------
def q69_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.unpivot (Spark 3.4+ melt): wide per-flag aggregates into
    (flag, metric, value) long form — the inverse of q68."""
    li = load_table(spark, "lineitem", sf_dir)
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
        F.round(F.sum("l_discount"), 4).alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_base_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    )


Q69_SQL = """
WITH wide AS (
  SELECT l_returnflag,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 4) AS sum_base_price,
         round(sum(l_discount), 4) AS sum_disc
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
UNION ALL
SELECT l_returnflag, 'sum_base_price', sum_base_price FROM wide
UNION ALL
SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
"""


# --- q70: aggregate-join filter (TPC-H Q17 shape) --------------------------
def q70_below_avg_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity order revenue per brand: lineitems with quantity
    below 20% of their part's average. The correlated scalar subquery is
    planned as an aggregate + equi-join (two scans of lineitem, one
    shuffle each on l_partkey); part is dimension-sized → broadcast.

    Exactness across engines: l_quantity is integer-valued, so sum (and
    hence avg·0.2) is exact in double regardless of partial-agg order —
    the strict `<` threshold cannot flip on a last-ulp difference. The
    revenue sum, however, divides by 7 BEFORE rounding, which shrinks
    the q01 2-dp boundary margin ~70× — so it goes through the exact
    decimal sum (cast to double, then divide: both engines divide
    identical operands).
    """
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    thr = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_thr"))
    small = li.join(thr, "l_partkey").filter(F.col("l_quantity") < F.col("qty_thr"))
    return (
        small.join(F.broadcast(p.select("p_partkey", "p_brand")),
                   small.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
                    .cast("double") / F.lit(7.0), 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q70_SQL = """
WITH thr AS (
  SELECT l_partkey, avg(l_quantity) * 0.2 AS qty_thr
  FROM lineitem GROUP BY 1
)
SELECT p_brand,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 4) AS avg_yearly,
       count(*) AS n_items
FROM lineitem
JOIN thr USING (l_partkey)
JOIN part ON p_partkey = l_partkey
WHERE l_quantity < qty_thr
GROUP BY 1
"""


# --- q71: fixed-width histogram --------------------------------------------
def q71_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10 × 50k-wide price bins (top bin open). Binning is a row-local
    expression (floor of a division) — fully map-side, one tiny shuffle of
    ≤10 groups."""
    o = load_table(spark, "orders", sf_dir)
    bin_col = F.least(F.floor(F.col("o_totalprice") / 50000.0), F.lit(9).cast("long"))
    return (
        o.select(bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn("bin_lo", (F.col("bin") * 50000).cast("long"))
    )


Q71_SQL = """
SELECT CAST(least(floor(o_totalprice / 50000.0), 9) AS BIGINT) AS bin,
       count(*) AS n_orders,
       CAST(least(floor(o_totalprice / 50000.0), 9) * 50000 AS BIGINT) AS bin_lo
FROM orders
GROUP BY 1, 3
"""


# --- q72: hourly time-spine gap-fill with LOCF -----------------------------
def q72_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event_type: generate the spine from
    aggregated bounds (sequence + explode — bounds are one row per type,
    so the explode fans out executor-side), left-join the real hourly
    aggregate, and fill holes with last-observation-carried-forward
    (running last(ignorenulls) per type — no global window)."""
    e = load_table(spark, "events", sf_dir).select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr"), "value")
    # avg via exact decimal sum ÷ count — summation-order-independent
    # numerator keeps the rounded double identical across engines.
    hourly = e.groupBy("event_type", "hr").agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)), 6,
        ).alias("avg_value"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hr"))
    w = Window.partitionBy("event_type").orderBy("hr") \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type", "hr", "avg_value",
            F.last("avg_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


Q72_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_value
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1),
spine AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
  FROM bounds
)
SELECT s.event_type, s.hr, h.avg_value,
       last_value(h.avg_value IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.hr
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM spine s
LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hr = h.hr
"""


# --- q77: SCD2 dimension build (validity intervals from an event stream) ----
def q77_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: each user event opens a
    validity interval that closes when the next event for that user
    arrives (lead over the per-user timeline); the newest row stays open
    (valid_to null, is_current true). One shuffle on user_id; the window
    orders by (ts, event_id) so ties are deterministic on both engines."""
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id", "event_id", "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


Q77_SQL = """
SELECT user_id, event_id, event_type,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       (lead(ts) OVER w IS NULL) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# --- q79: incremental aggregate maintenance (materialized-view delta merge) --
_Q79_CUT = "2024-03-01"


def q79_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a daily (day × event_type) aggregate INCREMENTALLY: the
    standing aggregate over history is combined with the delta batch's
    partial aggregate through one full-outer join — counts add, decimal
    sums add — without rescanning history. At 100 TB this is the
    difference between touching one day and re-reading the lake; the
    ORACLE computes the same aggregate directly over all rows, so the
    driver's hash gate IS the proof that combine(partial(A), partial(B))
    == full(A ∪ B). Sums are DECIMAL(18,4) — associative and
    order-independent, which is exactly the algebraic property
    incremental maintenance needs (double sums are not associative).
    The decimal stays internal: the combined sum is cast to DOUBLE in
    the final projection (DecimalType output columns are driver-red —
    r3's only hash failures were exactly the decimal-output queries)."""
    e = load_table(spark, "events", sf_dir).select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type", "ts",
        F.col("value").cast("decimal(18,4)").alias("v"))
    cut = F.lit(_Q79_CUT).cast("timestamp")

    def part(df):
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("events"),
            F.sum("v").alias("total_value"))

    from airflow_pipelines_from_mongo_to_postgres_spark.operators.aggmaint import (
        combine_partial_aggs,
    )
    base, delta = part(e.filter(F.col("ts") < cut)), part(e.filter(F.col("ts") >= cut))
    base = base.withColumn("total_value",
                           F.col("total_value").cast("decimal(28,4)"))
    delta = delta.withColumn("total_value",
                             F.col("total_value").cast("decimal(28,4)"))
    combined = combine_partial_aggs(base, delta, ["day", "event_type"],
                                    count_cols=["events"],
                                    sum_cols=["total_value"])
    return combined.withColumn("total_value",
                               F.col("total_value").cast("double"))


#: Oracle: the DIRECT aggregation — equality proves the incremental
#: combine reproduces a full recomputation.
Q79_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       count(*) AS events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


# --- q82: robust outlier detection (median/MAD z-score per group) -----------
def q82_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value sits > 3.5 robust z-scores from their type's
    median (z = (v − med) / (1.4826·MAD)) — the anomaly gate that, unlike
    mean/stddev, is not itself dragged by the outliers it hunts. Two
    grouped exact percentiles (one shuffle each, partial-aggregated) +
    broadcast joins of the per-type statistics; the z arithmetic is a
    chain of single IEEE ops on engine-identical operands, so the rounded
    output hash-matches. Groups with MAD = 0 are excluded (a constant
    group has no scale to score against)."""
    e = load_table(spark, "events", sf_dir)
    meds = e.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med"))
    withmed = e.join(F.broadcast(meds), "event_type")
    mads = withmed.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias("mad"))
    z = (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        withmed.join(F.broadcast(mads), "event_type")
        .filter(F.col("mad") > 0)
        .withColumn("z", F.round(z, 6))
        .filter(F.abs(F.col("z")) > 3.5)
        .select("event_id", "event_type", "value", "z")
    )


Q82_SQL = """
WITH meds AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
mads AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN meds m USING (event_type) GROUP BY 1
)
SELECT event_id, event_type, value,
       round((value - med) / (1.4826 * mad), 6) AS z
FROM events JOIN meds USING (event_type) JOIN mads USING (event_type)
WHERE mad > 0 AND abs(round((value - med) / (1.4826 * mad), 6)) > 3.5
"""


# --- q83: ordered per-user event timeline (sequence assembly) ----------------
def q83_user_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's full event sequence serialized in event-time order —
    the assembly step that turns an event log into sequence-model
    training rows. Spark has no ordered string_agg, so the deterministic
    recipe is sort_array(collect_list(struct(ts, event_id, payload)))
    — the struct's (ts, event_id) prefix makes the lexicographic array
    sort identical to the oracle's ORDER BY — then a transform +
    concat_ws render. One shuffle on user_id; per-user payload is the
    user's own event count (bound it upstream for power users)."""
    e = load_table(spark, "events", sf_dir)
    # ts is TIMESTAMP_NTZ; the session timezone is pinned UTC, so the
    # cast is identity and epoch micros match DuckDB's epoch_us.
    item = F.struct(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.col("event_id").alias("i"),
        F.col("event_type").alias("et"),
    )
    arr = F.sort_array(F.collect_list(item))
    return (
        e.groupBy("user_id")
        .agg(arr.alias("arr"))
        .select(
            "user_id",
            F.size("arr").alias("n_events"),
            F.concat_ws("|", F.transform(
                "arr",
                lambda x: F.concat_ws(":", x["t"].cast("string"), x["et"]),
            )).alias("timeline"),
        )
    )


Q83_SQL = """
SELECT user_id, count(*) AS n_events,
       string_agg(epoch_us(ts) || ':' || event_type, '|'
                  ORDER BY ts, event_id) AS timeline
FROM events GROUP BY user_id
"""


# --- q85: weekly retention cohorts -------------------------------------------
def q85_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users grouped by first-activity week,
    distinct active users counted per week offset. Two grouped
    aggregations + one join on user_id; every measure is an integer
    (distinct counts, day arithmetic on week-aligned truncations), so the
    hash gate is exact by construction."""
    e = load_table(spark, "events", sf_dir)
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    acts = e.select("user_id",
                    F.date_trunc("week", F.col("ts")).alias("wk")).distinct()
    return (
        acts.join(firsts, "user_id")
        .withColumn("week_offset",
                    (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
                    .cast("int"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


Q85_SQL = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
acts AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
       CAST(date_diff('day', cohort_week, wk) / 7 AS INT) AS week_offset,
       count(DISTINCT user_id) AS active_users
FROM acts JOIN firsts USING (user_id)
GROUP BY 1, 2
"""


# --- q89: date-dimension build (calendar spine with derived attributes) -------
def q89_date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate the calendar dimension covering the orders table's date
    range: a sequence+explode spine (bounds come from one tiny aggregate,
    so the fan-out happens executor-side) with the derived attributes a
    star schema needs. Day-of-week uses the ISO convention explicitly —
    Spark's default dayofweek() (1=Sunday) and DuckDB's dayofweek
    (0=Sunday) disagree, while Spark weekday()+1 == DuckDB isodow."""
    o = load_table(spark, "orders", sf_dir)
    bounds = o.agg(F.min(F.to_date("o_orderdate")).alias("mn"),
                   F.max(F.to_date("o_orderdate")).alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))).alias("d"))
    isodow = F.weekday("d") + 1
    return spine.select(
        F.col("d").alias("date"),
        F.year("d").alias("year"),
        F.quarter("d").alias("quarter"),
        F.month("d").alias("month"),
        F.weekofyear("d").alias("iso_week"),
        isodow.alias("iso_dow"),
        (isodow >= 6).alias("is_weekend"),
        F.date_format("d", "yyyy-MM").alias("year_month"),
    )


Q89_SQL = """
WITH bounds AS (
  SELECT CAST(min(o_orderdate) AS DATE) AS mn,
         CAST(max(o_orderdate) AS DATE) AS mx
  FROM orders
),
spine AS (
  SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS d
  FROM bounds
)
SELECT d AS date,
       CAST(year(d) AS INT) AS year,
       CAST(quarter(d) AS INT) AS quarter,
       CAST(month(d) AS INT) AS month,
       CAST(weekofyear(d) AS INT) AS iso_week,
       CAST(isodow(d) AS INT) AS iso_dow,
       isodow(d) >= 6 AS is_weekend,
       strftime(d, '%Y-%m') AS year_month
FROM spine
"""


# --- q98: per-group statistical profile (exact-decimal moments) ---------------------
def q98_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type numeric profile: n, min/max/mean, sample stddev,
    and Pearson correlation between value and hour-of-day — the column
    profiling an ingest pipeline runs before trusting a feed. Built-in
    ``stddev``/``corr`` sum doubles and are summation-order-dependent
    across engines, so every moment here is accumulated EXACTLY instead:
    Σv, Σv², Σvh as DECIMAL (value is ≤4 dp so v² is ≤8 dp — exact), Σh,
    Σh² as integers, then the closed-form moment formulas run in double
    on identical scalar operands on both engines. One shuffle (the
    groupBy); hour-of-day is epoch math so no session-timezone term
    enters the comparison."""
    e = load_table(spark, "events", sf_dir)
    h = (F.floor(F.unix_timestamp("ts") / 3600) % 24).cast("long")
    v = F.col("value").cast("decimal(18,4)")
    per = e.select("event_type", v.alias("v"), h.alias("h"))
    agg = per.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(28,8)")).alias("svv"),
        F.sum("h").alias("sh"),
        F.sum(F.col("h") * F.col("h")).alias("shh"),
        F.sum((F.col("v") * F.col("h")).cast("decimal(28,4)")).alias("svh"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    n_d = F.col("n").cast("double")
    sv_d = F.col("sv").cast("double")
    svv_d = F.col("svv").cast("double")
    sh_d = F.col("sh").cast("double")
    shh_d = F.col("shh").cast("double")
    svh_d = F.col("svh").cast("double")
    # greatest(·, 0): for a constant-valued group the double-cast sums can
    # make n·Σv² − (Σv)² land an ulp BELOW zero, and sqrt(−ε) is NaN — the
    # clamp turns that into the mathematically-correct 0 on BOTH engines.
    var_num = F.greatest(n_d * svv_d - sv_d * sv_d, F.lit(0.0))
    hvar_num = F.greatest(n_d * shh_d - sh_d * sh_d, F.lit(0.0))
    corr_den = F.sqrt(var_num * hvar_num)
    return agg.select(
        "event_type",
        F.col("n"),
        F.col("mn").cast("double").alias("min_value"),
        F.col("mx").cast("double").alias("max_value"),
        F.round(sv_d / n_d, 6).alias("mean_value"),
        F.when(F.col("n") > 1,
               F.round(F.sqrt(var_num / (n_d * (n_d - F.lit(1.0)))), 6))
        .alias("stddev_value"),
        F.when(corr_den > 0,
               F.round((n_d * svh_d - sv_d * sh_d) / corr_den, 6))
        .alias("corr_value_hour"),
    )


Q98_SQL = """
WITH per AS (
  SELECT event_type,
         CAST(value AS DECIMAL(18,4)) AS v,
         CAST(CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS BIGINT) AS h
  FROM events
),
agg AS (
  SELECT event_type,
         count(*) AS n,
         sum(v) AS sv,
         sum(CAST(v * v AS DECIMAL(28,8))) AS svv,
         sum(h) AS sh,
         sum(h * h) AS shh,
         sum(CAST(v * h AS DECIMAL(28,4))) AS svh,
         min(v) AS mn,
         max(v) AS mx
  FROM per GROUP BY event_type
),
m AS (
  SELECT event_type, n, mn, mx, sv,
         greatest(CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                  - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE), 0.0) AS vn,
         greatest(CAST(n AS DOUBLE) * CAST(shh AS DOUBLE)
                  - CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE), 0.0) AS hn,
         CAST(n AS DOUBLE) * CAST(svh AS DOUBLE)
         - CAST(sv AS DOUBLE) * CAST(sh AS DOUBLE) AS cn
  FROM agg
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST(mn AS DOUBLE) AS min_value,
       CAST(mx AS DOUBLE) AS max_value,
       round(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_value,
       CASE WHEN n > 1 THEN
         round(sqrt(vn / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 6)
       END AS stddev_value,
       CASE WHEN sqrt(vn * hn) > 0 THEN
         round(cn / sqrt(vn * hn), 6)
       END AS corr_value_hour
FROM m
"""


# --- q99: blocked fuzzy record linkage (edit distance) ------------------------------
def q99_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage over part names: candidate pairs come from an
    EQUI-JOIN on blocking keys (the name's type noun + p_size), then the
    expensive Levenshtein similarity runs only within blocks — the
    standard blocking pattern that keeps fuzzy matching out of O(n²).
    Catalyst extracts the blocking equality into a hash join and leaves
    pk-ordering + distance as post-join filters; at 100 TB the cost is
    Σ|block|², bounded by the blocking key's selectivity, never the
    cross product. Levenshtein is integer-exact and identically defined
    in both engines, so the gate is a full value hash."""
    p = load_table(spark, "part", sf_dir)
    # try_element_at + coalesce(''): a one-token name must neither crash
    # under ANSI mode (element_at throws on a missing index) nor block as
    # NULL while the oracle's split_part blocks as '' — '' on both.
    keys = (
        F.col("p_partkey").alias("pk"),
        F.col("p_name").alias("nm"),
        F.coalesce(F.try_element_at(F.split(F.col("p_name"), " "), F.lit(2)),
                   F.lit("")).alias("blk"),
        F.col("p_size").alias("sz"),
    )
    # Bounded Levenshtein (threshold arg): the DP abandons a row pair the
    # moment its distance provably exceeds 3 and returns -1, so far-apart
    # names cost O(len·threshold) instead of O(len²). The length gate is
    # a NECESSARY condition for lev <= 3 and costs two length reads — it
    # runs first in the conjunction, so most in-block pairs never enter
    # the DP at all. Both prunes are semantics-preserving: the oracle's
    # unbounded levenshtein BETWEEN 1 AND 3 selects the identical pairs.
    dist = F.levenshtein(F.col("a.nm"), F.col("b.nm"), 3)
    len_gate = F.abs(F.length(F.col("a.nm"))
                     - F.length(F.col("b.nm"))) <= 3
    # spread() + pinned broadcast build side (r17, guide §2.5): the part
    # fixture is a single-row-group file, so the probe side — which runs
    # EVERY in-block Levenshtein DP — was one task on one core; widening
    # the scan measured 1.55 s → 0.55 s at sf0.1. The broadcast hint keeps
    # the un-widened scan as the build side (the planner would otherwise
    # pick the 32-partition side). An UNCONDITIONAL hint overrides
    # autoBroadcastJoinThreshold and would collect a data-sized table at
    # 100 TB, so it is pinned only when the part scan is narrow AND its
    # file bytes fit the threshold; otherwise the planner/AQE picks the
    # strategy for the (blk, sz) equi-join from real sizes.
    b = p.select(*keys).alias("b")
    if fits_broadcast(p):
        b = F.broadcast(b)
    return (
        spread(p).select(*keys).alias("a")
        .join(b,
              (F.col("a.blk") == F.col("b.blk"))
              & (F.col("a.sz") == F.col("b.sz"))
              & (F.col("a.pk") < F.col("b.pk")))
        .where(len_gate & (dist >= 1))
        .select(
            F.col("a.pk").alias("pk1"), F.col("b.pk").alias("pk2"),
            F.col("a.nm").alias("name1"), F.col("b.nm").alias("name2"),
            dist.cast("int").alias("edit_distance"),
        )
    )


Q99_SQL = """
WITH k AS (
  SELECT p_partkey AS pk, p_name AS nm,
         split_part(p_name, ' ', 2) AS blk, p_size AS sz
  FROM part
)
SELECT a.pk AS pk1, b.pk AS pk2, a.nm AS name1, b.nm AS name2,
       CAST(levenshtein(a.nm, b.nm) AS INT) AS edit_distance
FROM k a JOIN k b ON a.blk = b.blk AND a.sz = b.sz AND a.pk < b.pk
WHERE levenshtein(a.nm, b.nm) BETWEEN 1 AND 3
"""


# --- q103: column profiler (null / distinct counts per column) ----------------------
_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority")


def q103_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the orders table: one row per column with
    row/null/distinct counts — the ingest-time health check run before
    trusting a feed (nullability drift, key-uniqueness drift, enum
    cardinality drift all show up here). ONE aggregation pass computes
    every column's stats (Spark plans the multi-distinct agg with an
    Expand ×C — the standard profiling cost; swap countDistinct for
    approx_count_distinct at 100 TB when ±2% is acceptable and the
    Expand disappears), then a literal-array explode melts the single
    result row into per-column rows — driver-free, no unions of C scans
    like naive profilers."""
    o = load_table(spark, "orders", sf_dir)
    aggs = []
    for c in _PROFILE_COLS:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                    .alias(f"null_{c}"))
        aggs.append(F.countDistinct(c).alias(f"dist_{c}"))
    row = o.agg(F.count(F.lit(1)).alias("n"), *aggs)
    melted = F.array(*[
        F.struct(F.lit(c).alias("column_name"),
                 F.col("n").alias("n_rows"),
                 F.col(f"null_{c}").alias("n_null"),
                 F.col(f"dist_{c}").alias("n_distinct"))
        for c in _PROFILE_COLS])
    return row.select(F.explode(melted).alias("p")).select("p.*")


Q103_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT {c}) AS n_distinct FROM orders"""
    for c in _PROFILE_COLS)


# --- q136: event-type transition matrix (action-sequence statistics) ---------
def q136_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts/probabilities over each
    user's event sequence — the sequence statistic behind action-model
    training data audits (which transitions dominate, which are
    never seen). One window (user, ts, event_id — the repo's unique
    tiebreak rule) produces lagged pairs; per-prev totals come from a
    second tiny agg joined back broadcast. Probability = exact integer
    count ÷ count, rounded — no float accumulation anywhere."""
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    pairs = (e.select("user_id", "ts", "event_id", "event_type")
             .withColumn("prev_type", F.lag("event_type").over(w))
             .filter(F.col("prev_type").isNotNull())
             .groupBy("prev_type", F.col("event_type").alias("next_type"))
             .agg(F.count(F.lit(1)).alias("n")))
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return (
        pairs.join(F.broadcast(totals), "prev_type")
        .select("prev_type", "next_type", "n",
                F.round(F.col("n").cast("double")
                        / F.col("tot").cast("double"), 6).alias("prob"))
    )


Q136_SQL = """
WITH pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
  )
  WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
totals AS (SELECT prev_type, sum(n) AS tot FROM pairs GROUP BY 1)
SELECT p.prev_type, p.next_type, p.n,
       round(CAST(p.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS prob
FROM pairs p JOIN totals t USING (prev_type)
"""


# --- q145: per-group OLS regression via exact decimal moments ---------------
def q145_regression_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares fit of l_extendedprice on l_quantity per return
    flag — the grouped-regression operator (trend per segment) built the
    same way as q98's corr: every moment (Σx, Σy, Σxx, Σyy, Σxy)
    accumulates as DECIMAL so partial-agg order cannot perturb the
    value, then slope/intercept/r² run as closed-form double math on
    identical scalar operands on both engines. ONE shuffle (the
    groupBy); at 100 TB this is a map-side partial agg into 3 rows."""
    li = load_table(spark, "lineitem", sf_dir)
    x = F.col("l_quantity").cast("decimal(18,4)")
    y = F.col("l_extendedprice").cast("decimal(18,4)")
    per = li.select("l_returnflag", x.alias("x"), y.alias("y"))
    agg = per.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,8)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,8)")).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,8)")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    vx = F.greatest(n * sxx - sx * sx, F.lit(0.0))
    vy = F.greatest(n * syy - sy * sy, F.lit(0.0))
    cv = n * sxy - sx * sy
    slope = cv / vx
    return agg.select(
        "l_returnflag",
        F.col("n"),
        F.when(vx > 0, F.round(slope, 6)).alias("slope"),
        F.when(vx > 0, F.round((sy - slope * sx) / n, 6)).alias("intercept"),
        F.when(vx * vy > 0, F.round(cv * cv / (vx * vy), 6)).alias("r2"),
    ).orderBy("l_returnflag")


Q145_SQL = """
WITH per AS (
  SELECT l_returnflag,
         CAST(l_quantity AS DECIMAL(18,4)) AS x,
         CAST(l_extendedprice AS DECIMAL(18,4)) AS y
  FROM lineitem
),
agg AS (
  SELECT l_returnflag,
         count(*) AS n,
         sum(x) AS sx,
         sum(y) AS sy,
         -- operands re-cast to DECIMAL(24,4): forces DuckDB's int128
         -- multiply path (18-digit operands stay int64 and overflow on
         -- the square of a ~1e9-unscaled price); values exact either way
         sum(CAST(CAST(x AS DECIMAL(24,4)) * CAST(x AS DECIMAL(24,4))
                  AS DECIMAL(28,8))) AS sxx,
         sum(CAST(CAST(y AS DECIMAL(24,4)) * CAST(y AS DECIMAL(24,4))
                  AS DECIMAL(38,8))) AS syy,
         sum(CAST(CAST(x AS DECIMAL(24,4)) * CAST(y AS DECIMAL(24,4))
                  AS DECIMAL(28,8))) AS sxy
  FROM per GROUP BY l_returnflag
),
m AS (
  SELECT l_returnflag, n,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(sy AS DOUBLE) AS syd,
         greatest(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0) AS vx,
         greatest(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0.0) AS vy,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cv
  FROM agg
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       CASE WHEN vx > 0 THEN round(cv / vx, 6) END AS slope,
       CASE WHEN vx > 0 THEN round((syd - (cv / vx) * sxd) / nd, 6) END
         AS intercept,
       CASE WHEN vx * vy > 0 THEN round(cv * cv / (vx * vy), 6) END AS r2
FROM m ORDER BY 1
"""


# --- q146: chi-square contingency audit (event_type x day-of-week) ----------
def q146_chi_square_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independence audit of event_type vs day-of-week: per-cell
    observed count, expected count under independence, and the cell's
    chi² term — the drift detector for "did the traffic mix change by
    weekday". All inputs to the float math are exact INTEGER counts
    (obs, row/col totals, n), so the per-cell doubles are identical on
    both engines; no float SUM ever happens (the hash-stability rule).
    Day-of-week is epoch-day arithmetic — no session-timezone or
    locale term. Plan: one groupBy for the cells, two broadcast-sized
    re-aggregations for the margins, broadcast joins back."""
    e = load_table(spark, "events", sf_dir).select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 86400) % 7).cast("long")
        .alias("dow"))
    cells = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("obs"))
    rowt = cells.groupBy("event_type").agg(F.sum("obs").alias("rt"))
    colt = cells.groupBy("dow").agg(F.sum("obs").alias("ct"))
    tot = cells.agg(F.sum("obs").alias("n"))
    j = cells.join(F.broadcast(rowt), "event_type")              .join(F.broadcast(colt), "dow")              .crossJoin(F.broadcast(tot))
    exp = (F.col("rt").cast("double") * F.col("ct").cast("double")
           / F.col("n").cast("double"))
    obs_d = F.col("obs").cast("double")
    return j.select(
        "event_type", "dow", "obs",
        F.round(exp, 6).alias("expected"),
        F.round((obs_d - exp) * (obs_d - exp) / exp, 6).alias("chi2_term"),
    ).orderBy("event_type", "dow")


Q146_SQL = """
WITH e AS (
  SELECT event_type,
         CAST(CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7 AS BIGINT) AS dow
  FROM events
),
cells AS (
  SELECT event_type, dow, count(*) AS obs FROM e GROUP BY 1, 2
),
rowt AS (SELECT event_type, sum(obs) AS rt FROM cells GROUP BY 1),
colt AS (SELECT dow, sum(obs) AS ct FROM cells GROUP BY 1),
tot AS (SELECT sum(obs) AS n FROM cells)
SELECT c.event_type, c.dow, CAST(c.obs AS BIGINT) AS obs,
       round(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE), 6)
         AS expected,
       round((CAST(obs AS DOUBLE)
              - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(obs AS DOUBLE)
                - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)),
             6) AS chi2_term
FROM cells c JOIN rowt USING (event_type) JOIN colt USING (dow)
CROSS JOIN tot
ORDER BY 1, 2
"""


QUERIES = {
    "q136_event_transitions": q136_event_transitions,
    "q65_tfidf_top_terms": q65_tfidf_top_terms,
    "q66_word_frequency": q66_word_frequency,
    "q67_sessionize": q67_sessionize,
    "q68_pivot_status": q68_pivot_status,
    "q69_unpivot_metrics": q69_unpivot_metrics,
    "q70_below_avg_quantity": q70_below_avg_quantity,
    "q71_price_histogram": q71_price_histogram,
    "q72_gap_fill_locf": q72_gap_fill_locf,
    "q77_scd2_intervals": q77_scd2_intervals,
    "q79_incremental_agg": q79_incremental_agg,
    "q82_mad_outliers": q82_mad_outliers,
    "q83_user_timeline": q83_user_timeline,
    "q85_retention_cohorts": q85_retention_cohorts,
    "q89_date_dimension": q89_date_dimension,
    "q98_stats_profile": q98_stats_profile,
    "q99_fuzzy_linkage": q99_fuzzy_linkage,
    "q103_column_profile": q103_column_profile,
    "q145_regression_by_group": q145_regression_by_group,
    "q146_chi_square_contingency": q146_chi_square_contingency,
}

ORACLES = {
    "q136_event_transitions": Q136_SQL,
    "q65_tfidf_top_terms": Q65_SQL,
    "q66_word_frequency": Q66_SQL,
    "q67_sessionize": Q67_SQL,
    "q68_pivot_status": Q68_SQL,
    "q69_unpivot_metrics": Q69_SQL,
    "q70_below_avg_quantity": Q70_SQL,
    "q71_price_histogram": Q71_SQL,
    "q72_gap_fill_locf": Q72_SQL,
    "q77_scd2_intervals": Q77_SQL,
    "q79_incremental_agg": Q79_SQL,
    "q82_mad_outliers": Q82_SQL,
    "q83_user_timeline": Q83_SQL,
    "q85_retention_cohorts": Q85_SQL,
    "q89_date_dimension": Q89_SQL,
    "q98_stats_profile": Q98_SQL,
    "q99_fuzzy_linkage": Q99_SQL,
    "q103_column_profile": Q103_SQL,    "q145_regression_by_group": Q145_SQL,
    "q146_chi_square_contingency": Q146_SQL,
}
