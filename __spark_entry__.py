"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an engine operator (SURVEY.md §2 / §2b)
against the driver's testdata tables; ``oracle_sql()`` gives the DuckDB
ground truth. Exactness strategy: money/metric sums in integer cents
(``sum(cast(round(x*100) as bigint))``) so aggregation order never matters;
percentiles via linear interpolation (identical semantics both engines),
rounded; rank ties broken on ids. DuckDB sums are cast to BIGINT to match
Spark's long (DuckDB sum(bigint) is HUGEINT otherwise).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# make the sibling tstore_spark package importable regardless of the
# driver's working directory / import mechanism
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tstore_spark.functions import text as TX
from tstore_spark.functions.filters import time_range_filter
from tstore_spark.operators import dedup as DD
from tstore_spark.operators import gorilla
from tstore_spark.operators import multimodal as MM
from tstore_spark.operators import similarity as SIM
from tstore_spark.operators.gapfill import gap_fill
from tstore_spark.operators.acf import acf_oracle_sql, ccf_oracle_sql
from tstore_spark.operators.olap import cube_oracle_sql
from tstore_spark.operators.graph import (
    bfs_hops_oracle_sql,
    cocitation_oracle_sql,
    label_propagation_oracle_sql,
    resolve_redirects_oracle_sql,
    hits_oracle_sql,
    hyperball_oracle_sql,
    k_core_oracle_sql,
    pagerank_oracle_sql,
    personalized_pagerank_oracle_sql,
    scc_oracle_sql,
)
from tstore_spark.operators.bpe import bpe_oracle_sql
from tstore_spark.operators.burst import burst_oracle_sql
from tstore_spark.operators.search import doc_keywords_oracle_sql
from tstore_spark.operators.kmeans import kmeans_oracle_sql
from tstore_spark.operators.metric_rollup import (
    finalize,
    metric_rollup_all_tiers,
)
from tstore_spark.operators.skew import salted_agg
from tstore_spark.plans.scope import op_scope, scoped_cache

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _parquet_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet FOOTERS (driver-side pyarrow) — metadata only,
    no Spark job, works for single files and directories, and is independent
    of how the data directory happens to be named. Large when unreadable so
    unknown inputs take the scale-safe path."""
    import pyarrow.dataset as pads

    try:
        return pads.dataset(f"{sf_dir}/{name}.parquet", format="parquet").count_rows()
    except Exception:
        return 2**62


def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100).cast("long")


# ---------------------------------------------------------------------------
# entry: flagship query (driver smoke check at sf0.001)
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact 1m→1h rollup cascade over the events stream."""
    events = _t(spark, "/root/testdata/sf0.001", "events")
    tiers = metric_rollup_all_tiers(events)
    return finalize(tiers["1h"])


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_rollup(tier: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        tiers = metric_rollup_all_tiers(_t(spark, sf_dir, "events"))
        return finalize(tiers[tier])

    return run


def _q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.sum(_cents("l_extendedprice")).alias("sum_base_cents"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(_cents("l_extendedprice")).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("o_orderkey"))
        .limit(10)
    )


def _q_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(_cents("value")).alias("value_cents"))
        .orderBy(F.desc("value_cents"), F.asc("user_id"))
        .limit(20)
    )


def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    piv = (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select("day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES])


def _q_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(event_type, day): all four grouping levels (full, by-type,
    by-day, grand total) in ONE pass — Spark expands grouping sets inside
    a single two-stage hash aggregate, no per-level rescans. Integer-cents
    sums keep every level exact."""
    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    return ev.cube("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_cents("value")).alias("value_cents"),
    )


def _q_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select("event_type").distinct()


def _q_time_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where(time_range_filter("ts", "2024-01-10", "2024-01-20", inclusive="left", ntz=True))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(_cents("value")).alias("value_cents"))
    )


def _q_nation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.sum(_cents("c_acctbal")).alias("acctbal_cents"))
    )


def _q_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tstore_spark.functions.timeparts import ntz_epoch_micros

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # field-based wall-clock epochs: timestampdiff (and NTZ->TIMESTAMP casts)
    # route through the session zone in Spark 4 and would skew gaps spanning
    # a DST transition; DuckDB's epoch_us on naive timestamps is wall-clock
    return (
        ev.withColumn("_prev", F.lag("ts").over(w))
        .withColumn("_gap_us", ntz_epoch_micros("ts") - ntz_epoch_micros("_prev"))
        .groupBy("user_id")
        .agg(
            F.count("_gap_us").alias("n_gaps"),
            F.floor(F.avg("_gap_us") / 1000.0).cast("long").alias("avg_gap_ms"),
        )
        .where(F.col("n_gaps") >= 1)
    )


def _q_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance: build the 1h tier, then apply a
    change set (delete all 'error' events on 2024-01-05; insert +30min
    echoes of the user_id%13==4 slice at doubled value) and refresh ONLY
    the invalidated (key, window) slices. The oracle recomputes the whole
    tier from the modified raw in SQL — the incremental splice must
    hash-match a full rebuild."""
    from tstore_spark.operators.metric_rollup import refresh_tier_incremental

    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value", "user_id")
    deleted = (F.col("event_type") == "error") & (
        F.to_date("ts") == F.lit("2024-01-05")
    )
    inserts = ev.where((F.col("user_id") % 13 == 4) & (F.col("event_type") != "error")).select(
        "event_type",
        F.expr("timestampadd(MINUTE, 30, ts)").alias("ts"),
        (F.col("value") * 2.0).alias("value"),
        "user_id",
    )
    from tstore_spark.operators.metric_rollup import metric_rollup_from_raw

    state0 = metric_rollup_from_raw(ev, "1h")
    raw1 = ev.where(~deleted).unionByName(inserts)
    changes = ev.where(deleted).select("event_type", "ts").unionByName(
        inserts.select("event_type", "ts")
    )
    refreshed, rep = refresh_tier_incremental(raw1, state0, changes, "1h")
    if rep["windows_invalidated"] == 0:
        raise RuntimeError("refresh unexpectedly invalidated nothing")
    return finalize(refreshed)


def _q_gap_fill_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    tier = (
        ev.groupBy(
            "event_type",
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("window_start"),
        )
        .agg(F.count(F.lit(1)).alias("event_count"))
    )
    filled = gap_fill(
        tier,
        "1h",
        key="event_type",
        zero_fill=["event_count"],
        interp_cols=[],
        array_fill={},
        presence_col="event_count",
        interpolate=False,
    )
    return filled.select("event_type", "window_start", "event_count", "gap_filled")


def _q_gorilla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gorilla loop: 1m tier -> compress (delta-of-delta + XOR chunks)
    -> decompress -> rows. Losslessness is the oracle contract: the output
    must hash-match DuckDB's date_trunc tier exactly."""
    ev = _t(spark, sf_dir, "events")
    tier = (
        ev.groupBy(
            "event_type",
            F.date_trunc("minute", "ts").cast("timestamp_ntz").alias("window_start"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("event_count"))
    )
    chunks = gorilla.compress_tier(tier, value_col="event_count", key="event_type")
    back = gorilla.decompress_chunks(chunks, value_col="event_count", time_type="timestamp_ntz")
    return back.select(
        F.col("domain").alias("event_type"),
        "window_start",
        F.col("event_count").cast("long").alias("event_count"),
    )


def _q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("_c", _cents("value"))
    return salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n_events": (F.count, F.sum, F.lit(1)),
            "value_cents": (F.sum, F.sum, "_c"),
        },
        uniformizer="ts",
        num_salts=16,
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return DD.exact_dedup_groups(docs)


def _q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n = TX.ws_token_count("text")
    hits = TX.stopword_hits("text")
    return docs.select(
        "doc_id",
        n.alias("ws_tokens"),
        TX.approx_bpe_token_count("text").alias("bpe_tokens"),
        TX.bpe_regex_token_count("text").alias("bpe_regex_tokens"),
        hits.alias("stop_hits"),
        TX.lang_id("text").alias("pred_lang"),
        TX.quality_score("text").alias("quality"),
        TX.fingerprint("text").alias("fp"),
    )


def _q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF time-weighted hourly average of event values per type: exact
    integer (cents x micros) integral, one double division at the end."""
    from tstore_spark.operators.timeweighted import time_weighted_avg

    ev = _t(spark, sf_dir, "events")
    return time_weighted_avg(ev, "event_type", "ts", "value", "1h", tiebreak_col="event_id")


def _q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window counter increase/rate treating event values as a counter
    with resets (drop => post-reset reading is the increase)."""
    from tstore_spark.operators.timeweighted import counter_rate

    ev = _t(spark, sf_dir, "events")
    return counter_rate(ev, "event_type", "ts", "value", "1h", tiebreak_col="event_id")


_TWA_ORACLE = """
    WITH pts AS (
      SELECT event_type AS k, epoch_us(ts) AS t,
             CAST(round(value * 100) AS BIGINT) AS v, event_id AS tb
      FROM events),
    seg0 AS (
      SELECT k, t, v,
             coalesce(lead(t) OVER (PARTITION BY k ORDER BY t, tb),
                      t - t % 3600000000 + 3600000000) AS e
      FROM pts),
    seg AS (
      SELECT k, t, v, e,
             unnest(range(t - t % 3600000000, e, 3600000000)) AS w0
      FROM seg0 WHERE e > t)
    SELECT k AS event_type,
           make_timestamp(w0) AS window_start,
           CAST(sum(v * (least(e, w0 + 3600000000) - greatest(t, w0))) AS BIGINT)
             / CAST(sum(least(e, w0 + 3600000000) - greatest(t, w0)) AS BIGINT)
             / 100 AS twa,
           CAST(sum(least(e, w0 + 3600000000) - greatest(t, w0)) AS BIGINT) AS covered_us
    FROM seg GROUP BY k, w0
"""

_COUNTER_RATE_ORACLE = """
    WITH pts AS (
      SELECT event_type AS k, epoch_us(ts) AS t,
             CAST(round(value * 100) AS BIGINT) AS v, event_id AS tb
      FROM events),
    d AS (
      SELECT k, t - t % 3600000000 AS w0,
             CASE WHEN lag(v) OVER (PARTITION BY k ORDER BY t, tb) IS NULL THEN NULL
                  WHEN v >= lag(v) OVER (PARTITION BY k ORDER BY t, tb)
                       THEN v - lag(v) OVER (PARTITION BY k ORDER BY t, tb)
                  ELSE v END AS dv
      FROM pts)
    SELECT k AS event_type, make_timestamp(w0) AS window_start,
           CAST(sum(dv) AS BIGINT) / 100 AS increase,
           CAST(sum(dv) AS BIGINT) / 100 / 3600.0 AS rate
    FROM d WHERE dv IS NOT NULL GROUP BY k, w0
"""


def _q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-row mean/std per event_type: integer (count, Σv, Σv²)
    window state, one float expression per row in a fixed op order — the
    oracle mirrors the order, so the doubles are bit-identical."""
    from tstore_spark.operators.rolling import rolling_stats

    ev = _t(spark, sf_dir, "events")
    return rolling_stats(ev, "event_type", "ts", "value", n_preceding=19, tiebreak_col="event_id")


def _q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score outliers (baseline = 20 preceding rows, candidate
    excluded). The anomaly DECISION is exact integer cross-products — no
    float enters until the reported zscore — so near-tie rows cannot flip
    between engines."""
    from tstore_spark.operators.rolling import zscore_anomalies

    ev = _t(spark, sf_dir, "events")
    return zscore_anomalies(
        ev, "event_type", "ts", "value", n_preceding=20, threshold=2.5, tiebreak_col="event_id"
    )


def _q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event_type: open/close by total (ts, event_id)
    order, exact integer high/low, single-shuffle window+agg plan."""
    from tstore_spark.operators.rolling import ohlc

    ev = _t(spark, sf_dir, "events")
    return ohlc(ev, "event_type", "ts", "value", "1h", tiebreak_col="event_id")


def _q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated EWMA (alpha=0.2, k=20 kernel) per event_type: the weight
    kernel is integerized driver-side and shared verbatim with the oracle,
    so the weighted sums are exact longs in both engines."""
    from tstore_spark.operators.rolling import ewma_truncated

    ev = _t(spark, sf_dir, "events")
    return ewma_truncated(ev, "event_type", "ts", "value", alpha=0.2, k=20, tiebreak_col="event_id")


_ROLLING_STATS_ORACLE = """
    WITH pts AS (
      SELECT event_type AS k, ts, value, epoch_us(ts) AS t,
             CAST(round(value * 100) AS BIGINT) AS v, event_id AS tb
      FROM events),
    b AS (
      SELECT k, ts, value,
             count(v) OVER w AS n,
             CAST(sum(v) OVER w AS BIGINT) AS s1,
             CAST(sum(v * v) OVER w AS BIGINT) AS s2
      FROM pts
      WINDOW w AS (PARTITION BY k ORDER BY t, tb
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
    SELECT k AS event_type, ts, value, n AS roll_n,
           s1 / n / 100 AS roll_mean,
           CASE WHEN n > 1
                THEN sqrt((n * s2 - s1 * s1) / (n * (n - 1))) / 100 END AS roll_std
    FROM b
"""

# integer anomaly decision mirrored from operators/rolling.zscore_anomalies:
# (n*v - s1)^2 * (n-1) * 1e6  >  thr1000^2 * n * (n*s2 - s1*s1), in HUGEINT
# (Spark side uses DECIMAL(38,0)) so neither engine can overflow or round
_ZSCORE_ORACLE = """
    WITH pts AS (
      SELECT event_type AS k, ts, value, epoch_us(ts) AS t,
             CAST(round(value * 100) AS BIGINT) AS v, event_id AS tb
      FROM events),
    b AS (
      SELECT k, ts, value, v,
             count(v) OVER w AS n,
             CAST(sum(v) OVER w AS BIGINT) AS s1,
             CAST(sum(v * v) OVER w AS BIGINT) AS s2
      FROM pts
      WINDOW w AS (PARTITION BY k ORDER BY t, tb
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
    f AS (
      SELECT * FROM b
      WHERE n >= 5 AND (n * s2 - s1 * s1) > 0
        AND CAST(n * v - s1 AS HUGEINT) * CAST(n * v - s1 AS HUGEINT)
              * CAST(n - 1 AS HUGEINT) * CAST(1000000 AS HUGEINT)
            > CAST(6250000 AS HUGEINT) * CAST(n AS HUGEINT)
              * CAST(n * s2 - s1 * s1 AS HUGEINT))
    SELECT k AS event_type, ts, value, n AS base_n,
           s1 / n / 100 AS base_mean,
           sqrt((n * s2 - s1 * s1) / (n * (n - 1))) / 100 AS base_std,
           (value - s1 / n / 100) / (sqrt((n * s2 - s1 * s1) / (n * (n - 1))) / 100) AS zscore
    FROM f
"""

_OHLC_ORACLE = """
    WITH pts AS (
      SELECT event_type AS k, epoch_us(ts) AS t,
             CAST(round(value * 100) AS BIGINT) AS v, event_id AS tb
      FROM events),
    r AS (
      SELECT k, t - t % 3600000000 AS w0, v,
             row_number() OVER (PARTITION BY k, t - t % 3600000000
                                ORDER BY t, tb) AS ra,
             row_number() OVER (PARTITION BY k, t - t % 3600000000
                                ORDER BY t DESC, tb DESC) AS rd
      FROM pts)
    SELECT k AS event_type, make_timestamp(w0) AS window_start,
           CAST(max(CASE WHEN ra = 1 THEN v END) AS BIGINT) / 100 AS open,
           CAST(max(v) AS BIGINT) / 100 AS high,
           CAST(min(v) AS BIGINT) / 100 AS low,
           CAST(max(CASE WHEN rd = 1 THEN v END) AS BIGINT) / 100 AS close,
           count(*) AS n_points
    FROM r GROUP BY k, w0
"""


def _ewma_oracle() -> str:
    """EWMA oracle with the SAME integer weight kernel the Spark plan uses
    (tstore_spark.operators.rolling.ewma_weights) — injected as literals so
    neither engine rounds its own pow()."""
    from tstore_spark.operators.rolling import ewma_weights

    values = ", ".join(f"({j}, {w})" for j, w in enumerate(ewma_weights(0.2, 20)))
    return f"""
    WITH pts AS (
      SELECT event_type AS k, ts, value, epoch_us(ts) AS t,
             CAST(round(value * 100) AS BIGINT) AS v, event_id AS tb
      FROM events),
    base AS (
      SELECT k, ts, value, v,
             row_number() OVER (PARTITION BY k ORDER BY t, tb) AS rn
      FROM pts),
    wt (j, wgt) AS (VALUES {values}),
    contrib AS (
      SELECT b.k, b.rn + w.j AS target, b.v * w.wgt AS wv, w.wgt
      FROM base b CROSS JOIN wt w),
    agg AS (
      SELECT k, target,
             CAST(sum(wv) AS BIGINT) AS swv,
             CAST(sum(wgt) AS BIGINT) AS sw,
             count(*) AS ewma_n
      FROM contrib GROUP BY k, target)
    SELECT b.k AS event_type, b.ts, b.value, a.ewma_n,
           a.swv / a.sw / 100 AS ewma
    FROM base b JOIN agg a ON b.k = a.k AND b.rn = a.target
"""


def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join without a nested loop: per-user error
    windows [ts, ts+45m) gather the user's events via the 1h-bucketed
    equi-join (operators/rangejoin.py). Oracle = the naive inequality join."""
    from tstore_spark.operators.rangejoin import interval_point_join

    ev = _t(spark, sf_dir, "events")
    ivs = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("iid"),
        F.col("ts").alias("start"),
        F.expr("timestampadd(MINUTE, 45, ts)").alias("end"),
    )
    pts = ev.select("user_id", "ts", F.col("event_id").alias("pid"), _cents("value").alias("v"))
    joined = interval_point_join(pts, ivs, "ts", "start", "end", "1h", keys=["user_id"])
    return joined.groupBy("iid").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("v").alias("cents_sum")
    )


def _q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping per-user error windows, each pair emitted exactly once
    from the bucket of the later start (no distinct pass). Oracle = naive
    pairwise overlap SQL."""
    from tstore_spark.operators.rangejoin import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    base = ev.where(F.col("event_type") == "error")
    left = base.select(
        "user_id",
        F.col("event_id").alias("lid"),
        F.col("ts").alias("ls"),
        F.expr("timestampadd(MINUTE, 45, ts)").alias("le"),
    )
    right = base.select(
        "user_id",
        F.col("event_id").alias("rid"),
        F.col("ts").alias("rs"),
        F.expr("timestampadd(MINUTE, 45, ts)").alias("re"),
    )
    pairs = interval_overlap_join(left, right, "ls", "le", "rs", "re", "1h", keys=["user_id"])
    return pairs.where(F.col("lid") < F.col("rid")).select("user_id", "lid", "rid")


_INTERVAL_JOIN_ORACLE = """
    WITH iv AS (
      SELECT user_id, event_id AS iid, ts AS s, ts + INTERVAL 45 MINUTE AS e
      FROM events WHERE event_type = 'error'),
    j AS (
      SELECT iv.iid, CAST(round(p.value * 100) AS BIGINT) AS v
      FROM iv JOIN events p
        ON p.user_id = iv.user_id AND p.ts >= iv.s AND p.ts < iv.e)
    SELECT iid, count(*) AS n_events, CAST(sum(v) AS BIGINT) AS cents_sum
    FROM j GROUP BY iid
"""

_INTERVAL_OVERLAP_ORACLE = """
    WITH iv AS (
      SELECT user_id, event_id AS eid, ts AS s, ts + INTERVAL 45 MINUTE AS e
      FROM events WHERE event_type = 'error')
    SELECT a.user_id, a.eid AS lid, b.eid AS rid
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id AND a.eid < b.eid
     AND greatest(a.s, b.s) < least(a.e, b.e)
"""


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table with the oracle-mirrorable seeded
    assignment (seeds = vec_id < 8, Catalyst distance expressions): cluster,
    within-cluster cosine >= 0.45, min-id survivor. The k-means centroid
    path (same semantics, numpy kernel) is pytest-covered."""
    from tstore_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    seeds = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("seed_id"), F.col("embedding").alias("seed_vec")
    )
    return semantic_dedup(emb, threshold=0.45, seeds=seeds)


_SEMANTIC_DEDUP_ORACLE = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
    s AS (SELECT vec_id AS sid, x AS sv FROM v WHERE vec_id < 8),
    d AS (
      SELECT v.vec_id, s.sid,
             round(list_dot_product(x, x) - 2 * list_dot_product(x, sv)
                   + list_dot_product(sv, sv), 6) AS d2
      FROM v CROSS JOIN s),
    a AS (
      SELECT vec_id, sid AS cluster FROM (
        SELECT vec_id, sid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, sid) AS rn
        FROM d)
      WHERE rn = 1),
    av AS (SELECT a.vec_id, a.cluster, v.x FROM a JOIN v USING (vec_id)),
    dup AS (
      SELECT DISTINCT b.vec_id FROM av a JOIN av b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.x, b.x)
                  / (sqrt(list_dot_product(a.x, a.x)) * sqrt(list_dot_product(b.x, b.x))), 3)
            >= 0.45)
    SELECT av.vec_id, av.cluster, (dup.vec_id IS NULL) AS keep
    FROM av LEFT JOIN dup ON av.vec_id = dup.vec_id
"""


def _q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide 25 most frequent word trigrams (expression-explode +
    two-stage count + TakeOrdered). Oracle: list_transform/unnest twin."""
    from tstore_spark.operators.corpus import top_ngrams

    return top_ngrams(_t(spark, sf_dir, "documents"), n=3, k=25)


def _q_bloom_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-crawl admission filter: even doc_ids play the ingested corpus,
    odd the new crawl. The corpus's fingerprint Bloom filter (a broadcast
    bitset, built with mergeable bit_or sums) marks each new doc maybe-seen
    or definitely-new; the no-false-negative theorem — bloom says new =>
    truly new — is the oracle-checked boolean, alongside the exact
    membership DuckDB recomputes."""
    from tstore_spark.operators.bloom import (
        bloom_build,
        bloom_dense,
        bloom_maybe_contains,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "fp", F.md5(F.lower(F.trim("text")))
    )
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    dense = bloom_dense(bloom_build(corpus.select("fp"), "fp"))
    probed = bloom_maybe_contains(dense, new.select("doc_id", "fp"), "fp")
    seen = corpus.select("fp").distinct().withColumn("_seen", F.lit(True))
    truly_seen = F.coalesce("_seen", F.lit(False))
    return (
        probed.join(seen, "fp", "left")
        .select(
            "doc_id",
            truly_seen.alias("truly_seen"),
            (F.col("bloom_maybe") | ~truly_seen).alias("no_false_negative"),
        )
    )


def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch vs exact counts over the corpus token stream, as an
    oracle-checkable contract: for the exact top-20 tokens, the sketch
    estimate must (a) never undercount — a theorem, integer sums with no
    deletions — and (b) sit within the classic eps*N band (w=8192). The
    sketch is d*w cells of long sums with fixed hashes, so both booleans
    are deterministic. explode_outer (not explode) keeps the inferred
    size()>0 filter out of the plan — tokens() never re-evaluates in an
    interpreted scan filter, and empty docs still tokenize to [''] so no
    rows are lost."""
    from tstore_spark.operators.countmin import cms_estimate, cms_from_counts

    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(TX.tokens("text").alias("_toks"))
    toks = staged.select(F.explode_outer("_toks").alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_cnt"))
    sk = cms_from_counts(counts, "token", "exact_cnt", d=4, w=8192)
    top = counts.orderBy(F.desc("exact_cnt"), F.asc("token")).limit(20)
    est = cms_estimate(sk, top.select("token"), "token", d=4, w=8192)
    total = counts.agg(F.sum("exact_cnt").alias("_n"))
    return (
        top.join(est, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            "exact_cnt",
            (F.col("cms_est") >= F.col("exact_cnt")).alias("lower_bounded"),
            (
                (F.col("cms_est") - F.col("exact_cnt"))
                <= F.greatest(F.lit(8.0), F.lit(3.0) * F.col("_n") / 8192)
            ).alias("within_eps"),
        )
    )


def _q_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visual aggregation (VLDB 2014): 24 pixel-column time buckets per
    event_type, keeping first/min/max/last per bucket — one map-side-combined
    groupBy over an exact-integer bucket id. Every output value is a
    SELECTION of an input double (first/last via lexicographic
    (epoch, value) struct min/max — deterministic under duplicate
    timestamps), so the raw doubles hash-match the identical selection in
    DuckDB."""
    from tstore_spark.operators.downsample import m4_downsample

    ev = _t(spark, sf_dir, "events")
    out = m4_downsample(ev, "event_type", "ts", "value", 24)
    return out.select(
        "event_type",
        F.col("bucket").cast("long").alias("bucket"),
        "bucket_start", "t_first", "v_first", "v_min", "v_max",
        "t_last", "v_last",
        F.col("n_points").cast("long").alias("n_points"),
    )


def _q_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density heatmap of event values on a 16x8 pixel grid per event_type:
    exact integer micros x cents cell assignment, one map-side-combined
    groupBy. Oracle replays the identical integer bucket math in SQL."""
    from tstore_spark.operators.downsample import heatmap_downsample

    ev = _t(spark, sf_dir, "events")
    out = heatmap_downsample(ev, "event_type", "ts", "value", 16, 8)
    return out.select(
        "key",
        F.col("t_bucket").cast("long").alias("t_bucket"),
        F.col("v_bucket").cast("long").alias("v_bucket"),
        "t_start", "v_lo",
        F.col("n_points").cast("long").alias("n_points"),
    )


def _q_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape-preserving downsample of each event_type's value series to 48
    points via parallel fixed-anchor LTTB. Oracle replays the identical
    integer-rank bucketing / mid-rank anchors / triangle-area argmax with
    window functions."""
    from tstore_spark.operators.downsample import lttb_downsample

    ev = _t(spark, sf_dir, "events")
    return lttb_downsample(ev, "event_type", "ts", "value", 48, tiebreak_col="event_id")


_LTTB_ORACLE = """
    WITH pts AS (
      SELECT event_type AS k, ts, value,
             CAST(epoch_us(ts) AS DOUBLE) AS t,
             row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS r,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    interior AS (
      SELECT *, ((r - 2) * 46) // (n - 2) AS b FROM pts WHERE r > 1 AND r < n AND n > 48),
    endpoints AS (SELECT * FROM pts WHERE (r = 1 OR r = n) AND n > 48),
    small AS (SELECT k, ts, value FROM pts WHERE n <= 48),
    anch AS (
      SELECT k, b, t AS a_t, value AS a_v FROM (
        SELECT k, b, t, value,
               row_number() OVER (PARTITION BY k, b ORDER BY r) AS rn,
               count(*) OVER (PARTITION BY k, b) AS cnt
        FROM interior)
      WHERE rn = (cnt + 1) // 2),
    allanch AS (
      SELECT * FROM anch
      UNION ALL SELECT k, -1 AS b, t, value FROM endpoints WHERE r = 1
      UNION ALL SELECT k, 46 AS b, t, value FROM endpoints WHERE r = n),
    neigh AS (
      SELECT k, b,
             lag(a_t)  OVER (PARTITION BY k ORDER BY b) AS pt,
             lag(a_v)  OVER (PARTITION BY k ORDER BY b) AS pv,
             lead(a_t) OVER (PARTITION BY k ORDER BY b) AS nt,
             lead(a_v) OVER (PARTITION BY k ORDER BY b) AS nv
      FROM allanch),
    scored AS (
      SELECT i.k, i.ts, i.value, i.b, i.r,
             abs((nb.pt - nb.nt) * (i.value - nb.pv) - (nb.pt - i.t) * (nb.nv - nb.pv)) AS area
      FROM interior i JOIN neigh nb ON i.k = nb.k AND i.b = nb.b),
    picked AS (
      SELECT k, ts, value FROM (
        SELECT k, ts, value,
               row_number() OVER (PARTITION BY k, b ORDER BY area DESC, r) AS sel
        FROM scored)
      WHERE sel = 1)
    SELECT k AS event_type, ts, value FROM small
    UNION ALL SELECT k AS event_type, ts, value FROM endpoints
    UNION ALL SELECT * FROM picked
"""


_M4_ORACLE = """
    WITH pts AS (
      SELECT event_type, epoch_us(ts) AS e, CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL),
    bounds AS (SELECT MIN(e) AS lo, MAX(e) - MIN(e) + 1 AS span FROM pts),
    b AS (
      SELECT event_type, e, v, lo, span, ((e - lo) * 24) // span AS bucket
      FROM pts, bounds),
    agg AS (
      SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
             ANY_VALUE(lo) + (bucket * ANY_VALUE(span) + 23) // 24 AS bs,
             MIN({'e': e, 'v': v}) AS f,
             MAX({'e': e, 'v': v}) AS l,
             MIN(v) AS v_min, MAX(v) AS v_max,
             CAST(COUNT(*) AS BIGINT) AS n_points
      FROM b GROUP BY event_type, bucket)
    SELECT event_type, bucket,
           make_timestamp(bs) AS bucket_start,
           make_timestamp(f.e) AS t_first, f.v AS v_first,
           v_min, v_max,
           make_timestamp(l.e) AS t_last, l.v AS v_last,
           n_points
    FROM agg
"""


def _url_canonicalize_oracle() -> str:
    """DuckDB twin of _q_url_canonicalize, generated from the same pattern
    table as the Spark function so the two chains cannot drift."""
    from tstore_spark.functions.urls import canonical_url_sql

    messy = (
        "'HTTP://Example-' || source || '.COM:80/docs/' || CAST(doc_id AS VARCHAR)"
        " || '?utm_source=feed&utm_campaign=c&q=' || CAST(doc_id AS VARCHAR)"
        " || '&fbclid=xyz#frag'"
    )
    return f"SELECT doc_id, {canonical_url_sql(messy)} AS canon_url FROM documents"


def _q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking on a normalized 40-char text-prefix key:
    every candidate pair within 8 sort positions. The distributed prefix-sum
    rank equals the naive global row_number ORDER BY (key, doc_id) row for
    row — which is exactly the oracle's formulation. The whitespace class is
    spelled [ \\t\\n\\r] literally (Java and RE2 disagree on \\s)."""
    from tstore_spark.operators.dedup import sorted_neighborhood_pairs

    docs = _t(spark, sf_dir, "documents")
    key = F.substring(
        F.regexp_replace(F.lower("text"), "[ \t\n\r]+", " "), 1, 40
    )
    return sorted_neighborhood_pairs(
        docs.select("doc_id", key.alias("text_key")), "text_key", window=8
    )


_SNM_ORACLE = """
    WITH k AS (
        SELECT doc_id,
               substr(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g'), 1, 40)
                   AS key
        FROM documents WHERE text IS NOT NULL),
    r AS (
        SELECT doc_id, key, row_number() OVER (ORDER BY key, doc_id) AS rn FROM k)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.key AS key_a, b.key AS key_b,
           CAST(b.rn - a.rn AS INT) AS rank_dist
    FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn < 8
"""


def _q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level near-dup keys (operators/dedup.py:edit_distance_pairs):
    the sorted-neighborhood candidates on the same 40-char normalized text
    prefix, verified with JVM Levenshtein <= 5 (threshold variant — early
    abandon, same exact distances on kept rows). Oracle: the SND rank SQL
    + DuckDB's levenshtein (classic unit-cost distance in both engines,
    parity pytest-checked on real candidate keys)."""
    from tstore_spark.operators.dedup import edit_distance_pairs

    docs = _t(spark, sf_dir, "documents")
    key = F.substring(
        F.regexp_replace(F.lower("text"), "[ \t\n\r]+", " "), 1, 40
    )
    return edit_distance_pairs(
        docs.select("doc_id", key.alias("text_key")), "text_key",
        window=8, max_dist=5,
    )


_EDIT_DIST_ORACLE = """
    WITH k AS (
        SELECT doc_id,
               substr(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g'), 1, 40)
                   AS key
        FROM documents WHERE text IS NOT NULL),
    r AS (
        SELECT doc_id, key, row_number() OVER (ORDER BY key, doc_id) AS rn FROM k)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.key AS key_a, b.key AS key_b,
           CAST(b.rn - a.rn AS INT) AS rank_dist,
           CAST(levenshtein(a.key, b.key) AS INT) AS dist
    FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn < 8
    WHERE levenshtein(a.key, b.key) <= 5
"""


def _q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-pattern mining over deterministically constructed urls (item ids,
    a category counter, a 16-char session token on every 3rd doc, query
    params on every 5th): templates collapse the id-bearing segments so the
    trap templates profile with exact counts. Oracle: the SAME construction
    + the SQL twin of the template chain, grouped identically."""
    from tstore_spark.operators.corpus import url_template_profile

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/cat/"),
        (did % 7).cast("string"), F.lit("/item/"), did.cast("string"),
        F.when(did % 3 == 0,
               F.concat(F.lit("/sess/"), F.lpad(did.cast("string"), 16, "a"))
               ).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("?page=2&q=term")).otherwise(F.lit("")),
    )
    return url_template_profile(docs.select(url.alias("url")), trap_min_urls=50)


def _url_templates_oracle() -> str:
    """DuckDB twin of _q_url_templates (same construction, same pattern
    table via url_template_sql)."""
    from tstore_spark.functions.urls import url_template_sql

    messy = (
        "'https://' || source || '.example.com/cat/' || CAST(doc_id % 7 AS VARCHAR)"
        " || '/item/' || CAST(doc_id AS VARCHAR)"
        " || CASE WHEN doc_id % 3 = 0"
        "         THEN '/sess/' || lpad(CAST(doc_id AS VARCHAR), 16, 'a') ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN '?page=2&q=term' ELSE '' END"
    )
    return f"""
        WITH u AS (SELECT {url_template_sql(messy)} AS template,
                          {messy} AS url FROM documents)
        SELECT template,
               CAST(count(*) AS BIGINT) AS n_pages,
               CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
               CAST(length(regexp_extract_all(template, '\\{{(uuid|hex|n)\\}}')) AS INT)
                   AS n_slots,
               min(url) AS example_url,
               count(DISTINCT url) >= 50 AS is_trap
        FROM u GROUP BY template
    """


def _html_extract_oracle() -> str:
    """DuckDB twin of _q_html_extract, generated from the same pattern
    tables as the Spark function so the two chains cannot drift."""
    expr = (
        "'<html><head><title>' || source || "
        "'</title><style>.x{c:1}</style><script>if(1<2){alert(''<b>'')}</script></head><body><p>' || "
        "replace(text, 'agg', '&amp;agg') || "
        "'</p><!-- ' || lang || ' --></body></html>'"
    )
    for pat, rep in TX.HTML_STRIP_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    for ent, ch in TX.HTML_ENTITIES:
        expr = f"replace({expr}, '{ent}', '{ch.replace(chr(39), chr(39) * 2)}')"
    return f"""
        SELECT doc_id, clean_text, CAST(length(clean_text) AS BIGINT) AS clean_len
        FROM (SELECT doc_id, {expr} AS clean_text FROM documents)
    """


def _q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction over a deterministically constructed page:
    title + body paragraph + entity-escaped text, with style/script/comment
    chrome planted. Oracle constructs the identical html string in SQL and
    runs the identical engine-portable strip/decode chain (byte-exact)."""
    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>"), F.col("source"),
        F.lit("</title><style>.x{c:1}</style><script>if(1<2){alert('<b>')}</script></head><body><p>"),
        F.replace(F.col("text"), F.lit("agg"), F.lit("&amp;agg")),
        F.lit("</p><!-- "), F.col("lang"), F.lit(" --></body></html>"),
    )
    clean = TX.html_to_text(html, input_is_binary=False)
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length(clean).cast("long").alias("clean_len"),
    )


def _link_pages(docs: DataFrame) -> DataFrame:
    """Deterministic crawl pages: each document becomes a page on host
    s<doc_id%20>.example.com carrying two anchors to d<f(doc_id)%40> hosts
    with doc_id-derived anchor text. Everything downstream is recovered by
    the REAL extraction chain (regexp over html -> parse_url hosts); the
    oracles derive the same sets algebraically from doc_id, so the whole
    html->link->host pipeline is cross-checked, not assumed."""
    d = F.col("doc_id")
    h1 = F.concat(F.lit("d"), ((d * 7 + 1) % 40).cast("string"), F.lit(".example.com"))
    h2 = F.concat(F.lit("d"), ((d * 3 + 2) % 40).cast("string"), F.lit(".example.com"))
    return docs.select(
        F.concat(
            F.lit("http://s"), (d % 20).cast("string"), F.lit(".example.com/page/"), d.cast("string")
        ).alias("url"),
        F.concat(
            F.lit('<html><body><a href="http://'), h1,
            F.lit('/p">alpha w'), (d % 7).cast("string"),
            F.lit("</a> text <a href='http://"), h2,
            F.lit("/q?z=1'>beta w"), (d % 5).cast("string"),
            F.lit("</a></body></html>"),
        ).alias("html"),
    )


def _link_edges(docs: DataFrame) -> DataFrame:
    from tstore_spark.operators.graph import extract_links, host_edges

    return host_edges(extract_links(_link_pages(docs)))


_LINK_EDGES_SQL = """
    SELECT 's' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS src,
           'd' || CAST((doc_id * 7 + 1) % 40 AS VARCHAR) || '.example.com' AS dst
    FROM documents
    UNION
    SELECT 's' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS src,
           'd' || CAST((doc_id * 3 + 2) % 40 AS VARCHAR) || '.example.com' AS dst
    FROM documents
"""


def _q_link_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out/in degree of the deterministic doc-derived host graph, computed
    through the real html-extraction chain (operators/graph.py)."""
    from tstore_spark.operators.graph import host_degrees

    return host_degrees(_link_edges(_t(spark, sf_dir, "documents")))


def _q_anchor_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-term profile per target host (the off-page "what the web
    calls this host" signal): anchors extracted by the real two-group
    regex + positional zip, hosts by parse_url, term counts exact. Oracle
    derives the same (host, term, n) set algebraically from doc_id."""
    from tstore_spark.operators.graph import anchor_term_profile, extract_anchors

    return anchor_term_profile(extract_anchors(_link_pages(_t(spark, sf_dir, "documents"))))


def _q_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer PageRank (3 iterations, damping 85/100, scale 1e12)
    over the doc-derived host graph. Ranks are longs -> the oracle (the
    generated SQL twin of the same integer recursion) matches bit-for-bit;
    deterministic at any parallelism because every step is integer
    arithmetic over order-independent sums."""
    from tstore_spark.operators.graph import pagerank

    return pagerank(_link_edges(_t(spark, sf_dir, "documents")), iterations=3)


def _planted_graph(docs: DataFrame) -> DataFrame:
    """Doc-derived graph planted so round-based graph ops do real work:
    a 7-node path (peels/walks one node per round) bridged to two 4-cycles
    at 1000+, plus an ER-ish mod-101 component at 2000+ whose edge set
    varies with the scale factor. Mirrored verbatim by _PLANTED_GRAPH_SQL."""
    d = docs.select("doc_id")
    path = d.where(F.col("doc_id") < 6).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    )
    cyc = d.select(
        (F.col("doc_id") % 8 + 1000).alias("src"),
        ((F.col("doc_id") * 3 + 1) % 8 + 1000).alias("dst"),
    )
    bridge = d.where(F.col("doc_id") == 0).select(
        F.lit(0).cast("long").alias("src"), F.lit(1000).cast("long").alias("dst")
    )
    # the crawl-batch term (doc_id div 101) multiplies distinct edges with
    # corpus size, so this component's structure genuinely varies by sf
    er = d.select(
        (F.col("doc_id") % 101 + 2000).alias("src"),
        (
            (F.col("doc_id") * 17 + F.expr("doc_id div 101") * 31 + 5) % 101 + 2000
        ).alias("dst"),
    )
    return path.unionByName(cyc).unionByName(bridge).unionByName(er)


_PLANTED_GRAPH_SQL = """
    SELECT CAST(doc_id AS BIGINT) AS src, CAST(doc_id + 1 AS BIGINT) AS dst
    FROM documents WHERE doc_id < 6
    UNION ALL
    SELECT doc_id % 8 + 1000, (doc_id * 3 + 1) % 8 + 1000 FROM documents
    UNION ALL
    SELECT 0, 1000 FROM documents WHERE doc_id = 0
    UNION ALL
    SELECT doc_id % 101 + 2000,
           (doc_id * 17 + (doc_id // 101) * 31 + 5) % 101 + 2000
    FROM documents
"""


def _q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (operators/graph.py:k_core) — iterative peeling
    to fixpoint over the planted graph: the path hanging off the cycles
    peels one node per round (~8 rounds), the ER component varies with
    scale. Exact integer degrees, set output — the oracle is the same peel
    unrolled 12 rounds (no-op past the fixpoint; the operator raises if 12
    wouldn't suffice, so the twins cannot silently diverge)."""
    from tstore_spark.operators.graph import k_core

    edges = _planted_graph(_t(spark, sf_dir, "documents"))
    # the fixture graph is a few hundred edges: 8 loop partitions keep the
    # ~8 peel rounds overhead-bound, not shuffle-bound (param exists for
    # exactly this — at web scale leave it at the session default)
    return k_core(edges, k=2, max_rounds=12, num_partitions=8)


def _q_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance (operators/graph.py:bfs_hops) — the
    crawl-depth-from-seeds signal, undirected over the planted graph from
    seeds {0, 2000}: the path yields a 1..6 hop gradient, the cycles sit
    across the bridge, the ER component's internal distances vary with
    scale. Bounded depth is a semantic (the crawl-depth cap), so the SQL
    twin runs the identical 12-round recursion."""
    from tstore_spark.operators.graph import bfs_hops

    edges = _planted_graph(_t(spark, sf_dir, "documents"))
    return bfs_hops(
        edges, [0, 2000], max_hops=12, directed=False, num_partitions=8
    )


def _q_hits_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer HITS (3 iterations, max-normalized at scale 1e9) over
    the doc-derived host graph — the link graph is bipartite (sources never
    receive links), which is HITS's natural habitat: sources score as pure
    hubs, targets as pure authorities. Every step is integer arithmetic
    over order-independent sums, so the oracle (the generated SQL twin of
    the same recursion) matches bit-for-bit."""
    from tstore_spark.operators.graph import hits

    return hits(_link_edges(_t(spark, sf_dir, "documents")), iterations=3)


def _q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host triangle counts (operators/graph.py:triangle_counts) — the
    mirror-farm/spam-clique signal — via degree-oriented wedge joins (never
    a hub neighborhood cross product). The link-chain host graph
    (_LINK_EDGES_SQL) is bipartite (src hosts never link each other), so
    this gate derives a deterministic NON-bipartite host graph from doc_id
    arithmetic; the html-extraction chain itself is covered by
    link_degrees/pagerank_hosts. Oracle: the canonical a<b<c three-way
    equi-join in plain SQL — exact integer counts."""
    from tstore_spark.operators.graph import triangle_counts

    docs = _t(spark, sf_dir, "documents")

    def _h(expr):
        return F.concat(F.lit("h"), (expr % 25).cast("string"))

    edges = (
        docs.select(
            _h(F.col("doc_id")).alias("src"),
            _h(F.col("doc_id") + 1).alias("dst"),
        )
        .unionAll(
            docs.select(
                _h(F.col("doc_id")).alias("src"),
                _h(F.col("doc_id") + 2).alias("dst"),
            )
        )
        .unionAll(
            docs.select(
                _h(F.col("doc_id")).alias("src"),
                _h(F.col("doc_id") * 7 + 3).alias("dst"),
            )
        )
    )
    return triangle_counts(edges)


def _q_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficients (operators/graph.py
    clustering_coefficient) over the same deterministic non-bipartite host
    graph as triangle_counts: exact integer degree + triangle counts, the
    coefficient ONE fixed division 2T/(d(d-1)). Oracle extends the
    canonical a<b<c triangle SQL with the degree CTE and the identical
    division."""
    from tstore_spark.operators.graph import clustering_coefficient

    docs = _t(spark, sf_dir, "documents")

    def _h(expr):
        return F.concat(F.lit("h"), (expr % 25).cast("string"))

    edges = (
        docs.select(
            _h(F.col("doc_id")).alias("src"),
            _h(F.col("doc_id") + 1).alias("dst"),
        )
        .unionAll(
            docs.select(
                _h(F.col("doc_id")).alias("src"),
                _h(F.col("doc_id") + 2).alias("dst"),
            )
        )
        .unionAll(
            docs.select(
                _h(F.col("doc_id")).alias("src"),
                _h(F.col("doc_id") * 7 + 3).alias("dst"),
            )
        )
    )
    return clustering_coefficient(edges)


def _q_burst_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg-style burst episodes (operators/burst.py:burst_label) over
    per-type hourly event counts with a deterministic planted elevation
    (+20 on hours where (hour-index mod 50) < 3 — sustained 3-hour bursts
    the entry toll should accept, while organic single-hour count noise
    should not pay for). Integer quadratic DP, forward/backward marginal
    labeling; the oracle is the identical recursion as DuckDB recursive
    CTEs. Window key is the NTZ epoch-micro hour start (BIGINT both
    sides — no session-zone cast anywhere)."""
    from tstore_spark.functions.timeparts import ntz_epoch_micros
    from tstore_spark.operators.burst import burst_label

    ev = _t(spark, sf_dir, "events")
    us = ntz_epoch_micros(F.col("ts"))
    counts = (
        ev.groupBy(
            F.col("event_type"),
            (us - us % 3_600_000_000).alias("w0_us"),
        )
        .agg(F.count(F.lit(1)).alias("_raw"))
        .select(
            "event_type",
            "w0_us",
            (
                F.col("_raw")
                + F.when(
                    F.expr("w0_us div 3600000000") % 50 < 3,
                    F.lit(20),
                ).otherwise(F.lit(0))
            ).alias("n"),
        )
    )
    return burst_label(counts, "event_type", "w0_us", "n")


_BURST_COUNTS_SQL = """
    SELECT event_type AS key,
           epoch_us(ts) - epoch_us(ts) % 3600000000 AS t,
           CAST(COUNT(*) AS BIGINT)
             + CASE WHEN ((epoch_us(ts) - epoch_us(ts) % 3600000000)
                          // 3600000000) % 50 < 3 THEN 20 ELSE 0 END AS n
    FROM events
    GROUP BY 1, 2
"""


def _q_scc_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (operators/graph.py:scc) — the web
    bow-tie primitive — over the planted graph: the 0..6 path stays seven
    singleton SCCs (reachability is one-way), the two directed 4-cycles at
    1000+ become two 4-node SCCs, and the mod-101 crawl-batch component's
    affine permutation maps weld into large SCCs whose shape varies with
    sf. Mutual reachability = bounded pair-doubling closure (7 rounds =
    128 hops) intersected with its transpose; the oracle is the identical
    doubling unrolled. Exact set/min output, loud max_pairs guard."""
    from tstore_spark.operators.graph import scc

    edges = _planted_graph(_t(spark, sf_dir, "documents"))
    return scc(edges, doubling_rounds=7, num_partitions=8)


def _q_cocitation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation relatedness (operators/graph.py:cocitation — Small
    1973): target-host pairs ranked by how many distinct source hosts link
    BOTH, over the doc-derived link graph (the real html→href→host chain).
    The bounded out-degree cap (the anti-directory-page guard) is part of
    the semantics and applied identically by the SQL twin. Exact integer
    counts from one self-equi-join on the source key."""
    from tstore_spark.operators.graph import cocitation

    return cocitation(
        _link_edges(_t(spark, sf_dir, "documents")), max_out_degree=100
    )


def _q_trustrank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (operators/graph.py:personalized_pagerank — Gyöngyi 2004):
    integer personalized PageRank from a two-host trusted seed whitelist
    over the doc-derived link graph. Teleport mass flows only from the
    seeds, so unreferenced hosts score exactly 0 — the spam-demotion
    signal global PageRank cannot give. Same bit-exact integer recursion
    as pagerank_hosts; the oracle is the generated SQL twin."""
    from tstore_spark.operators.graph import personalized_pagerank

    return personalized_pagerank(
        _link_edges(_t(spark, sf_dir, "documents")),
        seeds=["s0.example.com", "s1.example.com"],
        iterations=3,
    )


def _q_kmv_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k sketches (operators/kmv.py) estimating day-over-day
    RETURNING users — the set-INTERSECTION question HLL cannot answer
    (registers only merge by max = union). One k=64 sketch per day (state:
    64 longs, deterministic, exactly mergeable); each consecutive-day pair
    gets intersection + union estimates from the sketches alone. Gate
    invariant: estimates land within 35%+2 of the exact integer overlap
    (measured max rel err 0.186 inter / 0.093 union across both SFs —
    ~1.5x the 1/sqrt(k) ≈ 12.5% standard-error band, deterministic for
    this dataset). Oracle: exact counts + TRUE booleans in plain SQL."""
    from tstore_spark.operators.kmv import (
        kmv_estimate,
        kmv_intersection_estimate,
        kmv_merge_expr,
        kmv_sketch,
    )

    K = 64
    ev = _t(spark, sf_dir, "events").select(F.to_date("ts").alias("day"), "user_id")
    sk = kmv_sketch(ev, ["day"], "user_id", k=K)
    nxt = sk.select(F.date_add("day", -1).alias("day"), F.col("kmv").alias("_kb"))
    pairs = sk.join(nxt, "day").select(
        "day",
        kmv_intersection_estimate("kmv", "_kb", K).alias("_ei"),
        kmv_estimate(kmv_merge_expr("kmv", "_kb", K), K).alias("_eu"),
    )

    d = ev.distinct()
    n = d.groupBy("day").agg(F.count(F.lit(1)).alias("_na"))
    both = (
        d.join(d.select(F.date_add("day", -1).alias("day"), "user_id"), ["day", "user_id"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    exact = (
        n.join(n.select(F.date_add("day", -1).alias("day"), F.col("_na").alias("_nb")), "day")
        .join(both, "day", "left")
        .select(
            "day",
            F.coalesce("_inter", F.lit(0)).alias("exact_inter"),
            (F.col("_na") + F.col("_nb") - F.coalesce("_inter", F.lit(0))).alias(
                "exact_union"
            ),
        )
    )
    ok = lambda est, ex: F.abs(est - ex) <= F.lit(0.35) * ex + F.lit(2.0)  # noqa: E731
    return exact.join(pairs, "day").select(
        "day",
        "exact_inter",
        "exact_union",
        ok(F.col("_ei"), F.col("exact_inter")).alias("inter_ok"),
        ok(F.col("_eu"), F.col("exact_union")).alias("union_ok"),
    )


def _q_kmv_churned_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-DIFFERENCE estimates (kmv.py:kmv_difference_estimate):
    day-over-day CHURNED users (seen on day d, gone on d+1) — the churn
    question that completes the sketch set algebra (union: HLL/KMV,
    intersection: kmv_returning_users, difference: here) from the same
    per-day sketches. Gate invariant: |est − exact| ≤ 20% of the exact
    UNION + 2 — the band is union-relative because a difference
    estimator's error scales with |A∪B|/√k, not with the (possibly tiny)
    difference itself (measured max err/union 0.07 at both SFs ≈ 0.56×
    the 1/√64 standard error; deterministic for this dataset). Oracle:
    exact counts + TRUE booleans in plain SQL."""
    from tstore_spark.operators.kmv import kmv_difference_estimate, kmv_sketch

    K = 64
    ev = _t(spark, sf_dir, "events").select(F.to_date("ts").alias("day"), "user_id")
    sk = kmv_sketch(ev, ["day"], "user_id", k=K)
    nxt = sk.select(F.date_add("day", -1).alias("day"), F.col("kmv").alias("_kb"))
    pairs = sk.join(nxt, "day").select(
        "day", kmv_difference_estimate("kmv", "_kb", K).alias("_ed")
    )

    d = ev.distinct()
    n = d.groupBy("day").agg(F.count(F.lit(1)).alias("_na"))
    both = (
        d.join(d.select(F.date_add("day", -1).alias("day"), "user_id"), ["day", "user_id"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    exact = (
        n.join(n.select(F.date_add("day", -1).alias("day"), F.col("_na").alias("_nb")), "day")
        .join(both, "day", "left")
        .select(
            "day",
            (F.col("_na") - F.coalesce("_inter", F.lit(0))).alias("exact_churn"),
            (F.col("_na") + F.col("_nb") - F.coalesce("_inter", F.lit(0))).alias(
                "exact_union"
            ),
        )
    )
    return exact.join(pairs, "day").select(
        "day",
        "exact_churn",
        "exact_union",
        (F.abs(F.col("_ed") - F.col("exact_churn"))
         <= F.lit(0.20) * F.col("exact_union") + F.lit(2.0)).alias("churn_ok"),
    )


def _q_geo_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon over WKB (functions/geo.py:in_polygon): doc-derived
    lattice points encode to WKB (point_wkb), decode inside the Arrow
    ray-cast kernel, and classify against a fixed triangle. Oracle: the
    exact three-sign-test containment for the SAME triangle in plain SQL —
    the two formulations agree everywhere off the boundary, and the
    lattice keeps every point >= 1e-4 from the edges. Exercises the whole
    encode→decode→predicate chain."""
    from tstore_spark.functions.geo import in_polygon, point_wkb

    tri = [(0.07, 0.02), (0.95, 0.13), (0.41, 0.89)]
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") % 100) / F.lit(100.0) + F.lit(0.005)).alias("px"),
        (((F.col("doc_id") * 7 + 3) % 100) / F.lit(100.0) + F.lit(0.005)).alias("py"),
    )
    pts = docs.withColumn("_g", point_wkb("px", "py"))
    return pts.select(
        "doc_id", "px", "py", in_polygon("_g", [tri]).alias("inside")
    )


def _q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl page diff (operators/corpus.py:crawl_diff): two
    deterministic overlapping 'crawls' derived from documents (80% each,
    60% overlap; every 7th overlapping page re-extracted with different
    text) -> one status row per URL. Only (url, md5) rides the shuffle.
    Oracle: the same min-fingerprint collapse + full-outer CASE in SQL
    (md5/lower/trim are engine-identical)."""
    from tstore_spark.operators.corpus import crawl_diff

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("u"), F.col("doc_id").cast("string"))
    old = docs.where(F.col("doc_id") % 10 < 8).select(url.alias("url"), "text")
    new = docs.where(F.col("doc_id") % 10 >= 2).select(
        url.alias("url"),
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return crawl_diff(old, new, canonicalize=False)


def _q_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history (operators/scd2.py): the events stream as a
    change log of each user's event_type — consecutive no-op changes
    collapse, each version gets half-open [valid_from, valid_to) bounds,
    the current version an open end. Two window passes, total order on
    (ts, attr) so duplicate-timestamp changes are partition-independent.
    Oracle: the identical lag-filter-lead windows in plain SQL; NTZ
    timestamps pass through untouched."""
    from tstore_spark.operators.scd2 import scd2_intervals

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    return scd2_intervals(ev, "user_id", "ts", ["event_type"])


def _q_lm_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training pass of the CCNet-style bigram LM (operators/lm.py): exact
    integer bigram counts over the documents corpus — one explode + one
    map-side-combined groupBy, the search-index shape. The ln-based
    cross-entropy SCORES are pytest-gated against a straight-line Python
    reference (tests/test_lm.py — IEEE leaves ln implementation-defined
    across engines, the BM25 precedent); the gate hashes the exact counts
    the scores are a fixed function of."""
    from tstore_spark.operators.lm import bigram_counts

    return bigram_counts(_t(spark, sf_dir, "documents"))


#: the wordlist gate patterns (documents vocabulary is DB words)
_BLOCK_PATTERNS = ["slow fast", "hash", "merge batch", "table"]


def _q_blocklist_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring wordlist matching (operators/blocklist.py): patterns
    broadcast, corpus never shuffles, counts = the exact non-overlapping
    replace-length identity — whole-stage codegen, no Python. The
    CCNet/RefinedWeb bad-word policy pass."""
    from tstore_spark.operators.blocklist import blocklist_matches

    return blocklist_matches(_t(spark, sf_dir, "documents"), _BLOCK_PATTERNS)


def _q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain suffix blocklist (operators/blocklist.py): blocking a domain
    blocks its subdomains via the suffix-explode EQUI-join (no endswith
    nested loop at any blocklist size). URLs derived algebraically from
    doc_id (the link-edges fixture pattern) so the oracle rebuilds them."""
    from tstore_spark.operators.blocklist import domain_blocklist_filter

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("b"), (F.col("doc_id") % 7).cast("string"), F.lit(".blocked.example")))
            .otherwise(F.concat(F.lit("ok"), (F.col("doc_id") % 5).cast("string"), F.lit(".example.org"))),
            F.lit("/p"),
        ).alias("url"),
    )
    return domain_blocklist_filter(
        docs, ["blocked.example", "ok3.example.org"]
    )


def _q_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON sidecar flattening (operators/jsonflat.py): metadata JSON built
    algebraically from doc fields (heterogeneous — an extra nested object
    on doc_id % 5 == 0 rows), leaf paths DISCOVERED by the bounded
    per-depth key aggregation, values extracted by pure-codegen
    get_json_object. Oracle = json_extract_string at the same paths."""
    from tstore_spark.operators.jsonflat import flatten_json

    docs = _t(spark, sf_dir, "documents")
    meta = F.concat(
        F.lit('{"lang": "'), F.col("lang"),
        F.lit('", "stats": {"chars": '), F.col("n_chars").cast("string"),
        F.lit(', "source": "'), F.col("source"), F.lit('"}'),
        F.when(F.col("doc_id") % 5 == 0, F.lit(', "extra": {"flag": true}')).otherwise(F.lit("")),
        F.lit(', "idmod": '), (F.col("doc_id") % 7).cast("string"), F.lit("}"),
    )
    return flatten_json(docs.select("doc_id", meta.alias("meta")), "meta")


def _q_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (corpus.normalize_text — the CCNet text
    hygiene pass): the fixture decorates each doc's text with DECOMPOSED
    sequences (e + U+0301, i + U+0308) built identically in both engines;
    the kernel's unicodedata NFC must match DuckDB's utf8proc
    nfc_normalize byte-for-byte, and the char length must shrink by the
    two composed marks."""
    from tstore_spark.operators.corpus import normalize_text

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 16), F.lit("cafe\u0301 nai\u0308ve")
        ).alias("text"),
    )
    return normalize_text(docs, "text").select(
        "doc_id",
        "norm_text",
        F.length("text").alias("n_before"),
        F.length("norm_text").alias("n_after"),
    )


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (operators/bpe.py, Sennrich 2016): the corpus
    collapses to one (word, freq) groupBy — the ONLY corpus-scale pass —
    then 8 merge rounds over the distinct-word table: exact BIGINT pair
    counts (map-side combined), (count DESC, l, r) argmax, greedy merges
    as a pure Catalyst fold. The oracle replays the whole recursion
    unrolled (gaps-and-islands form of greedy leftmost non-overlapping
    matching) — every learned rule AND its count is hash-gated."""
    from tstore_spark.operators.bpe import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), merges=8, round_partitions=16)


def _q_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless detokenization (round 4): train WITH Sennrich's </w>
    word-end marker, encode every document, decode the flat token stream
    back (pure Catalyst concat/split) — the decoded text must equal the
    normalized word sequence EXACTLY, per document. Output
    (doc_id, n_tokens, roundtrip_ok); the invariant column is computed
    from data (string equality), the oracle recomputes n_tokens and
    asserts TRUE — the ann_lsh invariant-gate pattern."""
    from tstore_spark.operators.bpe import bpe_decode_tokens, bpe_encode, bpe_train
    from tstore_spark.operators.search import _tokens

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    # ONE tokenize pass for train + encode + the normalized reference (round
    # 5): previously each of the three tokenized the corpus independently.
    # round_partitions=16: the merge-round jobs are vocabulary-sized at gate
    # scale — the session's cascade-tuned partition count is pure overhead.
    with op_scope():
        toks = scoped_cache(docs.select("doc_id", _tokens("text").alias("_w")))
        merges = bpe_train(
            toks, merges=8, mark_word_end=True, round_partitions=16, tokens_col="_w"
        )
    rows = [(r["lhs"], r["rhs"]) for r in merges.orderBy("rank").collect()]
    enc = bpe_encode(toks, rows, mark_word_end=True, tokens_col="_w")
    dec = bpe_decode_tokens(enc, out_col="_dec")
    norm = toks.select(
        "doc_id",
        F.array_join("_w", " ").alias("_norm"),
        F.size("_w").cast("long").alias("n_tokens"),
    )
    return dec.join(norm, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        (F.col("_dec") == F.col("_norm")).alias("roundtrip_ok"),
    )


def _q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment |S(a)∩S(b)|/|S(a)| over documents —
    the quote/aggregator relation Jaccard LSH can't see. Candidates =
    shared-shingle equi-join (exact, both engines); both directions
    emitted per unordered pair."""
    return DD.containment_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5
    ).select(
        F.col("contained_id").cast("long").alias("contained_id"),
        F.col("container_id").cast("long").alias("container_id"),
        "containment",
    )


def _q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-doc duplicate passages (Lee et al. 2022 substring dedup):
    maximal runs of >= 10 shared whitespace tokens per doc pair, as 0-based
    token coordinates. N-gram postings equi-join + gaps-and-islands merge
    per alignment diagonal — pure integers, engine-identical; the oracle
    runs the same diagonal recursion in SQL."""
    from tstore_spark.operators.dedup import duplicate_spans

    return duplicate_spans(_t(spark, sf_dir, "documents"), n=10)


def _q_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second half of Lee et al. 2022 substring dedup
    (dedup.py:remove_duplicate_spans): duplicated passages are CUT from
    the higher-id document (interval union per doc, no double-deletion),
    untouched docs pass through byte-identical, fully-duplicated docs
    become the empty string. Oracle replays the whole chain — spans,
    island merge, anti range join, ordered rebuild — in SQL."""
    from tstore_spark.operators.dedup import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, n=10).select("doc_id", "text")


def _q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings: tf of 'spark'
    (from the real inverted index) and a doc-length prior. Ranks are
    integers, each reciprocal is one IEEE division, and the fusion adds
    the two reciprocals in fixed order — bit-identical in any engine
    (the oracle runs the same expression), unlike BM25's ln()."""
    from tstore_spark.operators.ranking import ranked_by, rrf_fuse
    from tstore_spark.operators.search import build_inverted_index

    docs = _t(spark, sf_dir, "documents")
    idx = build_inverted_index(docs)
    rank_tf = ranked_by(
        idx.where(F.col("token") == "spark").select("doc_id", "tf"),
        "doc_id",
        F.desc("tf"),
        limit=50,
    )
    rank_len = ranked_by(docs, "doc_id", F.desc("n_chars"), limit=50)
    return rrf_fuse([rank_tf, rank_len], top=20)


def _q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnosis (the probe you run before sizing salted_agg):
    top-10 heaviest user_ids with exact counts, share of total, and the
    max/mean skew ratio — integers plus fixed-order divisions, engine
    identical."""
    from tstore_spark.operators.skew import key_skew_profile

    return key_skew_profile(_t(spark, sf_dir, "events"), "user_id", top_n=10)


def _q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier scoring: median + MAD (both exact
    interpolated percentiles rounded 4dp, so both engines share bits),
    |x - med| > 3*MAD flags. Output = per-type med/mad + outlier count and
    id-sum checksum (exact integers)."""
    from tstore_spark.operators.robust import mad_scores

    s = mad_scores(_t(spark, sf_dir, "events"), "event_type", "value", k=3.0)
    return s.groupBy("event_type").agg(
        F.max("med").alias("med"),
        F.max("mad").alias("mad"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0)).cast("long").alias("n_outliers"),
        F.coalesce(F.sum(F.when(F.col("is_outlier"), F.col("event_id"))), F.lit(0))
        .cast("long")
        .alias("outlier_id_sum"),
    )


def _q_winsorized_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type totals: values clipped to the type's exact
    [p01, p99] (rounded 4dp), summed in integer cents; clip count rides
    along. The tail-tamed mean a web-metrics pipeline actually trusts."""
    from tstore_spark.operators.robust import winsorize

    w = winsorize(_t(spark, sf_dir, "events"), "event_type", "value", 0.01, 0.99)
    return w.groupBy("event_type").agg(
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.sum(F.round(F.col("winsorized") * 100).cast("long")).alias("wins_cents"),
        F.sum(F.when(F.col("value") != F.col("winsorized"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped"),
    )


def _q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over deterministically constructed messy URLs
    (upper-case scheme/host, default port, tracking params, fragment). The
    oracle runs the SQL twin generated from the SAME pattern table
    (functions/urls.canonical_url_sql), so output is byte-checked."""
    from tstore_spark.functions.urls import canonical_url

    docs = _t(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("HTTP://Example-"), F.col("source"), F.lit(".COM:80/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed&utm_campaign=c&q="), F.col("doc_id").cast("string"),
        F.lit("&fbclid=xyz#frag"),
    )
    return docs.select("doc_id", canonical_url(messy).alias("canon_url"))


def _q_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return DD.token_jaccard_pairs(docs, block_col="source", threshold=0.98)


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact-Jaccard pair list: transitive
    near-dup families with a min-id cluster label and the family size.
    Oracle: same pairs in DuckDB + a recursive-CTE min-label closure."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.token_jaccard_pairs(docs, block_col="source", threshold=0.98)
    clusters = DD.dedup_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return clusters.join(sizes, "cluster_id").select(
        F.col("node").alias("doc_id"),
        F.col("cluster_id"),
        F.col("cluster_size"),
    )


def _q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates + exact-Jaccard verify. bands=16 of 2 rows: a J>=0.9
    near-dup pair misses all 16 bands with probability (1-0.81)^16 ~ 3e-12,
    so against this corpus (true pairs J>=0.9, noise J<0.1 — a measured gap)
    the output provably equals the exact shingle-Jaccard pair set, which is
    the oracle."""
    docs = _t(spark, sf_dir, "documents")
    return DD.minhash_near_dup_pairs(docs, threshold=0.5, bands=16)


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl dedup: even doc_ids play the already-ingested corpus
    (indexed once — signatures + hashed shingles, no text), odd doc_ids the
    new batch; the incremental operator reports every near-dup pair TOUCHING
    the new batch without re-hashing corpus text. Same bands=16 full-recall
    argument as minhash_near_dup, so the output equals the exact
    shingle-Jaccard pair SQL restricted to pairs that are not corpus-only."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    # Production shape: the corpus index is PERSISTED when those crawls were
    # ingested and read back — the incremental op must never re-hash corpus
    # text. Materialize it once per fixture dir (deterministic input) so the
    # query measures the incremental operator, not an inline index rebuild.
    import hashlib
    import tempfile

    from tstore_spark.operators import dedup as _dd_mod

    # cache key covers the fixture path AND its mtime AND the dedup module
    # source — regenerated testdata or a signature-algorithm change must
    # invalidate the persisted index, or the gate would silently join new
    # docs against a stale index while the oracle recomputes from current
    # data
    doc_path = os.path.join(sf_dir, "documents.parquet")
    stamp = str(os.path.getmtime(doc_path)) if os.path.exists(doc_path) else "0"
    with open(_dd_mod.__file__, "rb") as fh:
        src_tag = hashlib.sha1(fh.read()).hexdigest()[:8]
    key = hashlib.sha1(
        f"{os.path.abspath(sf_dir)}|{stamp}|{src_tag}".encode()
    ).hexdigest()[:12]
    # the fixture basename scopes the stale-key sweep so one sf's refresh
    # never deletes another sf's live index
    base_tag = os.path.basename(os.path.abspath(sf_dir))
    idx_dir = os.path.join(
        tempfile.gettempdir(), f"tstore_minhash_idx_{base_tag}_{key}"
    )
    if not os.path.exists(os.path.join(idx_dir, "_SUCCESS")):
        # stale keys (older fixture mtimes / module versions) are dead:
        # reclaim them before materializing the current one
        import glob as _glob
        import shutil as _shutil

        for stale in _glob.glob(
            os.path.join(tempfile.gettempdir(), f"tstore_minhash_idx_{base_tag}_*")
        ) + _glob.glob(os.path.join(tempfile.gettempdir(), "tstore_minhash_idx_" + "?" * 12)):
            if os.path.abspath(stale) != os.path.abspath(idx_dir):
                _shutil.rmtree(stale, ignore_errors=True)
        DD.minhash_index(corpus).write.mode("overwrite").parquet(idx_dir)
    idx = spark.read.parquet(idx_dir)
    return DD.incremental_minhash_near_dup(new, idx, threshold=0.5, bands=16)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash invariant gate. SimHash is FREQUENCY-weighted (every token
    occurrence votes) while shingle Jaccard is SET-based — repetitive docs
    can reach J >= 0.9 with hamming 49 (measured at sf0.1: 3 of 249 pairs),
    so plain equality with the exact-pair SQL is structurally unattainable
    for any band width. Gate instead emits the EXACT J>=0.9 pair set
    (shared-shingle equi-join — same rows as the oracle) with two checked
    invariants riding every row: the simhash(hamming<=8)+verify output is a
    SUBSET of the exact set (precision 1 by construction, asserted from
    data) and catches >= 90% of it (recall floor; measured 97.6% at sf0.1,
    100% at sf0.01). Oracle: the same exact pairs + TRUE, TRUE."""
    docs = _t(spark, sf_dir, "documents")
    # ONE tokenize+hash pass for the whole gate (round 5): the sketch branch
    # and the exact branch both consume the same cached staged_token_hashes
    # frame — previously each ran its own doc-proportional pass (the
    # two-tokenize-pass floor BENCH.md:619 named). The pair SETS (a few
    # hundred rows each) are cached too: the plan consumes found 2x and
    # exact 3x, and without the cache each consumer re-walks the whole
    # band-join / shingle-join pipeline. One op_scope keeps all of it warm.
    with op_scope():
        staged = scoped_cache(DD.staged_token_hashes(docs))
        found = scoped_cache(
            DD.simhash_near_dup_pairs(
                docs, max_hamming=8, verify_jaccard=0.9, token_hashes=staged
            ).select("id_a", "id_b")
        )
        exact = scoped_cache(
            DD.shingle_jaccard_pairs_exact(docs, threshold=0.9, token_hashes=staged)
        )
    nf = found.agg(F.count(F.lit(1)).alias("_nf"))
    ne = exact.agg(F.count(F.lit(1)).alias("_ne"))
    bad = found.join(exact.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("_bad")
    )
    return (
        exact.crossJoin(nf)
        .crossJoin(ne)
        .crossJoin(bad)
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            "jaccard",
            (F.col("_nf") * 10 >= F.col("_ne") * 9).alias("simhash_recall_ok"),
            (F.col("_bad") == 0).alias("simhash_subset_ok"),
        )
    )


def _q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn("blob", F.encode("text", "UTF-8"))
    return MM.extract_media_meta(docs, "doc_id", "blob")


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn("blob", F.encode("text", "UTF-8"))
    return MM.decode_and_featurize(docs, "doc_id", "blob", feature_dim=8)


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 5)
    return SIM.cosine_topk(emb, probes, k=3)


_ANN_K = 3
_ANN_RECALL_FLOOR = 2  # of k=3: approx top-k must recover >= 2 exact neighbors


def _ann_recall_invariant(probes: DataFrame, approx: DataFrame, exact: DataFrame) -> DataFrame:
    """(query_id, k, recall_ok): |approx ∩ exact top-k| >= floor, per probe.

    Both sides are computed in-Spark (approx = the ANN operator, exact = the
    brute-force baseline); the oracle only has to assert the invariant holds
    (TRUE per probe) — which makes ANN quality a hash-checkable contract
    instead of an eyeball metric. Deterministic: fixed planes/centroids,
    rounded sims, id tiebreaks."""
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = probes.select(F.col("vec_id").alias("query_id"))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        F.lit(_ANN_K).alias("k"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) >= _ANN_RECALL_FLOOR).alias("recall_ok"),
    )


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 5)
    approx = SIM.lsh_ann_topk(emb, probes, dim=64, k=_ANN_K)
    exact = SIM.cosine_topk(emb, probes, k=_ANN_K)
    return _ann_recall_invariant(probes, approx, exact)


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # method selection by dataset scale via parquet FOOTER row counts — no
    # runtime count() Spark job (the round-1 cutoff cost an extra full scan
    # per call) and no dependence on the directory's name. exact all-pairs is
    # the oracle-checked path (the correctness gate runs at sf0.01 = 500
    # vectors); larger inputs take the LSH-bucketed scale path (candidates
    # verified with the same exact cosine, so reported pairs are always true
    # positives)
    if _parquet_rows(sf_dir, "embeddings") <= 20_000:
        return SIM.embedding_near_dup_pairs(emb, threshold=0.45, method="exact")
    return SIM.embedding_near_dup_pairs(emb, threshold=0.45, method="lsh", dim=64)


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 5)
    approx = SIM.ivf_topk(emb, probes, dim=64, k=_ANN_K, n_centroids=16, n_probe=4)
    exact = SIM.cosine_topk(emb, probes, k=_ANN_K)
    return _ann_recall_invariant(probes, approx, exact)


def _q_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch vs exact distinct, as an oracle-checkable invariant: the
    built-in ``hll_sketch_agg`` (lgK 12 => 1.6% standard error; small
    cardinalities sit in the near-exact sparse modes) estimated through
    ``sketches.hll_estimate`` must land within 2% of count(DISTINCT user_id)
    per group. The estimate is independent of partition layout, so the
    boolean is deterministic and the row hash-matches DuckDB's TRUE."""
    from tstore_spark.operators.sketches import hll_estimate

    ev = _t(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        hll_estimate(F.hll_sketch_agg("user_id")).alias("distinct_est")
    )
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("user_distinct"))
    within = (
        F.abs(F.col("distinct_est") - F.col("user_distinct"))
        <= 0.02 * F.col("user_distinct")
    )
    return (
        sk.join(exact, "event_type")
        .select("event_type", "user_distinct", within.alias("within_2pct"))
    )


def _q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer-lattice Lloyd (operators/kmeans.py): vectors floored
    onto a 1e-6 lattice, distances/centroid floor-means pure BIGINT ⇒ the
    assignment AND dist2 are bit-identical in any engine — the oracle runs
    the whole 3-iteration recursion relationally. The clustering step
    SemDeDup/IVF-style pipelines run, with a correctness gate (quality is
    data/init-dependent and NOT gated; exactness of the computation is)."""
    from tstore_spark.operators.kmeans import kmeans_exact

    return kmeans_exact(
        _t(spark, sf_dir, "embeddings"), k=10, iterations=3
    )


def _q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.round(SIM.l2_norm(F.col("embedding")), 4).alias("l2_norm")
    )


def _q_tswide_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot view via the TSLong API: rows = hourly window, one column
    per event_type (reference TSWide analog over a rollup tier)."""
    from tstore_spark.model.tslong import TSLong

    ev = _t(spark, sf_dir, "events")
    tier = (
        ev.groupBy(
            F.col("event_type"),
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("window_start"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tl = TSLong.wrap(tier, id_var="event_type", time_var="window_start", ts_vars={"m": ["n"]})
    wide = tl.to_tswide(values=["n"])  # TSWide wrapper; columns "n(<event_type>)"
    return wide.df.select(
        "window_start",
        *[F.coalesce(F.col(f"`n({t})`"), F.lit(0)).alias(f"{t}_n") for t in EVENT_TYPES],
    )


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tstore_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    # right side: latest error value per (user, instant); max_by tiebreak on
    # event_id makes duplicate-timestamp semantics deterministic on both sides
    err = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max(F.struct("event_id", "value")).alias("_m"))
        .select("user_id", "ts", F.col("_m.value").alias("err_value"), F.col("_m.event_id").alias("_eid"))
    )
    left = ev.select("event_id", "user_id", "ts", "value")
    return asof_join(
        left, err.select("user_id", "ts", "err_value", "_eid"),
        key="user_id", left_time="ts", value_cols=["err_value"], tiebreak_col="_eid",
    )


def _err_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest error value per (user, instant) — the shared deduplicated right
    side of the asof queries (max_by tiebreak keeps both engines exact)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max(F.struct("event_id", "value")).alias("_m"))
        .select("user_id", "ts", F.col("_m.value").alias("err_value"), F.col("_m.event_id").alias("_eid"))
    )


def _q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each event joined to the user's EARLIEST error at or
    after it (DuckDB mirrors with ASOF ... ON l.ts <= r.ts)."""
    from tstore_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts", "value")
    return asof_join(
        left, _err_right(spark, sf_dir),
        key="user_id", left_time="ts", value_cols=["err_value"],
        tiebreak_col="_eid", direction="forward",
    )


def _q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of (ties to backward): the oracle recombines DuckDB's
    backward and forward ASOF joins with the identical closer-side CASE."""
    from tstore_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts", "value")
    return asof_join(
        left, _err_right(spark, sf_dir),
        key="user_id", left_time="ts", value_cols=["err_value"],
        tiebreak_col="_eid", direction="nearest",
    )


def _q_datetime_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tstore_spark.functions.timeparts import PARTITION_COMPONENTS

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", *[fn("ts").cast("int").alias(name) for name, fn in PARTITION_COMPONENTS.items()]
    )


def _q_rollup_dd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch percentile path (bounded state for wide value domains):
    per 1h window, the sketch estimate must sit within the guaranteed
    relative error of the exact rank value — a theorem (Masson et al.,
    VLDB 2019), so the booleans are oracle-checkable TRUE. The exact rank
    values are recomputed in-Spark per window (bounded: window-sized
    groups) purely to evaluate the invariant."""
    from tstore_spark.operators import ddsketch as DDS

    ev = _t(spark, sf_dir, "events")
    ws = F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("window_start")
    keyed = ev.select("event_type", ws, "value")
    sk = DDS.with_dd_quantiles(
        DDS.dd_sketch(keyed, ["event_type", "window_start"], "value")
    )
    exact = keyed.groupBy("event_type", "window_start").agg(
        F.sort_array(F.collect_list("value")).alias("_vs"),
        F.count(F.lit(1)).alias("n_events"),
    )
    tol = DDS.relative_error_bound() + 1e-9
    joined = sk.join(exact, ["event_type", "window_start"])
    cols = [F.col("event_type"), F.col("window_start"), F.col("n_events")]
    for i, (q, name) in enumerate([(0.5, "p50_ok"), (0.9, "p90_ok"), (0.99, "p99_ok")]):
        rank = (F.floor(F.lit(q) * (F.col("n_events") - 1)) + 1).cast("int")
        ev_exact = F.element_at("_vs", rank)
        est = F.col("dd_q")[i]
        cols.append((F.abs(est - ev_exact) <= F.lit(tol) * ev_exact).alias(name))
    return joined.select(*cols)


def _q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1) as
    pure Catalyst expressions; ratios of integer counts, so the raw doubles
    hash-match the same arithmetic in SQL."""
    docs = _t(spark, sf_dir, "documents")
    # hoist the token array into a named column: the bigram/run transforms
    # reference it per element, and an un-hoisted split() re-evaluates per
    # reference (O(tokens^2) per doc)
    staged = docs.select("doc_id", "text", TX.tokens("text").alias("_toks"))
    return staged.select(
        "doc_id",
        TX.dup_line_fraction("text").alias("dup_line_frac"),
        TX.top_bigram_fraction("text", toks=F.col("_toks")).alias("top_bigram_frac"),
        TX.max_token_run("text", toks=F.col("_toks")).alias("max_token_run"),
        TX.symbol_word_ratio("text").alias("symbol_ratio"),
    )


def _q_sessions_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization (gaps-and-islands in one window pass)
    vs the identical window SQL in DuckDB."""
    from tstore_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    return session_stats(ev, key="user_id", time_col="ts", gap="30 minutes", tiebreak_col="event_id")


def _q_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash split — the same md5 arithmetic is
    reproducible in any engine, which is the whole point (portable,
    auditable dataset splits)."""
    from tstore_spark.operators.sampling import deterministic_split

    docs = _t(spark, sf_dir, "documents")
    return deterministic_split(docs, "doc_id", {"train": 0.9, "eval": 0.1}).select(
        "doc_id", "split"
    )


def _q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable PII scrub: deterministic synthetic PII (an email, an
    IP, a 16-digit card per doc) appended identically in both engines, then
    redacted; the oracle re-applies the same RE2-compatible regex chain in
    DuckDB and must reproduce clean_text byte-for-byte plus the per-pattern
    audit counts (counted against the progressively-redacted text, so an
    email's digits are never miscounted as a card number)."""
    docs = _t(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.1.2."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" card 4111111111"),
            F.lpad((F.col("doc_id") % 1000000).cast("string"), 6, "0"),
        ).alias("text"),
    )
    c = TX.pii_counts("text")
    return wrapped.select(
        "doc_id",
        TX.redact_pii("text").alias("clean_text"),
        c.getField("n_email").cast("long").alias("n_email"),
        c.getField("n_ip").cast("long").alias("n_ip"),
        c.getField("n_number").cast("long").alias("n_number"),
    )


def _q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (RefinedWeb-style). The fixture docs
    are single-line, so the query deterministically wraps them in shared
    chrome (a header on every doc, a footer on every 3rd) — both engines
    derive the same input, the operator must strip exactly the shared lines
    and preserve body order/content byte-identically."""
    from tstore_spark.operators.corpus import remove_boilerplate_lines

    docs = _t(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit("BOILERPLATE HEADER\n"),
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("\nSHARED FOOTER")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return remove_boilerplate_lines(wrapped, min_docs=2)


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-n-per-stratum sample (bottom-n by content hash): the scale path
    (count-prefiltered window) must reproduce the naive rank-over-hash SQL
    row for row."""
    from tstore_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "source", "doc_id", n=30).select("doc_id", "source")


def _q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-weighted training mixture: up-weight src0 (keep all),
    down-sample src1, drop everything else — the same engine-portable md5
    variate as train_eval_split, so DuckDB reproduces the exact kept set."""
    from tstore_spark.operators.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    return mixture_sample(
        docs, "doc_id", "source", {"src0": 1.0, "src1": 0.4}, default_weight=0.05
    ).select("doc_id", "source")


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row quality-weighted retention (sampling.py:weighted_sample):
    weight = min(1, length(text)/2000) as a deterministic quality proxy,
    rate 0.8 — keep probability min(1, 0.8*w) decided by the same
    engine-portable md5 variate as train_eval_split, so DuckDB reproduces
    the exact kept set (length() counts chars identically on this ASCII
    corpus)."""
    from tstore_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").withColumn(
        "w", F.least(F.lit(1.0), F.length("text") / F.lit(2000.0))
    )
    return weighted_sample(docs, "doc_id", "w", rate=0.8).select("doc_id", "source")


def _q_upsample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch upsampling (sampling.py:upsample_mixture): the
    LLaMA-style data recipe — src0 runs 2.45 epochs, src1 exactly 1, every
    other source 0.6. copies = floor(f) + one more iff the md5 variate
    falls under frac(f), so DuckDB replays the exact copy multiset
    (generate_series per row) including each 0-based copy index."""
    from tstore_spark.operators.sampling import upsample_mixture

    docs = _t(spark, sf_dir, "documents")
    fac = (
        F.when(F.col("source") == "src0", F.lit(2.45))
        .when(F.col("source") == "src1", F.lit(1.0))
        .otherwise(F.lit(0.6))
    )
    return upsample_mixture(docs, "doc_id", fac).select(
        "doc_id", "source", F.col("copy_idx").cast("long").alias("copy_idx")
    )


def _q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget weighted sampling without replacement
    (sampling.py:priority_sample, Duffield-Lund-Thorup): k=40 docs by
    priority w/u with w = n_chars; every kept row carries the
    Horvitz-Thompson weight max(w, tau). One IEEE division per row + a
    (q DESC, id) total order, so sample, tau, and estimator weights are
    bit-identical in DuckDB."""
    from tstore_spark.operators.sampling import priority_sample

    docs = _t(spark, sf_dir, "documents").withColumn(
        "w", F.col("n_chars").cast("double")
    )
    return priority_sample(docs, "doc_id", "w", k=40).select(
        "doc_id", "weight", "priority", "est_w"
    )


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination (GPT-3 app. C style): docs sharing any
    distinct 5-gram with the held-out slice (doc_id % 7 == 0 plays the eval
    suite) are flagged with exact hit counts. Grams ride as int64 hashes
    (same collision argument as the shingle-Jaccard oracles); the eval-gram
    table is broadcast, so the corpus side never shuffles."""
    from tstore_spark.operators.corpus import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    evald = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    return ngram_contamination(corpus, evald, n=5, min_hits=1)


def _q_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-then-chunk sample assignment by global token offset.
    The naive form is a GLOBAL ordered window (one task at scale); the
    operator is the distributed two-stage prefix sum — per-bucket sums
    cumulated driver-side, per-bucket windows in parallel — and the oracle
    IS the naive global window, proving row-for-row equivalence."""
    from tstore_spark.operators.sampling import token_pack_offsets

    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", TX.ws_token_count("text").cast("long").alias("n_tokens")
    )
    return token_pack_offsets(staged, budget=2048, bucket_width=100)


def _q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (Schleimer et al. 2003); the
    k-gram hash is engine-portable md5 arithmetic, so the selected
    fingerprint SET is recomputed in SQL and compared by count/min/max."""
    from tstore_spark.functions.text import with_winnowing_fingerprints

    docs = _t(spark, sf_dir, "documents")
    fps = with_winnowing_fingerprints(docs, k=5, w=4)
    return fps.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fps"),
        F.array_min("fps").alias("fp_min"),
        F.array_max("fps").alias("fp_max"),
    )


def _q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (fan-out mapInPandas: one row ->
    n_frames rows) with an oracle-reproducible stub extractor: frame i =
    md5(blob || ':i') — DuckDB recomputes the same digests from the text,
    so schema, fan-out multiplicity, AND payload bytes are all gate-checked."""
    import hashlib as _hl

    docs = _t(spark, sf_dir, "documents").withColumn("blob", F.encode("text", "UTF-8"))
    frames = MM.sample_frames(
        docs, "doc_id", "blob", n_frames=2,
        extractor=lambda b, n: [
            _hl.md5(b + f":{i}".encode()).hexdigest().encode() for i in range(n)
        ],
    )
    return frames.select(
        "doc_id", "frame_idx", F.decode("frame", "UTF-8").alias("frame_hex")
    )


def _q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data admission decision (dedup + lang +
    quality + length) as one plan; oracle = the same predicates in SQL."""
    from tstore_spark.operators.corpus import corpus_filter

    docs = _t(spark, sf_dir, "documents")
    return corpus_filter(docs, lang="en", min_quality=0.3, min_tokens=5)


def _q_geo_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKB geometry pipeline, oracle-proven: derive deterministic (lon, lat)
    from event columns, encode to WKB points, filter with the in_bbox
    predicate over the BYTES, decode back. The output hash-matches plain
    arithmetic SQL only if encode -> bbox -> decode is IEEE-exact."""
    from tstore_spark.functions import geo

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        (F.pmod(F.col("value"), F.lit(360.0)) - 180.0).alias("lon"),
        (F.pmod(F.col("user_id") * 7.3, F.lit(180.0)) - 90.0).alias("lat"),
    )
    wkb = pts.select("event_id", geo.point_wkb("lon", "lat").alias("wkb"))
    hits = wkb.where(geo.in_bbox("wkb", -50.3, -20.7, 60.1, 45.9))
    xy = hits.select("event_id", geo.wkb_point_xy("wkb").alias("_xy"))
    return xy.select(
        "event_id", F.col("_xy.lon").alias("lon"), F.col("_xy.lat").alias("lat")
    )


def _q_tstore_layout_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference on-disk layout interop, end to end: write the events stream
    as a ltelab/tstore-style archive (<id>/<var>/year=…/month=… trees + YAML
    metadata + _attributes.parquet), reopen it through the api dispatch, and
    return the rows — which must hash-match the source table exactly."""
    import re as _re

    from tstore_spark import api
    from tstore_spark.model.tslong import TSLong

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    tl = TSLong.wrap(ev, id_var="user_id", time_var="ts", ts_vars={"metrics": ["value"]})
    base = "/tmp/tstore_spark_ref_rt_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    api.to_tstore_reference(tl, base, partitioning="year/month")
    back = api.open_tslong(spark, base)  # dispatches to the reference-layout reader
    return back.df.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("time").alias("ts"),
        "value",
    )


def _q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse maintenance, end to end: write the events stream as an
    archive, fragment it into small files (6 simulated ingest batches per
    partition), bin-pack it back with compact_archive, and return the
    reopened rows — which must hash-match the source table exactly. The
    summary is sanity-checked so the query fails loudly if the compactor
    ever no-ops instead of rewriting."""
    import re as _re

    from tstore_spark.model.tslong import TSLong
    from tstore_spark.sources.archive import PAGES_DIR, open_archive, write_archive
    from tstore_spark.sources.compact import compact_archive

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    tl = TSLong.wrap(ev, id_var="user_id", time_var="ts", ts_vars={"metrics": ["value"]})
    base = "/tmp/tstore_spark_compact_rt_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    write_archive(tl, base, num_buckets=2, check_static_uniqueness=False)
    root = f"{base}/{PAGES_DIR}"
    frag = spark.read.option("basePath", root).parquet(root).repartition(6)
    frag.write.mode("overwrite").partitionBy("p_day", "p_bucket").parquet(root)
    summary = compact_archive(spark, base, target_file_bytes=1 << 30)
    if summary["partitions_compacted"] == 0:
        raise RuntimeError("compaction unexpectedly a no-op on a fragmented archive")
    back = open_archive(spark, base, with_attributes=False)
    return back.df.select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value"
    )


def _q_zonemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping, end to end: range-cluster the events table
    into 16 files on `value`, build zone maps from Parquet FOOTERS only
    (one distributed metadata job), then answer a value-range query reading
    only the files whose [min,max] can match. The query fails loudly unless
    files were actually skipped, and the surviving rows must hash-match the
    plain full-scan SQL."""
    import re as _re

    from tstore_spark.sources.zonemaps import pruned_read, zone_maps

    root = "/tmp/tstore_spark_zm_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    ev.repartitionByRange(16, "value").write.mode("overwrite").parquet(root)
    zm = zone_maps(spark, root, ["value"])
    got, report = pruned_read(spark, root, zm, {"value": (100.0, 150.0)})
    if report["files_read"] >= report["files_total"]:
        raise RuntimeError(f"zone maps skipped nothing: {report}")
    return got.select("event_id", "ts", "value")


def _q_dtw_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded DTW shape similarity between per-event-type hourly traffic
    curves on the corpus's first day (operators/dtw.py). Values are integer
    counts, the local cost is a squared integer difference, and every DP
    cell is an integer min-plus fold — the Arrow kernel's distance hash-
    matches a recursive-CTE SQL twin running the SAME recursion over
    anti-diagonals. Hour indexing is field-extraction NTZ epochs (TZ-proof:
    no timestamp casts). Band 3 exercises real banding on 24-point series."""
    from tstore_spark.functions.timeparts import ntz_epoch_seconds
    from tstore_spark.operators.dtw import dtw_distances, series_vectors

    ev = _t(spark, sf_dir, "events").select(
        "event_type", (ntz_epoch_seconds(F.col("ts"))).alias("_es")
    )
    hr = ev.select("event_type", F.expr("_es div 3600").alias("_hidx"))
    day0 = hr.agg(F.min(F.expr("_hidx div 24"))).head()[0]
    counts = (
        hr.where(F.expr(f"_hidx div 24 = {int(day0)}"))
        .groupBy("event_type", "_hidx")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    vec = series_vectors(counts, id_col="event_type", time_col="_hidx", value_col="_n")
    ids = vec.select(F.col("id"))
    pairs = (
        ids.select(F.col("id").alias("id_a"))
        .join(ids.select(F.col("id").alias("id_b")), F.col("id_a") < F.col("id_b"))
    )
    return dtw_distances(vec, pairs, band=3)


def _q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-style MoreLikeThis through the posting table: for the min and
    max doc_id, rank the 10 most similar documents by the tf*idf dot
    product over each query doc's 10 most characteristic terms, with the
    idf taken as INTEGER scale/df (ln is not IEEE-portable across engines —
    the BM25 lesson — while integer division and integer sums are bit-exact
    everywhere, so the whole ranking hash-matches the SQL twin). Terms in
    more than half the corpus are dropped before candidates exist (the
    stopword guard that is also the 100 TB scale valve)."""
    from tstore_spark.operators.search import build_inverted_index, more_like_this

    docs = _t(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).head()
    # scoped cache on the index: the operator consumes it on THREE paths
    # (query-doc postings, the query-term semi-join, df counts) and without
    # the cache each re-runs the corpus tokenize+explode+groupBy; the
    # operator nests in this scope, so it keeps the cache warm
    with op_scope():
        idx = scoped_cache(build_inverted_index(docs))
        # the synthetic corpus has a ~30-word vocab where every term is in
        # >50% of docs, so the gate runs the df guard wide open (the guard
        # itself is pytest-covered); ranking is still a full tf*idf ordering
        out = more_like_this(idx, [int(lo), int(hi)], k=10, max_terms=10, max_df_ratio=1.0)
    return out.select(
        "query_id", "doc_id", "score", F.col("rank").cast("int").alias("rank")
    )


def _q_bloom_index_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom index, end to end: hash-cluster the events table into
    16 files on user_id (each user's rows land in exactly one file — the
    layout where zone maps are structurally blind because every file's
    [min,max] spans the whole id domain), build an m-bit Bloom bitset per
    file in ONE JVM-side column-pruned scan, then answer a two-user point
    lookup reading only the files whose filters can contain either id.
    Fails loudly unless files were actually skipped; surviving rows must
    hash-match the plain full-scan SQL. Probes are min/max user_id so the
    query is scale-independent."""
    import re as _re

    from tstore_spark.sources.bloom_index import bloom_file_index, pruned_point_read

    root = "/tmp/tstore_spark_bi_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    ev.repartition(16, "user_id").write.mode("overwrite").parquet(root)
    lo, hi = ev.agg(F.min("user_id"), F.max("user_id")).head()
    idx = bloom_file_index(spark, root, "user_id")
    got, report = pruned_point_read(spark, root, idx, "user_id", [int(lo), int(hi)])
    if report["files_read"] >= report["files_total"]:
        raise RuntimeError(f"bloom index skipped nothing: {report}")
    return got.select("event_id", "ts", "user_id", "value")


def _q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering, end to end: rewrite the events table as 16 files
    slicing the bit-interleaved (value, event_id) z curve, then answer a
    range query on event_id — the SECOND z column, which a lexicographic
    (value, event_id) layout could never prune — reading only the files
    whose [min,max] can match. Fails loudly unless files were actually
    skipped; surviving rows must hash-match the plain full-scan SQL.
    The cutoff is max(event_id)/4 so the probe is scale-independent."""
    import re as _re

    from tstore_spark.sources.zonemaps import pruned_read, zone_maps
    from tstore_spark.sources.zorder import zorder_write

    root = "/tmp/tstore_spark_zo_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    zorder_write(ev, root, ["value", "event_id"], n_files=16, bits=12)
    zm = zone_maps(spark, root, ["value", "event_id"])
    hi = int(ev.agg(F.max("event_id")).head()[0]) // 4
    got, report = pruned_read(spark, root, zm, {"event_id": (0, hi)})
    if report["files_read"] >= report["files_total"]:
        raise RuntimeError(f"z layout skipped nothing on the off-prefix dim: {report}")
    return got.select(F.col("event_id").cast("long").alias("event_id"), "ts", "value")


def _q_stream_cascade_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fully-streaming 1m->1h cascade, end to end: events replayed as a
    file-source stream (several files -> several micro-batches), two CHAINED
    stateful window aggregations in one query (the hour tier's state merges
    minute partials, never raw rows), availableNow trigger, parquet sink +
    checkpoint. With a 0s watermark every hour whose end <= max event time
    emits exactly once; the oracle recomputes those closed hours in plain
    SQL. Payload bytes are the decimal digits of event_id so both engines
    count identical bytes."""
    import re as _re
    import shutil as _sh

    from tstore_spark.streaming.stream_rollup import (
        read_pages_stream,
        stream_rollup_cascade,
        write_stream_tier,
    )

    from tstore_spark.functions.timeparts import ntz_epoch_seconds

    base = "/tmp/tstore_spark_sc_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    _sh.rmtree(base, ignore_errors=True)
    # watermarks demand session-zoned TIMESTAMP; the driver's ts is NTZ.
    # TZ-proof bridge: field-extraction epoch -> timestamp_seconds gives an
    # instant whose UTC rendering IS the wall clock, so window boundaries are
    # exact wall-clock hours under ANY session zone (no NTZ->TIMESTAMP cast,
    # which would collapse nonexistent DST hours — CLAUDE.md constraint)
    src = _t(spark, sf_dir, "events").select(
        F.timestamp_seconds(ntz_epoch_seconds("ts")).alias("ts"),
        F.col("event_type").alias("etype"),
        F.encode(F.col("event_id").cast("string"), "utf-8").alias("html"),
    )
    src.repartition(4).write.parquet(f"{base}/src")
    stream = read_pages_stream(spark, f"{base}/src", src.schema)
    tier = stream_rollup_cascade(
        stream, ("1m", "1h"), watermark="0 seconds",
        key_col=F.col("etype"), time_col="ts",
    )
    q = write_stream_tier(tier, f"{base}/tier1h", f"{base}/ckpt")
    if not q.awaitTermination(900):  # partial-sink guard (see stream_gap_fill)
        q.stop()
        raise RuntimeError("streaming gate: query still active after 900s")
    return (
        spark.read.parquet(f"{base}/tier1h")
        .select(
            F.col("domain").alias("event_type"),
            # instant -> NTZ wall clock, TZ-proof (timestampadd on NTZ is
            # wall-clock-safe; unix_seconds of an instant is absolute)
            F.expr(
                "timestampadd(SECOND, unix_seconds(window_start),"
                " to_timestamp_ntz('1970-01-01'))"
            ).alias("window_start"),
            "doc_count",
            "bytes_total",
        )
    )


def _q_stream_gap_fill_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-fill THROUGH the chained 1m->1h cascade: events
    (deterministically thinned — every hour with index % 4 == 2 dropped, so
    interior gaps exist for every type) replayed as TIME-ORDERED files (a 0s
    watermark drops windows whose rows arrive after it passed; ordered
    slices keep the replay lossless) -> stream_rollup_cascade ->
    foreachBatch incremental grid completion (streaming/stream_gapfill).
    Gap hours emit zero counts plus ``bytes_interp`` linearly interpolated
    between the bracketing closed hours with the batch gapfill formula
    (mult-before-divide, epoch-second ratio) — DuckDB reproduces the
    doubles bit-for-bit. Oracle: closed hours + generate_series grid + the
    same interpolation via IGNORE NULLS window carries."""
    import glob as _glob
    import os as _os
    import re as _re
    import shutil as _sh

    from tstore_spark.functions.timeparts import ntz_epoch_seconds
    from tstore_spark.streaming.stream_gapfill import read_filled, stream_gap_fill
    from tstore_spark.streaming.stream_rollup import (
        read_pages_stream,
        stream_rollup_cascade,
    )

    base = "/tmp/tstore_spark_sgf_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    _sh.rmtree(base, ignore_errors=True)
    ev = _t(spark, sf_dir, "events")
    hidx = F.floor(ntz_epoch_seconds("ts") / 3600)
    # TZ-proof NTZ->instant bridge, as in _q_stream_cascade_1h
    src = ev.where(F.pmod(hidx, F.lit(4)) != 2).select(
        F.timestamp_seconds(ntz_epoch_seconds("ts")).alias("ts"),
        F.col("event_type").alias("etype"),
        F.encode(F.col("event_id").cast("string"), "utf-8").alias("html"),
    )
    b = src.agg(
        F.min(F.unix_seconds("ts")).alias("lo"), F.max(F.unix_seconds("ts")).alias("hi")
    ).head()
    lo, hi = int(b["lo"]), int(b["hi"])
    cuts = [lo + (hi - lo + 1) * i // 4 for i in range(5)]
    _os.makedirs(f"{base}/src")
    for i in range(4):
        sl = src.where(
            (F.unix_seconds("ts") >= cuts[i]) & (F.unix_seconds("ts") < cuts[i + 1])
            if i < 3
            else (F.unix_seconds("ts") >= cuts[i])
        ).coalesce(1)
        sl.write.mode("overwrite").parquet(f"{base}/slice_{i}")
        part = _glob.glob(f"{base}/slice_{i}/part-*.parquet")
        if part:
            dst = f"{base}/src/slice_{i}.parquet"
            _os.rename(part[0], dst)
            _os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = read_pages_stream(spark, f"{base}/src", src.schema, max_files_per_trigger=1)
    tier = stream_rollup_cascade(
        stream, ("1m", "1h"), watermark="0 seconds",
        key_col=F.col("etype"), time_col="ts",
    ).withColumn("bytes_interp", F.col("bytes_total").cast("double"))
    q = stream_gap_fill(
        tier,
        out_dir=f"{base}/out",
        checkpoint=f"{base}/ckpt",
        state_dir=f"{base}/state",
        tier="1h",
        key="domain",
        zero_fill=["doc_count", "bytes_total"],
        interp_cols=["bytes_interp"],
    )
    # a timed-out await would silently read a PARTIAL sink (measured: a
    # contended box pushed the 4-batch replay past 300 s and the gate
    # returned half the closed windows) — wait generously, then fail LOUD
    if not q.awaitTermination(900):
        q.stop()
        raise RuntimeError("stream_gap_fill_1h: streaming query still active after 900s")
    return read_filled(spark, f"{base}/out").select(
        F.col("domain").alias("event_type"),
        F.expr(
            "timestampadd(SECOND, unix_seconds(window_start),"
            " to_timestamp_ntz('1970-01-01'))"
        ).alias("window_start"),
        "doc_count",
        "bytes_total",
        "bytes_interp",
        "gap_filled",
    )


def _q_stream_cascade_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user sketches THROUGH the streaming cascade (round-3 close of
    the lambda split): ``hll_sketch_agg`` in the minute stage and
    ``hll_union_agg`` in the hour stage carry one sketch per (type, window)
    through the chained window aggs, so each closed hour's
    ``sketches.hll_estimate`` equals the batch estimate
    (tests/test_streaming.py proves the equality). Gate invariant: the
    streamed estimate lands within the sketch error bound of the exact
    per-hour distinct-user count, and counts/bytes stay exact.
    Oracle: the same closed hours + exact distincts + TRUE in plain SQL."""
    import re as _re
    import shutil as _sh

    from tstore_spark.functions.timeparts import ntz_epoch_seconds
    from tstore_spark.operators.sketches import hll_estimate
    from tstore_spark.streaming.stream_rollup import (
        read_pages_stream,
        stream_rollup_cascade,
        write_stream_tier,
    )

    base = "/tmp/tstore_spark_schll_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    _sh.rmtree(base, ignore_errors=True)
    # TZ-proof NTZ->instant bridge, as in _q_stream_cascade_1h
    src = _t(spark, sf_dir, "events").select(
        F.timestamp_seconds(ntz_epoch_seconds("ts")).alias("ts"),
        F.col("event_type").alias("etype"),
        F.encode(F.col("event_id").cast("string"), "utf-8").alias("html"),
        "user_id",
    )
    src.repartition(4).write.parquet(f"{base}/src")
    stream = read_pages_stream(spark, f"{base}/src", src.schema)
    tier = stream_rollup_cascade(
        stream, ("1m", "1h"), watermark="0 seconds",
        key_col=F.col("etype"), time_col="ts", distinct_col="user_id",
    )
    q = write_stream_tier(tier, f"{base}/tier1h", f"{base}/ckpt")
    if not q.awaitTermination(900):  # partial-sink guard (see stream_gap_fill)
        q.stop()
        raise RuntimeError("streaming gate: query still active after 900s")
    got = spark.read.parquet(f"{base}/tier1h").select(
        F.col("domain").alias("event_type"),
        F.expr(
            "timestampadd(SECOND, unix_seconds(window_start),"
            " to_timestamp_ntz('1970-01-01'))"
        ).alias("window_start"),
        "doc_count",
        "bytes_total",
        hll_estimate("hll").alias("distinct_est"),
    )
    exact = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type"),
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("window_start"),
        )
        .agg(F.countDistinct("user_id").alias("user_distinct"))
    )
    # bound: 4% (2.5x the p=12 standard error) with an absolute floor of 5
    # for the tiny per-hour cardinalities here, where linear counting is
    # quantized to ~unit steps (measured max abs err 2.94 across both sfs)
    within = (
        F.abs(F.col("distinct_est") - F.col("user_distinct"))
        <= F.greatest(F.lit(5.0), 0.04 * F.col("user_distinct"))
    )
    return got.join(exact, ["event_type", "window_start"]).select(
        "event_type", "window_start", "doc_count", "bytes_total",
        F.col("user_distinct").cast("long").alias("user_distinct"),
        within.alias("within_bound"),
    )


def _q_stream_cascade_dd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile sketches THROUGH the streaming cascade: DDSketch buckets
    sum-merge through the chained window aggs exactly as HLL registers do
    (each value lands in one bucket), so each closed hour's streamed sketch
    equals the batch dd_sketch bit-for-bit (tests/test_streaming.py). Gate
    invariant: streamed p50/p99 estimates land within the DDSketch relative
    error of the exact rank statistics (integer cents), counts/bytes exact.
    Oracle: the closed hours + exact rank elements + TRUE in plain SQL."""
    import re as _re
    import shutil as _sh

    from tstore_spark.functions.timeparts import ntz_epoch_seconds
    from tstore_spark.operators.ddsketch import (
        DEFAULT_GAMMA,
        relative_error_bound,
        with_dd_quantiles,
    )
    from tstore_spark.streaming.stream_rollup import (
        read_pages_stream,
        stream_rollup_cascade_ddsketch,
        write_stream_tier,
    )

    base = "/tmp/tstore_spark_scdd_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    _sh.rmtree(base, ignore_errors=True)
    src = _t(spark, sf_dir, "events").select(
        F.timestamp_seconds(ntz_epoch_seconds("ts")).alias("ts"),
        F.col("event_type").alias("etype"),
        F.encode(F.col("event_id").cast("string"), "utf-8").alias("html"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    src.repartition(4).write.parquet(f"{base}/src")
    stream = read_pages_stream(spark, f"{base}/src", src.schema)
    tier = stream_rollup_cascade_ddsketch(
        stream, ("1m", "1h"), watermark="0 seconds",
        key_col=F.col("etype"), time_col="ts", value_col="vc",
    )
    q = write_stream_tier(tier, f"{base}/tier1h", f"{base}/ckpt")
    if not q.awaitTermination(900):  # partial-sink guard (see stream_gap_fill)
        q.stop()
        raise RuntimeError("streaming gate: query still active after 900s")
    got = with_dd_quantiles(spark.read.parquet(f"{base}/tier1h"), qs=(0.5, 0.99))
    got = got.select(
        F.col("domain").alias("event_type"),
        F.expr(
            "timestampadd(SECOND, unix_seconds(window_start),"
            " to_timestamp_ntz('1970-01-01'))"
        ).alias("window_start"),
        "doc_count",
        "bytes_total",
        F.col("dd_q")[0].alias("_e50"),
        F.col("dd_q")[1].alias("_e99"),
    )
    exact = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type"),
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("window_start"),
        )
        .agg(
            F.sort_array(
                F.collect_list(F.round(F.col("value") * 100).cast("long"))
            ).alias("_v")
        )
        .select(
            "event_type",
            "window_start",
            F.get("_v", F.floor(F.lit(0.5) * (F.size("_v") - 1)).cast("int")).alias("p50_cents"),
            F.get("_v", F.floor(F.lit(0.99) * (F.size("_v") - 1)).cast("int")).alias("p99_cents"),
        )
    )
    # theorem bound with 0.1% float slack (bucket-edge elements sit exactly
    # on the bound; both sides are deterministic doubles)
    b = relative_error_bound(DEFAULT_GAMMA) * 1.001
    wb = (
        F.abs(F.col("_e50") - F.col("p50_cents")) <= F.lit(b) * F.col("p50_cents")
    ) & (F.abs(F.col("_e99") - F.col("p99_cents")) <= F.lit(b) * F.col("p99_cents"))
    return got.join(exact, ["event_type", "window_start"]).select(
        "event_type",
        "window_start",
        "doc_count",
        "bytes_total",
        "p50_cents",
        "p99_cents",
        wb.alias("within_bound"),
    )


def _q_stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time join (streaming/stream_join.py): attribute
    each click to every view by the same user within the preceding 2 hours,
    with BOTH sides arriving as live file streams. The watermark is sized to
    the replay horizon (31 days > the fixture's span) so a multi-batch
    replay of unordered files drops nothing — the production setting is the
    real lateness bound. Inner matches are emitted as they form, so the
    result equals the batch range join exactly. Oracle: the same inequality
    join in plain SQL; delay in exact integer microseconds."""
    import re as _re
    import shutil as _sh

    from tstore_spark.functions.timeparts import ntz_epoch_micros
    from tstore_spark.streaming.stream_join import attribution_join
    from tstore_spark.streaming.stream_rollup import (
        read_pages_stream,
        write_stream_tier,
    )

    base = "/tmp/tstore_spark_sattr_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    _sh.rmtree(base, ignore_errors=True)
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.timestamp_micros(ntz_epoch_micros("ts")).alias("ts"),
        "event_id",
        "event_type",
    )
    ev.where(F.col("event_type") == "view").drop("event_type").repartition(
        3
    ).write.parquet(f"{base}/imp")
    ev.where(F.col("event_type") == "click").drop("event_type").repartition(
        2
    ).write.parquet(f"{base}/conv")
    schema = spark.read.parquet(f"{base}/imp").schema
    joined = attribution_join(
        read_pages_stream(spark, f"{base}/imp", schema, max_files_per_trigger=2),
        read_pages_stream(spark, f"{base}/conv", schema, max_files_per_trigger=1),
        "user_id",
        max_delay="2 hours",
        watermark="31 days",
    )
    q = write_stream_tier(joined, f"{base}/out", f"{base}/ck")
    if not q.awaitTermination(900):  # partial-sink guard (see stream_gap_fill)
        q.stop()
        raise RuntimeError("streaming gate: query still active after 900s")
    out = spark.read.parquet(f"{base}/out")
    return out.select(
        "user_id",
        F.col("imp_event_id").alias("imp_id"),
        F.col("conv_event_id").alias("conv_id"),
        (F.unix_micros("conv_ts") - F.unix_micros("imp_ts")).alias("delay_us"),
    )


def _q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive full-text search via the inverted index: one explode +
    one groupBy builds the (token, doc_id, tf) posting table, the AND query
    is a posting intersection (term filter + one count-groupBy, no joins).
    Oracle: the same whole-token membership in plain SQL."""
    from tstore_spark.operators.search import build_inverted_index, search_all_terms

    idx = build_inverted_index(_t(spark, sf_dir, "documents"))
    return search_all_terms(idx, ["spark", "window", "hash"]).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )


def _q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact consecutive-phrase search via the positional index: per-term
    postings self-joined on (doc, pos - offset) — each side bounded by one
    term's postings. Oracle: the same adjacency join over SQL-tokenized
    (token, ordinal) pairs."""
    from tstore_spark.operators.search import build_positional_index, phrase_search

    pidx = build_positional_index(_t(spark, sf_dir, "documents"))
    return phrase_search(pidx, ["spark", "window"]).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )


def _q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization on the JVM-native session_window operator
    (batch mode): per-user sessions closed by a 24h inactivity gap, with
    session_end = last event (explicit max, not the gap-extended window
    edge). Oracle: the classic lag/cumulative-sum session id in SQL —
    break on diff >= gap, matching session_window's end-exclusive merge."""
    from tstore_spark.streaming.sessions import sessionize_native

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    out = sessionize_native(ev, "user_id", "ts", gap_seconds=86400)
    return out.select(
        F.col("key").cast("long").alias("user_id"),
        "session_start",
        "session_end",
        F.col("n_events").cast("long").alias("n_events"),
    )


def _q_series_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series Pearson correlation between the per-event-type 1-minute
    value series (exact integer cents sums aligned on the minute grid):
    every unordered type pair with its integer sufficient statistics and the
    derived r. Oracle computes the identical fixed formula in SQL — same
    integers, same op order, identical double bits."""
    from tstore_spark.operators.seriescorr import pairwise_correlation

    ev = _t(spark, sf_dir, "events")
    ser = ev.groupBy(
        F.col("event_type").alias("k"),
        # wall-clock trunc: NTZ -> session-zoned trunc -> back to NTZ
        F.date_trunc("minute", "ts").cast("timestamp_ntz").alias("t"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
    return pairwise_correlation(ser, "k", "t", "v", cents=False)


def _q_lead_lag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag scan between the click and view 1-minute value series:
    Pearson r of (click at t, view at t+lag) for four lags. Same exact
    integer statistics as series_corr; the oracle replays the shifted
    equi-join and fixed formula in SQL."""
    from tstore_spark.operators.seriescorr import lead_lag_correlation

    ev = _t(spark, sf_dir, "events")
    ser = ev.groupBy(
        F.col("event_type").alias("k"),
        F.date_trunc("minute", "ts").cast("timestamp_ntz").alias("t"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
    return lead_lag_correlation(
        ser, "k", "t", "v", "click", "view", [-120, 0, 120, 3600], cents=False
    )


def _q_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value against time (PromQL
    deriv/predict_linear): exact integer sufficient statistics over floored
    minutes-since-anchor x cents, slope/intercept/r2 derived with one fixed
    double expression each. Oracle replays the identical discretization and
    formulas in SQL — same integers, same op order, identical double bits."""
    from tstore_spark.operators.trend import trend_fit

    ev = _t(spark, sf_dir, "events")
    return trend_fit(ev, "event_type", "ts", "value", cents=True)


def _q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type autocorrelation at lags 0..4 (operators/acf.py): exact
    integer sufficient statistics (cents) per (key, lag) — lag pairs from
    ONE shared window sort, lag-0 doubling as the per-key totals — and the
    acf double derived with one fixed expression. Oracle replays the same
    generated lag list (UNION ALL) and formula in SQL: same integers, same
    op order, identical double bits. event_id tiebreaks duplicate ts."""
    from tstore_spark.operators.acf import acf

    ev = _t(spark, sf_dir, "events")
    return acf(ev, "event_type", "ts", "value", max_lag=4, tiebreak_cols=["event_id"])


def _q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile per event type (operators/seasonal.py):
    exact integer cent sums per (key, phase) with per-key totals spread by
    window (no join), mean/offset/ratio each ONE fixed double expression.
    hour() is field extraction on the NTZ timestamps — wall-clock, TZ-proof.
    Oracle replays the identical integers and op order in SQL."""
    from tstore_spark.operators.seasonal import seasonal_profile

    ev = _t(spark, sf_dir, "events")
    return seasonal_profile(ev, "event_type", "ts", "value", phase="hour")


def _q_changepoint_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single best level-shift changepoint per event type (binary-
    segmentation scoring, operators/changepoint.py:best_changepoint) over
    the per-type 1-minute cents series. Prefix sums/counts are exact longs;
    the gain is one FIXED chain of IEEE ops on exactly-representable longs
    (the rrf_fusion precedent), argmax ties to the smallest index — the
    oracle replays identical windows and the identical op order."""
    from tstore_spark.operators.changepoint import best_changepoint

    ev = _t(spark, sf_dir, "events")
    ser = ev.groupBy(
        F.col("event_type").alias("k"),
        F.date_trunc("minute", "ts").cast("timestamp_ntz").alias("t"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
    out = best_changepoint(ser, "k", "t", "v", min_segment=5)
    return out.select(
        F.col("k").alias("event_type"),
        "cp_index", "cp_time", "n_left", "n_right",
        "sum_left", "sum_right", "gain",
    )


def _q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift statistics over the per-type 1-minute value
    series (integer cents), using the cumsum-minus-running-min identity —
    two window functions, no recursion. Oracle replays the identical
    windows in SQL."""
    from tstore_spark.operators.changepoint import cusum

    ev = _t(spark, sf_dir, "events")
    ser = ev.groupBy(
        F.col("event_type").alias("k"),
        F.date_trunc("minute", "ts").cast("timestamp_ntz").alias("t"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
    out = cusum(ser, "k", "t", "v", target=5000.0, threshold=50000.0,
                slack=1000.0, cents=False)
    return out.select(
        F.col("k").alias("event_type"),
        F.col("t").alias("window_start"),
        F.col("v").alias("value_cents"),
        "cusum_up",
        "cusum_down",
        "alarm",
    )


def _q_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonal baseline per event type: exact integer
    (n, Σcents, Σcents²) per cohort plus mean/std derived by one fixed
    expression. Oracle recomputes the same buckets (isodow-1)*24+hour and
    formula in SQL."""
    from tstore_spark.operators.seasonal import seasonal_baseline

    ev = _t(spark, sf_dir, "events")
    return seasonal_baseline(ev, "event_type", "ts", "value").select(
        F.col("key").alias("event_type"),
        "bucket", "n", "sum_cents", "sumsq_cents", "mean", "std", "period",
    )


def _q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard ≥ 0.35 pairs via prefix filtering (dedup.py
    prefix_jaccard_pairs): candidates only where two docs share one of
    their ⌊0.65·|A|⌋+1 globally RAREST shingles — lossless by the AllPairs
    theorem, so the output hash-matches the plain exact-pair SQL oracle
    (no recall floor needed, unlike the LSH rows)."""
    from tstore_spark.operators.dedup import prefix_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return prefix_jaccard_pairs(d, threshold=0.35)


def _q_cube_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP cube over the corpus (operators/olap.py): docs + chars by
    lang × source and EVERY margin in one job — pre-aggregated on the
    finest grain so the Expand runs over distinct dim combos, not raw
    rows. gid is the grouping_id bitmask (Spark and DuckDB agree on
    leftmost-is-MSB), so the whole cube hash-matches the generated
    GROUP BY CUBE twin."""
    from tstore_spark.operators.olap import cube_rollup

    d = _t(spark, sf_dir, "documents")
    return cube_rollup(
        d,
        ["lang", "source"],
        {"docs": F.count(F.lit(1)), "chars": F.sum("n_chars")},
    )


def _q_ccf_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense cross-correlation sweep (operators/acf.py ccf): Pearson r of
    (click at t, view at t+ℓ minutes) for EVERY ℓ in −5..+5 over the
    per-minute integer-cent series — the symmetric statsmodels-style CCF
    front-end over seriescorr's exact-integer core. Oracle is generated
    from the same lag range and replays the integer-product formula."""
    from tstore_spark.operators.acf import ccf

    ev = _t(spark, sf_dir, "events")
    ser = ev.groupBy(
        F.col("event_type").alias("k"),
        F.date_trunc("minute", "ts").cast("timestamp_ntz").alias("t"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
    return ccf(ser, "k", "t", "v", "click", "view", max_lag=5, cents=False)


def _q_seasonal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every event scored against ITS hour-of-week seasonal cohort in
    cohort sigmas (operators/seasonal.py seasonal_score): the baseline
    (exact integer state, n >= 3 cohorts) broadcast-joins onto the raw
    rows; mean/std/sigmas each ONE fixed double expression, flat or thin
    cohorts yield NULL. Oracle replays the identical buckets, filter and
    op order in SQL."""
    from tstore_spark.operators.seasonal import seasonal_baseline, seasonal_score

    ev = _t(spark, sf_dir, "events")
    base = seasonal_baseline(ev, "event_type", "ts", "value")
    return seasonal_score(ev, base, "event_type", "ts", "value", min_n=3)


_DRIFT_A = ("src0", "src1", "src2", "src3", "src4")


def _q_lang_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-distribution drift between two document cohorts (sources
    src0-4 vs the rest): exact per-lang counts full-outer aligned, shares
    and share_diff derived by fixed expressions. Oracle replays the same
    counts and divisions in SQL."""
    from tstore_spark.operators.drift import categorical_drift

    d = _t(spark, sf_dir, "documents")
    a = d.where(F.col("source").isin(*_DRIFT_A))
    b = d.where(~F.col("source").isin(*_DRIFT_A))
    return categorical_drift(a, b, "lang")


def _q_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric drift between the click/view cohort's value distribution and
    everyone else's: both sides bucketed on the same fixed [0, 600) x 12
    grid, per-bucket exact counts and derived shares. (The TVD/chi2 scalar
    summary stays pytest-proven — its cross-row double sums are not
    bit-order-stable across engines, per the repo float discipline.)"""
    from tstore_spark.operators.drift import numeric_drift

    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type").isin("click", "view"))
    b = ev.where(~F.col("event_type").isin("click", "view"))
    return numeric_drift(a, b, "value", 0.0, 600.0, 12)


def _q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union coverage of overlapping intervals per event type: each event
    spans [ts, ts + (1 + event_id % 300) s) — deterministic synthetic
    durations with real overlaps — merged by the gaps-and-islands sweep
    (three window functions, exact integer floor-second epochs). Oracle
    replays the identical windows in SQL with epoch_us // 1000000."""
    from tstore_spark.operators.coverage import interval_coverage

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.expr("timestampadd(SECOND, 1 + event_id % 300, ts)").alias("te"),
    )
    return interval_coverage(ev, "event_type", "ts", "te").select(
        F.col("key").alias("event_type"), "n_intervals", "n_islands",
        "covered_seconds",
    )


def _q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan data profile of the events table: per-column row/null/
    exact-distinct counts and min/max (native-type order, string-rendered),
    all statistics in ONE aggregate. Oracle: per-column UNION ALL in SQL."""
    from tstore_spark.operators.profile import profile

    ev = _t(spark, sf_dir, "events")
    return profile(ev, ["event_id", "user_id", "event_type", "value"])


def _q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-width histogram of events.value over fixed [0, 600) x12:
    integer bucket counts (clamped edges, empty buckets emitted as zero) —
    deterministic at any parallelism. Oracle: the same floor arithmetic in
    SQL over a generated bucket grid."""
    from tstore_spark.operators.profile import numeric_histogram

    return numeric_histogram(_t(spark, sf_dir, "events"), "value", 0.0, 600.0, 12)


def _q_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity query over the positional index: docs where two terms
    occur within 3 tokens of each other (either order) — per-term postings
    joined with a position band. Oracle: the same band join over
    SQL-tokenized (token, ordinal) pairs."""
    from tstore_spark.operators.search import build_positional_index, proximity_search

    pidx = build_positional_index(_t(spark, sf_dir, "documents"))
    return proximity_search(pidx, "spark", "hash", max_distance=3).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )


def _q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-term document frequency + total term frequency from the
    inverted index — the integer inputs BM25's idf needs, oracle-checked
    against a tokenize-and-count in SQL."""
    from tstore_spark.operators.search import build_inverted_index, term_stats

    idx = build_inverted_index(_t(spark, sf_dir, "documents"))
    return term_stats(idx, ["spark", "window", "hash", "merge"]).select(
        "token",
        F.col("df").cast("long").alias("df"),
        F.col("tf_total").cast("long").alias("tf_total"),
    )


def _q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc keyword extraction (operators/search.py:doc_keywords):
    top-3 terms by integer tf-idf (tf * greatest(1, 1e6 div df) — the
    more_like_this idf; ln() isn't IEEE-portable, integer division is)
    through the real inverted index. Total tie order (score desc, token
    asc) makes ranks bit-identical; oracle re-derives postings by SQL
    tokenization and runs the same arithmetic."""
    from tstore_spark.operators.search import build_inverted_index, doc_keywords

    idx = build_inverted_index(_t(spark, sf_dir, "documents"))
    return doc_keywords(idx, k=3)


def _q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-grain exact dedup (corpus.py:dedup_paragraphs): documents
    rebuilt as three paragraphs — a per-doc-varying prefix, a corpus-wide
    boilerplate block, a per-doc tail slice — so the boilerplate must
    survive ONLY in the globally first doc and every other doc reassembles
    without it (order preserved, empty-paragraph semantics untouched).
    Oracle replays split → first-occurrence window → ordered string_agg
    in SQL over the identically constructed texts."""
    from tstore_spark.operators.corpus import dedup_paragraphs

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.substring("text", 1, 40) ,
            F.lit("ACCEPT COOKIES to continue reading this page"),
            F.substring("text", 61, 20 + F.pmod(F.col("doc_id"), F.lit(10)).cast("int")),
        ).alias("text"),
    )
    return dedup_paragraphs(docs)


def _q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof salt-replicated join (skew.py:salted_join): events (the
    hot-keyed fact) join a derived event_type dim on the skewed key, hot
    keys spread over 8 salts. The oracle is the PLAIN SQL join — salting
    must be semantically invisible, and the hash equality proves it
    row-for-row."""
    from tstore_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    dim = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("type_total"))
        .withColumn("type_rank", F.length("event_type").cast("long"))
    )
    out = salted_join(
        ev.select("event_id", "event_type"), dim, ["event_type"],
        uniformizer="event_id", num_salts=8,
    )
    return out.select("event_id", "event_type", "type_total", "type_rank")


def _q_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert clustering key (sources/hilbert.py): the xy→d quadrant
    recursion over a 32x32 grid derived from documents, Arrow kernel in
    Spark vs THE SAME recursion as a recursive CTE in DuckDB (rx/ry
    quadrant index, rotate/reflect, five s-halvings) — the curve itself
    is hash-gated, like dtw/bpe's recursion twins."""
    from tstore_spark.sources.hilbert import hilbert_cell_key

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(32)).cast("long").alias("cx"),
        F.pmod(F.col("n_chars"), F.lit(32)).cast("long").alias("cy"),
    )
    return d.select(
        "doc_id", "cx", "cy",
        hilbert_cell_key(F.col("cx"), F.col("cy"), 5).alias("hkey"),
    )


def _q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (sampling.py:epoch_shuffle): per-row
    md5 order key + tail-byte shard over documents — a pure projection
    (zero shuffle in the plan; write_epoch_shards owns the one
    materializing repartition). Oracle recomputes key and shard from the
    same md5 arithmetic."""
    from tstore_spark.operators.sampling import epoch_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(docs, "doc_id", n_shards=8, epoch=1, seed=7)


def _q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware crawl scheduling (operators/crawl.py): frontier
    derived from events (host = event_type, priority = user_id%7), one
    row_number window per host with total (priority DESC, url ASC) order,
    integer fetch offsets, portable-digest fetcher ownership, budget 40
    per host. Oracle = the same window + arithmetic in SQL."""
    from tstore_spark.operators.crawl import crawl_schedule

    ev = _t(spark, sf_dir, "events")
    frontier = ev.select(
        F.concat(
            F.lit("https://"), F.col("event_type"), F.lit(".example/"),
            F.col("event_id").cast("string"),
        ).alias("url"),
        F.concat(F.col("event_type"), F.lit(".example")).alias("host"),
        (F.col("user_id") % 7).alias("prio"),
    )
    return crawl_schedule(
        frontier, priority_col="prio", delay_ms=250, n_fetchers=16,
        max_per_host=40,
    )


def _q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear BoW quality classifier (operators/classify.py) over the
    documents corpus with a literal integer lexicon: score = bias + Σ
    tf·weight, exact BIGINT (order-independent, oracle = the same join
    written as VALUES + SUM). `keep` gates the filter decision itself."""
    from tstore_spark.operators.classify import classifier_score

    lex = spark.createDataFrame(
        [("spark", 8), ("fast", 6), ("join", 3), ("hash", 2),
         ("slow", -5), ("dup", -9)],
        "token string, weight long",
    )
    scored = classifier_score(
        _t(spark, sf_dir, "documents"), lex, bias=1
    )
    return scored.select(
        "doc_id", "n_tokens", "score", (F.col("score") >= 10).alias("keep")
    )


def _q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level eval decontamination (similarity.py:
    semantic_decontaminate): the eval set is the vec_id%17==3 slice — its
    leaked copies inside the corpus score cosine 1.0 and must flag at
    threshold 0.9, everything else stays clean. Broadcast eval side, one
    max-struct aggregate per corpus row; cosine rounded 3dp (the
    cosine_topk float discipline), ties to the larger eval id in both
    engines."""
    from tstore_spark.operators.similarity import semantic_decontaminate

    emb = _t(spark, sf_dir, "embeddings")
    ev = emb.where(F.col("vec_id") % 17 == 3).select(
        F.col("vec_id").alias("eval_id"), "embedding"
    )
    return semantic_decontaminate(emb, ev, threshold=0.9)


def _q_postings_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list compression lossless loop (operators/postings.py):
    inverted index -> delta-gap varint blocks (doc-id-RANGE blocks, no
    per-token window) -> decode -> flat postings. Restricted to rare-letter
    tokens to bound the compare; block_span=128 so multiple blocks per
    token exist at sf0.01. The oracle is the direct SQL tokenization —
    hash equality IS the losslessness proof (the gorilla_roundtrip
    pattern)."""
    from tstore_spark.operators.postings import (
        compress_postings,
        decompress_postings,
    )
    from tstore_spark.operators.search import build_inverted_index

    idx = build_inverted_index(_t(spark, sf_dir, "documents")).where(
        F.col("token").rlike("^[jqxz]")
    )
    chunks = compress_postings(idx, block_span=128)
    return decompress_postings(chunks, block_span=128)


def _q_postings_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block metadata of the compressed index, decode-free: per (token,
    doc-id-range block) doc count + min/max doc (the skip-list pruning
    columns) and the `compressed` invariant (bytes < 16/posting raw).
    Oracle re-derives block membership with SQL floor-division."""
    from tstore_spark.operators.postings import compress_postings
    from tstore_spark.operators.search import build_inverted_index

    idx = build_inverted_index(_t(spark, sf_dir, "documents")).where(
        F.col("token").rlike("^[sv]")
    )
    chunks = compress_postings(idx, block_span=128)
    return chunks.select(
        "token",
        "block",
        F.col("n_docs").cast("long").alias("n_docs"),
        "min_doc",
        "max_doc",
        (F.col("n_bytes") < 16 * F.col("n_docs")).alias("compressed"),
    )


def _q_merge_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics, end to end: archive the events stream keyed by
    (event_id, ts), upsert a batch that restates values for event_id % 10 == 3
    (matched -> update) and appends brand-new ids (unmatched -> insert), then
    reopen. Only the touched (day, bucket) partitions are rewritten; the
    oracle is the same MERGE expressed in plain SQL."""
    import re as _re

    from tstore_spark.model.tslong import TSLong
    from tstore_spark.sources.archive import open_archive, write_archive
    from tstore_spark.sources.merge import merge_upsert

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    tl = TSLong.wrap(ev, id_var="event_id", time_var="ts", ts_vars={"metrics": ["value"]})
    base = "/tmp/tstore_spark_merge_rt_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    write_archive(tl, base, num_buckets=2, check_static_uniqueness=False)
    batch = (
        ev.where(F.col("event_id") % 10 == 3)
        .select("event_id", "ts", (F.col("value") + 1000.0).alias("value"))
        .unionByName(
            ev.where(F.col("event_id") % 97 == 0).select(
                (F.col("event_id") + 10_000_000).alias("event_id"),
                "ts",
                (F.col("value") * 2.0).alias("value"),
            )
        )
    )
    summary = merge_upsert(spark, base, batch)
    if summary["rows_updated"] == 0:
        raise RuntimeError("merge unexpectedly matched no existing rows")
    back = open_archive(spark, base, with_attributes=False)
    return back.df.select(
        F.col("event_id").cast("long").alias("event_id"), "ts", "value"
    )


def _q_stream_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply (streaming/stream_merge.py): three change files
    replayed as one-file micro-batches through foreachBatch ->
    merge_upsert, each restating the SAME update keys from the original
    values with a rising seq — so the final table is the last writer's
    version, exactly what the oracle states in plain SQL. Ledger +
    checkpoint are wiped per call (a stale ledger would skip the replay);
    within-batch collapse and cross-batch ordering both exercised."""
    import re as _re
    import shutil

    from tstore_spark.model.tslong import TSLong
    from tstore_spark.sources.archive import open_archive, write_archive
    from tstore_spark.streaming.stream_merge import apply_stream_upserts

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    tl = TSLong.wrap(ev, id_var="event_id", time_var="ts", ts_vars={"metrics": ["value"]})
    base = "/tmp/tstore_spark_smerge_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    shutil.rmtree(base, ignore_errors=True)
    write_archive(tl, base, num_buckets=2, check_static_uniqueness=False)
    src = base + "_changes"
    shutil.rmtree(src, ignore_errors=True)
    for i in range(3):
        upd = ev.where(F.col("event_id") % 10 == 3).select(
            "event_id", "ts", (F.col("value") + 1000.0 * (i + 1)).alias("value")
        )
        ins = ev.where(F.col("event_id") % 97 == 0).select(
            (F.col("event_id") + 10_000_000).alias("event_id"),
            "ts",
            (F.col("value") * float(i + 2)).alias("value"),
        )
        upd.unionByName(ins).withColumn("seq", F.lit(i)).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )
    schema = spark.read.parquet(f"{src}/f0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    q = apply_stream_upserts(stream, base, order_col="seq")
    if not q.awaitTermination(900):  # partial-sink guard (see stream_gap_fill)
        q.stop()
        raise RuntimeError("streaming gate: query still active after 900s")
    back = open_archive(spark, base, with_attributes=False)
    return back.df.select(
        F.col("event_id").cast("long").alias("event_id"), "ts", "value"
    )


def _q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation, end to end: archive the events stream, pin
    snapshot v1, run a destructive MERGE (updates + inserts), then read
    v1 — which must still hash-match the ORIGINAL table even though the
    live tree changed underneath it. Footer row counts prove the live
    tree really did diverge before we return the pinned version."""
    import re as _re

    import pyarrow.dataset as pads

    from tstore_spark.model.tslong import TSLong
    from tstore_spark.sources.archive import PAGES_DIR, write_archive
    from tstore_spark.sources.merge import merge_upsert
    from tstore_spark.sources.snapshots import (
        open_snapshot,
        read_manifest,
        snapshot_commit,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    tl = TSLong.wrap(ev, id_var="event_id", time_var="ts", ts_vars={"metrics": ["value"]})
    base = "/tmp/tstore_spark_snap_rt_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    import shutil as _sh

    _sh.rmtree(base, ignore_errors=True)  # fresh run: version numbering from v1
    write_archive(tl, base, num_buckets=2, check_static_uniqueness=False)
    v1 = snapshot_commit(base)
    batch = ev.where(F.col("event_id") % 11 == 5).select(
        (F.col("event_id") + 20_000_000).alias("event_id"), "ts", "value"
    )
    merge_upsert(spark, base, batch)
    live_rows = pads.dataset(f"{base}/{PAGES_DIR}", format="parquet").count_rows()
    snap = open_snapshot(spark, base, v1)
    vdir = f"{base}/snapshots/{PAGES_DIR}/v{v1}"
    snap_files = [f"{vdir}/{e['path']}" for e in read_manifest(base, PAGES_DIR, v1)["files"]]
    snap_rows = pads.dataset(snap_files, format="parquet").count_rows()
    if live_rows <= snap_rows:
        raise RuntimeError(f"merge did not diverge the live tree ({live_rows} vs {snap_rows})")
    return snap.select(F.col("event_id").cast("long").alias("event_id"), "ts", "value")


_EXPECT_RULES = {
    # names sort in this order; quarantine reports them sorted
    "type_known": lambda: F.col("event_type").isin(*EVENT_TYPES),
    "user_id_lt_100": lambda: F.col("user_id") < 100,
    "value_min_5c": lambda: F.col("value") >= 0.05,
}


def _q_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report: every rule evaluated in ONE scan /
    one aggregate (conditional long sums, NULL counts as violation)."""
    from tstore_spark.operators.expectations import expectation_report

    ev = _t(spark, sf_dir, "events")
    return expectation_report(ev, {k: v() for k, v in _EXPECT_RULES.items()})


def _q_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine split: rows violating any rule, with the sorted list of
    failed rule names (stringified — the audit trail), one projection."""
    from tstore_spark.operators.expectations import quarantine

    ev = _t(spark, sf_dir, "events")
    _clean, bad = quarantine(ev, {k: v() for k, v in _EXPECT_RULES.items()})
    return bad.select(
        "event_id", F.concat_ws(",", "failed_rules").alias("failed")
    )


def _q_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE WHERE, end to end: archive the events stream (with the
    event_type payload), copy-on-write-delete the 'error' rows — touching
    only partitions that contain matches — and reopen; the survivors must
    hash-match the plain SQL anti-filter."""
    import re as _re
    import shutil as _sh

    from tstore_spark.model.tslong import TSLong
    from tstore_spark.sources.archive import open_archive, write_archive
    from tstore_spark.sources.merge import delete_where

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    tl = TSLong.wrap(
        ev, id_var="event_id", time_var="ts", ts_vars={"metrics": ["event_type", "value"]}
    )
    base = "/tmp/tstore_spark_del_rt_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    _sh.rmtree(base, ignore_errors=True)
    write_archive(tl, base, num_buckets=2, check_static_uniqueness=False)
    summary = delete_where(spark, base, F.col("event_type") == "error")
    if summary["rows_deleted"] == 0:
        raise RuntimeError("delete_where unexpectedly matched nothing")
    back = open_archive(spark, base, with_attributes=False)
    return back.df.select(
        F.col("event_id").cast("long").alias("event_id"), "ts", "event_type", "value"
    )


def _q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (graph.py:
    label_propagation) over the planted graph — density communities where
    connected_components sees one blob: the path, the bridged cycles and
    the scale-varying ER component all carry labels after 4 fixed rounds
    (fixed budget because synchronous LPA may oscillate; determinism over
    convergence). Oracle = the identical rounds unrolled."""
    from tstore_spark.operators.graph import label_propagation

    edges = _planted_graph(_t(spark, sf_dir, "documents"))
    return label_propagation(edges, iterations=4, num_partitions=8)


def _q_redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by pointer doubling (graph.py:
    resolve_redirects): every group of 8 consecutive doc_ids forms a
    7-hop 301 chain into a terminal (scale-varying row count), plus a
    planted 2-cycle that must come back unresolved. 4 doublings cover
    2^4 = 16 hops; the oracle runs the identical doubling unrolled."""
    from tstore_spark.operators.graph import resolve_redirects

    d = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    chain = d.select(
        F.concat(F.lit("u"), did).alias("src"),
        F.when(
            F.col("doc_id") % 8 < 7,
            F.concat(F.lit("u"), (F.col("doc_id") + 1).cast("string")),
        )
        .otherwise(F.concat(F.lit("t"), F.expr("doc_id div 8").cast("string")))
        .alias("dst"),
    )
    cyc = d.where(F.col("doc_id") == 0).selectExpr(
        "'cycA' AS src", "'cycB' AS dst"
    ).unionByName(
        d.where(F.col("doc_id") == 0).selectExpr("'cycB' AS src", "'cycA' AS dst")
    )
    return resolve_redirects(
        chain.unionByName(cyc), max_rounds=4, num_partitions=8
    )


def _q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch / Flesch-Kincaid readability (corpus.py:readability_scores):
    exact long word/sentence/vowel-group counts from pure Catalyst, scores
    one fixed IEEE chain (the rrf_fusion bit-stability rule) — the oracle
    mirrors counts and op order exactly."""
    from tstore_spark.operators.corpus import readability_scores

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return readability_scores(docs)


def _q_cdx_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX index source (sources/cdx.py) + SURT keys (urls.py:surt_key):
    each document emits TWO CDX(J) capture lines (March + April) whose
    urlkey is derived by surt_key from a hostile mixed-case www/query-
    reordered URL; parse_cdx_lines types the fields (revisit rows carry
    status '-', parsed NULL for doc_id%7==0) and latest_captures keeps
    the April capture. The oracle writes the surviving row CLOSED-FORM —
    urlkey, NTZ timestamp, and typed fields — never touching XML/JSON."""
    from tstore_spark.functions.urls import surt_key
    from tstore_spark.sources.cdx import latest_captures, parse_cdx_lines

    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://www.S"), (d % 20).cast("string"),
        F.lit(".example.com/Item/"), d.cast("string"), F.lit("?b=2&a=1"),
    )
    status = F.when(d % 7 == 0, F.lit("-")).otherwise(F.lit("200"))
    mk = lambda ts, sfx: F.concat_ws(
        " ",
        surt_key(url),
        ts,
        F.to_json(
            F.struct(
                url.alias("url"),
                F.lit("text/html").alias("mime"),
                status.alias("status"),
                F.concat(F.lit("D"), d.cast("string"), F.lit(sfx)).alias("digest"),
                (d % 1000 + 100).cast("string").alias("length"),
                (d * 7).cast("string").alias("offset"),
                F.lit(f"crawl-{sfx}.warc.gz").alias("filename"),
            )
        ),
    )
    ts_a = F.concat(F.lit("202403"), F.lpad((d % 28 + 1).cast("string"), 2, "0"), F.lit("120000"))
    ts_b = F.concat(F.lit("202404"), F.lpad((d % 28 + 1).cast("string"), 2, "0"), F.lit("060000"))
    lines = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.array(mk(ts_a, "a"), mk(ts_b, "b"))).alias("value"))
    )
    return latest_captures(parse_cdx_lines(lines)).select(
        "urlkey", "fetch_ts", "url", "mime", "status", "digest",
        "length", "offset", "filename",
    )


def _q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive recrawl intervals (crawl.py:recrawl_intervals, Cho &
    Garcia-Molina refresh policy in exact integers): each document plants
    a 9-round observation ledger whose signature flips every p = 1 +
    doc_id%4 rounds. The oracle derives n_changes = 8 div p and the
    clamped revisit interval CLOSED-FORM from the planted period —
    independent of the operator's lag/window machinery."""
    from tstore_spark.operators.crawl import recrawl_intervals

    d = F.col("doc_id")
    obs = (
        _t(spark, sf_dir, "documents")
        .select(
            F.concat(F.lit("https://d"), d.cast("string"), F.lit(".example.com/page")).alias("url"),
            (d % 4 + 1).alias("p"),
            F.explode(F.sequence(F.lit(0), F.lit(8))).alias("crawl_round"),
        )
        .select(
            "url",
            "crawl_round",
            F.concat(F.lit("v"), F.expr("crawl_round div p").cast("string")).alias("content_sig"),
        )
    )
    return recrawl_intervals(obs, max_interval=16)


def _q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion (operators/sitemaps.py): each document generates
    one sitemap XML body algebraically — a main entry written three ways
    by doc_id%3 (CDATA-wrapped query, entity-escaped query, plain), plus a
    cross-host entry (doc_id%4==0, must be rejected by the same-host
    rule) and a loc-less entry (doc_id%5==0, unaddressable, dropped).
    parse -> frontier_candidates must recover exactly the generating set
    — the oracle reconstructs it directly from documents without ever
    parsing XML (independent oracle, the robots-gate pattern)."""
    from tstore_spark.operators.sitemaps import (
        frontier_candidates,
        parse_sitemaps,
    )

    d = F.col("doc_id")
    m3 = d % 3
    host = F.concat(F.lit("h"), (d % 5).cast("string"), F.lit(".example.com"))
    base = F.concat(F.lit("https://"), host, F.lit("/doc/"), d.cast("string"))
    lm = F.concat(
        F.lit("2024-01-"), F.lpad((d % 28 + 1).cast("string"), 2, "0")
    )
    entry1 = (
        F.when(
            m3 == 0,
            F.concat(
                F.lit("<url><loc><![CDATA["), base,
                F.lit("?a=1&b=2]]></loc><lastmod>"), lm,
                F.lit("</lastmod></url>"),
            ),
        )
        .when(
            m3 == 1,
            F.concat(
                F.lit("<url><loc>"), base,
                F.lit("?a=1&amp;b=2</loc><lastmod>"), lm,
                F.lit("</lastmod></url>"),
            ),
        )
        .otherwise(F.concat(F.lit("<url><loc>"), base, F.lit("</loc></url>")))
    )
    entry2 = F.when(
        d % 4 == 0,
        F.concat(
            F.lit("<url><loc>https://x.example.org/off/"), d.cast("string"),
            F.lit("</loc></url>"),
        ),
    ).otherwise(F.lit(""))
    entry3 = F.when(
        d % 5 == 0, F.lit("<url><lastmod>2024-09-09</lastmod></url>")
    ).otherwise(F.lit(""))
    sm = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://"), host, F.lit("/sitemap.xml")).alias(
            "sitemap_url"
        ),
        F.concat(
            F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
            entry1, entry2, entry3, F.lit("</urlset>"),
        ).alias("body"),
    )
    return frontier_candidates(parse_sitemaps(sm)).select(
        "canon_url", "loc", "lastmod", F.col("n_sitemaps").cast("long").alias("n_sitemaps")
    )


def _q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance filtering (operators/robots.py): per-host
    robots files are BUILT as real text (groups, precedence, wildcard, $
    anchor, plus an unrelated agent group on even hosts), parsed through
    the actual line/group/LIKE chain, and every doc-derived URL is
    decided. The oracle derives the expected decision INDEPENDENTLY from
    the fixture's case structure — not a parser twin, so parser and
    matcher bugs cannot cancel out."""
    from tstore_spark.operators.robots import parse_robots, robots_allowed

    d = _t(spark, sf_dir, "documents").select("doc_id")
    m = (F.col("doc_id") % 20).cast("string")
    host = F.concat(F.lit("h"), m, F.lit(".example.com"))
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /p"), m, F.lit("/\nAllow: /p"), m,
        F.lit("/ok*\nDisallow: /exact"), m, F.lit("$\n"),
    )
    special = F.concat(F.lit("User-agent: specialbot\nDisallow: /\n\n"), body)
    robots = d.select(
        host.alias("host"),
        F.when(F.col("doc_id") % 20 % 2 == 0, special).otherwise(body).alias("robots_txt"),
    ).dropDuplicates(["host"])
    c = F.col("doc_id") % 5
    did = F.col("doc_id").cast("string")
    path = (
        F.when(c == 0, F.concat(F.lit("/p"), m, F.lit("/x"), did))
        .when(c == 1, F.concat(F.lit("/p"), m, F.lit("/ok/y"), did))
        .when(c == 2, F.concat(F.lit("/exact"), m))
        .when(c == 3, F.concat(F.lit("/exact"), m, F.lit("z")))
        .otherwise(F.concat(F.lit("/free/"), did))
    )
    urls = d.select(F.concat(F.lit("http://"), host, path).alias("url")).distinct()
    rules = parse_robots(robots, agent="*")
    return robots_allowed(urls, rules).select("url", "allowed", "matched_pattern")


def _q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion end to end (sources/warc.py): serialize the documents
    corpus into real ISO-28500 WARC files (4 shards, half of them
    per-record-gzip like Common Crawl, bodies wrapped in HTTP envelopes),
    read them back distributed via the binaryFile source + Arrow parser,
    and return (url, warc_ts, text). The oracle states the same mapping
    over the documents table in plain SQL — the bytes round-tripped
    through the actual framing, so equality proves the parser."""
    import os as _os
    import re as _re
    import shutil as _sh
    from datetime import datetime as _dt, timedelta as _td

    from tstore_spark.sources.warc import read_warc, warc_bytes

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    base = "/tmp/tstore_spark_warc_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    _sh.rmtree(base, ignore_errors=True)
    _os.makedirs(base)
    t0 = _dt(2024, 3, 1)
    shards: list[list[dict]] = [[], [], [], []]
    for r in docs:
        body = r["text"].encode("utf-8")
        shards[r["doc_id"] % 4].append(
            {
                "url": f"http://doc{r['doc_id']}.example.com/",
                "ts": t0 + _td(minutes=int(r["doc_id"])),
                "payload": b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body,
            }
        )
    for i, recs in enumerate(shards):
        gz = i % 2 == 1
        name = f"{base}/shard{i}.warc" + (".gz" if gz else "")
        with open(name, "wb") as f:
            f.write(warc_bytes(recs, compress=gz))
    out = read_warc(spark, base)
    return out.select(
        "url",
        "warc_ts",
        F.decode(F.col("html"), "UTF-8").alias("text"),
    )


def _q_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional deletion vectors end to end (sources/deletion_vectors.py):
    archive the events stream, DELETE the 'error' rows as merge-on-read
    tombstones (zero data rewrite), assert the MoR scan already excludes
    them, then PURGE (copy-on-write fold scoped to touched partitions) and
    return the physically rewritten survivors — both halves of the
    Iceberg-v2 delete story in one row, hash-matched to the plain SQL
    anti-filter."""
    import re as _re
    import shutil as _sh

    from tstore_spark.model.tslong import TSLong
    from tstore_spark.sources.archive import open_archive, write_archive
    from tstore_spark.sources.deletion_vectors import (
        delete_where_dv,
        purge_deletes,
        read_with_deletes,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    tl = TSLong.wrap(
        ev, id_var="event_id", time_var="ts", ts_vars={"metrics": ["event_type", "value"]}
    )
    base = "/tmp/tstore_spark_dv_rt_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    _sh.rmtree(base, ignore_errors=True)
    write_archive(tl, base, num_buckets=2, check_static_uniqueness=False)
    summary = delete_where_dv(spark, base, F.col("event_type") == "error")
    if summary["rows_deleted"] == 0:
        raise RuntimeError("delete_where_dv unexpectedly matched nothing")
    mor_errors = read_with_deletes(spark, base).where(F.col("event_type") == "error").count()
    if mor_errors != 0:
        raise RuntimeError("merge-on-read scan leaked tombstoned rows")
    purge_deletes(spark, base)
    back = open_archive(spark, base, with_attributes=False)
    return back.df.select(
        F.col("event_id").cast("long").alias("event_id"), "ts", "event_type", "value"
    )


def _q_snapshot_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data feed between versions: archive events, pin v1, MERGE a
    batch (value restatements for event_id % 10 == 3, brand-new ids for
    % 97 == 0), pin v2, then diff v1 -> v2. The feed must contain exactly
    the batch as inserts plus the updated keys' OLD rows as deletes —
    which the oracle states in plain SQL."""
    import re as _re
    import shutil as _sh

    from tstore_spark.model.tslong import TSLong
    from tstore_spark.sources.archive import write_archive
    from tstore_spark.sources.merge import merge_upsert
    from tstore_spark.sources.snapshots import snapshot_commit, snapshot_diff

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    tl = TSLong.wrap(ev, id_var="event_id", time_var="ts", ts_vars={"metrics": ["value"]})
    base = "/tmp/tstore_spark_cdc_rt_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    _sh.rmtree(base, ignore_errors=True)
    write_archive(tl, base, num_buckets=2, check_static_uniqueness=False)
    v1 = snapshot_commit(base)
    batch = (
        ev.where(F.col("event_id") % 10 == 3)
        .select("event_id", "ts", (F.col("value") + 1000.0).alias("value"))
        .unionByName(
            ev.where(F.col("event_id") % 97 == 0).select(
                (F.col("event_id") + 10_000_000).alias("event_id"),
                "ts",
                (F.col("value") * 2.0).alias("value"),
            )
        )
    )
    merge_upsert(spark, base, batch)
    v2 = snapshot_commit(base)
    diff = snapshot_diff(spark, base, v1, v2)
    return diff.select(
        F.col("event_id").cast("long").alias("event_id"), "ts", "value", "_change"
    )


def _q_tslong_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tstore_spark.model.tslong import TSLong

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    tl = TSLong.wrap(ev, id_var="user_id", time_var="ts", ts_vars={"metrics": ["value"]})
    nested = tl.to_tsdf()
    back = TSLong.from_tsdf(nested, id_var="user_id", ts_vars={"metrics": ["value"]}, time_var="ts")
    return back.df.select(F.col("user_id").cast("long").alias("user_id"), "ts", "value")


def _q_resample_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-interval tumbling resample (15 min grid) via wall-clock
    epoch floor — the ad-hoc-grid complement of the fixed 1m/1h/1d tiers."""
    from tstore_spark.operators.resample import resample

    return resample(_t(spark, sf_dir, "events"), 900)


def _q_sliding_1h_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping windows: 1h width sliding every 15 min — each event explodes
    into exactly its 4 covering windows (literal offset array, JVM-side)."""
    from tstore_spark.operators.resample import sliding_agg

    return sliding_agg(_t(spark, sf_dir, "events"), 3600, 900)


def _q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution round-trip: archive the first half of events with
    (value), append the second half carrying a NEW variable value2 = 2*value,
    and read the union back via the metadata schema (old files null-fill
    value2 at scan, no rewrite, no mergeSchema sweep). Oracle = the same
    union in SQL."""
    import re as _re
    import shutil as _sh

    from tstore_spark.model.tslong import TSLong
    from tstore_spark.sources.archive import append_archive, open_archive, write_archive

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    v1 = ev.where(F.col("event_id") % 2 == 0)
    v2 = ev.where(F.col("event_id") % 2 == 1).withColumn("value2", F.col("value") * 2.0)
    base = "/tmp/tstore_spark_evo_rt_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    _sh.rmtree(base, ignore_errors=True)
    write_archive(
        TSLong.wrap(v1, id_var="event_id", time_var="ts", ts_vars={"m": ["value"]}),
        base, num_buckets=2, check_static_uniqueness=False,
    )
    append_archive(
        TSLong.wrap(v2, id_var="event_id", time_var="ts", ts_vars={"m": ["value", "value2"]}),
        base,
    )
    back = open_archive(spark, base, with_attributes=False)
    return back.df.select(
        F.col("event_id").cast("long").alias("event_id"), "ts", "value", "value2"
    )


def _q_realtime_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time continuous aggregate: the 1h tier is materialized only up to
    a mid-stream watermark (not window-aligned); the view serves frozen
    complete windows from the tier and re-rolls the raw tail (including the
    partial boundary window) on the fly. Oracle = full from-raw recompute —
    the union must hash-match a complete rebuild."""
    from tstore_spark.operators.metric_rollup import metric_rollup_from_raw, realtime_view

    ev = _t(spark, sf_dir, "events")
    cutoff = "2024-01-15 11:30:00"
    state = metric_rollup_from_raw(
        ev.where(time_range_filter("ts", None, cutoff, inclusive="neither", ntz=True)), "1h"
    )
    return finalize(realtime_view(ev, state, "1h", cutoff))


def _q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tstore_spark.operators.behavior import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


_FUNNEL_WITHIN_US = 7 * 24 * 3600 * 1_000_000  # 7 days


def _q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel per user (greedy == chained-min,
    proven by the oracle's chained-min SQL), each later step within 7 days
    of the first view."""
    from tstore_spark.operators.behavior import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"], within_us=_FUNNEL_WITHIN_US)


def _q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (next-page model): exact pair counts from ONE lead window keyed on the
    user plus a window total over the tiny count table; p = one fixed
    long/long division, so the double bits reproduce in DuckDB."""
    from tstore_spark.operators.behavior import transitions

    return transitions(_t(spark, sf_dir, "events"), tiebreak_cols=["event_id"])


def _q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt level+trend per user with a 3-step forecast. Both engines run
    the IDENTICAL fixed-order fold (Spark higher-order aggregate vs DuckDB
    list_reduce, array state, same arithmetic core) — raw double bits
    hash-match, no rounding."""
    from tstore_spark.operators.forecast import holt_fit

    return holt_fit(
        _t(spark, sf_dir, "events"), "user_id", "ts", "value",
        alpha="0.5", beta="0.3", horizon=3, tiebreak_cols=["event_id"],
    )


def _holt_oracle() -> str:
    from tstore_spark.operators.forecast import holt_oracle_sql

    return holt_oracle_sql(
        "events", "user_id", "ts", "value",
        alpha="0.5", beta="0.3", horizon=3, tiebreak_cols=["event_id"],
    )


def _q_term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level term co-occurrence (corpus.py term_cooccurrence):
    exact pair counts from the per-doc postings self-join, token document
    frequencies and corpus size riding each row so PMI is one expression
    away (PMI itself is ln-based and pytest-gated — the BM25 rule).
    Oracle replays the identical tokenize/distinct/self-join in SQL."""
    from tstore_spark.operators.corpus import term_cooccurrence

    d = _t(spark, sf_dir, "documents")
    return term_cooccurrence(d, min_pair_count=5)


def _q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of each event type's hourly series
    (robust.py theil_sen): slope = exact interpolated median of all
    pairwise slopes over trend_fit's integer discretization, rounded 4dp
    (the module's engine-identical percentile discipline); intercept =
    median residual. Oracle replays the identical pair join, fixed slope
    expression, and quantile_cont in SQL."""
    from tstore_spark.operators.robust import theil_sen

    ev = _t(spark, sf_dir, "events")
    ser = ev.groupBy(
        F.col("event_type").alias("k"),
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("t"),
    ).agg(
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("v")
    )
    out = theil_sen(ser, "k", "t", "v", anchor="2024-01-01")
    return out.withColumnRenamed("key", "event_type")


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (corpus.py chunk_documents): 64-token chunks
    with 16-token overlap, starts on a generated arithmetic sequence whose
    bound guarantees total coverage with no fully-contained trailing
    chunk. Pure Catalyst, zero shuffle. Oracle replays the identical
    integer bound and slicing in SQL — exact string equality."""
    from tstore_spark.operators.corpus import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_tokens=64, overlap_tokens=16)


def _q_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat/staleness profile of each event type's 1-minute grid
    (operators/coverage.py gap_profile): exact integer window floors
    (sign-safe pmod), missing-window and longest-gap accounting over the
    DEDUPED window-grain series, staleness vs a fixed as_of instant.
    Oracle replays the same floor/lag/greatest arithmetic in SQL."""
    from tstore_spark.operators.coverage import gap_profile

    ev = _t(spark, sf_dir, "events")
    out = gap_profile(ev, "event_type", "ts", 60,
                      as_of="2024-06-01 00:00:00", max_age_seconds=3600)
    return out.withColumnRenamed("key", "event_type")


_HW_SERIES_SQL = (
    "(SELECT event_type AS k, date_trunc('hour', ts) AS t, "
    "CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS v "
    "FROM events GROUP BY 1, 2)"
)


def _q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive seasonal forecast of each event type's hourly
    value series (hour-of-day period 24, one day ahead). Both engines run
    the IDENTICAL fixed-order fold over [level, trend, s_0..s_23] array
    state — raw double bits hash-match (the holt_forecast discipline,
    plus a generated-index seasonal-slot rebuild both engines share)."""
    from tstore_spark.operators.forecast import holt_winters_fit

    ev = _t(spark, sf_dir, "events")
    ser = ev.groupBy(
        F.col("event_type").alias("k"),
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("t"),
    ).agg(
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("v")
    )
    out = holt_winters_fit(ser, "k", "t", "v", period=24, horizon=24)
    return out.select(
        F.col("k").alias("event_type"),
        "n_points", "level", "trend", "season", "forecast",
    )


def _holt_winters_oracle() -> str:
    from tstore_spark.operators.forecast import holt_winters_oracle_sql

    return holt_winters_oracle_sql(
        _HW_SERIES_SQL, "k", "t", "v", period=24, horizon=24,
        key_alias="event_type",
    )


def _q_sax_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of each user's value series (word_len=8,
    alphabet=4): exact integer PAA state + one fixed z derivation, so the
    letters — breakpoint comparisons on reproducible double bits — match
    DuckDB exactly."""
    from tstore_spark.operators.sax import sax_words

    return sax_words(
        _t(spark, sf_dir, "events"), "user_id", "ts", "value",
        word_len=8, alphabet_size=4, tiebreak_cols=["event_id"],
    )


def _sax_words_oracle() -> str:
    from tstore_spark.operators.sax import sax_oracle_exprs

    ex = sax_oracle_exprs(word_len=8, alphabet_size=4)
    return f"""
        WITH b AS (
            SELECT user_id,
                   CAST(round(value * 100) AS BIGINT) AS c,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
                       AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                       OVER (PARTITION BY user_id) AS BIGINT) AS _s,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)
                            * CAST(round(value * 100) AS BIGINT))
                       OVER (PARTITION BY user_id) AS BIGINT) AS _ss
            FROM events),
        paa AS (
            SELECT user_id, {ex['seg']} AS segment,
                   CAST(sum(c) AS BIGINT) AS seg_sum,
                   count(*) AS seg_n,
                   max(n) AS n_points, max(_s) AS _s, max(_ss) AS _ss
            FROM b GROUP BY 1, 2),
        sym AS (
            SELECT user_id, segment, n_points, {ex['symbol']} AS symbol FROM paa)
        SELECT user_id,
               CAST(max(n_points) AS BIGINT) AS n_points,
               CASE WHEN count(*) = count(symbol)
                    THEN string_agg(symbol, '' ORDER BY segment) END AS sax_word
        FROM sym GROUP BY user_id
    """


def _q_hll_union_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch mergeability through the gate: per-day HLL sketches
    (``hll_sketch_agg``) merged to a per-type total (``hll_union_agg``) must
    estimate within 2% of the exact distinct count — i.e. merging daily
    sketches is as good as sketching the raw stream (their
    ``sketches.hll_estimate`` values are equal)."""
    from tstore_spark.operators.sketches import hll_estimate

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = ev.groupBy("event_type", "day").agg(F.hll_sketch_agg("user_id").alias("hll"))
    merged = daily.groupBy("event_type").agg(
        hll_estimate(F.hll_union_agg("hll")).alias("distinct_est")
    )
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("user_distinct"))
    within = (
        F.abs(F.col("distinct_est") - F.col("user_distinct")) <= 0.02 * F.col("user_distinct")
    )
    return merged.join(exact, "event_type").select(
        "event_type", "user_distinct", within.alias("merged_within_2pct")
    )


def _q_top_days_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped top-k: the 3 highest-revenue days per event_type via a
    rank window over the daily pre-aggregate — the shuffle carries one row
    per (type, day), never raw events, and ties break on the day for
    determinism."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(_cents("value")).alias("day_cents"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("day_cents"), F.asc("day"))
    return (
        daily.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("event_type", "day", "day_cents", F.col("rnk").cast("int").alias("rnk"))
    )


_RANGE_T0, _RANGE_T1 = "2024-01-03 00:07:00", "2024-01-27 19:54:00"


def _q_range_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered range read: an arbitrary minute-aligned [t0, t1) aggregate
    answered from the MINIMAL tile cover (1d interior, 1h day-edges, 1m
    hour-edges) by merging the tiers' mergeable state — never re-scanning
    raw for the interior. Oracle recomputes the same range directly from
    raw; equality proves the cover partitions the range exactly."""
    from tstore_spark.operators.metric_rollup import metric_rollup_all_tiers
    from tstore_spark.operators.tierselect import range_aggregate

    ev = _t(spark, sf_dir, "events")
    tiers = metric_rollup_all_tiers(ev)
    return finalize(range_aggregate(tiers, _RANGE_T0, _RANGE_T1))


def _md5_h32(col, seed: int):
    """First 32 bits of md5(id || ':' || seed) as a long — the engine-
    portable digest idiom (sampling.hash_uniform's numerator)."""
    return F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit(f":{seed}"))), 1, 8),
        16, 10,
    ).cast("long")


def _q_attribution_credits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution (operators/behavior.py
    attribute_conversions): click/view touches credited for each purchase
    within a 3-day lookback, exact integer cents via largest-remainder —
    credits sum to the conversion value per conversion at any
    parallelism. One user-key equi-join + two windows per conversion.
    Oracle replays the identical join, total order, and integer split."""
    from tstore_spark.operators.behavior import attribute_conversions

    ev = _t(spark, sf_dir, "events")
    touches = ev.where(F.col("event_type").isin("click", "view"))
    convs = ev.where(F.col("event_type") == "purchase").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    out = attribute_conversions(
        touches, convs, "linear",
        lookback_us=3 * 86_400 * 1_000_000,
        value_cents_col="cents",
    )
    return out.withColumnRenamed("id", "user_id")


def _q_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour top-3 event types by exact cents (operators/olap.py
    windowed_topk): map-side-combined (window, key) partials, then the
    rank cut plans as WindowGroupLimit so the second exchange carries at
    most k rows per window per map partition. Oracle replays the
    identical total order."""
    from tstore_spark.operators.olap import windowed_topk

    ev = _t(spark, sf_dir, "events")
    return windowed_topk(
        ev, "ts", "event_type", k=3, width="1 hour",
        weight_cents=F.round(F.col("value") * 100).cast("long"),
    )


def _q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter linkage scoring (operators/dedup.py fellegi_sunter)
    over deterministic candidate pairs (each doc vs +1 and +97): null-safe
    per-field agreement on (lang, source, n_chars-band), integer
    milli-log-odds fold, three-way decision. Oracle replays the identical
    joins and CASE fold — all integers and booleans."""
    from tstore_spark.operators.dedup import fellegi_sunter

    docs = _t(spark, sf_dir, "documents")
    recs = docs.select(
        "doc_id", "lang", "source", F.expr("n_chars div 100").alias("band")
    )
    base = docs.select(F.col("doc_id").alias("id_a"))
    pairs = base.select("id_a", (F.col("id_a") + 1).alias("id_b")).unionByName(
        base.select("id_a", (F.col("id_a") + 97).alias("id_b"))
    )
    fw = {"lang": (1500, -800), "source": (700, -400), "band": (900, -300)}
    return fellegi_sunter(pairs, recs, fw, upper_milli=2000, lower_milli=-900)


def _q_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder profile (operators/coverage.py
    out_of_order_profile): replaying events in event_id (arrival) order,
    how late does event time arrive per type — max_lateness_us IS the
    minimal lossless watermark. Exact integer lateness via one ordered
    window; oracle replays the identical running-max arithmetic."""
    from tstore_spark.operators.coverage import out_of_order_profile

    ev = _t(spark, sf_dir, "events")
    return out_of_order_profile(ev, "event_type", "event_id", "ts").withColumnRenamed(
        "key", "event_type"
    )


def _q_swinging_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-bounded lossy compression (operators/downsample.py
    swinging_door + sdt_bound_check): per-type minute-cents series
    compressed under a hard ±2000-cent reconstruction bound, verified by
    the EXACT integer cross-multiplication audit (no float interpolation
    at the boundary). n_raw is SQL-exact; the greedy keep-set itself is
    sequential per key (not SQL-expressible), so the oracle asserts the
    bound/compression invariants TRUE — the ann_lsh pattern."""
    from tstore_spark.operators.downsample import sdt_bound_check, swinging_door

    ev = _t(spark, sf_dir, "events")
    ser = ev.groupBy(
        F.col("event_type").alias("key"),
        F.date_trunc("minute", "ts").cast("timestamp_ntz").alias("ts"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    kept = swinging_door(ser, "key", "ts", "cents", epsilon_cents=2000)
    chk = sdt_bound_check(ser, kept, epsilon_cents=2000)
    return chk.select(
        F.col("key").alias("event_type"),
        "n_raw",
        "within_bound",
        (F.col("n_kept") < F.col("n_raw")).alias("compressed"),
    )


def _q_sq8_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization + integer-dot candidate search
    (operators/similarity.py sq8_*): exact per-dim min/max bounds, floor
    codes (floor is cross-engine exact where round's half-tie rule is
    not), CENTERED integer dot top-10 for 5 probes — every emitted value
    is an exact integer, so the whole approximate-ANN candidate stage is
    hash-checked against plain SQL (rare for an ANN path; the float
    arithmetic lives only inside the code derivation, with identical op
    order and double casts both sides)."""
    from tstore_spark.operators.similarity import (
        sq8_bounds,
        sq8_quantize,
        sq8_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    codes = sq8_quantize(emb, sq8_bounds(emb))
    probes = codes.where(F.col("vec_id") < 5)
    return sq8_topk(codes, probes, k=10)


def _q_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top paths to conversion (operators/behavior.py conversion_paths):
    each purchase's last 3 click/view touch types within 1 day, folded
    oldest→newest over the (ts, event_id) total order; conversions with
    no eligible touch count under the '' direct bucket. Oracle replays
    the identical window + ordered string_agg."""
    from tstore_spark.operators.behavior import conversion_paths

    ev = _t(spark, sf_dir, "events")
    touches = ev.where(F.col("event_type").isin("click", "view"))
    convs = ev.where(F.col("event_type") == "purchase")
    return conversion_paths(
        touches, convs, steps=3, lookback_us=86_400 * 1_000_000
    )


def _q_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen per event type (operators/profile.py
    benford_profile): digit from the cents-integer's decimal STRING (never
    log10 — engine-defined at power-of-ten boundaries), exact digit
    counts, chi2 as one fixed fold over shared double literals. Oracle
    replays the identical string digits and the generated chi2 twin."""
    from tstore_spark.operators.profile import benford_profile

    ev = _t(spark, sf_dir, "events")
    return benford_profile(
        ev, ["event_type"], F.round(F.col("value") * 100).cast("long")
    )


def _q_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall neighborhood function + harmonic centrality
    (operators/graph.py hyperball): one built-in HLL sketch per node,
    union-merged along edges — constant state per node, the billion-node
    path the exact pair table cannot walk. Gate emits the EXACT t-ball sizes
    (neighborhood_exact, hash-checked vs a recursive reachability CTE) with
    the HLL estimates asserted inside a 25%+0.5 relative bound per node
    (``sketches.hll_estimate`` is layout-independent, so the bound is
    stable — the hll_distinct_users pattern)."""
    from tstore_spark.operators.graph import hyperball, neighborhood_exact

    edges = _planted_graph(_t(spark, sf_dir, "documents"))
    exact = neighborhood_exact(edges, 3)
    hb = hyperball(edges, t_max=3, p=12)
    j = exact.join(
        hb.select(
            "id",
            *[F.col(f"ball_{t}").alias(f"est_{t}") for t in range(1, 4)],
            "harmonic_est",
        ),
        "id",
    )
    harm = (
        (F.col("ball_1") - F.col("ball_0")) / F.lit(1.0)
        + (F.col("ball_2") - F.col("ball_1")) / F.lit(2.0)
        + (F.col("ball_3") - F.col("ball_2")) / F.lit(3.0)
    )
    within = F.lit(True)
    for t in range(1, 4):
        within = within & (
            F.abs(F.col(f"est_{t}") - F.col(f"ball_{t}"))
            <= F.lit(0.25) * F.col(f"ball_{t}") + F.lit(0.5)
        )
    within = within & (
        F.abs(F.col("harmonic_est") - harm) <= F.lit(0.15) * harm + F.lit(1e-9)
    )
    return j.select(
        "id", "ball_1", "ball_2", "ball_3",
        harm.alias("harmonic_exact"),
        within.alias("est_within"),
    )


def _q_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier reliability diagram (operators/classify.py
    calibration_report): equal-width probability buckets with EXACT integer
    n / n_pos / conf_micros per bucket; accuracy/confidence/gap are single
    fixed divisions over them. Probabilities are exact 6-decimal md5
    rationals (h % 1e6 / 1e6 — never round() on a near-tie double) and
    labels are drawn with an independent variate below the probability, so
    the curve is calibrated by construction. Oracle replays the identical
    md5 arithmetic and bucket algebra."""
    from tstore_spark.operators.classify import calibration_report

    docs = _t(spark, sf_dir, "documents")
    h1 = _md5_h32(F.col("doc_id"), 42) % 1_000_000
    h2 = _md5_h32(F.col("doc_id"), 43) % 1_000_000
    scored = docs.select(
        (h1 / F.lit(1_000_000.0)).alias("prob"),
        (h2 < h1).cast("int").alias("label"),
    )
    return calibration_report(scored, "prob", "label")


def _q_priority_sample_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Duffield-Lund-Thorup priority sampling
    (sampling.priority_sample_per_group): budget of 20 events per event
    type, md5 variate priorities, per-group tau, Horvitz-Thompson est_w.
    The rank filter plans as WindowGroupLimit (per-partition heaps before
    the one group Exchange; plan-audited). Oracle replays the identical
    priorities and tau in SQL — doubles match bit-for-bit (one division,
    one GREATEST, same op order)."""
    from tstore_spark.operators.sampling import priority_sample_per_group

    ev = _t(spark, sf_dir, "events")
    return priority_sample_per_group(
        ev, "event_type", "event_id", "value", k=20
    )


def _q_stream_histogram_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus le-bucket counters through the fully-streaming 1m->1h
    cascade (streaming/stream_rollup.py stream_rollup_cascade_lebuckets):
    cumulative bucket counters are plain integer sums, so they chain
    through the stateful stages like doc_count — one state row per
    (key, window). Closed hours match the batch counters exactly and the
    PromQL quantile CASE over them hash-matches bit-for-bit (same
    integers, same op order). Same replay harness as stream_cascade_1h."""
    import re as _re
    import shutil as _sh

    from tstore_spark.functions.timeparts import ntz_epoch_seconds
    from tstore_spark.operators.promhist import quantile_expr
    from tstore_spark.streaming.stream_rollup import (
        read_pages_stream,
        stream_rollup_cascade_lebuckets,
        write_stream_tier,
    )

    base = "/tmp/tstore_spark_sh_" + _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    _sh.rmtree(base, ignore_errors=True)
    src = _t(spark, sf_dir, "events").select(
        F.timestamp_seconds(ntz_epoch_seconds("ts")).alias("ts"),
        F.col("event_type").alias("etype"),
        F.encode(F.col("event_id").cast("string"), "utf-8").alias("html"),
        F.col("value"),
    )
    src.repartition(4).write.parquet(f"{base}/src")
    stream = read_pages_stream(spark, f"{base}/src", src.schema)
    tier = stream_rollup_cascade_lebuckets(
        stream, _PH_BOUNDS, ("1m", "1h"), watermark="0 seconds",
        key_col=F.col("etype"), time_col="ts", value_col="value",
    )
    q = write_stream_tier(tier, f"{base}/tier1h", f"{base}/ckpt")
    if not q.awaitTermination(900):  # partial-sink guard (see stream_gap_fill)
        q.stop()
        raise RuntimeError("streaming gate: query still active after 900s")
    return (
        spark.read.parquet(f"{base}/tier1h")
        .select(
            F.col("domain").alias("event_type"),
            F.expr(
                "timestampadd(SECOND, unix_seconds(window_start),"
                " to_timestamp_ntz('1970-01-01'))"
            ).alias("window_start"),
            "doc_count",
            "bytes_total",
            *[f"le_{i}" for i in range(len(_PH_BOUNDS))],
            "n_total",
            *[
                quantile_expr(qq, _PH_BOUNDS).alias("q_" + str(qq).replace(".", "_"))
                for qq in _PH_QS
            ],
        )
    )


def _q_dsir_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling feature algebra (operators/dsir.py):
    per-doc unigram+bigram counts joined against the target (doc_id % 7
    = 0) and raw feature distributions — the exact-INTEGER core the log
    weight folds over (ln() is engine-defined; the double weight is
    pytest-gated vs a straight-line reference, the lm.py discipline).
    Oracle rebuilds features and both distributions in SQL."""
    from tstore_spark.operators.dsir import dsir_features, feature_distribution

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("doc_id") % 7 == 0)
    fd = dsir_features(docs)
    ft = feature_distribution(target, count_col="ct")
    fr = feature_distribution(docs, count_col="cr")
    per_doc = (
        fd.join(ft, "feat", "left")
        .join(fr, "feat")  # raw covers every doc feature: inner is exact
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("f").alias("n_grams"),
            F.sum(F.col("f") * F.coalesce("ct", F.lit(0))).alias("dot_target"),
            F.sum(F.col("f") * F.col("cr")).alias("dot_raw"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("dot_target", F.lit(0)).alias("dot_target"),
            F.coalesce("dot_raw", F.lit(0)).alias("dot_raw"),
        )
    )


def _iv_frames(spark: SparkSession, sf_dir: str):
    """Deterministic interval tables derived from events: every event opens
    an interval of (event_id % 900) + 60 seconds (errors: % 300 + 30),
    keyed by user. timestampadd on NTZ is wall-clock-safe (CLAUDE.md)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.where(F.col("event_type") != "error").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("s"),
        F.expr(
            "timestampadd(SECOND, CAST(event_id % 900 + 60 AS INT), ts)"
        ).alias("e"),
    )
    sub = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("s"),
        F.expr(
            "timestampadd(SECOND, CAST(event_id % 300 + 30 AS INT), ts)"
        ).alias("e"),
    )
    return base, sub


def _q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged maximal islands of per-user activity intervals
    (operators/coverage.py interval_union): gaps-and-islands on exact
    integer epoch micros, island bounds as original NTZ timestamps (no
    epoch->timestamp reconstruction). Oracle replays the identical
    running-max island flagging in SQL."""
    from tstore_spark.operators.coverage import interval_union

    base, _ = _iv_frames(spark, sf_dir)
    return interval_union(base, "k", "s", "e").withColumnRenamed("key", "user_id")


def _q_interval_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity minus error-cover (operators/coverage.py
    interval_difference): ONE two-counter boundary sweep — linear in
    boundaries, never the quadratic overlap join — with [start, end)
    touch-exact semantics and maximal merged parts. Oracle replays the
    identical sweep (collapse deltas per position, two running sums,
    keep, merge)."""
    from tstore_spark.operators.coverage import interval_difference

    base, sub = _iv_frames(spark, sf_dir)
    return interval_difference(base, sub, "k", "s", "e").withColumnRenamed(
        "key", "user_id"
    )


_PH_BOUNDS = [1.0, 2.0, 5.0, 10.0, 20.0, 50.0]
_PH_QS = [0.5, 0.9, 0.99]


def _q_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus le-bucket histogram per event type
    (operators/promhist.py): cumulative integer counters per fixed bound
    (one map-side-combined groupBy; the mergeable monitoring-histogram
    state) plus PromQL histogram_quantile interpolation as a literal CASE
    chain. The oracle replays the identical counter sums and the identical
    interpolation op order — doubles hash-match bit-for-bit (only
    +,-,*,/ on IEEE doubles; no transcendentals)."""
    from tstore_spark.operators.promhist import le_bucket_counts, quantile_expr

    ev = _t(spark, sf_dir, "events")
    bc = le_bucket_counts(ev, ["event_type"], "value", _PH_BOUNDS)
    return bc.select(
        "event_type",
        *[f"le_{i}" for i in range(len(_PH_BOUNDS))],
        "n_total",
        *[
            quantile_expr(q, _PH_BOUNDS).alias("q_" + str(q).replace(".", "_"))
            for q in _PH_QS
        ],
    )


def _rotate_unchecked_first(
    base: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Auto-rotate the gate order: entries no CORRECTNESS_r*.json (in this
    repo checkout) has ever oracle-checked come FIRST, in their source
    order, so the driver's fixed-size sample always lands on never-checked
    tail instead of re-checking the same head every round. Deterministic
    per checkout; any read problem falls back to source order."""
    try:
        import glob as _glob
        import json as _json
        import os as _os

        here = _os.path.dirname(_os.path.abspath(__file__))
        checked: set[str] = set()
        for f in sorted(_glob.glob(_os.path.join(here, "CORRECTNESS_r*.json"))):
            with open(f) as fh:
                checked |= set(_json.load(fh))
        unchecked = {k: v for k, v in base.items() if k not in checked}
        done = {k: v for k, v in base.items() if k in checked}
        return unchecked | done
    except Exception:
        return base


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _rotate_unchecked_first({
        # Source order kept from rounds 1-4 (the round-4 manual rotation);
        # _rotate_unchecked_first re-sorts per the CORRECTNESS history at
        # import, so future rounds rotate with zero manual effort.
        "stream_gap_fill_1h": _q_stream_gap_fill_1h,
        "span_scrub": _q_span_scrub,
        "skew_profile": _q_skew_profile,
        "m4_downsample": _q_m4_downsample,
        "heatmap_downsample": _q_heatmap,
        "kmeans_clusters": _q_kmeans_clusters,
        "stream_upsert_apply": _q_stream_upsert_apply,
        "bloom_index_scan": _q_bloom_index_scan,
        "more_like_this": _q_more_like_this,
        "dtw_similarity": _q_dtw_similarity,
        "stream_cascade_hll": _q_stream_cascade_hll,
        "stream_cascade_dd": _q_stream_cascade_dd,
        "stream_click_attribution": _q_stream_click_attribution,
        "text_search": _q_text_search,
        "term_stats": _q_term_stats,
        "doc_keywords": _q_doc_keywords,
        "paragraph_dedup": _q_paragraph_dedup,
        "salted_join": _q_salted_join,
        "kmv_churned_users": _q_kmv_churned_users,
        "hilbert_key": _q_hilbert_key,
        "epoch_shuffle": _q_epoch_shuffle,
        "crawl_schedule": _q_crawl_schedule,
        "classifier_score": _q_classifier_score,
        "semantic_decontam": _q_semantic_decontam,
        "postings_roundtrip": _q_postings_roundtrip,
        "postings_blocks": _q_postings_blocks,
        "phrase_search": _q_phrase_search,
        "sessionize_events": _q_sessionize_events,
        "profile_events": _q_profile_events,
        "value_histogram": _q_value_histogram,
        "proximity_search": _q_proximity_search,
        "series_corr": _q_series_corr,
        "lead_lag_corr": _q_lead_lag_corr,
        "trend_fit": _q_trend_fit,
        "acf_lags": _q_acf,
        "seasonal_profile": _q_seasonal_profile,
        "cusum_drift": _q_cusum_drift,
        "changepoint_split": _q_changepoint_split,
        "seasonal_baseline": _q_seasonal_baseline,
        "prefix_jaccard": _q_prefix_jaccard,
        "cube_doc_stats": _q_cube_doc_stats,
        "ccf_sweep": _q_ccf_sweep,
        "seasonal_score": _q_seasonal_score,
        "lang_drift": _q_lang_drift,
        "value_drift": _q_value_drift,
        "interval_coverage": _q_interval_coverage,
        "snapshot_time_travel": _q_snapshot_time_travel,
        "snapshot_cdc": _q_snapshot_cdc,
        "delete_where_roundtrip": _q_delete_where,
        "delete_vectors_roundtrip": _q_delete_vectors,
        "warc_ingest": _q_warc_ingest,
        "robots_filter": _q_robots_filter,
        "sitemap_urls": _q_sitemap_urls,
        "recrawl_schedule": _q_recrawl_schedule,
        "cdx_latest": _q_cdx_latest,
        "redirect_resolution": _q_redirect_resolution,
        "readability": _q_readability,
        "expectations_report": _q_expectations_report,
        "quarantine_split": _q_quarantine,
        "geo_bbox": _q_geo_bbox,
        "corpus_filter": _q_corpus_filter,
        "rollup_1h_ddsketch": _q_rollup_dd,
        "doc_repetition": _q_doc_repetition,
        "media_frames": _q_media_frames,
        "winnowing_fps": _q_winnowing,
        "sessions_batch": _q_sessions_batch,
        "train_eval_split": _q_train_eval_split,
        "token_packing": _q_token_packing,
        "decontaminate": _q_decontaminate,
        "mixture_sample": _q_mixture_sample,
        "weighted_sample": _q_weighted_sample,
        "upsample_mixture": _q_upsample_mixture,
        "priority_sample": _q_priority_sample,
        "stratified_sample": _q_stratified_sample,
        "boilerplate_lines": _q_boilerplate_lines,
        "pii_redaction": _q_pii_redaction,
        "realtime_rollup_1h": _q_realtime_rollup,
        "retention_cohorts": _q_retention_cohorts,
        "funnel_steps": _q_funnel_steps,
        "event_transitions": _q_event_transitions,
        "sax_words": _q_sax_words,
        "holt_forecast": _q_holt_forecast,
        "holt_winters_forecast": _q_holt_winters,
        "gap_profile": _q_gap_profile,
        "chunk_documents": _q_chunk_documents,
        "theil_sen_trend": _q_theil_sen,
        "term_cooccurrence": _q_term_cooccurrence,
        "hll_union_daily": _q_hll_union_daily,
        "range_aggregate": _q_range_aggregate,
        "top_days_per_type": _q_top_days_per_type,
        "asof_join_forward": _q_asof_forward,
        "asof_join_nearest": _q_asof_nearest,
        "schema_evolution_roundtrip": _q_schema_evolution,
        "resample_15m": _q_resample_15m,
        "sliding_1h_15m": _q_sliding_1h_15m,
        "histogram_quantile": _q_histogram_quantile,
        "interval_union": _q_interval_union,
        "interval_difference": _q_interval_difference,
        "dsir_features": _q_dsir_features,
        "stream_histogram_1h": _q_stream_histogram_1h,
        "priority_sample_groups": _q_priority_sample_groups,
        "calibration_report": _q_calibration_report,
        "hyperball_centrality": _q_hyperball,
        "benford_profile": _q_benford_profile,
        "attribution_credits": _q_attribution_credits,
        "clustering_coefficients": _q_clustering_coefficients,
        "conversion_paths": _q_conversion_paths,
        "sq8_ann": _q_sq8_ann,
        "swinging_door": _q_swinging_door,
        "out_of_order_profile": _q_out_of_order,
        "record_linkage": _q_record_linkage,
        "windowed_topk": _q_windowed_topk,
        # --- driver-green in rounds 1-3 ---
        "q1_pricing_summary": _q1_pricing,
        "q3_top_orders": _q3_top_orders,
        "top_users_by_value": _q_top_users,
        "pivot_event_counts": _q_pivot,
        "distinct_event_types": _q_distinct_types,
        "cube_rollup": _q_cube_rollup,
        "time_filter_left": _q_time_filter,
        "customer_nation_join": _q_nation_join,
        "user_event_gaps": _q_user_gaps,
        "rollup_1m": _q_rollup("1m"),
        "rollup_1h": _q_rollup("1h"),
        "rollup_1d": _q_rollup("1d"),
        "gap_fill_1h": _q_gap_fill_1h,
        "incremental_refresh": _q_incremental_refresh,
        "gorilla_roundtrip": _q_gorilla,
        "salted_agg_events": _q_salted_agg,
        "dedup_exact": _q_dedup_exact,
        "doc_stats": _q_doc_stats,
        "token_jaccard_pairs": _q_token_jaccard,
        "url_canonicalize": _q_url_canonicalize,
        "url_templates": _q_url_templates,
        "sorted_neighborhood": _q_sorted_neighborhood,
        "edit_distance_pairs": _q_edit_distance,
        "link_degrees": _q_link_degrees,
        "pagerank_hosts": _q_pagerank_hosts,
        "hits_hosts": _q_hits_hosts,
        "k_core_hosts": _q_k_core,
        "lpa_communities": _q_lpa_communities,
        "bfs_depth": _q_bfs_depth,
        "triangle_counts": _q_triangle_counts,
        "scc_hosts": _q_scc_hosts,
        "cocitation_pairs": _q_cocitation_pairs,
        "burst_windows": _q_burst_windows,
        "trustrank_hosts": _q_trustrank_hosts,
        "kmv_returning_users": _q_kmv_returning_users,
        "lm_bigram_counts": _q_lm_bigram_counts,
        "bpe_merges": _q_bpe_merges,
        "bpe_roundtrip": _q_bpe_roundtrip,
        "unicode_nfc": _q_unicode_nfc,
        "json_flatten": _q_json_flatten,
        "blocklist_hits": _q_blocklist_hits,
        "domain_blocklist": _q_domain_blocklist,
        "scd2_versions": _q_scd2_versions,
        "crawl_diff": _q_crawl_diff,
        "geo_polygon": _q_geo_polygon,
        "anchor_terms": _q_anchor_terms,
        "mad_outliers": _q_mad_outliers,
        "winsorized_daily": _q_winsorized_daily,
        "rrf_fusion": _q_rrf_fusion,
        "containment_pairs": _q_containment,
        "duplicate_spans": _q_duplicate_spans,
        "html_extract": _q_html_extract,
        "lttb_downsample": _q_lttb,
        "top_ngrams": _q_top_ngrams,
        "cms_heavy_hitters": _q_cms_heavy_hitters,
        "bloom_new_docs": _q_bloom_new_docs,
        "time_weighted_avg": _q_time_weighted_avg,
        "counter_rate": _q_counter_rate,
        "rolling_stats": _q_rolling_stats,
        "rolling_zscore": _q_rolling_zscore,
        "ohlc_1h": _q_ohlc,
        "ewma_events": _q_ewma,
        "interval_join_counts": _q_interval_join,
        "interval_overlap_pairs": _q_interval_overlap,
        "semantic_dedup": _q_semantic_dedup,
        "dedup_clusters": _q_dedup_clusters,
        "minhash_near_dup": _q_minhash,
        "incremental_dedup": _q_incremental_dedup,
        "simhash_near_dup": _q_simhash,
        "binary_meta": _q_binary_meta,
        "media_features": _q_media_features,
        "cosine_topk": _q_cosine_topk,
        "ann_lsh": _q_ann_lsh,
        "embedding_norms": _q_embedding_norms,
        "tslong_roundtrip": _q_tslong_roundtrip,
        "tstore_layout_roundtrip": _q_tstore_layout_roundtrip,
        "compaction_roundtrip": _q_compaction_roundtrip,
        "merge_upsert_roundtrip": _q_merge_upsert_roundtrip,
        "zonemap_scan": _q_zonemap_scan,
        "zorder_scan": _q_zorder_scan,
        "stream_cascade_1h": _q_stream_cascade_1h,
        "asof_join": _q_asof_join,
        "datetime_parts": _q_datetime_parts,
        "tswide_hourly": _q_tswide_hourly,
        "ivf_topk": _q_ivf_topk,
        "hll_distinct_users": _q_hll_users,
        "embedding_near_dup": _q_embedding_near_dup,
    })


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; table views pre-registered)
# ---------------------------------------------------------------------------

_TOKS = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_SW = "['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this','from','be']"
_HITS = f"len(list_filter({_TOKS}, t -> list_contains({_SW}, t)))"
_NTOK = f"(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END)"

# exact shingle-Jaccard pairs via an inverted shingle index (never the n^2
# cross join): explode distinct 3-gram shingles, equi-join on the shingle,
# count intersections per pair, J = inter / (|A| + |B| - inter)
_SHINGLE_PAIRS_ORACLE = r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS l
        FROM documents),
    s AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(l) - 2, 1)),
                   i -> concat_ws(' ', l[i], l[i+1], l[i+2]))) AS sh
        FROM t),
    e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM s),
    c AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
    FROM c
    WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= {thr}
"""

_ROLLUP_ORACLE = """
SELECT event_type,
       CAST(date_trunc('{unit}', ts) AS TIMESTAMP) AS window_start,
       count(*) AS event_count,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS value_sum,
       count(DISTINCT user_id) AS user_distinct,
       round(quantile_cont(value, 0.50), 4) AS value_p50,
       round(quantile_cont(value, 0.90), 4) AS value_p90,
       round(quantile_cont(value, 0.99), 4) AS value_p99
FROM events
GROUP BY 1, 2
"""


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": """
            SELECT o.o_orderkey, o.o_orderdate,
                   CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1995-03-15'
              AND l.l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY o.o_orderkey, o.o_orderdate
            ORDER BY revenue_cents DESC, o.o_orderkey ASC
            LIMIT 10
        """,
        "top_users_by_value": """
            SELECT user_id, count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events GROUP BY user_id
            ORDER BY value_cents DESC, user_id ASC LIMIT 20
        """,
        "pivot_event_counts": """
            SELECT CAST(ts AS DATE) AS day,
                   count(*) FILTER (WHERE event_type = 'click') AS click,
                   count(*) FILTER (WHERE event_type = 'error') AS error,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                   count(*) FILTER (WHERE event_type = 'signup') AS signup,
                   count(*) FILTER (WHERE event_type = 'view') AS view
            FROM events GROUP BY 1
        """,
        "distinct_event_types": "SELECT DISTINCT event_type FROM events",
        "cube_rollup": """
            SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events
            GROUP BY CUBE (event_type, CAST(ts AS DATE))
        """,
        "time_filter_left": """
            SELECT event_type, count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
            GROUP BY event_type
        """,
        "customer_nation_join": """
            SELECT n.n_name, count(*) AS n_customers,
                   CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        """,
        "user_event_gaps": """
            WITH g AS (
                SELECT user_id,
                       epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
                FROM events)
            SELECT user_id, count(gap_us) AS n_gaps,
                   CAST(floor(avg(gap_us) / 1000.0) AS BIGINT) AS avg_gap_ms
            FROM g GROUP BY user_id HAVING count(gap_us) >= 1
        """,
        "rollup_1m": _ROLLUP_ORACLE.format(unit="minute"),
        "rollup_1h": _ROLLUP_ORACLE.format(unit="hour"),
        "rollup_1d": _ROLLUP_ORACLE.format(unit="day"),
        "gorilla_roundtrip": """
            SELECT event_type,
                   CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
                   count(*) AS event_count
            FROM events GROUP BY 1, 2
        """,
        "media_features": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                   CAST(ascii(substr(md5(text), 1, 1)) AS DOUBLE) AS f0,
                   CAST(ascii(substr(md5(text), 2, 1)) AS DOUBLE) AS f1,
                   CAST(ascii(substr(md5(text), 3, 1)) AS DOUBLE) AS f2,
                   CAST(ascii(substr(md5(text), 4, 1)) AS DOUBLE) AS f3,
                   CAST(ascii(substr(md5(text), 5, 1)) AS DOUBLE) AS f4,
                   CAST(ascii(substr(md5(text), 6, 1)) AS DOUBLE) AS f5,
                   CAST(ascii(substr(md5(text), 7, 1)) AS DOUBLE) AS f6,
                   CAST(ascii(substr(md5(text), 8, 1)) AS DOUBLE) AS f7
            FROM documents
        """,
        "hll_distinct_users": """
            SELECT event_type, count(DISTINCT user_id) AS user_distinct,
                   TRUE AS within_2pct
            FROM events GROUP BY event_type
        """,
        "ann_lsh": """
            SELECT vec_id AS query_id, CAST(3 AS INTEGER) AS k, TRUE AS recall_ok
            FROM embeddings WHERE vec_id < 5
        """,
        "ivf_topk": """
            SELECT vec_id AS query_id, CAST(3 AS INTEGER) AS k, TRUE AS recall_ok
            FROM embeddings WHERE vec_id < 5
        """,
        "incremental_refresh": """
            WITH raw1 AS (
                SELECT event_type, ts, value, user_id FROM events
                WHERE NOT (event_type = 'error' AND CAST(ts AS DATE) = DATE '2024-01-05')
                UNION ALL
                SELECT event_type, ts + INTERVAL 30 MINUTE, value * 2.0, user_id
                FROM events WHERE user_id % 13 = 4 AND event_type <> 'error')
            SELECT event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                   count(*) AS event_count,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS value_sum,
                   count(DISTINCT user_id) AS user_distinct,
                   round(quantile_cont(value, 0.50), 4) AS value_p50,
                   round(quantile_cont(value, 0.90), 4) AS value_p90,
                   round(quantile_cont(value, 0.99), 4) AS value_p99
            FROM raw1 GROUP BY 1, 2
        """,
        "gap_fill_1h": """
            WITH tier AS (
                SELECT event_type, date_trunc('hour', ts) AS ws, count(*) AS n
                FROM events GROUP BY 1, 2),
            bounds AS (
                SELECT event_type, min(ws) AS lo, max(ws) AS hi FROM tier GROUP BY 1),
            grid AS (
                SELECT event_type, unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS window_start
                FROM bounds)
            SELECT g.event_type, g.window_start,
                   CAST(coalesce(t.n, 0) AS BIGINT) AS event_count,
                   (t.n IS NULL) AS gap_filled
            FROM grid g LEFT JOIN tier t
              ON g.event_type = t.event_type AND g.window_start = t.ws
        """,
        "salted_agg_events": """
            SELECT event_type, count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events GROUP BY event_type
        """,
        "dedup_exact": """
            SELECT md5(lower(trim(text))) AS fp,
                   min(doc_id) AS keep_id, count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "doc_stats": f"""
            SELECT doc_id,
                   CAST({_NTOK} AS BIGINT) AS ws_tokens,
                   CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_tokens,
                   CAST(len(regexp_extract_all(text,
                        '''(?:s|t|re|ve|m|ll|d)| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+|\\s+'))
                        AS BIGINT) AS bpe_regex_tokens,
                   CAST({_HITS} AS BIGINT) AS stop_hits,
                   CASE WHEN {_NTOK} > 0 AND CAST({_HITS} AS DOUBLE) / {_NTOK} >= 0.05
                        THEN 'en' ELSE 'und' END AS pred_lang,
                   least(1.0, length(text) / 1000.0) * 0.5
                     + least(1.0, (CASE WHEN {_NTOK} = 0 THEN 0.0
                                   ELSE CAST({_HITS} AS DOUBLE) / {_NTOK} END) * 5.0) * 0.5
                     AS quality,
                   md5(lower(trim(text))) AS fp
            FROM documents
        """,
        "token_jaccard_pairs": f"""
            WITH d AS (
                SELECT doc_id, source, list_distinct({_TOKS}) AS toks FROM documents)
            SELECT id_a, id_b, jaccard FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                             / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
                FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id)
            WHERE jaccard >= 0.98
        """,
        "url_canonicalize": _url_canonicalize_oracle(),
        "url_templates": _url_templates_oracle(),
        "sorted_neighborhood": _SNM_ORACLE,
        "edit_distance_pairs": _EDIT_DIST_ORACLE,
        "link_degrees": f"""
            WITH e AS ({_LINK_EDGES_SQL}),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
            o AS (SELECT src AS node, COUNT(*) AS c FROM e GROUP BY src),
            i AS (SELECT dst AS node, COUNT(*) AS c FROM e GROUP BY dst)
            SELECT n.node,
                   CAST(COALESCE(o.c, 0) AS BIGINT) AS out_degree,
                   CAST(COALESCE(i.c, 0) AS BIGINT) AS in_degree
            FROM nodes n LEFT JOIN o ON n.node = o.node LEFT JOIN i ON n.node = i.node
        """,
        "pagerank_hosts": pagerank_oracle_sql(_LINK_EDGES_SQL, iterations=3),
        "hits_hosts": hits_oracle_sql(_LINK_EDGES_SQL, iterations=3),
        "k_core_hosts": k_core_oracle_sql(_PLANTED_GRAPH_SQL, k=2, rounds=12),
        "lpa_communities": label_propagation_oracle_sql(
            _PLANTED_GRAPH_SQL, iterations=4
        ),
        "bfs_depth": bfs_hops_oracle_sql(
            _PLANTED_GRAPH_SQL,
            "SELECT 0 AS node UNION ALL SELECT 2000",
            max_hops=12,
            directed=False,
        ),
        "scc_hosts": scc_oracle_sql(_PLANTED_GRAPH_SQL, doubling_rounds=7),
        "hyperball_centrality": hyperball_oracle_sql(_PLANTED_GRAPH_SQL, t_max=3),
        "cocitation_pairs": cocitation_oracle_sql(
            _LINK_EDGES_SQL, max_out_degree=100
        ),
        "trustrank_hosts": personalized_pagerank_oracle_sql(
            _LINK_EDGES_SQL,
            "SELECT 's0.example.com' AS node UNION ALL SELECT 's1.example.com'",
            n_seeds=2,
            iterations=3,
        ),
        "burst_windows": burst_oracle_sql(
            _BURST_COUNTS_SQL,
            key_alias="event_type",
            time_alias="w0_us",
            n_alias="n",
        ),
        "seasonal_profile": """
            WITH pts AS (
                SELECT event_type AS key, CAST(hour(ts) AS INT) AS phase,
                       CAST(round(value * 100) AS BIGINT) AS c
                FROM events WHERE value IS NOT NULL),
            agged AS (
                SELECT key, phase,
                       CAST(COUNT(*) AS BIGINT) AS n_p,
                       CAST(SUM(c) AS BIGINT) AS s_p
                FROM pts GROUP BY key, phase),
            totals AS (
                SELECT *,
                       CAST(SUM(n_p) OVER (PARTITION BY key) AS BIGINT) AS n,
                       CAST(SUM(s_p) OVER (PARTITION BY key) AS BIGINT) AS s
                FROM agged)
            SELECT key, phase, n_p, s_p, n, s,
                   (CAST(s_p AS DOUBLE) / CAST(n_p AS DOUBLE)) / 100.0
                       AS mean_phase,
                   (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0
                       AS mean_total,
                   (CAST(s_p AS DOUBLE) / CAST(n_p AS DOUBLE)) / 100.0
                     - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0
                       AS "offset",
                   CASE WHEN s <> 0 THEN
                     (CAST(s_p AS DOUBLE) / CAST(n_p AS DOUBLE))
                       / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) END AS ratio
            FROM totals
        """,
        "acf_lags": acf_oracle_sql(
            "SELECT event_type AS key, ts, event_id, "
            "CAST(round(value * 100) AS BIGINT) AS c "
            "FROM events WHERE value IS NOT NULL",
            max_lag=4,
            order_sql="ts, event_id",
        ),
        "triangle_counts": """
            WITH e AS (
                SELECT 'h' || CAST(doc_id % 25 AS VARCHAR) AS src,
                       'h' || CAST((doc_id + 1) % 25 AS VARCHAR) AS dst
                FROM documents
                UNION ALL
                SELECT 'h' || CAST(doc_id % 25 AS VARCHAR),
                       'h' || CAST((doc_id + 2) % 25 AS VARCHAR)
                FROM documents
                UNION ALL
                SELECT 'h' || CAST(doc_id % 25 AS VARCHAR),
                       'h' || CAST((doc_id * 7 + 3) % 25 AS VARCHAR)
                FROM documents),
            und AS (
                SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM e WHERE src <> dst),
            t AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM und e1
                JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
                JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
            n AS (
                SELECT x AS node FROM t
                UNION ALL SELECT y FROM t
                UNION ALL SELECT z FROM t)
            SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
            FROM n GROUP BY node
        """,
        "clustering_coefficients": """
            WITH e AS (
                SELECT 'h' || CAST(doc_id % 25 AS VARCHAR) AS src,
                       'h' || CAST((doc_id + 1) % 25 AS VARCHAR) AS dst
                FROM documents
                UNION ALL
                SELECT 'h' || CAST(doc_id % 25 AS VARCHAR),
                       'h' || CAST((doc_id + 2) % 25 AS VARCHAR)
                FROM documents
                UNION ALL
                SELECT 'h' || CAST(doc_id % 25 AS VARCHAR),
                       'h' || CAST((doc_id * 7 + 3) % 25 AS VARCHAR)
                FROM documents),
            und AS (
                SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM e WHERE src <> dst),
            deg AS (
                SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
                    SELECT a AS node FROM und
                    UNION ALL SELECT b FROM und)
                GROUP BY node),
            t AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM und e1
                JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
                JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
            tc AS (
                SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
                    SELECT x AS node FROM t
                    UNION ALL SELECT y FROM t
                    UNION ALL SELECT z FROM t)
                GROUP BY node)
            SELECT deg.node, deg.degree,
                   CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
                   CASE WHEN deg.degree >= 2
                        THEN (CAST(2.0 AS DOUBLE) * COALESCE(tc.n_triangles, 0))
                             / (deg.degree * (deg.degree - 1))
                        ELSE CAST(0.0 AS DOUBLE) END AS clustering
            FROM deg LEFT JOIN tc USING (node)
        """,
        "kmv_returning_users": """
            WITH d AS (
                SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
            n AS (SELECT day, CAST(count(*) AS BIGINT) AS na FROM d GROUP BY day),
            i AS (
                SELECT a.day AS day, CAST(count(*) AS BIGINT) AS inter
                FROM d a JOIN d b
                  ON b.user_id = a.user_id AND b.day = a.day + 1
                GROUP BY a.day)
            SELECT n1.day AS day,
                   CAST(COALESCE(i.inter, 0) AS BIGINT) AS exact_inter,
                   CAST(n1.na + n2.na - COALESCE(i.inter, 0) AS BIGINT)
                       AS exact_union,
                   TRUE AS inter_ok,
                   TRUE AS union_ok
            FROM n n1
            JOIN n n2 ON n2.day = n1.day + 1
            LEFT JOIN i ON i.day = n1.day
        """,
        "bpe_merges": bpe_oracle_sql("SELECT * FROM documents", merges=8),
        "json_flatten": """
            WITH s AS (
                SELECT doc_id,
                       '{"lang": "' || lang || '", "stats": {"chars": '
                       || CAST(n_chars AS VARCHAR) || ', "source": "' || source || '"}'
                       || CASE WHEN doc_id % 5 = 0 THEN ', "extra": {"flag": true}' ELSE '' END
                       || ', "idmod": ' || CAST(doc_id % 7 AS VARCHAR) || '}' AS meta
                FROM documents)
            SELECT doc_id,
                   json_extract_string(meta, '$.extra.flag') AS "extra.flag",
                   json_extract_string(meta, '$.idmod') AS idmod,
                   json_extract_string(meta, '$.lang') AS lang,
                   json_extract_string(meta, '$."stats"."chars"') AS "stats.chars",
                   json_extract_string(meta, '$.stats.source') AS "stats.source"
            FROM s
        """,
        "unicode_nfc": """
            WITH s AS (
                SELECT doc_id,
                       substr(text, 1, 16) || 'cafe' || chr(769)
                           || ' nai' || chr(776) || 've' AS t
                FROM documents)
            SELECT doc_id,
                   nfc_normalize(t) AS norm_text,
                   CAST(length(t) AS INTEGER) AS n_before,
                   CAST(length(nfc_normalize(t)) AS INTEGER) AS n_after
            FROM s
        """,
        "blocklist_hits": f"""
            WITH p AS (SELECT unnest({_BLOCK_PATTERNS!r}) AS pattern),
            d AS (SELECT doc_id, lower(text) AS t FROM documents)
            SELECT doc_id, pattern,
                   CAST((length(t) - length(replace(t, pattern, '')))
                        // length(pattern) AS BIGINT) AS n_hits
            FROM d JOIN p ON contains(t, pattern)
        """,
        "domain_blocklist": """
            WITH u AS (
                SELECT doc_id,
                       'https://' || CASE WHEN doc_id % 3 = 0
                           THEN 'b' || CAST(doc_id % 7 AS VARCHAR) || '.blocked.example'
                           ELSE 'ok' || CAST(doc_id % 5 AS VARCHAR) || '.example.org'
                       END || '/p' AS url,
                       CASE WHEN doc_id % 3 = 0
                           THEN 'b' || CAST(doc_id % 7 AS VARCHAR) || '.blocked.example'
                           ELSE 'ok' || CAST(doc_id % 5 AS VARCHAR) || '.example.org'
                       END AS host
                FROM documents)
            SELECT doc_id, url FROM u
            WHERE NOT EXISTS (
                SELECT 1 FROM (SELECT unnest(['blocked.example', 'ok3.example.org']) AS d)
                WHERE u.host = d OR u.host LIKE '%.' || d)
        """,
        "lm_bigram_counts": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> len(x) > 0) AS w
                FROM documents),
            x AS (SELECT doc_id, unnest(w) AS tok,
                         generate_subscripts(w, 1) AS i FROM t),
            b AS (SELECT a.tok AS w1, c.tok AS w2
                  FROM x a JOIN x c
                    ON c.doc_id = a.doc_id AND c.i = a.i + 1)
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
            FROM b GROUP BY w1, w2
        """,
        "scd2_versions": """
            WITH m AS (
                SELECT user_id, ts, event_type,
                       lag(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_type
                       ) AS prev
                FROM events),
            k AS (
                SELECT user_id, ts, event_type FROM m
                WHERE prev IS NULL OR prev IS DISTINCT FROM event_type)
            SELECT user_id, event_type,
                   ts AS valid_from,
                   lead(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_type
                   ) AS valid_to
            FROM k
        """,
        "crawl_diff": """
            WITH o0 AS (
                SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
                       md5(lower(trim(text))) AS fo
                FROM documents WHERE doc_id % 10 < 8),
            n0 AS (
                SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
                       md5(lower(trim(
                           CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                                ELSE text END))) AS fn
                FROM documents WHERE doc_id % 10 >= 2),
            o AS (SELECT url, min(fo) AS fo FROM o0 GROUP BY url),
            n AS (SELECT url, min(fn) AS fn FROM n0 GROUP BY url)
            SELECT COALESCE(o.url, n.url) AS url,
                   CASE WHEN o.url IS NULL THEN 'new'
                        WHEN n.url IS NULL THEN 'gone'
                        WHEN fo IS NOT DISTINCT FROM fn THEN 'same'
                        ELSE 'changed' END AS status
            FROM o FULL OUTER JOIN n ON n.url = o.url
        """,
        "geo_polygon": """
            WITH p AS (
                SELECT doc_id,
                       (doc_id % 100) / 100.0 + 0.005 AS px,
                       ((doc_id * 7 + 3) % 100) / 100.0 + 0.005 AS py
                FROM documents),
            s AS (
                SELECT doc_id, px, py,
                       (0.95 - 0.07) * (py - 0.02) - (0.13 - 0.02) * (px - 0.07) AS c1,
                       (0.41 - 0.95) * (py - 0.13) - (0.89 - 0.13) * (px - 0.95) AS c2,
                       (0.07 - 0.41) * (py - 0.89) - (0.02 - 0.89) * (px - 0.41) AS c3
                FROM p)
            SELECT doc_id, px, py,
                   ((c1 > 0 AND c2 > 0 AND c3 > 0)
                    OR (c1 < 0 AND c2 < 0 AND c3 < 0)) AS inside
            FROM s
        """,
        "anchor_terms": """
            WITH a AS (
                SELECT 'd' || CAST((doc_id * 7 + 1) % 40 AS VARCHAR) || '.example.com' AS host,
                       'alpha' AS term FROM documents
                UNION ALL
                SELECT 'd' || CAST((doc_id * 7 + 1) % 40 AS VARCHAR) || '.example.com',
                       'w' || CAST(doc_id % 7 AS VARCHAR) FROM documents
                UNION ALL
                SELECT 'd' || CAST((doc_id * 3 + 2) % 40 AS VARCHAR) || '.example.com',
                       'beta' FROM documents
                UNION ALL
                SELECT 'd' || CAST((doc_id * 3 + 2) % 40 AS VARCHAR) || '.example.com',
                       'w' || CAST(doc_id % 5 AS VARCHAR) FROM documents
            )
            SELECT host, term, CAST(COUNT(*) AS BIGINT) AS n
            FROM a GROUP BY host, term
        """,
        "skew_profile": """
            WITH c AS (
                SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS key_count
                FROM events GROUP BY user_id),
            t AS (
                SELECT CAST(SUM(key_count) AS BIGINT) AS total,
                       CAST(COUNT(*) AS BIGINT) AS n_keys,
                       CAST(MAX(key_count) AS BIGINT) AS mx
                FROM c),
            r AS (
                SELECT key, key_count,
                       row_number() OVER (ORDER BY key_count DESC, key) AS rank
                FROM c)
            SELECT r.key, r.key_count, CAST(r.rank AS INTEGER) AS rank,
                   CAST(r.key_count AS DOUBLE) / t.total AS share,
                   CAST(t.mx * t.n_keys AS DOUBLE) / t.total AS skew_ratio
            FROM r, t WHERE r.rank <= 10
        """,
        "containment_pairs": r"""
            WITH t AS (
                SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS l
                FROM documents),
            s AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(1, greatest(len(l) - 2, 1)),
                           i -> concat_ws(' ', l[i], l[i+1], l[i+2]))) AS sh
                FROM t),
            e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM s),
            c AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
                       any_value(a.n) AS na, any_value(b.n) AS nb
                FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
            SELECT id_a AS contained_id, id_b AS container_id,
                   round(CAST(inter AS DOUBLE) / na, 4) AS containment
            FROM c WHERE round(CAST(inter AS DOUBLE) / na, 4) >= 0.5
            UNION ALL
            SELECT id_b, id_a, round(CAST(inter AS DOUBLE) / nb, 4)
            FROM c WHERE round(CAST(inter AS DOUBLE) / nb, 4) >= 0.5
        """,
        "duplicate_spans": r"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
                FROM documents WHERE text IS NOT NULL),
            g AS (
                SELECT doc_id, u.p AS p,
                       array_to_string(l[u.p+1 : u.p+10], ' ') AS gram
                FROM t, unnest(range(0, len(l) - 10 + 1)) AS u(p)
                WHERE len(l) >= 10),
            c AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
                FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
            r AS (
                SELECT doc_a, doc_b, pa - pb AS diag, pa,
                       pa - row_number() OVER (
                           PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
                FROM c)
            SELECT doc_a, doc_b,
                   CAST(MIN(pa) AS BIGINT) AS start_a,
                   CAST(MIN(pa) - diag AS BIGINT) AS start_b,
                   CAST(MAX(pa) - MIN(pa) + 10 AS BIGINT) AS span_tokens
            FROM r GROUP BY doc_a, doc_b, diag, isl
            HAVING MAX(pa) - MIN(pa) + 10 >= 10
        """,
        "span_scrub": r"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
                FROM documents WHERE text IS NOT NULL),
            g AS (
                SELECT doc_id, u.p AS p,
                       array_to_string(l[u.p+1 : u.p+10], ' ') AS gram
                FROM t, unnest(range(0, len(l) - 10 + 1)) AS u(p)
                WHERE len(l) >= 10),
            c AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
                FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
            r AS (
                SELECT doc_a, doc_b, pa - pb AS diag, pa,
                       pa - row_number() OVER (
                           PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
                FROM c),
            iv AS (
                SELECT doc_b AS id,
                       MIN(pa) - diag AS lo,
                       MAX(pa) - MIN(pa) + 10 + MIN(pa) - diag AS hi
                FROM r GROUP BY doc_a, doc_b, diag, isl),
            mi AS (
                SELECT id, lo, hi,
                       CASE WHEN lo > COALESCE(MAX(hi) OVER (
                                PARTITION BY id ORDER BY lo, hi
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                                -1)
                            THEN 1 ELSE 0 END AS nw
                FROM iv),
            mg AS (
                SELECT id, isl2, MIN(lo) AS lo, MAX(hi) AS hi FROM (
                    SELECT *, SUM(nw) OVER (PARTITION BY id ORDER BY lo, hi
                        ROWS UNBOUNDED PRECEDING) AS isl2 FROM mi)
                GROUP BY id, isl2),
            pos AS (
                SELECT t.doc_id, u.p AS p, t.l[u.p + 1] AS tok
                FROM t, unnest(range(0, len(l))) AS u(p)
                WHERE t.doc_id IN (SELECT id FROM mg)),
            surv AS (
                SELECT p.doc_id, p.p, p.tok FROM pos p
                WHERE NOT EXISTS (SELECT 1 FROM mg m
                    WHERE m.id = p.doc_id AND p.p >= m.lo AND p.p < m.hi)),
            reb AS (
                SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS new_text
                FROM surv GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE WHEN m.id IS NOT NULL THEN COALESCE(reb.new_text, '')
                        ELSE d.text END AS text
            FROM documents d
            LEFT JOIN (SELECT DISTINCT id FROM mg) m ON d.doc_id = m.id
            LEFT JOIN reb ON d.doc_id = reb.doc_id
        """,
        "rrf_fusion": """
            WITH tf AS (
                SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM (
                    SELECT doc_id, u.tok
                    FROM documents,
                         unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(tok)
                    WHERE u.tok = 'spark')
                GROUP BY doc_id
            ),
            ra AS (
                SELECT doc_id, r FROM (
                    SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id) AS r FROM tf)
                WHERE r <= 50
            ),
            rb AS (
                SELECT doc_id, r FROM (
                    SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r FROM documents)
                WHERE r <= 50
            )
            SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
                   COALESCE(CAST(1 AS DOUBLE) / (60 + ra.r), CAST(0 AS DOUBLE))
                 + COALESCE(CAST(1 AS DOUBLE) / (60 + rb.r), CAST(0 AS DOUBLE)) AS rrf_score
            FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
            ORDER BY rrf_score DESC, doc_id
            LIMIT 20
        """,
        "mad_outliers": """
            WITH med AS (
                SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
                FROM events GROUP BY event_type
            ),
            dev AS (
                SELECT e.event_type, e.event_id, m.med,
                       abs(e.value - m.med) AS abs_dev
                FROM events e JOIN med m USING (event_type)
            ),
            mad AS (
                SELECT event_type, round(quantile_cont(abs_dev, 0.5), 4) AS mad
                FROM dev GROUP BY event_type
            )
            SELECT d.event_type, max(d.med) AS med, max(m.mad) AS mad,
                   CAST(COUNT(*) FILTER (WHERE d.abs_dev > 3.0 * m.mad) AS BIGINT) AS n_outliers,
                   CAST(COALESCE(SUM(d.event_id) FILTER (WHERE d.abs_dev > 3.0 * m.mad), 0) AS BIGINT) AS outlier_id_sum
            FROM dev d JOIN mad m USING (event_type)
            GROUP BY d.event_type
        """,
        "winsorized_daily": """
            WITH b AS (
                SELECT event_type,
                       round(quantile_cont(value, 0.01), 4) AS lo,
                       round(quantile_cont(value, 0.99), 4) AS hi
                FROM events GROUP BY event_type
            )
            SELECT e.event_type, max(b.lo) AS lo, max(b.hi) AS hi,
                   CAST(SUM(CAST(round(least(greatest(e.value, b.lo), b.hi) * 100) AS BIGINT)) AS BIGINT) AS wins_cents,
                   CAST(COUNT(*) FILTER (WHERE e.value <> least(greatest(e.value, b.lo), b.hi)) AS BIGINT) AS n_clipped
            FROM events e JOIN b USING (event_type)
            GROUP BY e.event_type
        """,
        # html construction + strip/decode chain generated from the SAME
        # pattern tables the Spark function uses (TX.HTML_STRIP_PATTERNS /
        # HTML_ENTITIES) — the chains cannot drift apart
        "html_extract": _html_extract_oracle(),
        "lttb_downsample": _LTTB_ORACLE,
        "m4_downsample": _M4_ORACLE,
        "heatmap_downsample": """
            WITH pts AS (
              SELECT event_type AS key, epoch_us(ts) AS e,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events WHERE value IS NOT NULL),
            bounds AS (
              SELECT MIN(e) AS t_lo, MAX(e) - MIN(e) + 1 AS t_span,
                     MIN(c) AS v_lo, MAX(c) - MIN(c) + 1 AS v_span
              FROM pts),
            b AS (
              SELECT key, t_lo, t_span, v_lo, v_span,
                     ((e - t_lo) * 16) // t_span AS t_bucket,
                     ((c - v_lo) * 8) // v_span AS v_bucket
              FROM pts, bounds)
            SELECT key,
                   CAST(t_bucket AS BIGINT) AS t_bucket,
                   CAST(v_bucket AS BIGINT) AS v_bucket,
                   make_timestamp(ANY_VALUE(t_lo)
                     + (t_bucket * ANY_VALUE(t_span) + 15) // 16) AS t_start,
                   CAST(ANY_VALUE(v_lo)
                     + (v_bucket * ANY_VALUE(v_span) + 7) // 8 AS DOUBLE) / 100.0 AS v_lo,
                   CAST(COUNT(*) AS BIGINT) AS n_points
            FROM b GROUP BY key, t_bucket, v_bucket
        """,
        "time_weighted_avg": _TWA_ORACLE,
        "counter_rate": _COUNTER_RATE_ORACLE,
        "rolling_stats": _ROLLING_STATS_ORACLE,
        "rolling_zscore": _ZSCORE_ORACLE,
        "ohlc_1h": _OHLC_ORACLE,
        "ewma_events": _ewma_oracle(),
        "interval_join_counts": _INTERVAL_JOIN_ORACLE,
        "interval_overlap_pairs": _INTERVAL_OVERLAP_ORACLE,
        "semantic_dedup": _SEMANTIC_DEDUP_ORACLE,
        "top_ngrams": f"""
            WITH g AS (
                SELECT unnest(list_transform(range(1, len(toks) - 1),
                              i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS gram
                FROM (SELECT {_TOKS} AS toks FROM documents)
                WHERE len(toks) >= 3)
            SELECT gram, CAST(count(*) AS BIGINT) AS cnt
            FROM g GROUP BY gram ORDER BY cnt DESC, gram LIMIT 25
        """,
        # recursive-CTE min-label closure: floods every node's id along the
        # symmetric edge list; min per node == min id of its component —
        # exactly the Spark operator's fixpoint
        "dedup_clusters": f"""
            WITH RECURSIVE
            d AS (SELECT doc_id, source, list_distinct({_TOKS}) AS toks FROM documents),
            pairs AS (
                SELECT id_a, id_b FROM (
                    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                                 / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
                    FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id)
                WHERE jaccard >= 0.98),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                      UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
            walk(node, lab) AS (
                SELECT DISTINCT src, src FROM edges
                UNION
                SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.node),
            comp AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY node)
            SELECT c.doc_id, c.cluster_id,
                   CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS cluster_size
            FROM comp c
        """,
        "bloom_new_docs": """
            WITH fp AS (
                SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents),
            seen AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0)
            SELECT f.doc_id, (s.fp IS NOT NULL) AS truly_seen,
                   TRUE AS no_false_negative
            FROM fp f LEFT JOIN seen s ON f.fp = s.fp
            WHERE f.doc_id % 2 = 1
        """,
        "cms_heavy_hitters": f"""
            WITH c AS (
                SELECT tok AS token, count(*) AS exact_cnt FROM (
                    SELECT unnest({_TOKS}) AS tok FROM documents)
                GROUP BY tok)
            SELECT token, CAST(exact_cnt AS BIGINT) AS exact_cnt,
                   TRUE AS lower_bounded, TRUE AS within_eps
            FROM c ORDER BY exact_cnt DESC, token LIMIT 20
        """,
        "minhash_near_dup": _SHINGLE_PAIRS_ORACLE.format(thr=0.5),
        # incremental = one-shot exact pair set minus corpus-internal
        # (both-even) pairs: everything touching the new (odd) batch
        "incremental_dedup": _SHINGLE_PAIRS_ORACLE.format(thr=0.5)
        + " AND NOT (id_a % 2 = 0 AND id_b % 2 = 0)",
        "simhash_near_dup": (
            "SELECT id_a, id_b, jaccard, TRUE AS simhash_recall_ok,"
            " TRUE AS simhash_subset_ok FROM ("
            + _SHINGLE_PAIRS_ORACLE.format(thr=0.9)
            + ")"
        ),
        "binary_meta": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                   sha256(text) AS content_sha,
                   CASE WHEN text LIKE '<html%' THEN 'text/html'
                        ELSE 'application/octet-stream' END AS sniffed_type
            FROM documents
        """,
        "cosine_topk": """
            WITH p AS (
                SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id < 5),
            c AS (
                SELECT p.qid AS query_id, e.vec_id AS neighbor_id,
                       round(list_dot_product(CAST(e.embedding AS DOUBLE[]), p.q)
                             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                                * sqrt(list_dot_product(p.q, p.q))), 3) AS cos_sim
                FROM embeddings e, p WHERE e.vec_id <> p.qid)
            SELECT query_id, neighbor_id, rank, cos_sim FROM (
                SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank
                FROM c) WHERE rank <= 3
        """,
        "embedding_near_dup": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
            SELECT id_a, id_b, cos_sim FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round(list_dot_product(a.v, b.v)
                             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 3) AS cos_sim
                FROM e a JOIN e b ON a.vec_id < b.vec_id)
            WHERE cos_sim >= 0.45
        """,
        "kmeans_clusters": kmeans_oracle_sql(
            "SELECT vec_id AS id, embedding AS vec FROM embeddings",
            k=10,
            iterations=3,
            dim=64,
        ),
        "embedding_norms": """
            SELECT vec_id,
                   round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 4) AS l2_norm
            FROM embeddings
        """,
        "tslong_roundtrip": "SELECT user_id, ts, value FROM events",
        "tstore_layout_roundtrip": "SELECT user_id, ts, value FROM events",
        "compaction_roundtrip": "SELECT user_id, ts, value FROM events",
        "snapshot_time_travel": "SELECT event_id, ts, value FROM events",
        "expectations_report": """
            SELECT 'type_known' AS rule, count(*) AS n_rows,
                   CAST(count(*) FILTER (WHERE NOT coalesce(
                       event_type IN ('click','error','purchase','signup','view'), FALSE))
                       AS BIGINT) AS n_violations
            FROM events
            UNION ALL
            SELECT 'user_id_lt_100', count(*),
                   CAST(count(*) FILTER (WHERE NOT coalesce(user_id < 100, FALSE)) AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'value_min_5c', count(*),
                   CAST(count(*) FILTER (WHERE NOT coalesce(value >= 0.05, FALSE)) AS BIGINT)
            FROM events
        """,
        "quarantine_split": """
            WITH f AS (
                SELECT event_id,
                       array_to_string(list_filter([
                           CASE WHEN NOT coalesce(
                               event_type IN ('click','error','purchase','signup','view'),
                               FALSE) THEN 'type_known' END,
                           CASE WHEN NOT coalesce(user_id < 100, FALSE)
                                THEN 'user_id_lt_100' END,
                           CASE WHEN NOT coalesce(value >= 0.05, FALSE)
                                THEN 'value_min_5c' END
                       ], x -> x IS NOT NULL), ',') AS failed
                FROM events)
            SELECT event_id, failed FROM f WHERE failed <> ''
        """,
        "delete_where_roundtrip": """
            SELECT event_id, ts, event_type, value FROM events
            WHERE event_type <> 'error'
        """,
        "delete_vectors_roundtrip": """
            SELECT event_id, ts, event_type, value FROM events
            WHERE event_type <> 'error'
        """,
        "redirect_resolution": resolve_redirects_oracle_sql(
            """SELECT 'u' || CAST(doc_id AS VARCHAR) AS src,
                   CASE WHEN doc_id % 8 < 7
                        THEN 'u' || CAST(doc_id + 1 AS VARCHAR)
                        ELSE 't' || CAST(doc_id // 8 AS VARCHAR) END AS dst
            FROM documents
            UNION ALL SELECT 'cycA', 'cycB' FROM documents WHERE doc_id = 0
            UNION ALL SELECT 'cycB', 'cycA' FROM documents WHERE doc_id = 0""",
            max_rounds=4,
        ),
        "readability": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS w,
                       list_filter(string_split_regex(text, '[.!?]+'),
                                   s -> trim(s) <> '') AS sen
                FROM documents WHERE text IS NOT NULL),
            c AS (
                SELECT doc_id,
                       CAST(len(w) AS BIGINT) AS n_words,
                       CAST(len(sen) AS BIGINT) AS n_sentences,
                       CAST(COALESCE(list_aggregate(list_transform(w,
                            x -> greatest(1, len(regexp_extract_all(lower(x),
                                 '[aeiouy]+')))), 'sum'), 0) AS BIGINT)
                           AS n_syllables
                FROM t)
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   CASE WHEN n_words > 0 AND n_sentences > 0 THEN
                        CAST(206.835 AS DOUBLE)
                        - CAST(1.015 AS DOUBLE)
                          * (CAST(n_words AS DOUBLE) / n_sentences)
                        - CAST(84.6 AS DOUBLE)
                          * (CAST(n_syllables AS DOUBLE) / n_words)
                   END AS flesch,
                   CASE WHEN n_words > 0 AND n_sentences > 0 THEN
                        CAST(0.39 AS DOUBLE)
                          * (CAST(n_words AS DOUBLE) / n_sentences)
                        + CAST(11.8 AS DOUBLE)
                          * (CAST(n_syllables AS DOUBLE) / n_words)
                        - CAST(15.59 AS DOUBLE)
                   END AS fk_grade
            FROM c
        """,
        "cdx_latest": """
            SELECT 'com,example,s' || (doc_id % 20) || ')/item/' || doc_id
                       || '?a=1&b=2' AS urlkey,
                   strptime('202404'
                            || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                            || '060000', '%Y%m%d%H%M%S') AS fetch_ts,
                   'https://www.S' || (doc_id % 20) || '.example.com/Item/'
                       || doc_id || '?b=2&a=1' AS url,
                   'text/html' AS mime,
                   CASE WHEN doc_id % 7 <> 0 THEN 200 END AS status,
                   'D' || doc_id || 'b' AS digest,
                   CAST(doc_id % 1000 + 100 AS BIGINT) AS length,
                   CAST(doc_id * 7 AS BIGINT) AS offset,
                   'crawl-b.warc.gz' AS filename
            FROM documents
        """,
        "recrawl_schedule": """
            WITH d AS (SELECT doc_id, doc_id % 4 + 1 AS p FROM documents),
            c AS (SELECT doc_id, p, 8 // p AS nc FROM d),
            i AS (SELECT doc_id, nc,
                         GREATEST(1, LEAST(16, 8 // nc)) AS rev
                  FROM c)
            SELECT 'https://d' || doc_id || '.example.com/page' AS url,
                   CAST(9 AS BIGINT) AS n_obs,
                   CAST(nc AS BIGINT) AS n_changes,
                   CAST(8 AS BIGINT) AS last_round,
                   CAST(rev AS BIGINT) AS revisit_every,
                   CAST(8 + rev AS BIGINT) AS next_round
            FROM i
        """,
        "sitemap_urls": """
            WITH d AS (
                SELECT doc_id, doc_id % 3 AS m3,
                       'https://h' || (doc_id % 5) || '.example.com/doc/'
                           || doc_id AS base,
                       '2024-01-'
                           || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                           AS lm
                FROM documents)
            SELECT base || CASE WHEN m3 IN (0, 1) THEN '?a=1&b=2' ELSE '' END
                       AS canon_url,
                   base || CASE WHEN m3 IN (0, 1) THEN '?a=1&b=2' ELSE '' END
                       AS loc,
                   CASE WHEN m3 IN (0, 1) THEN lm END AS lastmod,
                   CAST(1 AS BIGINT) AS n_sitemaps
            FROM d
        """,
        "robots_filter": """
            WITH u AS (
                SELECT DISTINCT
                       CAST(doc_id % 20 AS VARCHAR) AS m,
                       CAST(doc_id AS VARCHAR) AS did,
                       doc_id % 5 AS c
                FROM documents)
            SELECT DISTINCT
                   'http://h' || m || '.example.com' ||
                   CASE c WHEN 0 THEN '/p' || m || '/x' || did
                          WHEN 1 THEN '/p' || m || '/ok/y' || did
                          WHEN 2 THEN '/exact' || m
                          WHEN 3 THEN '/exact' || m || 'z'
                          ELSE '/free/' || did END AS url,
                   CASE c WHEN 0 THEN FALSE WHEN 2 THEN FALSE ELSE TRUE END AS allowed,
                   CASE c WHEN 0 THEN '/p' || m || '/'
                          WHEN 1 THEN '/p' || m || '/ok*'
                          WHEN 2 THEN '/exact' || m || '$'
                          ELSE NULL END AS matched_pattern
            FROM u
        """,
        "warc_ingest": """
            SELECT 'http://doc' || CAST(doc_id AS VARCHAR) || '.example.com/' AS url,
                   TIMESTAMP '2024-03-01 00:00:00' + doc_id * INTERVAL 1 MINUTE AS warc_ts,
                   text
            FROM documents WHERE text IS NOT NULL
        """,
        "snapshot_cdc": """
            WITH upd AS (
                SELECT event_id, ts, value FROM events WHERE event_id % 10 = 3),
            ins AS (
                SELECT event_id + 10000000 AS event_id, ts, value * 2.0 AS value
                FROM events WHERE event_id % 97 = 0)
            SELECT event_id, ts, value + 1000.0 AS value, 'insert' AS _change FROM upd
            UNION ALL
            SELECT event_id, ts, value, 'insert' AS _change FROM ins
            UNION ALL
            SELECT event_id, ts, value, 'delete' AS _change FROM upd
        """,
        "zonemap_scan": """
            SELECT event_id, ts, value FROM events
            WHERE value >= 100.0 AND value <= 150.0
        """,
        "dtw_similarity": __import__(
            "tstore_spark.operators.dtw", fromlist=["dtw_oracle_sql"]
        ).dtw_oracle_sql(
            """
            WITH h AS (
                SELECT event_type, epoch_us(ts) // 3600000000 AS hidx
                FROM events),
            d0 AS (SELECT MIN(hidx // 24) AS day0 FROM h),
            c AS (
                SELECT event_type, hidx, CAST(COUNT(*) AS BIGINT) AS n
                FROM h WHERE hidx // 24 = (SELECT day0 FROM d0)
                GROUP BY event_type, hidx),
            v AS (
                SELECT event_type, list(n ORDER BY hidx) AS vals
                FROM c GROUP BY event_type)
            SELECT a.event_type AS id_a, b.event_type AS id_b,
                   a.vals AS va, b.vals AS vb
            FROM v a JOIN v b ON a.event_type < b.event_type
            """,
            band=3,
        ),
        "more_like_this": """
            WITH post AS (
                SELECT doc_id, u.tok AS token, CAST(COUNT(*) AS BIGINT) AS tf
                FROM documents,
                     unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(tok)
                WHERE u.tok <> ''
                GROUP BY doc_id, u.tok),
            n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM post),
            q AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
            qpost AS (
                SELECT doc_id AS query_id, token, tf AS tf_q FROM post
                WHERE doc_id IN (SELECT lo FROM q)
                   OR doc_id IN (SELECT hi FROM q)),
            dfs AS (
                SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM post
                WHERE token IN (SELECT token FROM qpost)
                GROUP BY token),
            sel AS (
                SELECT query_id, token, w
                FROM (
                    SELECT qp.query_id, qp.token,
                           qp.tf_q * GREATEST(CAST(1000000 AS BIGINT) // d.df, 1) AS w,
                           ROW_NUMBER() OVER (
                               PARTITION BY qp.query_id
                               ORDER BY qp.tf_q * GREATEST(CAST(1000000 AS BIGINT) // d.df, 1)
                                            DESC,
                                        qp.token) AS r
                    FROM qpost qp JOIN dfs d USING (token)
                    WHERE d.df <= CAST(FLOOR(1.0 * (SELECT n_docs FROM n))
                                       AS BIGINT))
                WHERE r <= 10),
            scored AS (
                SELECT s.query_id, p.doc_id,
                       CAST(SUM(s.w * p.tf) AS BIGINT) AS score
                FROM post p JOIN sel s USING (token)
                WHERE p.doc_id <> s.query_id
                GROUP BY s.query_id, p.doc_id)
            SELECT query_id, doc_id, score,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, doc_id) AS INT) AS rank
            FROM scored
            QUALIFY rank <= 10
        """,
        "bloom_index_scan": """
            SELECT event_id, ts, user_id, value FROM events
            WHERE user_id = (SELECT MIN(user_id) FROM events)
               OR user_id = (SELECT MAX(user_id) FROM events)
        """,
        "zorder_scan": """
            SELECT CAST(event_id AS BIGINT) AS event_id, ts, value FROM events
            WHERE event_id >= 0
              AND event_id <= (SELECT CAST(floor(max(event_id) / 4.0) AS BIGINT)
                               FROM events)
        """,
        "stream_gap_fill_1h": """
            WITH src AS (
                SELECT event_type, ts,
                       CAST(length(CAST(event_id AS VARCHAR)) AS BIGINT) AS b
                FROM events
                WHERE CAST(floor(floor(epoch(ts)) / CAST(3600 AS DOUBLE))
                           AS BIGINT) % 4 != 2),
            real AS (
                SELECT event_type, date_trunc('hour', ts) AS ws,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(b) AS BIGINT) AS bt
                FROM src GROUP BY 1, 2),
            closed AS (
                SELECT * FROM real
                WHERE ws + INTERVAL 1 HOUR <= (SELECT max(ts) FROM src)),
            bounds AS (
                SELECT event_type, min(ws) AS lo, max(ws) AS hi
                FROM closed GROUP BY 1),
            grid AS (
                SELECT event_type,
                       unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS ws
                FROM bounds),
            j AS (
                SELECT g.event_type, g.ws, c.n, c.bt
                FROM grid g LEFT JOIN closed c
                  ON g.event_type = c.event_type AND g.ws = c.ws),
            carry AS (
                SELECT event_type, ws, n, bt,
                       CAST(epoch(ws) AS BIGINT) AS t,
                       last_value(CASE WHEN n IS NOT NULL
                                       THEN CAST(epoch(ws) AS BIGINT) END IGNORE NULLS)
                         OVER (PARTITION BY event_type ORDER BY ws
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
                       last_value(CASE WHEN n IS NOT NULL
                                       THEN CAST(bt AS DOUBLE) END IGNORE NULLS)
                         OVER (PARTITION BY event_type ORDER BY ws
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                       first_value(CASE WHEN n IS NOT NULL
                                        THEN CAST(epoch(ws) AS BIGINT) END IGNORE NULLS)
                         OVER (PARTITION BY event_type ORDER BY ws
                               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
                       first_value(CASE WHEN n IS NOT NULL
                                        THEN CAST(bt AS DOUBLE) END IGNORE NULLS)
                         OVER (PARTITION BY event_type ORDER BY ws
                               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
                FROM j)
            SELECT event_type, ws AS window_start,
                   CAST(coalesce(n, 0) AS BIGINT) AS doc_count,
                   CAST(coalesce(bt, 0) AS BIGINT) AS bytes_total,
                   CASE WHEN n IS NOT NULL THEN CAST(bt AS DOUBLE)
                        ELSE pv + (nv - pv) * (t - pt) / (nt - pt) END AS bytes_interp,
                   (n IS NULL) AS gap_filled
            FROM carry
        """,
        "stream_cascade_1h": """
            SELECT event_type,
                   date_trunc('hour', ts) AS window_start,
                   CAST(COUNT(*) AS BIGINT) AS doc_count,
                   CAST(SUM(length(CAST(event_id AS VARCHAR))) AS BIGINT)
                       AS bytes_total
            FROM events
            WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
                  <= (SELECT max(ts) FROM events)
            GROUP BY event_type, date_trunc('hour', ts)
        """,
        "stream_cascade_hll": """
            SELECT event_type,
                   date_trunc('hour', ts) AS window_start,
                   CAST(COUNT(*) AS BIGINT) AS doc_count,
                   CAST(SUM(length(CAST(event_id AS VARCHAR))) AS BIGINT)
                       AS bytes_total,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS user_distinct,
                   TRUE AS within_bound
            FROM events
            WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
                  <= (SELECT max(ts) FROM events)
            GROUP BY event_type, date_trunc('hour', ts)
        """,
        "stream_cascade_dd": """
            WITH closed AS (
                SELECT event_type,
                       date_trunc('hour', ts) AS window_start,
                       CAST(COUNT(*) AS BIGINT) AS doc_count,
                       CAST(SUM(length(CAST(event_id AS VARCHAR))) AS BIGINT)
                           AS bytes_total,
                       list_sort(list(CAST(round(value * 100) AS BIGINT))) AS v
                FROM events
                WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
                      <= (SELECT max(ts) FROM events)
                GROUP BY event_type, date_trunc('hour', ts))
            SELECT event_type, window_start, doc_count, bytes_total,
                   v[CAST(floor(0.5 * (len(v) - 1)) AS BIGINT) + 1] AS p50_cents,
                   v[CAST(floor(0.99 * (len(v) - 1)) AS BIGINT) + 1] AS p99_cents,
                   TRUE AS within_bound
            FROM closed
        """,
        "stream_click_attribution": """
            SELECT v.user_id,
                   v.event_id AS imp_id,
                   c.event_id AS conv_id,
                   CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS delay_us
            FROM events v JOIN events c
              ON c.user_id = v.user_id
             AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
            WHERE v.event_type = 'view' AND c.event_type = 'click'
        """,
        "bpe_roundtrip": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(len(list_filter(
                        string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                        t -> t != '')) AS BIGINT) AS n_tokens,
                   TRUE AS roundtrip_ok
            FROM documents
        """,
        "text_search": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
            WHERE list_contains(string_split_regex(lower(text), '[^a-z0-9]+'), 'spark')
              AND list_contains(string_split_regex(lower(text), '[^a-z0-9]+'), 'window')
              AND list_contains(string_split_regex(lower(text), '[^a-z0-9]+'), 'hash')
        """,
        "trend_fit": """
            WITH pts AS (
                SELECT event_type AS key, epoch_us(ts) AS e,
                       CAST(round(value * 100) AS BIGINT) AS v
                FROM events WHERE value IS NOT NULL),
            anchor AS (SELECT MIN(e) AS a FROM pts),
            tt AS (
                SELECT key, CAST(floor((e - a) / 60000000) AS BIGINT) AS t, v
                FROM pts, anchor),
            stats AS (
                SELECT key,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(t) AS BIGINT) AS st,
                       CAST(SUM(v) AS BIGINT) AS sv,
                       CAST(SUM(t * v) AS BIGINT) AS stv,
                       CAST(SUM(t * t) AS BIGINT) AS stt,
                       CAST(SUM(v * v) AS BIGINT) AS svv
                FROM tt GROUP BY key),
            d AS (
                SELECT *,
                       CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                         - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) AS den,
                       CAST(n AS DOUBLE) * CAST(stv AS DOUBLE)
                         - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE) AS num,
                       CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                         - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) AS vden
                FROM stats)
            SELECT key, n, st, sv, stv, stt, svv,
                   CASE WHEN den > 0 THEN (num / den) / 100.0 END AS slope,
                   CASE WHEN den > 0 THEN
                     ((CAST(sv AS DOUBLE) - (num / den) * CAST(st AS DOUBLE))
                        / CAST(n AS DOUBLE)) / 100.0 END AS intercept,
                   CASE WHEN den > 0 AND vden > 0 THEN
                     (num * num) / (den * vden) END AS r2
            FROM d
        """,
        "series_corr": """
            WITH s AS (
                SELECT event_type AS k, date_trunc('minute', ts) AS t,
                       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
                FROM events GROUP BY 1, 2),
            p AS (
                SELECT a.k AS key_a, b.k AS key_b, a.v AS x, b.v AS y
                FROM s a JOIN s b ON a.t = b.t AND a.k < b.k),
            st AS (
                SELECT key_a, key_b,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx,
                       CAST(SUM(y * y) AS BIGINT) AS syy
                FROM p GROUP BY key_a, key_b)
            SELECT key_a, key_b, n, sx, sy, sxy, sxx, syy,
                   CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                  * CAST(n * syy - sy * sy AS DOUBLE)) > 0
                        THEN CAST(n * sxy - sx * sy AS DOUBLE)
                             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                    * CAST(n * syy - sy * sy AS DOUBLE))
                        ELSE NULL END AS r
            FROM st
        """,
        "lang_drift": """
            WITH a AS (
                SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_a FROM documents
                WHERE source IN ('src0','src1','src2','src3','src4')
                  AND lang IS NOT NULL GROUP BY lang),
            b AS (
                SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_b FROM documents
                WHERE source NOT IN ('src0','src1','src2','src3','src4')
                  AND lang IS NOT NULL GROUP BY lang),
            j AS (
                SELECT COALESCE(a.lang, b.lang) AS category,
                       COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
                FROM a FULL OUTER JOIN b ON a.lang = b.lang),
            t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
                         CAST(SUM(n_b) AS BIGINT) AS tb FROM j)
            SELECT category, n_a, n_b,
                   CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE) AS share_a,
                   CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS share_b,
                   CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
                       - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS share_diff
            FROM j, t
        """,
        "interval_coverage": """
            WITH iv AS (
                SELECT event_type AS k,
                       epoch_us(ts) // 1000000 AS s,
                       epoch_us(ts) // 1000000 + 1 + event_id % 300 AS e
                FROM events),
            f AS (
                SELECT k, s, e,
                       CASE WHEN MAX(e) OVER (PARTITION BY k ORDER BY s, e
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) IS NULL
                              OR s > MAX(e) OVER (PARTITION BY k ORDER BY s, e
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING)
                            THEN 1 ELSE 0 END AS newi
                FROM iv),
            g AS (
                SELECT k, s, e,
                       SUM(newi) OVER (PARTITION BY k ORDER BY s, e
                                       ROWS UNBOUNDED PRECEDING) AS island
                FROM f),
            isl AS (
                SELECT k, island, COUNT(*) AS n, MAX(e) - MIN(s) AS len
                FROM g GROUP BY k, island)
            SELECT k AS event_type,
                   CAST(SUM(n) AS BIGINT) AS n_intervals,
                   CAST(COUNT(*) AS BIGINT) AS n_islands,
                   CAST(SUM(len) AS BIGINT) AS covered_seconds
            FROM isl GROUP BY k
        """,
        "value_drift": """
            WITH g AS (SELECT * FROM range(12) AS t(bucket)),
            a AS (
                SELECT LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 50.0)
                                           AS BIGINT), 0), 11) AS bucket
                FROM events
                WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
            b AS (
                SELECT LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 50.0)
                                           AS BIGINT), 0), 11) AS bucket
                FROM events
                WHERE value IS NOT NULL AND event_type NOT IN ('click', 'view')),
            ca AS (SELECT CAST(g.bucket AS BIGINT) AS bucket,
                          CAST(COUNT(a.bucket) AS BIGINT) AS n_a
                   FROM g LEFT JOIN a ON a.bucket = g.bucket GROUP BY g.bucket),
            cb AS (SELECT CAST(g.bucket AS BIGINT) AS bucket,
                          CAST(COUNT(b.bucket) AS BIGINT) AS n_b
                   FROM g LEFT JOIN b ON b.bucket = g.bucket GROUP BY g.bucket),
            j AS (SELECT ca.bucket, n_a, n_b FROM ca JOIN cb USING (bucket)),
            t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
                         CAST(SUM(n_b) AS BIGINT) AS tb FROM j)
            SELECT bucket, n_a, n_b,
                   CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE) AS share_a,
                   CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS share_b,
                   CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
                       - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS share_diff
            FROM j, t
        """,
        "seasonal_baseline": """
            WITH x AS (
                SELECT event_type,
                       CAST((isodow(ts) - 1) * 24 + hour(ts) AS INT) AS bucket,
                       CAST(round(value * 100) AS BIGINT) AS c
                FROM events WHERE value IS NOT NULL),
            st AS (
                SELECT event_type, bucket,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(c) AS BIGINT) AS sum_cents,
                       CAST(SUM(c * c) AS BIGINT) AS sumsq_cents
                FROM x GROUP BY event_type, bucket)
            SELECT event_type, bucket, n, sum_cents, sumsq_cents,
                   CAST(sum_cents AS DOUBLE) / n / 100.0 AS mean,
                   sqrt(GREATEST(CAST(n * sumsq_cents
                                      - sum_cents * sum_cents AS DOUBLE), 0.0))
                       / n / 100.0 AS std,
                   'hour_of_week' AS period
            FROM st
        """,
        "prefix_jaccard": _SHINGLE_PAIRS_ORACLE.format(thr=0.35),
        "cube_doc_stats": cube_oracle_sql(
            "SELECT lang, source, n_chars FROM documents",
            ["lang", "source"],
            {"docs": "CAST(COUNT(*) AS BIGINT)",
             "chars": "CAST(SUM(n_chars) AS BIGINT)"},
        ),
        "ccf_sweep": ccf_oracle_sql(
            "SELECT * FROM ("
            "SELECT event_type AS key, date_trunc('minute', ts) AS ts, "
            "CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c "
            "FROM events GROUP BY 1, 2) WHERE c IS NOT NULL",
            "'click'", "'view'", max_lag=5,
        ),
        "seasonal_score": """
            WITH x AS (
                SELECT event_type, ts, value,
                       CAST((isodow(ts) - 1) * 24 + hour(ts) AS INT) AS bucket,
                       CAST(round(value * 100) AS BIGINT) AS c
                FROM events),
            st AS (
                SELECT event_type, bucket,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(c) AS BIGINT) AS sum_cents,
                       CAST(SUM(c * c) AS BIGINT) AS sumsq_cents
                FROM x WHERE value IS NOT NULL GROUP BY 1, 2),
            b AS (
                SELECT event_type, bucket,
                       CAST(sum_cents AS DOUBLE) / n / 100.0 AS mean,
                       sqrt(GREATEST(CAST(n * sumsq_cents
                                          - sum_cents * sum_cents AS DOUBLE),
                                     0.0)) / n / 100.0 AS std
                FROM st WHERE n >= 3)
            SELECT x.event_type, x.ts, x.value, x.bucket, b.mean, b.std,
                   CASE WHEN b.std > 0 THEN (x.value - b.mean) / b.std
                   END AS sigmas
            FROM x LEFT JOIN b
              ON x.event_type = b.event_type AND x.bucket = b.bucket
        """,
        "changepoint_split": """
            WITH s AS (
                SELECT event_type AS k, date_trunc('minute', ts) AS t,
                       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
                FROM events GROUP BY 1, 2),
            b AS (
                SELECT k, t, v,
                       row_number() OVER w AS rn,
                       CAST(SUM(v) OVER (PARTITION BY k ORDER BY t, v
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                       lead(t) OVER w AS next_t,
                       CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n_tot,
                       CAST(SUM(v) OVER (PARTITION BY k) AS BIGINT) AS s_tot
                FROM s
                WINDOW w AS (PARTITION BY k ORDER BY t, v)),
            g AS (
                SELECT k, CAST(rn AS INTEGER) AS cp_index, next_t AS cp_time,
                       CAST(rn AS INTEGER) AS n_left,
                       CAST(n_tot - rn AS BIGINT) AS n_right,
                       cum AS sum_left, CAST(s_tot - cum AS BIGINT) AS sum_right,
                       ((CAST(cum AS DOUBLE) * CAST(cum AS DOUBLE)) / rn
                        + (CAST(s_tot - cum AS DOUBLE) * CAST(s_tot - cum AS DOUBLE))
                          / (n_tot - rn))
                       - (CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)) / n_tot
                       AS gain
                FROM b WHERE rn >= 5 AND rn <= n_tot - 5)
            SELECT k AS event_type, cp_index, cp_time, n_left, n_right,
                   sum_left, sum_right, gain
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY k ORDER BY gain DESC, cp_index ASC) AS rk
                  FROM g)
            WHERE rk = 1
        """,
        "cusum_drift": """
            WITH s AS (
                SELECT event_type AS k, date_trunc('minute', ts) AS t,
                       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
                FROM events GROUP BY 1, 2),
            c AS (
                SELECT k, t, v,
                       CAST(SUM(v - 6000) OVER w AS BIGINT) AS cu,
                       CAST(SUM(v - 4000) OVER w AS BIGINT) AS cd
                FROM s
                WINDOW w AS (PARTITION BY k ORDER BY t, v
                             ROWS UNBOUNDED PRECEDING)),
            u AS (
                SELECT k, t, v,
                       cu - LEAST(CAST(MIN(cu) OVER w AS BIGINT), 0) AS up,
                       GREATEST(CAST(MAX(cd) OVER w AS BIGINT), 0) - cd AS down
                FROM c
                WINDOW w AS (PARTITION BY k ORDER BY t, v
                             ROWS UNBOUNDED PRECEDING))
            SELECT k AS event_type, t AS window_start, v AS value_cents,
                   CAST(up AS DOUBLE) AS cusum_up,
                   CAST(down AS DOUBLE) AS cusum_down,
                   (up > 50000 OR down > 50000) AS alarm
            FROM u
        """,
        "lead_lag_corr": """
            WITH s AS (
                SELECT event_type AS k, date_trunc('minute', ts) AS t,
                       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
                FROM events GROUP BY 1, 2),
            lags AS (SELECT * FROM (VALUES (-120), (0), (120), (3600))
                     AS l(lag_seconds)),
            a AS (
                SELECT l.lag_seconds,
                       s.t + l.lag_seconds * INTERVAL 1 SECOND AS ts,
                       s.v AS x
                FROM s, lags l WHERE s.k = 'click'),
            b AS (SELECT t AS tb, v AS y FROM s WHERE k = 'view'),
            p AS (SELECT lag_seconds, x, y FROM a JOIN b ON a.ts = b.tb),
            st AS (
                SELECT lag_seconds,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx,
                       CAST(SUM(y * y) AS BIGINT) AS syy
                FROM p GROUP BY lag_seconds)
            SELECT CAST(lag_seconds AS INT) AS lag_seconds,
                   n, sx, sy, sxy, sxx, syy,
                   CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                  * CAST(n * syy - sy * sy AS DOUBLE)) > 0
                        THEN CAST(n * sxy - sx * sy AS DOUBLE)
                             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                    * CAST(n * syy - sy * sy AS DOUBLE))
                        ELSE NULL END AS r
            FROM st
        """,
        "profile_events": """
            SELECT 'event_id' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                   CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
                   CAST(MIN(event_id) AS VARCHAR) AS min_val,
                   CAST(MAX(event_id) AS VARCHAR) AS max_val
            FROM events
            UNION ALL
            SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT user_id) AS BIGINT),
                   CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
            FROM events
            UNION ALL
            SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT event_type) AS BIGINT),
                   CAST(MIN(event_type) AS VARCHAR), CAST(MAX(event_type) AS VARCHAR)
            FROM events
            UNION ALL
            SELECT 'value', CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT value) AS BIGINT),
                   CAST(MIN(value) AS VARCHAR), CAST(MAX(value) AS VARCHAR)
            FROM events
        """,
        "value_histogram": """
            WITH b AS (
                SELECT LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 50.0) AS BIGINT),
                                      0), 11) AS bucket
                FROM events WHERE value IS NOT NULL),
            g AS (SELECT * FROM range(12) AS t(bucket))
            SELECT CAST(g.bucket AS BIGINT) AS bucket,
                   CAST(COUNT(b.bucket) AS BIGINT) AS n
            FROM g LEFT JOIN b ON b.bucket = g.bucket
            GROUP BY g.bucket
        """,
        "sessionize_events": """
            WITH o AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                 IS NULL
                              OR ts - lag(ts) OVER (PARTITION BY user_id
                                                    ORDER BY ts)
                                 >= INTERVAL 24 HOUR
                            THEN 1 ELSE 0 END AS brk
                FROM events),
            s AS (
                SELECT user_id, ts,
                       SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
                FROM o)
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        "phrase_search": """
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(lower(text), '[^a-z0-9]+') AS l
                FROM documents),
            tok AS (
                SELECT doc_id, unnest(l) AS tok,
                       generate_subscripts(l, 1) AS ord
                FROM toks)
            SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS doc_id
            FROM tok a JOIN tok b
              ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
            WHERE a.tok = 'spark' AND b.tok = 'window'
        """,
        "proximity_search": """
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(lower(text), '[^a-z0-9]+') AS l
                FROM documents),
            tok AS (
                SELECT doc_id, unnest(l) AS tok,
                       generate_subscripts(l, 1) AS ord
                FROM toks)
            SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS doc_id
            FROM tok a JOIN tok b
              ON a.doc_id = b.doc_id AND abs(a.ord - b.ord) <= 3
            WHERE a.tok = 'spark' AND b.tok = 'hash'
        """,
        "term_stats": """
            WITH t AS (
                SELECT doc_id, u.tok
                FROM documents,
                     unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(tok)
                WHERE u.tok IN ('spark', 'window', 'hash', 'merge'))
            SELECT tok AS token,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
                   CAST(COUNT(*) AS BIGINT) AS tf_total
            FROM t GROUP BY tok
        """,
        "doc_keywords": doc_keywords_oracle_sql(
            """
            SELECT doc_id, tok AS token, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, u.tok
                  FROM documents,
                       unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(tok)
                  WHERE u.tok <> '')
            GROUP BY doc_id, tok
            """,
            k=3,
        ),
        "paragraph_dedup": """
            WITH docs2 AS (
                SELECT doc_id,
                       substr(text, 1, 40) || chr(10) || chr(10)
                       || 'ACCEPT COOKIES to continue reading this page'
                       || chr(10) || chr(10)
                       || substr(text, 61, 20 + doc_id % 10) AS text
                FROM documents),
            ps AS (
                SELECT doc_id, string_split(text, chr(10) || chr(10)) AS l
                FROM docs2),
            p AS (
                SELECT doc_id, unnest(l) AS para,
                       CAST(generate_subscripts(l, 1) AS BIGINT) - 1 AS pos
                FROM ps),
            f AS (
                SELECT doc_id, pos, para,
                       row_number() OVER (
                           PARTITION BY para ORDER BY doc_id, pos) AS rn
                FROM p WHERE para <> ''),
            keep AS (
                SELECT doc_id, pos, para FROM f WHERE rn = 1
                UNION ALL
                SELECT doc_id, pos, para FROM p WHERE para = '')
            SELECT d.doc_id,
                   COALESCE(string_agg(k.para, chr(10) || chr(10) ORDER BY k.pos), '')
                       AS text
            FROM docs2 d LEFT JOIN keep k ON d.doc_id = k.doc_id
            GROUP BY d.doc_id
        """,
        "kmv_churned_users": """
            WITH d AS (
                SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
            n AS (SELECT day, CAST(count(*) AS BIGINT) AS na FROM d GROUP BY day),
            i AS (
                SELECT a.day AS day, CAST(count(*) AS BIGINT) AS inter
                FROM d a JOIN d b
                  ON b.user_id = a.user_id AND b.day = a.day + 1
                GROUP BY a.day)
            SELECT n1.day AS day,
                   CAST(n1.na - COALESCE(i.inter, 0) AS BIGINT) AS exact_churn,
                   CAST(n1.na + n2.na - COALESCE(i.inter, 0) AS BIGINT)
                       AS exact_union,
                   TRUE AS churn_ok
            FROM n n1
            JOIN n n2 ON n2.day = n1.day + 1
            LEFT JOIN i ON i.day = n1.day
        """,
        "salted_join": """
            WITH dim AS (
                SELECT event_type,
                       CAST(count(*) AS BIGINT) AS type_total,
                       CAST(length(event_type) AS BIGINT) AS type_rank
                FROM events GROUP BY event_type)
            SELECT e.event_id, e.event_type, d.type_total, d.type_rank
            FROM events e JOIN dim d ON e.event_type = d.event_type
        """,
        "hilbert_key": """
            WITH RECURSIVE pts AS (
                SELECT doc_id,
                       CAST(doc_id % 32 AS BIGINT) AS cx,
                       CAST(n_chars % 32 AS BIGINT) AS cy
                FROM documents),
            h AS (
                SELECT doc_id, cx AS x, cy AS y,
                       CAST(16 AS BIGINT) AS s, CAST(0 AS BIGINT) AS d
                FROM pts
                UNION ALL
                SELECT doc_id,
                       CASE WHEN ry = 0
                            THEN (CASE WHEN rx = 1 THEN 31 - y ELSE y END)
                            ELSE x END AS x,
                       CASE WHEN ry = 0
                            THEN (CASE WHEN rx = 1 THEN 31 - x ELSE x END)
                            ELSE y END AS y,
                       s // 2 AS s,
                       d + s * s * xor(3 * rx, ry) AS d
                FROM (SELECT doc_id, x, y, s, d,
                             CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END AS rx,
                             CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END AS ry
                      FROM h WHERE s > 0))
            SELECT p.doc_id, p.cx, p.cy, h.d AS hkey
            FROM pts p JOIN h ON p.doc_id = h.doc_id AND h.s = 0
        """,
        "epoch_shuffle": """
            SELECT doc_id,
                   md5(CAST(doc_id AS VARCHAR) || ':7:1') AS sort_key,
                   CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7:1'), 29, 4)) AS BIGINT) % 8
                        AS INTEGER) AS shard
            FROM documents
        """,
        "crawl_schedule": """
            WITH f AS (
                SELECT 'https://' || event_type || '.example/' || CAST(event_id AS VARCHAR) AS url,
                       event_type || '.example' AS host,
                       user_id % 7 AS prio
                FROM events),
            ranked AS (
                SELECT url, host,
                       CAST(row_number() OVER (
                           PARTITION BY host ORDER BY prio DESC, url ASC) - 1
                            AS BIGINT) AS slot
                FROM f)
            SELECT url, host, slot,
                   CAST(slot * 250 AS BIGINT) AS fetch_offset_ms,
                   CAST(ascii(substr(md5(host), 1, 1)) % 16 AS INTEGER) AS fetcher
            FROM ranked WHERE slot < 40
        """,
        "classifier_score": """
            WITH lex(token, weight) AS (
                VALUES ('spark', 8), ('fast', 6), ('join', 3), ('hash', 2),
                       ('slow', -5), ('dup', -9)),
            toks AS (
                SELECT doc_id, u.tok
                FROM documents,
                     unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(tok)
                WHERE u.tok <> ''),
            contrib AS (
                SELECT t.doc_id, CAST(SUM(l.weight) AS BIGINT) AS s
                FROM toks t JOIN lex l ON t.tok = l.token
                GROUP BY t.doc_id),
            ntok AS (
                SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
                FROM toks GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(n.n_tokens, 0) AS n_tokens,
                   CAST(COALESCE(c.s, 0) + 1 AS BIGINT) AS score,
                   (COALESCE(c.s, 0) + 1 >= 10) AS keep
            FROM documents d
            LEFT JOIN ntok n ON d.doc_id = n.doc_id
            LEFT JOIN contrib c ON d.doc_id = c.doc_id
        """,
        "semantic_decontam": """
            WITH ev AS (
                SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 17 = 3),
            c AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            s AS (
                SELECT c.vec_id, ev.eval_id,
                       round(list_dot_product(c.v, ev.v)
                             / NULLIF(sqrt(list_dot_product(c.v, c.v))
                                      * sqrt(list_dot_product(ev.v, ev.v)), 0.0),
                             3) AS sim
                FROM c, ev),
            best AS (
                SELECT vec_id, sim, eval_id FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY vec_id
                        ORDER BY sim DESC, eval_id DESC) AS rn
                    FROM s WHERE sim IS NOT NULL) WHERE rn = 1)
            SELECT c2.vec_id,
                   best.sim AS max_eval_sim,
                   best.eval_id AS matched_eval_id,
                   COALESCE(best.sim >= 0.9, FALSE) AS contaminated
            FROM (SELECT DISTINCT vec_id FROM embeddings) c2
            LEFT JOIN best ON c2.vec_id = best.vec_id
        """,
        "postings_roundtrip": """
            SELECT tok AS token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, u.tok
                  FROM documents,
                       unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(tok)
                  WHERE u.tok <> '' AND regexp_matches(u.tok, '^[jqxz]'))
            GROUP BY tok, doc_id
        """,
        "postings_blocks": """
            WITH p AS (
                SELECT tok AS token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, u.tok
                      FROM documents,
                           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(tok)
                      WHERE u.tok <> '' AND regexp_matches(u.tok, '^[sv]'))
                GROUP BY tok, doc_id)
            SELECT token,
                   CAST(doc_id // 128 AS BIGINT) AS block,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(MIN(doc_id) AS BIGINT) AS min_doc,
                   CAST(MAX(doc_id) AS BIGINT) AS max_doc,
                   TRUE AS compressed
            FROM p GROUP BY token, block
        """,
        "merge_upsert_roundtrip": """
            WITH u AS (
                SELECT event_id, ts, value + 1000.0 AS value
                FROM events WHERE event_id % 10 = 3
                UNION ALL
                SELECT event_id + 10000000, ts, value * 2.0
                FROM events WHERE event_id % 97 = 0)
            SELECT e.event_id, e.ts, e.value FROM events e
            WHERE NOT EXISTS (
                SELECT 1 FROM u WHERE u.event_id = e.event_id AND u.ts = e.ts)
            UNION ALL
            SELECT event_id, ts, value FROM u
        """,
        "stream_upsert_apply": """
            WITH u AS (
                SELECT event_id, ts, value + 3000.0 AS value
                FROM events WHERE event_id % 10 = 3
                UNION ALL
                SELECT event_id + 10000000, ts, value * 4.0
                FROM events WHERE event_id % 97 = 0)
            SELECT e.event_id, e.ts, e.value FROM events e
            WHERE NOT EXISTS (
                SELECT 1 FROM u WHERE u.event_id = e.event_id AND u.ts = e.ts)
            UNION ALL
            SELECT event_id, ts, value FROM u
        """,
        "winnowing_fps": """
            WITH t AS (
                SELECT doc_id, text, greatest(length(text) - 5 + 1, 1) AS G
                FROM documents),
            h AS (
                SELECT doc_id, G,
                       list_transform(generate_series(1, G),
                           i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 5)), 1, 8)) AS BIGINT)) AS hs
                FROM t),
            w AS (
                SELECT doc_id,
                       list_distinct(list_transform(generate_series(1, greatest(G - 4 + 1, 1)),
                           j -> list_aggregate(hs[j:j+3], 'min'))) AS fps
                FROM h)
            SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
                   list_aggregate(fps, 'min') AS fp_min,
                   list_aggregate(fps, 'max') AS fp_max
            FROM w
        """,
        "media_frames": """
            SELECT doc_id, CAST(i AS INT) AS frame_idx,
                   md5(text || ':' || CAST(i AS VARCHAR)) AS frame_hex
            FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS i)
        """,
        "doc_repetition": r"""
            WITH t AS (
                SELECT doc_id, text,
                       regexp_split_to_array(trim(lower(text)), '\s+') AS l,
                       str_split(text, chr(10)) AS ln
                FROM documents),
            b AS (
                SELECT doc_id, len(l) AS nt,
                       list_transform(generate_series(1, greatest(len(l) - 1, 1)),
                                      i -> concat_ws(' ', l[i], l[i+1])) AS bg
                FROM t),
            bge AS (SELECT doc_id, len(bg) AS nb, unnest(bg) AS g FROM b),
            bigr AS (
                SELECT doc_id, any_value(nb) AS nb, max(cnt) AS mx FROM (
                    SELECT doc_id, nb, g, count(*) AS cnt FROM bge GROUP BY 1, 2, 3)
                GROUP BY doc_id),
            te AS (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(l)),
                                             i -> {'g': l[i], 'o': i})) AS u
                FROM t),
            runs AS (
                SELECT doc_id, max(rl) AS mr FROM (
                    SELECT doc_id, count(*) AS rl FROM (
                        SELECT doc_id, u.g AS g, u.o AS o,
                               u.o - row_number() OVER (PARTITION BY doc_id, u.g ORDER BY u.o) AS grp
                        FROM te)
                    GROUP BY doc_id, g, grp)
                GROUP BY doc_id)
            SELECT t.doc_id,
                   CASE WHEN len(ln) <= 1 THEN 0.0
                        ELSE 1.0 - CAST(len(list_distinct(ln)) AS DOUBLE) / len(ln) END AS dup_line_frac,
                   CASE WHEN b.nt < 2 THEN 0.0
                        ELSE CAST(bigr.mx AS DOUBLE) / bigr.nb END AS top_bigram_frac,
                   CAST(CASE WHEN length(trim(t.text)) = 0 THEN 0 ELSE runs.mr END AS BIGINT) AS max_token_run,
                   CASE WHEN length(trim(t.text)) = 0 THEN 0.0
                        ELSE CAST(length(regexp_replace(t.text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
                             / len(l) END AS symbol_ratio
            FROM t
            JOIN b ON t.doc_id = b.doc_id
            JOIN bigr ON t.doc_id = bigr.doc_id
            JOIN runs ON t.doc_id = runs.doc_id
        """,
        "sessions_batch": """
            WITH o AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                            THEN 1 ELSE 0 END AS s
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            g AS (
                SELECT user_id, ts,
                       sum(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
                FROM o)
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events,
                   (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000 AS duration_ms
            FROM g GROUP BY 1, 2
        """,
        "pii_redaction": r"""
            WITH d AS (
                SELECT doc_id,
                       text || ' reach user' || CAST(doc_id AS VARCHAR)
                            || '@example.com from 10.1.2.'
                            || CAST(doc_id % 256 AS VARCHAR)
                            || ' card 4111111111'
                            || lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0') AS t
                FROM documents),
            r1 AS (SELECT doc_id, t,
                          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                                         '<EMAIL>', 'g') AS t1
                   FROM d),
            r2 AS (SELECT doc_id, t, t1,
                          regexp_replace(t1, '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2
                   FROM r1)
            SELECT doc_id,
                   regexp_replace(t2, '\b\d{13,19}\b', '<NUMBER>', 'g') AS clean_text,
                   CAST(len(regexp_extract_all(t,  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(t1, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
                   CAST(len(regexp_extract_all(t2, '\b\d{13,19}\b')) AS BIGINT) AS n_number
            FROM r2
        """,
        "boilerplate_lines": """
            WITH d AS (
                SELECT doc_id,
                       'BOILERPLATE HEADER' || chr(10) || text ||
                       (CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'SHARED FOOTER'
                             ELSE '' END) AS text
                FROM documents),
            t AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM d),
            e AS (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM t),
            x AS (SELECT doc_id, i, l[i] AS ln FROM e),
            f AS (SELECT ln FROM (
                      SELECT ln, count(DISTINCT doc_id) AS dfreq FROM x GROUP BY 1)
                  WHERE dfreq >= 2 AND len(ln) > 0),
            k AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY i) AS clean_text,
                         count(*) AS n_kept
                  FROM x WHERE ln NOT IN (SELECT ln FROM f) GROUP BY 1)
            SELECT t.doc_id, COALESCE(k.clean_text, '') AS clean_text,
                   CAST(len(t.l) AS BIGINT) AS n_lines,
                   CAST(len(t.l) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed
            FROM t LEFT JOIN k USING (doc_id)
        """,
        "mixture_sample": """
            SELECT doc_id, source
            FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8)) AS BIGINT)
                  / 4294967296.0
                  < (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.4 ELSE 0.05 END)
        """,
        "weighted_sample": """
            SELECT doc_id, source
            FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8)) AS BIGINT)
                  / 4294967296.0
                  < LEAST(1.0, 0.8 * LEAST(1.0, length(text) / 2000.0))
        """,
        "upsample_mixture": """
            WITH f AS (
                SELECT doc_id, source,
                       (CASE source WHEN 'src0' THEN 2.45
                                    WHEN 'src1' THEN 1.0 ELSE 0.6 END) AS fac,
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8)) AS BIGINT)
                           / 4294967296.0 AS u
                FROM documents),
            n AS (
                SELECT doc_id, source,
                       CAST(FLOOR(fac) + (CASE WHEN u < fac - FLOOR(fac) THEN 1 ELSE 0 END) AS BIGINT) AS n_copies
                FROM f)
            SELECT doc_id, source,
                   CAST(unnest(generate_series(0, n_copies - 1)) AS BIGINT) AS copy_idx
            FROM n WHERE n_copies >= 1
        """,
        "priority_sample": """
            WITH p AS (
                SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
                       CAST(n_chars AS DOUBLE)
                       / (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8)) AS BIGINT)
                          / 4294967296.0) AS priority
                FROM documents WHERE n_chars > 0),
            r AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rn FROM p),
            t AS (SELECT COALESCE(MIN(CASE WHEN rn = 41 THEN priority END), 0.0) AS tau FROM r)
            SELECT doc_id, weight, priority, GREATEST(weight, tau) AS est_w
            FROM r, t WHERE rn <= 40
        """,
        "decontaminate": r"""
            WITH t AS (
                SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS l
                FROM documents),
            g AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           generate_series(1, greatest(len(l) - 4, 1)),
                           i -> concat_ws(' ', l[i], l[i+1], l[i+2], l[i+3], l[i+4])))) AS gram
                FROM t),
            e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0)
            SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
            FROM g JOIN e USING (gram)
            WHERE g.doc_id % 7 <> 0
            GROUP BY 1
        """,
        "token_packing": f"""
            WITH s AS (
                SELECT doc_id, CAST({_NTOK} AS BIGINT) AS n_tokens
                FROM documents),
            o AS (
                SELECT doc_id, n_tokens,
                       CAST(COALESCE(sum(n_tokens) OVER (
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            AS BIGINT) AS start_offset
                FROM s)
            SELECT doc_id, n_tokens, start_offset,
                   start_offset // 2048 AS sample_id,
                   CASE WHEN n_tokens > 0
                        THEN ((start_offset + n_tokens - 1) // 2048) <> (start_offset // 2048)
                        ELSE FALSE END AS crosses_boundary
            FROM o
        """,
        "stratified_sample": """
            WITH v AS (
                SELECT doc_id, source,
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8)) AS BIGINT)
                         / 4294967296.0 AS u
                FROM documents),
            r AS (
                SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rn
                FROM v)
            SELECT doc_id, source FROM r WHERE rn <= 30
        """,
        "train_eval_split": """
            SELECT doc_id,
                   CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8)) AS BIGINT)
                             / 4294967296.0 < 0.9
                        THEN 'train' ELSE 'eval' END AS split
            FROM documents
        """,
        "rollup_1h_ddsketch": """
            SELECT event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                   count(*) AS n_events,
                   TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
            FROM events GROUP BY 1, 2
        """,
        "corpus_filter": f"""
            WITH s AS (
                SELECT doc_id, text,
                       CAST({_NTOK} AS BIGINT) AS ws_tokens,
                       least(1.0, length(text) / 1000.0) * 0.5
                         + least(1.0, (CASE WHEN {_NTOK} = 0 THEN 0.0
                                       ELSE CAST({_HITS} AS DOUBLE) / {_NTOK} END) * 5.0) * 0.5
                         AS quality,
                       CASE WHEN {_NTOK} > 0 AND CAST({_HITS} AS DOUBLE) / {_NTOK} >= 0.05
                            THEN 'en' ELSE 'und' END AS pred_lang
                FROM documents),
            k AS (
                -- gates BEFORE the min-id dedup, matching corpus_filter's
                -- contract: the survivor is the first ADMITTED copy. (A
                -- min-over-all-copies oracle would diverge when copies share
                -- a fingerprint but differ in raw text, e.g. trailing
                -- whitespace changing quality_score across the gate.)
                SELECT min(doc_id) AS keep_id
                FROM s
                WHERE ws_tokens BETWEEN 5 AND 100000
                  AND quality >= 0.3 AND pred_lang = 'en'
                GROUP BY md5(lower(trim(text))))
            SELECT doc_id, ws_tokens, quality
            FROM s JOIN k ON s.doc_id = k.keep_id
        """,
        "geo_bbox": """
            WITH p AS (
                SELECT event_id,
                       (value % 360) - 180 AS lon,
                       ((user_id * CAST(7.3 AS DOUBLE)) % 180) - 90 AS lat
                FROM events)
            SELECT event_id, lon, lat FROM p
            WHERE lon >= -50.3 AND lon <= 60.1 AND lat >= -20.7 AND lat <= 45.9
        """,
        "asof_join": """
            WITH err AS (
                SELECT user_id, ts, max_by(value, event_id) AS err_value
                FROM events WHERE event_type = 'error' GROUP BY user_id, ts)
            SELECT e.event_id, e.user_id, e.ts, e.value, err.err_value AS err_value_asof
            FROM events e ASOF LEFT JOIN err
              ON e.user_id = err.user_id AND e.ts >= err.ts
        """,
        "tswide_hourly": """
            SELECT date_trunc('hour', ts) AS window_start,
                   count(*) FILTER (WHERE event_type = 'click') AS click_n,
                   count(*) FILTER (WHERE event_type = 'error') AS error_n,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchase_n,
                   count(*) FILTER (WHERE event_type = 'signup') AS signup_n,
                   count(*) FILTER (WHERE event_type = 'view') AS view_n
            FROM events GROUP BY 1
        """,
        "datetime_parts": """
            SELECT event_id,
                   CAST(year(ts) AS INTEGER) AS year,
                   CAST(month(ts) AS INTEGER) AS month,
                   CAST(dayofmonth(ts) AS INTEGER) AS day,
                   CAST(dayofyear(ts) AS INTEGER) AS doy,
                   CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
                   CAST(hour(ts) AS INTEGER) AS hh,
                   CAST(minute(ts) AS INTEGER) AS mm,
                   CAST(second(ts) AS INTEGER) AS ss
            FROM events
        """,
        "realtime_rollup_1h": _ROLLUP_ORACLE.format(unit="hour"),
        "retention_cohorts": """
            WITH a AS (
                SELECT DISTINCT user_id AS uid, CAST(ts AS DATE) AS day FROM events),
            c AS (
                SELECT uid, day, min(day) OVER (PARTITION BY uid) AS cohort FROM a)
            SELECT cohort,
                   CAST(datediff('day', cohort, day) AS INT) AS day_offset,
                   count(*) AS active_users
            FROM c GROUP BY 1, 2
        """,
        "funnel_steps": f"""
            WITH e AS (
                SELECT user_id AS uid, event_type AS et, epoch_us(ts) AS t FROM events
                WHERE event_type IN ('view', 'click', 'purchase')),
            s0 AS (SELECT uid, min(t) AS t0 FROM e WHERE et = 'view' GROUP BY uid),
            s1 AS (
                SELECT e.uid, min(e.t) AS t1 FROM e JOIN s0 ON e.uid = s0.uid
                WHERE e.et = 'click' AND e.t > s0.t0
                  AND e.t - s0.t0 <= {_FUNNEL_WITHIN_US}
                GROUP BY e.uid),
            s2 AS (
                SELECT e.uid, min(e.t) AS t2 FROM e
                JOIN s1 ON e.uid = s1.uid JOIN s0 ON e.uid = s0.uid
                WHERE e.et = 'purchase' AND e.t > s1.t1
                  AND e.t - s0.t0 <= {_FUNNEL_WITHIN_US}
                GROUP BY e.uid),
            u AS (SELECT DISTINCT uid FROM e)
            SELECT u.uid AS user_id, s0.t0 AS t0_us, s1.t1 AS t1_us, s2.t2 AS t2_us,
                   CAST(CASE WHEN s2.t2 IS NOT NULL THEN 3
                             WHEN s1.t1 IS NOT NULL THEN 2
                             WHEN s0.t0 IS NOT NULL THEN 1
                             ELSE 0 END AS INT) AS depth
            FROM u
            LEFT JOIN s0 ON u.uid = s0.uid
            LEFT JOIN s1 ON u.uid = s1.uid
            LEFT JOIN s2 ON u.uid = s2.uid
        """,
        "sax_words": _sax_words_oracle(),
        "holt_forecast": _holt_oracle(),
        "holt_winters_forecast": _holt_winters_oracle(),
        "term_cooccurrence": r"""
            WITH t AS (
                SELECT doc_id,
                       list_distinct(regexp_split_to_array(
                           trim(lower(text)), '\s+')) AS tk
                FROM documents
                WHERE text IS NOT NULL AND len(trim(text)) > 0),
            posts AS (SELECT doc_id, unnest(tk) AS tok FROM t),
            pairs AS (
                SELECT a.tok AS token_a, b.tok AS token_b,
                       CAST(COUNT(*) AS BIGINT) AS n_pair
                FROM posts a
                JOIN posts b ON a.doc_id = b.doc_id AND a.tok < b.tok
                GROUP BY 1, 2 HAVING COUNT(*) >= 5),
            dfreq AS (
                SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM posts
                GROUP BY 1),
            nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM t)
            SELECT p.token_a, p.token_b, p.n_pair,
                   da.df AS df_a, db.df AS df_b, nd.n_docs
            FROM pairs p
            JOIN dfreq da ON p.token_a = da.tok
            JOIN dfreq db ON p.token_b = db.tok
            CROSS JOIN nd
        """,
        "theil_sen_trend": """
            WITH ser AS (
                SELECT event_type AS key, date_trunc('hour', ts) AS t,
                       CAST(SUM(CAST(round(value * 100) AS BIGINT))
                            AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
            pts AS (
                -- floor(), not // : DuckDB's // truncates toward zero, so a
                -- pre-anchor point at a fractional minute would bucket one
                -- minute late vs Spark's F.floor (theil_sen review finding)
                SELECT key,
                       CAST(floor((epoch_us(t)
                                   - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                                  / 60000000) AS BIGINT) AS x,
                       c
                FROM ser),
            p AS (
                SELECT a.key,
                       CAST(b.c - a.c AS DOUBLE)
                         / CAST(b.x - a.x AS DOUBLE) / 100.0 AS sl
                FROM pts a JOIN pts b ON a.key = b.key AND a.x < b.x),
            sl AS (
                SELECT key, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                       round(quantile_cont(sl, 0.5), 4) + 0.0 AS slope
                FROM p GROUP BY 1),
            np AS (
                SELECT key, CAST(COUNT(*) AS BIGINT) AS n_points
                FROM pts GROUP BY 1),
            ic AS (
                SELECT pts.key,
                       round(quantile_cont(
                           CAST(pts.c AS DOUBLE) / 100.0
                             - sl.slope * CAST(pts.x AS DOUBLE), 0.5), 4)
                         + 0.0 AS intercept
                FROM pts JOIN sl ON pts.key = sl.key GROUP BY pts.key)
            SELECT np.key AS event_type, np.n_points,
                   COALESCE(sl.n_pairs, 0) AS n_pairs, sl.slope, ic.intercept
            FROM np
            LEFT JOIN sl ON np.key = sl.key
            LEFT JOIN ic ON np.key = ic.key
        """,
        "chunk_documents": r"""
            WITH t AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                FROM documents
                WHERE text IS NOT NULL AND len(trim(text)) > 0),
            s AS (
                SELECT doc_id, toks,
                       GREATEST(len(toks) - 64, 0) + 47 AS d
                FROM t)
            SELECT doc_id,
                   CAST(u // 48 AS INT) AS chunk_id,
                   CAST(len(toks[u + 1 : u + 64]) AS BIGINT) AS n_tokens,
                   array_to_string(toks[u + 1 : u + 64], ' ') AS chunk_text
            FROM s, unnest(generate_series(0, d - (d % 48), 48)) AS g(u)
        """,
        "gap_profile": """
            WITH pts AS (
                SELECT event_type, ts,
                       CAST(epoch_us(ts) // 1000000 AS BIGINT) AS e
                FROM events),
            w AS (
                SELECT event_type,
                       e - ((e % 60) + 60) % 60 AS w,
                       CAST(COUNT(*) AS BIGINT) AS rows_w,
                       MAX(e) AS last_e_w
                FROM pts GROUP BY 1, 2),
            g AS (
                SELECT event_type, w, rows_w, last_e_w,
                       w - lag(w) OVER (PARTITION BY event_type ORDER BY w)
                         - 60 AS gap
                FROM w),
            a AS (
                SELECT event_type,
                       CAST(SUM(rows_w) AS BIGINT) AS n_rows,
                       CAST(COUNT(*) AS BIGINT) AS n_windows,
                       MIN(w) AS w0, MAX(w) AS w1,
                       CAST(GREATEST(COALESCE(MAX(gap), 0), 0) AS BIGINT)
                           AS longest_gap_seconds,
                       MAX(last_e_w) AS last_e
                FROM g GROUP BY 1)
            SELECT event_type, n_rows, n_windows,
                   make_timestamp(w0 * 1000000) AS first_window,
                   make_timestamp(w1 * 1000000) AS last_window,
                   CAST((w1 - w0) / 60 + 1 AS BIGINT) AS expected_windows,
                   CAST((w1 - w0) / 60 + 1 - n_windows AS BIGINT)
                       AS missing_windows,
                   longest_gap_seconds,
                   CAST(epoch_us(TIMESTAMP '2024-06-01 00:00:00') // 1000000
                        - last_e AS BIGINT) AS age_seconds,
                   last_e + 3600
                     < epoch_us(TIMESTAMP '2024-06-01 00:00:00') // 1000000
                       AS stale
            FROM a
        """,
        "event_transitions": """
            WITH pr AS (
                SELECT event_type AS from_state,
                       lead(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS to_state
                FROM events),
            c AS (
                SELECT from_state, to_state, count(*) AS n_transitions
                FROM pr WHERE to_state IS NOT NULL GROUP BY 1, 2)
            SELECT from_state, to_state, n_transitions,
                   CAST(sum(n_transitions) OVER (PARTITION BY from_state) AS BIGINT)
                       AS n_from,
                   n_transitions / CAST(sum(n_transitions)
                       OVER (PARTITION BY from_state) AS BIGINT) AS p
            FROM c
        """,
        "hll_union_daily": """
            SELECT event_type, count(DISTINCT user_id) AS user_distinct,
                   TRUE AS merged_within_2pct
            FROM events GROUP BY event_type
        """,
        "resample_15m": """
            SELECT event_type,
                   make_timestamp(epoch_us(ts) - epoch_us(ts) % 900000000) AS window_start,
                   count(*) AS event_count,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS value_sum
            FROM events GROUP BY 1, 2
        """,
        "sliding_1h_15m": """
            WITH e AS (
                SELECT event_type, epoch_us(ts) AS t,
                       CAST(round(value * 100) AS BIGINT) AS c
                FROM events),
            x AS (
                SELECT event_type, c,
                       t - t % 900000000 - unnest(range(0, 4)) * 900000000 AS ws
                FROM e)
            SELECT event_type, make_timestamp(ws) AS window_start,
                   count(*) AS event_count,
                   CAST(sum(c) AS BIGINT) / 100.0 AS value_sum
            FROM x GROUP BY 1, 2
        """,
        "schema_evolution_roundtrip": """
            SELECT event_id, ts, value, CAST(NULL AS DOUBLE) AS value2
            FROM events WHERE event_id % 2 = 0
            UNION ALL
            SELECT event_id, ts, value, value * 2.0 AS value2
            FROM events WHERE event_id % 2 = 1
        """,
        "asof_join_forward": """
            WITH err AS (
                SELECT user_id, ts, max_by(value, event_id) AS err_value
                FROM events WHERE event_type = 'error' GROUP BY user_id, ts)
            SELECT e.event_id, e.user_id, e.ts, e.value, err.err_value AS err_value_asof
            FROM events e ASOF LEFT JOIN err
              ON e.user_id = err.user_id AND e.ts <= err.ts
        """,
        "asof_join_nearest": """
            WITH err AS (
                SELECT user_id, ts, max_by(value, event_id) AS err_value
                FROM events WHERE event_type = 'error' GROUP BY user_id, ts),
            b AS (
                SELECT e.event_id, err.ts AS bt, err.err_value AS bv
                FROM events e ASOF LEFT JOIN err
                  ON e.user_id = err.user_id AND e.ts >= err.ts),
            f AS (
                SELECT e.event_id, err.ts AS ft, err.err_value AS fv
                FROM events e ASOF LEFT JOIN err
                  ON e.user_id = err.user_id AND e.ts <= err.ts)
            SELECT e.event_id, e.user_id, e.ts, e.value,
                   CASE WHEN bv IS NOT NULL AND fv IS NOT NULL THEN
                            CASE WHEN (e.ts - bt) <= (ft - e.ts) THEN bv ELSE fv END
                        WHEN bv IS NOT NULL THEN bv
                        ELSE fv END AS err_value_asof
            FROM events e
            LEFT JOIN b ON e.event_id = b.event_id
            LEFT JOIN f ON e.event_id = f.event_id
        """,
        "top_days_per_type": """
            WITH d AS (
                SELECT event_type, CAST(ts AS DATE) AS day,
                       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
                FROM events GROUP BY 1, 2)
            SELECT event_type, day, day_cents, CAST(rnk AS INT) AS rnk FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY event_type ORDER BY day_cents DESC, day ASC) AS rnk
                FROM d)
            WHERE rnk <= 3
        """,
        "range_aggregate": f"""
            SELECT event_type,
                   TIMESTAMP '{_RANGE_T0}' AS window_start,
                   count(*) AS event_count,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS value_sum,
                   count(DISTINCT user_id) AS user_distinct,
                   round(quantile_cont(value, 0.50), 4) AS value_p50,
                   round(quantile_cont(value, 0.90), 4) AS value_p90,
                   round(quantile_cont(value, 0.99), 4) AS value_p99
            FROM events
            WHERE ts >= TIMESTAMP '{_RANGE_T0}' AND ts < TIMESTAMP '{_RANGE_T1}'
            GROUP BY event_type
        """,
        "histogram_quantile": _ph_oracle_sql(),
        "stream_histogram_1h": _ph_stream_oracle_sql(),
        "interval_union": f"""
            WITH iv AS ({_IV_BASE_SQL}),
            b AS (SELECT k, s, e, epoch_us(s) AS su, epoch_us(e) AS eu FROM iv),
            f AS (
                SELECT *, CASE WHEN max(eu) OVER wp IS NULL
                                 OR su > max(eu) OVER wp
                               THEN 1 ELSE 0 END AS neu
                FROM b
                WINDOW wp AS (PARTITION BY k ORDER BY su, eu
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
            g AS (
                SELECT *, SUM(neu) OVER (PARTITION BY k ORDER BY su, eu
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
                FROM f)
            SELECT k AS user_id, MIN(s) AS island_start, MAX(e) AS island_end,
                   CAST(COUNT(*) AS BIGINT) AS n_intervals,
                   CAST(MAX(eu) - MIN(su) AS BIGINT) AS duration_micros
            FROM g GROUP BY k, isl
        """,
        "attribution_credits": """
            WITH t AS (
                SELECT user_id, event_id AS touch_id, epoch_us(ts) AS touch_t_us
                FROM events WHERE event_type IN ('click', 'view')),
            c AS (
                SELECT user_id, event_id AS conv_id, epoch_us(ts) AS conv_t_us,
                       CAST(round(value * 100) AS BIGINT) AS v
                FROM events WHERE event_type = 'purchase'),
            j AS (
                SELECT t.user_id, t.touch_id, t.touch_t_us,
                       c.conv_id, c.conv_t_us, c.v
                FROM t JOIN c USING (user_id)
                WHERE t.touch_t_us > c.conv_t_us - 259200000000
                  AND t.touch_t_us <= c.conv_t_us),
            w AS (
                SELECT *,
                       CAST(COUNT(*) OVER (PARTITION BY user_id, conv_id)
                            AS BIGINT) AS n,
                       ROW_NUMBER() OVER (PARTITION BY user_id, conv_id
                           ORDER BY touch_t_us, touch_id) AS rn
                FROM j)
            SELECT user_id, conv_id, conv_t_us, touch_id, touch_t_us,
                   n AS n_touches,
                   CAST((v - v % n) // n
                        + CASE WHEN rn <= v % n THEN 1 ELSE 0 END
                        AS BIGINT) AS credit_cents
            FROM w
        """,
        "windowed_topk": """
            WITH a AS (
                SELECT date_trunc('hour', ts) AS window_start,
                       event_type AS key,
                       CAST(COUNT(*) AS BIGINT) AS cnt,
                       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                           AS cents
                FROM events GROUP BY 1, 2),
            r AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                    ORDER BY cents DESC, cnt DESC, key) AS rnk
                FROM a)
            SELECT window_start, key, cnt, cents, CAST(rnk AS INT) AS rnk
            FROM r WHERE rnk <= 3
        """,
        "record_linkage": """
            WITH r AS (
                SELECT doc_id, lang, source, n_chars // 100 AS band
                FROM documents),
            p AS (
                SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
                UNION ALL
                SELECT doc_id, doc_id + 97 FROM documents),
            j AS (
                SELECT p.id_a, p.id_b,
                       a.lang IS NOT DISTINCT FROM b.lang AS agree_lang,
                       a.source IS NOT DISTINCT FROM b.source AS agree_source,
                       a.band IS NOT DISTINCT FROM b.band AS agree_band
                FROM p
                JOIN r a ON a.doc_id = p.id_a
                JOIN r b ON b.doc_id = p.id_b),
            s AS (
                SELECT *,
                       CAST((CASE WHEN agree_lang THEN 1500 ELSE -800 END)
                          + (CASE WHEN agree_source THEN 700 ELSE -400 END)
                          + (CASE WHEN agree_band THEN 900 ELSE -300 END)
                          AS BIGINT) AS score_milli
                FROM j)
            SELECT id_a, id_b, agree_lang, agree_source, agree_band,
                   score_milli,
                   CASE WHEN score_milli >= 2000 THEN 'match'
                        WHEN score_milli <= -900 THEN 'non_match'
                        ELSE 'possible' END AS decision
            FROM s
        """,
        "out_of_order_profile": """
            WITH s AS (
                SELECT event_type AS key, event_id AS o, epoch_us(ts) AS t
                FROM events),
            w AS (
                SELECT key, t,
                       MAX(t) OVER (PARTITION BY key ORDER BY o
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                           AS pm
                FROM s)
            SELECT key AS event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN pm - t > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_late,
                   CAST(COALESCE(MAX(GREATEST(pm - t, 0)), 0) AS BIGINT)
                       AS max_lateness_us,
                   CAST(COALESCE(SUM(GREATEST(pm - t, 0)), 0) AS BIGINT)
                       AS sum_lateness_us
            FROM w GROUP BY 1
        """,
        "swinging_door": """
            WITH m AS (
                SELECT event_type, date_trunc('minute', ts) AS mt,
                       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                           AS cents
                FROM events GROUP BY 1, 2)
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_raw,
                   TRUE AS within_bound, TRUE AS compressed
            FROM m GROUP BY 1
        """,
        "sq8_ann": """
            WITH x AS (
                SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                       generate_subscripts(embedding, 1) - 1 AS dim
                FROM embeddings),
            b AS (SELECT dim, MIN(v) AS lo, MAX(v) AS hi FROM x GROUP BY 1),
            c AS (
                SELECT vec_id, x.dim,
                       CASE WHEN hi = lo THEN 0
                            ELSE LEAST(CAST(FLOOR((v - lo) / (hi - lo) * CAST(256.0 AS DOUBLE))
                                            AS INT), 255) END AS code
                FROM x JOIN b USING (dim)),
            d AS (
                SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
                       CAST(SUM((a.code - 128) * (q.code - 128)) AS BIGINT)
                           AS code_dot
                FROM c a JOIN c q
                  ON q.dim = a.dim AND q.vec_id < 5 AND a.vec_id <> q.vec_id
                GROUP BY 1, 2),
            r AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY code_dot DESC, neighbor_id) AS rnk
                FROM d)
            SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, code_dot
            FROM r WHERE rnk <= 10
        """,
        "conversion_paths": """
            WITH t AS (
                SELECT user_id, event_id AS touch_id, event_type AS ttype,
                       epoch_us(ts) AS touch_t_us
                FROM events WHERE event_type IN ('click', 'view')),
            c AS (
                SELECT user_id, event_id AS conv_id, epoch_us(ts) AS conv_t_us
                FROM events WHERE event_type = 'purchase'),
            j AS (
                SELECT t.user_id, t.touch_id, t.ttype, t.touch_t_us,
                       c.conv_id
                FROM t JOIN c USING (user_id)
                WHERE t.touch_t_us > c.conv_t_us - 86400000000
                  AND t.touch_t_us < c.conv_t_us),
            r AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, conv_id
                    ORDER BY touch_t_us DESC, touch_id DESC) AS rn
                FROM j),
            p AS (
                SELECT user_id, conv_id,
                       string_agg(ttype, '>' ORDER BY touch_t_us, touch_id)
                           AS path
                FROM r WHERE rn <= 3 GROUP BY 1, 2),
            a AS (
                SELECT COALESCE(p.path, '') AS path
                FROM c LEFT JOIN p USING (user_id, conv_id))
            SELECT path, CAST(COUNT(*) AS BIGINT) AS n_conversions
            FROM a GROUP BY 1
        """,
        "benford_profile": _benford_oracle_sql(),
        "calibration_report": """
            WITH s AS (
                SELECT
                    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8)) AS BIGINT)
                     % 1000000) / CAST(1000000.0 AS DOUBLE) AS prob,
                    CASE WHEN (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':43'), 1, 8)) AS BIGINT)
                               % 1000000)
                             < (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8)) AS BIGINT)
                                % 1000000)
                         THEN 1 ELSE 0 END AS label
                FROM documents),
            b AS (
                SELECT LEAST(CAST(FLOOR(prob * 10) AS INT), 9) AS bucket,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(label) AS BIGINT) AS n_pos,
                       CAST(SUM(CAST(round(prob * 1000000) AS BIGINT)) AS BIGINT)
                           AS conf_micros
                FROM s GROUP BY 1)
            SELECT bucket,
                   bucket * CAST(0.1 AS DOUBLE) AS lo,
                   (bucket + 1) * CAST(0.1 AS DOUBLE) AS hi,
                   n, n_pos, conf_micros,
                   n_pos / n AS accuracy,
                   conf_micros / CAST(1000000.0 AS DOUBLE) / n AS confidence,
                   ABS(n_pos / n - conf_micros / CAST(1000000.0 AS DOUBLE) / n) AS gap
            FROM b
        """,
        "priority_sample_groups": """
            WITH p AS (
                SELECT event_type, event_id, CAST(value AS DOUBLE) AS weight,
                       CAST(value AS DOUBLE)
                       / (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':42'), 1, 8)) AS BIGINT)
                          / 4294967296.0) AS priority
                FROM events WHERE value > 0),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY event_type
                      ORDER BY priority DESC, event_id) AS rn FROM p),
            t AS (SELECT event_type,
                         MAX(CASE WHEN rn = 21 THEN priority END) AS tau
                  FROM r WHERE rn <= 21 GROUP BY 1)
            SELECT r.event_type, r.event_id, r.weight, r.priority,
                   GREATEST(r.weight, COALESCE(t.tau, 0.0)) AS est_w
            FROM r JOIN t USING (event_type) WHERE rn <= 20
        """,
        "dsir_features": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> len(x) > 0) AS w
                FROM documents),
            u AS (SELECT doc_id, unnest(w) AS feat FROM t),
            x AS (SELECT doc_id, unnest(w) AS tok,
                         generate_subscripts(w, 1) AS i FROM t),
            b AS (SELECT a.doc_id, a.tok || ' ' || c.tok AS feat
                  FROM x a JOIN x c
                    ON c.doc_id = a.doc_id AND c.i = a.i + 1),
            fe AS (SELECT * FROM u UNION ALL SELECT * FROM b),
            fd AS (SELECT doc_id, feat, CAST(count(*) AS BIGINT) AS f
                   FROM fe GROUP BY 1, 2),
            ct AS (SELECT feat, CAST(count(*) AS BIGINT) AS ct
                   FROM fe WHERE doc_id % 7 = 0 GROUP BY 1),
            cr AS (SELECT feat, CAST(count(*) AS BIGINT) AS cr
                   FROM fe GROUP BY 1),
            p AS (SELECT fd.doc_id,
                         CAST(COUNT(*) AS BIGINT) AS n_feats,
                         CAST(SUM(fd.f) AS BIGINT) AS n_grams,
                         CAST(SUM(fd.f * COALESCE(ct.ct, 0)) AS BIGINT)
                             AS dot_target,
                         CAST(SUM(fd.f * cr.cr) AS BIGINT) AS dot_raw
                  FROM fd LEFT JOIN ct USING (feat) JOIN cr USING (feat)
                  GROUP BY 1)
            SELECT d.doc_id,
                   CAST(COALESCE(p.n_feats, 0) AS BIGINT) AS n_feats,
                   CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(COALESCE(p.dot_target, 0) AS BIGINT) AS dot_target,
                   CAST(COALESCE(p.dot_raw, 0) AS BIGINT) AS dot_raw
            FROM documents d LEFT JOIN p USING (doc_id)
        """,
        "interval_difference": f"""
            WITH bs AS (
                SELECT k, s, e, epoch_us(s) AS su, epoch_us(e) AS eu
                FROM ({_IV_BASE_SQL})),
            sb AS (
                SELECT k, s, e, epoch_us(s) AS su, epoch_us(e) AS eu
                FROM ({_IV_SUB_SQL})),
            ev AS (
                SELECT k, su AS p, s AS t, 1 AS db, 0 AS ds FROM bs
                UNION ALL SELECT k, eu, e, -1, 0 FROM bs
                UNION ALL SELECT k, su, s, 0, 1 FROM sb
                UNION ALL SELECT k, eu, e, 0, -1 FROM sb),
            a AS (
                SELECT k, p, SUM(db) AS db, SUM(ds) AS ds, MIN(t) AS ts
                FROM ev GROUP BY 1, 2),
            c AS (
                SELECT *, SUM(db) OVER wr AS b, SUM(ds) OVER wr AS sc,
                       LEAD(p) OVER wo AS np, LEAD(ts) OVER wo AS nt
                FROM a
                WINDOW wr AS (PARTITION BY k ORDER BY p
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       wo AS (PARTITION BY k ORDER BY p)),
            seg AS (SELECT * FROM c WHERE b > 0 AND sc = 0 AND np IS NOT NULL),
            m AS (
                SELECT *, CASE WHEN lag(np) OVER wo IS NULL
                                 OR lag(np) OVER wo < p
                               THEN 1 ELSE 0 END AS neu
                FROM seg WINDOW wo AS (PARTITION BY k ORDER BY p)),
            g AS (
                SELECT *, SUM(neu) OVER (PARTITION BY k ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
                FROM m)
            SELECT k AS user_id, MIN(ts) AS part_start, MAX(nt) AS part_end,
                   CAST(MAX(np) - MIN(p) AS BIGINT) AS duration_micros
            FROM g GROUP BY k, isl
        """,
        # remaining no-oracle entries: none — every query above carries a
        # DuckDB-checkable formulation (approx operators as invariants:
        # ANN recall floors, HLL error bound, LSH pairs vs exact pair SQL)
    }


def _benford_oracle_sql() -> str:
    """Digit counts from the cents string + the chi2 twin generated from
    the SAME constants and fold order (profile.benford_sql_chi2)."""
    from tstore_spark.operators.profile import benford_sql_chi2

    cases = ", ".join(
        f"CAST(COALESCE(SUM(CASE WHEN dg = '{d}' THEN 1 END), 0) AS BIGINT)"
        f" AS c_{d}"
        for d in range(1, 10)
    )
    return f"""
        WITH s AS (
            SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
            FROM events),
        d AS (
            SELECT event_type, substr(CAST(cents AS VARCHAR), 1, 1) AS dg
            FROM s WHERE cents > 0),
        a AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_total, {cases}
            FROM d GROUP BY 1)
        SELECT event_type, n_total,
               {", ".join(f"c_{d}" for d in range(1, 10))},
               {benford_sql_chi2()} AS chi2
        FROM a
    """


def _ph_stream_oracle_sql() -> str:
    """Closed-hour le-bucket counters + the SAME generated quantile CASE as
    the batch row — the streaming cascade must land on identical integers,
    hence identical interpolated bits."""
    from tstore_spark.operators.promhist import quantile_sql_case

    les = ", ".join(
        f"CAST(COALESCE(SUM(CASE WHEN value <= {b!r} THEN 1 END), 0) AS BIGINT)"
        f" AS le_{i}"
        for i, b in enumerate(_PH_BOUNDS)
    )
    qcols = ", ".join(
        f"{quantile_sql_case(q, _PH_BOUNDS)} AS q_{str(q).replace('.', '_')}"
        for q in _PH_QS
    )
    le_names = ", ".join(f"le_{i}" for i in range(len(_PH_BOUNDS)))
    return f"""
        WITH closed AS (
            SELECT * FROM events
            WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
                  <= (SELECT max(ts) FROM events)),
        bc AS (
            SELECT event_type, date_trunc('hour', ts) AS window_start,
                   CAST(COUNT(*) AS BIGINT) AS doc_count,
                   CAST(SUM(length(CAST(event_id AS VARCHAR))) AS BIGINT)
                       AS bytes_total,
                   {les},
                   CAST(COUNT(value) AS BIGINT) AS n_total
            FROM closed GROUP BY 1, 2)
        SELECT event_type, window_start, doc_count, bytes_total,
               {le_names}, n_total, {qcols}
        FROM bc
    """


_IV_BASE_SQL = """
    SELECT user_id AS k, ts AS s,
           ts + to_seconds(event_id % 900 + 60) AS e
    FROM events WHERE event_type <> 'error'
"""
_IV_SUB_SQL = """
    SELECT user_id AS k, ts AS s,
           ts + to_seconds(event_id % 300 + 30) AS e
    FROM events WHERE event_type = 'error'
"""


def _ph_oracle_sql() -> str:
    """Counter sums + the quantile CASE chain generated by the SAME helper
    the Spark expression uses (promhist.quantile_sql_case) — twin op order
    by construction, so the interpolated doubles hash-match bit-for-bit."""
    from tstore_spark.operators.promhist import quantile_sql_case

    les = ", ".join(
        f"CAST(COALESCE(SUM(CASE WHEN value <= {b!r} THEN 1 END), 0) AS BIGINT)"
        f" AS le_{i}"
        for i, b in enumerate(_PH_BOUNDS)
    )
    qcols = ", ".join(
        f"{quantile_sql_case(q, _PH_BOUNDS)} AS q_{str(q).replace('.', '_')}"
        for q in _PH_QS
    )
    le_names = ", ".join(f"le_{i}" for i in range(len(_PH_BOUNDS)))
    return f"""
        WITH bc AS (
            SELECT event_type, {les},
                   CAST(COUNT(value) AS BIGINT) AS n_total
            FROM events GROUP BY 1)
        SELECT event_type, {le_names}, n_total, {qcols}
        FROM bc
    """
