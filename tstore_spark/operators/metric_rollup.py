"""Generic tumbling-window rollup for a (key, time, value, id) event stream.

Same design as :mod:`tstore_spark.operators.rollup` (the pages-specific
flagship) but parameterized over any table shape — used for the driver's
``events`` table and any metric stream. Exactness strategy:

- **value sums in integer cents** — ``sum(cast(round(value*100) as bigint))``
  is an exact integer, so sums are bit-identical at any parallelism and any
  aggregation order (float sums are not). Exposed as ``value_sum = cents/100``.
- **mergeable exact state per window**: a (cents -> count) histogram (bounded
  by #distinct values) and the distinct-id set (bounded by #ids). 1h rows are
  re-aggregated from 1m rows, 1d from 1h — bit-identical to from-raw.
- **percentiles** from the histogram with numpy linear interpolation
  (``quantile_cont`` semantics) in a vectorized Arrow UDF; rows at that point
  are *windows*, not events.
- **two-stage histogram build**: groupBy(key, window, cents) then
  groupBy(key, window) — map-side combine everywhere, no unbounded
  collect_list of raw values, and the first stage spreads a hot key over the
  cluster (built-in salting; cf. operators/skew.py for the generic helper).

Scale note (100 TB): state size per window is O(#distinct cents values) and
O(#distinct ids) — for true high-cardinality id domains swap ``id_set`` for a
built-in HLL sketch (``id_sketch=True``: same cascade shape, mergeable).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

from tstore_spark.operators.rollup import TIERS

PCTS = (0.5, 0.9, 0.99)


@pandas_udf(ArrayType(DoubleType()))
def _cents_hist_percentiles(hist_cents: pd.Series, hist_cnts: pd.Series) -> pd.Series:
    """[p50, p90, p99] per window from the (cents, count) histogram.

    Cents are divided by 100 *before* interpolation so the interpolated value
    equals ``quantile_cont`` over the original 2-decimal doubles; the batch
    kernel vectorizes across windows (no per-window Python loop).
    """
    from tstore_spark.operators.rollup import _pcts_from_hist_batch

    return pd.Series(_pcts_from_hist_batch(list(hist_cents), list(hist_cnts), value_scale=100.0))


_STATE_COLS = ["event_count", "value_cents", "id_set", "hist_cents", "hist_cnts"]
FINAL_COLS = [
    "event_count",
    "value_sum",
    "user_distinct",
    "value_p50",
    "value_p90",
    "value_p99",
]


def metric_rollup_from_raw(
    df: DataFrame,
    tier: str,
    key: str = "event_type",
    time_col: str = "ts",
    value_col: str = "value",
    id_col: str = "user_id",
    id_sketch: bool = False,
    value_sketch: bool = False,
    dd_gamma: float = 1.02,
) -> DataFrame:
    """One tier from raw events; carries mergeable state for the cascade.

    id_sketch=True replaces the exact ``id_set`` with a built-in HLL sketch
    column ``hll`` (``hll_sketch_agg``, lgK 12) — the high-cardinality-id
    scale path: state per window is a fixed-size binary instead of O(#ids),
    built in the same single scan as the exact path (``hll_sketch_agg`` in
    stage 1, ``hll_union_agg`` in stage 2), the cascade merges it with
    ``hll_union_agg``, and ``user_distinct`` becomes
    ``sketches.hll_estimate`` — equal between cascaded and from-raw tiers
    and at any parallelism.

    value_sketch=True replaces the exact (cents -> count) histogram with a
    DDSketch bucket array (operators/ddsketch.py) — the wide-value-domain
    scale path: state per window becomes O(log_gamma(max/min)) regardless
    of value cardinality, the cascade merges buckets with integer sums
    (cascaded == from-raw, bit-identical), and the percentile columns carry
    a guaranteed relative error of (gamma-1)/(gamma+1). Exact integer sums
    (``value_sum``, counts) are unaffected either way."""
    unit = TIERS[tier]
    # date_trunc returns session-zoned TIMESTAMP; cast back to TIMESTAMP_NTZ
    # when the input is NTZ so the result is pure wall-clock truncation,
    # independent of the session timezone (the two casts cancel)
    ws = F.date_trunc(unit, F.col(time_col))
    if dict(df.dtypes).get(time_col) == "timestamp_ntz":
        ws = ws.cast("timestamp_ntz")
    base = df.select(
        F.col(key),
        ws.alias("window_start"),
        F.round(F.col(value_col) * 100).cast("long").alias("_cents"),
        F.col(id_col).alias("_id"),
    )

    # Single-scan two-stage aggregation (no join) — same shape as
    # rollup.rollup_from_raw: stage 1 pre-aggregates at (key, window, cents)
    # granularity with full map-side combine (the cents key doubles as a
    # salt for hot keys); stage 2 merges the bounded len-level rows. The
    # per-window value sum is recovered exactly as sum(cents * count).
    s1_aggs = [F.count(F.lit(1)).alias("_cnt")]
    if id_sketch:
        s1_aggs.append(F.hll_sketch_agg("_id").alias("_hll"))
    else:
        s1_aggs.append(F.collect_set("_id").alias("_is"))
    s1 = base.groupBy(key, "window_start", "_cents").agg(*s1_aggs)
    s2_aggs = [
        F.sum("_cnt").alias("event_count"),
        F.sum(F.col("_cents") * F.col("_cnt")).alias("value_cents"),
    ]
    if not value_sketch:
        # NULL values keep their rows in event_count (the null-cents group
        # aggregates like any other; sum() already skips the null product in
        # value_cents) but must not enter the histogram — a None element
        # crashes the cascade's int64 merge kernel.
        s2_aggs.append(
            F.array_sort(
                F.filter(
                    F.collect_list(F.struct("_cents", "_cnt")),
                    lambda x: x["_cents"].isNotNull(),
                )
            ).alias("_h")
        )
    if id_sketch:
        s2_aggs.append(F.hll_union_agg("_hll").alias("hll"))
    else:
        s2_aggs.append(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("_is")))).alias("id_set")
        )
    out = (
        s1.groupBy(key, "window_start")
        .agg(*s2_aggs)
        .select(
            key,
            "window_start",
            "event_count",
            "value_cents",
            "hll" if id_sketch else "id_set",
            *(
                []
                if value_sketch
                else [
                    F.transform("_h", lambda x: x["_cents"]).alias("hist_cents"),
                    F.transform("_h", lambda x: x["_cnt"]).alias("hist_cnts"),
                ]
            ),
        )
    )
    if value_sketch:
        from tstore_spark.operators.ddsketch import dd_sketch

        dd = dd_sketch(base, [key, "window_start"], "_cents", gamma=dd_gamma)
        out = out.join(dd, [key, "window_start"])
    return out


def metric_rollup_cascade(child: DataFrame, tier: str, key: str = "event_type") -> DataFrame:
    """Re-aggregate the tier below into this tier — exact by construction.

    The exact-histogram path fuses the merge into the main groupBy (flatten
    of paired child histograms -> one Arrow merge kernel): a single shuffle,
    no explode/regroup/join — same shape as ``rollup.rollup_cascade``, values
    bit-identical (integer count sums). The HLL sketch merges in the same
    groupBy (``hll_union_agg``); only the DDSketch path keeps its dedicated
    merge join."""
    unit = TIERS[tier]
    ws = F.date_trunc(unit, F.col("window_start"))
    if dict(child.dtypes).get("window_start") == "timestamp_ntz":
        ws = ws.cast("timestamp_ntz")
    ws = ws.alias("window_start")

    has_sketch = "hll" in child.columns
    has_dd = "dd" in child.columns
    main_aggs = [
        F.sum("event_count").alias("event_count"),
        F.sum("value_cents").alias("value_cents"),
    ]
    if has_sketch:
        main_aggs.append(F.hll_union_agg("hll").alias("hll"))
    else:
        main_aggs.append(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("id_set")))).alias("id_set")
        )
    if not has_dd:
        # ONE collect_list of paired structs: lens/cnts extracted positionally
        # from the same list, so pairing cannot skew across agg buffers
        main_aggs.append(F.collect_list(F.struct("hist_cents", "hist_cnts")).alias("_hs"))
    out = child.groupBy(key, ws).agg(*main_aggs)
    if not has_dd:
        from tstore_spark.operators.rollup import _merged_hist_udf

        merge = _merged_hist_udf(with_pcts=False)
        out = (
            out.withColumn(
                "_m",
                merge(F.flatten(F.col("_hs.hist_cents")), F.flatten(F.col("_hs.hist_cnts"))),
            )
            .withColumn("hist_cents", F.col("_m.lens"))
            .withColumn("hist_cnts", F.col("_m.cnts"))
            .drop("_hs", "_m")
        )
    if has_dd:
        from tstore_spark.operators.ddsketch import dd_merge

        dd = dd_merge(child.select(key, ws, "dd", "dd_zeros"), [key, "window_start"])
        out = out.join(dd, [key, "window_start"])
    return out


def finalize(
    tier_df: DataFrame,
    key: str = "event_type",
    use_jvm: bool = False,
    dd_gamma: float = 1.02,
) -> DataFrame:
    """Scalar-only view of a tier (drops the mergeable state columns)."""
    if "dd" in tier_df.columns:
        from tstore_spark.operators.ddsketch import dd_quantiles_udf

        # DDSketch estimates are of CENTS; scale back to value units
        p = F.transform(
            dd_quantiles_udf(PCTS, dd_gamma)(F.col("dd"), F.col("dd_zeros")),
            lambda x: x / 100.0,
        )
    elif use_jvm:
        from tstore_spark.operators.rollup import hist_percentiles_jvm

        p = hist_percentiles_jvm("hist_cents", "hist_cnts", value_scale=100.0)
    else:
        p = _cents_hist_percentiles(F.col("hist_cents"), F.col("hist_cnts"))
    if "hll" in tier_df.columns:
        from tstore_spark.operators.sketches import hll_estimate

        user_distinct = hll_estimate("hll")
    else:
        user_distinct = F.size("id_set").cast("long")
    out = (
        tier_df.withColumn("_p", p)
        .withColumn("value_sum", (F.col("value_cents") / 100.0))
        .withColumn("user_distinct", user_distinct)
        .withColumn("value_p50", F.round(F.col("_p")[0], 4))
        .withColumn("value_p90", F.round(F.col("_p")[1], 4))
        .withColumn("value_p99", F.round(F.col("_p")[2], 4))
    )
    return out.select(key, "window_start", *FINAL_COLS)


def metric_rollup_all_tiers(
    df: DataFrame,
    key: str = "event_type",
    time_col: str = "ts",
    value_col: str = "value",
    id_col: str = "user_id",
    id_sketch: bool = False,
    value_sketch: bool = False,
    dd_gamma: float = 1.02,
) -> dict[str, DataFrame]:
    """raw -> 1m -> 1h -> 1d (with state; apply :func:`finalize` to present).

    When ``value_sketch=True``, pass the same ``dd_gamma`` to
    :func:`finalize`."""
    tiers: dict[str, DataFrame] = {}
    tiers["1m"] = metric_rollup_from_raw(
        df, "1m", key, time_col, value_col, id_col,
        id_sketch=id_sketch,
        value_sketch=value_sketch, dd_gamma=dd_gamma,
    )
    tiers["1h"] = metric_rollup_cascade(tiers["1m"], "1h", key)
    tiers["1d"] = metric_rollup_cascade(tiers["1h"], "1d", key)
    return tiers


def realtime_view(
    raw: DataFrame,
    tier_state: DataFrame,
    tier: str,
    materialized_through,
    key: str = "event_type",
    time_col: str = "ts",
    **rollup_kwargs,
) -> DataFrame:
    """Real-time continuous aggregate (TimescaleDB-style): serve COMPLETE
    windows from the materialized tier and aggregate only the raw tail.

    ``materialized_through`` is the instant the materializer has processed up
    to (its watermark — need not be window-aligned). The window containing it
    is partial in ``tier_state``, so the split point is the tier-floor of the
    watermark: state rows with ``window_start`` strictly below the floor are
    served as-is; raw rows at or after the floor are re-rolled on the fly
    (recomputing the boundary window completely). The union is bit-identical
    to a full from-raw rollup of the current table — mergeable state out,
    apply :func:`finalize` to present.

    Scale: the expensive side is the raw tail scan, and its predicate
    (``time >= floor``) is a plain comparison that pushes down to parquet
    row groups / time partitions — the materialized history is never
    re-read from raw. State-side pruning is the mirror-image predicate on
    ``window_start``. Pass the same ``id_sketch``/``value_sketch`` kwargs the
    state was built with so the two sides union with one schema."""
    from tstore_spark.functions.filters import check_time, time_range_filter

    unit = TIERS[tier]
    wm = check_time(materialized_through)
    if wm is None:
        raise ValueError("materialized_through is required")
    floor = {
        "minute": wm.replace(second=0, microsecond=0),
        "hour": wm.replace(minute=0, second=0, microsecond=0),
        "day": wm.replace(hour=0, minute=0, second=0, microsecond=0),
    }[unit]

    frozen = tier_state.where(
        time_range_filter(
            "window_start",
            None,
            floor,
            inclusive="neither",
            ntz=dict(tier_state.dtypes).get("window_start") == "timestamp_ntz",
        )
    )
    tail = raw.where(
        time_range_filter(
            time_col,
            floor,
            None,
            inclusive="left",
            ntz=dict(raw.dtypes).get(time_col) == "timestamp_ntz",
        )
    )
    fresh = metric_rollup_from_raw(tail, tier, key=key, time_col=time_col, **rollup_kwargs)
    return frozen.unionByName(fresh)


def refresh_tier_incremental(
    raw: DataFrame,
    tier_state: DataFrame,
    changes: DataFrame,
    tier: str,
    key: str = "event_type",
    time_col: str = "ts",
    **rollup_kwargs,
) -> tuple[DataFrame, dict]:
    """Incremental continuous-aggregate maintenance (TimescaleDB-style
    invalidation): given the CURRENT raw table, the tier STATE built before
    a change, and the changed rows (inserts AND deletes — only their key +
    event time matter), rebuild ONLY the invalidated (key, window) slices.

    Distinct sets / histograms / sketches are mergeable but not
    subtractable, so deletes cannot be "un-aggregated" — the correct
    primitive is invalidate-and-recompute per touched window:

    1. invalidation set = distinct (key, window_start) of the changes —
       tiny (bounded by #windows), broadcast everywhere below;
    2. the raw scan is clamped to [min, max] of the touched windows
       (parquet/partition pushdown does the coarse cut) and then
       left_semi-joined to exactly the invalidated slices;
    3. splice = old state anti-join invalidation ∪ freshly rolled slices —
       a window whose rows were all deleted simply disappears.

    Refresh cost is proportional to the CHANGED slice of raw, never the
    table; the result is bit-identical to a full from-raw rebuild (the
    pytest asserts frame equality), so cascades built on the refreshed
    state stay exact.
    """
    from datetime import timedelta

    from tstore_spark.functions.filters import time_range_filter

    unit = TIERS[tier]
    is_ntz = dict(raw.dtypes).get(time_col) == "timestamp_ntz"
    # the same window expression is applied to BOTH frames, so the timestamp
    # families must match: applying the NTZ wall-clock cast chosen from raw's
    # dtype to a session-zoned changes column (or vice versa) would route the
    # invalidation set through the session zone and recompute the WRONG
    # (key, window) slices in any non-UTC session — fail loudly instead.
    changes_t = dict(changes.dtypes).get(time_col)
    raw_t = dict(raw.dtypes).get(time_col)
    if changes_t != raw_t:
        raise ValueError(
            f"changes.{time_col} is {changes_t} but raw.{time_col} is {raw_t}; "
            "cast the changes batch to the raw table's timestamp family first "
            "(to_timestamp_ntz for NTZ archives) so invalidation windows align"
        )
    ws = F.date_trunc(unit, F.col(time_col))
    if is_ntz:
        ws = ws.cast("timestamp_ntz")

    # one job over the changes computes the invalidation set (bounded by
    # #touched windows x keys — window metadata, never row data) and collects
    # it to the driver; createDataFrame turns the rows back into a Python-RDD
    # LogicalRDD, which the three consumers below broadcast-join instead of
    # re-running the changes plan (every job reading it starts Python workers)
    inval_q = changes.select(F.col(key), ws.alias("window_start")).distinct()
    rows = inval_q.collect()
    report = {"windows_invalidated": len(rows)}
    if not rows:
        return tier_state, report
    spark = raw.sparkSession
    inval = spark.createDataFrame(rows, inval_q.schema)

    lo = min(r["window_start"] for r in rows)
    hi = max(r["window_start"] for r in rows)
    step = {"minute": timedelta(minutes=1), "hour": timedelta(hours=1), "day": timedelta(days=1)}[unit]
    sliced = raw.where(
        time_range_filter(time_col, str(lo), str(hi + step), inclusive="left", ntz=is_ntz)
    )
    target = (
        sliced.withColumn("_ws", ws)
        .join(
            F.broadcast(inval.withColumnRenamed("window_start", "_ws")),
            [key, "_ws"],
            "left_semi",
        )
        .drop("_ws")
    )
    recomputed = metric_rollup_from_raw(
        target, tier, key=key, time_col=time_col, **rollup_kwargs
    )
    kept = tier_state.join(F.broadcast(inval), [key, "window_start"], "left_anti")
    return kept.unionByName(recomputed), report
