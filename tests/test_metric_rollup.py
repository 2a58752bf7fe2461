"""Generic metric rollup: cascade exactness + determinism across parallelism."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tstore_spark.operators.metric_rollup import (
    finalize,
    metric_rollup_all_tiers,
    metric_rollup_from_raw,
)


def _events(n=4000) -> pd.DataFrame:
    # deterministic synthetic events: 5 types, 40 users, 3 days, 2-dec values
    i = np.arange(n, dtype=np.int64)
    h = (i * 2654435761) % (1 << 32)
    ts = pd.Timestamp("2024-03-01") + pd.to_timedelta((h % (3 * 86400)).astype(np.int64), unit="s")
    return pd.DataFrame(
        {
            "event_type": np.array(["click", "view", "error", "signup", "purchase"])[i % 5],
            "ts": ts.astype("datetime64[us]"),
            "user_id": (h % 40).astype(np.int64),
            "value": np.round(((h % 100000) / 100.0), 2),
        }
    )


@pytest.fixture(scope="module")
def events_sdf(spark):
    return spark.createDataFrame(_events()).cache()


def _collect_sorted(df, key="event_type"):
    return [tuple(r) for r in df.orderBy(key, "window_start").collect()]


def test_cascade_equals_from_raw(events_sdf):
    tiers = metric_rollup_all_tiers(events_sdf)
    for tier in ("1h", "1d"):
        cascaded = _collect_sorted(finalize(tiers[tier]))
        direct = _collect_sorted(finalize(metric_rollup_from_raw(events_sdf, tier)))
        assert cascaded == direct, f"tier {tier} cascade != from-raw"


def test_deterministic_across_parallelism(events_sdf):
    a = _collect_sorted(finalize(metric_rollup_all_tiers(events_sdf)["1h"]))
    b = _collect_sorted(finalize(metric_rollup_all_tiers(events_sdf.repartition(13))["1h"]))
    assert a == b


def test_value_sum_exact(events_sdf):
    pdf = _events()
    tier = finalize(metric_rollup_all_tiers(events_sdf)["1d"])
    got = {(r["event_type"], r["window_start"]): r["value_sum"] for r in tier.collect()}
    pdf["d"] = pdf["ts"].dt.floor("D")
    pdf["cents"] = np.round(pdf["value"] * 100).astype(np.int64)
    for (et, d), grp in pdf.groupby(["event_type", "d"]):
        assert got[(et, d.to_pydatetime())] == grp["cents"].sum() / 100.0


def test_id_sketch_cascade_and_accuracy(events_sdf):
    """HLL id-sketch path: cascaded estimates == from-raw estimates
    (exactly), estimates near exact counts."""
    from tstore_spark.operators.metric_rollup import metric_rollup_all_tiers as all_tiers
    from tstore_spark.operators.sketches import hll_estimate

    tiers = all_tiers(events_sdf, id_sketch=True)
    direct = metric_rollup_from_raw(events_sdf, "1d", id_sketch=True)

    def _est(df):
        return {(r["event_type"], r["window_start"]): r["e"]
                for r in df.select("event_type", "window_start",
                                   hll_estimate("hll").alias("e")).collect()}

    c, d = _est(tiers["1d"]), _est(direct)
    assert c == d  # union(1h sketches) estimates exactly as sketch(raw)

    est = finalize(tiers["1d"])
    exact = finalize(metric_rollup_all_tiers(events_sdf)["1d"])
    e = {(r["event_type"], r["window_start"]): r["user_distinct"] for r in est.collect()}
    x = {(r["event_type"], r["window_start"]): r["user_distinct"] for r in exact.collect()}
    for k in x:
        assert abs(e[k] - x[k]) <= max(3, 0.1 * x[k]), (k, e[k], x[k])


def test_id_sketch_cascade_plans_no_join_and_no_python(spark, events_sdf, tmp_path):
    """Over a materialized id_sketch tier the HLL merge rides the cascade's
    one groupBy (no merge join), its estimate is a JVM expression (no
    Python), and a query that never reads ``hll`` prunes it entirely."""
    import io
    from contextlib import redirect_stdout
    from datetime import datetime

    from tstore_spark.operators.metric_rollup import metric_rollup_cascade
    from tstore_spark.operators.sketches import hll_estimate
    from tstore_spark.operators.tierselect import range_aggregate

    tiers = {}
    for tier, df in metric_rollup_all_tiers(events_sdf, id_sketch=True).items():
        df.write.parquet(str(tmp_path / tier))
        tiers[tier] = spark.read.parquet(str(tmp_path / tier))

    def plan(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    p = plan(metric_rollup_cascade(tiers["1h"], "1d").select(
        "event_type", "window_start", "event_count", "value_cents",
        hll_estimate("hll").alias("user_distinct")))
    assert "Join" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    p = plan(range_aggregate(tiers, datetime(2024, 3, 1, 0, 7), datetime(2024, 3, 2, 5, 0))
             .select("event_type", "event_count", "value_cents"))
    assert "Join" not in p and "Generate" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_value_sketch_cascade_and_accuracy(events_sdf):
    """DDSketch value path: cascaded sketch bit-identical to from-raw, and
    finalized percentiles within the guaranteed relative error of the exact
    path's rank values."""
    from tstore_spark.operators.ddsketch import relative_error_bound
    from tstore_spark.operators.metric_rollup import (
        finalize,
        metric_rollup_all_tiers,
        metric_rollup_from_raw,
    )

    tiers = metric_rollup_all_tiers(events_sdf, value_sketch=True)
    direct_1d = metric_rollup_from_raw(events_sdf, "1d", value_sketch=True)
    a = {
        (r["event_type"], r["window_start"]): (list(map(tuple, r["dd"])), r["dd_zeros"])
        for r in tiers["1d"].collect()
    }
    b = {
        (r["event_type"], r["window_start"]): (list(map(tuple, r["dd"])), r["dd_zeros"])
        for r in direct_1d.collect()
    }
    assert a == b  # cascade merge exact

    exact = finalize(metric_rollup_all_tiers(events_sdf)["1d"])
    approx = finalize(tiers["1d"])
    tol = 2 * relative_error_bound() + 0.02  # sketch bound vs rank value
    # + interpolation difference of the exact path at small windows
    ex = {(r["event_type"], r["window_start"]): r for r in exact.collect()}
    ap = {(r["event_type"], r["window_start"]): r for r in approx.collect()}
    assert set(ex) == set(ap)
    checked = 0
    for k in ex:
        for c in ("value_p50", "value_p90"):
            e, g = ex[k][c], ap[k][c]
            if e and e > 1.0:  # skip near-zero values where interpolation dominates
                assert abs(g - e) <= tol * e + 0.02, (k, c, g, e)
                checked += 1
    assert checked > 10


# -- refresh_tier_incremental ---------------------------------------------------

def _events_pdf(n=4000, seed=7):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "event_type": rng.choice(["a", "b", "c"], n),
            "ts": pd.Timestamp("2024-03-01") + pd.to_timedelta(rng.integers(0, 86400 * 3, n), unit="s"),
            "value": np.round(rng.uniform(0, 50, n), 2),
            "user_id": rng.integers(0, 200, n),
        }
    )


def _frames_equal(a, b):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_incremental_refresh_equals_full_rebuild(spark):
    from tstore_spark.operators.metric_rollup import (
        finalize,
        metric_rollup_from_raw,
        refresh_tier_incremental,
    )
    import pyspark.sql.functions as F

    raw0 = spark.createDataFrame(_events_pdf()).cache()
    state0 = metric_rollup_from_raw(raw0, "1h")

    # deletes: all of type 'b' on day 2; inserts: late +30min echoes of a slice
    deleted = (F.col("event_type") == "b") & (F.to_date("ts") == F.lit("2024-03-02"))
    # inserts avoid type 'b' so the fully-deleted b/day-2 windows get no
    # replacement rows and must vanish from the refreshed state
    inserts = raw0.where((F.col("user_id") % 17 == 3) & (F.col("event_type") != "b")).select(
        "event_type",
        F.expr("timestampadd(MINUTE, 30, ts)").alias("ts"),
        (F.col("value") * 2.0).alias("value"),
        "user_id",
    )
    raw1 = raw0.where(~deleted).unionByName(inserts).cache()
    changes = raw0.where(deleted).select("event_type", "ts").unionByName(
        inserts.select("event_type", "ts")
    )

    refreshed, rep = refresh_tier_incremental(raw1, state0, changes, "1h")
    assert rep["windows_invalidated"] > 0
    full = metric_rollup_from_raw(raw1, "1h")
    assert _frames_equal(finalize(refreshed), finalize(full))

    # fully-deleted windows disappear from the refreshed state
    gone = (
        state0.where(F.col("event_type") == "b")
        .where(F.to_date("window_start") == F.lit("2024-03-02"))
        .count()
    )
    still = (
        refreshed.where(F.col("event_type") == "b")
        .where(F.to_date("window_start") == F.lit("2024-03-02"))
        .count()
    )
    assert gone > 0 and still == 0

    # cascade built on the refreshed state == cascade on the full rebuild
    from tstore_spark.operators.metric_rollup import metric_rollup_cascade

    assert _frames_equal(
        finalize(metric_rollup_cascade(refreshed, "1d")),
        finalize(metric_rollup_cascade(full, "1d")),
    )


def test_incremental_refresh_no_changes_is_identity(spark):
    from tstore_spark.operators.metric_rollup import (
        metric_rollup_from_raw,
        refresh_tier_incremental,
    )

    raw = spark.createDataFrame(_events_pdf(800))
    state = metric_rollup_from_raw(raw, "1h")
    refreshed, rep = refresh_tier_incremental(raw, state, raw.limit(0), "1h")
    assert rep == {"windows_invalidated": 0}
    assert _frames_equal(refreshed.drop("id_set", "hist_cents", "hist_cnts"),
                         state.drop("id_set", "hist_cents", "hist_cnts"))


def test_realtime_view_equals_full_rollup(spark):
    from tstore_spark.operators.metric_rollup import (
        metric_rollup_from_raw,
        realtime_view,
    )

    raw = spark.createDataFrame(_events_pdf()).cache()
    # mid-window watermark: the 12:00 window is PARTIAL in the state and must
    # be recomputed from raw, not served frozen
    wm = "2024-03-02 12:47:11"
    state = metric_rollup_from_raw(raw.where(F.col("ts") < F.lit(wm)), "1h")
    view = realtime_view(raw, state, "1h", wm)
    full = metric_rollup_from_raw(raw, "1h")
    assert _frames_equal(finalize(view), finalize(full))

    # window-aligned watermark: boundary window complete in state; still exact
    wm2 = "2024-03-02 00:00:00"
    state2 = metric_rollup_from_raw(raw.where(F.col("ts") < F.lit(wm2)), "1h")
    assert _frames_equal(finalize(realtime_view(raw, state2, "1h", wm2)), finalize(full))


def test_realtime_view_serves_frozen_windows_from_state(spark):
    """Windows strictly before the floor must come from the tier (poisoned
    state shows through), windows at/after the floor from raw (poison dropped)."""
    from tstore_spark.operators.metric_rollup import (
        metric_rollup_from_raw,
        realtime_view,
    )

    raw = spark.createDataFrame(_events_pdf()).cache()
    wm = "2024-03-02 12:47:11"
    state = metric_rollup_from_raw(raw.where(F.col("ts") < F.lit(wm)), "1h")
    poisoned = state.withColumn("event_count", F.col("event_count") + 1_000_000)
    view = finalize(realtime_view(raw, poisoned, "1h", wm))
    before = view.where(F.col("window_start") < F.lit("2024-03-02 12:00:00"))
    after = view.where(F.col("window_start") >= F.lit("2024-03-02 12:00:00"))
    assert before.where(F.col("event_count") <= 1_000_000).count() == 0
    assert after.where(F.col("event_count") > 1_000_000).count() == 0
    assert after.count() > 0


def test_incremental_refresh_rejects_timestamp_family_mismatch(spark):
    """The same window expression is applied to raw AND changes; a changes
    batch in a different timestamp family would route the invalidation set
    through the session zone (wrong windows refreshed in any non-UTC
    session) — it must be rejected loudly, not computed silently."""
    import pytest as _pytest

    from tstore_spark.operators.metric_rollup import (
        metric_rollup_from_raw,
        refresh_tier_incremental,
    )

    raw = spark.createDataFrame(_events_pdf()).cache()
    raw_t = dict(raw.dtypes)["ts"]
    other = "timestamp_ntz" if raw_t == "timestamp" else "timestamp"
    state = metric_rollup_from_raw(raw, "1h")
    changes = raw.limit(5).select("event_type", F.col("ts").cast(other).alias("ts"))
    with _pytest.raises(ValueError, match="timestamp family"):
        refresh_tier_incremental(raw, state, changes, "1h")
