"""Streaming 1m rollup vs the batch engine on the same input."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tstore_spark.datagen import pages_pandas
from tstore_spark.operators.rollup import rollup_from_raw
from tstore_spark.streaming.stream_rollup import (
    read_pages_stream,
    stream_rollup_1m,
    stream_rollup_cascade,
    stream_rollup_cascade_1h,
    write_stream_tier,
)


@pytest.fixture(scope="module")
def stream_dirs(spark, pages_pdf):
    base = tempfile.mkdtemp(prefix="ts_stream_")
    src = f"{base}/src"
    # write the input as several files -> several micro-batches
    sdf = spark.createDataFrame(pages_pdf)
    sdf.repartition(4).write.parquet(src)
    yield base, src, sdf
    shutil.rmtree(base, ignore_errors=True)


def test_stream_rollup_matches_batch(spark, stream_dirs):
    base, src, sdf = stream_dirs
    schema = sdf.schema
    stream = read_pages_stream(spark, src, schema, max_files_per_trigger=2)
    tier = stream_rollup_1m(stream, watermark="0 seconds")
    q = write_stream_tier(tier, f"{base}/tier1m", f"{base}/ckpt", trigger_available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(f"{base}/tier1m")
    batch = rollup_from_raw(sdf, "1m").select("domain", "window_start", "doc_count", "bytes_total")

    g = {(r["domain"], r["window_start"]): (r["doc_count"], r["bytes_total"]) for r in got.collect()}
    b = {(r["domain"], r["window_start"]): (r["doc_count"], r["bytes_total"]) for r in batch.collect()}
    # append mode withholds windows the final watermark has not passed: with
    # a 0s delay that is exactly the window containing the max event time
    max_ts = sdf.agg(F.max("warc_ts")).head()[0]
    cutoff = max_ts.replace(second=0, microsecond=0)
    expected = {k: v for k, v in b.items() if k[1] < cutoff}
    assert g == expected
    assert len(g) >= 0.9 * len(b)  # only the in-flight tail is withheld


def test_stream_cascade_1h_matches_batch(spark, stream_dirs):
    """The chained 1m->1h streaming cascade (one query, two stateful window
    aggs) emits exactly the hours the watermark closed, with count/byte sums
    equal to the batch 1h rollup."""
    base, src, sdf = stream_dirs
    stream = read_pages_stream(spark, src, sdf.schema, max_files_per_trigger=2)
    tier = stream_rollup_cascade_1h(stream, watermark="0 seconds")
    q = write_stream_tier(tier, f"{base}/tier1h", f"{base}/ckpt1h", trigger_available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(f"{base}/tier1h")
    batch = rollup_from_raw(sdf, "1h").select(
        "domain", "window_start", "doc_count", "bytes_total")
    g = {(r["domain"], r["window_start"]): (r["doc_count"], r["bytes_total"])
         for r in got.collect()}
    b = {(r["domain"], r["window_start"]): (r["doc_count"], r["bytes_total"])
         for r in batch.collect()}
    # an hour [H, H+1) emits once the final watermark (max event time at 0s
    # delay) reaches H+1
    import datetime

    max_ts = sdf.agg(F.max("warc_ts")).head()[0]
    expected = {k: v for k, v in b.items()
                if k[1] + datetime.timedelta(hours=1) <= max_ts}
    assert g == expected
    assert len(g) > 0  # the fixture spans multiple hours


def test_stream_cascade_three_tiers(spark, stream_dirs):
    """1m -> 1h -> 1d: three chained stateful window aggs in one query;
    closed days match the batch 1d rollup exactly."""
    import datetime

    base, src, sdf = stream_dirs
    stream = read_pages_stream(spark, src, sdf.schema)
    tier = stream_rollup_cascade(stream, ("1m", "1h", "1d"), watermark="0 seconds")
    q = write_stream_tier(tier, f"{base}/tier1d", f"{base}/ckpt1d", trigger_available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(f"{base}/tier1d")
    batch = rollup_from_raw(sdf, "1d").select(
        "domain", "window_start", "doc_count", "bytes_total")
    g = {(r["domain"], r["window_start"]): (r["doc_count"], r["bytes_total"])
         for r in got.collect()}
    max_ts = sdf.agg(F.max("warc_ts")).head()[0]
    expected = {
        (r["domain"], r["window_start"]): (r["doc_count"], r["bytes_total"])
        for r in batch.collect()
        if r["window_start"] + datetime.timedelta(days=1) <= max_ts
    }
    assert g == expected
    assert len(g) > 0  # the fixture spans multiple days

    with pytest.raises(ValueError, match="prefix"):
        stream_rollup_cascade(stream, ("1h", "1d"))


def test_stream_restart_is_idempotent(spark, stream_dirs):
    base, src, sdf = stream_dirs
    schema = sdf.schema
    # restart with the same checkpoint: no new input -> no duplicate output
    stream = read_pages_stream(spark, src, schema)
    tier = stream_rollup_1m(stream)
    q = write_stream_tier(tier, f"{base}/tier1m", f"{base}/ckpt", trigger_available_now=True)
    q.awaitTermination(120)
    got = spark.read.parquet(f"{base}/tier1m").groupBy("domain", "window_start").count()
    assert got.where("count > 1").count() == 0


def test_stream_cascade_hll_estimates_match_batch_sketch(spark, stream_dirs):
    """HLL distincts through the chained cascade: ``hll_sketch_agg`` then
    ``hll_union_agg`` carry one sketch per (domain, window) through every
    stateful stage, so each CLOSED hour's streamed estimate is EXACTLY the
    batch estimate over the same rows — the streamed sketch is the batch
    sketch, not an approximation of it — and lands within the lgK-12 error
    bound of exact."""
    import datetime

    from tstore_spark.operators.sketches import hll_estimate

    base, src, sdf = stream_dirs
    stream = read_pages_stream(spark, src, sdf.schema, max_files_per_trigger=2)
    tier = stream_rollup_cascade(
        stream, ("1m", "1h"), watermark="0 seconds", distinct_col="lang")
    q = write_stream_tier(
        tier, f"{base}/tier1h_hll", f"{base}/ckpt1h_hll", trigger_available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(f"{base}/tier1h_hll")
    assert set(got.columns) == {"domain", "window_start", "doc_count", "bytes_total", "hll"}

    from tstore_spark.functions.urls import domain_of

    keyed = sdf.select(
        domain_of("url").alias("domain"),
        F.date_trunc("hour", F.col("warc_ts")).alias("window_start"),
        "lang", "html",
    )
    batch_sk = keyed.groupBy("domain", "window_start").agg(
        hll_estimate(F.hll_sketch_agg("lang")).alias("est"))
    b_est = {(r["domain"], r["window_start"]): r["est"] for r in batch_sk.collect()}
    g_rows = got.withColumn("est", hll_estimate("hll")).collect()
    max_ts = sdf.agg(F.max("warc_ts")).head()[0]
    closed = {k for k in b_est
              if k[1] + datetime.timedelta(hours=1) <= max_ts}
    est = {(r["domain"], r["window_start"]): r["est"] for r in g_rows}
    assert set(est) == closed
    for k in closed:
        assert est[k] == b_est[k], f"estimate drift at {k}"

    # counts/bytes still exact alongside the sketch column
    batch = rollup_from_raw(sdf, "1h")
    b_cnt = {(r["domain"], r["window_start"]): (r["doc_count"], r["bytes_total"])
             for r in batch.collect()}
    for r in g_rows:
        assert (r["doc_count"], r["bytes_total"]) == b_cnt[(r["domain"], r["window_start"])]

    # estimate from the streamed sketches is within the sketch error of exact
    exact = {(r["domain"], r["window_start"]): r["n"]
             for r in keyed.groupBy("domain", "window_start")
             .agg(F.countDistinct("lang").alias("n")).collect()}
    for k in closed:
        assert abs(est[k] - exact[k]) <= max(1.0, 0.05 * exact[k]), (k, est[k], exact[k])


def test_stream_cascade_ddsketch_matches_batch_sketch(spark, stream_dirs):
    """Percentiles through the chained cascade: per-bucket counts sum-merge
    through every stateful stage, so each CLOSED hour's sparse (b, cnt)
    array equals the batch dd_sketch over the same rows exactly, and the
    quantile estimates obey the DDSketch relative-error theorem vs exact."""
    import datetime
    import math

    from tstore_spark.functions.urls import domain_of
    from tstore_spark.operators.ddsketch import (
        DEFAULT_GAMMA,
        dd_sketch,
        relative_error_bound,
        with_dd_quantiles,
    )
    from tstore_spark.streaming.stream_rollup import stream_rollup_cascade_ddsketch

    base, src, sdf = stream_dirs
    stream = read_pages_stream(spark, src, sdf.schema, max_files_per_trigger=2)
    tier = stream_rollup_cascade_ddsketch(stream, ("1m", "1h"), watermark="0 seconds")
    q = write_stream_tier(
        tier, f"{base}/tier1h_dd", f"{base}/ckpt1h_dd", trigger_available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(f"{base}/tier1h_dd")
    assert set(got.columns) == {
        "domain", "window_start", "doc_count", "bytes_total", "dd", "dd_zeros"}

    keyed = sdf.select(
        domain_of("url").alias("domain"),
        F.date_trunc("hour", F.col("warc_ts")).alias("window_start"),
        F.length("text").alias("tlen"),
    )
    batch_sk = dd_sketch(keyed, ["domain", "window_start"], "tlen")
    b_sk = {(r["domain"], r["window_start"]):
            ([(e["b"], e["cnt"]) for e in r["dd"]], r["dd_zeros"])
            for r in batch_sk.collect()}
    max_ts = sdf.agg(F.max("warc_ts")).head()[0]
    closed = {k for k in b_sk if k[1] + datetime.timedelta(hours=1) <= max_ts}
    g_sk = {(r["domain"], r["window_start"]):
            ([(e["b"], e["cnt"]) for e in r["dd"]], r["dd_zeros"])
            for r in got.collect()}
    assert set(g_sk) == closed
    for k in closed:
        assert g_sk[k] == b_sk[k], f"bucket drift at {k}"

    # quantiles from the streamed sketch obey the relative-error THEOREM,
    # which is stated against the exact RANK statistic (the
    # floor(q*(n-1))-th smallest), not the interpolated percentile
    est = with_dd_quantiles(got, qs=(0.5, 0.99)).select(
        "domain", "window_start", "dd_q").collect()
    exact = {
        (r["domain"], r["window_start"]): sorted(r["v"])
        for r in keyed.groupBy("domain", "window_start")
        .agg(F.collect_list("tlen").alias("v")).collect()
    }
    bound = relative_error_bound(DEFAULT_GAMMA) * 1.001  # float slack only
    for r in est:
        vals = exact[(r["domain"], r["window_start"])]
        for q, e in zip((0.5, 0.99), r["dd_q"]):
            x = vals[math.floor(q * (len(vals) - 1))]
            assert abs(e - x) <= bound * x, (q, e, x)


def test_stream_cascade_cms_cells_match_batch_sketch(spark, stream_dirs):
    """CMS frequency sketches through the chained cascade: per-cell integer
    sums merge through every stateful stage, so each CLOSED hour's cell
    table equals the batch cms_from_items sketch register-exactly, and
    estimates obey the overestimate theorem vs exact counts."""
    import datetime

    from tstore_spark.functions.urls import domain_of
    from tstore_spark.operators.countmin import cms_estimate, cms_from_items
    from tstore_spark.streaming.stream_rollup import stream_rollup_cascade_cms

    base, src, sdf = stream_dirs
    stream = read_pages_stream(spark, src, sdf.schema, max_files_per_trigger=2)
    tier = stream_rollup_cascade_cms(
        stream, ("1m", "1h"), watermark="0 seconds", item_col="lang", d=3, w=64)
    q = write_stream_tier(
        tier, f"{base}/tier1h_cms", f"{base}/ckpt1h_cms", trigger_available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(f"{base}/tier1h_cms")
    keyed = sdf.select(
        domain_of("url").alias("domain"),
        F.date_trunc("hour", F.col("warc_ts")).alias("window_start"),
        "lang",
    )
    batch = cms_from_items(keyed, "lang", keys=["domain", "window_start"], d=3, w=64)
    b = {(r["domain"], r["window_start"], r["cms_row"], r["cms_pos"]): r["cms_cnt"]
         for r in batch.collect()}
    max_ts = sdf.agg(F.max("warc_ts")).head()[0]
    closed_keys = {k for k in b
                   if k[1] + datetime.timedelta(hours=1) <= max_ts}
    g = {(r["domain"], r["window_start"], r["cms_row"], r["cms_pos"]): r["cms_cnt"]
         for r in got.collect()}
    assert set(g) == closed_keys
    for k in closed_keys:
        assert g[k] == b[k], f"cell drift at {k}"

    # overestimate theorem on estimates from the STREAMED cells
    probes = keyed.select("domain", "window_start", "lang").distinct()
    closed_probe = probes.join(
        got.select("domain", "window_start").distinct(), ["domain", "window_start"])
    est = cms_estimate(
        got, closed_probe, "lang", keys=["domain", "window_start"], d=3, w=64)
    exact = keyed.groupBy("domain", "window_start", "lang").agg(
        F.count(F.lit(1)).alias("true_cnt"))
    joined = est.join(exact, ["domain", "window_start", "lang"]).collect()
    assert joined
    for r in joined:
        assert r["cms_est"] >= r["true_cnt"]


def test_stream_cascade_lebuckets_match_batch_counters(spark, stream_dirs):
    """Prometheus le-bucket counters through the chained cascade: plain
    integer sums chain like doc_count, so each CLOSED hour's counters equal
    the batch le_bucket_counts exactly, and quantile_expr over them is
    bit-identical to the batch evaluation (same integers, same CASE)."""
    import datetime

    from tstore_spark.functions.urls import domain_of
    from tstore_spark.operators.promhist import le_bucket_counts, quantile_expr
    from tstore_spark.streaming.stream_rollup import stream_rollup_cascade_lebuckets

    bounds = [50.0, 100.0, 200.0, 400.0]
    base, src, sdf = stream_dirs
    stream = read_pages_stream(spark, src, sdf.schema, max_files_per_trigger=2)
    tier = stream_rollup_cascade_lebuckets(
        stream, bounds, ("1m", "1h"), watermark="0 seconds")
    q = write_stream_tier(
        tier, f"{base}/tier1h_le", f"{base}/ckpt1h_le", trigger_available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(f"{base}/tier1h_le")
    le_cols = [f"le_{i}" for i in range(len(bounds))]
    assert set(got.columns) == {
        "domain", "window_start", "doc_count", "bytes_total", "n_total", *le_cols}

    keyed = sdf.select(
        domain_of("url").alias("domain"),
        F.date_trunc("hour", F.col("warc_ts")).alias("window_start"),
        F.length("text").alias("tlen"),
    )
    batch = le_bucket_counts(keyed, ["domain", "window_start"], "tlen", bounds)
    b = {(r["domain"], r["window_start"]): tuple(r[c] for c in le_cols + ["n_total"])
         for r in batch.collect()}
    max_ts = sdf.agg(F.max("warc_ts")).head()[0]
    closed = {k for k in b if k[1] + datetime.timedelta(hours=1) <= max_ts}
    g = {(r["domain"], r["window_start"]): tuple(r[c] for c in le_cols + ["n_total"])
         for r in got.collect()}
    assert set(g) == closed
    for k in closed:
        assert g[k] == b[k], f"counter drift at {k}"

    q_stream = {
        (r["domain"], r["window_start"]): r["q"]
        for r in got.select(
            "domain", "window_start", quantile_expr(0.9, bounds).alias("q")
        ).collect()
    }
    q_batch = {
        (r["domain"], r["window_start"]): r["q"]
        for r in batch.select(
            "domain", "window_start", quantile_expr(0.9, bounds).alias("q")
        ).collect()
    }
    for k in closed:
        assert q_stream[k] == q_batch[k], k  # exact double bits


def test_stream_cascade_kmins_cells_match_batch_sketch(spark, stream_dirs):
    """k-mins (one-permutation MinHash) sketches through the chained
    cascade: per-bucket hash minima merge through every stateful stage, so
    each CLOSED hour's cell table equals the batch kmins_cells sketch
    register-exactly — carrying set-intersection/Jaccard power downstream."""
    import datetime

    from tstore_spark.functions.urls import domain_of
    from tstore_spark.operators.kmv import kmins_cells
    from tstore_spark.streaming.stream_rollup import stream_rollup_cascade_kmins

    base, src, sdf = stream_dirs
    stream = read_pages_stream(spark, src, sdf.schema, max_files_per_trigger=2)
    tier = stream_rollup_cascade_kmins(
        stream, ("1m", "1h"), watermark="0 seconds", item_col="lang", k=32)
    q = write_stream_tier(
        tier, f"{base}/tier1h_kmins", f"{base}/ckpt1h_kmins",
        trigger_available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(f"{base}/tier1h_kmins")
    keyed = sdf.select(
        domain_of("url").alias("domain"),
        F.date_trunc("hour", F.col("warc_ts")).alias("window_start"),
        "lang",
    )
    batch = kmins_cells(keyed, ["domain", "window_start"], "lang", k=32)
    b = {(r["domain"], r["window_start"], r["kmins_bucket"]): r["min_hash"]
         for r in batch.collect()}
    max_ts = sdf.agg(F.max("warc_ts")).head()[0]
    closed_keys = {k for k in b
                   if k[1] + datetime.timedelta(hours=1) <= max_ts}
    g = {(r["domain"], r["window_start"], r["kmins_bucket"]): r["min_hash"]
         for r in got.collect()}
    assert set(g) == closed_keys and closed_keys
    for k in closed_keys:
        assert g[k] == b[k], f"cell drift at {k}"


def test_seasonal_score_streams_unmodified(spark):
    """seasonal_score is stateless + a stream-static broadcast join, so the
    SAME function runs on a streaming frame (one semantics, two execution
    modes — the attribution_join contract): streamed scores == batch."""
    import pandas as pd

    from tstore_spark.operators.seasonal import seasonal_baseline, seasonal_score

    rows = []
    for d in range(7):
        for h in range(24):
            ts = pd.Timestamp("2024-03-04") + pd.Timedelta(days=d, hours=h)
            rows.append(("m", ts, float(10 + (h * 7) % 5)))
    pdf = pd.DataFrame(rows, columns=["key", "ts", "value"])
    sdf = spark.createDataFrame(pdf)
    base = tempfile.mkdtemp(prefix="ts_score_stream_")
    try:
        src = f"{base}/src"
        sdf.repartition(4).write.parquet(src)
        baseline = seasonal_baseline(sdf, "key", "ts", "value")
        stream = (
            spark.readStream.schema(sdf.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        scored_stream = seasonal_score(stream, baseline, "key", "ts", "value")
        q = (
            scored_stream.writeStream.format("parquet")
            .option("path", f"{base}/out")
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            tuple(r) for r in spark.read.parquet(f"{base}/out").collect()
        )
        want = sorted(
            tuple(r)
            for r in seasonal_score(sdf, baseline, "key", "ts", "value").collect()
        )
        assert got == want and len(got) == len(pdf)
    finally:
        shutil.rmtree(base, ignore_errors=True)
