"""Structured-Streaming rollup: continuous 1m aggregates over a pages stream.

The batch engine's 1m tier (operators/rollup.py) re-expressed as a streaming
query: ``readStream`` -> event-time tumbling window + watermark ->
``writeStream`` into the same tier layout the batch cascade reads. The
reference has no streaming at all (SURVEY.md §2, last row); this is part of
the web-scale graft.

Design notes:
- **Watermark + append mode** for production: windows are emitted once, when
  the watermark passes window end — exactly the semantics a downstream 1h/1d
  cascade (running as a periodic batch over the streamed 1m tier) needs.
- **Mergeable-state metrics only.** count / byte sums are exact and
  streaming-mergeable. Distinct languages uses ``approx_count_distinct``
  (HLL) in-stream; the exact set (and exact text-length percentiles) are
  *not* computed in-stream — they need the full multiset, so at the tier
  boundary the batch cascade recomputes them from raw where exactness is
  asserted. This split (cheap sketches streaming, exact on batch re-aggregate)
  is the standard lambda-tier compromise and is documented to the caller.
- **State bound**: one state row per (domain, window); the watermark expires
  state, so memory is O(#domains x watermark/1m windows).

Scale note: the streaming shuffle partitions on (window, domain) — hot
domains are bounded per-window by the 1-minute width; skew beyond that is
handled by the same salting as batch (pre-aggregate on an added salt column
via `.groupBy(window, domain, salt)` then a second batch merge if a single
domain-minute exceeds one reducer).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tstore_spark.functions.urls import domain_of


def stream_rollup_1m(
    pages_stream: DataFrame,
    watermark: str = "10 minutes",
    key_col: Column | None = None,
    time_col: str = "warc_ts",
    with_watermark: bool = True,
) -> DataFrame:
    """1-minute tumbling continuous aggregate over a streaming pages source.

    Returns a streaming DataFrame with schema
    (domain, window_start, doc_count, bytes_total, lang_distinct_approx).
    ``with_watermark=False`` is for complete-mode tests only.
    """
    key = key_col if key_col is not None else domain_of("url")
    src = pages_stream
    if with_watermark:
        src = src.withWatermark(time_col, watermark)
    agg = (
        src.groupBy(F.window(F.col(time_col), "1 minute"), key.alias("domain"))
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum(F.octet_length("html")).alias("bytes_total"),
            F.approx_count_distinct("lang").alias("lang_distinct_approx"),
        )
    )
    return agg.select(
        "domain",
        F.col("window.start").alias("window_start"),
        "doc_count",
        "bytes_total",
        "lang_distinct_approx",
    )


_TIER_WIDTH = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}


def stream_rollup_cascade(
    pages_stream: DataFrame,
    tiers: tuple[str, ...] = ("1m", "1h"),
    watermark: str = "10 minutes",
    key_col: Column | None = None,
    time_col: str = "warc_ts",
    distinct_col: str | Column | None = None,
) -> DataFrame:
    """Fully-streaming tier cascade in ONE query — chained time-window
    aggregations (Spark >= 3.5 multiple stateful operators): each stage
    groups on ``window_time`` of the previous stage's windows, so its state
    merges PARTIALS, never raw rows (the shuffle into the hour tier carries
    one row per (domain, minute), into the day tier one per (domain, hour) —
    the batch cascade's two-stage merge kept entirely in streaming state).
    Each window emits exactly once when the watermark passes its end.

    Exact count / byte sums always chain. With ``distinct_col`` set, a
    built-in HLL sketch chains too: ``hll_sketch_agg`` in the first stage,
    ``hll_union_agg`` in every later one — one sketch of state per
    (domain, window), the same sketch the batch tiers build. Its
    ``sketches.hll_estimate`` equals the batch estimate over the same closed
    window. (The older ``approx_count_distinct`` path in
    ``stream_rollup_1m`` keeps no re-mergeable state across stages, which is
    why it never cascaded.)

    Returns the FINAL tier as (domain, window_start, doc_count, bytes_total
    [, hll]). Estimate distincts downstream with ``sketches.hll_estimate``.
    """
    if list(tiers) != ["1m", "1h", "1d"][: len(tiers)] or not tiers:
        raise ValueError(f"tiers must be a prefix of ('1m','1h','1d'), got {tiers}")
    key = key_col if key_col is not None else domain_of("url")
    src = pages_stream.withWatermark(time_col, watermark)
    aggs = [
        F.count(F.lit(1)).alias("doc_count"),
        F.sum(F.octet_length("html")).alias("bytes_total"),
    ]
    merges = [
        F.sum("doc_count").alias("doc_count"),
        F.sum("bytes_total").alias("bytes_total"),
    ]
    if distinct_col is not None:
        aggs.append(F.hll_sketch_agg(distinct_col).alias("hll"))
        merges.append(F.hll_union_agg("hll").alias("hll"))
    agg = src.groupBy(
        F.window(F.col(time_col), _TIER_WIDTH[tiers[0]]), key.alias("domain")
    ).agg(*aggs)
    for tier in tiers[1:]:
        agg = agg.groupBy(
            F.window(F.window_time("window"), _TIER_WIDTH[tier]), "domain"
        ).agg(*merges)
    return agg.select(
        "domain",
        F.col("window.start").alias("window_start"),
        "doc_count",
        "bytes_total",
        *(["hll"] if distinct_col is not None else []),
    )


def stream_rollup_cascade_ddsketch(
    pages_stream: DataFrame,
    tiers: tuple[str, ...] = ("1m", "1h"),
    watermark: str = "10 minutes",
    key_col: Column | None = None,
    time_col: str = "warc_ts",
    value_col: str | Column | None = None,
    gamma: float | None = None,
) -> DataFrame:
    """Percentile sketches THROUGH the fully-streaming tier cascade.

    Each value lands in exactly ONE log-boundary bucket
    (``ddsketch.dd_bucket``; the null bucket collects zeros/non-positives),
    so per-(window, domain, bucket) integer counts sum-merge through
    every chained stateful stage, and a final same-width re-window collapses
    bucket rows into the sparse sorted (b, cnt) array + zero count — the
    EXACT ``dd_sketch`` state the batch tier computes over the same closed
    window (the streamed sketch IS the batch sketch, not an approximation of
    it; tests assert array equality). doc/byte partial sums stay exact
    because the bucket groups partition the rows.

    Returns (domain, window_start, doc_count, bytes_total, dd, dd_zeros);
    estimate quantiles downstream with ``ddsketch.with_dd_quantiles`` (same
    gamma, guaranteed relative error (γ−1)/(γ+1)). State per
    (domain, window) is O(log_γ(max/min)) bucket rows — bounded regardless
    of row count, the property that lets percentiles stream at all.
    """
    from tstore_spark.operators.ddsketch import DEFAULT_GAMMA, dd_bucket

    if list(tiers) != ["1m", "1h", "1d"][: len(tiers)] or not tiers:
        raise ValueError(f"tiers must be a prefix of ('1m','1h','1d'), got {tiers}")
    g = DEFAULT_GAMMA if gamma is None else gamma
    key = key_col if key_col is not None else domain_of("url")
    val = (
        F.length("text")
        if value_col is None
        else (F.col(value_col) if isinstance(value_col, str) else value_col)
    )
    src = pages_stream.withWatermark(time_col, watermark)
    agg = src.groupBy(
        F.window(F.col(time_col), _TIER_WIDTH[tiers[0]]),
        key.alias("domain"),
        dd_bucket(val, g).alias("_b"),
    ).agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.sum(F.octet_length("html")).alias("bytes_total"),
    )
    for tier in tiers[1:]:
        agg = agg.groupBy(
            F.window(F.window_time("window"), _TIER_WIDTH[tier]), "domain", "_b"
        ).agg(
            F.sum("doc_count").alias("doc_count"),
            F.sum("bytes_total").alias("bytes_total"),
        )
    agg = agg.groupBy(
        F.window(F.window_time("window"), _TIER_WIDTH[tiers[-1]]), "domain"
    ).agg(
        F.sum("doc_count").alias("doc_count"),
        F.sum("bytes_total").alias("bytes_total"),
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("_b").isNotNull(),
                    F.struct(F.col("_b").alias("b"), F.col("doc_count").alias("cnt")),
                )
            )
        ).alias("dd"),
        F.coalesce(
            F.sum(F.when(F.col("_b").isNull(), F.col("doc_count"))), F.lit(0)
        ).alias("dd_zeros"),
    )
    return agg.select(
        "domain",
        F.col("window.start").alias("window_start"),
        "doc_count",
        "bytes_total",
        "dd",
        "dd_zeros",
    )


def stream_rollup_cascade_cms(
    pages_stream: DataFrame,
    tiers: tuple[str, ...] = ("1m", "1h"),
    watermark: str = "10 minutes",
    key_col: Column | None = None,
    time_col: str = "warc_ts",
    item_col: str = "lang",
    d: int | None = None,
    w: int | None = None,
) -> DataFrame:
    """Frequency (count-min) sketches THROUGH the streaming tier cascade —
    the last of the four sketch families to stream (exact counts, HLL
    distincts, DDSketch percentiles already do).

    Each occurrence adds 1 to its ``d`` fixed cells (a stateless explode
    BEFORE the first stateful stage), so per-(window, domain, row, pos)
    integer cell sums merge through every chained window agg; a closed
    window's cell table IS the batch ``cms_from_items`` sketch
    register-exactly (integer sums commute — the same contract as the
    batch tier cascade). No final collapse is needed: the CMS's natural
    DataFrame shape is already one row per cell.

    Returns (domain, window_start, cms_row, cms_pos, cms_cnt) — feed to
    ``countmin.cms_estimate`` (same d/w). State per (domain, window) is at
    most d·w cells regardless of row count.
    """
    from tstore_spark.operators.countmin import DEFAULT_D, DEFAULT_W, _cells

    if list(tiers) != ["1m", "1h", "1d"][: len(tiers)] or not tiers:
        raise ValueError(f"tiers must be a prefix of ('1m','1h','1d'), got {tiers}")
    dd = DEFAULT_D if d is None else d
    ww = DEFAULT_W if w is None else w
    key = key_col if key_col is not None else domain_of("url")
    src = pages_stream.withWatermark(time_col, watermark)
    row, pos = _cells(F.col(item_col), dd, ww)
    cells = src.select(
        F.col(time_col), key.alias("domain"), F.col(item_col), row
    ).select(
        F.col(time_col), "domain", "cms_row", pos
    )
    agg = cells.groupBy(
        F.window(F.col(time_col), _TIER_WIDTH[tiers[0]]), "domain", "cms_row", "cms_pos"
    ).agg(F.count(F.lit(1)).cast("long").alias("cms_cnt"))
    for tier in tiers[1:]:
        agg = agg.groupBy(
            F.window(F.window_time("window"), _TIER_WIDTH[tier]),
            "domain",
            "cms_row",
            "cms_pos",
        ).agg(F.sum("cms_cnt").cast("long").alias("cms_cnt"))
    return agg.select(
        "domain",
        F.col("window.start").alias("window_start"),
        "cms_row",
        "cms_pos",
        "cms_cnt",
    )


def stream_rollup_cascade_kmins(
    pages_stream: DataFrame,
    tiers: tuple[str, ...] = ("1m", "1h"),
    watermark: str = "10 minutes",
    key_col: Column | None = None,
    time_col: str = "warc_ts",
    item_col: str = "lang",
    k: int = 64,
    seed: int = 0,
) -> DataFrame:
    """k-mins (one-permutation MinHash) sketches THROUGH the streaming tier
    cascade — the fifth sketch family to stream (counts, HLL, DDSketch, CMS
    already do), and the one that carries SET-INTERSECTION/Jaccard power
    downstream (operators/kmv.py): two closed windows' cell tables compare
    by bucket-minima collisions.

    Bottom-k (``kmv_sketch``) is not a partial aggregate, but the per-bucket
    minimum is — so per-(window, domain, bucket) ``min(hash)`` merges
    through every chained window agg as an ordinary ``min`` aggregate;
    a closed window's cell table equals the batch ``kmins_cells`` over the
    same rows register-exactly. State per (domain, window) is ≤ k cells.

    Returns (domain, window_start, kmins_bucket, min_hash) — feed to
    ``kmv.kmins_estimate`` / ``kmv.kmins_jaccard`` (same k/seed).
    """
    if list(tiers) != ["1m", "1h", "1d"][: len(tiers)] or not tiers:
        raise ValueError(f"tiers must be a prefix of ('1m','1h','1d'), got {tiers}")
    key = key_col if key_col is not None else domain_of("url")
    src = pages_stream.withWatermark(time_col, watermark)
    h = F.xxhash64(F.col(item_col), F.lit(seed))
    u = (h.cast("double") / F.lit(float(2**64))) + F.lit(0.5)
    cells = src.select(
        F.col(time_col),
        key.alias("domain"),
        F.floor(u * k).cast("int").alias("kmins_bucket"),
        h.alias("_h"),
    )
    agg = cells.groupBy(
        F.window(F.col(time_col), _TIER_WIDTH[tiers[0]]), "domain", "kmins_bucket"
    ).agg(F.min("_h").alias("min_hash"))
    for tier in tiers[1:]:
        agg = agg.groupBy(
            F.window(F.window_time("window"), _TIER_WIDTH[tier]),
            "domain",
            "kmins_bucket",
        ).agg(F.min("min_hash").alias("min_hash"))
    return agg.select(
        "domain",
        F.col("window.start").alias("window_start"),
        "kmins_bucket",
        "min_hash",
    )


def stream_rollup_cascade_lebuckets(
    pages_stream: DataFrame,
    bounds,
    tiers: tuple[str, ...] = ("1m", "1h"),
    watermark: str = "10 minutes",
    key_col: Column | None = None,
    time_col: str = "warc_ts",
    value_col: str | Column | None = None,
) -> DataFrame:
    """Prometheus le-bucket counters THROUGH the streaming tier cascade —
    the sixth sketch family to stream (counts, HLL, DDSketch, CMS, k-mins
    already do) and the simplest: cumulative bucket counters are plain
    integer sums per FIXED bound, so they chain through every stateful
    stage exactly like ``doc_count`` — no register/bucket grouping rows at
    all, just ``len(bounds) + 1`` extra sum columns riding the same state
    row. A closed window's counters equal the batch
    ``promhist.le_bucket_counts`` over the same rows EXACTLY (integer sums
    commute); evaluate quantiles downstream with
    ``promhist.quantile_expr`` (PromQL interpolation semantics).

    Returns (domain, window_start, doc_count, bytes_total, le_0..le_{k-1},
    n_total). State per (domain, window) is ONE row regardless of bounds
    count — the cheapest streaming-percentile carrier; trade fixed bounds
    (chosen up front) for DDSketch's relative-error adaptivity.
    """
    from tstore_spark.operators.promhist import _check_bounds, bucket_count_columns

    if list(tiers) != ["1m", "1h", "1d"][: len(tiers)] or not tiers:
        raise ValueError(f"tiers must be a prefix of ('1m','1h','1d'), got {tiers}")
    bs = _check_bounds(bounds)
    key = key_col if key_col is not None else domain_of("url")
    val = (
        F.length("text")
        if value_col is None
        else (F.col(value_col) if isinstance(value_col, str) else value_col)
    )
    src = pages_stream.withWatermark(time_col, watermark)
    agg = src.groupBy(
        F.window(F.col(time_col), _TIER_WIDTH[tiers[0]]), key.alias("domain")
    ).agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.sum(F.octet_length("html")).alias("bytes_total"),
        *bucket_count_columns(val, bs),
        F.count(val).alias("n_total"),
    )
    for tier in tiers[1:]:
        agg = agg.groupBy(
            F.window(F.window_time("window"), _TIER_WIDTH[tier]), "domain"
        ).agg(
            F.sum("doc_count").alias("doc_count"),
            F.sum("bytes_total").alias("bytes_total"),
            *[F.sum(f"le_{i}").alias(f"le_{i}") for i in range(len(bs))],
            F.sum("n_total").alias("n_total"),
        )
    return agg.select(
        "domain",
        F.col("window.start").alias("window_start"),
        "doc_count",
        "bytes_total",
        *[f"le_{i}" for i in range(len(bs))],
        "n_total",
    )


def stream_rollup_cascade_1h(
    pages_stream: DataFrame,
    watermark: str = "10 minutes",
    key_col: Column | None = None,
    time_col: str = "warc_ts",
) -> DataFrame:
    """The two-tier (1m -> 1h) special case of ``stream_rollup_cascade``."""
    return stream_rollup_cascade(
        pages_stream, ("1m", "1h"), watermark=watermark,
        key_col=key_col, time_col=time_col,
    )


def write_stream_tier(
    tier_stream: DataFrame,
    path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Append the streaming 1m tier to parquet (the batch cascade's input).

    Returns the StreamingQuery; callers ``awaitTermination()``. The
    checkpoint directory carries offsets + state — restart-resumable, the
    streaming counterpart of the batch pipeline's lineage table.
    """
    writer = (
        tier_stream.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_pages_stream(spark, directory: str, schema, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source pages stream: each new parquet file in `directory` is a
    micro-batch (the WARC-drop ingestion pattern)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(directory)
