"""Per-file Bloom index — file-level data skipping for POINT lookups.

Zone maps (``sources/zonemaps.py``) prune files by [min, max] RANGES, which
only bites when the layout is range-clustered on the probed column. The
complementary gap is the equality probe on a HASH-clustered layout — "which
files can contain url = X / user_id = N?" — where every file's min/max spans
the whole domain and zone maps keep everything. Iceberg ships this as Puffin
blob Bloom filters; Delta as the Bloom file index. This module is that
manifest for the plain-Parquet layout:

* ``bloom_file_index`` — ONE distributed, column-pruned scan of the indexed
  column builds an m-bit Bloom bitset PER FILE, entirely JVM-side: the k bit
  positions are ``pmod(xxhash64(col, i), m)`` (the exact hash family of
  ``operators/bloom.py``), bits aggregate as ``bit_or`` into 64-bit words
  keyed by (file, word) — an integer, order-independent, map-side-combined
  reduction, bit-identical at any parallelism. No Python touches a row.
* ``prune_paths_point`` — a file survives iff ANY probed value finds all k
  of its bits set (or the file has no index row: conservative keep). The
  filter runs distributed over the manifest; only surviving paths reach the
  driver (the zonemaps ``prune_paths`` contract).
* ``pruned_point_read`` — read only surviving files, re-apply the exact
  ``IN`` predicate; row-identical to the full scan. The one-sided Bloom
  guarantee (no false negatives) makes pruning safe: a file holding the
  value ALWAYS survives; false positives only cost a wasted file read.

Sizing: ~10 bits per distinct item per file gives ~1% false-file rate at
k = 5 (same classic bound as ``operators/bloom.py``); the default
m = 2^17 bits (16 KiB/file) covers ~13k distinct items/file at 1%. At 100 TB
/ 10^6 files the manifest is a 16 GB TABLE — which is exactly why the probe
filter stays distributed and only survivors ship to the driver.

NULLs: rows with a NULL indexed value are skipped at build (an equality
probe can never match NULL), so ``n_items`` counts non-null rows; an
all-NULL file gets a NULL-words manifest row and is conservatively kept.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tstore_spark.plans.scope import op_scope, scoped_cache
from tstore_spark.sources.zonemaps import _list_parquet

DEFAULT_M_BITS = 1 << 17
DEFAULT_K = 5


def bloom_file_index(
    spark: SparkSession,
    root: str,
    column: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    materialize: bool = True,
) -> DataFrame:
    """One row per file: ``path string, n_items long, words array<long>``
    (m/64 longs; NULL words for a file with no non-null indexed values —
    conservatively kept by the probe).

    One column-pruned scan; two map-side-combined shuffles keyed by
    (file, word) then file — per-file state is bounded at m/64 words no
    matter how many rows the file holds. ``n_items`` is exact (every row
    emits exactly k cells, duplicates included, so sum(cells)/k = rows).
    A ``materialize``d manifest stays warm until the thread's next top-level
    operator call, or until the first one after an enclosing ``op_scope``
    exits (plans/scope.py)."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    n_words = m_bits // 64
    all_paths = _list_parquet(root)
    if not all_paths:
        raise ValueError(f"no parquet files under {root}")

    src = (
        spark.read.parquet(root)
        .select(F.input_file_name().alias("path"), F.col(column).alias("_item"))
        .where(F.col("_item").isNotNull())
    )
    # explode the EXPRESSION (k cheap scalar hashes), never a carried array
    # column — the CLAUDE.md InferFiltersFromGenerate rule.
    positions = F.array(
        *[F.pmod(F.xxhash64(F.col("_item"), F.lit(i)), F.lit(m_bits)) for i in range(k)]
    )
    cells = src.select("path", F.explode(positions).alias("_pos")).select(
        "path",
        F.expr("_pos div 64").alias("word_idx"),
        F.expr("shiftleft(1L, CAST(pmod(_pos, 64) AS INT))").alias("_mask"),
    )
    per_file = (
        cells.groupBy("path", "word_idx")
        .agg(F.bit_or("_mask").alias("bits"), F.count(F.lit(1)).alias("_cells"))
        .groupBy("path")
        .agg(
            (F.sum("_cells") / k).cast("long").alias("n_items"),
            F.map_from_entries(F.collect_list(F.struct("word_idx", "bits"))).alias("_m"),
        )
        .select(
            "path",
            "n_items",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(F.element_at("_m", i.cast("long")), F.lit(0)),
            ).alias("words"),
        )
    )
    # left-join the real listing so files with zero indexed rows still get a
    # manifest row (NULL words => always kept): the index can never silently
    # drop a file it did not see values from.
    listing = spark.createDataFrame([(p,) for p in all_paths], "path string")
    # input_file_name() yields a file: URI; normalize both sides to the
    # filesystem path so the join key matches the listing.
    per_file = per_file.withColumn("path", F.regexp_replace("path", "^file:(//)?", ""))
    idx = listing.join(per_file, "path", "left").select(
        "path", F.coalesce("n_items", F.lit(0)).alias("n_items"), "words"
    )
    if materialize:
        with op_scope():
            idx = scoped_cache(idx)
            idx.count()
    return idx


def bloom_point_keep(
    values: list,
    cast_to: str | None = None,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> Column:
    """Keep-predicate over a manifest row: NULL words, or ANY value probes
    all k bits set. ``cast_to`` must name the indexed column's Spark type
    when the Python literal would not map onto it exactly — xxhash64 of an
    INT and a BIGINT differ, so the probe must hash the STORED type."""
    if not values:
        return F.col("words").isNull()
    per_value = []
    for v in values:
        lit = F.lit(v).cast(cast_to) if cast_to else F.lit(v)
        tests = []
        for i in range(k):
            pos = F.pmod(F.xxhash64(lit, F.lit(i)), F.lit(m_bits))
            word = F.element_at("words", (pos / 64).cast("int") + F.lit(1))
            # F.shiftleft's numBits is a Python int in the DataFrame API; the
            # SQL function takes an expression — call it directly.
            mask = F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.pmod(pos, F.lit(64)).cast("int")
            )
            tests.append(word.bitwiseAND(mask) != 0)
        per_value.append(reduce(lambda a, b: a & b, tests))
    return F.col("words").isNull() | reduce(lambda a, b: a | b, per_value)


def prune_paths_point(
    index: DataFrame,
    values: list,
    cast_to: str | None = None,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> tuple[list[str], int]:
    """Paths that may contain ``column IN (values)``. Conservative: files
    with NULL words are kept; a file holding a probed value always survives
    (Bloom's no-false-negative side). Distributed filter; only surviving
    paths ship to the driver (zonemaps.prune_paths contract)."""
    keep = bloom_point_keep(values, cast_to=cast_to, m_bits=m_bits, k=k)
    row = index.agg(
        F.count(F.lit(1)).alias("_total"),
        F.sort_array(F.collect_list(F.when(keep, F.col("path")))).alias("_paths"),
    ).head()
    return list(row["_paths"]), int(row["_total"])


def pruned_point_read(
    spark: SparkSession,
    root: str,
    index: DataFrame,
    column: str,
    values: list,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> tuple[DataFrame, dict]:
    """Scan only the files the Bloom index cannot rule out, then re-apply the
    exact ``IN`` predicate — rows identical to the full-scan filter; only the
    planned file set shrinks. Returns (df, skipping report)."""
    dtype = spark.read.parquet(root).schema[column].dataType.simpleString()
    paths, total = prune_paths_point(index, values, cast_to=dtype, m_bits=m_bits, k=k)
    report = {"files_total": total, "files_read": len(paths)}
    if not paths:
        df = spark.read.option("basePath", root).parquet(root).limit(0)
    else:
        df = spark.read.option("basePath", root).parquet(*paths)
    casted = [F.lit(v).cast(dtype) for v in values]
    return df.where(F.col(column).isin(*casted)), report
