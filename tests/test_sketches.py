"""Built-in HLL sketches through ``sketches.hll_estimate``: accuracy, merge
equals direct, partition-layout invariance, and one owner of the estimate
rule."""

from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tstore_spark.operators.sketches import hll_estimate

P = 10  # lgK 10: 1024 registers, ~3.2% stderr
REPO = Path(__file__).resolve().parents[1]


def _data(n=30_000) -> pd.DataFrame:
    i = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "g": np.where(i % 3 == 0, "a", "b"),
            "v": (i * 2654435761 % 7919).astype(str),  # ~7919 distinct values
        }
    )


@pytest.fixture(scope="module")
def sdf(spark):
    return spark.createDataFrame(_data()).cache()


def _estimates(df, keys=("g",)) -> dict:
    est = df.groupBy(*keys).agg(hll_estimate(F.hll_sketch_agg("v", P)).alias("est"))
    return {r["g"]: r["est"] for r in est.collect()}


def test_estimate_within_error(spark, sdf):
    got = _estimates(sdf)
    truth = {r["g"]: r["n"] for r in sdf.groupBy("g").agg(F.countDistinct("v").alias("n")).collect()}
    assert set(got) == set(truth)
    for g, est in got.items():
        assert abs(est - truth[g]) / truth[g] < 0.15, (g, est, truth[g])


def test_merge_equals_direct(spark, sdf):
    # sketch per (g, shard) then union across shards == sketch per g directly
    sharded = sdf.withColumn("shard", F.pmod(F.xxhash64("v"), F.lit(7)))
    per_shard = sharded.groupBy("g", "shard").agg(F.hll_sketch_agg("v", P).alias("hll"))
    merged = per_shard.groupBy("g").agg(hll_estimate(F.hll_union_agg("hll")).alias("est"))
    m = {r["g"]: r["est"] for r in merged.collect()}
    assert m == _estimates(sdf)  # exactly equal estimates, not just close


def test_parallelism_invariance(spark, sdf):
    assert _estimates(sdf) == _estimates(sdf.repartition(11))


def test_estimate_layout_invariant_at_100k(spark):
    """Four groups of 100k distinct values each under three partition
    layouts: ``hll_estimate`` is exactly equal across them, while the raw
    ``hll_sketch_estimate`` (HIP estimator for single-partition sketches)
    moves with the layout — the reason the self-union exists."""
    rows = spark.range(400_000).select(
        (F.col("id") % 4).alias("g"), F.col("id").alias("v")
    )
    layouts = [rows.coalesce(1), rows.repartition(16), rows.repartition(16, "g")]
    canon, raw = [], []
    for df in layouts:
        out = df.groupBy("g").agg(F.hll_sketch_agg("v").alias("hll")).select(
            "g",
            hll_estimate("hll").alias("canon"),
            F.hll_sketch_estimate("hll").alias("raw"),
        )
        got = out.collect()
        canon.append({r["g"]: r["canon"] for r in got})
        raw.append({r["g"]: r["raw"] for r in got})
    assert canon[0] == canon[1] == canon[2]
    assert all(abs(e - 100_000) < 0.05 * 100_000 for e in canon[0].values())
    assert not (raw[0] == raw[1] == raw[2]), raw


def test_estimate_rule_has_one_owner():
    """Ratchet: only operators/sketches.py may call the raw estimator, so
    every HLL estimate in the engine, gate and tools is layout-independent."""
    owner = REPO / "tstore_spark" / "operators" / "sketches.py"
    files = (
        sorted((REPO / "tstore_spark").rglob("*.py"))
        + sorted((REPO / "tools").rglob("*.py"))
        + [REPO / "__spark_entry__.py"]
    )
    bad = [
        str(f.relative_to(REPO))
        for f in files
        if f != owner and "hll_sketch_estimate" in f.read_text()
    ]
    assert not bad, f"raw hll_sketch_estimate outside operators/sketches.py: {bad}"
